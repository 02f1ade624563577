package graft

import graft.ext.{Checkpoints, Ivm}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental view maintenance: the maintained aggregate must equal
  * a from-scratch recompute after any correct delete/insert feed —
  * including group birth, group death, and update-as-delete+insert —
  * and the feed contracts must fail loudly, never corrupt. The
  * recompute twins here are SIGNED-COUNT (multiset) derivations
  * computed driver-side with no Ivm code, so they stay exact even if
  * a fixture carries duplicate rows (a set-semantics `except` twin
  * would not).
  */
class IvmSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long)] =
    df.select("k", "cnt", "sum_v").as[(String, Long, Long)]
      .collect().sortBy(_._1).toSeq

  /** Independent multiset recompute: fold the signed log into per-row
    * multiplicities (refusing negatives), then aggregate per group. */
  private def recomputeSigned(rows: Seq[(String, Long, Int)]): Seq[(String, Long, Long)] = {
    val m = scala.collection.mutable.LinkedHashMap[(String, Long), Long]()
    rows.foreach { case (k, v, op) =>
      m((k, v)) = m.getOrElse((k, v), 0L) + op }
    assert(m.values.forall(_ >= 0L), s"twin saw a negative multiplicity: $m")
    m.filter(_._2 > 0L).toSeq.groupBy(_._1._1).map { case (k, pairs) =>
      (k, pairs.map(_._2).sum, pairs.map(p => p._1._2 * p._2).sum)
    }.toSeq.sortBy(_._1)
  }

  test("inParallel returns both results and propagates either side's failure unchanged") {
    assert(Checkpoints.inParallel(1 + 1, "x" * 2) === ((2, "xx")))
    // the b side runs in a Future: its exception must surface as-is,
    // not wrapped — the loud-contract messages (phantom deletes, ±1
    // refusals) are part of the maintenance verbs' API
    val eb = intercept[IllegalArgumentException] {
      Checkpoints.inParallel({ Thread.sleep(20); 1 }, require(false, "boom-b"))
    }
    assert(eb.getMessage.contains("boom-b"))
    val ea = intercept[IllegalArgumentException] {
      Checkpoints.inParallel(require(false, "boom-a"), 42)
    }
    assert(ea.getMessage.contains("boom-a"))
  }

  test("maintain ≡ recompute across group birth, death, and updates") {
    val baseRows = Seq(("a", 1L), ("a", 2L), ("b", 10L), ("b", 20L), ("c", 5L))
    val base = baseRows.toDF("k", "v")
    val state0 = Ivm.aggregateOf(base, Seq("k"), Seq("v"))
    assert(canon(state0) === Seq(("a", 2L, 3L), ("b", 2L, 30L), ("c", 1L, 5L)))
    // one feed: kill group c entirely, update one b row (delete+insert
    // pair), birth group d
    val feed = Seq(
      ("c", 5L, -1),            // death: count reaches 0, row vanishes
      ("b", 10L, -1), ("b", 11L, 1), // update as delete+insert
      ("d", 7L, 1), ("d", 8L, 1)     // birth
    )
    val state1 = Ivm.maintainAgg(state0, feed.toDF("k", "v", "op"),
      Seq("k"), Seq("v"))
    val log1 = baseRows.map(r => (r._1, r._2, 1)) ++ feed
    assert(canon(state1) === recomputeSigned(log1))
    assert(!canon(state1).exists(_._1 == "c"), "dead group survived")
    // maintenance composes: a second feed over the maintained state
    // still equals the recompute over both feeds applied
    val feed2 = Seq(("d", 7L, -1), ("a", 100L, 1))
    val state2 = Ivm.maintainAgg(state1, feed2.toDF("k", "v", "op"),
      Seq("k"), Seq("v"))
    assert(canon(state2) === recomputeSigned(log1 ++ feed2))
    // loud contracts: a non-±1 op, and a delete the view never saw
    val badOp = intercept[IllegalArgumentException] {
      Ivm.maintainAgg(state2, Seq(("a", 1L, 2)).toDF("k", "v", "op"),
        Seq("k"), Seq("v"))
    }
    assert(badOp.getMessage.contains("+1"))
    val phantom = intercept[IllegalArgumentException] {
      Ivm.maintainAgg(state2,
        Seq(("zz", 1L, -1), ("zz", 2L, -1)).toDF("k", "v", "op"),
        Seq("k"), Seq("v"))
    }
    assert(phantom.getMessage.contains("negative"))
    // a NULL op is refused too — sum(op) would silently drop the row,
    // diverging the view from its log with no error
    val nullOp = intercept[IllegalArgumentException] {
      Ivm.maintainAgg(state2,
        Seq(("a", 1L, Option.empty[Int])).toDF("k", "v", "op"),
        Seq("k"), Seq("v"))
    }
    assert(nullOp.getMessage.contains("null"))
    // a malformed state frame is refused by name
    intercept[IllegalArgumentException] {
      Ivm.maintainAgg(base, Seq(("a", 1L, 1)).toDF("k", "v", "op"),
        Seq("k"), Seq("v"))
    }
    // maintaining with a SUBSET of the view's sum columns would
    // silently drop the others from the state — refused instead
    val two = Ivm.aggregateOf(
      Seq(("a", 1L, 2L)).toDF("k", "v", "w"), Seq("k"), Seq("v", "w"))
    intercept[IllegalArgumentException] {
      Ivm.maintainAgg(two, Seq(("a", 1L, 1)).toDF("k", "v", "op"),
        Seq("k"), Seq("v"))
    }
    // a feed whose sum column would retype the state (double onto a
    // long-sum view) is refused, not silently coerced
    val retype = intercept[IllegalArgumentException] {
      Ivm.maintainAgg(state2, Seq(("a", 1.5, 1)).toDF("k", "v", "op"),
        Seq("k"), Seq("v"))
    }
    assert(retype.getMessage.contains("retype"))
  }

  test("decimal sum columns stay maintainable: scale-stable precision widening is not a retype") {
    // Spark types sum(c) and sum(c*op) over the SAME decimal(10,2)
    // column at different precisions (p+10 vs p+21); the type guard
    // must accept that (scale is the exactness invariant) or every
    // decimal-measured view becomes unmaintainable
    val base = Seq(("a", "1.50"), ("a", "2.25")).toDF("k", "raw")
      .select(col("k"), col("raw").cast("decimal(10,2)").as("v"))
    val st0 = Ivm.aggregateOf(base, Seq("k"), Seq("v"))
    val feed = Seq(("a", "0.25", 1), ("b", "9.75", 1)).toDF("k", "raw", "op")
      .select(col("k"), col("raw").cast("decimal(10,2)").as("v"), col("op"))
    val st1 = Ivm.maintainAgg(st0, feed, Seq("k"), Seq("v"))
    assert(st1.orderBy("k").collect().map(r =>
        (r.getString(0), r.getLong(1), r.getDecimal(2).toPlainString)).toSeq
      === Seq(("a", 3L, "4.00"), ("b", 1L, "9.75")))
    // a DIFFERENT scale would silently shift the arithmetic — refused
    val badScale = intercept[IllegalArgumentException] {
      Ivm.maintainAgg(st1,
        feed.select(col("k"), col("v").cast("decimal(10,3)").as("v"),
          col("op")),
        Seq("k"), Seq("v"))
    }
    assert(badScale.getMessage.contains("retype"))
  }

  private def canonJoin(df: org.apache.spark.sql.DataFrame): Seq[(String, String, Long, Long)] =
    df.select("prio", "f", "cnt", "sum_v").as[(String, String, Long, Long)]
      .collect().sorted.toSeq

  private def directJoinAgg(a: org.apache.spark.sql.DataFrame,
                            b: org.apache.spark.sql.DataFrame) =
    a.join(b, "id").groupBy("prio", "f")
      .agg(count(lit(1)).as("cnt"), sum("v").as("sum_v"))

  test("maintainJoinAgg ≡ join recompute under mixed two-side feeds, incl. group death and duplicates") {
    val a = Seq((1L, "p1"), (2L, "p1"), (3L, "p2")).toDF("id", "prio")
    val b = Seq((1L, "x", 10L), (1L, "y", 20L), (2L, "x", 5L),
      (4L, "x", 9L)).toDF("id", "f", "v")
    // the measure side is a PARTIAL state: v pre-aggregates to sum_v
    // per (id, f) group — group-sized, never fact-sized
    val a0 = Ivm.aggregateOf(a, Seq("id", "prio"), Nil)
    val b0 = Ivm.aggregateOf(b, Seq("id", "f"), Seq("v"))
    val view0 = Ivm.aggregateOfJoin(a0, b0, Seq("id"),
      Seq("prio", "f"), Seq("v"))
    assert(canonJoin(view0) === canonJoin(directJoinAgg(a, b)))
    // mixed feed: delete a(2,p1) — its joined group (p1,x) loses the
    // id=2 contribution; insert a(4,p3) — the dangling b(4,x,9) row
    // starts matching (group birth); on B delete b(1,y,20) — group
    // (p1,y) DIES — and insert a DUPLICATE copy of the live (2,x,5)
    // row (multiset semantics: multiplicity 2)
    val aF = Seq((2L, "p1", -1), (4L, "p3", 1)).toDF("id", "prio", "op")
    val bF = Seq((1L, "y", 20L, -1), (3L, "z", 7L, 1), (2L, "x", 5L, 1))
      .toDF("id", "f", "v", "op")
    val (v1, a1, b1) = Ivm.maintainJoinAgg(view0, a0, b0, aF, bF,
      Seq("id"), Seq("prio", "f"), Seq("v"))
    val aApplied = Seq((1L, "p1"), (3L, "p2"), (4L, "p3")).toDF("id", "prio")
    val bApplied = Seq((1L, "x", 10L), (2L, "x", 5L), (2L, "x", 5L),
      (4L, "x", 9L), (3L, "z", 7L)).toDF("id", "f", "v")
    assert(canonJoin(v1) === canonJoin(directJoinAgg(aApplied, bApplied)))
    assert(!canonJoin(v1).exists(_._2 == "y"), "dead joined group survived")
    // the maintained side states equal their recompute — including the
    // duplicated b row at multiplicity 2
    assert(b1.filter(col("id") === 2L).select("cnt").as[Long].collect()
      .toSeq === Seq(2L))
    // second round: A-only feed (empty B feed) — the reborn a(2,p1)
    // re-matches BOTH copies of (2,x,5) through the maintained b state
    val aF2 = Seq((2L, "p1", 1)).toDF("id", "prio", "op")
    val (v2, _, _) = Ivm.maintainJoinAgg(v1, a1, b1, aF2,
      bF.limit(0), Seq("id"), Seq("prio", "f"), Seq("v"))
    val aApplied2 = aApplied.unionByName(Seq((2L, "p1")).toDF("id", "prio"))
    assert(canonJoin(v2) === canonJoin(directJoinAgg(aApplied2, bApplied)))
    assert(canonJoin(v2).find(t => t._1 == "p1" && t._2 == "x")
      .exists(t => t._3 === 3L && t._4 === 20L))
  }

  test("join side states are group-sized, not fact-sized: near-unique measures pre-aggregate") {
    // 1200 fact rows whose measure is near-unique per row — the
    // raw-multiset representation would hold ~1200 rows (the fact
    // re-materialized); the partial form must hold EXACTLY the
    // distinct (joinKey, groupKey) tuples: 3 ids × 2 flags = 6
    val b = (0L until 1200L).map(i => (i % 3 + 1, s"f${i % 2}", i * 7 + 1))
      .toDF("id", "f", "v")
    val bS = Ivm.aggregateOf(b, Seq("id", "f"), Seq("v"))
      .localCheckpoint(true)
    assert(bS.count() === b.select("id", "f").distinct().count())
    val a = Seq((1L, "p1"), (2L, "p2"), (3L, "p1")).toDF("id", "prio")
    val aS = Ivm.aggregateOf(a, Seq("id", "prio"), Nil)
    val view0 = Ivm.aggregateOfJoin(aS, bS, Seq("id"),
      Seq("prio", "f"), Seq("v"))
    assert(canonJoin(view0) === canonJoin(directJoinAgg(a, b)))
    // maintenance through the compressed state stays exact: delete a
    // specific fact row (its raw v rides the feed, folding into the
    // group partial) and re-point a dimension row
    val bF = Seq((1L, "f0", 1L, -1)).toDF("id", "f", "v", "op")
    val aF = Seq((2L, "p2", -1), (2L, "p9", 1)).toDF("id", "prio", "op")
    val (v1, a1, b1) = Ivm.maintainJoinAgg(view0, aS, bS, aF, bF,
      Seq("id"), Seq("prio", "f"), Seq("v"))
    assert(b1.count() === 6L, "maintenance must not inflate the state")
    val aApplied = Seq((1L, "p1"), (2L, "p9"), (3L, "p1")).toDF("id", "prio")
    val bApplied = b.filter(!(col("id") === 1L && col("f") === "f0" &&
      col("v") === 1L))
    assert(canonJoin(v1) === canonJoin(directJoinAgg(aApplied, bApplied)))
    assert(a1.count() === 3L)
  }

  test("maintainJoinAgg contracts fail loudly: ambiguous columns, phantom side deletes, malformed view") {
    val a = Seq((1L, "p1", 99L)).toDF("id", "prio", "v") // collides on v
    val b = Seq((1L, "x", 10L)).toDF("id", "f", "v")
    val aAmb = Ivm.multisetOf(a, Seq("id", "prio", "v"))
    val bOk = Ivm.aggregateOf(b, Seq("id", "f"), Seq("v"))
    val amb = intercept[IllegalArgumentException] {
      Ivm.aggregateOfJoin(aAmb, bOk, Seq("id"), Seq("prio", "f"), Seq("v"))
    }
    assert(amb.getMessage.contains("rename"))
    val aOk = Ivm.multisetOf(a.select("id", "prio"), Seq("id", "prio"))
    // a sum column that rides RAW in a multiset key (the fact-sized
    // anti-pattern) is refused by name — the side must pre-aggregate
    val rawSum = intercept[IllegalArgumentException] {
      Ivm.aggregateOfJoin(aOk, Ivm.multisetOf(b, Seq("id", "f", "v")),
        Seq("id"), Seq("prio", "f"), Seq("v"))
    }
    assert(rawSum.getMessage.contains("pre-aggregated"))
    // a key named like an aggregate column would silently mis-shape
    // every later pass — refused at aggregation time
    val badName = intercept[IllegalArgumentException] {
      Ivm.aggregateOf(b.withColumnRenamed("v", "sum_v"),
        Seq("id", "sum_v"), Nil)
    }
    assert(badName.getMessage.contains("namespace"))
    val view = Ivm.aggregateOfJoin(aOk, bOk, Seq("id"),
      Seq("prio", "f"), Seq("v"))
    // a B-side delete of a row the state never held fails in the
    // SIDE maintenance, before the view is touched
    val phantom = intercept[IllegalArgumentException] {
      Ivm.maintainJoinAgg(view, aOk, bOk,
        Seq((1L, "p1", 1)).toDF("id", "prio", "op").limit(0),
        Seq((9L, "q", 1L, -1)).toDF("id", "f", "v", "op"),
        Seq("id"), Seq("prio", "f"), Seq("v"))
    }
    assert(phantom.getMessage.contains("negative"))
    // a view frame with extra columns would silently lose them in the
    // merge — refused by shape
    val shape = intercept[IllegalArgumentException] {
      Ivm.maintainJoinAgg(view.withColumn("extra", lit(1)), aOk, bOk,
        Seq((1L, "p1", 1)).toDF("id", "prio", "op"),
        Seq((1L, "x", 1L, 1)).toDF("id", "f", "v", "op"),
        Seq("id"), Seq("prio", "f"), Seq("v"))
    }
    assert(shape.getMessage.contains("aggregateOfJoin"))
    // a join key missing from one side is named loudly
    val jk = intercept[IllegalArgumentException] {
      Ivm.aggregateOfJoin(aOk, bOk, Seq("prio"), Seq("f"), Seq("v"))
    }
    assert(jk.getMessage.contains("BOTH side states"))
  }

  test("streaming CDC feed: foreachBatch maintenance tracks the replayed log after every micro-batch") {
    withTempDir("graft_ivm_") { dir =>
      val stateDir = s"$dir/state"
      val baseRows = Seq(("a", 1L), ("b", 2L))
      Ivm.aggregateOf(baseRows.toDF("k", "v"), Seq("k"), Seq("v"))
        .write.mode("overwrite").parquet(stateDir)
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val in = MemoryStream[(String, Long, Int)]
      val q = in.toDF().toDF("k", "v", "op")
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          // read → maintain → eager pin → overwrite: the state dir is
          // both source and sink, so the new state must materialize
          // (localCheckpoint) before the overwrite destroys its input
          Ivm.maintainAgg(spark.read.parquet(stateDir),
              batch, Seq("k"), Seq("v"))
            .localCheckpoint(true)
            .write.mode("overwrite").parquet(stateDir)
          ()
        }.start()
      try {
        val log = scala.collection.mutable.ArrayBuffer[(String, Long, Int)]()
        log ++= baseRows.map(r => (r._1, r._2, 1))
        val batches = Seq(
          Seq(("a", 3L, 1), ("c", 9L, 1)),
          Seq(("b", 2L, -1), ("c", 1L, 1)),   // group b dies
          Seq(("b", 5L, 1), ("a", 1L, -1)))   // b reborn, a shrinks
        for ((rows, i) <- batches.zipWithIndex) {
          in.addData(rows)
          q.processAllAvailable()
          log ++= rows
          assert(canon(spark.read.parquet(stateDir)) ===
            recomputeSigned(log.toSeq),
            s"state diverged after batch $i")
        }
      } finally q.stop()
    }
  }

  test("streaming MV loop: foreachBatch ingest + refreshView keeps the view ≡ recompute per micro-batch") {
    import graft.ext.Layout
    withTempDir("graft_mvstream_") { dir =>
      val base = s"$dir/t"
      val view = s"$dir/v"
      (0L to 49L).map(k => (k, k % 3, k)).toDF("k", "g", "v")
        .repartitionByRange(2, col("k")).sortWithinPartitions("k")
        .write.mode("overwrite").parquet(base)
      Layout.buildFileManifest(spark, base, Seq("k"))
        .write.mode("overwrite").parquet(s"$base/_graft_manifest")
      Layout.enableGenerations(spark, base)
      Ivm.createView(spark, base, view, Seq("g"), Seq("v"))
      def gcanon(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
        df.select("g", "cnt", "sum_v").as[(Long, Long, Long)]
          .collect().sortBy(_._1).toSeq
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val in = MemoryStream[(Long, Long, Long)]
      val q = in.toDF().toDF("k", "g", "v")
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          // ingest commits a generation; the refresh maintains the
          // persisted view off that commit's file-diff feed alone
          Layout.appendWithManifest(batch.repartition(1), base, Seq("k"))
          Ivm.refreshView(spark, view)
          ()
        }.start()
      try {
        val batches = Seq(
          Seq((100L, 0L, 10L), (101L, 1L, 20L)),
          Seq((102L, 3L, 7L)),                    // group birth
          Seq((103L, 0L, 1L), (104L, 3L, 2L)))
        for ((rows, i) <- batches.zipWithIndex) {
          in.addData(rows)
          q.processAllAvailable()
          val expect = gcanon(Ivm.aggregateOf(
            spark.read.parquet(base).select("g", "v"), Seq("g"), Seq("v")))
          assert(gcanon(Ivm.readView(spark, view)) === expect,
            s"view diverged from the live recompute after batch $i")
          assert(Ivm.viewGeneration(spark, view) ===
            Layout.currentGeneration(spark, base),
            s"view not pinned at the live generation after batch $i")
        }
      } finally q.stop()
    }
  }

  test("streaming JOIN-MV loop: per-batch ingest commits + refreshJoinView track the recompute") {
    import graft.ext.Layout
    withTempDir("graft_jmvstream_") { dir =>
      val (pa, pb, v) = (s"$dir/a", s"$dir/b", s"$dir/v")
      (0L to 19L).map(k => (k, s"g${k % 3}")).toDF("k", "grp")
        .repartitionByRange(2, col("k")).sortWithinPartitions("k")
        .write.parquet(pa)
      (0L to 39L).map(i => (i % 20, i * 10)).toDF("k", "v")
        .repartitionByRange(2, col("k")).sortWithinPartitions("k")
        .write.parquet(pb)
      for (p <- Seq(pa, pb)) {
        Layout.buildFileManifest(spark, p, Seq("k"))
          .write.mode("overwrite").parquet(s"$p/_graft_manifest")
        Layout.enableGenerations(spark, p)
      }
      Ivm.createJoinView(spark, pa, pb, v, Seq("k"), Seq("grp"), Seq("v"))
      def gcanon(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long)] =
        df.select("grp", "cnt", "sum_v").as[(String, Long, Long)]
          .collect().sortBy(_._1).toSeq
      def recomputeLive(): Seq[(String, Long, Long)] = gcanon(
        spark.read.parquet(pa).join(spark.read.parquet(pb), "k")
          .groupBy("grp").agg(count(lit(1)).as("cnt"), sum("v").as("sum_v")))
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      // the CDC stream carries (side, k, payload): each micro-batch
      // commits its rows to the named base — fact appends to B, one
      // dimension append to A — then ONE refreshJoinView maintains
      // the persisted trio off both bases' file-diff feeds
      val in = MemoryStream[(String, Long, Long)]
      val q = in.toDF().toDF("side", "k", "payload")
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val a = batch.filter(col("side") === "a")
            .select(col("k"), concat(lit("g"), col("payload")).as("grp"))
          val b = batch.filter(col("side") === "b")
            .select(col("k"), col("payload").as("v"))
          if (a.limit(1).count() > 0)
            Layout.appendWithManifest(a.repartition(1), pa, Seq("k"))
          if (b.limit(1).count() > 0)
            Layout.appendWithManifest(b.repartition(1), pb, Seq("k"))
          Ivm.refreshJoinView(spark, v)
          ()
        }.start()
      try {
        val batches = Seq(
          Seq(("b", 3L, 777L), ("b", 4L, 888L)),          // fact-only
          Seq(("a", 100L, 9L), ("b", 100L, 5L)),          // both sides: a
                                                          // NEW key joins
          Seq(("b", 100L, 6L)))                           // fan onto the new key
        for ((rows, i) <- batches.zipWithIndex) {
          in.addData(rows)
          q.processAllAvailable()
          assert(gcanon(Ivm.readJoinView(spark, v)) === recomputeLive(),
            s"join view diverged from the live recompute after batch $i")
        }
        val (gA, gB) = Ivm.joinViewGenerations(spark, v)
        assert(gA === Layout.currentGeneration(spark, pa) &&
          gB === Layout.currentGeneration(spark, pb),
          "view not pinned at both live generations after the stream")
      } finally q.stop()
    }
  }

  test("refresh physically never opens untouched base files — proved by moving them away") {
    import graft.ext.Layout
    withTempDir("graft_mvproof_") { dir =>
      val base = s"$dir/t"
      val view = s"$dir/v"
      (0L to 99L).map(k => (k, k % 5, k)).toDF("k", "g", "v")
        .repartitionByRange(4, col("k")).sortWithinPartitions("k")
        .write.parquet(base)
      Layout.buildFileManifest(spark, base, Seq("k"))
        .write.mode("overwrite").parquet(s"$base/_graft_manifest")
      Layout.enableGenerations(spark, base)
      Ivm.createView(spark, base, view, Seq("g"), Seq("v"))
      // churn exactly ONE file's band: of the 4 range files, only the
      // first overlaps [0, 9]
      Layout.deleteWhere(spark, base, Seq(Layout.KeyBox("k", 0L, 9L)))
      // the claim under test: refresh cost ∝ churn — the files BOTH
      // manifests share are never opened. Proof by interference: move
      // every shared file away; if the refresh (or its feed) touched
      // one, it would fail with FileNotFound
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val cur = Layout.currentGeneration(spark, base)
      val live = spark.read.parquet(base).inputFiles.toSet
      val gen0 = Layout.readSnapshot(spark, base, 0L).inputFiles.toSet
      val shared = (live intersect gen0).toSeq.sorted
      assert(shared.size >= 3, s"degenerate fixture: $shared")
      val hidden = shared.map { f =>
        val p = new org.apache.hadoop.fs.Path(new java.net.URI(f))
        val away = new org.apache.hadoop.fs.Path(s"$dir/hidden_${p.getName}")
        require(fs.rename(p, away), s"failed to hide $f")
        (p, away)
      }
      try {
        val r = Ivm.refreshView(spark, view)
        assert(r.refreshed && r.toGen === cur)
      } finally hidden.foreach { case (p, away) =>
        require(fs.rename(away, p), s"failed to restore $p") }
      // and the refreshed state is exact once the files are back
      val got = Ivm.readView(spark, view).select("g", "cnt", "sum_v")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      val want = Ivm.aggregateOf(
          spark.read.parquet(base).select("g", "v"), Seq("g"), Seq("v"))
        .select("g", "cnt", "sum_v")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(got === want)
    }
  }

  test("materialized view lifecycle: create/refresh/rebuild, crash healing, loud boundaries") {
    import graft.ext.Layout
    withTempDir("graft_mv_") { dir =>
      val base = s"$dir/t"
      val view = s"$dir/v"
      (0L to 99L).map(k => (k, k % 5, k)).toDF("k", "g", "v")
        .repartitionByRange(4, col("k")).sortWithinPartitions("k")
        .write.mode("overwrite").parquet(base)
      Layout.buildFileManifest(spark, base, Seq("k"))
        .write.mode("overwrite").parquet(s"$base/_graft_manifest")
      Layout.enableGenerations(spark, base)
      val created = Ivm.createView(spark, base, view, Seq("g"), Seq("v"))
      assert(created.toGen === 0L && Ivm.viewGeneration(spark, view) === 0L)
      def gcanon(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
        df.select("g", "cnt", "sum_v").as[(Long, Long, Long)]
          .collect().sortBy(_._1).toSeq
      def recomputeLive(): Seq[(Long, Long, Long)] =
        gcanon(Ivm.aggregateOf(spark.read.parquet(base).select("g", "v"),
          Seq("g"), Seq("v")))
      assert(gcanon(Ivm.readView(spark, view)) === recomputeLive())
      // two commits, one refresh span
      Layout.deleteWhere(spark, base, Seq(Layout.KeyBox("k", 0L, 19L)))
      Layout.upsertByKey(spark, base,
        Seq((50L, 0L, 999L), (200L, 3L, 7L)).toDF("k", "g", "v"), "k")
      val r1 = Ivm.refreshView(spark, view)
      assert(r1 === Ivm.ViewRefreshStats(0L, 2L, refreshed = true))
      assert(gcanon(Ivm.readView(spark, view)) === recomputeLive())
      // idempotent when current: no state change, no maintenance
      assert(!Ivm.refreshView(spark, view).refreshed)
      // crash healing: a stranded SUPERSEDED state (rename-then-drop
      // window) is dropped, the max state refreshes as usual
      val fs = new org.apache.hadoop.fs.Path(view)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      spark.read.parquet(s"$view/state_gen=2")
        .write.mode("overwrite").parquet(s"$view/state_gen=1")
      Layout.appendWithManifest(
        (300L to 309L).map(k => (k, 1L, k)).toDF("k", "g", "v")
          .repartition(1), base, Seq("k"))
      val r2 = Ivm.refreshView(spark, view)
      assert(r2 === Ivm.ViewRefreshStats(2L, 3L, refreshed = true))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$view/state_gen=1")),
        "the stranded superseded state survived the refresh")
      assert(gcanon(Ivm.readView(spark, view)) === recomputeLive())
      // re-create on an existing view is refused
      val dup = intercept[IllegalArgumentException] {
        Ivm.createView(spark, base, view, Seq("g"), Seq("v"))
      }
      assert(dup.getMessage.contains("already holds"))
      // vacuum past the view's pinned generation: refresh fails loudly
      // (the archived manifest is gone), rebuildView recovers
      Layout.deleteWhere(spark, base, Seq(Layout.KeyBox("k", 90L, 99L)))
      // the view's registered pin would refuse this vacuum (that
      // coordination has its own test) — force past it to exercise
      // the vacuumed-past-pin recovery path
      Layout.vacuumGenerations(spark, base, retainLast = 1, force = true)
      val gone = intercept[IllegalArgumentException] {
        Ivm.refreshView(spark, view)
      }
      assert(gone.getMessage.contains("vacuum"))
      val rb = Ivm.rebuildView(spark, view)
      assert(rb.refreshed && rb.toGen === 4L)
      assert(gcanon(Ivm.readView(spark, view)) === recomputeLive())
      assert(!Ivm.refreshView(spark, view).refreshed)
      // a view over an untracked base cannot even bootstrap
      val plain = s"$dir/plain"
      (0L to 9L).map(k => (k, k)).toDF("k", "v")
        .write.mode("overwrite").parquet(plain)
      Layout.buildFileManifest(spark, plain, Seq("k"))
        .write.mode("overwrite").parquet(s"$plain/_graft_manifest")
      val untracked = intercept[IllegalArgumentException] {
        Ivm.createView(spark, plain, s"$dir/v2", Seq("k"), Nil)
      }
      assert(untracked.getMessage.contains("generation"))
    }
  }

  test("deltaJoinFeed composes two-table maintenance into an exact 3-table chain") {
    // view: count/sum_v by g over A(k1,g) ⋈ B(k1,k2) ⋈ C(k2,v) —
    // maintained by keeping a PARTIAL state for the INTERMEDIATE A⋈B
    // (keyed by what the outer level still needs: g and k2 — k1 is
    // projected away) and feeding it (and the outer join) the join's
    // OWN signed partial delta
    var aRows = Seq((1L, "x"), (2L, "y"), (3L, "x"))
    var bRows = Seq((1L, 10L), (1L, 11L), (2L, 10L), (3L, 12L))
    var cRows = Seq((10L, 5L), (11L, 7L), (12L, 9L), (10L, 5L))
    def aDf(r: Seq[(Long, String)]) = r.toDF("k1", "g")
    def bDf(r: Seq[(Long, Long)]) = r.toDF("k1", "k2")
    def cDf(r: Seq[(Long, Long)]) = r.toDF("k2", "v")
    var aS = Ivm.multisetOf(aDf(aRows), Seq("k1", "g")).localCheckpoint(true)
    var bS = Ivm.multisetOf(bDf(bRows), Seq("k1", "k2")).localCheckpoint(true)
    // C owns the measure: a partial keyed by k2 alone, carrying sum_v
    var cS = Ivm.aggregateOf(cDf(cRows), Seq("k2"), Seq("v"))
      .localCheckpoint(true)
    var abS = Ivm.multisetOf(aDf(aRows).join(bDf(bRows), "k1"),
      Seq("g", "k2")).localCheckpoint(true)
    var view = Ivm.aggregateOfJoin(abS, cS, Seq("k2"), Seq("g"), Seq("v"))
      .localCheckpoint(true)
    def recompute(): Seq[(String, Long, Long)] =
      (for { (k1, g) <- aRows; (bk1, k2) <- bRows if bk1 == k1
             (ck2, v) <- cRows if ck2 == k2 } yield (g, v))
        .groupBy(_._1).map { case (g, rs) =>
          (g, rs.size.toLong, rs.map(_._2).sum) }.toSeq.sortBy(_._1)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long)] =
      df.select("g", "cnt", "sum_v").as[(String, Long, Long)]
        .collect().sortBy(_._1).toSeq
    assert(canon(view) === recompute())
    def applyRound(dA: Seq[(Long, String, Int)], dB: Seq[(Long, Long, Int)],
                   dC: Seq[(Long, Long, Int)]): Unit = {
      val aFeed = dA.toDF("k1", "g", "op")
      val bFeed = dB.toDF("k1", "k2", "op")
      val aDelta = Ivm.signedPartialOf(aFeed, Seq("k1", "g"), Nil)
      val bDelta = Ivm.signedPartialOf(bFeed, Seq("k1", "k2"), Nil)
      val cDelta = Ivm.signedPartialOf(dC.toDF("k2", "v", "op"),
        Seq("k2"), Seq("v"))
      val aNew = Ivm.maintainMultiset(aS, aFeed, Seq("k1", "g"))
      // the chain's composition step: the join's own signed delta,
      // re-keyed straight to the intermediate's (g, k2) shape…
      val abDelta = Ivm.deltaJoinFeed(aNew, bS, aDelta, bDelta,
        Seq("k1"), Seq("g", "k2"), Nil).localCheckpoint(true)
      val bNew = Ivm.maintainMultiset(bS, bFeed, Seq("k1", "k2"))
      // …drives the outer two-table maintenance unchanged
      val (v2, abNew, cNew) = Ivm.maintainJoinAggDelta(view, abS, cS,
        abDelta, cDelta, Seq("k2"), Seq("g"), Seq("v"))
      aS = aNew; bS = bNew; abS = abNew; cS = cNew; view = v2
      // advance the driver-side truth
      def applySigned[T](base: Seq[T], d: Seq[(T, Int)]): Seq[T] = {
        val buf = scala.collection.mutable.ListBuffer(base: _*)
        d.foreach { case (t, op) =>
          if (op > 0) buf += t
          else { val i = buf.indexOf(t); assert(i >= 0, s"phantom delete $t"); buf.remove(i) }
        }
        buf.toSeq
      }
      aRows = applySigned(aRows, dA.map(r => ((r._1, r._2), r._3)))
      bRows = applySigned(bRows, dB.map(r => ((r._1, r._2), r._3)))
      cRows = applySigned(cRows, dC.map(r => ((r._1, r._2), r._3)))
    }
    // round 1: churn on all three tables, incl. a delete of one copy
    // of C's duplicate row and a B-edge retarget
    applyRound(
      dA = Seq((4L, "y", 1), (3L, "x", -1)),
      dB = Seq((4L, 12L, 1), (1L, 11L, -1)),
      dC = Seq((11L, 100L, 1), (10L, 5L, -1)))
    assert(canon(view) === recompute())
    // round 2: one-sided churn (only C moves) — A/B feeds are empty
    applyRound(Nil, Nil, dC = Seq((12L, 9L, -1), (12L, 1L, 1)))
    assert(canon(view) === recompute())
  }

  test("filtered join view: the WHERE over the joined tuple governs bootstrap and every delta term") {
    import graft.ext.Layout
    withTempDir("graft_fjmv_") { dir =>
      val (pa, pb, v) = (s"$dir/a", s"$dir/b", s"$dir/v")
      // flag is NEITHER a group nor a sum column — the predicate
      // alone forces it into the side state
      (0L to 29L).map(k => (k, s"g${k % 3}", k % 10)).toDF("k", "grp", "flag")
        .repartitionByRange(2, col("k")).sortWithinPartitions("k")
        .write.parquet(pa)
      (0L to 59L).map(i => (i % 30, i * 10)).toDF("k", "v")
        .repartitionByRange(2, col("k")).sortWithinPartitions("k")
        .write.parquet(pb)
      for (p <- Seq(pa, pb)) {
        Layout.buildFileManifest(spark, p, Seq("k"))
          .write.mode("overwrite").parquet(s"$p/_graft_manifest")
        Layout.enableGenerations(spark, p)
      }
      val where = "flag >= 5 AND v < 550"
      Ivm.createJoinView(spark, pa, pb, v, Seq("k"), Seq("grp"),
        Seq("v"), where = Some(where))
      def gcanon(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long)] =
        df.select("grp", "cnt", "sum_v").as[(String, Long, Long)]
          .collect().sortBy(_._1).toSeq
      def recomputeLive(): Seq[(String, Long, Long)] = gcanon(
        spark.read.parquet(pa).join(spark.read.parquet(pb), "k")
          .filter(expr(where))
          .groupBy("grp").agg(count(lit(1)).as("cnt"), sum("v").as("sum_v")))
      assert(gcanon(Ivm.readJoinView(spark, v)) === recomputeLive())
      // churn straddling the predicate on BOTH columns: an A-side
      // update moves k=7 OUT of the flag band (its joined rows leave
      // the view); a B-side update moves one k=16 row's v ACROSS the
      // v bound; plus plain deletes
      Layout.upsertByKey(spark, pa,
        Seq((7L, "g1", 0L)).toDF("k", "grp", "flag"), "k")
      Layout.deleteWhere(spark, pb, Seq(Layout.KeyBox("k", 25L, 27L)))
      Layout.appendWithManifest(
        Seq((16L, 5000L), (18L, 1L)).toDF("k", "v").repartition(1),
        pb, Seq("k"))
      val r = Ivm.refreshJoinView(spark, v)
      assert(r.refreshed && r.toAGen === 1L && r.toBGen === 2L)
      assert(gcanon(Ivm.readJoinView(spark, v)) === recomputeLive())
      assert(!Ivm.refreshJoinView(spark, v).refreshed)
      // rebuild honors the same predicate
      val rb = Ivm.rebuildJoinView(spark, v)
      assert(rb.refreshed)
      assert(gcanon(Ivm.readJoinView(spark, v)) === recomputeLive())
    }
  }

  test("persisted chain view: 3-base create/refresh through per-base CDC, rebuild recovery") {
    import graft.ext.Layout
    withTempDir("graft_cmv_") { dir =>
      val (pa, pb, pc, v) = (s"$dir/a", s"$dir/b", s"$dir/c", s"$dir/v")
      (0L to 29L).map(k => (k, s"g${k % 3}")).toDF("k1", "g")
        .repartitionByRange(2, col("k1")).sortWithinPartitions("k1")
        .write.parquet(pa)
      (0L to 59L).map(i => (i % 30, i % 10)).toDF("k1", "k2")
        .repartitionByRange(2, col("k1")).sortWithinPartitions("k1")
        .write.parquet(pb)
      (0L to 9L).map(k => (k, k * 100)).toDF("k2", "v")
        .repartition(1).write.parquet(pc)
      for ((p, key) <- Seq((pa, "k1"), (pb, "k1"), (pc, "k2"))) {
        Layout.buildFileManifest(spark, p, Seq(key))
          .write.mode("overwrite").parquet(s"$p/_graft_manifest")
        Layout.enableGenerations(spark, p)
      }
      val created = Ivm.createChainView(spark, Seq(pa, pb, pc), v,
        Seq(Seq("k1"), Seq("k2")), Seq("g"), Seq("v"))
      assert(created.refreshed &&
        Ivm.chainViewGenerations(spark, v) === Seq(0L, 0L, 0L))
      def gcanon(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long)] =
        df.select("g", "cnt", "sum_v").as[(String, Long, Long)]
          .collect().sortBy(_._1).toSeq
      def recomputeLive(): Seq[(String, Long, Long)] = gcanon(
        spark.read.parquet(pa)
          .join(spark.read.parquet(pb), "k1")
          .join(spark.read.parquet(pc), "k2")
          .groupBy("g").agg(count(lit(1)).as("cnt"), sum("v").as("sum_v")))
      assert(gcanon(Ivm.readChainView(spark, v)) === recomputeLive())
      // one-sided span: only the TAIL base moves
      Layout.deleteWhere(spark, pc, Seq(Layout.KeyBox("k2", 0L, 2L)))
      val r1 = Ivm.refreshChainView(spark, v)
      assert(r1 === Ivm.ChainViewRefreshStats(Seq(0L, 0L, 0L),
        Seq(0L, 0L, 1L), refreshed = true))
      assert(gcanon(Ivm.readChainView(spark, v)) === recomputeLive())
      // all three bases move in one span: head delete, middle edge
      // churn (delete + append), tail append of a duplicate-key row
      Layout.deleteWhere(spark, pa, Seq(Layout.KeyBox("k1", 0L, 4L)))
      Layout.deleteWhere(spark, pb, Seq(Layout.KeyBox("k1", 25L, 29L)))
      Layout.appendWithManifest(
        Seq((3L, 9L), (14L, 9L)).toDF("k1", "k2").repartition(1),
        pb, Seq("k1"))
      Layout.appendWithManifest(
        Seq((5L, 555L)).toDF("k2", "v").repartition(1), pc, Seq("k2"))
      val r2 = Ivm.refreshChainView(spark, v)
      assert(r2.refreshed && r2.toGens === Seq(1L, 2L, 2L))
      assert(gcanon(Ivm.readChainView(spark, v)) === recomputeLive())
      // idempotent when every base is current
      assert(!Ivm.refreshChainView(spark, v).refreshed)
      // cross-family guards name the right verbs
      assert(intercept[IllegalArgumentException] {
        Ivm.refreshView(spark, v)
      }.getMessage.contains("CHAIN"))
      assert(intercept[IllegalArgumentException] {
        Ivm.refreshJoinView(spark, v)
      }.getMessage.contains("CHAIN"))
      // a later-level key owned by TWO earlier bases with no earlier
      // level equating them is refused by name — the chain would
      // otherwise silently join on whichever base owned it first
      val (px, py, pz) = (s"$dir/x", s"$dir/y", s"$dir/z")
      Seq((1L, 10L)).toDF("k1", "j").repartition(1).write.parquet(px)
      Seq((1L, 20L)).toDF("k1", "j").repartition(1).write.parquet(py)
      Seq((10L, 5L)).toDF("j", "w").repartition(1).write.parquet(pz)
      for ((p, key) <- Seq((px, "k1"), (py, "k1"), (pz, "j"))) {
        Layout.buildFileManifest(spark, p, Seq(key))
          .write.mode("overwrite").parquet(s"$p/_graft_manifest")
        Layout.enableGenerations(spark, p)
      }
      val ambKey = intercept[IllegalArgumentException] {
        Ivm.createChainView(spark, Seq(px, py, pz), s"$dir/vamb",
          Seq(Seq("k1"), Seq("j")), Seq("k1"), Seq("w"))
      }
      assert(ambKey.getMessage.contains("equates"))
      // a middle base vacuumed past its pin: loud, rebuild recovers
      Layout.deleteWhere(spark, pb, Seq(Layout.KeyBox("k1", 20L, 20L)))
      Layout.vacuumGenerations(spark, pb, retainLast = 1, force = true)
      val gone = intercept[IllegalArgumentException] {
        Ivm.refreshChainView(spark, v)
      }
      assert(gone.getMessage.contains("vacuum"))
      val rb = Ivm.rebuildChainView(spark, v)
      assert(rb.refreshed && rb.toGens === Seq(1L, 3L, 2L))
      assert(gcanon(Ivm.readChainView(spark, v)) === recomputeLive())
      assert(!Ivm.refreshChainView(spark, v).refreshed)
      // FILTERED chain view over the same (already mutated) bases:
      // the predicate spans a level key and the tail base's value
      // column, applies at the TOP aggregate only, and survives a
      // refresh across further churn
      val v2 = s"$dir/v2"
      val where = "v >= 300 AND k1 % 2 = 0"
      Ivm.createChainView(spark, Seq(pa, pb, pc), v2,
        Seq(Seq("k1"), Seq("k2")), Seq("g"), Seq("v"),
        where = Some(where))
      def recomputeFiltered(): Seq[(String, Long, Long)] = gcanon(
        spark.read.parquet(pa)
          .join(spark.read.parquet(pb), "k1")
          .join(spark.read.parquet(pc), "k2")
          .filter(expr(where))
          .groupBy("g").agg(count(lit(1)).as("cnt"), sum("v").as("sum_v")))
      assert(gcanon(Ivm.readChainView(spark, v2)) === recomputeFiltered())
      Layout.deleteWhere(spark, pc, Seq(Layout.KeyBox("k2", 4L, 5L)))
      assert(Ivm.refreshChainView(spark, v2).refreshed)
      assert(gcanon(Ivm.readChainView(spark, v2)) === recomputeFiltered())
    }
  }

  test("filtered materialized view: the WHERE predicate governs bootstrap and every feed") {
    import graft.ext.Layout
    withTempDir("graft_fmv_") { dir =>
      val base = s"$dir/t"
      val view = s"$dir/v"
      (0L to 99L).map(k => (k, k % 5, k)).toDF("k", "g", "v")
        .repartitionByRange(4, col("k")).sortWithinPartitions("k")
        .write.parquet(base)
      Layout.buildFileManifest(spark, base, Seq("k"))
        .write.mode("overwrite").parquet(s"$base/_graft_manifest")
      Layout.enableGenerations(spark, base)
      Ivm.createView(spark, base, view, Seq("g"), Seq("v"),
        where = Some("v >= 40"))
      def gcanon(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
        df.select("g", "cnt", "sum_v").as[(Long, Long, Long)]
          .collect().sortBy(_._1).toSeq
      def recomputeLive(): Seq[(Long, Long, Long)] =
        gcanon(Ivm.aggregateOf(
          spark.read.parquet(base).filter(col("v") >= 40).select("g", "v"),
          Seq("g"), Seq("v")))
      assert(gcanon(Ivm.readView(spark, view)) === recomputeLive())
      // the delete straddles the predicate boundary: rows 30-39 were
      // never IN the view (feed filter must drop their -1s), 40-59
      // were (their -1s must apply)
      Layout.deleteWhere(spark, base, Seq(Layout.KeyBox("k", 30L, 59L)))
      // the upsert moves a row ACROSS the boundary: k=70 drops below
      // the filter (net delete from the view's perspective)
      Layout.upsertByKey(spark, base,
        Seq((70L, 0L, 1L)).toDF("k", "g", "v"), "k")
      val r = Ivm.refreshView(spark, view)
      assert(r.refreshed && r.toGen === 2L)
      assert(gcanon(Ivm.readView(spark, view)) === recomputeLive())
      // rebuild honors the same predicate
      val rb = Ivm.rebuildView(spark, view)
      assert(rb.refreshed)
      assert(gcanon(Ivm.readView(spark, view)) === recomputeLive())
    }
  }

  test("decimal join sums stay maintainable across repeated merges (scale-stable widening)") {
    val a = Seq((1L, "x"), (2L, "y")).toDF("k", "g")
    val b = Seq((1L, "1.50"), (2L, "2.25")).toDF("k", "p")
      .select(col("k"), col("p").cast("decimal(6,2)").as("p"))
    val aS = Ivm.multisetOf(a, Seq("k", "g"))
    val bS = Ivm.aggregateOf(b, Seq("k"), Seq("p"))
    val view0 = Ivm.aggregateOfJoin(aS, bS, Seq("k"), Seq("g"), Seq("p"))
    def feedA(rows: (Long, String, Int)*) =
      rows.toDF("k", "g", "op")
    def feedB(rows: (Long, String, Int)*) =
      rows.toDF("k", "p", "op")
        .select(col("k"), col("p").cast("decimal(6,2)").as("p"), col("op"))
    // first merge widens the held sum's PRECISION (mergeStates
    // re-aggregates); the second delta arrives at the narrow
    // precision and must still merge — scale is the invariant
    val (v1, a1, b1) = Ivm.maintainJoinAgg(view0, aS, bS,
      feedA((3L, "x", 1)), feedB((3L, "0.75", 1)),
      Seq("k"), Seq("g"), Seq("p"))
    val (v2, a2, b2) = Ivm.maintainJoinAgg(v1, a1, b1,
      feedA((2L, "y", -1)), feedB((1L, "1.50", -1), (1L, "9.00", 1)),
      Seq("k"), Seq("g"), Seq("p"))
    def canon(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, String)] =
      df.select(col("g"), col("cnt"), col("sum_p").cast("string"))
        .as[(String, Long, String)].collect().sortBy(_._1).toSeq
    val recompute = Ivm.aggregateOfJoin(a2, b2, Seq("k"), Seq("g"), Seq("p"))
    assert(canon(v2).map(r => (r._1, r._2, BigDecimal(r._3))) ===
      canon(recompute).map(r => (r._1, r._2, BigDecimal(r._3))))
    assert(canon(v2).map(r => (r._1, r._2, BigDecimal(r._3))) ===
      Seq(("x", 2L, BigDecimal("9.75"))))
  }

  test("persisted join view: create/refresh over two mutating bases, one-sided spans, rebuild recovery") {
    import graft.ext.Layout
    withTempDir("graft_jmv_") { dir =>
      val aBase = s"$dir/a"
      val bBase = s"$dir/b"
      val view = s"$dir/v"
      // A: (k, grp) dimension-ish; B: (k, v) fact-ish — view is
      // count/sum_v by grp over A ⋈ B on k
      (0L to 49L).map(k => (k, s"g${k % 3}")).toDF("k", "grp")
        .repartitionByRange(2, col("k")).sortWithinPartitions("k")
        .write.parquet(aBase)
      (0L to 99L).map(k => (k % 50, k)).toDF("k", "v")
        .repartitionByRange(2, col("k")).sortWithinPartitions("k")
        .write.parquet(bBase)
      for (p <- Seq(aBase, bBase)) {
        Layout.buildFileManifest(spark, p, Seq("k"))
          .write.mode("overwrite").parquet(s"$p/_graft_manifest")
        Layout.enableGenerations(spark, p)
      }
      val created = Ivm.createJoinView(spark, aBase, bBase, view,
        Seq("k"), Seq("grp"), Seq("v"))
      assert(created.refreshed &&
        Ivm.joinViewGenerations(spark, view) === ((0L, 0L)))
      def gcanon(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long)] =
        df.select("grp", "cnt", "sum_v").as[(String, Long, Long)]
          .collect().sortBy(_._1).toSeq
      def recomputeLive(): Seq[(String, Long, Long)] = gcanon(
        Ivm.aggregateOfJoin(
          Ivm.multisetOf(spark.read.parquet(aBase), Seq("k", "grp")),
          Ivm.aggregateOf(spark.read.parquet(bBase), Seq("k"), Seq("v")),
          Seq("k"), Seq("grp"), Seq("v")))
      assert(gcanon(Ivm.readJoinView(spark, view)) === recomputeLive())
      // one-sided span: only A moves; B's feed is empty
      Layout.deleteWhere(spark, aBase, Seq(Layout.KeyBox("k", 0L, 9L)))
      val r1 = Ivm.refreshJoinView(spark, view)
      assert(r1 === Ivm.JoinViewRefreshStats(0L, 1L, 0L, 0L,
        refreshed = true))
      assert(gcanon(Ivm.readJoinView(spark, view)) === recomputeLive())
      // both sides move in one span: a CDC update on A (fan-out: every
      // joined B row re-weights) and a delete + append on B
      Layout.upsertByKey(spark, aBase,
        Seq((20L, "g9")).toDF("k", "grp"), "k")
      Layout.deleteWhere(spark, bBase, Seq(Layout.KeyBox("k", 30L, 39L)))
      Layout.appendWithManifest(
        Seq((20L, 1000L), (999L, 5L)).toDF("k", "v").repartition(1),
        bBase, Seq("k"))
      val r2 = Ivm.refreshJoinView(spark, view)
      assert(r2 === Ivm.JoinViewRefreshStats(1L, 2L, 0L, 2L,
        refreshed = true))
      assert(gcanon(Ivm.readJoinView(spark, view)) === recomputeLive())
      // idempotent when both bases are current
      assert(!Ivm.refreshJoinView(spark, view).refreshed)
      // cross-family guards name the right verb
      val wrongA = intercept[IllegalArgumentException] {
        Ivm.refreshView(spark, view)
      }
      assert(wrongA.getMessage.contains("JOIN view"))
      val aggView = s"$dir/vagg"
      Ivm.createView(spark, bBase, aggView, Seq("k"), Seq("v"))
      val wrongB = intercept[IllegalArgumentException] {
        Ivm.refreshJoinView(spark, aggView)
      }
      assert(wrongB.getMessage.contains("single-base"))
      // vacuum past a pin: refresh fails loudly, rebuild recovers
      Layout.deleteWhere(spark, bBase, Seq(Layout.KeyBox("k", 40L, 44L)))
      Layout.vacuumGenerations(spark, bBase, retainLast = 1, force = true)
      val gone = intercept[IllegalArgumentException] {
        Ivm.refreshJoinView(spark, view)
      }
      assert(gone.getMessage.contains("vacuum"))
      val rb = Ivm.rebuildJoinView(spark, view)
      assert(rb.refreshed && rb.toAGen === 2L && rb.toBGen === 3L)
      assert(gcanon(Ivm.readJoinView(spark, view)) === recomputeLive())
      assert(!Ivm.refreshJoinView(spark, view).refreshed)
      // ambiguous view columns refused at create time, by name
      val amb = intercept[IllegalArgumentException] {
        Ivm.createJoinView(spark, bBase, bBase, s"$dir/v3",
          Seq("k"), Seq("v"), Nil)
      }
      assert(amb.getMessage.contains("BOTH bases"))
    }
  }
}
