package graft

import graft.ext.Layout
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Deletion vectors: row-level deletes without file rewrite.
  *
  * The merge-on-read contract under test, end to end: a partial
  * delete records POSITIONS instead of rewriting files (names pinned
  * byte-for-byte), every reader — live, pruned, snapshot, CDF,
  * metadata-answered — applies them exactly, rewriting verbs
  * materialize them away, and the generation store versions them
  * (snapshot reads see each generation's own vector, vacuum reaps
  * stores no retained manifest references).
  */
class DvSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  /** k ∈ [0, n): 8 range-clustered files, ~n/8 keys each; g is a
    * 7-way group, v a value column. */
  private def mkLayout(dir: String, n: Int = 1000): Unit = {
    val df = spark.range(n).select(col("id").as("k"),
      (col("id") % 7).as("g"), (col("id") * 2).as("v"))
    df.repartitionByRange(8, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(dir)
    Layout.buildFileManifest(spark, dir, Seq("k"))
      .write.mode("overwrite").parquet(s"$dir/_graft_manifest")
  }

  private def names(dir: String): Set[String] =
    spark.read.parquet(dir).inputFiles.toSet

  private def expect(n: Int, kept: Long => Boolean): Seq[(Long, Long, Long)] =
    (0L until n.toLong).filter(kept).map(k => (k, k % 7, k * 2))

  private def got(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
    df.select("k", "g", "v").as[(Long, Long, Long)].collect().sorted

  test("deleteWhereDv vectorizes partials in place: no rewrite, exact reads") {
    withTempDir("graft_dv_basic_") { dir =>
      mkLayout(dir)
      val before = names(dir)
      // [100, 149] straddles the 8 range files without covering one
      val st = Layout.deleteWhereDv(spark, dir,
        Seq(Layout.KeyBox("k", 100L, 149L)))
      assert(st.filesDropped == 0 && st.filesVectorized >= 1 &&
        st.rowsDeleted == 50L, s"unexpected $st")
      // THE deletion-vector property: every data file kept its name
      assert(names(dir) == before, "a file was rewritten or dropped")
      val want = expect(1000, k => k < 100 || k > 149)
      assert(got(Layout.readLayout(spark, dir)) == want)
      // pruned read through the vectorized band
      assert(got(Layout.scanPruned(spark, dir,
        Seq(Layout.KeyBox("k", 50L, 400L)))) ==
        want.filter(t => t._1 >= 50 && t._1 <= 400))
      // metadata count demotes vectorized files to scans, stays exact
      assert(Layout.countWhere(spark, dir,
        Seq(Layout.KeyBox("k", 0L, 999L))) == 950L)
      // manifest bookkeeping: dv_rows sums to the new positions
      val m = Layout.loadManifest(spark, dir)
      assert(m.agg(coalesce(sum("dv_rows"), lit(0L))).as[Long].head() == 50L)
      // idempotent: the same band again deletes nothing new
      val st2 = Layout.deleteWhereDv(spark, dir,
        Seq(Layout.KeyBox("k", 100L, 149L)))
      assert(st2.rowsDeleted == 0L && st2.filesVectorized == 0, s"$st2")
      assert(got(Layout.readLayout(spark, dir)) == want)
    }
  }

  test("second delete merges vectors and reaps the superseded store (untracked)") {
    withTempDir("graft_dv_merge_") { dir =>
      mkLayout(dir)
      Layout.deleteWhereDv(spark, dir, Seq(Layout.KeyBox("k", 100L, 119L)))
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def stores = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/_graft_dv"))
        .filter(_.isDirectory).map(_.getPath.getName).toSet
      val first = stores
      assert(first.size == 1)
      val st = Layout.deleteWhereDv(spark, dir,
        Seq(Layout.KeyBox("k", 110L, 129L)))
      assert(st.rowsDeleted == 10L, s"overlap must not double-delete: $st")
      assert(got(Layout.readLayout(spark, dir)) ==
        expect(1000, k => k < 100 || k > 129))
      // merged store replaced the old one; untracked ⇒ old store reaped
      val second = stores
      assert(second.size == 1 && second != first,
        s"expected one fresh merged store, got $second (was $first)")
      // dv_rows reflects the merge per file
      val m = Layout.loadManifest(spark, dir)
      assert(m.agg(coalesce(sum("dv_rows"), lit(0L))).as[Long].head() == 30L)
    }
  }

  test("null-key rows survive a DV delete (three-valued DELETE WHERE)") {
    withTempDir("graft_dv_null_") { dir =>
      val df = spark.range(100).select(
          when(col("id") % 10 === 0, lit(null)).otherwise(col("id"))
            .cast("long").as("k"),
          (col("id") % 7).as("g"), (col("id") * 2).as("v"))
      df.repartition(2).write.mode("overwrite").parquet(dir)
      Layout.buildFileManifest(spark, dir, Seq("k"))
        .write.mode("overwrite").parquet(s"$dir/_graft_manifest")
      Layout.deleteWhereDv(spark, dir, Seq(Layout.KeyBox("k", 0L, 999L)))
      val back = Layout.readLayout(spark, dir)
      assert(back.count() == 10L, "only the null-key rows survive")
      assert(back.filter(col("k").isNotNull).count() == 0L)
    }
  }

  test("covered files still DROP whole; only true partials vectorize") {
    withTempDir("graft_dv_cover_") { dir =>
      mkLayout(dir)
      val st = Layout.deleteWhereDv(spark, dir,
        Seq(Layout.KeyBox("k", 0L, 480L)))
      assert(st.filesDropped >= 3 && st.filesVectorized >= 1 &&
        st.rowsDeleted == 481L, s"$st")
      assert(got(Layout.readLayout(spark, dir)) == expect(1000, _ > 480))
    }
  }

  test("generations: snapshots pin each generation's own vector; CDF is the delta") {
    withTempDir("graft_dv_gen_") { dir =>
      mkLayout(dir)
      Layout.enableGenerations(spark, dir)
      Layout.deleteWhereDv(spark, dir, Seq(Layout.KeyBox("k", 100L, 149L)))
      Layout.deleteWhereDv(spark, dir, Seq(Layout.KeyBox("k", 140L, 179L)))
      assert(Layout.currentGeneration(spark, dir) == 2L)
      assert(got(Layout.readSnapshot(spark, dir, 0L)) == expect(1000, _ => true))
      assert(got(Layout.readSnapshot(spark, dir, 1L)) ==
        expect(1000, k => k < 100 || k > 149))
      assert(got(Layout.readSnapshot(spark, dir, 2L)) ==
        expect(1000, k => k < 100 || k > 179))
      // pruned time travel through the vectorized band
      assert(got(Layout.readSnapshot(spark, dir, 1L,
        Seq(Layout.KeyBox("k", 120L, 200L)))) ==
        expect(1000, k => k >= 150 && k <= 200))
      // the feed between two DV generations is exactly the newly
      // deleted rows, op = −1 — files shared by both manifests whose
      // vector did not change are never opened
      val feed = Layout.changesBetween(spark, dir, 1L, 2L)
      assert(feed.filter(col("op") =!= -1).count() == 0L)
      assert(got(feed.drop("op")) ==
        expect(1000, k => k >= 150 && k <= 179))
      // typed CDF classifies them as plain deletes
      val typed = Layout.changesBetweenTyped(spark, dir, 1L, 2L, Seq("k"))
      assert(typed.filter(col("_change_type") =!= "delete").count() == 0L)
    }
  }

  test("optimizeSelective PURGES vectors: rewrite applies them, snapshots still see them") {
    // the same purge contract through the file-subset verb and the
    // whole-directory one, generation-tracked and untracked: the
    // rewrite patches the manifest, never rebuilds it, so the
    // `_graft_dv` stores cannot block it
    val purges: Seq[(String, Boolean, String => Layout.OptimizeStats)] = Seq(
      ("optimizeSelective", true,
        d => Layout.optimizeSelective(spark, d, targetRows = 200L)),
      ("optimize", true, d => Layout.optimize(spark, d, files = 2)),
      ("optimize", false, d => Layout.optimize(spark, d, files = 2)))
    for ((verb, tracked, purge) <- purges) withTempDir("graft_dv_purge_") { dir =>
      val what = s"$verb (tracked = $tracked)"
      mkLayout(dir)
      if (tracked) Layout.enableGenerations(spark, dir)
      Layout.deleteWhereDv(spark, dir, Seq(Layout.KeyBox("k", 100L, 149L)))
      val want = expect(1000, k => k < 100 || k > 149)
      // vectors count as the trigger even with healthy depth
      val st = purge(dir)
      assert(st.reclustered, s"$what: vector presence must trigger the purge")
      val m = Layout.loadManifest(spark, dir)
      assert(m.filter(col("dv_path").isNotNull).count() == 0L,
        s"$what: purge must clear every vector pointer")
      assert(names(dir).subsetOf(m.select("file").as[String].collect().toSet),
        s"$what: the manifest must cover every live file")
      assert(got(Layout.readLayout(spark, dir)) == want, what)
      if (tracked) {
        // the vectorized generation still reads exactly — its file is
        // RETIRED now, so the store's recorded path is remapped onto
        // the retirement label (the hard path)
        assert(got(Layout.readSnapshot(spark, dir, 1L)) == want, what)
        assert(got(Layout.readSnapshot(spark, dir, 0L)) ==
          expect(1000, _ => true), what)
        // CDF across the purge nets to zero row change
        val net = Layout.changesBetween(spark, dir, 1L, 2L)
          .groupBy("k", "g", "v").agg(sum("op").as("n"))
          .filter(col("n") =!= 0)
        assert(net.count() == 0L, s"$what: a purge is data-identical")
      } else {
        // nothing can reference the stores on an untracked layout
        val fs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val r = new org.apache.hadoop.fs.Path(s"$dir/_graft_dv")
        assert(!fs.exists(r) || !fs.listStatus(r).exists(_.isDirectory),
          s"$what: the purge must reap the unreferenced stores")
      }
    }
  }

  test("minMaxFromManifest demotes vectorized files and stays exact") {
    withTempDir("graft_dv_minmax_") { dir =>
      mkLayout(dir)
      // vectorize away the global max band (999 included) — physical
      // stats would answer 999, the live answer is 949
      Layout.deleteWhereDv(spark, dir, Seq(Layout.KeyBox("k", 950L, 999L)))
      val r = Layout.minMaxFromManifest(spark, dir, "k")
        .as[(Long, Long)].head()
      assert(r == ((0L, 949L)), s"got $r")
    }
  }

  test("upsertByKeys on a vectorized layout applies and materializes the vector") {
    withTempDir("graft_dv_upsert_") { dir =>
      mkLayout(dir)
      Layout.deleteWhereDv(spark, dir, Seq(Layout.KeyBox("k", 100L, 149L)))
      // update a band overlapping the vectorized file: deleted keys
      // must NOT resurrect; updated keys take the new row
      val updates = Seq((120L, 99L, -1L), (200L, 99L, -2L))
        .toDF("k", "g", "v")
      val st = Layout.upsertByKeys(spark, dir, updates, Seq("k"))
      assert(st.rowsUpserted == 2L)
      val back = got(Layout.readLayout(spark, dir))
      val want = (expect(1000, k => (k < 100 || k > 149) && k != 200) ++
        Seq((120L, 99L, -1L), (200L, 99L, -2L))).sorted
      assert(back == want)
      // the touched file was rewritten (vector materialized): no
      // pointer may survive on a file the rewrite replaced
      val m = Layout.loadManifest(spark, dir)
      assert(m.filter(col("dv_path").isNotNull).count() == 0L)
    }
  }

  test("deleteWhere (copy-on-write) on a vectorized layout applies the vector") {
    withTempDir("graft_dv_cow_") { dir =>
      mkLayout(dir)
      Layout.deleteWhereDv(spark, dir, Seq(Layout.KeyBox("k", 100L, 149L)))
      val st = Layout.deleteWhere(spark, dir,
        Seq(Layout.KeyBox("k", 130L, 199L)))
      assert(st.rowsDeleted == 50L, s"live-row accounting: $st")
      assert(got(Layout.readLayout(spark, dir)) ==
        expect(1000, k => k < 100 || k > 199))
    }
  }

  test("restore: back over a DV commit, and forward onto a retired vectorized file") {
    withTempDir("graft_dv_restore_") { dir =>
      mkLayout(dir)
      Layout.enableGenerations(spark, dir)
      Layout.deleteWhereDv(spark, dir, Seq(Layout.KeyBox("k", 100L, 149L)))
      val filtered = expect(1000, k => k < 100 || k > 149)
      // purge retires the vectorized file (gen 2)
      Layout.optimizeSelective(spark, dir, targetRows = 200L)
      // restore to the VECTORIZED generation: its file comes back as
      // a copy under a fresh name, so the store must be rewritten
      // onto the copy's path — the remap-on-restore path
      Layout.restoreSnapshot(spark, dir, 1L)
      assert(got(Layout.readLayout(spark, dir)) == filtered)
      val m = Layout.loadManifest(spark, dir)
      assert(m.filter(col("dv_path").isNotNull).count() >= 1L,
        "the restored generation carries its vector")
      // and restore to the pre-delete world: vector gone entirely
      Layout.restoreSnapshot(spark, dir, 0L)
      assert(got(Layout.readLayout(spark, dir)) == expect(1000, _ => true))
    }
  }

  test("clone carries vectors standalone: remapped store under the clone") {
    withTempDir("graft_dv_clone_") { dir =>
      mkLayout(s"$dir/src")
      Layout.enableGenerations(spark, s"$dir/src")
      Layout.deleteWhereDv(spark, s"$dir/src",
        Seq(Layout.KeyBox("k", 100L, 149L)))
      Layout.cloneSnapshot(spark, s"$dir/src", 1L, s"$dir/clone")
      val want = expect(1000, k => k < 100 || k > 149)
      assert(got(Layout.readLayout(spark, s"$dir/clone")) == want)
      // standalone: every referenced store lives under the CLONE
      val refs = Layout.loadManifest(spark, s"$dir/clone")
        .filter(col("dv_path").isNotNull).select("dv_path")
        .distinct().as[String].collect()
      assert(refs.nonEmpty && refs.forall(_.contains("/clone/")),
        s"clone references a source store: ${refs.mkString(", ")}")
      // pruned reads work off the cloned manifest + vector
      assert(got(Layout.scanPruned(spark, s"$dir/clone",
        Seq(Layout.KeyBox("k", 50L, 400L)))) ==
        want.filter(t => t._1 >= 50 && t._1 <= 400))
    }
  }

  test("vacuum reaps stores no retained manifest references — and only those") {
    withTempDir("graft_dv_vacuum_") { dir =>
      mkLayout(dir)
      Layout.enableGenerations(spark, dir)
      Layout.deleteWhereDv(spark, dir, Seq(Layout.KeyBox("k", 100L, 149L)))
      Layout.optimizeSelective(spark, dir, targetRows = 200L) // purge, gen 2
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def stores = {
        val r = new org.apache.hadoop.fs.Path(s"$dir/_graft_dv")
        if (!fs.exists(r)) Set.empty[String]
        else fs.listStatus(r).filter(_.isDirectory)
          .map(_.getPath.getName).toSet
      }
      assert(stores.size == 1, "the store survives while gen 1 is retained")
      // retain everything: store must survive (gen 1 references it)
      Layout.vacuumGenerations(spark, dir, retainLast = 10)
      assert(stores.size == 1)
      // cut history below gen 2: nothing references the store now
      Layout.vacuumGenerations(spark, dir, retainLast = 1)
      assert(stores.isEmpty, "vacuum must reap the unreferenced store")
    }
  }

  test("history: a DV commit is row churn with zero file churn; detail counts live rows") {
    withTempDir("graft_dv_hist_") { dir =>
      mkLayout(dir)
      Layout.enableGenerations(spark, dir)
      Layout.deleteWhereDv(spark, dir, Seq(Layout.KeyBox("k", 100L, 149L)))
      val h = Layout.describeHistory(spark, dir)
        .select("gen", "files_added", "files_removed", "rows_added",
          "rows_removed")
        .as[(Long, Long, Long, Long, Long)].collect()
        .map { case (g, fa, fr, ra, rr) => g -> ((fa, fr, ra, rr)) }
        .toMap
      assert(h(1L) == ((0L, 0L, 0L, 50L)), s"got ${h(1L)}")
      val detail = Layout.describeLayout(spark, dir)
        .select("n_rows").as[Long].head()
      assert(detail == 950L, s"DESCRIBE DETAIL must count live rows, got $detail")
    }
  }

  test("hive-partitioned layouts vectorize too") {
    withTempDir("graft_dv_part_") { dir =>
      val df = spark.range(400).select(col("id").as("k"),
        (col("id") % 4).cast("string").as("p"), (col("id") * 2).as("v"))
      df.repartitionByRange(4, col("k")).sortWithinPartitions("k")
        .write.mode("overwrite").partitionBy("p").parquet(dir)
      Layout.buildFileManifest(spark, dir, Seq("k"))
        .write.mode("overwrite").parquet(s"$dir/_graft_manifest")
      Layout.enableGenerations(spark, dir)
      val before = names(dir)
      val st = Layout.deleteWhereDv(spark, dir,
        Seq(Layout.KeyBox("k", 100L, 159L)))
      assert(st.rowsDeleted == 60L && names(dir) == before, s"$st")
      val back = Layout.readLayout(spark, dir)
      assert(back.count() == 340L)
      // partition columns re-derive on the vectorized read path
      assert(back.filter(col("p") === "1").count() ==
        (0L until 400L).count(k => (k < 100 || k > 159) && k % 4 == 1))
      // snapshot read across anchors with vectors applied
      assert(Layout.readSnapshot(spark, dir, 1L).count() == 340L)
      assert(Layout.readSnapshot(spark, dir, 0L).count() == 400L)
      // per-leaf PURGE: only the vectorized leaves rewrite; the
      // vector-free leaves keep their exact files
      val dvFiles = Layout.loadManifest(spark, dir)
        .filter(col("dv_path").isNotNull).select("file")
        .as[String].collect().toSet
      val untouched = before -- dvFiles
      val st2 = Layout.optimizeSelective(spark, dir,
        targetRows = 100000L)
      assert(st2.reclustered, "vector presence must trigger the purge")
      assert(untouched.subsetOf(names(dir)),
        "vector-free files must keep their exact names")
      assert(Layout.loadManifest(spark, dir)
        .filter(col("dv_path").isNotNull).count() == 0L)
      assert(Layout.readLayout(spark, dir).count() == 340L)
      // the vectorized generation still time-travels (retired files
      // + path remap)
      assert(Layout.readSnapshot(spark, dir, 1L).count() == 340L)
      // whole-leaf PURGE: a single-key vector lands in one leaf
      // (k = 201 → p = 1); that leaf fires on its vector alone
      // (`files` above every leaf's count, depth healthy) and rewrites
      // whole, every other leaf keeps its exact files
      Layout.deleteWhereDv(spark, dir, Seq(Layout.KeyBox("k", 201L, 201L)))
      val beforeLeaf = names(dir)
      val st3 = Layout.optimize(spark, dir, files = 8)
      assert(st3.reclustered, "a leaf's vector must fire its rewrite")
      assert(beforeLeaf.filterNot(_.contains("/p=1/")).subsetOf(names(dir)),
        "vector-free leaves must keep their exact names")
      assert(!beforeLeaf.filter(_.contains("/p=1/")).exists(names(dir)),
        "the vectorized leaf must rewrite whole")
      val m3 = Layout.loadManifest(spark, dir)
      assert(m3.filter(col("dv_path").isNotNull).count() == 0L)
      assert(names(dir).subsetOf(m3.select("file").as[String].collect().toSet),
        "the manifest must cover every live file")
      val live = Layout.readLayout(spark, dir)
      assert(live.count() == 339L && live.filter(col("k") === 201L).count() == 0L)
      assert(live.filter(col("p") === "1").count() ==
        (0L until 400L).count(k => (k < 100 || k > 159) && k % 4 == 1 && k != 201))
      // both vectorized generations still time-travel
      assert(Layout.readSnapshot(spark, dir, 1L).count() == 340L)
      assert(Layout.readSnapshot(spark, dir, 3L).count() == 339L)
    }
  }

  test("sparse-set and typed-key boxes vectorize too") {
    withTempDir("graft_dv_boxes_") { dir =>
      // KeySetBox: a sparse CDC-shaped delete — never range-provable,
      // so every overlapping file vectorizes; gaps never open
      val a = s"$dir/a"
      mkLayout(a)
      val keys = Seq(3L, 400L, 801L)
      val st = Layout.deleteWhereDv(spark, a,
        Seq(Layout.KeySetBox("k", keys)))
      assert(st.filesDropped == 0 && st.rowsDeleted == 3L, s"$st")
      assert(got(Layout.readLayout(spark, a)) ==
        expect(1000, k => !keys.contains(k)))
      // TypedKeyBox: a string-keyed layout (the GDPR-by-user-id shape)
      val b = s"$dir/b"
      spark.range(200).select(
          format_string("u%03d", col("id")).as("k"),
          (col("id") % 7).as("g"), (col("id") * 2).as("v"))
        .repartitionByRange(4, col("k")).sortWithinPartitions("k")
        .write.mode("overwrite").parquet(b)
      Layout.buildFileManifest(spark, b, Seq("k"))
        .write.mode("overwrite").parquet(s"$b/_graft_manifest")
      val st2 = Layout.deleteWhereDv(spark, b,
        Seq(Layout.TypedKeyBox("k", "u050", "u059")))
      assert(st2.rowsDeleted == 10L, s"$st2")
      assert(Layout.readLayout(spark, b).count() == 190L)
      assert(Layout.scanPruned(spark, b,
        Seq(Layout.TypedKeyBox("k", "u000", "u099"))).count() == 90L)
    }
  }

  test("a persisted MV refreshes over a DV delete: cost ∝ positions, result exact") {
    withTempDir("graft_dv_mv_") { dir =>
      val base = s"$dir/t"
      val view = s"$dir/view"
      mkLayout(base)
      Layout.enableGenerations(spark, base)
      graft.ext.Ivm.createView(spark, base, view, Seq("g"), Seq("v"))
      // merge-on-read delete (gen 1), then a second band (gen 2): the
      // refresh consumes the position-delta feeds — never a rescan
      Layout.deleteWhereDv(spark, base, Seq(Layout.KeyBox("k", 100L, 149L)))
      val r1 = graft.ext.Ivm.refreshView(spark, view)
      assert(r1.refreshed && r1.toGen == 1L)
      Layout.deleteWhereDv(spark, base, Seq(Layout.KeyBox("k", 600L, 639L)))
      val r2 = graft.ext.Ivm.refreshView(spark, view)
      assert(r2.refreshed && r2.fromGen == 1L && r2.toGen == 2L)
      val want = graft.ext.Ivm.aggregateOf(
          Layout.readLayout(spark, base).select("g", "v"), Seq("g"), Seq("v"))
        .select("g", "cnt", "sum_v").as[(Long, Long, Long)]
        .collect().sortBy(_._1).toSeq
      val got = graft.ext.Ivm.readView(spark, view)
        .select("g", "cnt", "sum_v").as[(Long, Long, Long)]
        .collect().sortBy(_._1).toSeq
      assert(got == want, "MV diverged from the vectorized base")
    }
  }

  test("the CDC stream delivers a DV commit as −1 rows") {
    withTempDir("graft_dv_cdc_") { dir =>
      val base = s"$dir/t"
      mkLayout(base)
      Layout.enableGenerations(spark, base)
      var state = graft.ext.Ivm.aggregateOf(
        spark.read.parquet(base).select("g", "v"), Seq("g"), Seq("v"))
        .localCheckpoint(true)
      val q = spark.readStream.format("graft").load(base)
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          assert(batch.filter(col("op") =!= -1).count() == 0L,
            "a DV delete must stream as pure −1 rows")
          state = graft.ext.Ivm.maintainAgg(state,
            batch.select("g", "v", "op"), Seq("g"), Seq("v"))
          ()
        }.start()
      try {
        Layout.deleteWhereDv(spark, base,
          Seq(Layout.KeyBox("k", 100L, 149L)))
        q.processAllAvailable()
        val want = graft.ext.Ivm.aggregateOf(
            Layout.readLayout(spark, base).select("g", "v"),
            Seq("g"), Seq("v"))
          .select("g", "cnt", "sum_v").as[(Long, Long, Long)]
          .collect().sortBy(_._1).toSeq
        val got = state.select("g", "cnt", "sum_v")
          .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
        assert(got == want, "streamed state diverged after the DV commit")
      } finally q.stop()
    }
  }

  test("updateWhere on a vectorized layout applies and materializes the vector") {
    withTempDir("graft_dv_upd_") { dir =>
      val d = s"$dir/t"
      mkLayout(d)
      Layout.deleteWhereDv(spark, d, Seq(Layout.KeyBox("k", 100L, 119L)))
      // update a band inside the vectorized file: deleted rows must
      // NOT resurrect (the rewrite reads vector-applied), matching
      // live rows transform, the vector materializes away
      val st = Layout.updateWhere(spark, d,
        Seq(Layout.KeyBox("k", 90L, 129L)), Seq("v" -> lit(-1L)))
      assert(st.rowsUpdated == 20L, s"20 live rows in [90,129]: $st")
      val live = got(Layout.readLayout(spark, d))
      val wantRows = (0L until 1000L)
        .filterNot(k => k >= 100L && k <= 119L)
        .map(k => (k, k % 7, if (k >= 90L && k <= 129L) -1L else k * 2))
      assert(live == wantRows, "update must transform exactly the live band")
      // the touched file rewrote vector-applied: no dv rows remain
      assert(Layout.loadManifest(spark, d)
        .agg(coalesce(sum("dv_rows"), lit(0L))).as[Long].head() == 0L)
      // probe-only fast path: a box overlapping file RANGES whose
      // rows are all deleted updates nothing and rewrites nothing
      Layout.deleteWhereDv(spark, d, Seq(Layout.KeyBox("k", 200L, 209L)))
      val names = spark.read.parquet(d).inputFiles.toSet
      val st2 = Layout.updateWhere(spark, d,
        Seq(Layout.KeyBox("k", 200L, 209L)), Seq("v" -> lit(0L)))
      assert(st2.rowsUpdated == 0L && st2.filesRewritten == 0, s"$st2")
      assert(spark.read.parquet(d).inputFiles.toSet == names,
        "a no-match probe must leave every file byte-identical")
    }
  }

  test("minDvRatio: only read-tax hotspots rewrite; light vectors stay in place") {
    withTempDir("graft_dv_ratio_") { dir =>
      val d = s"$dir/t"
      mkLayout(d)
      // heavy vector on the first range file (~100/125 = 0.8), a
      // light one on the second (~5/125 = 0.04)
      Layout.deleteWhereDv(spark, d, Seq(Layout.KeyBox("k", 10L, 109L)))
      Layout.deleteWhereDv(spark, d, Seq(Layout.KeyBox("k", 200L, 204L)))
      val before = names(d)
      val dvBefore = Layout.loadManifest(spark, d)
        .filter(col("dv_path").isNotNull)
        .select("file").as[String].collect().toSet
      assert(dvBefore.size == 2, s"fixture wants 2 vectorized files: $dvBefore")
      // ratio 0.3 selects ONLY the heavy file; the light one keeps
      // its name (byte-identical) and its vector
      val st = Layout.optimizeSelective(spark, d, targetRows = 100000L,
        minDvRatio = 0.3)
      assert(st.reclustered, s"the heavy vector must trigger: $st")
      assert(st.filesKept == before.size - 1,
        s"exactly one file may rewrite: $st")
      val after = names(d)
      val lightFile = Layout.loadManifest(spark, d)
        .filter(col("dv_path").isNotNull)
        .select("file").as[String].collect().toSeq
      assert(lightFile.size == 1 && dvBefore.contains(lightFile.head),
        "the light vector must survive in place")
      assert(after.contains(lightFile.head), "light file must keep its name")
      // reads stay exact through the mixed state
      val want = expect(1000, k => (k < 10 || k > 109) && (k < 200 || k > 204))
      assert(got(Layout.readLayout(spark, d)) == want)
      assert(got(Layout.scanPruned(spark, d,
        Seq(Layout.KeyBox("k", 0L, 400L)))) == want.filter(_._1 <= 400))
      // the surviving light vector is below every reasonable ratio:
      // the same call again declines (hotspots healed, tail left be)
      val st2 = Layout.optimizeSelective(spark, d, targetRows = 100000L,
        minDvRatio = 0.3)
      assert(!st2.reclustered, s"no hotspot left, must decline: $st2")
      // ratio 0 (the default contract) purges the remaining vector
      val st3 = Layout.optimizeSelective(spark, d, targetRows = 100000L)
      assert(st3.reclustered)
      assert(Layout.loadManifest(spark, d)
        .agg(coalesce(sum("dv_rows"), lit(0L))).as[Long].head() == 0L)
      assert(got(Layout.readLayout(spark, d)) == want)
      val bad = intercept[IllegalArgumentException] {
        Layout.optimizeSelective(spark, d, 1000L, minDvRatio = 1.5)
      }
      assert(bad.getMessage.contains("[0, 1]"))
    }
  }

  test("guards: rebuild and compact refuse on vectorized layouts; the V2 reader applies them") {
    withTempDir("graft_dv_guard_") { dir =>
      mkLayout(s"$dir/t")
      Layout.enableGenerations(spark, s"$dir/t")
      Layout.deleteWhereDv(spark, s"$dir/t",
        Seq(Layout.KeyBox("k", 100L, 149L)))
      val e1 = intercept[IllegalArgumentException] {
        Layout.buildFileManifest(spark, s"$dir/t", Seq("k"))
      }
      assert(e1.getMessage.contains("deletion-vector"))
      val e2 = intercept[IllegalArgumentException] {
        Layout.compact(spark, s"$dir/t", s"$dir/out")
      }
      assert(e2.getMessage.contains("deletion vectors"))
      // this session carries the graft extensions (GraftSession
      // .tuned), so the V2 reader APPLIES the vectors — live,
      // filtered, and time-traveled reads all exact
      val want = expect(1000, k => k < 100 || k > 149)
      assert(got(spark.read.format("graft").load(s"$dir/t")) == want)
      assert(got(spark.read.format("graft").load(s"$dir/t")
          .where(col("k") < 300L)) == want.filter(_._1 < 300))
      assert(got(spark.read.format("graft").option("versionAsOf", "0")
          .load(s"$dir/t")) == expect(1000, _ => true))
      assert(got(spark.read.format("graft").option("versionAsOf", "1")
          .load(s"$dir/t")) == want)
      // a SELF-JOIN of the substituted relation: each branch gets its
      // own fresh snapshot plan (no duplicate exprIds)
      val r1 = spark.read.format("graft").load(s"$dir/t")
      assert(r1.as("a").join(r1.as("b"), Seq("k")).count() === 950L)
      // a session WITHOUT the extensions must refuse loudly — a raw
      // V2 pass-through would resurrect the deleted rows
      val prevDefault = org.apache.spark.sql.SparkSession.getDefaultSession
      val prevActive = org.apache.spark.sql.SparkSession.getActiveSession
      org.apache.spark.sql.SparkSession.clearDefaultSession()
      org.apache.spark.sql.SparkSession.clearActiveSession()
      val bare = org.apache.spark.sql.SparkSession.builder()
        .master("local[8]").getOrCreate()
      try {
        val e3 = intercept[IllegalArgumentException] {
          bare.read.format("graft").load(s"$dir/t").collect()
        }
        assert(e3.getMessage.contains("deletion vectors"))
      } finally {
        org.apache.spark.sql.SparkSession.clearDefaultSession()
        org.apache.spark.sql.SparkSession.clearActiveSession()
        prevDefault.foreach(org.apache.spark.sql.SparkSession.setDefaultSession)
        prevActive.foreach(org.apache.spark.sql.SparkSession.setActiveSession)
      }
    }
  }

  /** (tasks, input bytes) of every job `f` launches, in start order. */
  private def jobsOf(f: => Unit): Seq[(Int, Long)] = {
    import org.apache.spark.scheduler._
    val stageJob = scala.collection.concurrent.TrieMap.empty[Int, Int]
    val jobs = scala.collection.concurrent.TrieMap.empty[Int, (Int, Long)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs(e.jobId) = (0, 0L)
        e.stageIds.foreach(stageJob(_) = e.jobId)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        stageJob.get(e.stageId).foreach { j =>
          val bytes = Option(e.taskMetrics).fold(0L)(_.inputMetrics.bytesRead)
          jobs(j) = (jobs(j)._1 + 1, jobs(j)._2 + bytes)
        }
    }
    org.apache.spark.TestListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try f finally {
      org.apache.spark.TestListenerBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    jobs.toSeq.sortBy(_._1).map(_._2)
  }

  test("a repeat read of one generation reads no manifest and infers no schema") {
    withTempDir("graft_dv_jobs_") { dir =>
      mkLayout(dir)
      Layout.enableGenerations(spark, dir)
      Layout.deleteWhereDv(spark, dir, Seq(Layout.KeyBox("k", 100L, 149L)))
      val box = Seq(Layout.KeyBox("k", 50L, 400L))
      val want = expect(1000, k => k < 100 || k > 149)
        .filter(t => t._1 >= 50 && t._1 <= 400)
      def graftRead = spark.read.format("graft").load(dir)
        .filter(col("k").between(50L, 400L))
      // Spark's parquet schema inference is a one-task job that reads
      // no input (footers only): no read may launch one, cold or warm
      def inferenceFree(jobs: Seq[(Int, Long)]): Boolean =
        !jobs.exists { case (tasks, bytes) => tasks == 1 && bytes == 0L }
      // cold: the first read of the generation loads its manifest once
      val cold = jobsOf(assert(got(Layout.scanPruned(spark, dir, box)) == want))
      assert(inferenceFree(cold), s"cold scanPruned jobs: $cold")
      val coldGraft = jobsOf(assert(got(graftRead) == want))
      assert(inferenceFree(coldGraft), s"cold format(graft) jobs: $coldGraft")
      // warm: building either read launches NO job (manifest, schema
      // and skip verdicts all come off the cached snapshot); running
      // it launches at most the DV-position broadcast and the data
      // scan, and both read input
      for ((name, read) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
          "scanPruned" -> (() => Layout.scanPruned(spark, dir, box)),
          "format(graft)" -> (() => graftRead))) {
        var df: org.apache.spark.sql.DataFrame = null
        val build = jobsOf { df = read() }
        assert(build.isEmpty, s"building a warm $name launched jobs: $build")
        val run = jobsOf(assert(got(df) == want))
        assert(run.size <= 2 && run.forall(_._2 > 0L),
          s"a warm $name ran jobs beyond the DV broadcast and the data scan: $run")
      }
    }
  }

  test("append and optimizeSelective list their new files without inferring a schema") {
    withTempDir("graft_dv_commit_jobs_") { dir =>
      mkLayout(dir)
      Layout.enableGenerations(spark, dir)
      // four unclustered files, each spanning every key: the append
      // stacks the layout past optimizeSelective's depth trigger
      val batch = spark.range(0, 1000, 10).select(col("id").as("k"),
        (col("id") % 7).as("g"), (col("id") * 2).as("v")).repartition(4)
      // exact job counts: each listing or stats read of the commit's
      // new files that inferred a schema would add a one-task job
      val append = jobsOf(Layout.appendWithManifest(batch, dir, Seq("k")))
      assert(append.size == 6, s"append jobs: $append")
      val optimize = jobsOf(assert(
        Layout.optimizeSelective(spark, dir, targetRows = 200L).reclustered))
      assert(optimize.size == 19, s"optimizeSelective jobs: $optimize")
      assert(got(Layout.readLayout(spark, dir)) ==
        (expect(1000, _ => true) ++ expect(1000, _ % 10 == 0)).sorted)
    }
  }
}
