package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan snapshots for the load-bearing optimizer choices the
  * engine's scale story depends on. The reference coursework is
  * plan-reading ("SQL Explain", `/root/reference/README.md:2`); this
  * is the engine-side analogue — if a future change regresses a
  * broadcast to a shuffle join, a top-k to a full sort, or loses a
  * parquet filter pushdown, these assertions catch it before any
  * benchmark does. Plans are finalized under AQE by executing the
  * query first (sf0.001 — plan shape, not data volume, is under
  * test; broadcasts are explicit hints, so they do not depend on
  * size estimates).
  */
class PlanSnapshotSpec extends AnyFunSuite with SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  private def finalPlan(name: String): String = {
    val df = QueryDef.all.find(_.name == name)
      .getOrElse(fail(s"no gate query named $name")).fn(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    df.queryExecution.executedPlan.toString
  }

  test("dim joins execute as BroadcastHashJoin, not shuffle joins") {
    val plan = finalPlan("q_multiway_revenue")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"dim join fell back to a shuffle join:\n$plan")
    assert(finalPlan("q_left_join_dim").contains("BroadcastHashJoin"))
  }

  test("sort+limit top-k plans as TakeOrderedAndProject (no full sort)") {
    val plan = finalPlan("q_topk_revenue")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(finalPlan("q_top1").contains("TakeOrderedAndProject"))
  }

  test("filters reach the parquet scan (PushedFilters non-empty)") {
    val plan = finalPlan("q_in_between")
    assert(plan.contains("PushedFilters: ["), plan)
    assert(!plan.matches("(?s).*PushedFilters: \\[\\].*"),
      s"scan reads unfiltered:\n$plan")
  }

  test("graft DataSourceV2 reader: filters push into the V2 parquet scan") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    withTempDir("graft_plan_reader_") { dir =>
      val d = s"$dir/t"
      // w is neither filtered nor projected — the prune target
      (0L to 99L).map(k => (k, k * 2, s"pad$k")).toDF("k", "v", "w")
        .repartitionByRange(2, col("k")).sortWithinPartitions("k")
        .write.parquet(d)
      graft.ext.Layout.buildFileManifest(spark, d, Seq("k"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      graft.ext.Layout.enableGenerations(spark, d)
      val df = spark.read.format("graft").load(d)
        .filter(col("k") > 10L).select("v")
      df.write.format("noop").mode("overwrite").save()
      val plan = df.queryExecution.executedPlan.toString
      // the reader is a thin shell over Spark's V2 parquet scan, so
      // pushdown and column pruning must arrive for free — a scan
      // reading unfiltered (or all columns) through the time-travel
      // surface would quietly tax every SQL-first user
      assert(plan.contains("BatchScan"), plan)
      assert(plan.contains("PushedFilters: ["), plan)
      assert(!plan.matches("(?s).*PushedFilters: \\[\\].*"),
        s"graft reader scan reads unfiltered:\n$plan")
      // k survives (the filter reads it); w must be pruned away
      assert(plan.contains("ReadSchema: struct<k:bigint,v:bigint>"),
        s"graft reader scan did not prune the unused column:\n$plan")
    }
  }

  test("graft reader: a small dim table auto-broadcasts from reported scan statistics") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    withTempDir("graft_plan_bcast_") { dir =>
      val d = s"$dir/dim"
      (0L to 49L).map(k => (k, s"name$k")).toDF("k", "name")
        .repartition(1).write.parquet(d)
      graft.ext.Layout.buildFileManifest(spark, d, Seq("k"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      graft.ext.Layout.enableGenerations(spark, d)
      // NO broadcast hint anywhere: the V2 file scan must REPORT its
      // size (FileScan.estimateStatistics) so the planner's own
      // threshold picks the broadcast — a relation defaulting to
      // "unknown" stats would shuffle both sides, the silent tax
      // that turns every dim join at 100 TB into an exchange
      val dim = spark.read.format("graft").load(d)
      val fact = spark.range(0L, 100000L).toDF("k")
      val j = fact.join(dim, "k")
      j.write.format("noop").mode("overwrite").save()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), plan)
      assert(!plan.contains("SortMergeJoin"), plan)
      // merge-on-read keeps the property: a DV generation substitutes
      // the snapshot plan, whose stats still derive from file scans
      graft.ext.Layout.deleteWhereDv(spark, d,
        Seq(graft.ext.Layout.KeyBox("k", 0L, 4L)))
      val dim2 = spark.read.format("graft").load(d)
      val j2 = fact.join(dim2, "k")
      j2.write.format("noop").mode("overwrite").save()
      val plan2 = j2.queryExecution.executedPlan.toString
      assert(plan2.contains("BroadcastHashJoin"), plan2)
      assert(!plan2.contains("SortMergeJoin"), plan2)
    }
  }

  test("graft reader: manifest stats shrink the V2 file list under a WHERE") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    withTempDir("graft_plan_prune_") { dir =>
      val d = s"$dir/t"
      (0L to 999L).map(k => (k, k * 2)).toDF("k", "v")
        .repartitionByRange(8, col("k")).sortWithinPartitions("k")
        .write.parquet(d)
      graft.ext.Layout.buildFileManifest(spark, d, Seq("k"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      def v2Files(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
            r.scan match {
              case fsc: org.apache.spark.sql.execution.datasources.v2.FileScan =>
                fsc.fileIndex.inputFiles.length
              case _ => 0
            }
        }.sum
      graft.ext.Layout.enableGenerations(spark, d)
      def rd = spark.read.format("graft").load(d)
      assert(v2Files(rd) === 8, "the fixture wants 8 range files")
      // tracked: a key-range WHERE opens only the overlapping file(s)
      // (range boundaries are sampled, so bands may straddle one edge
      // — the assertion is the SHRINK, not an exact layout guess)
      val banded = rd.where(col("k").between(100L, 149L))
      assert(v2Files(banded) <= 2, "the [100,149] band spans ≤ 2 files")
      assert(banded.select("k", "v").as[(Long, Long)].collect().sorted
        .toSeq === (100L to 149L).map(k => (k, k * 2)))
      // half-open bounds prune too (strict widens to closed — superset)
      assert(v2Files(rd.where(col("k") > 900L)) <= 2)
      // equality and IN prune; a non-key column cannot
      assert(v2Files(rd.where(col("k") === 500L)) === 1)
      assert(v2Files(rd.where(col("k").isin(1L, 2L, 3L))) === 1)
      assert(v2Files(rd.where(col("v") > 100L)) === 8)
      // a conjunct on a non-key rides along as residual, key still prunes
      val mixed = rd.where(col("k").between(0L, 99L) && col("v") % 4 === 0)
      assert(v2Files(mixed) <= 2)
      assert(mixed.count() === 50L)
      // provably-empty band: no scan at all, exact empty result
      val empty = rd.where(col("k").between(5000L, 6000L))
      assert(v2Files(empty) === 0)
      assert(empty.count() === 0L)
      // survivors resolve live-or-retired: retire the head of the
      // layout via a delete, then prune a versionAsOf read onto it
      graft.ext.Layout.deleteWhere(spark, d,
        Seq(graft.ext.Layout.KeyBox("k", 0L, 149L)))
      val snap = spark.read.format("graft").option("versionAsOf", "0")
        .load(d).where(col("k").between(100L, 149L))
      assert(v2Files(snap) <= 2 && v2Files(snap) >= 1)
      assert(snap.count() === 50L)
      assert(rd.where(col("k").between(100L, 149L)).count() === 0L)
      // STRING-typed stats prune too (TypedKeyBox translation):
      // a lang-clustered layout under a lang equality/range WHERE
      val ds = s"$dir/s"
      val langs = Seq("ar", "de", "en", "es", "fr", "hi", "ja", "zh")
      (0L to 799L).map(k => (k, langs((k / 100L).toInt)))
        .toDF("id", "lang")
        .repartitionByRange(8, col("lang"), col("id"))
        .sortWithinPartitions("lang", "id")
        .write.parquet(ds)
      graft.ext.Layout.buildFileManifest(spark, ds, Seq("lang"))
        .write.mode("overwrite").parquet(s"$ds/_graft_manifest")
      graft.ext.Layout.enableGenerations(spark, ds)
      def rs = spark.read.format("graft").load(ds)
      assert(v2Files(rs.where(col("lang") === "en")) <= 2)
      val band = rs.where(col("lang") >= "de" && col("lang") <= "es")
      assert(v2Files(band) <= 4 && v2Files(band) >= 1)
      assert(band.count() === 300L, "de+en+es")
      // strict string bounds widen to closed (superset) — exact result
      val strict = rs.where(col("lang") > "de" && col("lang") < "es")
      assert(v2Files(strict) <= 4)
      assert(strict.count() === 100L, "just en")
      // TIMESTAMP-typed stats prune via TsMicrosBox — epoch-micro
      // instants, no string render, so the shrink holds in EVERY
      // session zone (asserted below in a DST zone too)
      val dt = s"$dir/ts"
      spark.range(800)
        .select(col("id"), timestamp_seconds(col("id") * 3600L).as("ts"))
        .repartitionByRange(8, col("ts")).sortWithinPartitions("ts")
        .write.parquet(dt)
      graft.ext.Layout.buildFileManifest(spark, dt, Seq("ts"))
        .write.mode("overwrite").parquet(s"$dt/_graft_manifest")
      graft.ext.Layout.enableGenerations(spark, dt)
      def rt = spark.read.format("graft").load(dt)
      val half = rt.where(
        col("ts") >= lit(java.time.Instant.ofEpochSecond(700L * 3600L)))
      assert(v2Files(half) <= 2, "the tail band opens at most 2 files")
      assert(half.count() === 100L)
      val point = rt.where(
        col("ts") === lit(java.time.Instant.ofEpochSecond(10L * 3600L)))
      assert(v2Files(point) === 1)
      assert(point.count() === 1L)
      // a DST session zone prunes ranges identically (instants, not
      // rendered strings); the string-rendered IN form stays exact
      // but unpruned there — superset contract over precision
      val priorZone = spark.conf.get("spark.sql.session.timeZone")
      try {
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        val halfNy = rt.where(
          col("ts") >= lit(java.time.Instant.ofEpochSecond(700L * 3600L)))
        assert(v2Files(halfNy) <= 2, "DST zone must keep the ts shrink")
        assert(halfNy.count() === 100L)
        // ts IN-lists ride TsMicrosSetBox — instants too, so the
        // point lookup prunes to one file in the DST zone as well
        val inNy = rt.where(col("ts").isin(
          java.sql.Timestamp.from(
            java.time.Instant.ofEpochSecond(10L * 3600L)),
          java.sql.Timestamp.from(
            java.time.Instant.ofEpochSecond(11L * 3600L))))
        assert(v2Files(inNy) === 1)
        assert(inNy.count() === 2L)
      } finally spark.conf.set("spark.sql.session.timeZone", priorZone)
    }
  }

  test("graft reader: a DV-bearing generation keeps manifest skipping (pruned substitution)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    withTempDir("graft_plan_dvprune_") { dir =>
      val d = s"$dir/t"
      (0L to 999L).map(k => (k, k * 2)).toDF("k", "v")
        .repartitionByRange(8, col("k")).sortWithinPartitions("k")
        .write.parquet(d)
      graft.ext.Layout.buildFileManifest(spark, d, Seq("k"))
        .write.mode("overwrite").parquet(s"$d/_graft_manifest")
      graft.ext.Layout.enableGenerations(spark, d)
      val del = graft.ext.Layout.deleteWhereDv(spark, d,
        Seq(graft.ext.Layout.KeyBox("k", 100L, 149L)))
      assert(del.filesVectorized >= 1, s"fixture wants a vectorized file: $del")
      // the substituted merge-on-read plan reads V1 relations — count
      // its DATA files (the anti-joined _graft_dv stores don't count)
      def dataFiles(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location.inputFiles.count(f => !f.contains("_graft_dv"))
              case _ => 0
            }
        }.sum
      def rd = spark.read.format("graft").load(d)
      assert(dataFiles(rd) === 8, "unfiltered DV read resolves all 8 files")
      // a key WHERE becomes readSnapshot's prune boxes:
      // only the overlapping file(s) open — the r16 full-scan gap
      val banded = rd.where(col("k").between(120L, 180L))
      assert(dataFiles(banded) <= 2 && dataFiles(banded) >= 1,
        s"DV'd read must keep data skipping: ${dataFiles(banded)} of 8")
      // …and the DV still applies inside the pruned read: [120,149]
      // deleted, [150,180] live
      assert(banded.select("k").as[Long].collect().sorted.toSeq ===
        (150L to 180L))
      // bare count over the DV generation answers from the manifest
      // (n_rows − dv_rows), zero scans — the count rule runs first
      val cnt = rd.agg(count(lit(1)).as("n"))
      val scans = cnt.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation => r: Any
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r: Any
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l: Any
      }.size
      assert(scans === 0, "DV count(*) must be manifest-answered")
      assert(cnt.as[Long].head() === 950L)
    }
  }

  test("graft reader: typed IN-lists and equality prune; half-open bounds stay exact past year 9999") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    withTempDir("graft_plan_typedin_") { dir =>
      def v2Files(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
            r.scan match {
              case fsc: org.apache.spark.sql.execution.datasources.v2.FileScan =>
                fsc.fileIndex.inputFiles.length
              case _ => 0
            }
        }.sum
      // string-keyed layout: IN-lists prune via TypedKeySetBox — two
      // far-apart langs skip the files between them, where the old
      // range fallback (or no box at all) kept everything
      val ds = s"$dir/s"
      val langs = Seq("ar", "de", "en", "es", "fr", "hi", "ja", "zh")
      (0L to 799L).map(k => (k, langs((k / 100L).toInt)))
        .toDF("id", "lang")
        .repartitionByRange(8, col("lang"), col("id"))
        .sortWithinPartitions("lang", "id")
        .write.parquet(ds)
      graft.ext.Layout.buildFileManifest(spark, ds, Seq("lang"))
        .write.mode("overwrite").parquet(s"$ds/_graft_manifest")
      graft.ext.Layout.enableGenerations(spark, ds)
      def rs = spark.read.format("graft").load(ds)
      val in2 = rs.where(col("lang").isin("ar", "zh"))
      assert(v2Files(in2) <= 4, s"typed IN kept ${v2Files(in2)} of 8 files")
      assert(in2.count() === 200L)
      // null elements drop from the set, never from the result
      val inNull = rs.where(col("lang").isin("de", null))
      assert(v2Files(inNull) <= 2)
      assert(inNull.count() === 100L)
      // date-keyed layout: date IN prunes; half-open date range prunes
      val dd = s"$dir/d"
      (0L to 799L).map(k => (k, java.sql.Date.valueOf(java.time.LocalDate
        .of(2024, 1, 1).plusDays(k / 10L))))
        .toDF("id", "day")
        .repartitionByRange(8, col("day")).sortWithinPartitions("day")
        .write.parquet(dd)
      graft.ext.Layout.buildFileManifest(spark, dd, Seq("day"))
        .write.mode("overwrite").parquet(s"$dd/_graft_manifest")
      graft.ext.Layout.enableGenerations(spark, dd)
      def rdd = spark.read.format("graft").load(dd)
      val dayIn = rdd.where(col("day").isin(
        java.sql.Date.valueOf("2024-01-03"), java.sql.Date.valueOf("2024-03-15")))
      assert(v2Files(dayIn) <= 3, s"date IN kept ${v2Files(dayIn)} of 8")
      assert(dayIn.count() === 20L)
      val dayEq = rdd.where(col("day") === java.sql.Date.valueOf("2024-02-01"))
      assert(v2Files(dayEq) <= 2)
      assert(dayEq.count() === 10L)
      val dayHalf = rdd.where(col("day") >= lit(java.sql.Date.valueOf("2024-03-10")))
      assert(v2Files(dayHalf) <= 2, s"half-open date kept ${v2Files(dayHalf)}")
      // the superset CONTRACT at the domain edge: rows past year 9999
      // must survive a half-open lower bound (the r16 sentinel
      // '9999-12-31 …' wrongly pruned them; now the missing side
      // simply emits no comparison)
      val dt = s"$dir/far"
      // two APPENDS: exactly one file per era, deterministically
      Seq((1L, java.time.Instant.parse("2024-06-01T00:00:00Z")))
        .toDF("id", "ts").coalesce(1).write.parquet(dt)
      Seq((2L, java.time.Instant.parse("+10123-01-01T00:00:00Z")))
        .toDF("id", "ts").coalesce(1).write.mode("append").parquet(dt)
      graft.ext.Layout.buildFileManifest(spark, dt, Seq("ts"))
        .write.mode("overwrite").parquet(s"$dt/_graft_manifest")
      graft.ext.Layout.enableGenerations(spark, dt)
      val far = spark.read.format("graft").load(dt)
        .where(col("ts") > lit(java.time.Instant.parse("2025-01-01T00:00:00Z")))
      assert(far.select("id").as[Long].collect().toSeq === Seq(2L),
        "a post-9999 row must survive a half-open lower bound")
      assert(v2Files(far) === 1, "…and the 2024 file still prunes away")
    }
  }

  test("aggregations are partial (map-side combine) before the shuffle") {
    val plan = finalPlan("q_pricing_summary")
    // partial + final HashAggregate pair around one exchange
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert(plan.contains("Exchange hashpartitioning"), plan)
  }

  test("jaccard candidates come from the ranked prefix, never a cross join") {
    // (AQE reuses the identical shingle shuffle stages at runtime, but
    // its plan rendering expands every occurrence, so exchange reuse
    // is not string-assertable here — the shape of candidate
    // generation is.)
    val plan = finalPlan("q_dd_jaccard")
    assert(plan.contains("row_number"), s"prefix ranking window missing:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"candidate generation degenerated to a cross join:\n$plan")
  }

  test("containment candidates: prefix on the contained side only, never a cross join") {
    val plan = finalPlan("q_dd_containment")
    assert(plan.contains("row_number"), s"prefix ranking window missing:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"candidate generation degenerated to a cross join:\n$plan")
  }

  test("correlated scalar subquery decorrelates into an aggregate + join") {
    val plan = finalPlan("q_correlated_subq")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("ScalarSubquery"),
      s"subquery executed per outer row instead of decorrelating:\n$plan")
  }

  test("curation pipeline stays off CartesianProduct and off full sorts") {
    val plan = finalPlan("q_curate_pipeline")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("curation shingles the corpus exactly once (pair join scans the materialized table)") {
    // the checkpointed form materializes the shingle table to parquet
    // in one eager job; the returned plan must READ that parquet for
    // the pair join (which references the shingle frame four times)
    // and never re-run the text explode
    val plan = finalPlan("q_curate_pipeline")
    assert(plan.contains("curation_shingles"),
      s"pair join does not scan the materialized shingle table:\n$plan")
    assert(!plan.toLowerCase.contains("wordshingles"),
      s"a stage re-derives shingles from text:\n$plan")
  }

  test("e2e pipeline: every stage scans materialized intermediates; packing has no global window") {
    val plan = finalPlan("q_pipeline_e2e")
    // the corpus is shingled once into <scratch>/shingles, and since
    // opt r17 the decontaminated corpus is materialized too
    // (<scratch>/clean): the final frame scans the clean parquet and
    // the cluster labels — the decontamination join and the shingle
    // explode must not re-run inside it
    assert(plan.contains("clean"),
      s"the final frame does not scan the materialized clean corpus:\n$plan")
    assert(!plan.toLowerCase.contains("wordshingles"),
      s"a stage silently re-explodes text into shingles:\n$plan")
    // the packing running total is the two-phase distributed prefix
    // sum — a plan-wide single-partition exchange would mean it
    // regressed to a global window
    assert(!plan.contains("Exchange SinglePartition"),
      s"packing regressed to a single-partition global window:\n$plan")
  }

  test("collocations: bigrams come from array-zip, never a self-join or window sort") {
    val plan = finalPlan("q_tx_colloc")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("row_number"), s"bigram generation used a window sort:\n$plan")
    // the 1-row token total rides a broadcast nested loop, not a shuffle
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("range join: interval binning plans as a hash equi-join, never nested-loop") {
    // the naive lo <= pt < hi predicate has no equi-condition, so
    // Spark would plan BroadcastNestedLoopJoin evaluating |L|·|R|
    // pairs; the binning decomposition must keep it an equi-join on
    // the bucket (hash or sort-merge, either is shuffle-partitioned)
    val plan = finalPlan("q_join_range")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"range join degenerated to a nested loop:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("bloom prefilter: bitset broadcasts, probe filter precedes a broadcast semi join") {
    val plan = finalPlan("q_join_bloom")
    // the 1-row bloom frame rides a broadcast nested-loop cross join,
    // the probe test (variable-shift bit probe) filters lineitem, and
    // the exactness-restoring semi join stays broadcast — nothing
    // shuffles the fact side before the filter
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("shiftright"), s"bloom probe filter missing:\n$plan")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"), plan)
    assert(!plan.contains("SortMergeJoin"), s"semi join fell back to a shuffle join:\n$plan")
  }

  test("bm25: query-term pruning broadcasts; persisted index pushes the term filter to the scan") {
    val batch = finalPlan("q_ir_bm25_batch")
    // query terms and per-term df both broadcast — a shuffle join on
    // term would re-partition the postings on the skew-prone key
    assert(batch.contains("LeftSemi"), batch)
    assert(!batch.contains("SortMergeJoin"), s"postings re-shuffled on term:\n$batch")
    assert(!batch.contains("CartesianProduct"), batch)
    // the persisted-index path: the literal IN filter must reach the
    // postings parquet scan as a pushed filter, so serving a query
    // reads only the matched term stripes, never the whole index
    val idx = finalPlan("q_ir_index")
    assert(idx.contains("PushedFilters: [In(term"),
      s"term filter not pushed to the index scan:\n$idx")
  }

  test("prf: both scoring passes and the feedback harvest stay on broadcast joins") {
    val plan = finalPlan("q_ir_prf")
    assert(!plan.contains("SortMergeJoin"),
      s"a PRF stage re-shuffled the postings:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("LeftAnti"), s"query-term exclusion missing:\n$plan")
  }

  test("dsir: log-ratio table broadcasts into scoring; top-k is TakeOrdered") {
    val plan = finalPlan("q_sample_dsir")
    assert(plan.contains("TakeOrderedAndProject"),
      s"selection fell back to a global sort:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the <=1024-row log-ratio table re-shuffled the doc buckets:\n$plan")
  }

  test("waterfill: per-source prefix stays on the two-phase running total") {
    val plan = finalPlan("q_sample_waterfill_docs")
    // a Window node without a partitionSpec renders as
    // `Window [funcs], [order]` (two bracket groups) vs the
    // partitioned `Window [funcs], [partition], [order]` — any
    // global window here means the distributed prefix sum regressed
    val globalWindows = plan.linesIterator
      .filter(_.contains("+- Window ["))
      .filter(l => "\\], \\[".r.findAllMatchIn(l).length < 2)
      .toSeq
    assert(globalWindows.isEmpty,
      s"unpartitioned window in the prefix-sum plan:\n${globalWindows.mkString("\n")}")
    assert(!plan.contains("SortMergeJoin"),
      s"the allocation/starts tables re-shuffled the corpus:\n$plan")
  }

  test("semantic decontam: corpus is never exchanged; knn stays on the bucket equi-join") {
    val plan = finalPlan("q_sim_decontam")
    // eval folds into one broadcast array + one broadcast join; the
    // remaining exchanges are the eval-sized SinglePartition fold and
    // the final presentation range sort — a hashpartitioning exchange
    // would mean the CORPUS got shuffled
    val exchanges = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.isEmpty,
      s"decontam shuffled the corpus:\n${exchanges.mkString("\n")}")
    assert(!plan.contains("SortMergeJoin"), plan)
    val knn = finalPlan("q_sim_knn")
    assert(!knn.contains("CartesianProduct"),
      s"knn bucket join degraded to a cartesian product:\n$knn")
  }

  test("span stripper: boilerplate set broadcasts into the anti join") {
    val plan = finalPlan("q_dd_spans")
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"anti join re-shuffled the corpus on the span text:\n$plan")
  }
}
