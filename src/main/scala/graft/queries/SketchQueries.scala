package graft.queries

import graft.QueryDef
import graft.ext.{Layout, Sketches, TextAnalysis}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sketch gate queries — the portable-hash variants of the HLL and
  * CMS aggregates, value-checked against DuckDB twins that re-derive
  * the full sketch (registers / counter matrix) in plain SQL. The
  * xxhash64 production variants get property tests in SketchesSpec
  * (accuracy, partition independence, merge) instead.
  */
object SketchQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir).table(n)

  /** Per-JVM cache of the Z-ordered lineitem copy's PATH, keyed by
    * source dir. The clustered write + durable manifest
    * ([[Layout.write]] with `manifestKeys`) happen ONCE — their
    * real-world cadence is write/OPTIMIZE time, not per query — so
    * bench reps of q_layout_pruned_read time the READ path the
    * manifest exists to serve (which re-reads the STORED manifest
    * each time: the cold-reader planning cost, a file-count-sized
    * parquet read). Only the path is cached, never a DataFrame — a
    * cached frame would pin the SparkSession that built it and break
    * under session restart within one JVM. */
  private val prunedFixture =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** (l_partkey, l_suppkey) min/max as 16-bit normalization bounds —
    * the same 4-value bounded collect Layout.write performs (plan
    * literals, like broadcast centroids). A dimension whose stats
    * collapse to null (empty table or all-null keys) degenerates to
    * (0, 0) → constant-0 normalization, PER DIMENSION — mirrored by
    * the layout oracles' `phi IS NULL OR phi = plo` CASE, so a
    * single all-null key column produces identical (zeroed) codes in
    * both engines. Shared by q_layout_skipping and q_layout_depth:
    * the guard semantics and the oracle CASE must not fork. */
  private def zBounds16(li: DataFrame): ((Long, Long), (Long, Long)) = {
    val row = li
      .agg(min("l_partkey").cast("long"), max("l_partkey").cast("long"),
        min("l_suppkey").cast("long"), max("l_suppkey").cast("long"))
      .collect()(0)
    def dim(i: Int): (Long, Long) =
      if (row.isNullAt(i) || row.isNullAt(i + 1)) (0L, 0L)
      else (row.getLong(i), row.getLong(i + 1))
    (dim(0), dim(2))
  }

  private def zorderedLineitem(s: SparkSession, d: String): String =
    prunedFixture.computeIfAbsent(d, _ => {
      val zdir = graft.Scratch.tempDir("graft_zli_") + "/lineitem"
      Layout.write(t(s, d, "lineitem"), zdir,
        Seq(col("l_partkey"), col("l_suppkey")), files = 16,
        manifestKeys = Seq("l_partkey", "l_suppkey"))
      zdir
    })

  /** lineitem time-clustered (range-partitioned + sorted on ship
    * date) with a stored manifest keyed on BOTH temporal encodings —
    * the derived DateType day and the raw timestamp — serving the
    * date- and timestamp-box pruned-read gates. Time-range pruning is
    * the #1 skipping predicate on a 100 TB fact table; this fixture
    * is the write/OPTIMIZE side (cached per JVM like
    * [[zorderedLineitem]]), the gates time the read side. */
  private def timeClusteredLineitem(s: SparkSession, d: String): String =
    prunedFixture.computeIfAbsent(s"$d#li_time", _ => {
      val dir = graft.Scratch.tempDir("graft_tli_") + "/lineitem"
      t(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"),
          col("l_shipdate"), to_date(col("l_shipdate")).as("l_shipd"))
        .repartitionByRange(8, col("l_shipd"))
        .sortWithinPartitions("l_shipd")
        .write.mode("overwrite").parquet(dir)
      Layout.buildFileManifest(s, dir, Seq("l_shipd", "l_shipdate"))
        .write.mode("overwrite").parquet(s"$dir/_graft_manifest")
      dir
    })

  /** documents range-clustered on the string `lang` key with a
    * string-stats manifest — the string-bounds pruning fixture. */
  private def langClusteredDocs(s: SparkSession, d: String): String =
    prunedFixture.computeIfAbsent(s"$d#docs_lang", _ => {
      val dir = graft.Scratch.tempDir("graft_ldocs_") + "/documents"
      t(s, d, "documents").select("doc_id", "lang", "n_chars")
        .repartitionByRange(8, col("lang"))
        .sortWithinPartitions("lang")
        .write.mode("overwrite").parquet(dir)
      Layout.buildFileManifest(s, dir, Seq("lang"))
        .write.mode("overwrite").parquet(s"$dir/_graft_manifest")
      dir
    })

  /** documents with a deterministically NULLED lang slice
    * (`doc_id % 37 = 0`), range-clustered on lang with a stored
    * manifest, and ONE [[Layout.deleteWhere]] of the ['de','es'] lang
    * box applied at build time — the delete-verb fixture. The null
    * slice is what makes the gate a real three-valued-logic check:
    * SQL `DELETE WHERE` must NOT delete null-key rows (the predicate
    * is unknown, not true), and the manifest's per-key null counts
    * are what let the delete prove which files it may drop unopened.
    * Cached per JVM like the other layout fixtures, so bench reps
    * time the post-delete READ, not the rewrite. */
  private def deletedLangDocs(s: SparkSession, d: String): String =
    prunedFixture.computeIfAbsent(s"$d#docs_del", _ => {
      val dir = graft.Scratch.tempDir("graft_deldocs_") + "/documents"
      t(s, d, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 37 === 0, lit(null))
            .otherwise(col("lang")).as("lang"),
          col("n_chars"))
        .repartitionByRange(8, col("lang"))
        .sortWithinPartitions("lang")
        .write.mode("overwrite").parquet(dir)
      Layout.buildFileManifest(s, dir, Seq("lang"))
        .write.mode("overwrite").parquet(s"$dir/_graft_manifest")
      val st = Layout.deleteWhere(s, dir,
        Seq(Layout.TypedKeyBox("lang", "de", "es")))
      require(st.rowsDeleted > 0,
        s"delete fixture degenerate — nothing deleted: $st")
      dir
    })

  /** The shared pruned-read gate shape — identical box, aggregation,
    * and oracle — parameterized on which clustered fixture serves it:
    * "same read contract, different curve" stated directly, so a box
    * or rounding change cannot silently decouple the two gates. */
  private def prunedReadFn(fixture: (SparkSession, String) => String)
      : (SparkSession, String) => DataFrame = (s, d) =>
    Layout.scanPruned(s, fixture(s, d),
        Seq(Layout.KeyBox("l_partkey", 100L, 400L),
          Layout.KeyBox("l_suppkey", 10L, 40L)))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("l_extendedprice")), 2).as("revenue"))
      .orderBy("l_returnflag")

  private val prunedReadOracle =
    """SELECT l_returnflag, count(*) AS n_rows,
      |  round(sum(l_extendedprice), 2) AS revenue
      |FROM lineitem
      |WHERE l_partkey BETWEEN 100 AND 400 AND l_suppkey BETWEEN 10 AND 40
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** lineitem Hilbert-clustered on (partkey, suppkey) with its
    * manifest — the jump-free-curve fixture; the read path is
    * curve-agnostic, so the gate reuses scanPruned unchanged. */
  private def hilbertLineitem(s: SparkSession, d: String): String =
    prunedFixture.computeIfAbsent(s"$d#li_hilbert", _ => {
      val dir = graft.Scratch.tempDir("graft_hli_") + "/lineitem"
      Layout.write(t(s, d, "lineitem"), dir,
        Seq(col("l_partkey"), col("l_suppkey")), files = 16,
        Layout.Curve.Hilbert, manifestKeys = Seq("l_partkey", "l_suppkey"))
      dir
    })

  /** lineitem 3-D Z-ordered on (partkey, suppkey, orderkey) with a
    * three-key manifest — the k-ary interleave fixture; the gate
    * prunes on the THIRD key alone. */
  private def zordered3Lineitem(s: SparkSession, d: String): String =
    prunedFixture.computeIfAbsent(s"$d#li_z3", _ => {
      val dir = graft.Scratch.tempDir("graft_z3li_") + "/lineitem"
      Layout.write(
        t(s, d, "lineitem").select("l_orderkey", "l_partkey", "l_suppkey",
          "l_returnflag", "l_extendedprice"),
        dir, Seq(col("l_partkey"), col("l_suppkey"), col("l_orderkey")),
        files = 32,
        manifestKeys = Seq("l_partkey", "l_suppkey", "l_orderkey"))
      dir
    })

  /** Shared churned generation-tracked documents layout for the CDF
    * and DESCRIBE HISTORY gates: three commits — a band delete
    * (gen 1), a 10-row CDC update (gen 2), a 50-row append of fresh
    * ids (gen 3) — whose replay both oracles re-derive. ONE builder
    * so the two gates can never drift on the fixture they share. */
  private def cdfChurnedDocs(s: SparkSession, d: String): String =
    prunedFixture.computeIfAbsent(s"$d#docs_cdf", _ => {
      val p = graft.Scratch.tempDir("graft_cdf_") + "/documents"
      val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
      docs.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(p)
      Layout.buildFileManifest(s, p, Seq("doc_id"))
        .write.mode("overwrite").parquet(s"$p/_graft_manifest")
      Layout.enableGenerations(s, p)
      val del = Layout.deleteWhere(s, p,
        Seq(Layout.KeyBox("doc_id", 100L, 199L)))
      val upd = docs.filter(col("doc_id").between(200, 209))
        .withColumn("n_chars", col("n_chars") + lit(1000))
      val up = Layout.upsertByKey(s, p, upd, "doc_id")
      val app = docs.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + lit(500000L))
      Layout.appendWithManifest(app, p, Seq("doc_id"))
      require(del.rowsDeleted > 0L && up.rowsUpserted == 10L &&
          Layout.currentGeneration(s, p) == 3L,
        s"degenerate fixture: $del / $up / " +
          s"gen=${Layout.currentGeneration(s, p)}")
      p
    })

  /** Deletion-vector fixture: the documents table range-clustered on
    * doc_id, generation-tracked, then a band deleted MERGE-ON-READ
    * ([[Layout.deleteWhereDv]] — positions recorded, files kept
    * byte-identical). The build REQUIRES at least one vectorized file
    * and zero rewrites, so every gate over it genuinely exercises the
    * vector read path, not a degenerate all-covered drop. */
  /** 8-file doc_id-range-clustered, generation-tracked documents
    * layout — the [[q_layout_reader_prune]] fixture (pruning needs a
    * TRACKED manifest: an untracked one mutates in place under the
    * relation, so the rule leaves it alone). */
  private def readerPruneDocs(s: SparkSession, d: String): String =
    prunedFixture.computeIfAbsent(s"$d#docs_rprune", _ => {
      val p = graft.Scratch.tempDir("graft_rprune_") + "/documents"
      t(s, d, "documents").select("doc_id", "lang", "n_chars")
        .repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(p)
      Layout.buildFileManifest(s, p, Seq("doc_id"))
        .write.mode("overwrite").parquet(s"$p/_graft_manifest")
      Layout.enableGenerations(s, p)
      p
    })

  private def dvDocs(s: SparkSession, d: String): String =
    prunedFixture.computeIfAbsent(s"$d#docs_dv", _ => {
      val p = graft.Scratch.tempDir("graft_dv_") + "/documents"
      val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
      docs.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(p)
      Layout.buildFileManifest(s, p, Seq("doc_id"))
        .write.mode("overwrite").parquet(s"$p/_graft_manifest")
      Layout.enableGenerations(s, p)
      val before = s.read.parquet(p).inputFiles.toSet
      val del = Layout.deleteWhereDv(s, p,
        Seq(Layout.KeyBox("doc_id", 100L, 199L)))
      require(del.filesVectorized >= 1 && del.rowsDeleted > 0L &&
          s.read.parquet(p).inputFiles.toSet.intersect(before).nonEmpty &&
          Layout.currentGeneration(s, p) == 1L,
        s"degenerate DV fixture: $del")
      p
    })

  /** [[dvDocs]] continued past a PURGE: a file-subset OPTIMIZE
    * ([[Layout.optimizeSelective]]) rewrites the vectorized files
    * with their vectors applied (gen 2), RETIRING them — so a
    * generation-1 read exercises the hard path: the retired file
    * resolves under its retirement label and the vector's recorded
    * path is remapped onto it. */
  private def dvPurgedDocs(s: SparkSession, d: String): String =
    prunedFixture.computeIfAbsent(s"$d#docs_dv_purged", _ => {
      val p = graft.Scratch.tempDir("graft_dvpurge_") + "/documents"
      val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
      docs.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(p)
      Layout.buildFileManifest(s, p, Seq("doc_id"))
        .write.mode("overwrite").parquet(s"$p/_graft_manifest")
      Layout.enableGenerations(s, p)
      val del = Layout.deleteWhereDv(s, p,
        Seq(Layout.KeyBox("doc_id", 100L, 199L)))
      val opt = Layout.optimizeSelective(s, p, targetRows = 100000L)
      require(del.filesVectorized >= 1 && opt.reclustered &&
          Layout.currentGeneration(s, p) == 2L &&
          Layout.loadManifest(s, p)
            .filter(col("dv_path").isNotNull).count() == 0L,
        s"degenerate purge fixture: $del / $opt")
      p
    })

  /** Shared rolling-hash SQL fragment: 31-polynomial over codepoints
    * mod 1e9+7 — the DuckDB twin of
    * [[graft.functions.TextExpressions.rollingHash]]. */
  private def rhSql(expr: String): String =
    s"""list_reduce(
       |      list_prepend(0::BIGINT, list_transform(range(1, length($expr) + 1),
       |                   i -> unicode(substr($expr, i, 1))::BIGINT)),
       |      (h, c) -> (h * 31 + c) % 1000000007)""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    // Portable HyperLogLog: per-language distinct-text estimate from
    // a 64-register sketch vs the exact count. The oracle re-derives
    // register indexes, leading-zero ranks, and the raw estimate —
    // every 2^-register term is an exact double, so the doubles
    // match bit-for-bit before the round(4).
    QueryDef("q_agg_hll",
      (s, d) => {
        val docs = t(s, d, "documents")
        docs.select(col("lang"), col("text"),
            Sketches.uhash(TextAnalysis.rollingHash(col("text")), 100).as("h"))
          .groupBy("lang")
          .agg(countDistinct(col("text")).as("n_exact"),
               round(Sketches.hllDistinctPortable(col("h")), 4).as("hll_est"))
          .orderBy("lang")
      },
      Some(s"""WITH hx AS (
              |  SELECT lang, text,
              |    ((16807::BIGINT * ((16807::BIGINT * 201) % 2147483647)) % 2147483647
              |       * ${rhSql("text")}
              |     + (16807::BIGINT * ((16807::BIGINT * 202) % 2147483647)) % 2147483647)
              |    % 1000000007 AS h
              |  FROM documents),
              |reg AS (
              |  SELECT lang, (h % 64) AS j,
              |    max(CASE WHEN h // 64 = 0 THEN 25
              |        ELSE 24 - floor(log2(h // 64))::INT END) AS rho
              |  FROM hx GROUP BY 1, 2),
              |grid AS (
              |  SELECT l.lang, g.j
              |  FROM (SELECT DISTINCT lang FROM documents) l
              |  CROSS JOIN range(0, 64) g(j)),
              |est AS (
              |  SELECT grid.lang,
              |    round(0.709 * 64 * 64
              |          / sum(1.0 / (1::BIGINT << coalesce(rho, 0))), 4) AS hll_est
              |  FROM grid LEFT JOIN reg ON grid.lang = reg.lang AND grid.j = reg.j
              |  GROUP BY 1),
              |ex AS (SELECT lang, count(DISTINCT text) AS n_exact
              |       FROM documents GROUP BY lang)
              |SELECT est.lang AS lang, n_exact, hll_est
              |FROM est JOIN ex ON est.lang = ex.lang ORDER BY est.lang""".stripMargin)),

    // HLL over INTEGER keys (distinct users per event type) — the
    // analytics shape: no rolling hash, just the universal family
    // over the reduced key. Same oracle structure as q_agg_hll with
    // `user_id mod P` in place of the text hash.
    QueryDef("q_agg_hll_events",
      (s, d) => t(s, d, "events")
        .select(col("event_type"), col("user_id"),
          Sketches.uhash(Sketches.keyHash(col("user_id")), 100).as("h"))
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"),
             round(Sketches.hllDistinctPortable(col("h")), 4).as("hll_est"))
        .orderBy("event_type"),
      Some("""WITH hx AS (
             |  SELECT event_type, user_id,
             |    ((16807::BIGINT * ((16807::BIGINT * 201) % 2147483647)) % 2147483647
             |       * (user_id % 1000000007)
             |     + (16807::BIGINT * ((16807::BIGINT * 202) % 2147483647)) % 2147483647)
             |    % 1000000007 AS h
             |  FROM events),
             |reg AS (
             |  SELECT event_type, (h % 64) AS j,
             |    max(CASE WHEN h // 64 = 0 THEN 25
             |        ELSE 24 - floor(log2(h // 64))::INT END) AS rho
             |  FROM hx GROUP BY 1, 2),
             |grid AS (
             |  SELECT e.event_type, g.j
             |  FROM (SELECT DISTINCT event_type FROM events) e
             |  CROSS JOIN range(0, 64) g(j)),
             |est AS (
             |  SELECT grid.event_type,
             |    round(0.709 * 64 * 64
             |          / sum(1.0 / (1::BIGINT << coalesce(rho, 0))), 4) AS hll_est
             |  FROM grid LEFT JOIN reg
             |    ON grid.event_type = reg.event_type AND grid.j = reg.j
             |  GROUP BY 1),
             |ex AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
             |       FROM events GROUP BY event_type)
             |SELECT est.event_type AS event_type, n_exact, hll_est
             |FROM est JOIN ex ON est.event_type = ex.event_type
             |ORDER BY est.event_type""".stripMargin)),

    // Batch twin of the STREAMING distinct monitor, through the very
    // function the stream runs (`TextStreams.distinctMonitor` —
    // withWatermark is analyzer-eliminated on a static frame, so the
    // gated plan is the streaming plan minus the state store), in its
    // portable-sketch form: per-hour event counts + m=64 HLL distinct
    // users. The oracle re-derives every hourly register set; paired
    // with StreamingSpec's stream-equals-batch assertion this closes
    // the loop driver-gate → batch twin → streaming monitor.
    QueryDef("q_ev_distinct_monitor",
      (s, d) => {
        val ev = t(s, d, "events").select(col("ts"),
          Sketches.uhash(Sketches.keyHash(col("user_id")), 100).as("h"))
        graft.streaming.TextStreams.distinctMonitor(ev, "h",
          windowLen = "1 hour", portable = true)
          .orderBy("win_start")
      },
      Some("""WITH hx AS (
             |  SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start,
             |    ((16807::BIGINT * ((16807::BIGINT * 201) % 2147483647)) % 2147483647
             |       * (user_id % 1000000007)
             |     + (16807::BIGINT * ((16807::BIGINT * 202) % 2147483647)) % 2147483647)
             |    % 1000000007 AS h
             |  FROM events),
             |reg AS (
             |  SELECT win_start, (h % 64) AS j,
             |    max(CASE WHEN h // 64 = 0 THEN 25
             |        ELSE 24 - floor(log2(h // 64))::INT END) AS rho
             |  FROM hx GROUP BY 1, 2),
             |grid AS (
             |  SELECT w.win_start, g.j
             |  FROM (SELECT DISTINCT win_start FROM hx) w
             |  CROSS JOIN range(0, 64) g(j)),
             |est AS (
             |  SELECT grid.win_start,
             |    round(0.709 * 64 * 64
             |          / sum(1.0 / (1::BIGINT << coalesce(rho, 0))), 4) AS approx_distinct
             |  FROM grid LEFT JOIN reg
             |    ON grid.win_start = reg.win_start AND grid.j = reg.j
             |  GROUP BY 1),
             |n AS (SELECT win_start, count(*) AS n_events FROM hx GROUP BY 1)
             |SELECT est.win_start AS win_start, n_events, approx_distinct
             |FROM est JOIN n ON est.win_start = n.win_start
             |ORDER BY est.win_start""".stripMargin)),

    // Sketch lifecycle: per-language register ARRAYS materialize
    // (what a daily pipeline would persist — 64 ints per stratum),
    // then merge by elementwise max into one global sketch whose
    // estimate must equal the direct whole-corpus sketch exactly
    // (register max commutes with the per-key max that built each
    // side). The oracle re-derives per-language registers, max-merges
    // across languages, and applies the same raw estimator.
    QueryDef("q_agg_hll_merge",
      (s, d) => {
        val hashed = t(s, d, "documents")
          .select(col("lang"),
            Sketches.uhash(TextAnalysis.rollingHash(col("text")), 100).as("h"))
        val perLang = hashed.groupBy("lang")
          .agg(Sketches.hllRegistersPortable(col("h")).as("regs"))
        val merged = perLang
          .agg(Sketches.hllMergeRegisters(col("regs")).as("m"))
          .select(round(Sketches.hllEstimateFromRegisters(col("m")), 4).as("merged_est"))
        val direct = hashed
          .agg(round(Sketches.hllDistinctPortable(col("h")), 4).as("direct_est"))
        merged.crossJoin(direct)
      },
      Some(s"""WITH hx AS (
              |  SELECT lang,
              |    ((16807::BIGINT * ((16807::BIGINT * 201) % 2147483647)) % 2147483647
              |       * ${rhSql("text")}
              |     + (16807::BIGINT * ((16807::BIGINT * 202) % 2147483647)) % 2147483647)
              |    % 1000000007 AS h
              |  FROM documents),
              |reg AS (
              |  SELECT lang, (h % 64) AS j,
              |    max(CASE WHEN h // 64 = 0 THEN 25
              |        ELSE 24 - floor(log2(h // 64))::INT END) AS rho
              |  FROM hx GROUP BY 1, 2),
              |merged AS (SELECT j, max(rho) AS rho FROM reg GROUP BY j),
              |grid AS (SELECT g.j, coalesce(m.rho, 0) AS rho
              |         FROM range(0, 64) g(j) LEFT JOIN merged m ON g.j = m.j),
              |est AS (
              |  SELECT round(0.709 * 64 * 64
              |               / sum(1.0 / (1::BIGINT << rho)), 4) AS e
              |  FROM grid)
              |SELECT e AS merged_est, e AS direct_est FROM est""".stripMargin)),

    // Portable count–min sketch: one 4×512 counter matrix over the
    // full token stream (8 KiB of aggregate state however many tokens
    // stream in), then point estimates for the 20 most frequent
    // tokens. The oracle rebuilds the counter matrix and takes the
    // same min-over-rows — estimates are exact integers, and the gate
    // proves est ≥ true by construction on both sides.
    QueryDef("q_agg_cms",
      (s, d) => {
        val toks = t(s, d, "documents")
          .select(explode(split(lower(col("text")), "\\s+")).as("tok"))
          .filter(length(col("tok")) > 0)
          .withColumn("x", TextAnalysis.rollingHash(col("tok")))
        val sk = toks.agg(Sketches.cmsSketch(col("x"), d = 4, w = 512).as("sk"))
        val top = toks.groupBy("tok")
          .agg(count(lit(1)).as("true_cnt"), min(col("x")).as("x"))
          .orderBy(desc("true_cnt"), asc("tok")).limit(20)
        top.crossJoin(broadcast(sk))
          .select(col("tok"), col("true_cnt"),
            Sketches.cmsEstimate(col("sk"), col("x"), d = 4, w = 512).as("cms_est"))
          .orderBy(desc("true_cnt"), asc("tok"))
      },
      Some(s"""WITH toks AS (
              |  SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
              |                            t -> len(t) > 0)) AS tok
              |  FROM documents),
              |cnt AS (SELECT tok, count(*) AS true_cnt FROM toks GROUP BY tok),
              |hx AS (
              |  SELECT tok, true_cnt, ${rhSql("tok")} AS x
              |  FROM cnt),
              |consts AS (
              |  SELECT i,
              |    (16807 * ((16807 * (301 + 2*i)) % 2147483647)) % 2147483647 AS a,
              |    (16807 * ((16807 * (302 + 2*i)) % 2147483647)) % 2147483647 AS b
              |  FROM range(0, 4) t(i)),
              |tb AS (
              |  SELECT tok, true_cnt, i, ((a * x + b) % 1000000007) % 512 AS bkt
              |  FROM hx CROSS JOIN consts),
              |counters AS (
              |  SELECT i, bkt, sum(true_cnt)::BIGINT AS c FROM tb GROUP BY 1, 2),
              |est AS (
              |  SELECT tok, max(true_cnt) AS true_cnt, min(c) AS cms_est
              |  FROM tb JOIN counters USING (i, bkt) GROUP BY tok)
              |SELECT tok, true_cnt, cms_est FROM est
              |ORDER BY true_cnt DESC, tok LIMIT 20""".stripMargin),
      bench = true),

    // CMS lifecycle: per-language counter matrices merge by
    // elementwise sum into the global sketch (linearity of counting),
    // so estimates off the merged matrix equal estimates off a
    // direct whole-corpus sketch. Output: the top-10 tokens'
    // estimates from BOTH paths — the gate fails if merge loses a
    // single count anywhere that affects any estimate.
    QueryDef("q_agg_cms_merge",
      (s, d) => {
        val toks = t(s, d, "documents")
          .select(col("lang"), explode(split(lower(col("text")), "\\s+")).as("tok"))
          .filter(length(col("tok")) > 0)
          .withColumn("x", TextAnalysis.rollingHash(col("tok")))
        val merged = toks.groupBy("lang")
          .agg(Sketches.cmsSketch(col("x"), d = 4, w = 512).as("sk"))
          .agg(Sketches.cmsMerge(col("sk")).as("sk"))
        val direct = toks.agg(Sketches.cmsSketch(col("x"), d = 4, w = 512).as("skd"))
        val top = toks.groupBy("tok")
          .agg(count(lit(1)).as("true_cnt"), min(col("x")).as("x"))
          .orderBy(desc("true_cnt"), asc("tok")).limit(10)
        top.crossJoin(broadcast(merged)).crossJoin(broadcast(direct))
          .select(col("tok"), col("true_cnt"),
            Sketches.cmsEstimate(col("sk"), col("x"), 4, 512).as("merged_est"),
            Sketches.cmsEstimate(col("skd"), col("x"), 4, 512).as("direct_est"))
          .orderBy(desc("true_cnt"), asc("tok"))
      },
      Some(s"""WITH toks AS (
              |  SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
              |                            t -> len(t) > 0)) AS tok
              |  FROM documents),
              |cnt AS (SELECT tok, count(*) AS true_cnt FROM toks GROUP BY tok),
              |hx AS (
              |  SELECT tok, true_cnt, ${rhSql("tok")} AS x
              |  FROM cnt),
              |consts AS (
              |  SELECT i,
              |    (16807 * ((16807 * (301 + 2*i)) % 2147483647)) % 2147483647 AS a,
              |    (16807 * ((16807 * (302 + 2*i)) % 2147483647)) % 2147483647 AS b
              |  FROM range(0, 4) t(i)),
              |tb AS (
              |  SELECT tok, true_cnt, i, ((a * x + b) % 1000000007) % 512 AS bkt
              |  FROM hx CROSS JOIN consts),
              |counters AS (
              |  SELECT i, bkt, sum(true_cnt)::BIGINT AS c FROM tb GROUP BY 1, 2),
              |est AS (
              |  SELECT tok, max(true_cnt) AS true_cnt, min(c) AS e
              |  FROM tb JOIN counters USING (i, bkt) GROUP BY tok)
              |SELECT tok, true_cnt, e AS merged_est, e AS direct_est FROM est
              |ORDER BY true_cnt DESC, tok LIMIT 10""".stripMargin)),

    // MAD outlier screen: per event type, values beyond
    // 3·1.4826·MAD of the histogram median — both medians from the
    // mergeable 64-bin counter frame (no per-group buffering). The
    // oracle replays both histogram passes and the flag rule.
    // Exact per-group WEIGHTED median
    // ([[graft.ops.RelationalOps.weightedMedian]]): smallest
    // extendedprice whose cumulative quantity reaches half the
    // return-flag group's total quantity. Integer weights make the
    // crossing test all-int64; the selected value is a data value
    // (never computed), so both engines agree bit-for-bit.
    QueryDef("q_agg_wmedian",
      (s, d) => graft.ops.RelationalOps.weightedMedian(
          t(s, d, "lineitem"), col("l_returnflag"),
          col("l_extendedprice"), col("l_quantity").cast("long"))
        .withColumnRenamed("group", "l_returnflag")
        .orderBy("l_returnflag"),
      Some("""WITH r AS (
             |  SELECT l_returnflag, l_extendedprice,
             |    sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_returnflag
             |      ORDER BY l_extendedprice
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             |    sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_returnflag) AS tw
             |  FROM lineitem)
             |SELECT l_returnflag, CAST(min(l_extendedprice) AS DOUBLE) AS weighted_median
             |FROM r WHERE 2 * cw >= tw GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin), bench = true),

    QueryDef("q_agg_mad",
      (s, d) => graft.ext.Sketches.madOutliers(
          t(s, d, "events"), col("event_type"), col("value"),
          lo = 0.0, hi = 512.0, bins = 64)
        .withColumnRenamed("k", "event_type")
        .orderBy("event_type"),
      Some("""WITH b AS (
             |  SELECT event_type AS k, value AS v,
             |    least(63, greatest(0, floor(value / 8.0)::INT)) AS bin
             |  FROM events),
             |c AS (SELECT k, bin, count(*) AS c FROM b GROUP BY 1, 2),
             |cc AS (
             |  SELECT k, bin, c,
             |    sum(c) OVER (PARTITION BY k ORDER BY bin) AS cum,
             |    sum(c) OVER (PARTITION BY k) AS n
             |  FROM c),
             |med AS (
             |  SELECT k, (min(bin) + 0.5) * 8.0 AS med
             |  FROM cc WHERE cum >= ceil(n * 0.5) GROUP BY k),
             |dev AS (
             |  SELECT b.k, abs(b.v - med.med) AS dev
             |  FROM b JOIN med USING (k)),
             |db AS (
             |  SELECT k, dev,
             |    least(63, greatest(0, floor(dev / 8.0)::INT)) AS bin
             |  FROM dev),
             |dc AS (SELECT k, bin, count(*) AS c FROM db GROUP BY 1, 2),
             |dcc AS (
             |  SELECT k, bin, c,
             |    sum(c) OVER (PARTITION BY k ORDER BY bin) AS cum,
             |    sum(c) OVER (PARTITION BY k) AS n
             |  FROM dc),
             |mad AS (
             |  SELECT k, (min(bin) + 0.5) * 8.0 AS mad
             |  FROM dcc WHERE cum >= ceil(n * 0.5) GROUP BY k)
             |SELECT d.k AS event_type, count(*) AS n,
             |  max(med.med) AS med, max(mad.mad) AS mad,
             |  CAST(sum(CASE WHEN d.dev > 3.0 * 1.4826 * mad.mad
             |       THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
             |FROM dev d JOIN med USING (k) JOIN mad USING (k)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // HLL set algebra: intersection of two user populations by
    // inclusion-exclusion over materialized register arrays (union =
    // exact elementwise max via zip_with — no re-scan). Register
    // terms are dyadic rationals, so every sum is exact in double
    // and the estimate is engine-portable; the true intersection
    // rides along (raw-estimator bias regime is documented on the
    // operator). The oracle replays registers, union, and the
    // inclusion-exclusion arithmetic.
    QueryDef("q_agg_hll_intersect",
      (s, d) => {
        val ev = t(s, d, "events").select(col("user_id"), col("event_type"))
        def cut(tpe: String) = ev.filter(col("event_type") === tpe)
        // rollingHash of the decimal string first: uhash alone is
        // linear, and an arithmetic progression of ids would bias the
        // leading-zero statistic
        def regsOf(tpe: String, out: String) = cut(tpe).agg(
          graft.ext.Sketches.hllRegistersPortable(
            graft.ext.Sketches.uhash(
              TextAnalysis.rollingHash(col("user_id").cast("string")), 100)).as(out))
        val est = regsOf("click", "ra").crossJoin(regsOf("purchase", "rb"))
          .select(round(graft.ext.Sketches.hllIntersectEstimate(
            col("ra"), col("rb")), 4).as("inter_est"))
        val tru = cut("click").select("user_id").distinct()
          .join(cut("purchase").select("user_id").distinct(), "user_id")
          .agg(count(lit(1)).as("true_inter"))
        est.crossJoin(broadcast(tru))
      },
      Some(s"""WITH hx AS (
             |  SELECT event_type,
             |    ((16807::BIGINT * ((16807::BIGINT * 201) % 2147483647)) % 2147483647
             |       * ${rhSql("CAST(user_id AS VARCHAR)")}
             |     + (16807::BIGINT * ((16807::BIGINT * 202) % 2147483647)) % 2147483647)
             |    % 1000000007 AS h
             |  FROM events WHERE event_type IN ('click', 'purchase')),
             |reg AS (
             |  SELECT event_type, (h % 64) AS j,
             |    max(CASE WHEN h // 64 = 0 THEN 25
             |        ELSE 24 - floor(log2(h // 64))::INT END) AS rho
             |  FROM hx GROUP BY 1, 2),
             |grid AS (
             |  SELECT t.event_type, g.j, coalesce(r.rho, 0) AS rho
             |  FROM (VALUES ('click'), ('purchase')) t(event_type)
             |  CROSS JOIN range(0, 64) g(j)
             |  LEFT JOIN reg r ON r.event_type = t.event_type AND r.j = g.j),
             |esti AS (
             |  SELECT event_type,
             |    0.709 * 64 * 64 / sum(1.0 / (1::BIGINT << rho)) AS e
             |  FROM grid GROUP BY 1),
             |ugrid AS (SELECT j, max(rho) AS rho FROM grid GROUP BY j),
             |ue AS (SELECT 0.709 * 64 * 64 / sum(1.0 / (1::BIGINT << rho)) AS e
             |       FROM ugrid),
             |inter AS (
             |  SELECT round((SELECT sum(e) FROM esti) - (SELECT e FROM ue), 4)
             |    AS inter_est),
             |ti AS (SELECT count(*) AS true_inter FROM (
             |  SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
             |  INTERSECT
             |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'))
             |SELECT inter_est, true_inter FROM inter, ti""".stripMargin)),

    // CMS inner product as a join-size estimator: the click and
    // purchase event streams each reduce to one d×w counter matrix;
    // min-over-rows of the matrices' dot product estimates the
    // user_id inner-join row count (Σ multiplicity products). The
    // TRUE size rides along so the gate also pins the bias
    // direction. The oracle replays both sketches and the inner
    // product in exact integer arithmetic.
    QueryDef("q_agg_cms_join",
      (s, d) => {
        val ev = t(s, d, "events").select(col("user_id"), col("event_type"))
        def cut(tpe: String) = ev.filter(col("event_type") === tpe)
        val ska = cut("click").agg(
          graft.ext.Sketches.cmsSketch(col("user_id")).as("ska"))
        val skb = cut("purchase").agg(
          graft.ext.Sketches.cmsSketch(col("user_id")).as("skb"))
        val ca = cut("click").groupBy("user_id").agg(count(lit(1)).as("ca"))
        val cb = cut("purchase").groupBy("user_id").agg(count(lit(1)).as("cb"))
        val truePairs = ca.join(cb, "user_id")
          .agg(sum(col("ca") * col("cb")).as("true_pairs"))
        ska.crossJoin(skb)
          .select(graft.ext.Sketches.cmsInnerProduct(col("ska"), col("skb"))
            .as("est_pairs"))
          .crossJoin(broadcast(truePairs))
      },
      Some("""WITH consts AS (
             |  SELECT i,
             |    (16807 * ((16807 * (301 + 2*i)) % 2147483647)) % 2147483647 AS a,
             |    (16807 * ((16807 * (302 + 2*i)) % 2147483647)) % 2147483647 AS b
             |  FROM range(0, 4) t(i)),
             |ca AS (SELECT user_id, count(*) AS c FROM events
             |       WHERE event_type = 'click' GROUP BY 1),
             |cb AS (SELECT user_id, count(*) AS c FROM events
             |       WHERE event_type = 'purchase' GROUP BY 1),
             |ba AS (SELECT i, ((a * user_id + b) % 1000000007) % 512 AS bkt,
             |         CAST(sum(c) AS BIGINT) AS c
             |       FROM ca CROSS JOIN consts GROUP BY 1, 2),
             |bb AS (SELECT i, ((a * user_id + b) % 1000000007) % 512 AS bkt,
             |         CAST(sum(c) AS BIGINT) AS c
             |       FROM cb CROSS JOIN consts GROUP BY 1, 2),
             |ip AS (SELECT ba.i, CAST(sum(ba.c * bb.c) AS BIGINT) AS v
             |       FROM ba JOIN bb USING (i, bkt) GROUP BY 1),
             |est AS (SELECT CAST(min(v) AS BIGINT) AS est_pairs FROM ip),
             |tp AS (SELECT CAST(sum(ca.c * cb.c) AS BIGINT) AS true_pairs
             |       FROM ca JOIN cb USING (user_id))
             |SELECT est_pairs, true_pairs FROM est, tp""".stripMargin)),

    // Histogram median: 64 power-of-two-width bins (2048 = 2^11, so
    // every divide/floor is IEEE-exact and re-derives in DuckDB),
    // cumulative counts over the tiny (key × bin) frame, midpoint
    // estimate. The one-pass mergeable shape exact `percentile`
    // can't achieve — state is 64 counters per group.
    QueryDef("q_agg_histq",
      (s, d) => Sketches.histogramQuantile(
          t(s, d, "lineitem"), col("l_returnflag"), col("l_extendedprice"),
          lo = 0.0, hi = 131072.0, bins = 64, q = 0.5)
        .withColumnRenamed("k", "l_returnflag")
        .orderBy("l_returnflag"),
      Some("""WITH b AS (
             |  SELECT l_returnflag AS k,
             |    least(63, greatest(0, floor(l_extendedprice / 2048.0)::INT)) AS bin
             |  FROM lineitem),
             |c AS (SELECT k, bin, count(*) AS c FROM b GROUP BY 1, 2),
             |cc AS (
             |  SELECT k, bin, c,
             |    sum(c) OVER (PARTITION BY k ORDER BY bin) AS cum,
             |    sum(c) OVER (PARTITION BY k) AS n
             |  FROM c),
             |sel AS (
             |  SELECT k, min(bin) AS qbin, min(n)::BIGINT AS n
             |  FROM cc WHERE cum >= ceil(n * 0.5) GROUP BY k)
             |SELECT k AS l_returnflag, n, qbin,
             |  (0.0 + (qbin + 0.5) * 2048.0) AS q_est
             |FROM sel ORDER BY k""".stripMargin)),

    // Multi-quantile read-off from one counter frame: p25/p50/p95 of
    // l_extendedprice per return flag, all from the same 64-bin
    // histogram — extra quantiles cost one conditional-min each, not
    // another pass over the data.
    QueryDef("q_agg_histq_multi",
      (s, d) => Sketches.histogramQuantiles(
          t(s, d, "lineitem"), col("l_returnflag"), col("l_extendedprice"),
          lo = 0.0, hi = 131072.0, bins = 64,
          qs = Seq("p25" -> 0.25, "p50" -> 0.5, "p95" -> 0.95))
        .withColumnRenamed("k", "l_returnflag")
        .orderBy("l_returnflag"),
      Some("""WITH b AS (
             |  SELECT l_returnflag AS k,
             |    least(63, greatest(0, floor(l_extendedprice / 2048.0)::INT)) AS bin
             |  FROM lineitem),
             |c AS (SELECT k, bin, count(*) AS c FROM b GROUP BY 1, 2),
             |cc AS (
             |  SELECT k, bin, c,
             |    sum(c) OVER (PARTITION BY k ORDER BY bin) AS cum,
             |    sum(c) OVER (PARTITION BY k) AS n
             |  FROM c),
             |sel AS (
             |  SELECT k, min(n)::BIGINT AS n,
             |    min(CASE WHEN cum >= ceil(n * 0.25) THEN bin END) AS b25,
             |    min(CASE WHEN cum >= ceil(n * 0.5)  THEN bin END) AS b50,
             |    min(CASE WHEN cum >= ceil(n * 0.95) THEN bin END) AS b95
             |  FROM cc GROUP BY k)
             |SELECT k AS l_returnflag, n,
             |  (0.0 + (b25 + 0.5) * 2048.0) AS p25,
             |  (0.0 + (b50 + 0.5) * 2048.0) AS p50,
             |  (0.0 + (b95 + 0.5) * 2048.0) AS p95
             |FROM sel ORDER BY k""".stripMargin)),

    // Bloom-prefiltered semi join: the urgent-order keys fold into an
    // 8 KiB bitset (one aggregate, map-side OR-merge), the bitset
    // broadcasts, and lineitem is pruned BEFORE any shuffle; the
    // exact semi join then culls bloom false positives, so the result
    // equals the plain semi join — which is exactly what the oracle
    // states. At 100 TB this ships 8 KiB to every executor instead of
    // shuffling the fact table for the join.
    QueryDef("q_join_bloom",
      (s, d) => {
        val keys = t(s, d, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"))
        val bloom = keys.agg(
          Sketches.bloomSketch(Sketches.keyHash(col("o_orderkey"))).as("bf"))
        t(s, d, "lineitem")
          .crossJoin(broadcast(bloom))
          .filter(Sketches.bloomContains(col("bf"), Sketches.keyHash(col("l_orderkey"))))
          .drop("bf")
          .join(keys, col("l_orderkey") === col("o_orderkey"), "left_semi")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_items"),
               round(sum(col("l_extendedprice")), 2).as("revenue"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, count(*) AS n_items,
             |  round(sum(l_extendedprice), 2) AS revenue
             |FROM lineitem
             |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
             |                     WHERE o_orderpriority = '1-URGENT')
             |GROUP BY 1 ORDER BY 1""".stripMargin),
      bench = true),

    // Z-order clustering key: the Morton interleave of (l_partkey,
    // l_suppkey) — pure shift/mask built-ins, re-derived bit-for-bit
    // by the oracle's stepwise CTE. LayoutSpec proves the locality
    // property (files clustered by z cover compact rectangles in both
    // key dimensions); this gate pins the arithmetic.
    QueryDef("q_zorder",
      (s, d) => t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          Layout.zorder2(col("l_partkey"), col("l_suppkey")).as("zval"))
        .orderBy("zval", "l_orderkey", "l_linenumber")
        .limit(2000),
      Some("""WITH s1 AS (
             |  SELECT l_orderkey, l_linenumber,
             |    l_partkey & 65535 AS xa, l_suppkey & 65535 AS ya
             |  FROM lineitem),
             |s2 AS (SELECT l_orderkey, l_linenumber,
             |  (xa | (xa << 8)) & 16711935 AS xb,
             |  (ya | (ya << 8)) & 16711935 AS yb FROM s1),
             |s3 AS (SELECT l_orderkey, l_linenumber,
             |  (xb | (xb << 4)) & 252645135 AS xc,
             |  (yb | (yb << 4)) & 252645135 AS yc FROM s2),
             |s4 AS (SELECT l_orderkey, l_linenumber,
             |  (xc | (xc << 2)) & 858993459 AS xd,
             |  (yc | (yc << 2)) & 858993459 AS yd FROM s3),
             |s5 AS (SELECT l_orderkey, l_linenumber,
             |  (xd | (xd << 1)) & 1431655765 AS xe,
             |  (yd | (yd << 1)) & 1431655765 AS ye FROM s4)
             |SELECT l_orderkey, l_linenumber, (xe | (ye << 1)) AS zval
             |FROM s5 ORDER BY zval, l_orderkey, l_linenumber LIMIT 2000""".stripMargin)),

    // Data-skipping manifest over the Z-ordered layout — the payoff
    // step that makes Z-ordering matter at 100 TB. Both keys are
    // min-max normalized onto the 16-bit interleave domain (same
    // arithmetic as [[Layout.write]]'s ZOrder curve), rows are assigned to
    // "files" by contiguous Z-range (top 4 bits of the 32-bit Morton
    // code → 16 files), then ONE aggregation pass
    // collects the Delta/Iceberg-style per-file column min/max stats,
    // and a box predicate (l_partkey ∈ [100,400] ∧ l_suppkey ∈
    // [10,40]) is evaluated against the stats alone: a file whose
    // [min,max] interval misses the box in EITHER dimension is
    // skippable without being read. Because Z-order keeps both key
    // dimensions compact within each file, most files prune — the
    // gate hash pins exactly which. The oracle re-derives the Morton
    // interleave with the same stepwise CTE as q_zorder.
    QueryDef("q_layout_skipping",
      (s, d) => {
        val li = t(s, d, "lineitem")
        val ((pLo, pHi), (sLo, sHi)) = zBounds16(li)
        li.select(col("l_partkey"), col("l_suppkey"),
            Layout.zorder2(
              Layout.normalize16(col("l_partkey"), pLo, pHi),
              Layout.normalize16(col("l_suppkey"), sLo, sHi)).as("zval"))
          .withColumn("file_id", expr("zval div 268435456"))
          .groupBy("file_id")
          .agg(count(lit(1)).as("n_rows"),
            min("l_partkey").as("min_pk"), max("l_partkey").as("max_pk"),
            min("l_suppkey").as("min_sk"), max("l_suppkey").as("max_sk"))
          .withColumn("can_skip",
            col("max_pk") < 100 || col("min_pk") > 400 ||
              col("max_sk") < 10 || col("min_sk") > 40)
          .orderBy("file_id")
      },
      Some("""WITH b AS (
             |  SELECT min(l_partkey) AS plo, max(l_partkey) AS phi,
             |         min(l_suppkey) AS slo, max(l_suppkey) AS shi
             |  FROM lineitem),
             |s0 AS (
             |  SELECT l_partkey, l_suppkey,
             |    CASE WHEN phi IS NULL OR phi = plo THEN 0
             |      ELSE (l_partkey - plo) * 65535 // (phi - plo) END AS xn,
             |    CASE WHEN shi IS NULL OR shi = slo THEN 0
             |      ELSE (l_suppkey - slo) * 65535 // (shi - slo) END AS yn
             |  FROM lineitem CROSS JOIN b),
             |s1 AS (SELECT *, xn & 65535 AS xa, yn & 65535 AS ya FROM s0),
             |s2 AS (SELECT *, (xa | (xa << 8)) & 16711935 AS xb,
             |  (ya | (ya << 8)) & 16711935 AS yb FROM s1),
             |s3 AS (SELECT *, (xb | (xb << 4)) & 252645135 AS xc,
             |  (yb | (yb << 4)) & 252645135 AS yc FROM s2),
             |s4 AS (SELECT *, (xc | (xc << 2)) & 858993459 AS xd,
             |  (yc | (yc << 2)) & 858993459 AS yd FROM s3),
             |s5 AS (SELECT *, (xd | (xd << 1)) & 1431655765 AS xe,
             |  (yd | (yd << 1)) & 1431655765 AS ye FROM s4),
             |files AS (
             |  SELECT (xe | (ye << 1)) // 268435456 AS file_id,
             |    l_partkey, l_suppkey FROM s5),
             |manifest AS (
             |  SELECT file_id, count(*) AS n_rows,
             |    min(l_partkey) AS min_pk, max(l_partkey) AS max_pk,
             |    min(l_suppkey) AS min_sk, max(l_suppkey) AS max_sk
             |  FROM files GROUP BY 1)
             |SELECT file_id, n_rows, min_pk, max_pk, min_sk, max_sk,
             |  (max_pk < 100 OR min_pk > 400 OR max_sk < 10 OR min_sk > 40)
             |    AS can_skip
             |FROM manifest ORDER BY file_id""".stripMargin), bench = true),

    // Clustering-depth profile — the reclustering trigger metric
    // (Delta OPTIMIZE / Iceberg rewrite decide off exactly this): a
    // boundary sweep over the per-file [min_pk, max_pk+1) intervals
    // of the Z-ordered manifest (+1 at each file's min, -1 past its
    // max, running sum = how many files a point lookup on that key
    // must read). Z-order trades single-key purity for 2-D locality,
    // so the sweep reports a constant depth of 4 here (4 files share
    // each partkey quartile — the price of suppkey locality); a
    // partkey-sorted layout would read depth 1, and a random layout
    // depth 16. The window is unpartitioned BY DESIGN: it runs over
    // the ≤2·files boundary rows of the manifest (stats-frame-sized,
    // never the data), like the Z-order bounds collect.
    QueryDef("q_layout_depth",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val li = t(s, d, "lineitem")
        val ((pLo, pHi), (sLo, sHi)) = zBounds16(li)
        val manifest = li.select(col("l_partkey"), col("l_suppkey"),
            Layout.zorder2(
              Layout.normalize16(col("l_partkey"), pLo, pHi),
              Layout.normalize16(col("l_suppkey"), sLo, sHi)).as("zval"))
          .withColumn("file_id", expr("zval div 268435456"))
          .groupBy("file_id")
          .agg(min("l_partkey").cast("long").as("min_pk"),
            max("l_partkey").cast("long").as("max_pk"))
        val bounds = manifest.select(col("min_pk").as("pos"), lit(1L).as("delta"))
          .unionAll(manifest.select((col("max_pk") + 1L).as("pos"), lit(-1L).as("delta")))
        bounds.groupBy("pos").agg(sum("delta").as("net"))
          .withColumn("depth", sum("net").over(
            Window.orderBy("pos").rowsBetween(Window.unboundedPreceding, 0)))
          .orderBy("pos")
      },
      Some("""WITH b AS (
             |  SELECT min(l_partkey) AS plo, max(l_partkey) AS phi,
             |         min(l_suppkey) AS slo, max(l_suppkey) AS shi
             |  FROM lineitem),
             |s0 AS (
             |  SELECT l_partkey, l_suppkey,
             |    CASE WHEN phi IS NULL OR phi = plo THEN 0
             |      ELSE (l_partkey - plo) * 65535 // (phi - plo) END AS xn,
             |    CASE WHEN shi IS NULL OR shi = slo THEN 0
             |      ELSE (l_suppkey - slo) * 65535 // (shi - slo) END AS yn
             |  FROM lineitem CROSS JOIN b),
             |s1 AS (SELECT *, xn & 65535 AS xa, yn & 65535 AS ya FROM s0),
             |s2 AS (SELECT *, (xa | (xa << 8)) & 16711935 AS xb,
             |  (ya | (ya << 8)) & 16711935 AS yb FROM s1),
             |s3 AS (SELECT *, (xb | (xb << 4)) & 252645135 AS xc,
             |  (yb | (yb << 4)) & 252645135 AS yc FROM s2),
             |s4 AS (SELECT *, (xc | (xc << 2)) & 858993459 AS xd,
             |  (yc | (yc << 2)) & 858993459 AS yd FROM s3),
             |s5 AS (SELECT *, (xd | (xd << 1)) & 1431655765 AS xe,
             |  (yd | (yd << 1)) & 1431655765 AS ye FROM s4),
             |files AS (
             |  SELECT (xe | (ye << 1)) // 268435456 AS file_id,
             |    l_partkey FROM s5),
             |manifest AS (
             |  SELECT file_id, min(l_partkey) AS min_pk,
             |    max(l_partkey) AS max_pk
             |  FROM files GROUP BY 1),
             |bounds AS (
             |  SELECT min_pk AS pos, 1 AS delta FROM manifest
             |  UNION ALL SELECT max_pk + 1, -1 FROM manifest),
             |net AS (SELECT pos, CAST(sum(delta) AS BIGINT) AS net
             |        FROM bounds GROUP BY 1)
             |SELECT pos, net,
             |  CAST(sum(net) OVER (ORDER BY pos
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |    AS depth
             |FROM net ORDER BY pos""".stripMargin), bench = true),

    // The manifest CONSUMER — the claim q_layout_skipping computes
    // ("a file whose [min,max] misses the box is skippable without
    // being read"), actually executed: lineitem is written Z-ordered
    // on (l_partkey, l_suppkey) with its per-file min/max manifest
    // built once (the write/OPTIMIZE step, cached per JVM — see
    // [[zorderedLineitem]]), then [[Layout.scanPruned]] drops
    // skippable files BEFORE spark.read opens them and re-filters the
    // survivors with the exact residual. The oracle is the plain
    // full-scan filter over the ORIGINAL table: the hash match is the
    // proof obligation that pruned read ≡ full scan + filter.
    // LayoutSpec additionally asserts the pruned plan reads strictly
    // fewer files than the full scan.
    QueryDef("q_layout_pruned_read", prunedReadFn(zorderedLineitem),
      Some(prunedReadOracle), bench = true),

    // Date-box pruned read — the time-range scan, THE most common
    // skipping predicate on a 100 TB fact table: lineitem is written
    // time-clustered with a DateType manifest key and
    // [[Layout.scanPruned]] drops whole files off a
    // `TypedKeyBox("l_shipd", "1996-01-01", "1996-12-31")` — bounds
    // given as strings, cast to the stored stat type at plan time (a
    // malformed bound fails the ANSI cast loudly instead of skipping
    // every file). The oracle is the plain full-scan date filter on
    // the ORIGINAL table: pruned ≡ full scan, hash-matched.
    QueryDef("q_layout_pruned_date",
      (s, d) => {
        val dir = timeClusteredLineitem(s, d)
        Layout.scanPruned(s, dir,
            Seq(Layout.TypedKeyBox("l_shipd", "1996-01-01", "1996-12-31")))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_rows"),
            round(sum(col("l_extendedprice")), 2).as("revenue"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, count(*) AS n_rows,
             |  round(sum(l_extendedprice), 2) AS revenue
             |FROM lineitem
             |WHERE CAST(l_shipdate AS DATE)
             |  BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
             |GROUP BY 1 ORDER BY 1""".stripMargin), bench = true),

    // Timestamp-box pruned read over the same fixture's RAW timestamp
    // key — half-year box, microsecond-inclusive upper bound.
    QueryDef("q_layout_pruned_ts",
      (s, d) => {
        val dir = timeClusteredLineitem(s, d)
        Layout.scanPruned(s, dir,
            Seq(Layout.TypedKeyBox("l_shipdate",
              "1997-01-01 00:00:00", "1997-06-30 23:59:59.999999")))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_rows"),
            round(sum(col("l_extendedprice")), 2).as("revenue"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, count(*) AS n_rows,
             |  round(sum(l_extendedprice), 2) AS revenue
             |FROM lineitem
             |WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01 00:00:00'
             |  AND TIMESTAMP '1997-06-30 23:59:59.999999'
             |GROUP BY 1 ORDER BY 1""".stripMargin), bench = true),

    // String-box pruned read: documents range-clustered on `lang`
    // with string min/max stats — lexicographic (binary UTF-8)
    // interval pruning, the partition-key-like case for string
    // dimension columns. The range clustering leaves some of the 8
    // target files empty (5 distinct langs), so this gate also
    // exercises the zero-row-file coverage tolerance in anger.
    QueryDef("q_layout_pruned_str",
      (s, d) => {
        val dir = langClusteredDocs(s, d)
        Layout.scanPruned(s, dir,
            Seq(Layout.TypedKeyBox("lang", "de", "es")))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars
             |FROM documents WHERE lang BETWEEN 'de' AND 'es'
             |GROUP BY 1 ORDER BY 1""".stripMargin), bench = true),

    // Manifest-proved delete: [[Layout.deleteWhere]] of the
    // ['de','es'] lang box over the null-seeded clustered fixture —
    // fully-covered files drop off their stats alone (range ⊆ box
    // AND nulls_lang = 0), partial files rewrite with the null-safe
    // anti-filter, null-lang rows SURVIVE (three-valued DELETE
    // semantics). The oracle is DuckDB's anti-filter over the same
    // null-seeded frame: survivor set ≡ SQL `DELETE WHERE`'s
    // complement, hash-matched. The '~' sentinel keys the null group
    // identically in both engines (group-key null ordering differs).
    QueryDef("q_layout_delete",
      (s, d) => {
        val dir = deletedLangDocs(s, d)
        s.read.parquet(dir)
          .groupBy(coalesce(col("lang"), lit("~")).as("lang_k"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"))
          .orderBy("lang_k")
      },
      Some("""SELECT coalesce(lang, '~') AS lang_k, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars
             |FROM (SELECT CASE WHEN doc_id % 37 = 0 THEN NULL ELSE lang END
             |        AS lang, n_chars FROM documents) t
             |WHERE lang IS NULL OR lang NOT BETWEEN 'de' AND 'es'
             |GROUP BY 1 ORDER BY 1""".stripMargin), bench = true),

    // Dynamic file pruning on a dim→fact join: the dim slice's
    // join-key bounds become a runtime box on the fact's manifest,
    // so fact files outside the dim's key range never open — the
    // Databricks DFP shape, with the manifest in place of the Delta
    // log. The oracle is the PLAIN unpruned join: pruning is
    // conservative and the join re-filters exactly, so the results
    // hash-match by construction.
    QueryDef("q_layout_join_pruned",
      (s, d) => {
        val dir = zorderedLineitem(s, d)
        val dim = t(s, d, "part")
          .filter(col("p_partkey").between(100, 400) && col("p_size") <= 25)
          .select("p_partkey", "p_size")
        Layout.joinPruned(s, dir, dim, "l_partkey", "p_partkey")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_rows"),
            round(sum(col("l_extendedprice")), 2).as("revenue"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, count(*) AS n_rows,
             |  round(sum(l_extendedprice), 2) AS revenue
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE p_partkey BETWEEN 100 AND 400 AND p_size <= 25
             |GROUP BY 1 ORDER BY 1""".stripMargin), bench = true),

    // Partitioned delete — the GDPR shape on a partitioned table: a
    // DATA-column box deleted across a lang-partitioned documents
    // layout (survivors rewritten inside their own partition dirs,
    // partition values preserved by location). Oracle = DuckDB's
    // anti-filter over the raw table, so survivor ≡ DELETE-complement
    // is hash-proved end to end including the partition column.
    QueryDef("q_layout_delete_part",
      (s, d) => {
        val dir = prunedFixture.computeIfAbsent(s"$d#docs_delpart", _ => {
          val p = graft.Scratch.tempDir("graft_delpart_") + "/documents"
          t(s, d, "documents").select("doc_id", "lang", "n_chars")
            .write.partitionBy("lang").mode("overwrite").parquet(p)
          Layout.buildFileManifest(s, p, Seq("lang", "doc_id"))
            .write.mode("overwrite").parquet(s"$p/_graft_manifest")
          val st = Layout.deleteWhere(s, p,
            Seq(Layout.KeyBox("doc_id", 100L, 299L)))
          require(st.rowsDeleted > 0, s"degenerate fixture: $st")
          p
        })
        s.read.parquet(dir)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars
             |FROM documents WHERE doc_id NOT BETWEEN 100 AND 299
             |GROUP BY 1 ORDER BY 1""".stripMargin), bench = true),

    // Quarantine recovery, oracle-proved: stray rows landed OUT OF
    // BAND (any writer but appendWithManifest) make every coverage-
    // guarded read refuse; [[Layout.quarantineUncovered]] moves them
    // aside — never deletes — and the directory serves exactly its
    // covered rows again. The oracle is the covered subset, so the
    // recovery's row-exactness is hash-proved, not just spec-assumed.
    QueryDef("q_layout_quarantine",
      (s, d) => {
        val dir = prunedFixture.computeIfAbsent(s"$d#docs_quar", _ => {
          val p = graft.Scratch.tempDir("graft_quar_") + "/documents"
          val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
          docs.filter(col("doc_id") < 400)
            .write.mode("overwrite").parquet(p)
          Layout.buildFileManifest(s, p, Seq("doc_id"))
            .write.mode("overwrite").parquet(s"$p/_graft_manifest")
          // the out-of-band append the manifest knows nothing about
          docs.filter(col("doc_id") >= 400)
            .repartition(1).write.mode("append").parquet(p)
          val moved = Layout.quarantineUncovered(s, p,
            graft.Scratch.tempDir("graft_quarq_"))
          require(moved.nonEmpty, "degenerate fixture: nothing quarantined")
          p
        })
        s.read.parquet(dir)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars
             |FROM documents WHERE doc_id < 400
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Metadata-accelerated count — the `SELECT count(*) WHERE box`
    // fast path answered from the manifest: files proved fully
    // inside the box contribute n_rows unopened, disjoint files
    // contribute nothing, only the ambiguous remainder is scanned
    // with the exact residual. Over the lang-clustered fixture most
    // files resolve metadata-only; the oracle is the plain full
    // count, so exactness is hash-proved, not assumed.
    QueryDef("q_layout_count",
      (s, d) => {
        import s.implicits._
        val dir = langClusteredDocs(s, d)
        Seq(Layout.countWhere(s, dir,
          Seq(Layout.TypedKeyBox("lang", "de", "es")))).toDF("n_docs")
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_docs
             |FROM documents WHERE lang BETWEEN 'de' AND 'es'""".stripMargin),
      bench = true),

    // String-keyed clustering depth — the OPTIMIZE trigger for
    // layouts clustered on a key with NO integer successor (a
    // lang-clustered corpus): the boundary sweep runs over the
    // OBSERVED value domain via dense rank, where `max + 1` becomes
    // `rank + 1`. The file assignment is SIMULATED deterministically
    // (ntile over the total (lang, doc_id) order — the q_layout_depth
    // pattern) so DuckDB re-derives the identical manifest, while the
    // profile itself comes from the real
    // [[Layout.clusteringDepthBoundaries]] API. Unpartitioned windows
    // by design: they run on the stats frame (≤2·files boundary
    // rows), never the data.
    QueryDef("q_layout_depth_str",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val filed = t(s, d, "documents").select("doc_id", "lang")
          .withColumn("file_id",
            ntile(8).over(Window.orderBy("lang", "doc_id")))
        val manifest = filed.groupBy("file_id")
          .agg(count(lit(1)).as("n_rows"),
            min("lang").as("min_lang"), max("lang").as("max_lang"),
            (count(lit(1)) - count(col("lang"))).as("nulls_lang"))
          .withColumn("file", col("file_id").cast("string"))
        Layout.clusteringDepthBoundaries(manifest, "lang")
          .orderBy("value")
      },
      Some("""WITH filed AS (
             |  SELECT lang, ntile(8) OVER (ORDER BY lang, doc_id) AS file_id
             |  FROM documents),
             |manifest AS (
             |  SELECT file_id, min(lang) AS min_l, max(lang) AS max_l
             |  FROM filed GROUP BY 1),
             |pts AS (
             |  SELECT value, dense_rank() OVER (ORDER BY value) AS pos
             |  FROM (SELECT min_l AS value FROM manifest
             |        UNION SELECT max_l FROM manifest) u),
             |bounds AS (
             |  SELECT p.pos, 1 AS delta
             |  FROM manifest m JOIN pts p ON m.min_l = p.value
             |  UNION ALL
             |  SELECT p.pos + 1, -1
             |  FROM manifest m JOIN pts p ON m.max_l = p.value
             |  UNION ALL SELECT pos, 0 FROM pts),
             |net AS (
             |  SELECT pos, CAST(sum(delta) AS BIGINT) AS net
             |  FROM bounds GROUP BY 1),
             |prof AS (
             |  SELECT pos, net,
             |    CAST(sum(net) OVER (ORDER BY pos) AS BIGINT) AS depth
             |  FROM net)
             |SELECT p.value, n.net, n.depth
             |FROM prof n JOIN pts p ON n.pos = p.pos ORDER BY 1""".stripMargin)),

    // Hilbert-clustered pruned read: the jump-free curve in place of
    // the Morton interleave (tighter worst-case per-file boxes — the
    // Databricks liquid-clustering choice), served by the SAME
    // curve-agnostic manifest consumer. The curve index itself is a
    // native codegen'd Catalyst expression (the xy2d rotation loop
    // cannot be Column arithmetic without exponential blow-up);
    // LayoutSpec pins codegen ≡ interpreted ≡ an independent d2xy
    // inverse plus the unit-step adjacency property. Oracle: the
    // full-scan filter on the original table — pruned ≡ full scan,
    // hash-matched, independent of the curve.
    QueryDef("q_layout_hilbert_pruned", prunedReadFn(hilbertLineitem),
      Some(prunedReadOracle), bench = true),

    // 3-D Z-order pruned read, box on the THIRD key only: the k-ary
    // interleave gives every file a compact box in ALL THREE key
    // dimensions, so even a filter that names only l_orderkey —
    // the key a 2-D layout would leave unclustered — skips files.
    // Pruned ≡ full-scan filter, hash-matched against the original
    // table; LayoutSpec additionally asserts fewer files are read.
    QueryDef("q_layout_zorder3_pruned",
      (s, d) => {
        val dir = zordered3Lineitem(s, d)
        Layout.scanPruned(s, dir,
            Seq(Layout.KeyBox("l_orderkey", 100L, 400L)))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_rows"),
            round(sum(col("l_extendedprice")), 2).as("revenue"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, count(*) AS n_rows,
             |  round(sum(l_extendedprice), 2) AS revenue
             |FROM lineitem WHERE l_orderkey BETWEEN 100 AND 400
             |GROUP BY 1 ORDER BY 1""".stripMargin), bench = true),

    // Co-located join over bucketed tables: orders and lineitem are
    // written bucketed (and bucket-sorted) on the join key with the
    // same bucket count, so the sort-merge join reads aligned buckets
    // with ZERO exchange on either side — the write-once shuffle that
    // makes every later fact-fact join at 100 TB shuffle-free.
    // LayoutSpec pins the no-Exchange plan; this gate value-checks
    // that the bucketed round-trip (write → catalog → aligned-bucket
    // join) computes exactly what the plain join does.
    QueryDef("q_join_bucketed",
      (s, d) => {
        // external tables in per-run scratch: the in-memory catalog
        // dies with the session but a managed table's warehouse dir
        // would not, and Spark refuses to recreate over the leftovers
        val scratch = graft.Scratch.tempDir("graft_bkt_")
        Layout.writeBucketed(t(s, d, "orders")
          .select("o_orderkey", "o_orderpriority"),
          "bkt_orders", "o_orderkey", nBuckets = 8,
          path = Some(s"$scratch/orders"))
        Layout.writeBucketed(t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice")),
          "bkt_lineitem", "l_orderkey", nBuckets = 8,
          path = Some(s"$scratch/lineitem"))
        s.table("bkt_orders").hint("merge")
          .join(s.table("bkt_lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_items"),
            round(sum(col("l_extendedprice")), 2).as("revenue"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n_items,
             |  round(sum(l_extendedprice), 2) AS revenue
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Misra–Gries heavy hitters, gated on its GUARANTEES rather than
    // its (stream-order-dependent) summary: per language, every
    // token-length key with true frequency > N/(k+1) must be present
    // in the k-counter summary with stored ≤ true ≤ stored + N/(k+1).
    // The emitted rows are the deterministic guaranteed-heavy set —
    // per lang 6 distinct lengths compete for k=3 counters, so
    // decrements genuinely occur and the two >25% keys (lengths 4, 5)
    // must survive them. The oracle re-derives the true counts and
    // asserts the booleans as TRUE: a dropped guaranteed key or a
    // violated bound hash-fails the gate.
    QueryDef("q_agg_heavy_hitters",
      (s, d) => {
        val k = 3
        val toks = t(s, d, "documents")
          .select(col("lang"), explode(split(lower(col("text")), "\\s+")).as("w"))
          .select(col("lang"), length(col("w")).cast("long").as("len"))
        val mg = toks.groupBy("lang")
          .agg(Sketches.heavyHitters(col("len"), k).as("hh"),
               count(lit(1)).as("n"))
        val truth = toks.groupBy("lang", "len").agg(count(lit(1)).as("true_cnt"))
        val stored = try_element_at(
          filter(col("hh"), e => e.getField("key") === col("len")), lit(1))
          .getField("cnt")
        truth.join(mg, "lang")
          .filter(col("true_cnt") * (k + 1) > col("n"))
          .select(col("lang"), col("len"), col("true_cnt"),
            stored.isNotNull.as("present"),
            (stored.isNotNull && stored <= col("true_cnt") &&
              col("true_cnt") <= stored + floor(col("n") / (k + 1))).as("bounds_ok"))
          .orderBy("lang", "len")
      },
      Some("""WITH tok AS (
             |  SELECT lang, unnest(string_split_regex(lower(text), '\s+')) AS w
             |  FROM documents),
             |cnt AS (SELECT lang, length(w)::BIGINT AS len, count(*) AS true_cnt
             |        FROM tok GROUP BY 1, 2),
             |tot AS (SELECT lang, sum(true_cnt)::BIGINT AS n FROM cnt GROUP BY 1)
             |SELECT cnt.lang AS lang, len, true_cnt,
             |  true AS present, true AS bounds_ok
             |FROM cnt JOIN tot ON cnt.lang = tot.lang
             |WHERE true_cnt * 4 > n
             |ORDER BY lang, len""".stripMargin)),

    // KMV distinct sketch ([[graft.ext.Sketches.kmvDistinct]]): the
    // exact-oracle complement to HLL — the bottom-64 distinct hash
    // set and the k-th-smallest θ are exact integers, so the SQL twin
    // replays the estimate bit-for-bit (rank over distinct hashes, no
    // register arithmetic). Per-language distinct-text estimates.
    QueryDef("q_agg_kmv",
      (s, d) => t(s, d, "documents")
        .select(col("lang"),
          Sketches.uhash(TextAnalysis.rollingHash(col("text")), 100).as("h"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(Sketches.kmvDistinct(col("h"), 64), 4).as("kmv_est"))
        .orderBy("lang"),
      Some(s"""WITH hx AS (
              |  SELECT lang,
              |    ((16807::BIGINT * ((16807::BIGINT * 201) % 2147483647)) % 2147483647
              |       * ${rhSql("text")}
              |     + (16807::BIGINT * ((16807::BIGINT * 202) % 2147483647)) % 2147483647)
              |    % 1000000007 AS h
              |  FROM documents),
              |dk AS (
              |  SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS r
              |  FROM (SELECT DISTINCT lang, h FROM hx)),
              |kth AS (SELECT lang, max(CASE WHEN r = 64 THEN h END) AS theta,
              |               max(r) AS nd FROM dk GROUP BY 1),
              |n AS (SELECT lang, count(*) AS n_docs FROM hx GROUP BY 1)
              |SELECT n.lang, n.n_docs,
              |  round(CASE WHEN kth.nd < 64 THEN CAST(kth.nd AS DOUBLE)
              |        ELSE 63.0 * 1000000007.0 / theta END, 4) AS kmv_est
              |FROM n JOIN kth USING (lang) ORDER BY lang""".stripMargin)),

    // KMV lifecycle: per-language bottom-64 value arrays merged by
    // union + re-bottom-k; the merged estimate must equal the direct
    // whole-corpus sketch EXACTLY (the global bottom-64 is contained
    // in the union of per-group bottom-64s — set algebra, no error
    // term). The sketch state doubling as a uniform distinct sample
    // is what the merge moves around: 64 longs per group.
    QueryDef("q_agg_kmv_merge",
      (s, d) => {
        val hashed = t(s, d, "documents")
          .select(col("lang"),
            Sketches.uhash(TextAnalysis.rollingHash(col("text")), 100).as("h"))
        val perLang = hashed.groupBy("lang")
          .agg(Sketches.kmvValues(col("h"), 64).as("vals"))
        val merged = perLang
          .agg(flatten(collect_list(col("vals"))).as("all"))
          .select(round(Sketches.kmvEstimateFromValues(
            slice(array_sort(array_distinct(col("all"))), 1, 64), 64), 4)
            .as("merged_est"))
        val direct = hashed
          .agg(round(Sketches.kmvDistinct(col("h"), 64), 4).as("direct_est"))
        merged.crossJoin(direct)
      },
      Some(s"""WITH hx AS (
              |  SELECT ((16807::BIGINT * ((16807::BIGINT * 201) % 2147483647)) % 2147483647
              |       * ${rhSql("text")}
              |     + (16807::BIGINT * ((16807::BIGINT * 202) % 2147483647)) % 2147483647)
              |    % 1000000007 AS h
              |  FROM documents),
              |dk AS (
              |  SELECT h, row_number() OVER (ORDER BY h) AS r
              |  FROM (SELECT DISTINCT h FROM hx)),
              |est AS (
              |  SELECT round(CASE WHEN max(r) < 64 THEN CAST(max(r) AS DOUBLE)
              |        ELSE 63.0 * 1000000007.0 / max(CASE WHEN r = 64 THEN h END) END, 4) AS e
              |  FROM dk)
              |SELECT e AS merged_est, e AS direct_est FROM est""".stripMargin)),

    // KMV set overlap ([[graft.ext.Sketches.kmvOverlap]]): click-user
    // vs purchase-user audiences — the bottom-k of the union is a
    // uniform sample whose members land in the intersection exactly
    // when both sketches carry them, giving DIRECT Jaccard and
    // intersection estimates (no HLL inclusion–exclusion error
    // blow-up). All integers until the final divisions; the oracle
    // re-derives both bottom-k sets and replays the set algebra.
    QueryDef("q_agg_kmv_intersect",
      (s, d) => {
        val ev = t(s, d, "events").select(col("event_type"),
          Sketches.uhash(Sketches.keyHash(col("user_id")), 100).as("h"))
        def side(et: String) = ev.filter(col("event_type") === et)
          .agg(Sketches.kmvValues(col("h"), 64).as(s"v_$et"))
        side("click").crossJoin(side("purchase"))
          .select(Sketches.kmvOverlap(col("v_click"), col("v_purchase"), 64).as("o"))
          .select(round(col("o.est_union"), 4).as("est_union"),
            round(col("o.est_inter"), 4).as("est_inter"),
            round(col("o.jaccard"), 4).as("jaccard"))
      },
      Some("""WITH hx AS (
             |  SELECT event_type,
             |    ((16807::BIGINT * ((16807::BIGINT * 201) % 2147483647)) % 2147483647
             |       * (user_id % 1000000007)
             |     + (16807::BIGINT * ((16807::BIGINT * 202) % 2147483647)) % 2147483647)
             |    % 1000000007 AS h
             |  FROM events WHERE event_type IN ('click', 'purchase')),
             |bk AS (
             |  SELECT event_type, h,
             |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS r
             |  FROM (SELECT DISTINCT event_type, h FROM hx)),
             |va AS (SELECT h FROM bk WHERE event_type = 'click' AND r <= 64),
             |vb AS (SELECT h FROM bk WHERE event_type = 'purchase' AND r <= 64),
             |uk AS (
             |  SELECT h, row_number() OVER (ORDER BY h) AS r
             |  FROM (SELECT h FROM va UNION SELECT h FROM vb)),
             |u AS (SELECT h FROM uk WHERE r <= 64),
             |st AS (
             |  SELECT (SELECT count(*) FROM u) AS nu,
             |    (SELECT max(h) FROM u) AS theta,
             |    (SELECT count(*) FROM u
             |     WHERE h IN (SELECT h FROM va) AND h IN (SELECT h FROM vb)) AS ik),
             |est AS (
             |  SELECT CASE WHEN nu < 64 THEN CAST(nu AS DOUBLE)
             |         ELSE 63.0 * 1000000007.0 / theta END AS eu,
             |    CASE WHEN nu = 0 THEN 0.0
             |         ELSE ik / CAST(CASE WHEN nu < 64 THEN nu ELSE 64 END AS DOUBLE)
             |    END AS j
             |  FROM st)
             |SELECT round(eu, 4) AS est_union, round(j * eu, 4) AS est_inter,
             |       round(j, 4) AS jaccard
             |FROM est""".stripMargin)),

    // Rolling 7-day active users from MERGEABLE daily sketches — the
    // DAU/WAU board at sketch cost: one pass builds a portable HLL
    // register array per day, then each day's trailing week is a
    // register-max over ≤7 TINY sketch rows (the fanout is of 64-byte
    // registers, never of events — at 100 TB the daily sketches are
    // the only thing that moves). The oracle re-derives every day's
    // registers, replays the window merge and the raw estimator, so
    // DAU and WAU7 are value-checked per day.
    QueryDef("q_ev_rolling_dau",
      (s, d) => {
        val ev = t(s, d, "events").select(to_date(col("ts")).as("day"),
          Sketches.uhash(Sketches.keyHash(col("user_id")), 100).as("h"))
        val daily = ev.groupBy("day")
          .agg(count(lit(1)).as("n_events"),
            Sketches.hllRegistersPortable(col("h")).as("regs"))
        val anchors = daily.select(col("day").as("anchor"),
          round(Sketches.hllEstimateFromRegisters(col("regs")), 4).as("dau"))
        anchors.join(daily,
            datediff(col("anchor"), col("day")).between(0, 6))
          .groupBy("anchor", "dau")
          .agg(sum("n_events").as("n7"),
            Sketches.hllMergeRegisters(col("regs")).as("m"))
          .select(col("anchor").as("day"), col("n7"), col("dau"),
            round(Sketches.hllEstimateFromRegisters(col("m")), 4).as("wau7"))
          .orderBy("day")
      },
      Some("""WITH hx AS (
             |  SELECT CAST(ts AS DATE) AS day,
             |    ((16807::BIGINT * ((16807::BIGINT * 201) % 2147483647)) % 2147483647
             |       * (user_id % 1000000007)
             |     + (16807::BIGINT * ((16807::BIGINT * 202) % 2147483647)) % 2147483647)
             |    % 1000000007 AS h
             |  FROM events),
             |reg AS (
             |  SELECT day, (h % 64) AS j,
             |    max(CASE WHEN h // 64 = 0 THEN 25
             |        ELSE 24 - floor(log2(h // 64))::INT END) AS rho
             |  FROM hx GROUP BY 1, 2),
             |days AS (SELECT DISTINCT day FROM hx),
             |dau AS (
             |  SELECT d.day,
             |    round(0.709 * 64 * 64 / sum(1.0 / (1::BIGINT << coalesce(rho, 0))), 4) AS dau
             |  FROM days d CROSS JOIN range(0, 64) g(j)
             |  LEFT JOIN reg ON reg.day = d.day AND reg.j = g.j
             |  GROUP BY 1),
             |wreg AS (
             |  SELECT a.day, r.j, max(r.rho) AS rho
             |  FROM days a JOIN reg r
             |    ON date_diff('day', r.day, a.day) BETWEEN 0 AND 6
             |  GROUP BY 1, 2),
             |wau AS (
             |  SELECT a.day,
             |    round(0.709 * 64 * 64 / sum(1.0 / (1::BIGINT << coalesce(rho, 0))), 4) AS wau7
             |  FROM days a CROSS JOIN range(0, 64) g(j)
             |  LEFT JOIN wreg ON wreg.day = a.day AND wreg.j = g.j
             |  GROUP BY 1),
             |n7 AS (
             |  SELECT a.day, CAST(count(*) AS BIGINT) AS n7
             |  FROM days a JOIN hx e ON date_diff('day', e.day, a.day) BETWEEN 0 AND 6
             |  GROUP BY 1)
             |SELECT d.day, n7.n7, d.dau, w.wau7
             |FROM dau d JOIN wau w USING (day) JOIN n7 USING (day)
             |ORDER BY day""".stripMargin)),

    // Manifest-pruned CDC upsert — [[Layout.upsertByKey]]'s
    // delete-and-insert MERGE over a doc_id-range-clustered layout: a
    // 150-key batch (100 replacements, 50 inserts past the key
    // domain) classifies every file off its stats alone, so files
    // disjoint from the sparse key set never open. The oracle is
    // DuckDB's anti-filter ∪ updates over the same derivation, so
    // merged ≡ MERGE INTO's row set is hash-proved end to end
    // (replaced rows carry the new lang/n_chars, inserts land, all
    // other rows byte-identical).
    QueryDef("q_layout_upsert",
      (s, d) => {
        val dir = prunedFixture.computeIfAbsent(s"$d#docs_upsert", _ => {
          val p = graft.Scratch.tempDir("graft_upsert_") + "/documents"
          val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
          docs.repartitionByRange(8, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite").parquet(p)
          Layout.buildFileManifest(s, p, Seq("doc_id"))
            .write.mode("overwrite").parquet(s"$p/_graft_manifest")
          val upd = docs.filter(col("doc_id").between(200, 299))
            .withColumn("lang", lit("xx"))
            .withColumn("n_chars", col("n_chars") + lit(7L))
            .unionByName(docs.filter(col("doc_id") < 50)
              .withColumn("doc_id", col("doc_id") + lit(100000L)))
          val st = Layout.upsertByKey(s, p, upd, "doc_id")
          require(st.rowsReplaced > 0 && st.rowsUpserted > st.rowsReplaced
            && st.filesUntouched > 0, s"degenerate fixture: $st")
          p
        })
        s.read.parquet(dir)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy("lang")
      },
      Some("""WITH base AS (
             |  SELECT doc_id, lang, n_chars FROM documents),
             |upd AS (
             |  SELECT doc_id, 'xx' AS lang, n_chars + 7 AS n_chars
             |  FROM base WHERE doc_id BETWEEN 200 AND 299
             |  UNION ALL
             |  SELECT doc_id + 100000, lang, n_chars
             |  FROM base WHERE doc_id < 50),
             |merged AS (
             |  SELECT * FROM base
             |  WHERE doc_id NOT IN (SELECT doc_id FROM upd)
             |  UNION ALL SELECT * FROM upd)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin),
      bench = true),

    // COMPOSITE-key CDC upsert — [[Layout.upsertByKeys]] merges on
    // (doc_id, lang): a base row is replaced only when BOTH key
    // columns match. The batch carries 100 true replacements (same
    // (doc_id, lang), bumped n_chars) plus 50 PARTIAL-OVERLAP rows —
    // same doc_id as live base rows but lang 'zz' — which must INSERT
    // while the base rows with that doc_id survive untouched; a
    // single-key merge on doc_id alone would have deleted them (the
    // corruption this verb exists to prevent). Oracle = DuckDB's
    // NOT-EXISTS anti-filter ∪ updates on the composite key, so the
    // tuple-equality MERGE semantics are hash-proved end to end.
    QueryDef("q_layout_upsert2",
      (s, d) => {
        val dir = prunedFixture.computeIfAbsent(s"$d#docs_upsert2", _ => {
          val p = graft.Scratch.tempDir("graft_upsert2_") + "/documents"
          val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
          docs.repartitionByRange(8, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite").parquet(p)
          Layout.buildFileManifest(s, p, Seq("doc_id", "lang"))
            .write.mode("overwrite").parquet(s"$p/_graft_manifest")
          val upd = docs.filter(col("doc_id").between(200, 299))
            .withColumn("n_chars", col("n_chars") + lit(7L))
            .unionByName(docs.filter(col("doc_id").between(100, 149))
              .withColumn("lang", lit("zz"))
              .withColumn("n_chars", col("n_chars") + lit(1000L)))
          val st = Layout.upsertByKeys(s, p, upd, Seq("doc_id", "lang"))
          require(st.rowsUpserted > st.rowsReplaced && st.filesUntouched > 0,
            s"degenerate fixture: $st")
          p
        })
        s.read.parquet(dir)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy("lang")
      },
      Some("""WITH base AS (
             |  SELECT doc_id, lang, n_chars FROM documents),
             |upd AS (
             |  SELECT doc_id, lang, n_chars + 7 AS n_chars
             |  FROM base WHERE doc_id BETWEEN 200 AND 299
             |  UNION ALL
             |  SELECT doc_id, 'zz' AS lang, n_chars + 1000 AS n_chars
             |  FROM base WHERE doc_id BETWEEN 100 AND 149),
             |merged AS (
             |  SELECT * FROM base b
             |  WHERE NOT EXISTS (SELECT 1 FROM upd u
             |    WHERE u.doc_id = b.doc_id AND u.lang = b.lang)
             |  UNION ALL SELECT * FROM upd)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Schema evolution under the manifest — [[Layout.appendWithManifest]]
    // `mergeSchema` ADDs a `score` column in a later batch (the Delta
    // mergeSchema / ADD COLUMN shape), and the canonical-schema
    // sidecar makes every reader resolve it deterministically: the
    // gate's pruned read spans the evolution boundary, so pre-
    // evolution survivors surface NULL score and post-evolution rows
    // their values — without the sidecar, whether the column appears
    // at all would depend on which file's footer the reader sampled.
    // Oracle = DuckDB over the same derivation with CASE-built nulls,
    // hash-proving the ADD COLUMN semantics end to end.
    QueryDef("q_layout_evolve",
      (s, d) => {
        val dir = prunedFixture.computeIfAbsent(s"$d#docs_evolve", _ => {
          val p = graft.Scratch.tempDir("graft_evolve_") + "/documents"
          val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
          docs.filter(col("doc_id") < 400)
            .repartitionByRange(6, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite").parquet(p)
          Layout.buildFileManifest(s, p, Seq("doc_id"))
            .write.mode("overwrite").parquet(s"$p/_graft_manifest")
          val ev = docs.filter(col("doc_id") >= 400)
            .withColumn("score", (col("n_chars") % 7).cast("double"))
          Layout.appendWithManifest(ev, p, Seq("doc_id"), mergeSchema = true)
          p
        })
        Layout.scanPruned(s, dir, Seq(Layout.KeyBox("doc_id", 300L, 500L)))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            sum(col("score")).as("score_sum"))
          .orderBy("lang")
      },
      Some("""WITH evolved AS (
             |  SELECT doc_id, lang, n_chars,
             |         CASE WHEN doc_id >= 400
             |              THEN CAST(n_chars % 7 AS DOUBLE) END AS score
             |  FROM documents),
             |pruned AS (
             |  SELECT * FROM evolved WHERE doc_id BETWEEN 300 AND 500)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  sum(score) AS score_sum
             |FROM pruned GROUP BY 1 ORDER BY 1""".stripMargin),
      bench = true),

    // DROP COLUMN — [[Layout.dropColumn]]'s logical drop: the lang
    // column leaves the canonical schema with zero data I/O (bytes
    // stay in the files until the next full rewrite materializes the
    // drop), and every sidecar-resolved read — here a manifest-PRUNED
    // scan — serves the surviving columns exactly. The oracle is the
    // same aggregate over the never-dropped table's projection: the
    // result must neither carry the column nor disturb any other.
    QueryDef("q_layout_drop",
      (s, d) => {
        val dir = prunedFixture.computeIfAbsent(s"$d#docs_drop", _ => {
          val p = graft.Scratch.tempDir("graft_drop_") + "/documents"
          val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
          docs.repartitionByRange(8, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite").parquet(p)
          Layout.buildFileManifest(s, p, Seq("doc_id"))
            .write.mode("overwrite").parquet(s"$p/_graft_manifest")
          Layout.dropColumn(s, p, "lang")
          require(!Layout.readLayout(s, p).columns.contains("lang"),
            "the drop did not take")
          p
        })
        Layout.scanPruned(s, dir, Seq(Layout.KeyBox("doc_id", 50L, 400L)))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            sum(col("doc_id")).as("id_sum"))
      },
      Some("""SELECT count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM documents WHERE doc_id BETWEEN 50 AND 400""".stripMargin)),

    // Bloom-indexed point lookup — per-file bloom bitsets in the
    // manifest (Delta's bloom filter index / Iceberg puffin shape)
    // prune files for a key the CLUSTERING does not cover: the layout
    // is doc_id-clustered, so every file's [min,max] of n_chars spans
    // nearly the whole domain and range stats prune nothing — but a
    // bloom MISS is a proof of absence, so a point probe (here: the
    // corpus's outlier lengths, min and max n_chars, read
    // metadata-only off the stored stats) opens only the files that
    // can hold it. Oracle = DuckDB's IN-filter over the same probe
    // derivation; exactness holds because bloom false positives only
    // ever ADD files to read and the residual re-filters.
    QueryDef("q_layout_bloom",
      (s, d) => {
        val dir = prunedFixture.computeIfAbsent(s"$d#docs_bloom", _ => {
          val p = graft.Scratch.tempDir("graft_bloom_") + "/documents"
          val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
          docs.repartitionByRange(8, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite").parquet(p)
          Layout.buildFileManifest(s, p, Seq("doc_id", "n_chars"),
              bloomKeys = Seq("n_chars"))
            .write.mode("overwrite").parquet(s"$p/_graft_manifest")
          p
        })
        // the probe values come off the MANIFEST stats (metadata-only,
        // no data scan): the global min/max of n_chars
        val b = Layout.loadManifest(s, dir)
          .agg(min("min_n_chars"), max("max_n_chars")).collect()(0)
        Layout.scanPruned(s, dir, Seq(Layout.KeySetBox("n_chars",
            Seq(b.getLong(0), b.getLong(1)).distinct)))
          .groupBy("lang", "n_chars")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy("lang", "n_chars")
      },
      Some("""WITH probe AS (
             |  SELECT min(n_chars) AS v FROM documents
             |  UNION SELECT max(n_chars) FROM documents),
             |hit AS (
             |  SELECT * FROM documents
             |  WHERE n_chars IN (SELECT v FROM probe))
             |SELECT lang, n_chars, count(*) AS n_docs,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM hit GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      bench = true),

    // In-place OPTIMIZE — [[Layout.optimize]] rewrites a degraded,
    // schema-EVOLVED layout (base batch + a mergeSchema append that
    // added `score`) into Z-ordered files over the stored keys,
    // materializing the evolved column and rebuilding the manifest.
    // The gate's pruned read runs AFTER the rewrite and spans the old
    // evolution boundary, so the hash match against DuckDB's
    // derivation proves the rewrite lost nothing: every row, the
    // null/value split of the added column, and the skipping stats
    // all survive the in-place churn.
    QueryDef("q_layout_optimize",
      (s, d) => {
        val dir = prunedFixture.computeIfAbsent(s"$d#docs_optimize", _ => {
          val p = graft.Scratch.tempDir("graft_optimize_") + "/documents"
          val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
          docs.filter(col("doc_id") < 300)
            .repartitionByRange(6, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite").parquet(p)
          Layout.buildFileManifest(s, p, Seq("doc_id", "n_chars"))
            .write.mode("overwrite").parquet(s"$p/_graft_manifest")
          val ev = docs.filter(col("doc_id") >= 300)
            .withColumn("score", (col("n_chars") % 7).cast("double"))
          Layout.appendWithManifest(ev, p, Seq("doc_id", "n_chars"),
            mergeSchema = true)
          val st = Layout.optimize(s, p, files = 4, force = true)
          require(st.reclustered && st.filesAfter <= 4,
            s"degenerate fixture: $st")
          p
        })
        Layout.scanPruned(s, dir, Seq(Layout.KeyBox("doc_id", 250L, 350L)))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            sum(col("score")).as("score_sum"))
          .orderBy("lang")
      },
      Some("""WITH evolved AS (
             |  SELECT doc_id, lang, n_chars,
             |         CASE WHEN doc_id >= 300
             |              THEN CAST(n_chars % 7 AS DOUBLE) END AS score
             |  FROM documents),
             |pruned AS (
             |  SELECT * FROM evolved WHERE doc_id BETWEEN 250 AND 350)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  sum(score) AS score_sum
             |FROM pruned GROUP BY 1 ORDER BY 1""".stripMargin)),

    // SELECTIVE OPTIMIZE — [[Layout.optimizeSelective]] rewrites ONLY
    // the files the depth profile names: a range-clustered base takes
    // four narrow appends stacked over doc_id ∈ [100,199] (depth 5 in
    // that band, 1 everywhere else), and the rewrite bin-packs just
    // the stacked files plus the base file(s) under them — every
    // other file keeps its exact name and manifest row verbatim
    // (fixture-asserted). The gate's pruned read spans rewritten AND
    // kept regions, so the hash match against DuckDB's replay of the
    // same churn proves the partial rewrite lost nothing and the
    // patched manifest still prunes exactly.
    QueryDef("q_layout_optimize_partial",
      (s, d) => {
        val dir = prunedFixture.computeIfAbsent(s"$d#docs_optsel", _ => {
          val p = graft.Scratch.tempDir("graft_optsel_") + "/documents"
          val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
          docs.repartitionByRange(8, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite").parquet(p)
          Layout.buildFileManifest(s, p, Seq("doc_id"))
            .write.mode("overwrite").parquet(s"$p/_graft_manifest")
          val churn = docs.filter(col("doc_id").between(100, 199))
            .repartition(1)
          for (_ <- 1 to 4)
            Layout.appendWithManifest(churn, p, Seq("doc_id"))
          val before = s.read.parquet(p).inputFiles.toSet
          val st = Layout.optimizeSelective(s, p, targetRows = 4096L,
            maxDepth = 4L)
          require(st.reclustered && st.filesKept > 0 &&
              st.filesBefore > st.filesKept, s"degenerate fixture: $st")
          val kept = s.read.parquet(p).inputFiles.toSet.intersect(before)
          require(kept.size == st.filesKept,
            s"kept files did not keep their exact names: $st vs ${kept.size}")
          p
        })
        Layout.scanPruned(s, dir, Seq(Layout.KeyBox("doc_id", 150L, 400L)))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy("lang")
      },
      Some("""WITH base AS (
             |  SELECT doc_id, lang, n_chars FROM documents),
             |churn AS (
             |  SELECT * FROM base WHERE doc_id BETWEEN 100 AND 199),
             |all_rows AS (
             |  SELECT * FROM base
             |  UNION ALL SELECT * FROM churn UNION ALL SELECT * FROM churn
             |  UNION ALL SELECT * FROM churn UNION ALL SELECT * FROM churn),
             |pruned AS (
             |  SELECT * FROM all_rows WHERE doc_id BETWEEN 150 AND 400)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM pruned GROUP BY 1 ORDER BY 1""".stripMargin),
      bench = true),

    // FILE-SUBSET OPTIMIZE inside a partition leaf —
    // [[Layout.optimizeSelective]] on a partitioned tree, the
    // granularity between "rewrite the table" and "rewrite the leaf":
    // a lang-partitioned tree takes four narrow appends stacked over
    // one doc_id band of ONE hot lang leaf, and the rewrite bin-packs
    // just that leaf's stacked files — the hot leaf's COLD files and
    // every other leaf keep their exact names and manifest rows
    // verbatim (fixture-asserted). The gate's pruned read spans
    // rewritten AND kept regions across all leaves, so the hash match
    // against DuckDB's replay of the same churn proves the leaf-local
    // partial rewrite lost nothing and the patched manifest still
    // prunes exactly.
    QueryDef("q_layout_optimize_leaf",
      (s, d) => {
        val dir = prunedFixture.computeIfAbsent(s"$d#docs_optleaf", _ => {
          val p = graft.Scratch.tempDir("graft_optleaf_") + "/documents"
          val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
          docs.repartitionByRange(2, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.partitionBy("lang").mode("overwrite").parquet(p)
          Layout.buildFileManifest(s, p, Seq("doc_id"))
            .write.mode("overwrite").parquet(s"$p/_graft_manifest")
          // SF-independent hot band: the first eighth of the doc_id
          // range, within the lexicographically first lang — the
          // oracle re-derives the identical bounds
          val hot = docs.agg(min("lang")).head().getString(0)
          val mm = docs.agg(min("doc_id"), max("doc_id")).head()
          val (mn, mx) = (mm.getLong(0), mm.getLong(1))
          val churn = docs.filter(col("lang") === hot &&
            col("doc_id").between(mn, mn + (mx - mn) / 8)).repartition(1)
          require(churn.limit(1).count() > 0L,
            "degenerate fixture: empty churn band")
          for (_ <- 1 to 4)
            Layout.appendWithManifest(churn, p, Seq("doc_id"))
          val before = s.read.parquet(p).inputFiles.toSet
          val st = Layout.optimizeSelective(s, p,
            targetRows = 8192L, maxDepth = 4L)
          require(st.reclustered && st.filesKept > 0 &&
              st.filesBefore > st.filesKept, s"degenerate fixture: $st")
          val kept = s.read.parquet(p).inputFiles.toSet.intersect(before)
          require(kept.size == st.filesKept,
            s"kept files did not keep their exact names: $st vs ${kept.size}")
          // the hot leaf itself must retain a verbatim file — the
          // inside-the-leaf granularity whole-leaf optimize lacks
          require(kept.exists(_.contains(s"lang=$hot")),
            "no cold file survived inside the hot leaf")
          p
        })
        val mm = t(s, d, "documents")
          .agg(min("doc_id"), max("doc_id")).head()
        val (mn, mx) = (mm.getLong(0), mm.getLong(1))
        Layout.scanPruned(s, dir,
            Seq(Layout.KeyBox("doc_id", mn, mn + (mx - mn) / 2)))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy("lang")
      },
      Some("""WITH r AS (
             |  SELECT min(doc_id) AS mn,
             |    min(doc_id) + (max(doc_id)-min(doc_id))//8 AS chi,
             |    min(doc_id) + (max(doc_id)-min(doc_id))//2 AS rhi
             |  FROM documents),
             |base AS (SELECT doc_id, lang, n_chars FROM documents),
             |churn AS (
             |  SELECT b.* FROM base b, r
             |  WHERE b.lang = (SELECT min(lang) FROM documents)
             |    AND b.doc_id BETWEEN r.mn AND r.chi),
             |all_rows AS (
             |  SELECT * FROM base
             |  UNION ALL SELECT * FROM churn UNION ALL SELECT * FROM churn
             |  UNION ALL SELECT * FROM churn UNION ALL SELECT * FROM churn),
             |pruned AS (
             |  SELECT a.* FROM all_rows a, r
             |  WHERE a.doc_id BETWEEN r.mn AND r.rhi)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM pruned GROUP BY 1 ORDER BY 1""".stripMargin),
      bench = true),

    // Metadata-only MIN/MAX — [[Layout.minMaxFromManifest]] composes
    // the global extremes of a key from the manifest's per-file
    // stats, the refresh [[graft.ext.Ivm]]'s documented MIN/MAX
    // boundary points at: after a delete REMOVES the current minimum
    // band and an upsert INSERTS keys past the old maximum, the
    // composed (min, max) must track both mutations without scanning
    // a row — the mutation verbs' stat patches are what this gate
    // proves. Oracle = DuckDB's min/max recompute over the same
    // delete ∪ insert derivation.
    QueryDef("q_layout_minmax",
      (s, d) => {
        val dir = prunedFixture.computeIfAbsent(s"$d#docs_minmax", _ => {
          val p = graft.Scratch.tempDir("graft_minmax_") + "/documents"
          val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
          docs.repartitionByRange(8, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite").parquet(p)
          Layout.buildFileManifest(s, p, Seq("doc_id"))
            .write.mode("overwrite").parquet(s"$p/_graft_manifest")
          val del = Layout.deleteWhere(s, p,
            Seq(Layout.KeyBox("doc_id", 0L, 149L)))
          require(del.rowsDeleted > 0L, s"degenerate fixture: $del")
          val upd = docs.filter(col("doc_id") < 10)
            .withColumn("doc_id", col("doc_id") + lit(100000L))
          val st = Layout.upsertByKey(s, p, upd, "doc_id")
          require(st.rowsUpserted == 10L, s"degenerate fixture: $st")
          p
        })
        Layout.minMaxFromManifest(s, dir, "doc_id")
      },
      Some("""WITH base AS (SELECT doc_id FROM documents),
             |merged AS (
             |  SELECT doc_id FROM base WHERE doc_id >= 150
             |  UNION ALL
             |  SELECT doc_id + 100000 FROM base WHERE doc_id < 10)
             |SELECT CAST(min(doc_id) AS BIGINT) AS min_doc_id,
             |  CAST(max(doc_id) AS BIGINT) AS max_doc_id
             |FROM merged""".stripMargin)),

    // Generation-pinned snapshot read — [[Layout.enableGenerations]]
    // turns the manifest into a numbered snapshot store: a deleteWhere
    // commits generation 1 (retiring the dropped band's files instead
    // of deleting them), and the gate reads generation 0 PRUNED
    // ([[Layout.readSnapshot]] with prune boxes): the archived manifest's stats
    // prune exactly as they did when live, survivors resolve from the
    // retirement area, and the result must equal the PRE-delete
    // filter — which is what the oracle computes over the unmutated
    // documents table. Time travel falling out of the manifest
    // lifecycle, the Delta/Iceberg VERSION AS OF shape.
    QueryDef("q_layout_snapshot",
      (s, d) => {
        val dir = prunedFixture.computeIfAbsent(s"$d#docs_snapshot", _ => {
          val p = graft.Scratch.tempDir("graft_snapshot_") + "/documents"
          val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
          docs.repartitionByRange(8, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite").parquet(p)
          Layout.buildFileManifest(s, p, Seq("doc_id"))
            .write.mode("overwrite").parquet(s"$p/_graft_manifest")
          Layout.enableGenerations(s, p)
          val del = Layout.deleteWhere(s, p,
            Seq(Layout.KeyBox("doc_id", 100L, 199L)))
          require(del.rowsDeleted > 0L &&
              Layout.currentGeneration(s, p) == 1L,
            s"degenerate fixture: $del")
          require(s.read.parquet(p).count() <
              Layout.readSnapshot(s, p, 0L).count(),
            "the live read did not shrink — snapshot proves nothing")
          p
        })
        Layout.readSnapshot(s, dir, 0L,
            Seq(Layout.KeyBox("doc_id", 50L, 400L)))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy("lang")
      },
      Some("""WITH pruned AS (
             |  SELECT * FROM documents WHERE doc_id BETWEEN 50 AND 400)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM pruned GROUP BY 1 ORDER BY 1""".stripMargin),
      bench = true),

    // Change data feed → incremental view refresh —
    // [[Layout.changesBetween]] derives a SIGNED row feed from the
    // generation store's file-level diff (files both manifests share
    // never open), and [[graft.ext.Ivm.maintainAgg]] consumes it
    // directly: the view bootstraps over generation 0, the table then
    // takes a deleteWhere (gen 1), a CDC upsert that UPDATES a
    // disjoint band (gen 2), and an append of brand-new rows (gen 3),
    // and ONE feed spanning all three commits maintains the view to
    // exactly the generation-3 recompute — Delta's CDF → materialized
    // view loop, recovered from the manifests alone with no change
    // files written at commit time. Oracle = DuckDB's replay of the
    // same delete / merge / append derivation, aggregated from
    // scratch.
    QueryDef("q_layout_cdf",
      (s, d) => {
        val dir = cdfChurnedDocs(s, d)
        val state0 = graft.ext.Ivm.aggregateOf(
          Layout.readSnapshot(s, dir, 0L).select("lang", "n_chars"),
          Seq("lang"), Seq("n_chars"))
        val feed = Layout.changesBetween(s, dir, 0L,
          Layout.currentGeneration(s, dir))
        graft.ext.Ivm.maintainAgg(
            state0, feed.select("lang", "n_chars", "op"),
            Seq("lang"), Seq("n_chars"))
          .orderBy("lang")
      },
      Some("""WITH base AS (SELECT doc_id, lang, n_chars FROM documents),
             |after_del AS (
             |  SELECT * FROM base WHERE doc_id NOT BETWEEN 100 AND 199),
             |merged AS (
             |  SELECT * FROM after_del WHERE doc_id NOT BETWEEN 200 AND 209
             |  UNION ALL
             |  SELECT doc_id, lang, n_chars + 1000 FROM base
             |  WHERE doc_id BETWEEN 200 AND 209),
             |final AS (
             |  SELECT * FROM merged
             |  UNION ALL
             |  SELECT doc_id + 500000, lang, n_chars FROM base
             |  WHERE doc_id < 50)
             |SELECT lang, CAST(count(*) AS BIGINT) AS cnt,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_n_chars
             |FROM final GROUP BY 1 ORDER BY 1""".stripMargin),
      bench = true),

    // CDF with ROW CHANGE TYPES — [[Layout.changesBetweenTyped]] over
    // the same churned fixture: identical ±1 pairs (the delete's
    // rewrite survivors) NET OUT, and the upsert's delete+insert
    // re-pairs by key into update_preimage/update_postimage — the
    // "what changed" feed downstream SCD2/audit consumers key on,
    // instead of re-deriving the pairing themselves. Row-level gate:
    // every feed row with its op and type must match DuckDB's
    // derivation of the same typed feed (multiset diff via EXCEPT ALL,
    // key pairing via INTERSECT).
    QueryDef("q_layout_cdf_types",
      (s, d) => {
        val dir = cdfChurnedDocs(s, d)
        Layout.changesBetweenTyped(s, dir, 0L,
            Layout.currentGeneration(s, dir), Seq("doc_id"))
          .orderBy("doc_id", "op")
      },
      Some("""WITH base AS (SELECT doc_id, lang, n_chars FROM documents),
             |final AS (
             |  SELECT * FROM base WHERE doc_id NOT BETWEEN 100 AND 209
             |  UNION ALL
             |  SELECT doc_id, lang, n_chars + 1000 FROM base
             |  WHERE doc_id BETWEEN 200 AND 209
             |  UNION ALL
             |  SELECT doc_id + 500000, lang, n_chars FROM base
             |  WHERE doc_id < 50),
             |minus0 AS (
             |  SELECT doc_id, lang, n_chars FROM base
             |  EXCEPT ALL SELECT doc_id, lang, n_chars FROM final),
             |plus0 AS (
             |  SELECT doc_id, lang, n_chars FROM final
             |  EXCEPT ALL SELECT doc_id, lang, n_chars FROM base),
             |upd AS (
             |  SELECT doc_id FROM minus0
             |  INTERSECT SELECT doc_id FROM plus0)
             |SELECT m.doc_id, m.lang, m.n_chars, -1 AS op,
             |  CASE WHEN m.doc_id IN (SELECT doc_id FROM upd)
             |       THEN 'update_preimage' ELSE 'delete' END
             |    AS _change_type
             |FROM minus0 m
             |UNION ALL
             |SELECT p.doc_id, p.lang, p.n_chars, 1 AS op,
             |  CASE WHEN p.doc_id IN (SELECT doc_id FROM upd)
             |       THEN 'update_postimage' ELSE 'insert' END
             |FROM plus0 p
             |ORDER BY 1, 4""".stripMargin)),

    // Deletion vectors — MERGE-ON-READ delete: a band delete records
    // row POSITIONS ([[Layout.deleteWhereDv]]) instead of rewriting
    // files (the fixture pins every data file byte-identical), and
    // the pruned read anti-joins them away via the parquet metadata
    // identity (`_metadata.file_path`, `_metadata.row_index`). At
    // 100 TB this is Delta's deletion-vector granularity: delete cost
    // ∝ matched rows, read tax ∝ the vectorized files only. Oracle =
    // the plain filtered aggregate over the unmutated table.
    QueryDef("q_layout_dv",
      (s, d) => {
        val dir = dvDocs(s, d)
        Layout.scanPruned(s, dir, Seq(Layout.KeyBox("doc_id", 50L, 400L)))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy("lang")
      },
      Some("""WITH live AS (
             |  SELECT * FROM documents
             |  WHERE doc_id NOT BETWEEN 100 AND 199),
             |pruned AS (
             |  SELECT * FROM live WHERE doc_id BETWEEN 50 AND 400)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM pruned GROUP BY 1 ORDER BY 1""".stripMargin),
      bench = true),

    // DV metadata count — [[Layout.countWhere]] on the vectorized
    // layout: vector-free files still answer from stats alone, the
    // vectorized ones demote to a churn-sized scan with the vector
    // applied — exactness hash-proved against the plain SQL count.
    QueryDef("q_layout_dv_count",
      (s, d) => {
        import s.implicits._
        val dir = dvDocs(s, d)
        Seq(Layout.countWhere(s, dir,
          Seq(Layout.KeyBox("doc_id", 0L, 100000000L)))).toDF("n_docs")
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
             |WHERE doc_id NOT BETWEEN 100 AND 199""".stripMargin)),

    // DV change feed — [[Layout.changesBetween]] across a
    // deletion-vector commit: the two manifests share every file
    // NAME, so the diff is pure position-delta — exactly the deleted
    // rows as op = −1, derived without opening any unchanged file.
    QueryDef("q_layout_dv_cdf",
      (s, d) => {
        val dir = dvDocs(s, d)
        Layout.changesBetween(s, dir, 0L, 1L).orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, n_chars, -1 AS op FROM documents
             |WHERE doc_id BETWEEN 100 AND 199 ORDER BY doc_id""".stripMargin)),

    // DV PURGE + time travel onto a retired vectorized file — the
    // hard path: OPTIMIZE materialized the vectors away (gen 2,
    // retiring the vectorized files), and the gate reads GENERATION 1
    // — the retired file resolves under its retirement label and the
    // vector's recorded path is REMAPPED onto it. Both worlds are
    // hash-proved: the live (purged) read and the vectorized snapshot
    // must agree with the same filtered oracle.
    QueryDef("q_layout_dv_purge",
      (s, d) => {
        val dir = dvPurgedDocs(s, d)
        val live = Layout.readLayout(s, dir)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"))
          .withColumn("world", lit("live"))
        val snap = Layout.readSnapshot(s, dir, 1L)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"))
          .withColumn("world", lit("snapshot_gen1"))
        live.unionByName(snap).orderBy("world", "lang")
      },
      Some("""WITH live AS (
             |  SELECT * FROM documents
             |  WHERE doc_id NOT BETWEEN 100 AND 199),
             |agg AS (
             |  SELECT lang, count(*) AS n_docs,
             |    CAST(sum(n_chars) AS BIGINT) AS total_chars
             |  FROM live GROUP BY 1)
             |SELECT lang, n_docs, total_chars, 'live' AS world FROM agg
             |UNION ALL
             |SELECT lang, n_docs, total_chars, 'snapshot_gen1' FROM agg
             |ORDER BY 4, 1""".stripMargin),
      bench = true),

    // EXACTLY-ONCE streaming ingest ([[Layout.streamAppend]]) — the
    // foreachBatch sink that closes the loop the CDC source opens: a
    // file-source stream lands two micro-batches into a
    // generation-tracked layout THROUGH A RESTART (the checkpoint
    // re-delivers the last batch; the per-query ledger + the
    // commit-record token absorb the replay), each non-empty batch
    // committing exactly one generation. The fixture REQUIRES one
    // streamAppend commit per batch and the exact final row count —
    // a duplicate or a drop fails the build before the oracle ever
    // runs; the gate then hash-proves the final table against the
    // full-corpus aggregate.
    QueryDef("q_layout_stream_sink",
      (s, d) => {
        val dir = prunedFixture.computeIfAbsent(s"$d#docs_sink", _ => {
          val root = graft.Scratch.tempDir("graft_sink_")
          val p = root + "/documents"
          val in = root + "/ingest"
          val ckpt = root + "/ckpt"
          val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
          val total = docs.count()
          docs.filter(col("doc_id") >= 300L)
            .repartitionByRange(4, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite").parquet(p)
          Layout.buildFileManifest(s, p, Seq("doc_id"))
            .write.mode("overwrite").parquet(s"$p/_graft_manifest")
          Layout.enableGenerations(s, p)
          val schema = org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id BIGINT, lang STRING, n_chars BIGINT")
          def run() = s.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(in)
            .writeStream.option("checkpointLocation", ckpt)
            .foreachBatch(
              Layout.streamAppend(p, Seq("doc_id"), "gate-sink") _)
            .start()
          docs.filter(col("doc_id") < 150L)
            .select(col("doc_id").cast("long"), col("lang"),
              col("n_chars").cast("long"))
            .coalesce(1).write.mode("append").parquet(in)
          val q1 = run()
          q1.processAllAvailable(); q1.stop()
          // new data arrives while stopped; the RESTART replays the
          // last committed batch first — absorbed, never duplicated
          docs.filter(col("doc_id") >= 150L && col("doc_id") < 300L)
            .select(col("doc_id").cast("long"), col("lang"),
              col("n_chars").cast("long"))
            .coalesce(1).write.mode("append").parquet(in)
          val q2 = run()
          q2.processAllAvailable(); q2.stop()
          val landed = s.read.parquet(p).count()
          val commits = Layout.describeHistory(s, p)
            .filter(col("operation").startsWith("streamAppend:")).count()
          require(landed == total && commits == 2L,
            s"degenerate sink fixture: $landed/$total rows, " +
              s"$commits stream commits")
          p
        })
        Layout.readLayout(s, dir)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // The DSL-native exactly-once sink —
    // `writeStream.format("graft")` ([[graft.sources.GraftStreamSink]]):
    // the SAME ledger/commit-token/intent protocol as streamAppend
    // with zero foreachBatch plumbing, making source and sink
    // symmetric DSL surfaces over the generation store. The fixture
    // streams half the corpus in across a stop/restart (the restart
    // re-delivers the last batch — absorbed), then the gate
    // hash-proves the reassembled table.
    QueryDef("q_layout_sink_dsl",
      (s, d) => {
        val dir = prunedFixture.computeIfAbsent(s"$d#docs_sink_dsl", _ => {
          val root = graft.Scratch.tempDir("graft_sinkdsl_")
          val p = root + "/documents"
          val in = root + "/ingest"
          val ckpt = root + "/ckpt"
          val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
          val total = docs.count()
          docs.filter(col("doc_id") >= 250L)
            .repartitionByRange(4, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite").parquet(p)
          Layout.buildFileManifest(s, p, Seq("doc_id"))
            .write.mode("overwrite").parquet(s"$p/_graft_manifest")
          Layout.enableGenerations(s, p)
          val schema = org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id BIGINT, lang STRING, n_chars BIGINT")
          def run() = s.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(in)
            .writeStream.format("graft")
            .option("checkpointLocation", ckpt)
            .option("queryId", "gate-sink-dsl")
            .start(p)
          docs.filter(col("doc_id") < 120L)
            .select(col("doc_id").cast("long"), col("lang"),
              col("n_chars").cast("long"))
            .coalesce(1).write.mode("append").parquet(in)
          val q1 = run()
          q1.processAllAvailable(); q1.stop()
          docs.filter(col("doc_id") >= 120L && col("doc_id") < 250L)
            .select(col("doc_id").cast("long"), col("lang"),
              col("n_chars").cast("long"))
            .coalesce(1).write.mode("append").parquet(in)
          val q2 = run()
          q2.processAllAvailable(); q2.stop()
          val landed = s.read.parquet(p).count()
          val commits = Layout.describeHistory(s, p)
            .filter(col("operation").startsWith("streamAppend:")).count()
          require(landed == total && commits == 2L,
            s"degenerate DSL-sink fixture: $landed/$total rows, " +
              s"$commits stream commits")
          p
        })
        Layout.readLayout(s, dir)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // SQL UPDATE — [[Layout.updateWhere]] through the GRAFT dialect:
    // in-place transform of exactly the box-matching rows, file-
    // subset rewrite cost, simultaneous assignment off the OLD row.
    // The second statement updates the MANIFEST KEY itself (doc_id),
    // proving the delta stats recompute keeps pruning exact (the
    // countWhere probe below answers over the moved band from
    // metadata+residual). Oracle: DuckDB recomputes both updates as
    // CASE projections over the unmutated table.
    QueryDef("q_layout_sql_update",
      (s, d) => {
        val dir = prunedFixture.computeIfAbsent(s"$d#docs_sqlupd", _ => {
          val p = graft.Scratch.tempDir("graft_sqlupd_") + "/documents"
          t(s, d, "documents").select("doc_id", "lang", "n_chars")
            .repartitionByRange(4, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite").parquet(p)
          Layout.buildFileManifest(s, p, Seq("doc_id"))
            .write.mode("overwrite").parquet(s"$p/_graft_manifest")
          Layout.enableGenerations(s, p)
          val st1 = s.sql(s"GRAFT UPDATE '$p' SET n_chars = " +
            "n_chars + 1000, lang = upper(lang) " +
            "WHERE doc_id BETWEEN 100 AND 199").collect()(0)
          require(st1.getAs[Long]("rows_updated") == 100L &&
              st1.getAs[Int]("files_untouched") >= 1,
            s"degenerate UPDATE fixture (file-subset contract): $st1")
          val st2 = s.sql(s"GRAFT UPDATE '$p' SET doc_id = " +
            "doc_id + 10000 WHERE doc_id BETWEEN 0 AND 49").collect()(0)
          require(st2.getAs[Long]("rows_updated") == 50L, s"$st2")
          require(Layout.countWhere(s, p,
              Seq(Layout.KeyBox("doc_id", 10000L, 10049L))) == 50L,
            "key-column update must keep metadata counts exact")
          p
        })
        Layout.readLayout(s, dir)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy("lang")
      },
      Some("""WITH u1 AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id BETWEEN 100 AND 199
             |         THEN upper(lang) ELSE lang END AS lang,
             |    CASE WHEN doc_id BETWEEN 100 AND 199
             |         THEN n_chars + 1000 ELSE n_chars END AS n_chars
             |  FROM documents),
             |u2 AS (
             |  SELECT CASE WHEN doc_id BETWEEN 0 AND 49
             |              THEN doc_id + 10000 ELSE doc_id END AS doc_id,
             |    lang, n_chars FROM u1)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM u2 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // CHECK constraints — Delta's table constraints as sidecar +
    // writer enforcement: the fixture adds two named boolean
    // expressions (add-time validated against the EXISTING rows),
    // proves a violating batch refuses BY CONSTRAINT NAME with
    // nothing committed, then lands a valid append; the gate
    // hash-proves the final table (base ∪ the valid batch) — so both
    // the refusal and the pass-through are load-bearing. Enforcement
    // is batch-sized (never a table rescan) and NULL passes, per SQL
    // CHECK.
    QueryDef("q_layout_constraint",
      (s, d) => {
        val dir = prunedFixture.computeIfAbsent(s"$d#docs_constraint", _ => {
          val p = graft.Scratch.tempDir("graft_ck_") + "/documents"
          val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
          docs.repartitionByRange(4, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite").parquet(p)
          Layout.buildFileManifest(s, p, Seq("doc_id"))
            .write.mode("overwrite").parquet(s"$p/_graft_manifest")
          Layout.addCheckConstraint(s, p, "chars_nonneg", "n_chars >= 0")
          Layout.addCheckConstraint(s, p, "lang_present", "lang IS NOT NULL")
          val bad = docs.limit(5)
            .withColumn("n_chars", lit(-1L))
            .withColumn("doc_id", col("doc_id") + lit(900000L))
          val refused =
            try { Layout.appendWithManifest(bad, p, Seq("doc_id")); false }
            catch { case e: IllegalArgumentException =>
              e.getMessage.contains("chars_nonneg") }
          require(refused, "the violating batch must refuse by name")
          require(s.read.parquet(p).count() == docs.count(),
            "a refused batch must leave nothing behind")
          Layout.appendWithManifest(
            docs.filter(col("doc_id") < 100)
              .withColumn("doc_id", col("doc_id") + lit(600000L)),
            p, Seq("doc_id"))
          p
        })
        Layout.readLayout(s, dir)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy("lang")
      },
      Some("""WITH final AS (
             |  SELECT doc_id, lang, n_chars FROM documents
             |  UNION ALL
             |  SELECT doc_id + 600000, lang, n_chars FROM documents
             |  WHERE doc_id < 100)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM final GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Partitioned snapshot read — generations over a HIVE-PARTITIONED
    // tree: a data-column delete spans every lang partition (gen 1,
    // retiring each dropped file under its preserved k=v chain), and
    // the gate reads generation 0 PRUNED: survivors resolve live or
    // retired PER PARTITION ANCHOR (basePath-grouped reads re-derive
    // the lang column for retired files), and the result must equal
    // the pre-delete filter — the oracle over the unmutated table.
    // The GDPR-delete-with-time-travel shape at the partition layout
    // real tables actually use.
    QueryDef("q_layout_snapshot_part",
      (s, d) => {
        val dir = prunedFixture.computeIfAbsent(s"$d#docs_snappart", _ => {
          val p = graft.Scratch.tempDir("graft_snappart_") + "/documents"
          val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
          docs.repartitionByRange(4, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.partitionBy("lang").parquet(p)
          Layout.buildFileManifest(s, p, Seq("doc_id"))
            .write.mode("overwrite").parquet(s"$p/_graft_manifest")
          Layout.enableGenerations(s, p)
          val del = Layout.deleteWhere(s, p,
            Seq(Layout.KeyBox("doc_id", 100L, 299L)))
          require(del.rowsDeleted > 0L &&
              Layout.currentGeneration(s, p) == 1L,
            s"degenerate fixture: $del")
          require(s.read.parquet(p).count() <
              Layout.readSnapshot(s, p, 0L).count(),
            "the live read did not shrink — snapshot proves nothing")
          p
        })
        Layout.readSnapshot(s, dir, 0L,
            Seq(Layout.KeyBox("doc_id", 50L, 400L)))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy("lang")
      },
      Some("""WITH pruned AS (
             |  SELECT * FROM documents WHERE doc_id BETWEEN 50 AND 400)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM pruned GROUP BY 1 ORDER BY 1""".stripMargin),
      bench = true),

    // DataSourceV2 time travel — [[graft.sources.GraftSource]], the
    // SQL-reachable surface over the generation store: the fixture
    // proves `spark.read.format("graft").option("versionAsOf", 0)`
    // equals the Scala readSnapshot byte-for-byte (aggregate
    // signature), that a zero-option read serves the LIVE manifest,
    // and that timestampAsOf resolves through the commit records;
    // the gate itself goes through PLAIN SQL — a `CREATE TEMPORARY
    // VIEW ... USING graft` over the pre-delete snapshot — so the
    // hash match against the unmutated table is earned without one
    // line of Scala in the query path.
    QueryDef("q_layout_reader",
      (s, d) => {
        prunedFixture.computeIfAbsent(s"$d#docs_reader", _ => {
          val p = graft.Scratch.tempDir("graft_reader_") + "/documents"
          val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
          docs.repartitionByRange(4, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite").parquet(p)
          Layout.buildFileManifest(s, p, Seq("doc_id"))
            .write.mode("overwrite").parquet(s"$p/_graft_manifest")
          Layout.enableGenerations(s, p)
          val del = Layout.deleteWhere(s, p,
            Seq(Layout.KeyBox("doc_id", 100L, 299L)))
          require(del.rowsDeleted > 0L, s"degenerate fixture: $del")
          def sig(df: org.apache.spark.sql.DataFrame): Seq[Any] =
            df.agg(count(lit(1)), sum("doc_id"), sum("n_chars"))
              .head().toSeq
          require(sig(s.read.format("graft").option("versionAsOf", "0")
              .load(p)) == sig(Layout.readSnapshot(s, p, 0L)),
            "the reader's versionAsOf diverged from readSnapshot")
          require(s.read.format("graft").load(p).count() ==
              s.read.parquet(p).count(),
            "a zero-option graft read must serve the live manifest")
          require(s.read.format("graft")
              .option("timestampAsOf", System.currentTimeMillis().toString)
              .load(p).count() == s.read.parquet(p).count(),
            "timestampAsOf(now) must resolve to the live generation")
          s.sql("CREATE OR REPLACE TEMPORARY VIEW graft_snap0 " +
            s"USING graft OPTIONS (path '$p', versionAsOf '0')")
          p
        })
        s.sql("""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
                |  CAST(sum(doc_id) AS BIGINT) AS id_sum
                |FROM graft_snap0 GROUP BY 1 ORDER BY 1""".stripMargin)
      },
      Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
      bench = true),

    // Merge-on-read THROUGH the V2 reader — the reader-surface
    // closure: the same vectorized fixture as q_layout_dv read via
    // `format("graft")` with no Scala verb in the query path.
    // [[graft.plans.GraftDvReadRewrite]] swaps the relation for the
    // readSnapshot plan at analysis (anti-join of the referenced
    // stores), so the SQL/DataFrame surface keeps working the moment
    // a table takes its first deletion vector; versionAsOf 0 must
    // still serve the pre-delete world (answered from the manifest —
    // the count rule composes). Oracle: the identical filtered
    // aggregate q_layout_dv proves, recomputed by DuckDB.
    QueryDef("q_layout_dv_reader",
      (s, d) => {
        val dir = dvDocs(s, d)
        // versionAsOf 0 serves the pre-delete world: exactly the
        // [100,199] band (dense doc_ids) more than the live DV read.
        // Both counts answer from manifests (zero data-file opens —
        // the count rule composes with the DV substitution by running
        // first). Checked ONCE per fixture, outside any timed rep.
        prunedFixture.computeIfAbsent(s"$d#docs_dv_reader_checked", _ => {
          require(s.read.format("graft").option("versionAsOf", "0")
              .load(dir).count() -
              s.read.format("graft").load(dir).count() == 100L,
            "versionAsOf 0 must read the pre-delete generation")
          dir
        })
        s.read.format("graft").load(dir)
          .where(col("doc_id").between(50, 400))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy("lang")
      },
      Some("""WITH live AS (
             |  SELECT * FROM documents
             |  WHERE doc_id NOT BETWEEN 100 AND 199),
             |pruned AS (
             |  SELECT * FROM live WHERE doc_id BETWEEN 50 AND 400)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM pruned GROUP BY 1 ORDER BY 1""".stripMargin),
      bench = true),

    // Data skipping THROUGH the V2 reader —
    // [[graft.plans.GraftManifestPrune]]: a WHERE over the manifest
    // key shrinks the relation's FILE LIST before any file opens
    // (asserted on the planned V2 scan below), while the query's own
    // filter stays as the residual — pruned ≡ full scan by the
    // scanPruned construction, hash-proved against the DuckDB
    // recompute. At 100 TB this is the reader's biggest lever: the
    // most common query shape (`WHERE key BETWEEN …` through plain
    // SQL) opens the overlapping files, not the table.
    QueryDef("q_layout_reader_prune",
      (s, d) => {
        val dir = readerPruneDocs(s, d)
        def v2Files(df: org.apache.spark.sql.DataFrame): Int =
          df.queryExecution.optimizedPlan.collect {
            case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
              r.scan match {
                case fsc: org.apache.spark.sql.execution.datasources.v2.FileScan =>
                  fsc.fileIndex.inputFiles.length
                case _ => 0
              }
          }.sum
        val total = v2Files(s.read.format("graft").load(dir))
        val df = s.read.format("graft").load(dir)
          .where(col("doc_id").between(120, 180))
        val survivors = v2Files(df)
        require(total == 8 && survivors >= 1 && survivors <= 3,
          s"manifest pruning must shrink the V2 file list: " +
            s"$survivors of $total")
        df.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM documents WHERE doc_id BETWEEN 120 AND 180
             |GROUP BY 1 ORDER BY 1""".stripMargin),
      bench = true),

    // Data skipping on a MERGE-ON-READ table — the r16 gap closed: a
    // WHERE over a DV-bearing generation routes the optimizer
    // substitution through [[Layout.readSnapshot]]'s prune boxes (conjuncts →
    // the same prune boxes, survivors only), so the moment a table
    // takes one vectorized delete its SQL reads KEEP opening 2-3
    // files, not the manifest's worth. The fixture asserts the
    // file-list shrink ON THE SUBSTITUTED PLAN (V1 relations inside
    // the merge-on-read anti-join, DV stores excluded) once; the
    // timed body is the pruned read itself. Oracle: DuckDB recomputes
    // delete-then-filter from the unmutated table.
    QueryDef("q_layout_dv_prune",
      (s, d) => {
        val dir = dvDocs(s, d)
        prunedFixture.computeIfAbsent(s"$d#docs_dv_prune_checked", _ => {
          def dataFiles(df: org.apache.spark.sql.DataFrame): Int =
            df.queryExecution.optimizedPlan.collect {
              case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
                l.relation match {
                  case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                    h.location.inputFiles.count(f => !f.contains("_graft_dv"))
                  case _ => 0
                }
            }.sum
          // the delete may have DROP-proved a fully-covered file, so
          // the live manifest holds 7-8 files by SF; the assertion is
          // the SHRINK, never an exact layout guess
          val full = dataFiles(s.read.format("graft").load(dir))
          val pruned = dataFiles(s.read.format("graft").load(dir)
            .where(col("doc_id").between(150, 300)))
          require(full >= 6 && pruned >= 1 && pruned <= 4 && pruned < full,
            s"a DV'd generation must keep manifest skipping through " +
              s"SQL: $pruned of $full files")
          dir
        })
        s.read.format("graft").load(dir)
          .where(col("doc_id").between(150, 300))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy("lang")
      },
      Some("""WITH live AS (
             |  SELECT * FROM documents
             |  WHERE doc_id NOT BETWEEN 100 AND 199),
             |pruned AS (
             |  SELECT * FROM live WHERE doc_id BETWEEN 150 AND 300)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM pruned GROUP BY 1 ORDER BY 1""".stripMargin),
      bench = true),

    // MERGE INTO through SQL — the lakehouse workhorse desugared onto
    // the existing verbs (upsertByKeys / deleteMatching; never a
    // third mutation implementation): one statement updates matched
    // rows and inserts unmatched ones from a parenthesized source
    // query, a second deletes by matched key, and the gate
    // hash-proves the final table against DuckDB recomputing both
    // merges relationally. Stats assertions pin the file-subset
    // contract (untouched files stay untouched) and the exact
    // replaced/inserted/deleted row accounting.
    QueryDef("q_layout_sql_merge",
      (s, d) => {
        val dir = prunedFixture.computeIfAbsent(s"$d#docs_sqlmerge", _ => {
          val p = graft.Scratch.tempDir("graft_sqlmerge_") + "/documents"
          val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
          docs.repartitionByRange(4, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite").parquet(p)
          Layout.buildFileManifest(s, p, Seq("doc_id"))
            .write.mode("overwrite").parquet(s"$p/_graft_manifest")
          Layout.enableGenerations(s, p)
          docs.createOrReplaceTempView("merge_docs_src")
          val st1 = s.sql(s"GRAFT MERGE INTO '$p' USING (" +
            "SELECT doc_id, lang, n_chars + 5000 AS n_chars " +
            "FROM merge_docs_src WHERE doc_id BETWEEN 100 AND 149 " +
            "UNION ALL SELECT doc_id + 700000 AS doc_id, lang, n_chars " +
            "FROM merge_docs_src WHERE doc_id < 20" +
            ") ON (doc_id) " +
            "WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT")
            .collect()(0)
          require(st1.getAs[Long]("rows_upserted") == 70L &&
              st1.getAs[Long]("rows_replaced") == 50L &&
              st1.getAs[Int]("files_untouched") >= 1,
            s"degenerate MERGE upsert fixture: $st1")
          val st2 = s.sql(s"GRAFT MERGE INTO '$p' USING (" +
            "SELECT doc_id FROM merge_docs_src " +
            "WHERE doc_id BETWEEN 200 AND 249" +
            ") ON (doc_id) WHEN MATCHED THEN DELETE").collect()(0)
          require(st2.getAs[Long]("rows_deleted") == 50L,
            s"degenerate MERGE delete fixture: $st2")
          p
        })
        Layout.readLayout(s, dir)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy("lang")
      },
      Some("""WITH merged AS (
             |  SELECT doc_id, lang,
             |    CASE WHEN doc_id BETWEEN 100 AND 149
             |         THEN n_chars + 5000 ELSE n_chars END AS n_chars
             |  FROM documents
             |  UNION ALL
             |  SELECT doc_id + 700000, lang, n_chars FROM documents
             |  WHERE doc_id < 20),
             |final AS (
             |  SELECT * FROM merged WHERE doc_id NOT BETWEEN 200 AND 249)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM final GROUP BY 1 ORDER BY 1""".stripMargin)),

    // The V2 BATCH WRITE surface — `df.write.format("graft")
    // .mode("append").save(dir)` IS [[Layout.appendWithManifest]]
    // (same manifest coverage, CHECK discipline, and commit as the
    // Scala verb and GRAFT APPEND), and what the V2 writer lands the
    // V2 reader serves back manifest-covered: the gate appends a
    // shifted slice through the DSL and aggregates the table THROUGH
    // `spark.read.format("graft")`, hash-proved against DuckDB
    // recomputing the union from the unmutated table.
    QueryDef("q_layout_write_dsl",
      (s, d) => {
        val dir = prunedFixture.computeIfAbsent(s"$d#docs_wdsl", _ => {
          val p = graft.Scratch.tempDir("graft_wdsl_") + "/documents"
          val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
          docs.repartitionByRange(4, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite").parquet(p)
          Layout.buildFileManifest(s, p, Seq("doc_id"))
            .write.mode("overwrite").parquet(s"$p/_graft_manifest")
          Layout.enableGenerations(s, p)
          docs.where(col("doc_id") < 30)
            .withColumn("doc_id", col("doc_id") + 800000L)
            .write.format("graft").mode("append").save(p)
          require(Layout.currentGeneration(s, p) == 1L,
            "the DSL append must commit exactly one generation")
          p
        })
        s.read.format("graft").load(dir)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy("lang")
      },
      Some("""WITH appended AS (
             |  SELECT doc_id, lang, n_chars FROM documents
             |  UNION ALL
             |  SELECT doc_id + 800000, lang, n_chars FROM documents
             |  WHERE doc_id < 30)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM appended GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Time travel SQL + named GRAFT verbs + SQL CLONE in one gate:
    // the fixture registers a layout as a catalog table, CLONEs
    // generation 0 through the SQL verb (by NAME), then mutates the
    // table through `GRAFT DELETE FROM <name>` — and the gate query
    // reads THREE snapshots of the same table: the live state through
    // the catalog name, the pre-delete state through ANSI
    // `VERSION AS OF 0` (the [[graft.plans.GraftTimeTravel]] parse
    // rewrite), and the clone directory (independence: the clone is
    // the pre-delete bytes, standalone). Oracle: DuckDB recomputes
    // live from the band-filtered table, v0/clone from the raw table.
    QueryDef("q_layout_tt_sql",
      (s, d) => {
        val clone = prunedFixture.computeIfAbsent(s"$d#docs_tt_sql", _ => {
          val p0 = graft.Scratch.tempDir("graft_tt_")
          val p = s"$p0/documents"
          val c = s"$p0/clone"
          val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
          docs.repartitionByRange(4, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite").parquet(p)
          Layout.buildFileManifest(s, p, Seq("doc_id"))
            .write.mode("overwrite").parquet(s"$p/_graft_manifest")
          Layout.enableGenerations(s, p)
          s.sql("DROP TABLE IF EXISTS graft_gate_tt")
          s.sql(s"CREATE TABLE graft_gate_tt USING graft " +
            s"OPTIONS (path '$p')")
          s.sql(s"GRAFT CLONE graft_gate_tt VERSION AS OF 0 TO '$c'")
            .collect()
          s.sql("GRAFT DELETE FROM graft_gate_tt " +
            "WHERE doc_id BETWEEN 100 AND 199").collect()
          c
        })
        s.read.parquet(clone).createOrReplaceTempView("graft_gate_tt_clone")
        s.sql("""SELECT 'live' AS snap, lang, count(*) AS n_docs,
                |  sum(n_chars) AS total_chars, sum(doc_id) AS id_sum
                |FROM graft_gate_tt GROUP BY lang
                |UNION ALL
                |SELECT 'v0' AS snap, lang, count(*) AS n_docs,
                |  sum(n_chars) AS total_chars, sum(doc_id) AS id_sum
                |FROM graft_gate_tt VERSION AS OF 0 GROUP BY lang
                |UNION ALL
                |SELECT 'clone' AS snap, lang, count(*) AS n_docs,
                |  sum(n_chars) AS total_chars, sum(doc_id) AS id_sum
                |FROM graft_gate_tt_clone GROUP BY lang
                |ORDER BY snap, lang""".stripMargin)
      },
      Some("""WITH live AS (
             |  SELECT * FROM documents
             |  WHERE doc_id NOT BETWEEN 100 AND 199)
             |SELECT 'live' AS snap, lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM live GROUP BY lang
             |UNION ALL
             |SELECT 'v0' AS snap, lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM documents GROUP BY lang
             |UNION ALL
             |SELECT 'clone' AS snap, lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM documents GROUP BY lang
             |ORDER BY snap, lang""".stripMargin)),

    // REPLACE INTO — the idempotent-backfill statement
    // ([[Layout.replaceWhere]]): one committed generation deletes the
    // doc_id band AND inserts the corrected rows (n_chars shifted by
    // +1000), with strict containment proved over the incoming batch.
    // The gate aggregates the post-backfill table; the oracle
    // recomputes band-outside ∪ corrected-band from the raw table.
    // The fixture also proves the ONE-generation contract in-gate.
    QueryDef("q_layout_replace",
      (s, d) => {
        val dir = prunedFixture.computeIfAbsent(s"$d#docs_replace", _ => {
          val p = graft.Scratch.tempDir("graft_repl_") + "/documents"
          val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
          docs.repartitionByRange(4, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite").parquet(p)
          Layout.buildFileManifest(s, p, Seq("doc_id"))
            .write.mode("overwrite").parquet(s"$p/_graft_manifest")
          Layout.enableGenerations(s, p)
          docs.where(col("doc_id").between(100, 199))
            .select(col("doc_id"), col("lang"),
              (col("n_chars") + 1000).as("n_chars"))
            .createOrReplaceTempView("graft_replace_src")
          s.sql(s"GRAFT REPLACE INTO '$p' WHERE doc_id BETWEEN 100 " +
            "AND 199 AS SELECT * FROM graft_replace_src").collect()
          require(Layout.currentGeneration(s, p) == 1L,
            "REPLACE INTO must commit exactly one generation")
          p
        })
        Layout.readLayout(s, dir)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy("lang")
      },
      Some("""WITH replaced AS (
             |  SELECT doc_id, lang, n_chars FROM documents
             |  WHERE doc_id NOT BETWEEN 100 AND 199
             |  UNION ALL
             |  SELECT doc_id, lang, n_chars + 1000 AS n_chars
             |  FROM documents WHERE doc_id BETWEEN 100 AND 199)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM replaced GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ANSI DELETE — `DELETE FROM <name> WHERE …` in PLAIN SQL (no
    // GRAFT dialect): the catalog table routes through
    // SupportsDelete, [[graft.sources.GraftDeleteFilters]] renders
    // the condition as EXACT boxes (a BETWEEN → two range conjuncts
    // here), and the execution is the same pay-for-the-touch
    // deleteWhere every other surface uses. Oracle: DuckDB
    // recomputes the post-delete aggregate from the raw table.
    QueryDef("q_layout_ansi_delete",
      (s, d) => {
        prunedFixture.computeIfAbsent(s"$d#docs_ansi_del", _ => {
          val p = graft.Scratch.tempDir("graft_adel_") + "/documents"
          val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
          docs.repartitionByRange(4, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite").parquet(p)
          Layout.buildFileManifest(s, p, Seq("doc_id"))
            .write.mode("overwrite").parquet(s"$p/_graft_manifest")
          Layout.enableGenerations(s, p)
          s.sql("DROP TABLE IF EXISTS graft_gate_ansi")
          s.sql(s"CREATE TABLE graft_gate_ansi USING graft " +
            s"OPTIONS (path '$p')")
          s.sql("DELETE FROM graft_gate_ansi " +
            "WHERE doc_id BETWEEN 150 AND 249")
          require(Layout.currentGeneration(s, p) == 1L,
            "ANSI DELETE must commit exactly one generation")
          p
        })
        s.sql("""SELECT lang, count(*) AS n_docs,
                |  sum(n_chars) AS total_chars, sum(doc_id) AS id_sum
                |FROM graft_gate_ansi
                |GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""WITH live AS (
             |  SELECT * FROM documents
             |  WHERE doc_id NOT BETWEEN 150 AND 249)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM live GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ANSI UPDATE — `UPDATE <name> SET … WHERE …` in PLAIN SQL: the
    // parse-time rewrite ([[graft.plans.GraftAnsiDml]]) renders the
    // condition as EXACT boxes and lands on [[Layout.updateWhere]]
    // (simultaneous assignment from pre-update values, constraint
    // proofs, pay-for-the-touch). Oracle: DuckDB recomputes the
    // band-shifted aggregate from the raw table.
    QueryDef("q_layout_ansi_update",
      (s, d) => {
        prunedFixture.computeIfAbsent(s"$d#docs_ansi_upd", _ => {
          val p = graft.Scratch.tempDir("graft_aupd_") + "/documents"
          val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
          docs.repartitionByRange(4, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite").parquet(p)
          Layout.buildFileManifest(s, p, Seq("doc_id"))
            .write.mode("overwrite").parquet(s"$p/_graft_manifest")
          Layout.enableGenerations(s, p)
          s.sql("DROP TABLE IF EXISTS graft_gate_upd")
          s.sql(s"CREATE TABLE graft_gate_upd USING graft " +
            s"OPTIONS (path '$p')")
          s.sql("UPDATE graft_gate_upd SET n_chars = n_chars + 5000 " +
            "WHERE doc_id BETWEEN 200 AND 299").collect()
          require(Layout.currentGeneration(s, p) == 1L,
            "ANSI UPDATE must commit exactly one generation")
          p
        })
        s.sql("""SELECT lang, count(*) AS n_docs,
                |  sum(n_chars) AS total_chars, sum(doc_id) AS id_sum
                |FROM graft_gate_upd
                |GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""WITH updated AS (
             |  SELECT doc_id, lang,
             |    CASE WHEN doc_id BETWEEN 200 AND 299
             |         THEN n_chars + 5000 ELSE n_chars END AS n_chars
             |  FROM documents)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM updated GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Session-catalog tables — `CREATE TABLE t USING graft` then
    // plain `SELECT … FROM t`, no temp-view boilerplate: the gate
    // registers a layout fixture as a catalog table, mutates the
    // LAYOUT after registration (a vectorized delete), and
    // aggregates THROUGH THE TABLE NAME — proving catalog resolution
    // re-resolves the live generation (merge-on-read included)
    // rather than serving the stale registration-time state. Oracle:
    // DuckDB recomputes the post-delete aggregate from the unmutated
    // table.
    QueryDef("q_layout_catalog",
      (s, d) => {
        prunedFixture.computeIfAbsent(s"$d#docs_catalog", _ => {
          val p = graft.Scratch.tempDir("graft_cat_") + "/documents"
          val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
          docs.repartitionByRange(4, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite").parquet(p)
          Layout.buildFileManifest(s, p, Seq("doc_id"))
            .write.mode("overwrite").parquet(s"$p/_graft_manifest")
          Layout.enableGenerations(s, p)
          s.sql("DROP TABLE IF EXISTS graft_gate_docs")
          s.sql(s"CREATE TABLE graft_gate_docs USING graft " +
            s"OPTIONS (path '$p')")
          // mutate AFTER registration: catalog resolution must track
          Layout.deleteWhereDv(s, p,
            Seq(Layout.KeyBox("doc_id", 100L, 199L)))
          p
        })
        s.sql("""SELECT lang, count(*) AS n_docs,
                |  sum(n_chars) AS total_chars,
                |  sum(doc_id) AS id_sum
                |FROM graft_gate_docs
                |GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""WITH live AS (
             |  SELECT * FROM documents
             |  WHERE doc_id NOT BETWEEN 100 AND 199)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM live GROUP BY 1 ORDER BY 1""".stripMargin)),

    // TIMESTAMP AS OF — [[Layout.generationAsOf]] resolves a
    // wall-clock instant to the newest commit at or before it (the
    // per-generation commit records written at each manifest
    // replace), and [[Layout.readSnapshot]] serves that snapshot:
    // the fixture commits two deletes under OPTIMISTIC CONCURRENCY
    // (each names the generation it read; a stale expectation would
    // refuse with ConcurrentModificationException) and pins an
    // instant BETWEEN them, so the gate must see exactly the first
    // delete applied and not the second — the oracle recomputes that
    // intermediate state from the unmutated table.
    QueryDef("q_layout_asof",
      (s, d) => {
        val spec = prunedFixture.computeIfAbsent(s"$d#docs_asof", _ => {
          val p = graft.Scratch.tempDir("graft_asof_") + "/documents"
          val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
          docs.repartitionByRange(8, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite").parquet(p)
          Layout.buildFileManifest(s, p, Seq("doc_id"))
            .write.mode("overwrite").parquet(s"$p/_graft_manifest")
          Layout.enableGenerations(s, p)
          Layout.deleteWhere(s, p, Seq(Layout.KeyBox("doc_id", 100L, 199L)),
            expectedGen = Some(0L))
          // the pinned instant must strictly separate the two commit
          // timestamps (millisecond clock)
          Thread.sleep(2)
          val tsMid = System.currentTimeMillis()
          Thread.sleep(2)
          Layout.deleteWhere(s, p, Seq(Layout.KeyBox("doc_id", 300L, 399L)),
            expectedGen = Some(1L))
          require(Layout.generationAsOf(s, p, tsMid) == 1L,
            "the pinned instant did not resolve between the commits")
          s"$p|$tsMid"
        })
        val Array(dir, ts) = spec.split('|')
        Layout.readSnapshot(s, dir, Layout.generationAsOf(s, dir, ts.toLong))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy("lang")
      },
      Some("""WITH pinned AS (
             |  SELECT * FROM documents
             |  WHERE doc_id NOT BETWEEN 100 AND 199)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM pinned GROUP BY 1 ORDER BY 1""".stripMargin)),

    // RESTORE — [[Layout.restoreSnapshot]] makes generation 0's rows
    // the live table again as a NEW commit (the undo for the two
    // deletes), copying retired files back under fresh names with
    // their manifest stats carried VERBATIM; the gate then runs a
    // manifest-PRUNED read over the restored live table, so both the
    // row content and the carried stats must be exact — against the
    // oracle over the table as if nothing ever happened.
    QueryDef("q_layout_restore",
      (s, d) => {
        val dir = prunedFixture.computeIfAbsent(s"$d#docs_restore", _ => {
          val p = graft.Scratch.tempDir("graft_restore_") + "/documents"
          val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
          docs.repartitionByRange(8, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite").parquet(p)
          Layout.buildFileManifest(s, p, Seq("doc_id"))
            .write.mode("overwrite").parquet(s"$p/_graft_manifest")
          Layout.enableGenerations(s, p)
          Layout.deleteWhere(s, p, Seq(Layout.KeyBox("doc_id", 100L, 199L)),
            expectedGen = Some(0L))
          Layout.deleteWhere(s, p, Seq(Layout.KeyBox("doc_id", 300L, 349L)),
            expectedGen = Some(1L))
          val st = Layout.restoreSnapshot(s, p, 0L, expectedGen = Some(2L))
          require(st.committed && st.filesCopied > 0 &&
              Layout.currentGeneration(s, p) == 3L,
            s"degenerate fixture: $st")
          p
        })
        Layout.scanPruned(s, dir, Seq(Layout.KeyBox("doc_id", 50L, 400L)))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy("lang")
      },
      Some("""WITH pruned AS (
             |  SELECT * FROM documents WHERE doc_id BETWEEN 50 AND 400)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM pruned GROUP BY 1 ORDER BY 1""".stripMargin)),

    // CLONE — [[Layout.cloneSnapshot]] exports generation 0 as a
    // standalone layout (the pin-the-training-set verb): the fixture
    // clones BEFORE gutting and vacuuming the source, so the gate's
    // pruned read over the clone proves both independence (the
    // source's later history cannot reach it) and that the rewritten
    // manifest's carried stats stay exact.
    QueryDef("q_layout_clone",
      (s, d) => {
        val dir = prunedFixture.computeIfAbsent(s"$d#docs_clone", _ => {
          val p0 = graft.Scratch.tempDir("graft_clone_")
          val p = s"$p0/documents"
          val c = s"$p0/clone"
          val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
          docs.repartitionByRange(8, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite").parquet(p)
          Layout.buildFileManifest(s, p, Seq("doc_id"))
            .write.mode("overwrite").parquet(s"$p/_graft_manifest")
          Layout.enableGenerations(s, p)
          Layout.deleteWhere(s, p, Seq(Layout.KeyBox("doc_id", 100L, 199L)))
          require(Layout.cloneSnapshot(s, p, 0L, c) > 0L,
            "degenerate fixture: nothing cloned")
          // gut the source AFTER cloning — the clone must not notice
          Layout.deleteWhere(s, p, Seq(Layout.KeyBox("doc_id", 0L, 999999L)))
          Layout.vacuumGenerations(s, p, retainLast = 1)
          c
        })
        Layout.scanPruned(s, dir, Seq(Layout.KeyBox("doc_id", 50L, 400L)))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy("lang")
      },
      Some("""WITH pruned AS (
             |  SELECT * FROM documents WHERE doc_id BETWEEN 50 AND 400)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM pruned GROUP BY 1 ORDER BY 1""".stripMargin)),

    // DESCRIBE HISTORY — [[Layout.describeHistory]] folds the
    // generation store's archived manifests into one commit-log
    // table (file and row churn per committed generation) without
    // opening a data file. Runs over the SAME churned fixture as
    // q_layout_cdf (delete, CDC update, append); the gate pins the
    // oracle-stable column: net row delta per commit — the delete's
    // band count negated, the update's zero (delete+insert of the
    // same 10 rows), the append's +50. File counts and gross row
    // churn depend on physical file boundaries (rewritten partials
    // count on both sides) and are spec-asserted instead.
    QueryDef("q_layout_history",
      (s, d) => Layout.describeHistory(s, cdfChurnedDocs(s, d))
        .select("gen", "net_rows").orderBy("gen"),
      Some("""SELECT CAST(1 AS BIGINT) AS gen,
             |  -CAST((SELECT count(*) FROM documents
             |         WHERE doc_id BETWEEN 100 AND 199) AS BIGINT)
             |    AS net_rows
             |UNION ALL SELECT CAST(2 AS BIGINT), CAST(0 AS BIGINT)
             |UNION ALL SELECT CAST(3 AS BIGINT),
             |  CAST((SELECT count(*) FROM documents WHERE doc_id < 50)
             |    AS BIGINT)
             |ORDER BY gen""".stripMargin)),

    // Self-refreshing materialized view — [[graft.ext.Ivm.createView]]
    // persists an aggregate state pinned to the base layout's
    // generation, and [[graft.ext.Ivm.refreshView]] advances it by
    // diffing generations (changesBetween) and maintaining
    // (maintainAgg), never recomputing from the base: the fixture
    // takes TWO refresh cycles (delete+upsert, then append) plus a
    // proved no-op refresh, and the final persisted state must equal
    // the from-scratch recompute — CREATE/REFRESH MATERIALIZED VIEW
    // over the lakehouse verbs, end to end. Refresh cost is
    // |churned files| + |state|; at 100 TB the view never re-shuffles
    // the fact table.
    QueryDef("q_layout_mv",
      (s, d) => {
        val viewDir = prunedFixture.computeIfAbsent(s"$d#docs_mv", _ => {
          val root = graft.Scratch.tempDir("graft_mv_")
          val p = root + "/documents"
          val v = root + "/view"
          val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
          docs.repartitionByRange(8, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite").parquet(p)
          Layout.buildFileManifest(s, p, Seq("doc_id"))
            .write.mode("overwrite").parquet(s"$p/_graft_manifest")
          Layout.enableGenerations(s, p)
          graft.ext.Ivm.createView(s, p, v, Seq("lang"), Seq("n_chars"))
          Layout.deleteWhere(s, p,
            Seq(Layout.KeyBox("doc_id", 300L, 399L)))
          val upd = docs.filter(col("doc_id").between(400, 409))
            .withColumn("n_chars", col("n_chars") + lit(500))
          Layout.upsertByKey(s, p, upd, "doc_id")
          val r1 = graft.ext.Ivm.refreshView(s, v)
          require(r1.refreshed && r1.fromGen == 0L && r1.toGen == 2L,
            s"degenerate fixture: $r1")
          val app = docs.filter(col("doc_id") < 30)
            .withColumn("doc_id", col("doc_id") + lit(700000L))
          Layout.appendWithManifest(app, p, Seq("doc_id"))
          val r2 = graft.ext.Ivm.refreshView(s, v)
          require(r2.refreshed && r2.fromGen == 2L && r2.toGen == 3L,
            s"degenerate fixture: $r2")
          require(!graft.ext.Ivm.refreshView(s, v).refreshed,
            "a current view must refresh as a no-op")
          v
        })
        graft.ext.Ivm.readView(s, viewDir).orderBy("lang")
      },
      Some("""WITH base AS (SELECT doc_id, lang, n_chars FROM documents),
             |after_del AS (
             |  SELECT * FROM base WHERE doc_id NOT BETWEEN 300 AND 399),
             |merged AS (
             |  SELECT * FROM after_del WHERE doc_id NOT BETWEEN 400 AND 409
             |  UNION ALL
             |  SELECT doc_id, lang, n_chars + 500 FROM base
             |  WHERE doc_id BETWEEN 400 AND 409),
             |final AS (
             |  SELECT * FROM merged
             |  UNION ALL
             |  SELECT doc_id + 700000, lang, n_chars FROM base
             |  WHERE doc_id < 30)
             |SELECT lang, CAST(count(*) AS BIGINT) AS cnt,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_n_chars
             |FROM final GROUP BY 1 ORDER BY 1""".stripMargin),
      bench = true),

    // STREAMING MV loop — the production deployment of the persisted
    // view: a FILE-SOURCE stream (maxFilesPerTrigger=1, so each
    // dropped file is one micro-batch) drives
    // foreachBatch { ingest-commit → [[Ivm.refreshView]] } against the
    // ON-DISK view dir — each batch commits one generation via
    // [[Layout.appendWithManifest]] and the refresh maintains the
    // persisted state off that commit's file-diff feed alone,
    // exercising the temp+rename state commit (and its crash-window
    // healing) under a streaming cadence. The fixture asserts the
    // per-batch invariant view ≡ live recompute after EVERY
    // micro-batch; the gate serves the final persisted state against
    // DuckDB's replay of base ∪ both batches.
    QueryDef("q_layout_mv_stream",
      (s, d) => {
        val viewDir = prunedFixture.computeIfAbsent(s"$d#docs_mvstream", _ => {
          val root = graft.Scratch.tempDir("graft_mvs_")
          val p = root + "/documents"
          val v = root + "/view"
          val in = root + "/ingest"
          val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
          docs.repartitionByRange(8, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite").parquet(p)
          Layout.buildFileManifest(s, p, Seq("doc_id"))
            .write.mode("overwrite").parquet(s"$p/_graft_manifest")
          Layout.enableGenerations(s, p)
          graft.ext.Ivm.createView(s, p, v, Seq("lang"), Seq("n_chars"))
          val fs = new org.apache.hadoop.fs.Path(in)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.mkdirs(new org.apache.hadoop.fs.Path(in))
          def canon(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long)] =
            df.select("lang", "cnt", "sum_n_chars").collect()
              .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
              .sortBy(_._1).toSeq
          val q = s.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1).parquet(in)
            .writeStream.outputMode("append")
            .option("checkpointLocation", s"$root/ckpt")
            .foreachBatch {
              (batch: org.apache.spark.sql.DataFrame, _: Long) =>
                Layout.appendWithManifest(batch.repartition(1), p,
                  Seq("doc_id"))
                graft.ext.Ivm.refreshView(s, v)
                ()
            }.start()
          try {
            val batches = Seq(
              docs.filter(col("doc_id") < 40)
                .withColumn("doc_id", col("doc_id") + lit(900000L)),
              // group birth mid-stream: a lang the view never held
              docs.filter(col("doc_id").between(40, 59))
                .withColumn("doc_id", col("doc_id") + lit(950000L))
                .withColumn("lang", lit("zz")))
            for ((b, i) <- batches.zipWithIndex) {
              val stage = new org.apache.hadoop.fs.Path(s"$root/stage$i")
              b.repartition(1).write.mode("overwrite")
                .parquet(stage.toString)
              val part = fs.listStatus(stage).map(_.getPath)
                .filter(_.getName.startsWith("part-")).head
              require(fs.rename(part,
                new org.apache.hadoop.fs.Path(in, s"batch$i.parquet")),
                s"failed to stage streaming batch $i")
              q.processAllAvailable()
              // the per-batch invariant: the PERSISTED state equals
              // the live recompute after every micro-batch
              val live = canon(graft.ext.Ivm.aggregateOf(
                s.read.parquet(p).select("lang", "n_chars"),
                Seq("lang"), Seq("n_chars")))
              require(canon(graft.ext.Ivm.readView(s, v)) == live,
                s"view diverged from the live recompute after batch $i")
              require(graft.ext.Ivm.viewGeneration(s, v) ==
                  Layout.currentGeneration(s, p),
                s"view not pinned at the live generation after batch $i")
            }
          } finally q.stop()
          v
        })
        graft.ext.Ivm.readView(s, viewDir).orderBy("lang")
      },
      Some("""WITH base AS (SELECT doc_id, lang, n_chars FROM documents),
             |final AS (
             |  SELECT * FROM base
             |  UNION ALL
             |  SELECT doc_id + 900000, lang, n_chars FROM base
             |  WHERE doc_id < 40
             |  UNION ALL
             |  SELECT doc_id + 950000, 'zz', n_chars FROM base
             |  WHERE doc_id BETWEEN 40 AND 59)
             |SELECT lang, CAST(count(*) AS BIGINT) AS cnt,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_n_chars
             |FROM final GROUP BY 1 ORDER BY 1""".stripMargin),
      bench = true),

    // STREAMING CDC SOURCE — `spark.readStream.format("graft")`
    // ([[graft.sources.GraftSource]]) tails the generation store
    // itself: offsets are generation numbers, each micro-batch IS
    // [[Layout.changesBetween]] of the span committed since the last
    // batch — deletes and CDC updates arrive as SIGNED rows, not just
    // appends — so foreachBatch{maintainAgg} is the complete
    // streaming-MV loop with ZERO manual generation bookkeeping
    // (Delta's CDC streaming source recovered from manifests alone).
    // The fixture commits a delete, an upsert, and an append as
    // separate generations, lets the stream maintain a state across
    // the batches, and the served state must equal DuckDB's replay of
    // all three mutations aggregated from scratch.
    QueryDef("q_layout_cdc_stream",
      (s, d) => {
        val stateHolder = prunedFixture.computeIfAbsent(s"$d#docs_cdcs", _ => {
          val root = graft.Scratch.tempDir("graft_cdcs_")
          val p = root + "/documents"
          val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
          docs.repartitionByRange(8, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite").parquet(p)
          Layout.buildFileManifest(s, p, Seq("doc_id"))
            .write.mode("overwrite").parquet(s"$p/_graft_manifest")
          Layout.enableGenerations(s, p)
          val stateDir = root + "/state"
          graft.ext.Ivm.aggregateOf(
              Layout.readSnapshot(s, p, 0L).select("lang", "n_chars"),
              Seq("lang"), Seq("n_chars"))
            .write.mode("overwrite").parquet(stateDir)
          val q = s.readStream.format("graft")
            .option("startingVersion", "0").load(p)
            .writeStream.outputMode("append")
            .option("checkpointLocation", s"$root/ckpt")
            .foreachBatch {
              (batch: org.apache.spark.sql.DataFrame, _: Long) =>
                // read → maintain → eager pin → overwrite (the state
                // dir is both source and sink)
                graft.ext.Ivm.maintainAgg(s.read.parquet(stateDir),
                    batch.select("lang", "n_chars", "op"),
                    Seq("lang"), Seq("n_chars"))
                  .localCheckpoint(true)
                  .write.mode("overwrite").parquet(stateDir)
                ()
            }.start()
          try {
            Layout.deleteWhere(s, p,
              Seq(Layout.KeyBox("doc_id", 100L, 199L)))
            q.processAllAvailable()
            val upd = docs.filter(col("doc_id").between(200, 209))
              .withColumn("n_chars", col("n_chars") + lit(1000))
            Layout.upsertByKey(s, p, upd, "doc_id")
            Layout.appendWithManifest(
              docs.filter(col("doc_id") < 50)
                .withColumn("doc_id", col("doc_id") + lit(500000L))
                .repartition(1),
              p, Seq("doc_id"))
            q.processAllAvailable()
          } finally q.stop()
          stateDir
        })
        s.read.parquet(stateHolder).orderBy("lang")
      },
      Some("""WITH base AS (SELECT doc_id, lang, n_chars FROM documents),
             |final AS (
             |  SELECT * FROM base WHERE doc_id NOT BETWEEN 100 AND 209
             |  UNION ALL
             |  SELECT doc_id, lang, n_chars + 1000 FROM base
             |  WHERE doc_id BETWEEN 200 AND 209
             |  UNION ALL
             |  SELECT doc_id + 500000, lang, n_chars FROM base
             |  WHERE doc_id < 50)
             |SELECT lang, CAST(count(*) AS BIGINT) AS cnt,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_n_chars
             |FROM final GROUP BY 1 ORDER BY 1""".stripMargin),
      bench = true),

    // FILTERED materialized view — [[Ivm.createView]] with a WHERE
    // predicate (the `... FROM t WHERE status='F'` shape): the
    // predicate governs the bootstrap AND every refresh feed — row
    // membership is a function of the row alone, so the signed feed's
    // filtered subset maintains exactly the filtered aggregate. The
    // fixture's churn deliberately straddles the boundary: deletes of
    // rows the view never held (their -1s must drop at the feed
    // filter), an upsert that moves a row OUT of the predicate (a net
    // view-delete), and an append of mixed rows. Oracle: filtered
    // recompute over the replayed multiset.
    QueryDef("q_layout_mv_where",
      (s, d) => {
        val viewDir = prunedFixture.computeIfAbsent(s"$d#docs_mvw", _ => {
          val root = graft.Scratch.tempDir("graft_mvw_")
          val p = root + "/documents"
          val v = root + "/view"
          val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
          docs.repartitionByRange(8, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite").parquet(p)
          Layout.buildFileManifest(s, p, Seq("doc_id"))
            .write.mode("overwrite").parquet(s"$p/_graft_manifest")
          Layout.enableGenerations(s, p)
          graft.ext.Ivm.createView(s, p, v, Seq("lang"), Seq("n_chars"),
            where = Some("n_chars >= 2000"))
          Layout.deleteWhere(s, p,
            Seq(Layout.KeyBox("doc_id", 300L, 399L)))
          // push rows 400-404 BELOW the predicate (net view-deletes),
          // rows 405-409 up (stay/enter)
          val upd = docs.filter(col("doc_id").between(400, 409))
            .withColumn("n_chars",
              when(col("doc_id") < 405, lit(10L))
                .otherwise(col("n_chars") + lit(5000L)))
          Layout.upsertByKey(s, p, upd, "doc_id")
          val r1 = graft.ext.Ivm.refreshView(s, v)
          require(r1.refreshed && r1.toGen == 2L, s"degenerate: $r1")
          val app = docs.filter(col("doc_id") < 30)
            .withColumn("doc_id", col("doc_id") + lit(700000L))
          Layout.appendWithManifest(app, p, Seq("doc_id"))
          val r2 = graft.ext.Ivm.refreshView(s, v)
          require(r2.refreshed && r2.toGen == 3L, s"degenerate: $r2")
          v
        })
        graft.ext.Ivm.readView(s, viewDir).orderBy("lang")
      },
      Some("""WITH base AS (SELECT doc_id, lang, n_chars FROM documents),
             |after_del AS (
             |  SELECT * FROM base WHERE doc_id NOT BETWEEN 300 AND 399),
             |merged AS (
             |  SELECT * FROM after_del WHERE doc_id NOT BETWEEN 400 AND 409
             |  UNION ALL
             |  SELECT doc_id, lang,
             |    CASE WHEN doc_id < 405 THEN 10 ELSE n_chars + 5000 END
             |  FROM base WHERE doc_id BETWEEN 400 AND 409),
             |final AS (
             |  SELECT * FROM merged
             |  UNION ALL
             |  SELECT doc_id + 700000, lang, n_chars FROM base
             |  WHERE doc_id < 30)
             |SELECT lang, CAST(count(*) AS BIGINT) AS cnt,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_n_chars
             |FROM final WHERE n_chars >= 2000
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Persisted CHAIN materialized view — [[Ivm.createChainView]] /
    // [[Ivm.refreshChainView]] over a 3-base join chain
    // (orders ⋈ lineitem ⋈ part), the fact ⋈ dim ⋈ dim shape real
    // reporting views take: the state pins a generation VECTOR and
    // persists the per-base multisets plus the intermediate-prefix
    // multiset, so each refresh folds [[Ivm.deltaJoinFeed]] up the
    // chain — one churn-priced delta-join per level, the bases never
    // re-joined. The fixture commits a delete on EVERY base across
    // two refreshes (the first span one-sided) and the served state
    // must equal the 3-way join aggregate the oracle recomputes from
    // scratch over the three surviving tables.
    QueryDef("q_ivm_chain_mv",
      (s, d) => {
        val viewDir = prunedFixture.computeIfAbsent(s"$d#chain_mv", _ => {
          val root = graft.Scratch.tempDir("graft_cmv_")
          val (pa, pb, pc, v) = (s"$root/orders", s"$root/lineitem",
            s"$root/part", s"$root/view")
          t(s, d, "orders").select("o_orderkey", "o_orderpriority")
            .repartitionByRange(4, col("o_orderkey"))
            .sortWithinPartitions("o_orderkey").write.parquet(pa)
          t(s, d, "lineitem")
            .select(col("l_orderkey").as("o_orderkey"), col("l_partkey"),
              col("l_quantity").cast("long").as("qty"))
            .repartitionByRange(4, col("o_orderkey"))
            .sortWithinPartitions("o_orderkey").write.parquet(pb)
          t(s, d, "part")
            .select(col("p_partkey").as("l_partkey"), col("p_brand"))
            .repartitionByRange(2, col("l_partkey"))
            .sortWithinPartitions("l_partkey").write.parquet(pc)
          for ((p, key) <- Seq((pa, "o_orderkey"), (pb, "o_orderkey"),
              (pc, "l_partkey"))) {
            Layout.buildFileManifest(s, p, Seq(key))
              .write.mode("overwrite").parquet(s"$p/_graft_manifest")
            Layout.enableGenerations(s, p)
          }
          graft.ext.Ivm.createChainView(s, Seq(pa, pb, pc), v,
            Seq(Seq("o_orderkey"), Seq("l_partkey")),
            Seq("o_orderpriority", "p_brand"), Seq("qty"))
          val om = t(s, d, "orders")
            .agg(min("o_orderkey"), max("o_orderkey")).head()
          val (omn, omx) = (om.getLong(0), om.getLong(1))
          val pm = t(s, d, "part")
            .agg(min("p_partkey"), max("p_partkey")).head()
          val (pmn, pmx) = (pm.getLong(0), pm.getLong(1))
          Layout.deleteWhere(s, pa,
            Seq(Layout.KeyBox("o_orderkey", omn, omn + (omx - omn) / 8)))
          val r1 = graft.ext.Ivm.refreshChainView(s, v)
          require(r1.refreshed && r1.toGens == Seq(1L, 0L, 0L),
            s"degenerate fixture: $r1")
          Layout.deleteWhere(s, pb,
            Seq(Layout.KeyBox("o_orderkey",
              omn + (omx - omn) / 4, omn + (omx - omn) / 2)))
          Layout.deleteWhere(s, pc,
            Seq(Layout.KeyBox("l_partkey", pmn, pmn + (pmx - pmn) / 4)))
          val r2 = graft.ext.Ivm.refreshChainView(s, v)
          require(r2.refreshed && r2.toGens == Seq(1L, 1L, 1L),
            s"degenerate fixture: $r2")
          require(!graft.ext.Ivm.refreshChainView(s, v).refreshed,
            "a current chain view must refresh as a no-op")
          v
        })
        graft.ext.Ivm.readChainView(s, viewDir)
          .orderBy("o_orderpriority", "p_brand")
      },
      Some("""WITH ro AS (
             |  SELECT min(o_orderkey) AS mn,
             |    min(o_orderkey) + (max(o_orderkey)-min(o_orderkey))//8
             |      AS ahi,
             |    min(o_orderkey) + (max(o_orderkey)-min(o_orderkey))//4
             |      AS blo,
             |    min(o_orderkey) + (max(o_orderkey)-min(o_orderkey))//2
             |      AS bhi
             |  FROM orders),
             |rp AS (
             |  SELECT min(p_partkey) AS pmn,
             |    min(p_partkey) + (max(p_partkey)-min(p_partkey))//4
             |      AS phi
             |  FROM part)
             |SELECT o_orderpriority, p_brand,
             |  CAST(count(*) AS BIGINT) AS cnt,
             |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
             |FROM orders o
             |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
             |JOIN part p ON p.p_partkey = l.l_partkey, ro, rp
             |WHERE o.o_orderkey NOT BETWEEN ro.mn AND ro.ahi
             |  AND l.l_orderkey NOT BETWEEN ro.blo AND ro.bhi
             |  AND p.p_partkey NOT BETWEEN rp.pmn AND rp.phi
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Persisted JOIN materialized view — [[Ivm.createJoinView]] /
    // [[Ivm.refreshJoinView]]: the revenue-by-dims shape real MVs
    // take (aggregate over orders ⋈ lineitem), persisted with BOTH
    // side multisets and pinned to a generation PAIR. The fixture
    // commits a delete on EACH base and refreshes twice — the first
    // span one-sided (lineitem's feed is empty), the second
    // maintaining through the delta-join — so the served state must
    // equal the join aggregate over the two final tables, which the
    // oracle recomputes from scratch. Maintenance never re-joins the
    // bases: each refresh joins churn-priced feeds against the
    // compressed side states.
    QueryDef("q_ivm_join_mv",
      (s, d) => {
        val viewDir = prunedFixture.computeIfAbsent(s"$d#join_mv", _ => {
          val root = graft.Scratch.tempDir("graft_jmv_")
          val (pa, pb, v) = (s"$root/orders", s"$root/lineitem",
            s"$root/view")
          t(s, d, "orders").select("o_orderkey", "o_orderpriority")
            .repartitionByRange(4, col("o_orderkey"))
            .sortWithinPartitions("o_orderkey").write.parquet(pa)
          t(s, d, "lineitem")
            .select(col("l_orderkey").as("o_orderkey"),
              col("l_returnflag"), col("l_quantity").cast("long").as("qty"))
            .repartitionByRange(4, col("o_orderkey"))
            .sortWithinPartitions("o_orderkey").write.parquet(pb)
          for (p <- Seq(pa, pb)) {
            Layout.buildFileManifest(s, p, Seq("o_orderkey"))
              .write.mode("overwrite").parquet(s"$p/_graft_manifest")
            Layout.enableGenerations(s, p)
          }
          graft.ext.Ivm.createJoinView(s, pa, pb, v, Seq("o_orderkey"),
            Seq("o_orderpriority", "l_returnflag"), Seq("qty"))
          // SF-independent delete bands, derived from the key range —
          // the oracle re-derives the identical bounds from `orders`
          val mm = t(s, d, "orders")
            .agg(min("o_orderkey"), max("o_orderkey")).head()
          val (mn, mx) = (mm.getLong(0), mm.getLong(1))
          val delA = Layout.deleteWhere(s, pa,
            Seq(Layout.KeyBox("o_orderkey", mn, mn + (mx - mn) / 8)))
          val r1 = graft.ext.Ivm.refreshJoinView(s, v)
          require(delA.rowsDeleted > 0 && r1.refreshed &&
              r1.toAGen == 1L && r1.toBGen == 0L,
            s"degenerate fixture: $delA, $r1")
          val delB = Layout.deleteWhere(s, pb,
            Seq(Layout.KeyBox("o_orderkey",
              mn + (mx - mn) / 4, mn + (mx - mn) / 2)))
          val r2 = graft.ext.Ivm.refreshJoinView(s, v)
          require(delB.rowsDeleted > 0 && r2.refreshed &&
              r2.toAGen == 1L && r2.toBGen == 1L,
            s"degenerate fixture: $delB, $r2")
          require(!graft.ext.Ivm.refreshJoinView(s, v).refreshed,
            "a current join view must refresh as a no-op")
          v
        })
        graft.ext.Ivm.readJoinView(s, viewDir)
          .orderBy("o_orderpriority", "l_returnflag")
      },
      Some("""WITH r AS (
             |  SELECT min(o_orderkey) AS mn,
             |    min(o_orderkey) + (max(o_orderkey)-min(o_orderkey))//8
             |      AS ahi,
             |    min(o_orderkey) + (max(o_orderkey)-min(o_orderkey))//4
             |      AS blo,
             |    min(o_orderkey) + (max(o_orderkey)-min(o_orderkey))//2
             |      AS bhi
             |  FROM orders)
             |SELECT o_orderpriority, l_returnflag,
             |  CAST(count(*) AS BIGINT) AS cnt,
             |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
             |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey,
             |  r
             |WHERE o.o_orderkey NOT BETWEEN r.mn AND r.ahi
             |  AND l.l_orderkey NOT BETWEEN r.blo AND r.bhi
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
  )
}
