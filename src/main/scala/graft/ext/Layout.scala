package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-order (Morton) clustering.
  *
  * Parquet data skipping prunes on per-file/row-group min-max ranges,
  * which a single sort column serves for ONE dimension only — a scan
  * filtered on the second dimension still reads every file. Z-order
  * interleaves the bits of two key columns so files cover compact
  * axis-aligned rectangles in (x, y) space: range filters on EITHER
  * dimension (or both) prune most files. This is the standard layout
  * technique for multi-tenant fact tables (filter by customer AND by
  * time) at lakehouse scale.
  *
  * The interleave is pure integer shift/mask arithmetic on codegen'd
  * built-ins (no UDF), and the identical expressions evaluate in any
  * SQL engine — the driver gate value-checks the z-values against
  * DuckDB bit-for-bit.
  */
object Layout {

  /** Spread the low 16 bits of `v`: bit i moves to bit 2i (the
    * classic magic-number doubling; every constant fits an int). */
  private def spread16(v: Column): Column = {
    val a = v.bitwiseAND(lit(0xFFFFL))
    val b = a.bitwiseOR(shiftleft(a, 8)).bitwiseAND(lit(0x00FF00FFL))
    val c = b.bitwiseOR(shiftleft(b, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val d = c.bitwiseOR(shiftleft(c, 2)).bitwiseAND(lit(0x33333333L))
    d.bitwiseOR(shiftleft(d, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** 32-bit Morton code of two non-negative keys (low 16 bits each):
    * `z = spread(x) | spread(y) << 1`. Keys wider than 16 bits should
    * be range-reduced first (e.g. bucketed or right-shifted) — the
    * interleave only orders what it sees. */
  def zorder2(x: Column, y: Column): Column =
    spread16(x).bitwiseOR(shiftleft(spread16(y), 1))

  /** Min-max scale an integer key onto the full 16-bit interleave
    * domain. Without this, keys of unequal bit width degenerate the
    * z-curve into a single-dimension sort: a 12-bit key's top bits
    * dominate every cut and the 6-bit key gets no locality at all.
    * Pure integer arithmetic: BELOW the [[normalizeBits]] overflow
    * cliff (key range < 2^47) this is exactly
    * `(c - lo) * 65535 / (hi - lo)` with floor division and
    * re-derives in any engine — the regime every layout gate oracle
    * assumes, valid for all the gate corpora; beyond the cliff both
    * the offset and the range are right-shifted first (see
    * [[normalizeBits]]), so an oracle twin of a wider-than-2^47 key
    * would need the same shift. */
  def normalize16(c: Column, lo: Long, hi: Long): Column =
    normalizeBits(c, lo, hi, 16)

  /** The order [[write]] clusters rows in: `ZOrder`, the k-ary Morton
    * interleave of 2..8 keys ([[zorderN]], pure built-ins that
    * re-derive in any SQL engine); `Hilbert`, the order-16 Hilbert
    * index of exactly 2 keys ([[hilbert2]], jump-free, so tighter
    * worst-case per-file boxes); or `Range`, lexicographic range
    * clustering on 1+ keys with no bounds agg. */
  sealed trait Curve

  object Curve {
    case object ZOrder extends Curve
    case object Hilbert extends Curve
    case object Range extends Curve
  }

  /** The one clustered writer: overwrite `path` with `df` clustered
    * along `curve` over `keys` into at most `files` files (at 100 TB,
    * pick `files` so files land near 1 GiB), every argument checked
    * before anything is written. ZOrder and Hilbert run the curve
    * step ([[curveCodeOf]]), range-partition on the code so files tile
    * the curve contiguously, and sort within partitions; an empty
    * frame or an all-null key has no bounds, so the write falls back
    * to a plain one (the same overwritten dir with `df`'s schema).
    * Range partitions and sorts on the keys themselves. Readers
    * filtering on any key skip files through parquet min-max pruning.
    *
    * A non-empty `manifestKeys` also stores the per-file skipping
    * manifest ([[buildFileManifest]]) at `<path>/_graft_manifest`,
    * which every parquet reader ignores as a data file (the
    * `_SUCCESS` / `_delta_log` convention) while [[scanPruned]] picks
    * the stats up in any later session with a manifest-sized read,
    * for every curve. Its file names are absolute URIs: moving the
    * directory invalidates it (rebuild with [[buildFileManifest]]). */
  def write(df: DataFrame, path: String, keys: Seq[Column], files: Int,
            curve: Curve = Curve.ZOrder,
            manifestKeys: Seq[String] = Nil): Unit = {
    curve match {
      case Curve.ZOrder => require(keys.length >= 2 && keys.length <= 8,
        s"write: ZOrder interleaves 2..8 keys, got ${keys.length}")
      case Curve.Hilbert => require(keys.length == 2,
        s"write: Hilbert takes exactly 2 keys, got ${keys.length}")
      case Curve.Range => require(keys.nonEmpty,
        "write: Range clustering needs at least one key")
    }
    require(files >= 1, s"write: files must be at least 1, got $files")
    if (manifestKeys.nonEmpty) requireEncodingStablePath(path)
    curve match {
      case Curve.Range => writeRangeClustered(df, keys, path, files)
      case c => curveCodeOf(df, keys, c) match {
        case Some(code) => writeClusteredBy(df, code, path, files)
        case None => df.write.mode("overwrite").parquet(path)
      }
    }
    if (manifestKeys.nonEmpty)
      buildFileManifest(df.sparkSession, path, manifestKeys)
        .write.mode("overwrite").parquet(s"$path/_graft_manifest")
  }

  /** Order-16 Hilbert curve index of two (pre-normalized, low 16
    * bits) keys — see [[graft.functions.HilbertIndex2]] for why this
    * is a native codegen'd expression rather than Column arithmetic. */
  def hilbert2(x: Column, y: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.HilbertIndex2(
        org.apache.spark.sql.GraftColumnBridge.expression(x),
        org.apache.spark.sql.GraftColumnBridge.expression(y)))

  /** The curve step under every clustered write ([[write]] and the
    * OPTIMIZE rewrite): ONE bounds agg over `keys`, [[normalizeBits]]
    * onto the curve's bit domain, then [[zorderN]] (ZOrder) or
    * [[hilbert2]] (Hilbert). A two-key ZOrder code is bit-identical
    * to [[zorder2]]'s. None when any bound is null: an empty frame or
    * an all-null key leaves nothing to cluster. */
  private def curveCodeOf(df: DataFrame, keys: Seq[Column],
                          curve: Curve): Option[Column] = {
    val bounds = keys.flatMap(c =>
      Seq(min(c).cast("long"), max(c).cast("long")))
    val row = df.agg(bounds.head, bounds.tail: _*).collect()(0)
    if (row.anyNull) None
    else {
      val bits = zorderBits(keys.length)
      val norm = keys.zipWithIndex.map { case (c, i) =>
        normalizeBits(c, row.getLong(2 * i), row.getLong(2 * i + 1), bits)
      }
      Some(if (curve == Curve.Hilbert) hilbert2(norm(0), norm(1))
        else zorderN(norm))
    }
  }

  /** The shared tail of every clustered writer: attach the layout
    * code, range-partition on it so files tile the curve contiguously,
    * sort within partitions, write. */
  private def writeClusteredBy(df: DataFrame, code: Column,
                               path: String, files: Int): Unit =
    df.withColumn("__z", code)
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** Range-partition `df` on `keys` and sort within partitions:
    * each file holds a disjoint key range with tight min/max stats. */
  private def writeRangeClustered(df: DataFrame, keys: Seq[Column],
                                  path: String, files: Int): Unit =
    df.repartitionByRange(files, keys: _*)
      .sortWithinPartitions(keys: _*)
      .write.mode("overwrite").parquet(path)

  /** k-ary Morton code: bit-interleave `keys.length` non-negative
    * keys, `min(16, 48/k)` bits each (k=2,3 → 16 bits, k=4 → 12,
    * k=6 → 8), so bit `j` of key `i` lands at position `j*k + i` —
    * the same layout [[zorder2]] produces for k=2. Fact tables
    * commonly filter on three dimensions (tenant, time, region);
    * the 3-D curve gives each file a compact axis-aligned BOX in all
    * three, so a range filter on ANY of the keys prunes files. Keys
    * must be pre-normalized onto the bit domain ([[normalizeBits]]).
    * Pure shift/mask arithmetic on codegen'd built-ins — `bits × k`
    * OR-terms of three integer ops each, well inside codegen limits
    * for every supported k. */
  def zorderN(keys: Seq[Column]): Column = {
    val k = keys.length
    require(k >= 2 && k <= 8, s"zorderN interleaves 2..8 keys, got $k")
    val bits = zorderBits(k)
    val terms = for {
      (key, i) <- keys.zipWithIndex
      masked = key.bitwiseAND(lit((1L << bits) - 1))
      j <- 0 until bits
    } yield shiftleft(shiftright(masked, j).bitwiseAND(lit(1L)), j * k + i)
    terms.reduce(_.bitwiseOR(_))
  }

  /** Bits per key in a k-ary interleave: 16 where the 63-bit long
    * budget allows, else `48/k` (all products stay ≤ 48 bits). */
  def zorderBits(k: Int): Int = math.min(16, 48 / k)

  /** [[normalize16]] generalized to a `bits`-wide target domain —
    * the per-key scaling step for [[zorderN]]. The naive
    * `(c - lo) * (2^bits - 1) / (hi - lo)` overflows long once the
    * key RANGE exceeds ~2^(63-bits) (e.g. epoch-micros spanning more
    * than ~4.5 years at bits=16), and under ANSI that fails every
    * clustered write loudly — so when the exact product cannot fit,
    * both the offset key and the range are right-shifted first. The
    * dropped low bits carry no information at a 2^bits resolution
    * (the quotient needs only the top `bits` bits of the offset), the
    * mapping stays monotone and lands in [0, 2^bits), and for every
    * range below the cliff (s = 0) the arithmetic is bit-identical to
    * the naive form. A range that itself exceeds the signed-long
    * domain (hi - lo overflows) has no integer encoding here and is
    * rejected loudly. */
  def normalizeBits(c: Column, lo: Long, hi: Long, bits: Int): Column =
    if (hi == lo) lit(0L)
    else {
      val d = hi - lo
      require(d > 0,
        s"normalizeBits: key range [$lo, $hi] exceeds the signed-long domain")
      val m = (1L << bits) - 1
      // smallest shift making (d >> s) * m overflow-free: the shifted
      // range must fit in 63 - bits bits
      val s = math.max(0, (64 - java.lang.Long.numberOfLeadingZeros(d)) - (63 - bits))
      call_function("div",
        shiftright(c - lit(lo), s) * lit(m), lit(d >> s))
    }

  /** An inclusive value interval `[lo, hi]` on a manifest key column
    * — the predicate shape file-skipping can act on. Two concrete
    * forms: [[KeyBox]] for integral keys (long bounds) and
    * [[TypedKeyBox]] for date / timestamp / string keys (string
    * bounds, cast to the key's stored stat type at plan time). */
  sealed trait PruneBox { def column: String }

  /** An inclusive `[lo, hi]` interval on an INTEGRAL key column. */
  final case class KeyBox(column: String, lo: Long, hi: Long) extends PruneBox

  /** An inclusive `[lo, hi]` interval on a date, timestamp, or string
    * key column, with bounds given as literal strings (`"1995-01-01"`,
    * `"1995-06-30 23:59:59.999999"`, `"fr"`). Each bound is cast to
    * the key's stored stat type when the pruning plan is built — under
    * ANSI SQL a malformed bound fails the cast loudly instead of
    * silently skipping every file. Time-range boxes are the #1
    * skipping predicate on a 100 TB fact table; this is the form that
    * expresses them without pre-encoding dates to epoch ints. */
  final case class TypedKeyBox(column: String, lo: String, hi: String)
      extends PruneBox

  /** An explicit value SET on an INTEGRAL key column — the sparse
    * counterpart of [[KeyBox]]: a file skips unless SOME set element
    * falls inside its `[min, max]` range, so two far-apart keys prune
    * everything between them where the equivalent range box keeps it
    * all. The residual is an `IN` filter (Catalyst compiles large
    * lists to an `InSet` hash probe). Values are broadcast into the
    * plan as one array literal — keep the set driver-small (the
    * [[joinPruned]] caller caps it and falls back to a range box).
    * Coverage PROOFS (deleteWhere's drop, countWhere's metadata
    * count) are impossible from min/max stats against a sparse set,
    * so those consumers treat set boxes as never-proved — correct,
    * just not metadata-only. */
  final case class KeySetBox(column: String, values: Seq[Long])
      extends PruneBox {
    require(values.nonEmpty, s"KeySetBox($column) needs at least one value")
  }

  /** [[KeySetBox]]'s TYPED counterpart — an explicit value set on a
    * date / timestamp / string key, values as literal strings cast to
    * the stored stat type at plan time (ANSI-loud on malformed). A
    * file skips unless SOME value falls inside its `[min, max]`; the
    * residual is a typed containment probe. Like [[KeySetBox]],
    * coverage PROOFS are impossible against a sparse set, so
    * metadata-only consumers (deleteWhere's drop, countWhere) treat
    * it as never-proved — correct, just not metadata-answered. This
    * is what lets `lang IN ('fr','de')` or `day IN (…)` through the
    * SQL surface prune files instead of falling back to a range that
    * keeps everything between the extremes. */
  final case class TypedKeySetBox(column: String, values: Seq[String])
      extends PruneBox {
    require(values.nonEmpty,
      s"TypedKeySetBox($column) needs at least one value")
  }

  /** A HALF-OPEN (or closed) interval on a date / timestamp / string
    * key — [[TypedKeyBox]] with either side optional. Exists because
    * a one-sided conjunct (`ts >= lo`) has no finite sentinel for the
    * missing side that preserves the box ⊇ conjunct SUPERSET
    * contract: Spark timestamps extend beyond year 9999 and before
    * year 1, so any string sentinel would wrongly prune files whose
    * rows lie outside it. A missing side simply emits no comparison.
    * Never covered-proved (conservative: demotes to the rewrite/scan
    * path in metadata consumers). */
  final case class TypedBoundsBox(column: String, lo: Option[String],
                                  hi: Option[String]) extends PruneBox {
    require(lo.isDefined || hi.isDefined,
      s"TypedBoundsBox($column) needs at least one bound")
  }

  /** An exact timestamp interval in epoch MICROS — the reader path's
    * timestamp range box. Bounds are INSTANTS, never rendered
    * strings, so the stat comparison is session-zone-independent and
    * every zone prunes timestamp keys exactly (a string bound's
    * format∘parse round trip is only bijective in DST-free zones,
    * which is why [[TypedKeyBox]]'s string timestamps stay
    * UTC-gated). Either side may be absent (half-open). Like the
    * other sparse/half-open forms, never covered-proved. */
  final case class TsMicrosBox(column: String, lo: Option[Long],
                               hi: Option[Long]) extends PruneBox {
    require(lo.isDefined || hi.isDefined,
      s"TsMicrosBox($column) needs at least one bound")
  }

  /** [[TsMicrosBox]]'s SET counterpart — `ts IN (…)` with the
    * elements as epoch-micro instants, pruning exactly in every
    * session zone (the string-rendered [[TypedKeySetBox]] stays for
    * date/string keys). A file skips unless SOME instant falls in its
    * `[min, max]`. Never covered-proved. */
  final case class TsMicrosSetBox(column: String, values: Seq[Long])
      extends PruneBox {
    require(values.nonEmpty,
      s"TsMicrosSetBox($column) needs at least one value")
  }

  /** Per-file min/max statistics manifest for `keyCols` over a
    * parquet directory — the Delta/Iceberg-style skipping index, as a
    * DataFrame `(file, n_rows, min_<k>, max_<k>, ...)` with one row
    * per data file. ONE distributed pass grouped by
    * `input_file_name()` (map-side partial min/max, then a
    * file-count-sized shuffle: a 100 TB table at ~1 GiB/file is
    * ~100k manifest rows). Build it once when the data is (re)written
    * — e.g. by [[write]] with `manifestKeys` — and let every subsequent
    * read prune against it via [[scanPruned]]. */
  def buildFileManifest(spark: org.apache.spark.sql.SparkSession, dir: String,
                        keyCols: Seq[String],
                        bloomKeys: Seq[String] = Nil): DataFrame = {
    requireEncodingStablePath(dir)
    // a rebuilt manifest cannot reconstruct which deletion-vector
    // store applies to which file — installing it would RESURRECT
    // every vectorized row. If every vector was already materialized
    // away, vacuum (tracked) or the purging verb (untracked) removed
    // `_graft_dv`; while it exists, refuse
    require(!new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(dvRoot(dir)),
      s"$dir carries deletion-vector stores (_graft_dv) — a rebuilt " +
        "manifest cannot know which files they apply to and would " +
        "resurrect deleted rows; if the live manifest is intact, " +
        "materialize the vectors (optimize/optimizeSelective) and " +
        "vacuum, then rebuild; if it is lost, the vectorized rows " +
        "are unrecoverable by rebuild alone")
    val src = spark.read.parquet(dir)
    // per-file too: an encoded partition SUBdirectory passes the
    // root check but would be recorded as an unstable URI that no
    // later read can resolve — reject at build time, not read time
    src.inputFiles.foreach(requireEncodingStablePath)
    manifestOf(src, keyCols, bloomKeys)
  }

  /** Key types with a well-defined, engine-portable min/max ordering:
    * integral (stats stored as long), date / timestamp / timestamp_ntz
    * (stats stored in the column's own type), and string (binary
    * UTF-8 ordering — Spark's and parquet's min/max agree on it).
    * Anything else — float (NaN ordering forks between engines),
    * decimal, binary, nested — is ENFORCED out: an unsupported column
    * would cast its stats to null, which reads as "all values null"
    * and marks every file skippable — a silent wrong (empty) pruned
    * read instead of a loud error. Shared by every manifest writer so
    * the accepted type set cannot fork between them. */
  private def requireSupportedKeys(schema: org.apache.spark.sql.types.StructType,
                                   keyCols: Seq[String]): Unit = {
    require(keyCols.nonEmpty, "manifest needs at least one key column")
    require(keyCols.distinct == keyCols,
      s"duplicate manifest key columns: ${keyCols.mkString(", ")}")
    for (k <- keyCols) {
      import org.apache.spark.sql.types._
      val dt = schema(k).dataType
      require(isIntegral(dt) || isTypedKey(dt),
        s"manifest key $k must be integral, date, timestamp, or string; found $dt")
    }
  }

  private def isIntegral(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    Seq(ByteType, ShortType, IntegerType, LongType).contains(dt)
  }

  private def isTypedKey(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    Seq(DateType, TimestampType, TimestampNTZType, StringType).contains(dt)
  }

  /** The manifest tracks files by the exact `input_file_name()` URI,
    * and those names are compared against `inputFiles` and fed back
    * into `spark.read` — all of which only round-trips when nothing
    * in the path percent-encodes. A path with a space (etc.) would
    * make every comparison and every survivor read fail in confusing
    * ways downstream, so the contract is enforced loudly at the
    * entrances instead. */
  private def requireEncodingStablePath(path: String): Unit = {
    val u = new org.apache.hadoop.fs.Path(path).toUri
    require(u.getRawPath == u.getPath,
      s"path $path contains characters that URI-encode (e.g. spaces) — " +
        "manifest file tracking requires an encoding-stable path")
  }

  /** Bitset width of a per-file bloom stat: 64 Kibit = 8 KiB/file/key
    * (k = 4 probes — [[Sketches.bloomContains]]'s default family).
    * Fixed, not configurable: the probe side must hash exactly the
    * way the build side did, and a width parameter would have to be
    * carried in the manifest to keep them aligned across sessions. */
  private val BloomBits = 65536

  private def manifestOf(df: DataFrame, keyCols: Seq[String],
                         bloomKeys: Seq[String] = Nil): DataFrame = {
    requireSupportedKeys(df.schema, keyCols)
    require(bloomKeys.distinct == bloomKeys,
      s"duplicate bloom key columns: ${bloomKeys.mkString(", ")}")
    for (k <- bloomKeys) {
      require(keyCols.contains(k),
        s"bloom key $k must also be a manifest key (stats carry the " +
          s"range the bloom refines); keys: ${keyCols.mkString(", ")}")
      require(isIntegral(df.schema(k).dataType),
        s"bloom stats need an integral key; $k is ${df.schema(k).dataType}")
    }
    // integral stats normalize to long (so a manifest built over int
    // data appends cleanly onto one built over bigint data); date /
    // timestamp / string stats keep their own type — the stat column's
    // type is what tells scanPruned how to decode a box bound. The
    // per-key null count (Iceberg's null_value_counts) is what lets
    // [[deleteWhere]] PROVE a file fully deletable without reading it:
    // min/max ignore nulls, so a range-covered file could still hold
    // null-key rows a value predicate must not delete. Optional
    // per-file BLOOM bitsets (Delta's bloom filter index / Iceberg
    // puffin) serve point lookups on keys the clustering does NOT
    // cover: ranges of an unclustered key span everything, but a
    // bloom MISS is a proof of absence (no false negatives), so
    // [[skipExprOf]]'s set-box consults it as a second skip clause.
    // 8 KiB/file/key is the storage cost — opt-in per key.
    def stats(k: String): Seq[Column] = {
      val mm =
        if (isIntegral(df.schema(k).dataType))
          Seq(min(col(k)).cast("long").as(s"min_$k"),
            max(col(k)).cast("long").as(s"max_$k"))
        else
          Seq(min(col(k)).as(s"min_$k"), max(col(k)).as(s"max_$k"))
      mm :+ (count(lit(1)) - count(col(k))).as(s"nulls_$k")
    }
    val blooms = bloomKeys.map { k =>
      graft.functions.SketchAggregates.bloomSketch(
        pmod(col(k).cast("long"), lit(Sketches.P)), BloomBits, 4)
        .as(s"bloom_$k")
    }
    df.groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"),
        (keyCols.flatMap(stats) ++ blooms): _*)
  }

  /** The key columns a stored manifest tracks — read back off its own
    * stat-column names, the single source every verb that re-derives
    * or patches stats goes through. */
  private def manifestKeysOf(
      mSchema: org.apache.spark.sql.types.StructType): Seq[String] =
    mSchema.fieldNames.collect {
      case c if c.startsWith("min_") => c.stripPrefix("min_")
    }.toSeq

  /** The bloom-carrying keys of a stored manifest — how the patch
    * verbs know which blooms their delta rows must compute to union
    * cleanly against the kept rows. */
  private def bloomKeysOf(
      mSchema: org.apache.spark.sql.types.StructType): Seq[String] =
    mSchema.fieldNames.collect {
      case c if c.startsWith("bloom_") => c.stripPrefix("bloom_")
    }.toSeq

  /** Widen a manifest frame with "unknown" (null) per-key null
    * counts for any key whose `nulls_<k>` column is missing — the
    * pre-nulls-format migration every manifest WRITER applies before
    * a strict `unionByName` against new-format delta rows (any other
    * column mismatch stays a loud error). [[deleteWhere]], the only
    * consumer of the counts, treats unknown conservatively: the file
    * demotes to the rewrite path instead of a proved drop. */
  private def widenWithNullCounts(m: DataFrame,
                                  keyCols: Seq[String]): DataFrame =
    keyCols.foldLeft(m) { (acc, k) =>
      if (acc.columns.contains(s"nulls_$k")) acc
      else acc.withColumn(s"nulls_$k", lit(null).cast("long"))
    }

  /** [[commit]]'s manifest replace: temp-dir + rename, never a direct
    * overwrite of its own source — overwrite deletes before it writes,
    * so a crash mid-write would leave NO manifest (and the update plan
    * may still read the very files being replaced — [[commit]] pins
    * such an `updated` via localCheckpoint first). Crash windows
    * degrade loudly: before the rename the old manifest survives
    * (stale, but the coverage guard flags uncovered files on the next
    * read); a crash inside the delete+rename pair leaves a missing
    * manifest every scanPruned fails on. The temp dir is a fresh
    * [[stagingDir]], so concurrent commits never write into each
    * other's, and it goes on every exit path. */
  private def replaceManifest(spark: org.apache.spark.sql.SparkSession,
                              path: String, updated: DataFrame,
                              operation: String,
                              expectedGen: Option[Long] = None): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mfPath = new org.apache.hadoop.fs.Path(s"$path/_graft_manifest")
    val tmpPath = stagingDir(new org.apache.hadoop.fs.Path(path),
      "_graft_manifest_tmp")
    var committedGen: Option[Long] = None
    try {
      updated.write.parquet(tmpPath.toString)
      if (generationsEnabled(fs, path) && fs.exists(mfPath)) {
        // generation-tracked layout: the outgoing manifest ARCHIVES
        // under its own number instead of dying — every manifest
        // replace is a new generation, and [[readSnapshot]] serves the
        // archived ones. A crash between the archive-move and the
        // rename leaves NO live manifest (loud at loadManifest, like
        // the delete+rename window below); recovery is renaming the
        // newest archived generation back into place.
        val g = currentGeneration(spark, path)
        // optimistic-concurrency check at the COMMIT POINT — the verb
        // already checked at entry; a writer that committed during this
        // verb's rewrite work is caught here, before the archive; the
        // archive's own exists-check below is the last-resort CAS for
        // writers racing inside this final window
        requireExpectedGen(fs, path, expectedGen, operation)
        val dest = new org.apache.hadoop.fs.Path(historyDir(path), s"gen=$g")
        require(!fs.exists(dest),
          s"generation archive $dest already exists — concurrent writers?")
        require(fs.rename(mfPath, dest),
          s"failed to archive the outgoing manifest to $dest")
        committedGen = Some(g + 1L)
      } else {
        // a FAILED delete that merely returns false (object stores do)
        // must not fall through: rename-onto-an-existing-dir has
        // move-INSIDE semantics on HDFS-like filesystems, which would
        // leave the STALE manifest in place (the nested _-prefixed tmp
        // dir being invisible to reads) and serve it silently
        require(fs.delete(mfPath, true) || !fs.exists(mfPath),
          s"failed to remove the old manifest at $mfPath before replacing it")
      }
      require(fs.rename(tmpPath, mfPath),
        s"failed to move the updated manifest into place at $mfPath")
    } finally fs.delete(tmpPath, true)
    // commit record for the NEW live generation — after the rename,
    // so a crashed commit never records a generation that does not
    // exist; the converse crash window (generation live, record
    // missing) degrades loudly in [[generationAsOf]]
    committedGen.foreach(writeCommitInfo(fs, path, _, operation))
  }

  /** What every mutation verb reads before deciding anything, each
    * piece on first use: the live manifest and its stored keys, the
    * layout's data schema, the raw directory frame (coverage guard,
    * listings), the live files at call time, and the partition columns
    * (empty on a flat layout). [[scopeOf]] checks the caller's OCC
    * generation at entry. */
  private final class Scope(spark: org.apache.spark.sql.SparkSession,
                            val dir: String, expectedGen: Option[Long]) {
    val hDir = new Path(dir)
    val fs = hDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    /** The generation [[commit]] must still find live: the caller's
      * `expectedGen`, else on a tracked layout the live one at entry,
      * read before the manifest — so a writer that commits in between
      * is caught, never patched over. */
    val gen: Option[Long] = expectedGen.orElse(
      Option.when(generationsEnabled(fs, dir))(liveGenOf(fs, dir)))
    lazy val manifest: DataFrame = loadManifest(spark, dir)
    lazy val mSchema = manifest.schema
    lazy val keys: Seq[String] = manifestKeysOf(mSchema)
    lazy val schema = liveSchemaOf(spark, dir)
    lazy val dirFrame: DataFrame = spark.read.schema(schema).parquet(dir)
    lazy val before: Set[String] = dirFrame.inputFiles.toSet
    lazy val partCols: Seq[String] =
      hivePartColsChecked(fs, hDir, dirFrame.schema)
    /** The in-file clustering keys: a partition column is constant
      * inside its leaf. */
    def fileKeys: Seq[String] = keys.filterNot(partCols.contains)

    /** The coverage guard every verb that reads or rewrites the live
      * files runs first: a non-empty file the manifest misses would
      * otherwise escape the verb — `consequence` says how. */
    def requireCovered(known: => Set[String], consequence: String): Unit =
      requireManifestCovers(spark, dirFrame, known, dir, consequence)
  }

  private def scopeOf(spark: org.apache.spark.sql.SparkSession, dir: String,
                      expectedGen: Option[Long], verb: String): Scope = {
    requireEncodingStablePath(dir)
    val scope = new Scope(spark, dir, expectedGen)
    requireExpectedGen(scope.fs, dir, expectedGen, verb)
    scope
  }

  /** One staged output of a mutation: `write` fills the staging dir
    * `tmp` ([[stagingDir]]), whose tree [[commit]] moves into `into`. */
  private final case class Stage(tmp: Path, into: Path, write: () => Unit)

  /** A fresh staging dir under `parent`: `name` (a `_graft_*_tmp`
    * prefix, invisible to data reads) plus a random suffix, so a
    * commit's overwrite and cleanup only ever touch its own files —
    * concurrent writers to one layout never share a staging dir. */
  private def stagingDir(parent: Path, name: String): Path =
    new Path(parent, s"$name-${java.util.UUID.randomUUID}")

  /** Each stage's new files, in the listing's spelling, and their rows. */
  private final case class Committed(files: Seq[Seq[String]], rows: Seq[Long])

  /** THE commit step of every Layout mutation — append, restore, the
    * DML verbs and the OPTIMIZE rewrite. The verbs only select (what to
    * remove, what to write); every one commits in this order:
    *   1. each stage writes under its own [[stagingDir]], invisible to
    *      data reads;
    *   2. the OCC generation ([[Scope.gen]]) is re-checked
    *      ([[requireExpectedGen]]);
    *   3. the staged trees move into the live directory;
    *   4. ONE delta-stats pass over the new files — unless the verb's
    *      `replacing(each stage's new files)` rows stand for them —
    *      held on the driver beside a held live manifest while it fits
    *      the snapshot's per-version bound
    *      ([[ManifestSnapshot.fitsHeld]]), else pinned on the executors
    *      until the manifest is replaced;
    *   5. the `removed` files retire (tracked layouts) or are deleted;
    *   6. the manifest is replaced once ([[replaceManifest]]) by
    *      [[patchManifest]]: the live manifest minus `removed` and the
    *      files the `replacing` rows name, plus those rows and the delta;
    *   7. on an untracked layout, when a manifest row the commit drops
    *      or replaces carried a deletion vector, the stores nothing
    *      references any more are reaped — tracked layouts keep them
    *      for snapshot reads until vacuum.
    * A commit that moves in no file, removes none and replaces no row
    * commits nothing.
    *
    * A lost commit — a rival generation seen at step 2 or at the
    * commit point inside step 6 — rolls back: every retired file moves
    * back under its live name, every moved-in file is dropped, and a
    * retryable `ConcurrentModificationException` surfaces
    * ([[withGenerationRetry]] re-reads and re-runs). A file that can
    * be neither moved back nor dropped fails the rollback loudly
    * instead, by name. The staging dirs go on every exit path.
    *
    * Crash windows (a process that dies mid-commit rolls nothing
    * back), each loud, never silent: before step 3 the layout is
    * unchanged — re-run verbatim; between the move-in and the
    * retirement, coverage-guarded reads flag the uncovered new files
    * and [[quarantineUncovered]] moves them aside (a rewrite's
    * survivors are re-derivable from the still-present old files, an
    * append's rows are re-appendable); between the retirement and the
    * manifest replace, a pruned read naming a removed file fails on
    * the missing path — rebuild the manifest over the directory with
    * [[buildFileManifest]] (or, tracked, move the retired files back
    * from `_graft_retired`). A re-run without that repair fails on the
    * coverage check by design: the engine cannot tell commit debris
    * from a crashed out-of-band append whose rows a mutation would
    * lose. */
  private def commit(spark: org.apache.spark.sql.SparkSession, scope: Scope,
                     verb: String, stages: Seq[Stage], removed: Seq[String],
                     replacing: Seq[Seq[String]] => Option[DataFrame] =
                       _ => None): Committed = {
    import scala.jdk.CollectionConverters._
    val (fs, dir) = (scope.fs, scope.dir)
    val moved = stages.map(_ => scala.collection.mutable.ArrayBuffer.empty[Path])
    var receipt: Option[RetireReceipt] = None
    var delta: Option[DataFrame] = None
    val committed = try {
      stages.foreach(_.write())
      requireExpectedGen(fs, dir, scope.gen, verb)
      stages.zip(moved).foreach { case (st, m) =>
        moveTreeInto(fs, st.tmp, st.into, verb, m) }
      // the listing's spelling of each moved file — the one manifest
      // rows carry — matched back by path
      val listed =
        if (moved.forall(_.isEmpty)) Nil
        else liveFilesOf(spark, dir, Some(scope.schema))
      val files = moved.map { m =>
        val paths = m.map(p => fs.makeQualified(p).toUri.getPath).toSet
        listed.filter(f => paths(new Path(new java.net.URI(f)).toUri.getPath))
      }
      val replaced = replacing(files)
      if (files.forall(_.isEmpty) && removed.isEmpty && replaced.isEmpty)
        return Committed(files, files.map(_ => 0L))
      // basePath: stats of a partition-column key see the k=v path
      // columns; bloom keys follow the stored format
      delta = Option.when(replaced.isEmpty && files.exists(_.nonEmpty)) {
        val d = manifestOf(readFilesOf(spark, dir, files.flatten, scope.schema),
          scope.keys, bloomKeysOf(scope.mSchema))
        if (scope.manifest.inputFiles.isEmpty &&
            ManifestSnapshot.fitsHeld(files.map(_.size).sum, scope.mSchema))
          spark.createDataFrame(d.collect().toSeq.asJava, d.schema)
        else d.localCheckpoint(true)
      }
      val rowsOf = delta.toSeq.flatMap(_.select("file", "n_rows").collect())
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // decided before the replace: an unheld live manifest's part
      // files go with it
      val reap = (removed.nonEmpty || replaced.nonEmpty) &&
        hasDvCols(scope.mSchema) && !generationsEnabled(fs, dir) &&
        dvMapOf(scope.manifest, removed ++ replaced.toSeq.flatMap(
          _.select("file").collect().map(_.getString(0)))).nonEmpty
      receipt = retireOrDeleteAll(fs, dir, removed, verb)
      val built = patchManifest(spark, scope, removed, delta, replaced)
      // pinned only when it reads files: the manifest it replaces, when
      // the snapshot does not hold its rows on the driver
      val updated =
        if (built.inputFiles.isEmpty) built else built.localCheckpoint(true)
      try replaceManifest(spark, dir, updated, verb, scope.gen)
      finally Checkpoints.unpersist(updated)
      if (reap) reapUnreferencedDvStores(spark, fs, dir)
      Committed(files, files.map(_.map(rowsOf.getOrElse(_, 0L)).sum))
    } catch {
      case cme: java.util.ConcurrentModificationException =>
        val retired = receipt.toSeq.flatMap(_.moved)
        val stuck = retired.filterNot { case (src, dest) =>
          !fs.exists(dest) || fs.rename(dest, src) }
        // object stores report a failed delete by returning false
        val kept = moved.flatten.filterNot(p => fs.delete(p, false) || !fs.exists(p))
        val failed = Option.when(stuck.nonEmpty)("AFTER retiring files, " +
          s"and ${stuck.length} of them could not be moved back from " +
          s"_graft_retired/gen=${receipt.get.gen} (first: " +
          s"${stuck.head._2}) — restore them manually").toSeq ++
          Option.when(kept.nonEmpty)(s"and ${kept.length} of its new " +
            s"files could not be dropped (first: ${kept.head}) — delete " +
            "them manually")
        if (failed.nonEmpty) throw new IllegalStateException(
          s"$verb at $dir lost an optimistic-concurrency race " +
            failed.mkString("; ") + " before reading through the live " +
            "manifest", cme)
        if (retired.isEmpty && moved.forall(_.isEmpty)) throw cme
        throw new java.util.ConcurrentModificationException(
          s"$verb at $dir lost an optimistic-concurrency race; its " +
            "retired files were moved back and its new files dropped — " +
            "the layout is back at the winner's state, re-read and " +
            s"retry (withGenerationRetry does this): ${cme.getMessage}")
    } finally {
      stages.foreach(st => fs.delete(st.tmp, true))
      delta.foreach(Checkpoints.unpersist)
    }
    committed
  }

  /** The patched manifest [[commit]] writes: the live manifest minus
    * the rows of `removed` and of the files the `replacing` rows name
    * (file-count-sized broadcast anti-joins, never an IN-literal
    * explosion), plus the `delta` and `replacing` rows, every side
    * widened through the pre-nulls and DV format migrations. Every
    * other file keeps its row verbatim, so its stats and blooms cannot
    * drift. */
  private def patchManifest(spark: org.apache.spark.sql.SparkSession,
                            scope: Scope, removed: Seq[String],
                            delta: Option[DataFrame],
                            replacing: Option[DataFrame]): DataFrame = {
    import spark.implicits._
    val gone = Option.when(removed.nonEmpty)(removed.toDF("file")) ++
      replacing.map(_.select("file"))
    val kept = gone.foldLeft(scope.manifest) { (m, g) =>
      m.join(broadcast(g), Seq("file"), "left_anti") }
    (delta ++ replacing).foldLeft(widenWithNullCounts(kept, scope.keys)) {
      (acc, d) =>
        val (a, b) = alignDvCols(acc, widenWithNullCounts(d, scope.keys))
        a.unionByName(b)
    }
  }

  private def historyDir(dir: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s"$dir/_graft_history")

  private def retiredDir(dir: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s"$dir/_graft_retired")

  private def generationsEnabled(fs: org.apache.hadoop.fs.FileSystem,
                                 dir: String): Boolean =
    fs.exists(historyDir(dir))

  /** All data files under `root`, recursively, skipping `_`/`.`
    * entries at every level — partition subtrees descend, aux stores
    * (manifest, history, retirement area, commit markers) do not.
    * THE listing every generation-store read resolves against, for
    * flat and hive-partitioned layouts alike. */
  private def dataFilesUnder(fs: org.apache.hadoop.fs.FileSystem,
                             root: org.apache.hadoop.fs.Path)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    def isAux(n: String) = n.startsWith("_") || n.startsWith(".")
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.flatMap { st =>
      if (isAux(st.getPath.getName)) Nil
      else if (st.isDirectory) dataFilesUnder(fs, st.getPath)
      else Seq(st)
    }
  }

  private def archivedGens(fs: org.apache.hadoop.fs.FileSystem,
                           dir: String): Seq[Long] = {
    val h = historyDir(dir)
    if (!fs.exists(h)) Nil
    else fs.listStatus(h).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("gen=")).map(_.stripPrefix("gen=").toLong)
  }

  /** Turn on MANIFEST GENERATIONS for a flat manifest-carrying
    * directory — the snapshot/time-travel discipline that closes the
    * concurrent-reader window documented on every mutation verb: once
    * enabled, each manifest replace archives the outgoing manifest
    * under `_graft_history/gen=N` (monotonic), and the mutation verbs
    * RETIRE superseded data files into `_graft_retired/gen=N/`
    * (`_`-prefixed: invisible to live reads) instead of deleting
    * them. A reader pins a GENERATION NUMBER and calls
    * [[readSnapshot]] — which resolves that generation's file list
    * against live + retired storage at call time — so a concurrent
    * deleteWhere / upsert / optimize committing generation N+1 never
    * changes what generation N reads. (Pin the number, not a
    * DataFrame: a frame planned before the commit may reference a
    * path mid-retirement; re-calling readSnapshot(N) after the
    * commit is always consistent.) Storage grows by the superseded
    * bytes until [[vacuumGenerations]] trims to the last K.
    * Hive-partitioned trees are tracked at the ROOT (the manifest
    * lives there too): retirement preserves each file's k=v chain
    * under the label, so snapshot reads re-derive partition columns
    * for retired files exactly as for live ones. */
  def enableGenerations(spark: org.apache.spark.sql.SparkSession,
                        dir: String): Unit = {
    requireEncodingStablePath(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_graft_manifest")),
      s"$dir carries no manifest — build one before enabling generations")
    fs.mkdirs(historyDir(dir))
    // stamp the generation that is live RIGHT NOW (the moment
    // timestamp tracking begins) so [[generationAsOf]] has a floor
    // record; idempotent — a re-enable must not restamp history
    val g = liveGenOf(fs, dir)
    if (!fs.exists(commitInfoPath(dir, g)))
      writeCommitInfo(fs, dir, g, "enableGenerations")
    ()
  }

  /** Per-generation commit record
    * (`_graft_history/commits/gen=N.json`): the wall-clock commit
    * millis and the verb that committed the generation. Written at
    * the commit point by [[replaceManifest]] (and for the enable-time
    * generation by [[enableGenerations]]); read back by
    * [[describeHistory]]'s ts/operation columns and
    * [[generationAsOf]]'s timestamp resolution. A crash between the
    * manifest rename and this write leaves the generation readable by
    * NUMBER but unresolvable by TIMESTAMP — asOf fails loudly naming
    * the recordless generation, never guesses. */
  private def commitsDir(dir: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(historyDir(dir), "commits")

  private def commitInfoPath(dir: String, gen: Long): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(commitsDir(dir), s"gen=$gen.json")

  private def writeCommitInfo(fs: org.apache.hadoop.fs.FileSystem,
                              dir: String, gen: Long,
                              operation: String): Unit = {
    require(operation.forall(c => c != '"' && c != '\\' && c >= ' '),
      s"commit operation label must be a plain verb name, got '$operation'")
    fs.mkdirs(commitsDir(dir))
    val p = commitInfoPath(dir, gen)
    val tmp = new org.apache.hadoop.fs.Path(commitsDir(dir),
      s"gen=$gen.json.tmp")
    // MONOTONE timestamps, clamped at write time: successive writers
    // with skewed clocks (or a clock stepping backward) could
    // otherwise record non-increasing tsMillis, making
    // [[generationAsOf]]'s timestamp order disagree with generation
    // order — Delta adjusts commit timestamps for exactly this
    // reason. The clamp reads the existing records (file-count-sized,
    // like every other planning input) and stamps
    // max(now, newest recorded ts + 1), so asOf resolution can never
    // see a later generation with an earlier instant.
    val prevTs = commitInfoOf(fs, dir).values.map(_._1)
      .maxOption.getOrElse(Long.MinValue)
    val ts = math.max(System.currentTimeMillis(), prevTs + 1)
    val payload =
      s"""{"gen":$gen,"tsMillis":$ts,""" +
        s""""operation":"$operation"}"""
    val out = fs.create(tmp, true)
    try out.write(payload.getBytes("UTF-8")) finally out.close()
    require(fs.delete(p, false) || !fs.exists(p),
      s"failed to clear a stale commit record at $p")
    require(fs.rename(tmp, p), s"failed to persist the commit record at $p")
  }

  private val CommitInfoRe =
    """\{"gen":(\d+),"tsMillis":(\d+),"operation":"([^"]*)"\}""".r

  /** ONE generation's commit record (None when recordless) — the
    * per-batch probe [[streamAppend]] uses: a streaming sink must not
    * pay a full-history record sweep per micro-batch. */
  private def commitInfoAt(fs: org.apache.hadoop.fs.FileSystem,
                           dir: String,
                           gen: Long): Option[(Long, String)] = {
    val p = commitInfoPath(dir, gen)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 256, false)
        out.toString("UTF-8").trim
      } finally in.close()
      txt match {
        case CommitInfoRe(_, ts, op) => Some((ts.toLong, op))
        case _ => throw new IllegalStateException(
          s"corrupt commit record at $p (read '$txt') — repair or " +
            "remove it")
      }
    }
  }

  /** gen → (commit millis, operation) for every recorded commit —
    * a file-count-sized driver read, like every other planning input.
    * A torn/corrupt record fails loudly: silently skipping one would
    * make [[generationAsOf]] resolve PAST it to an older generation. */
  private def commitInfoOf(fs: org.apache.hadoop.fs.FileSystem,
                           dir: String): Map[Long, (Long, String)] = {
    val d = commitsDir(dir)
    if (!fs.exists(d)) Map.empty
    else fs.listStatus(d).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith("gen=") &&
        st.getPath.getName.endsWith(".json"))
      .map { st =>
        val in = fs.open(st.getPath)
        val txt = try {
          val out = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, out, 256, false)
          out.toString("UTF-8").trim
        } finally in.close()
        txt match {
          case CommitInfoRe(g, ts, op) => g.toLong -> (ts.toLong, op)
          case _ => throw new IllegalStateException(
            s"corrupt commit record at ${st.getPath} (read '$txt') — " +
              "repair or remove it before resolving history by timestamp")
        }
      }.toMap
  }

  /** Loud optimistic-concurrency precondition shared by the mutation
    * verbs: the caller read the layout at `expected` and asks the
    * commit to proceed only if no other writer has committed since.
    * Checked at verb ENTRY ([[scopeOf]] — fail before the rewrite
    * work), again by [[commit]] before it moves anything in, and a
    * third time by [[replaceManifest]] before the archive rename (the
    * commit point; [[commit]] rolls a loss there back); the archive's
    * own exists-check is the last-resort CAS for writers racing inside
    * the final window. Throws
    * `ConcurrentModificationException` — retryable by re-reading the
    * live generation — unlike the contract violations that throw
    * IllegalArgumentException. */
  private def requireExpectedGen(fs: org.apache.hadoop.fs.FileSystem,
                                 dir: String, expected: Option[Long],
                                 verb: String): Unit =
    expected.foreach { e =>
      require(generationsEnabled(fs, dir),
        s"$verb: expectedGen requires a generation-tracked layout at " +
          s"$dir — call enableGenerations first")
      val g = liveGenOf(fs, dir)
      if (g != e) throw new java.util.ConcurrentModificationException(
        s"$verb at $dir: expected generation $e but the live generation " +
          s"is $g — another writer committed; re-read and retry")
    }

  /** The generation-counter FLOOR marker [[vacuumGenerations]] leaves
    * behind: the archived manifests are the counter's only record, so
    * a vacuum that drops ALL of them (retainLast = 1) would otherwise
    * RESET [[currentGeneration]] to 0 — and the next commit would
    * archive as a colliding `gen=0`, silently serving pinned readers
    * a different snapshot under a label they already hold. The floor
    * is the live generation at vacuum time, written BEFORE any
    * deletion and monotone across vacuums. */
  private def genFloorPath(dir: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(historyDir(dir), "_floor")

  private def genFloorOf(fs: org.apache.hadoop.fs.FileSystem,
                         dir: String): Long = {
    val p = genFloorPath(dir)
    if (!fs.exists(p)) {
      // a stranded .tmp next to a MISSING floor is the vacuum's
      // delete+rename crash window: silently returning 0 here is the
      // exact counter reset the floor exists to prevent. Fail loudly;
      // recovery is renaming the .tmp (a complete value) into place.
      val tmp = new org.apache.hadoop.fs.Path(historyDir(dir), "_floor.tmp")
      require(!fs.exists(tmp),
        s"stranded generation-floor temp at $tmp with no live floor — " +
          s"a vacuum crashed between delete and rename; rename it to $p " +
          "to recover the generation counter")
      0L
    }
    else {
      val in = fs.open(p)
      val txt = try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 256, false)
        out.toString("UTF-8").trim
      } finally in.close()
      // a torn floor must fail loudly, never parse as a smaller
      // number: the whole point is refusing to re-issue old labels
      try txt.toLong catch {
        case _: NumberFormatException =>
          throw new IllegalStateException(
            s"corrupt generation floor at $p (read '$txt') — restore " +
              "it to the last live generation number before mutating")
      }
    }
  }

  /** The LIVE generation number: archived generations are
    * `0 .. current-1`, the live manifest is `current`. 0 until the
    * first post-enable mutation commits. Takes the max of the
    * archived labels and the vacuum floor, so a full vacuum
    * (retainLast = 1) cannot reset the counter and re-issue labels
    * pinned readers already hold. */
  def currentGeneration(spark: org.apache.spark.sql.SparkSession,
                        dir: String): Long = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    liveGenOf(fs, dir)
  }

  /** THE live-generation computation — shared by [[currentGeneration]]
    * and the retirement labeler so the two can never disagree on what
    * number the next commit gets. */
  private def liveGenOf(fs: org.apache.hadoop.fs.FileSystem,
                        dir: String): Long = {
    val gens = archivedGens(fs, dir)
    math.max(if (gens.isEmpty) 0L else gens.max + 1L, genFloorOf(fs, dir))
  }

  /** Run an OCC mutation under automatic retry — the writer-side loop
    * that turns [[requireExpectedGen]]'s refusal into progress under
    * contention: `body` receives the CURRENT generation and must pass
    * it to its verb's `expectedGen`; on
    * `ConcurrentModificationException` the generation re-reads and the
    * body re-runs, up to `maxAttempts`. Correctness never depends on
    * this loop (the verbs refuse stale commits on their own); exhaust
    * the attempts and the last conflict surfaces with the count. The
    * body must be a pure function of the re-read state — anything it
    * cached from a previous attempt is stale by construction. */
  def withGenerationRetry[A](spark: org.apache.spark.sql.SparkSession,
                             dir: String, maxAttempts: Int = 3)
                            (body: Long => A): A = {
    require(maxAttempts >= 1, "withGenerationRetry needs maxAttempts >= 1")
    var last: java.util.ConcurrentModificationException = null
    for (_ <- 1 to maxAttempts) {
      val g = currentGeneration(spark, dir)
      try return body(g)
      catch {
        case e: java.util.ConcurrentModificationException => last = e
      }
    }
    throw new java.util.ConcurrentModificationException(
      s"all $maxAttempts attempts at $dir lost the commit race — " +
        s"last conflict: ${last.getMessage}")
  }

  /** What [[retireOrDeleteAll]] actually moved: the retirement label
    * and each (live source → retired destination) rename — the
    * information an OCC loser needs to put the files BACK
    * ([[commit]]'s rollback). None when the layout is untracked (files
    * were deleted, nothing restorable — but an untracked layout has no
    * OCC either). */
  private final case class RetireReceipt(gen: Long, moved: Seq[(Path, Path)])

  /** Retire (generation-tracked layout) or delete (plain layout) the
    * superseded data files — [[commit]]'s step 5, so snapshot safety
    * cannot fork per verb. Retired files land under
    * `_graft_retired/gen=G/` labeled with the generation whose
    * manifest still references them (this runs BEFORE the manifest
    * replace, so `currentGeneration` is exactly that G);
    * [[vacuumGenerations]] uses the label to drop retirement dirs no
    * retained snapshot can reach. Basenames are parquet part-UUIDs —
    * globally unique — and a collision is refused loudly rather than
    * resolved arbitrarily. */
  private def retireOrDeleteAll(fs: org.apache.hadoop.fs.FileSystem,
                                dir: String, files: Iterable[String],
                                verb: String): Option[RetireReceipt] = {
    if (!generationsEnabled(fs, dir)) {
      for (f <- files) {
        val p = new org.apache.hadoop.fs.Path(new java.net.URI(f))
        require(fs.delete(p, false) || !fs.exists(p),
          s"$verb: failed to delete $f")
      }
      None
    } else {
      val g = liveGenOf(fs, dir)
      val destDir = new org.apache.hadoop.fs.Path(retiredDir(dir), s"gen=$g")
      fs.mkdirs(destDir)
      // retirement preserves the file's path RELATIVE to the layout
      // root (for a flat layout that is just the basename): a
      // partitioned file keeps its k=v chain under the label, which
      // is what lets snapshot reads re-derive its partition columns
      // with a basePath anchored at the label dir
      val rootQ = fs.makeQualified(new org.apache.hadoop.fs.Path(dir)).toString
      val moved = files.toSeq.map { f =>
        val p = new org.apache.hadoop.fs.Path(new java.net.URI(f))
        val pq = fs.makeQualified(p).toString
        require(pq.startsWith(rootQ + "/"),
          s"$verb: $f is not under $dir — cannot retire it")
        val rel = pq.stripPrefix(rootQ + "/")
        val dest = new org.apache.hadoop.fs.Path(destDir, rel)
        fs.mkdirs(dest.getParent)
        require(!fs.exists(dest),
          s"$verb: retired name collision at $dest")
        require(fs.rename(p, dest) || !fs.exists(p),
          s"$verb: failed to retire $f")
        (p, dest)
      }
      Some(RetireReceipt(g, moved))
    }
  }

  /** Read the directory's rows AS OF generation `gen` — the archived
    * (or live) manifest's file list, each file resolved against live
    * storage first and the retirement area second, so snapshots stay
    * readable across any number of later mutations until vacuumed.
    * Resolution happens at CALL time: this is what makes pinning a
    * generation number safe under concurrent commits. A file that is
    * neither live nor retired names its generation in the error
    * (vacuumed, or out-of-band deletion). Schema-evolved layouts
    * resolve under the CURRENT sidecar — files predating an added
    * column surface null for it, so a pre-evolution snapshot shows
    * the column as all-null rather than changing shape per call.
    *
    * Non-empty `boxes` apply [[scanPruned]]'s skipping against the
    * GENERATION's manifest — time-traveled pruned reads: the archived
    * stats prune exactly as they did when that manifest was live,
    * survivors resolve live-or-retired, and the residual re-filter
    * keeps pruned ≡ full-snapshot-scan by construction. To read as of
    * a timestamp, pass [[generationAsOf]]'s generation as `gen`. */
  def readSnapshot(spark: org.apache.spark.sql.SparkSession,
                   dir: String, gen: Long,
                   boxes: Seq[PruneBox] = Nil): DataFrame = {
    requireEncodingStablePath(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = snapshotOf(spark, fs, dir, gen)
    val mSchema = snap.schema
    val rows = snapshotDvRows(spark, snap,
      boxes.map(skipExprOf(mSchema, _)).reduceOption(_ || _))
    val resolved = resolveSnapshotFiles(fs, dir, gen, rows.map(_._1).toArray)
    val read = readResolvedDv(spark, dir,
      dataSchemaOf(spark, dir, snap, resolved),
      rows.zip(resolved).map { case ((f, dv), res) => (f, res, dv) })
    boxes.map(residualExprOf(mSchema, _)).reduceOption(_ && _)
      .fold(read)(r => read.where(r))
  }

  /** The (file, dv_path) rows of a snapshot's manifest, minus those
    * `skip` proves disjoint — a Filter/Project over the snapshot's
    * frame, collected without a job when its rows are held (see
    * [[ManifestSnapshot]]). */
  private def snapshotDvRows(spark: org.apache.spark.sql.SparkSession,
                             snap: ManifestSnapshot,
                             skip: Option[Column] = None)
      : IndexedSeq[(String, Option[String])] = {
    val m = snap.frame(spark)
    skip.fold(m)(k => m.filter(!k))
      .select(col("file"), dvPathExprOf(snap.schema).as("dv_path"))
      .collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toIndexedSeq
  }

  /** The live manifest's snapshot — what [[loadManifest]] serves. */
  private def liveSnapshot(spark: org.apache.spark.sql.SparkSession,
                           dir: String): ManifestSnapshot =
    ManifestSnapshot.load(spark,
      new org.apache.hadoop.fs.Path(s"$dir/_graft_manifest"))

  /** The generation's manifest snapshot: live for `gen == current`,
    * else the archived copy — loudly naming a vacuumed generation. */
  private def snapshotOf(spark: org.apache.spark.sql.SparkSession,
                         fs: org.apache.hadoop.fs.FileSystem,
                         dir: String, gen: Long): ManifestSnapshot = {
    require(generationsEnabled(fs, dir),
      s"$dir is not generation-tracked — call enableGenerations first")
    val cur = currentGeneration(spark, dir)
    require(gen >= 0L && gen <= cur,
      s"unknown generation $gen at $dir (live is $cur)")
    if (gen == cur) liveSnapshot(spark, dir)
    else {
      val p = new org.apache.hadoop.fs.Path(historyDir(dir), s"gen=$gen")
      require(fs.exists(p),
        s"generation $gen of $dir has been vacuumed (live is $cur, " +
          s"oldest retained is ${archivedGens(fs, dir).minOption
            .getOrElse(cur)})")
      ManifestSnapshot.load(spark, p)
    }
  }

  /** The data schema every file-listed read of `snap`'s files passes,
    * so no read infers one: the evolved-schema sidecar when present
    * (read fresh, since it changes without a manifest commit), else
    * [[footerSchemaOf]]. None only when there is neither a sidecar
    * nor a file to sample. */
  private def dataSchemaOf(spark: org.apache.spark.sql.SparkSession,
                           dir: String, snap: ManifestSnapshot,
                           files: Seq[String])
      : Option[org.apache.spark.sql.types.StructType] =
    storedSchemaOf(spark, dir).orElse(footerSchemaOf(spark, snap, files))

  /** The footer schema of the first of `files` (data files of `snap`'s
    * version), read ONCE per snapshot. A hive layout's files hold no
    * k=v column, so every read under this schema types those columns
    * from its own paths, as an inferring read would. */
  private def footerSchemaOf(spark: org.apache.spark.sql.SparkSession,
                             snap: ManifestSnapshot, files: Seq[String])
      : Option[org.apache.spark.sql.types.StructType] =
    files.headOption.map(f => snap.dataSchema(
      ManifestSnapshot.footerSchema(spark, new org.apache.hadoop.fs.Path(f))))

  /** The LIVE layout's data schema for the manifest verbs' file-listed
    * reads and coverage guards: the sidecar, else the footer schema of
    * the live snapshot's first file ([[footerSchemaOf]]). A directory
    * with neither a sidecar nor a manifest naming a file falls back to
    * Spark's inference over the directory. */
  private def liveSchemaOf(spark: org.apache.spark.sql.SparkSession,
                           dir: String): org.apache.spark.sql.types.StructType =
    storedSchemaOf(spark, dir).getOrElse {
      val mDir = new org.apache.hadoop.fs.Path(s"$dir/_graft_manifest")
      val fs = mDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Some(mDir).filter(fs.exists).map(ManifestSnapshot.load(spark, _))
        .flatMap(sn => footerSchemaOf(spark, sn,
          sn.frame(spark).select("file").head(1).map(_.getString(0)).toSeq))
        .getOrElse(spark.read.parquet(dir).schema)
    }

  /** Every data file under `dir` in Spark's own URI spelling — the
    * spelling manifest rows carry — listed under a known schema
    * (`schema`, else [[liveSchemaOf]]'s) so the listing runs no
    * schema-inference job. The commit verbs re-list through this to
    * name the files they just wrote. */
  private def liveFilesOf(spark: org.apache.spark.sql.SparkSession, dir: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): Seq[String] =
    spark.read.schema(schema.getOrElse(liveSchemaOf(spark, dir)))
      .parquet(dir).inputFiles.toSeq

  /** Resolve a generation's manifest file names against live storage
    * first and the retirement area second — at CALL time, which is
    * what makes pinning a generation number safe under concurrent
    * commits. BOTH sides resolve from one bulk listing each (the
    * live tree and the retirement tree), never a per-file existence
    * probe — at 100k files that is two listings instead of 100k
    * sequential round trips. Files are keyed by their ROOT-RELATIVE
    * path, never the basename: one parquet write stamps the SAME
    * `part-NNNNN-<uuid>` basename into every partition directory it
    * touches, so basenames collide across a tree's leaves while the
    * k=v-qualified relative path stays unique — and retirement
    * preserves exactly that relative path under its label. A relative
    * path found under two retirement labels is refused, never
    * resolved arbitrarily. */
  private def resolveSnapshotFiles(fs: org.apache.hadoop.fs.FileSystem,
                                   dir: String, gen: Long,
                                   files: Array[String]): Seq[String] = {
    val rootQ = fs.makeQualified(new org.apache.hadoop.fs.Path(dir)).toString
    def relTo(base: String, p: org.apache.hadoop.fs.Path): String = {
      val pq = fs.makeQualified(p).toString
      require(pq.startsWith(base + "/"),
        s"$pq is not under $base — cannot resolve it against this layout")
      pq.stripPrefix(base + "/")
    }
    val live: Set[String] =
      dataFilesUnder(fs, new org.apache.hadoop.fs.Path(dir))
        .map(st => relTo(rootQ, st.getPath)).toSet
    val retired: Map[String, Seq[org.apache.hadoop.fs.Path]] = {
      val r = retiredDir(dir)
      if (!fs.exists(r)) Map.empty
      else fs.listStatus(r).toSeq.filter(_.isDirectory)
        .flatMap { g =>
          val gQ = fs.makeQualified(g.getPath).toString
          dataFilesUnder(fs, g.getPath)
            .map(st => (relTo(gQ, st.getPath), st.getPath))
        }
        .groupBy(_._1).map { case (rel, hits) => rel -> hits.map(_._2) }
    }
    files.toIndexedSeq.map { f =>
      val p = new org.apache.hadoop.fs.Path(new java.net.URI(f))
      val rel = relTo(rootQ, p)
      if (live.contains(rel)) p.toString
      else retired.get(rel) match {
        case Some(Seq(rp)) => rp.toString
        case Some(many) => throw new IllegalArgumentException(
          s"retired path collision for $f: ${many.mkString(", ")}")
        case None => throw new IllegalArgumentException(
          s"file $f of generation $gen is neither live nor retired — " +
            "vacuumed past this snapshot, or deleted out of band")
      }
    }
  }

  /** Read a resolved snapshot file list under `schema` (from
    * [[dataSchemaOf]]: the current sidecar when the layout has
    * evolved); empty lists keep the schema without opening a row
    * group. A fully-emptied unevolved layout (no live data file, no
    * sidecar) has no schema ANYWHERE to shape an empty frame with —
    * that degenerate read fails with its own story instead of Spark's
    * generic unable-to-infer-schema error.
    *
    * Hive-partitioned layouts need a basePath to re-derive partition
    * columns from the k=v chain — and live vs retired files anchor at
    * DIFFERENT roots (the layout dir vs the retirement label the
    * relative-path-preserving retirement moved them under), so the
    * list reads per anchor group and unions by name: one read for the
    * live files plus one per retirement label touched. On a flat
    * layout the basePath is inert and the groups collapse to one. */
  private def readResolved(spark: org.apache.spark.sql.SparkSession,
                           dir: String,
                           schema: Option[org.apache.spark.sql.types.StructType],
                           resolved: Seq[String]): DataFrame =
    readAnchored(spark, dir, schema, resolved).getOrElse(schema match {
      case Some(s) => spark.read.schema(s).parquet(dir).where(lit(false))
      case None =>
        try spark.read.parquet(dir).where(lit(false))
        catch {
          case e: org.apache.spark.sql.AnalysisException =>
            throw new IllegalArgumentException(
              s"this generation of $dir holds no rows and the live " +
                "directory has no data file or schema sidecar to shape " +
                s"an empty frame with (${e.getMessage})")
        }
    })

  /** [[readResolved]]'s per-anchor reads of `resolved` files, unioned
    * by name — None when there is no file. `stamp` adds the parquet
    * metadata identity a deletion-vector anti-join matches on. */
  private def readAnchored(spark: org.apache.spark.sql.SparkSession,
                           dir: String,
                           schema: Option[org.apache.spark.sql.types.StructType],
                           resolved: Seq[String],
                           stamp: Boolean = false): Option[DataFrame] = {
    def reader = schema.fold(spark.read)(s => spark.read.schema(s))
    resolved.groupBy(snapshotAnchorOf(dir, _)).toSeq.sortBy(_._1)
      .map { case (basePath, files) =>
        val df = reader.option("basePath", basePath).parquet(files: _*)
        if (stamp) stampDvCols(df) else df
      }
      .reduceOption(_ unionByName _)
  }

  /** [[readResolved]] with DELETION VECTORS applied: `items` pairs
    * each manifest file URI with its resolved location and the DV
    * store its manifest row references (None = no vector). Vector-
    * free items keep [[readResolved]]'s exact plan; vectorized ones
    * read with the parquet metadata identity stamped and anti-join
    * their stores away, REMAPPING each store's recorded path onto
    * the resolved one when they differ (a retired file's positions
    * keep matching because retirement preserves content — only the
    * path moved). */
  private def readResolvedDv(spark: org.apache.spark.sql.SparkSession,
                             dir: String,
                             schema: Option[org.apache.spark.sql.types.StructType],
                             items: Seq[(String, String, Option[String])])
      : DataFrame = {
    val (dvItems, plainItems) = items.partition(_._3.isDefined)
    if (dvItems.isEmpty)
      return readResolved(spark, dir, schema, items.map(_._2))
    val remap = dvItems.collect {
      case (orig, resolved, _) if metaFormOf(orig) != metaFormOf(resolved) =>
        metaFormOf(orig) -> metaFormOf(resolved)
    }.toMap
    val cleaned = antiJoinDv(spark,
      readAnchored(spark, dir, schema, dvItems.map(_._2), stamp = true).get,
      dvItems.flatMap(_._3).distinct, remap)
    readAnchored(spark, dir, schema, plainItems.map(_._2))
      .fold(cleaned)(_ unionByName cleaned)
  }

  /** CHANGE DATA FEED between two generations of a generation-tracked
    * layout: a signed row feed (the data columns plus `opCol` ∈
    * {+1, −1}) that turns snapshot `genFrom` into snapshot `genTo`
    * as a multiset — every row of a file the later manifest DROPPED
    * carries −1, every row of a file it ADDED carries +1, and files
    * present in both generations contribute nothing and are NEVER
    * OPENED. The diff is file-level off the two manifests (two
    * manifest-sized listings plan it), so deriving the feed costs ∝
    * the churn between the snapshots, not the table — the Delta-CDF
    * shape recovered from the generation store alone, with no
    * per-row change files written at commit time.
    *
    * The feed is exactly what [[graft.ext.Ivm.maintainAgg]] /
    * [[graft.ext.Ivm.maintainJoinAgg]] consume: a view bootstrapped
    * over `readSnapshot(genFrom)` and maintained with this feed
    * equals the recompute over `readSnapshot(genTo)` — the
    * materialized-view refresh loop closed end-to-end by the
    * lakehouse verbs themselves (deleteWhere / upsertByKeys /
    * append each commit one generation; one feed spans any number
    * of them, and adjacent feeds compose). An optimize/compact
    * between the generations rewrites data-IDENTICAL files, so the
    * feed carries matched ±1 pairs for those rows: maintenance nets
    * them to zero in its first map-side aggregation — correct, but
    * the feed's SIZE is the rewritten churn; when a table was just
    * churned by OPTIMIZE, diff around that boundary, not across it.
    *
    * Schema-evolved layouts resolve BOTH sides under the current
    * sidecar (files predating an added column surface null for it),
    * so the two sides always union by name; a data column already
    * named `opCol` is refused rather than silently shadowed. */
  def changesBetween(spark: org.apache.spark.sql.SparkSession,
                     dir: String, genFrom: Long, genTo: Long,
                     opCol: String = "op"): DataFrame = {
    requireEncodingStablePath(dir)
    require(genFrom <= genTo,
      s"changesBetween needs genFrom <= genTo; got $genFrom > $genTo " +
        "(swap the arguments and negate ops for the inverse feed)")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fromSnap = snapshotOf(spark, fs, dir, genFrom)
    val toSnap = snapshotOf(spark, fs, dir, genTo)
    val fromRows = snapshotDvRows(spark, fromSnap).toMap
    val toRows = snapshotDvRows(spark, toSnap).toMap
    // deterministic file order on both sides — the feed's physical
    // row order is not part of its contract, but plans should not
    // churn run-to-run on a Set's iteration order
    val removed = (fromRows.keySet -- toRows.keySet).toArray.sorted
    val added = (toRows.keySet -- fromRows.keySet).toArray.sorted
    // a file BOTH generations hold contributes nothing UNLESS its
    // deletion vector changed — then exactly the position DELTA does
    // (new positions as −1 rows; positions the later generation no
    // longer deletes — a RESTORE to a smaller vector — as +1),
    // keeping the feed exact and churn-priced: only files whose
    // vector moved are opened, and only their delta rows ride
    val dvChanged = (fromRows.keySet & toRows.keySet).toArray.sorted
      .filter(f => fromRows(f) != toRows(f))
    def readSide(gen: Long, snap: ManifestSnapshot, files: Array[String],
                 rows: Map[String, Option[String]]): DataFrame = {
      val resolved = resolveSnapshotFiles(fs, dir, gen, files)
      readResolvedDv(spark, dir, dataSchemaOf(spark, dir, snap, resolved),
        files.toIndexedSeq.zip(resolved).map {
          case (f, res) => (f, res, rows(f))
        })
    }
    val minus = readSide(genFrom, fromSnap, removed, fromRows)
    require(!minus.columns.contains(opCol),
      s"the layout already carries a column named $opCol — pass a " +
        "different opCol for the feed's sign column")
    val plus = readSide(genTo, toSnap, added, toRows)
    val base = minus.withColumn(opCol, lit(-1))
      .unionByName(plus.withColumn(opCol, lit(1)))
    if (dvChanged.isEmpty) base
    else base.unionByName(
      dvDeltaFeed(spark, fs, dir, genTo, toSnap, dvChanged, fromRows, toRows,
        opCol))
  }

  /** The signed rows of files whose DELETION VECTOR changed between
    * two generations: read each changed file once (resolved live or
    * retired — the file itself is in both manifests, so both
    * generations resolve it to the same location), inner-join the
    * position DELTA with its sign (+1 for positions the later
    * generation no longer deletes, −1 for newly deleted ones), and
    * return data columns + `opCol`. Cost ∝ the changed files and
    * their vector sizes — never the table. */
  private def dvDeltaFeed(spark: org.apache.spark.sql.SparkSession,
                          fs: org.apache.hadoop.fs.FileSystem,
                          dir: String, genTo: Long,
                          toSnap: ManifestSnapshot,
                          changed: Array[String],
                          fromRows: Map[String, Option[String]],
                          toRows: Map[String, Option[String]],
                          opCol: String): DataFrame = {
    import spark.implicits._
    val resolved = resolveSnapshotFiles(fs, dir, genTo, changed)
    val remap = changed.toIndexedSeq.zip(resolved).collect {
      case (orig, res) if metaFormOf(orig) != metaFormOf(res) =>
        metaFormOf(orig) -> metaFormOf(res)
    }.toMap
    val changedMeta = changed.toIndexedSeq.map(metaFormOf).toDF("file")
    def positions(paths: Seq[String]): DataFrame =
      if (paths.isEmpty)
        Seq.empty[(String, Long)].toDF("file", "idx")
      else readDvStores(spark, paths)
        .join(broadcast(changedMeta), Seq("file"), "left_semi")
    val fromPos = positions(changed.toIndexedSeq.flatMap(fromRows(_)))
    val toPos = positions(changed.toIndexedSeq.flatMap(toRows(_)))
    val delta = toPos.exceptAll(fromPos).withColumn(opCol, lit(-1))
      .unionByName(fromPos.exceptAll(toPos).withColumn(opCol, lit(1)))
    val mapped =
      if (remap.isEmpty) delta
      else delta.withColumn("file",
        coalesce(element_at(typedLit(remap), col("file")), col("file")))
    val schema = dataSchemaOf(spark, dir, toSnap, resolved)
    def reader = schema.fold(spark.read)(s => spark.read.schema(s))
    val data = changed.toIndexedSeq.zip(resolved)
      .groupBy { case (_, res) => snapshotAnchorOf(dir, res) }
      .toSeq.sortBy(_._1)
      .map { case (basePath, group) =>
        stampDvCols(reader.option("basePath", basePath)
          .parquet(group.map(_._2): _*))
      }
      .reduce(_ unionByName _)
    // no broadcast hint: the position delta is churn-sized by
    // construction, and AQE's runtime stats broadcast it when that
    // holds — a pathological span degrades to a shuffled join instead
    // of flattening the driver
    val joined = data.join(mapped,
      data(DvFileCol) === mapped("file") &&
        data(DvIdxCol) === mapped("idx"))
    // select by side-qualified reference, never drop-by-name: a data
    // column legitimately named `file`/`idx` must survive
    val dataCols = data.columns
      .filterNot(c => c == DvFileCol || c == DvIdxCol)
    joined.select(dataCols.map(data(_)).toIndexedSeq :+ mapped(opCol): _*)
  }

  /** [[changesBetween]] with Delta-CDF-style ROW CHANGE TYPES: the
    * signed feed plus a `_change_type` column ∈ {insert, delete,
    * update_preimage, update_postimage}. Two refinements over the raw
    * file-diff feed, both churn-priced:
    *
    * 1. IDENTICAL ±1 pairs NET OUT first (one groupBy over the full
    *    row): a partial-file rewrite's surviving rows and an
    *    OPTIMIZE's data-identical copies vanish, so the typed feed
    *    carries only rows whose VALUE actually changed across the
    *    span — what a CDF consumer means by "what changed".
    * 2. The survivors pair BY KEY: a key with both a net delete and a
    *    net insert in the span was updated — its −1 rows type as
    *    `update_preimage` and its +1 rows as `update_postimage` (an
    *    upsert's delete+insert re-pairs instead of surfacing as two
    *    unrelated events, the re-derivation downstream SCD2/audit
    *    consumers otherwise each reimplement); unpaired rows type as
    *    plain `delete` / `insert`. Null-keyed rows never pair (SQL
    *    equality), so they surface as deletes/inserts.
    *
    * `keys` is the pairing identity — pass the layout's merge key(s).
    * Multiset-exact like the raw feed: dropping `_change_type` and
    * re-signing gives a feed that maintains any [[graft.ext.Ivm]]
    * state to the same result (netting only removed zero-sum pairs).
    * Span semantics are the raw feed's: typing reflects the NET
    * effect between the two generations, not per-commit attribution. */
  def changesBetweenTyped(spark: org.apache.spark.sql.SparkSession,
                          dir: String, genFrom: Long, genTo: Long,
                          keys: Seq[String], opCol: String = "op",
                          typeCol: String = "_change_type"): DataFrame = {
    require(keys.nonEmpty, "changesBetweenTyped needs pairing key(s)")
    val feed = changesBetween(spark, dir, genFrom, genTo, opCol)
    for (k <- keys) require(feed.columns.contains(k),
      s"pairing key $k is not a column of the layout " +
        s"(has ${feed.columns.filterNot(_ == opCol).mkString(", ")})")
    require(!feed.columns.contains(typeCol),
      s"the layout already carries a column named $typeCol — pass a " +
        "different typeCol")
    val dataCols = feed.columns.filterNot(_ == opCol).toSeq
    // net identical rows; pinned once for its three consumers (the
    // two key sets and the expansion) — churn-sized by construction
    val net = feed.groupBy(dataCols.map(col): _*)
      .agg(sum(col(opCol)).cast("long").as("__graft_net"))
      .filter(col("__graft_net") =!= 0L)
      .localCheckpoint(true)
    // keys with BOTH a net delete and a net insert were updated; the
    // key set is distinct-key-sized and breaks the self-join lineage
    // via its own pin
    val updKeys = net.filter(col("__graft_net") < 0L)
      .select(keys.map(col): _*).distinct()
      .join(net.filter(col("__graft_net") > 0L)
        .select(keys.map(col): _*).distinct(), keys, "left_semi")
      .withColumn("__graft_upd", lit(true))
      .localCheckpoint(true)
    val sign = when(col("__graft_net") > 0L, lit(1)).otherwise(lit(-1))
    net.withColumn("__graft_i",
        explode(sequence(lit(1L), abs(col("__graft_net")))))
      .withColumn(opCol, sign)
      .join(updKeys, keys, "left")
      .withColumn(typeCol,
        when(col(opCol) === -1 && col("__graft_upd"), "update_preimage")
          .when(col(opCol) === -1, "delete")
          .when(col("__graft_upd"), "update_postimage")
          .otherwise("insert"))
      .select((dataCols :+ opCol :+ typeCol).map(col): _*)
  }

  /** DESCRIBE HISTORY off the generation store: one row per committed
    * transition — `gen` = the generation the commit produced — with
    * the commit's file churn (`files_added`, `files_removed`) and row
    * churn (`rows_added`, `rows_removed`, their difference
    * `net_rows`), derived from the archived manifests ALONE: no data
    * file opens, the work is a union of manifest-sized frames. Reads
    * exactly as a table history should: an append is rows_added with
    * zero removed, a delete is the mirror, an upsert's update rows
    * count on both sides, and a REWRITE-ONLY commit (OPTIMIZE /
    * compact) shows churn with `net_rows = 0`. Every transition in
    * the retained range appears, zero-churn commits included;
    * vacuumed generations are absent (their manifests are gone), so
    * the earliest row is `oldest retained + 1`.
    *
    * The derivation leans on two invariants the lifecycle already
    * enforces: per-file stats are immutable (a file's `n_rows` never
    * changes across manifests), and a retired file never returns (its
    * basename is a one-shot part-UUID) — so each file's presence is
    * one contiguous generation interval, and the whole history folds
    * into one groupBy over the unioned manifests. */
  def describeHistory(spark: org.apache.spark.sql.SparkSession,
                      dir: String): DataFrame = {
    requireEncodingStablePath(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(generationsEnabled(fs, dir),
      s"$dir is not generation-tracked — no history to describe")
    val cur = liveGenOf(fs, dir)
    val archived = archivedGens(fs, dir).sorted
    val oldest = archived.headOption.getOrElse(cur)
    // ONE basePath-anchored read over the archive (the `gen=N` dir
    // names are hive-partition-shaped, so the label comes back as a
    // partition column) plus the live manifest — NOT a K-way union of
    // per-generation frames, whose plan grows linearly with history
    // depth and collapses at hundreds of retained generations;
    // mergeSchema absorbs the pre-null-counts manifest format
    val live0 = loadManifest(spark, dir)
    val live = live0
      .select(col("file"), col("n_rows"),
        dvRowsExprOf(live0.schema).as("dv_rows"))
      .withColumn("gen", lit(cur))
    val labeled =
      if (archived.isEmpty) live
      else {
        val arch = spark.read
          .option("basePath", historyDir(dir).toString)
          .option("mergeSchema", "true")
          .parquet(archived.map(g =>
            new org.apache.hadoop.fs.Path(historyDir(dir), s"gen=$g")
              .toString): _*)
        arch.select(col("file"), col("n_rows"),
            dvRowsExprOf(arch.schema).as("dv_rows"),
            col("gen").cast("long").as("gen"))
          .unionByName(live)
      }
    // contiguous presence interval per file → two churn events: it is
    // ADDED at the transition to its first generation and REMOVED at
    // the transition past its last; interval ends at the range edges
    // are not events (the file predates the window / is still live).
    // Rows count LIVE (physical minus deletion vector at that
    // generation) — on a vector-free layout this is exactly n_rows
    // n_rows is PHYSICAL and immutable under a fixed file name (DV
    // invariant: shrink only happens via rewrite to a new name), so
    // any aggregate of it per file is the constant — max() makes the
    // choice deterministic by construction rather than by first()'s
    // arrival order
    val spans = labeled.groupBy("file")
      .agg(min(col("gen")).as("first_gen"), max(col("gen")).as("last_gen"),
        (max(col("n_rows")) -
          min_by(col("dv_rows"), col("gen"))).as("first_live"),
        (max(col("n_rows")) -
          max_by(col("dv_rows"), col("gen"))).as("last_live"))
    val addEvents = spans.filter(col("first_gen") > lit(oldest))
      .select(col("first_gen").as("gen"),
        lit(1L).as("files_added"), lit(0L).as("files_removed"),
        col("first_live").as("rows_added"), lit(0L).as("rows_removed"))
    val dropEvents = spans.filter(col("last_gen") < lit(cur))
      .select((col("last_gen") + 1L).as("gen"),
        lit(0L).as("files_added"), lit(1L).as("files_removed"),
        lit(0L).as("rows_added"), col("last_live").as("rows_removed"))
    // a DELETION-VECTOR commit moves rows without moving files: for
    // each present→present generation step whose vector grew, the
    // delta counts as rows_removed with ZERO file churn (and the
    // rare shrink — a restore to a smaller vector — as rows_added)
    val byFile = org.apache.spark.sql.expressions.Window
      .partitionBy("file").orderBy("gen")
    val dvEvents = labeled
      .withColumn("__graft_prev_dv", lag(col("dv_rows"), 1).over(byFile))
      .filter(col("__graft_prev_dv").isNotNull &&
        col("dv_rows") =!= col("__graft_prev_dv"))
      .select(col("gen"),
        lit(0L).as("files_added"), lit(0L).as("files_removed"),
        greatest(col("__graft_prev_dv") - col("dv_rows"), lit(0L))
          .as("rows_added"),
        greatest(col("dv_rows") - col("__graft_prev_dv"), lit(0L))
          .as("rows_removed"))
    val transitions = spark.range(oldest + 1L, cur + 1L)
      .select(col("id").as("gen"))
    val churn = transitions
      .join(addEvents.unionByName(dropEvents).unionByName(dvEvents),
        Seq("gen"), "left")
      .groupBy("gen")
      .agg(coalesce(sum(col("files_added")), lit(0L)).as("files_added"),
        coalesce(sum(col("files_removed")), lit(0L)).as("files_removed"),
        coalesce(sum(col("rows_added")), lit(0L)).as("rows_added"),
        coalesce(sum(col("rows_removed")), lit(0L)).as("rows_removed"))
      .withColumn("net_rows", col("rows_added") - col("rows_removed"))
    // commit records (when present) label each generation with its
    // wall-clock commit time and the verb that committed it — null
    // for generations that predate record-keeping or whose commit
    // crashed between the manifest rename and the record write
    import spark.implicits._
    val info = commitInfoOf(fs, dir).toSeq
      .map { case (g, (ts, op)) => (g, new java.sql.Timestamp(ts), op) }
      .toDF("gen", "ts", "operation")
    churn.join(info, Seq("gen"), "left").orderBy("gen")
  }

  /** (live generation, oldest retained generation, commit records) of
    * a tracked `dir`, for the timestamp resolvers: every retained
    * generation must carry a record, else resolution would guess —
    * refused loudly, naming the generations, `why` they may lack one,
    * and the `fallback`. */
  private def retainedCommits(spark: org.apache.spark.sql.SparkSession,
                              dir: String, untracked: String, why: String,
                              fallback: String)
      : (Long, Long, Map[Long, (Long, String)]) = {
    requireEncodingStablePath(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(generationsEnabled(fs, dir),
      s"$dir is not generation-tracked — $untracked")
    val cur = liveGenOf(fs, dir)
    val oldest = archivedGens(fs, dir).minOption.getOrElse(cur)
    val info = commitInfoOf(fs, dir)
    val missing = (oldest to cur).filterNot(info.contains)
    require(missing.isEmpty,
      s"generation(s) ${missing.mkString(", ")} at $dir carry no commit " +
        s"record$why — timestamp resolution would guess; $fallback")
    (cur, oldest, info)
  }

  /** The newest generation whose recorded commit time is ≤
    * `tsMillis` — Delta's `TIMESTAMP AS OF` resolution over the
    * retained history. Every retained generation must carry a commit
    * record to resolve by time (records exist from
    * [[enableGenerations]] onward); a recordless generation fails
    * loudly with the fallback spelled out — read it by NUMBER via
    * [[readSnapshot]] — because silently skipping it would resolve
    * PAST a commit the timestamp may name. File-count-sized driver
    * work, like every other planning read. */
  def generationAsOf(spark: org.apache.spark.sql.SparkSession,
                     dir: String, tsMillis: Long): Long = {
    val (cur, oldest, info) = retainedCommits(spark, dir,
      "nothing to resolve as-of",
      " (committed before enableGenerations stamped one, or a commit " +
        "crashed mid-record)", "read them by number via readSnapshot instead")
    val eligible = (oldest to cur).filter(g => info(g)._1 <= tsMillis)
    require(eligible.nonEmpty,
      s"no retained generation at $dir committed at or before $tsMillis " +
        s"— the oldest retained commit is gen $oldest at " +
        s"${info(oldest)._1}; earlier history is vacuumed or never existed")
    eligible.max
  }

  /** The CDC stream offset an INCLUSIVE `startingTimestamp` resolves
    * to. A stream serves changes strictly AFTER its starting offset,
    * so the instant maps to the generation BEFORE the earliest commit
    * AT OR AFTER it — a commit landing exactly at the instant is
    * included in the feed, the reference CDC contract
    * ([[generationAsOf]]'s at-or-before resolution would silently
    * exclude that commit's changes). Nothing committed at/after the
    * instant → the live generation (the stream serves only new
    * changes, exactly the no-option default). An instant predating
    * the retained history refuses loudly: the feed below the oldest
    * retained generation is vacuumed (or predates tracking), and
    * serving a truncated backfill as if complete would be a silent
    * hole. */
  private[graft] def cdcStartGeneration(
      spark: org.apache.spark.sql.SparkSession,
      dir: String, tsMillis: Long): Long = {
    val (cur, oldest, info) = retainedCommits(spark, dir,
      "no commit history to resolve startingTimestamp against", "",
      "pass startingVersion instead")
    (oldest to cur).find(g => info(g)._1 >= tsMillis) match {
      case None => cur
      case Some(g) =>
        require(g > oldest,
          s"startingTimestamp $tsMillis predates the retained history " +
            s"of $dir (oldest retained generation $oldest committed at " +
            s"${info(oldest)._1}) — the earlier change feed is vacuumed " +
            "or predates generation tracking; pass startingVersion, or " +
            "a later timestamp")
        g - 1L
    }
  }

  /** Hadoop Configuration is not Serializable; this envelope carries
    * it to executors for the distributed file copies (restore/clone)
    * via its own Writable serialization. */
  private class SerHadoopConf(
      @transient private var conf: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    def value: org.apache.hadoop.conf.Configuration = conf
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      conf = new org.apache.hadoop.conf.Configuration(false)
      conf.readFields(in)
    }
  }

  /** Copy `pairs` (src URI → dst URI) ON THE EXECUTORS — restore and
    * clone move data bytes, and at 100 TB that I/O belongs on the
    * cluster, never the driver (the driver's work stays file-count-
    * sized: planning the pairs). One task per file; each streams
    * src → `.dst.inprogress` → rename, so a crashed task leaves only
    * `.`-prefixed debris invisible to readers, never a torn
    * destination; a task RETRY finds the rename target already
    * committed and stands down. */
  private def copyFilesDistributed(spark: org.apache.spark.sql.SparkSession,
                                   pairs: Seq[(String, String)]): Unit = {
    if (pairs.isEmpty) return
    val serConf = new SerHadoopConf(spark.sparkContext.hadoopConfiguration)
    val slices = math.max(1, math.min(pairs.size,
      spark.sparkContext.defaultParallelism * 2))
    spark.sparkContext.parallelize(pairs, slices).foreach { case (s, d) =>
      val conf = serConf.value
      val srcP = new org.apache.hadoop.fs.Path(new java.net.URI(s))
      val dstP = new org.apache.hadoop.fs.Path(new java.net.URI(d))
      val sfs = srcP.getFileSystem(conf)
      val dfs = dstP.getFileSystem(conf)
      if (!dfs.exists(dstP)) {
        // ATTEMPT-unique tmp name (the Spark/Delta committer rule): a
        // speculative or zombie duplicate of this task must not
        // truncate the stream a live attempt is writing — each
        // attempt owns its tmp, and the rename is the committer
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        val tmp = new org.apache.hadoop.fs.Path(dstP.getParent,
          s".${dstP.getName}.$attempt.inprogress")
        dfs.mkdirs(dstP.getParent)
        val in = sfs.open(srcP)
        try {
          val out = dfs.create(tmp, true)
          try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 1 << 16, false)
          finally out.close()
        } finally in.close()
        if (!dfs.rename(tmp, dstP)) {
          require(dfs.exists(dstP), s"failed to commit copy $s -> $d")
          dfs.delete(tmp, false)
          ()
        }
      }
    }
  }

  /** Anchor (basePath) of a RESOLVED snapshot file: live files anchor
    * at the layout root, retired files at their retirement label.
    * THE single parser of the retirement layout — [[readResolved]]
    * groups its per-anchor reads by it and [[anchorRelOf]] slices
    * relative paths against it, so the two cannot diverge if the
    * layout ever changes again. */
  private def snapshotAnchorOf(dir: String, resolved: String): String = {
    val marker = "/_graft_retired/gen="
    val i = resolved.indexOf(marker)
    if (i < 0) dir
    else {
      val end = resolved.indexOf('/', i + marker.length)
      require(end > 0, s"malformed retirement path $resolved")
      resolved.substring(0, end)
    }
  }

  /** The resolved (anchor, file) pairs of generation `gen` — the
    * [[readSnapshot]] resolution exposed for the `graft` DataSourceV2
    * reader ([[graft.sources.GraftSource]]): each manifest file
    * resolved live-or-retired fresh on every call (a concurrent verb
    * may retire a file at any time, and a cached resolution would
    * dangle), paired with the basePath anchor [[readResolved]] would
    * group it under (the layout dir for live files, the retirement
    * label for retired ones). The file names come from the
    * generation's cached [[ManifestSnapshot]].
    *
    * Non-empty `boxes` drop the files provably outside them — the V2
    * reader's data skipping ([[graft.plans.GraftManifestPrune]] swaps
    * the relation's file list for this one and leaves the query's own
    * Filter as the residual, so pruned ≡ full scan holds by the same
    * construction as [[scanPruned]]), through [[skipExprOf]], the one
    * skip semantics. */
  private[graft] def snapshotFileAnchors(
      spark: org.apache.spark.sql.SparkSession, dir: String, gen: Long,
      boxes: Seq[PruneBox] = Nil): Seq[(String, String)] = {
    requireEncodingStablePath(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = snapshotOf(spark, fs, dir, gen)
    val files = snapshotDvRows(spark, snap,
      boxes.map(skipExprOf(snap.schema, _)).reduceOption(_ || _)).map(_._1)
    resolveSnapshotFiles(fs, dir, gen, files.toArray)
      .map(f => snapshotAnchorOf(dir, f) -> f)
  }

  /** The data schema a `graft` relation over generation `gen` declares
    * — [[dataSchemaOf]] sampled at `files`, the relation's resolved
    * files — so the V2 file table never infers one. */
  private[graft] def snapshotDataSchema(
      spark: org.apache.spark.sql.SparkSession, dir: String, gen: Long,
      files: Seq[String]): Option[org.apache.spark.sql.types.StructType] = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    dataSchemaOf(spark, dir, snapshotOf(spark, fs, dir, gen), files)
  }

  /** The stat schema of generation `gen`'s manifest — what the V2
    * reader's pruning rule ([[graft.plans.GraftManifestPrune]])
    * consults to translate pushed filter conjuncts into prune boxes
    * (which keys carry stats, at what type), read off the cached
    * [[ManifestSnapshot]]. Only meaningful on generation-tracked
    * layouts — untracked manifests mutate in place, so the rule never
    * prunes them. */
  private[graft] def snapshotManifestSchema(
      spark: org.apache.spark.sql.SparkSession,
      dir: String, gen: Long): Option[org.apache.spark.sql.types.StructType] = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!generationsEnabled(fs, dir)) None
    else Some(snapshotOf(spark, fs, dir, gen).schema)
  }

  /** The generation's LIVE row count summed from its manifest alone
    * (physical rows minus any deletion vector) — what
    * [[graft.plans.GraftCountFromManifest]] answers a bare
    * `SELECT count(*)` over the V2 reader with: a sum over the
    * snapshot's per-file counts, zero data-file opens (and no job when
    * the snapshot's rows are held). Exact
    * because the reader's file list IS this manifest's and per-file
    * `n_rows` is that file's scan count. Untracked layouts count
    * their live manifest. */
  private[graft] def snapshotLiveRowCount(
      spark: org.apache.spark.sql.SparkSession,
      dir: String, gen: Long): Long = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap =
      if (generationsEnabled(fs, dir)) snapshotOf(spark, fs, dir, gen)
      else liveSnapshot(spark, dir)
    snap.frame(spark)
      .select(col("n_rows") - dvRowsExprOf(snap.schema)).collect()
      .collect { case r if !r.isNullAt(0) => r.getLong(0) }.sum
  }

  /** Whether generation `gen`'s manifest references any deletion
    * vector — the V2 reader's probe: a raw file relation cannot
    * apply vectors, so it refuses instead of resurrecting rows. */
  private[graft] def snapshotHasDv(spark: org.apache.spark.sql.SparkSession,
                                   dir: String, gen: Long): Boolean = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(dvRoot(dir)) && snapshotDvRows(spark,
      if (generationsEnabled(fs, dir)) snapshotOf(spark, fs, dir, gen)
      else liveSnapshot(spark, dir)).exists(_._2.isDefined)
  }

  /** Whether the layout root has hive `k=v` partition subdirectories —
    * the shape dispatch the `graft` DataSourceV2 source needs (a
    * partitioned tree's snapshot read must anchor a basePath) and the
    * OPTIMIZE verbs' selection branches on. */
  private[graft] def isHivePartitioned(
      spark: org.apache.spark.sql.SparkSession, dir: String): Boolean = {
    val hDir = new org.apache.hadoop.fs.Path(dir)
    val fs = hDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(hDir).exists { st =>
      val n = st.getPath.getName
      st.isDirectory && !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** Anchor + anchor-relative path of a RESOLVED snapshot file — the
    * same grouping [[readResolved]] reads under. The relative path
    * carries the file's k=v chain on a partitioned layout (retirement
    * preserves it), which is what lets restore and clone land each
    * file back in its partition leaf. */
  private def anchorRelOf(fs: org.apache.hadoop.fs.FileSystem,
                          dir: String, resolved: String): (String, String) = {
    val anchor = snapshotAnchorOf(dir, resolved)
    val aq = fs.makeQualified(new org.apache.hadoop.fs.Path(anchor)).toString
    val pq = fs.makeQualified(
      new org.apache.hadoop.fs.Path(new java.net.URI(resolved))).toString
    require(pq.startsWith(aq + "/"),
      s"$resolved is not under its anchor $anchor")
    (anchor, pq.stripPrefix(aq + "/"))
  }

  /** Rewrite the manifest's `file` column through `mapping`
    * (old URI → new URI), every other column and the column ORDER
    * verbatim — stats stay valid because restore/clone copy bytes,
    * never rewrite rows. File-count-sized broadcast join, the same
    * planning shape as every other manifest patch. */
  private def remapManifestFiles(spark: org.apache.spark.sql.SparkSession,
                                 manifest: DataFrame,
                                 mapping: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    val m = mapping.toDF("file", "graft_new_file")
    val cols = manifest.columns.toSeq
    manifest.join(broadcast(m), Seq("file"), "inner")
      .select(cols.map(c =>
        if (c == "file") col("graft_new_file").as("file") else col(c)): _*)
  }

  /** Manifest `file` strings must match Spark's inputFiles
    * canonicalization exactly (that is the form every manifest row is
    * born with and every coverage/anti-join compares against), and a
    * driver-synthesized `Path` string is NOT it (`file:/` vs
    * `file:///`). So restore/clone re-list after copying and match
    * each copy back by its unique anchor-relative suffix. */
  private def canonicalByRel(canonical: Seq[String], rel: String): String = {
    val hits = canonical.filter(_.endsWith("/" + rel))
    require(hits.size == 1,
      s"cannot canonicalize copied file $rel — " +
        s"${hits.size} listing matches: ${hits.mkString(", ")}")
    hits.head
  }

  /** Per-outcome counts of a [[restoreSnapshot]] call. `committed`
    * is false only for the no-op restore-to-live-generation. */
  case class RestoreStats(committed: Boolean, filesKept: Int,
                          filesCopied: Int, filesRetired: Int)

  /** RESTORE TABLE: make generation `gen`'s rows the LIVE table
    * again, as a NEW commit — the Delta `RESTORE ... VERSION AS OF`
    * verb, the undo for a bad delete/upsert/optimize. Files of `gen`
    * still live stay untouched (their manifest rows carry over
    * verbatim); files that were retired since are COPIED back into
    * the live tree — copied, never moved, so every archived
    * generation that references them at their retirement label keeps
    * resolving — under fresh `restored-gen<N>-` basenames in their
    * original partition leaf (the preserved k=v chain); live files
    * NOT in `gen` retire under the outgoing generation's label like
    * any other mutation. Byte copies on the executors
    * ([[copyFilesDistributed]]): restore I/O ∝ the churn being
    * undone, never table size, and the driver only plans the
    * file-count-sized pair list. The copies stage under
    * `_graft_restore_tmp` and the new manifest replaces the live one
    * whole, through [[commit]] (its OCC rollback and crash windows).
    *
    * Restoring to a pre-ADD-COLUMN generation does NOT drop the
    * column: the schema sidecar stays, restored files simply read
    * null for columns they predate — same rule as [[readSnapshot]].
    * History keeps the undone commits readable: restore ADDS a
    * generation, it never rewrites the log. */
  def restoreSnapshot(spark: org.apache.spark.sql.SparkSession,
                      dir: String, gen: Long,
                      expectedGen: Option[Long] = None): RestoreStats = {
    import spark.implicits._
    requireEncodingStablePath(dir)
    val scope = new Scope(spark, dir, expectedGen)
    val fs = scope.fs
    require(generationsEnabled(fs, dir),
      s"$dir is not generation-tracked — nothing to restore")
    requireExpectedGen(fs, dir, expectedGen, "restore")
    val cur = liveGenOf(fs, dir)
    val snap = snapshotOf(spark, fs, dir, gen)
    val target = snap.frame(spark)
    val targetRows = snapshotDvRows(spark, snap)
    val targetFiles = targetRows.map(_._1).toArray
    val targetDv = targetRows.collect { case (f, Some(p)) => f -> p }.toMap
    // every store the target generation references must still exist
    // (vacuum-protected while the generation is retained, but loud
    // HERE beats a dangling reference that fails on first read)
    for (p <- targetDv.values.toSeq.distinct)
      require(fs.exists(new org.apache.hadoop.fs.Path(new java.net.URI(p))),
        s"generation $gen of $dir references the deletion-vector " +
          s"store $p, which no longer exists — vacuumed out of band?")
    if (gen == cur)
      return RestoreStats(committed = false, targetFiles.length, 0, 0)
    val resolved = resolveSnapshotFiles(fs, dir, gen, targetFiles)
    // fs-level emptiness probe first: restoring the undo-a-delete-
    // everything case means the live tree may hold ZERO data files,
    // where spark.read would die on schema inference instead of
    // returning the empty set
    val liveBefore: Set[String] =
      if (dataFilesUnder(fs, new org.apache.hadoop.fs.Path(dir)).isEmpty)
        Set.empty
      else liveFilesOf(spark, dir).toSet
    // classification falls out of resolution: a file that resolved to
    // a retirement path needs a copy-back; anything else is live
    val (copyBack, kept) = targetFiles.zip(resolved).partition {
      case (_, r) => r.contains("/_graft_retired/gen=")
    }
    val withRel = copyBack.toSeq.map { case (orig, retired) =>
      val (_, rel) = anchorRelOf(fs, dir, retired)
      val slash = rel.lastIndexOf('/')
      val (parent, base) =
        if (slash < 0) ("", rel) else (rel.substring(0, slash + 1),
          rel.substring(slash + 1))
      // fresh name, unique per committing generation (a given live
      // generation commits at most once), original partition leaf
      (orig, retired, s"${parent}restored-gen$cur-$base")
    }
    val tmp = stagingDir(scope.hDir, "_graft_restore_tmp")
    val tmpQ = fs.makeQualified(tmp).toString
    // retire what the restore supersedes — everything live that gen
    // does not reference (the copies are not in liveBefore, so they
    // can never retire themselves)
    val retire = (liveBefore -- kept.map(_._1)).toSeq.sorted
    commit(spark, scope, "restore",
      Option.when(withRel.nonEmpty)(Stage(tmp, scope.hDir, () =>
        copyFilesDistributed(spark,
          withRel.map(m => (m._2, s"$tmpQ/${m._3}"))))).toSeq,
      retire, files => Some {
        // the copies' manifest rows must carry Spark's OWN
        // canonicalization of each new file ([[canonicalByRel]])
        val mapping = withRel.map(m => (m._1, canonicalByRel(files.flatten, m._3)))
        val restored = remapManifestFiles(spark, target,
          kept.toSeq.map(k => (k._1, k._1)) ++ mapping)
        // copied-back files that carried a deletion vector at the
        // target generation get their positions REWRITTEN onto the
        // copies' new paths in one fresh store (content is
        // byte-identical, so the positions stay valid); kept files'
        // vector pointers ride the manifest verbatim — their stores
        // still name them correctly
        val dvCopyBack = mapping.collect {
          case (orig, newFile) if targetDv.contains(orig) =>
            (orig, targetDv(orig), newFile)
        }
        if (dvCopyBack.isEmpty) restored
        else {
          val newStore = rewriteDvStore(spark, fs, dvRoot(dir),
            s"restore$cur", dvCopyBack)
          val repoint = dvCopyBack
            .map { case (_, _, nf) => (nf, newStore) }
            .toDF("file", "__graft_new_dv_path")
          widenWithDvCols(restored)
            .join(broadcast(repoint), Seq("file"), "left")
            .withColumn("dv_path",
              coalesce(col("__graft_new_dv_path"), col("dv_path")))
            .drop("__graft_new_dv_path")
        }
      })
    RestoreStats(committed = true, kept.length, copyBack.length, retire.size)
  }

  /** CLONE a snapshot into a standalone layout: generation `gen`'s
    * files copied to `destDir` (executor-distributed, each under its
    * anchor-relative path so partition leaves reproduce), the
    * manifest rewritten to the copied URIs, and the schema sidecar
    * carried over when one exists — the Delta CLONE / training-data
    * EXPORT verb: pin the exact dataset version a run trained on as
    * an independent, prunable table that later mutations and vacuums
    * of the source can never touch. The clone starts UNTRACKED (no
    * generation history of its own — call [[enableGenerations]] to
    * begin one) and must not already exist. Returns the number of
    * files copied. */
  def cloneSnapshot(spark: org.apache.spark.sql.SparkSession,
                    srcDir: String, gen: Long, destDir: String): Long = {
    import spark.implicits._
    requireEncodingStablePath(srcDir)
    requireEncodingStablePath(destDir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(srcDir).getFileSystem(conf)
    val destP = new org.apache.hadoop.fs.Path(destDir)
    // the destination may live on a DIFFERENT filesystem (the export
    // use case: hdfs table → object-store pin) — every dest-side
    // driver call resolves against its own FS
    val destFs = destP.getFileSystem(conf)
    require(!destFs.exists(destP),
      s"clone destination $destDir already exists — refusing to mix")
    val snap = snapshotOf(spark, fs, srcDir, gen)
    val target = snap.frame(spark)
    val targetRows = snapshotDvRows(spark, snap)
    val targetFiles = targetRows.map(_._1).toArray
    val targetDv = targetRows.collect { case (f, Some(p)) => f -> p }.toMap
    for (p <- targetDv.values.toSeq.distinct)
      require(fs.exists(new org.apache.hadoop.fs.Path(new java.net.URI(p))),
        s"generation $gen of $srcDir references the deletion-vector " +
          s"store $p, which no longer exists — vacuumed out of band?")
    val resolved = resolveSnapshotFiles(fs, srcDir, gen, targetFiles)
    val destQ = destFs.makeQualified(destP).toString
    val withRel = targetFiles.toSeq.zip(resolved).map { case (orig, r) =>
      val (_, rel) = anchorRelOf(fs, srcDir, r)
      (orig, r, rel)
    }
    val dup = withRel.groupBy(_._3).filter(_._2.size > 1).keys
    require(dup.isEmpty,
      s"clone of $srcDir@$gen maps two files onto ${dup.mkString(", ")}")
    copyFilesDistributed(spark, withRel.map(m => (m._2, s"$destQ/${m._3}")))
    // manifest rows carry Spark's OWN canonicalization of each copy
    // ([[canonicalByRel]]), matched back by anchor-relative suffix; a
    // zero-file generation (everything deleted) clones as an empty
    // layout — the directory still materializes so the manifest has
    // a home
    if (withRel.isEmpty) destFs.mkdirs(destP)
    val destCanonical =
      if (withRel.isEmpty) Seq.empty[String]
      else liveFilesOf(spark, destDir,
        dataSchemaOf(spark, srcDir, snap, resolved))
    val mapping = withRel.map(m => (m._1, canonicalByRel(destCanonical, m._3)))
    val cloned0 = remapManifestFiles(spark, target, mapping)
    // vectorized files' positions travel with the clone: ONE new
    // store under the clone's own `_graft_dv`, recorded paths
    // remapped onto the copies (content is byte-identical) — the
    // clone stays standalone, never referencing the source's stores
    // a later vacuum of the source could reap
    val dvPairs = mapping.collect {
      case (orig, newFile) if targetDv.contains(orig) =>
        (orig, targetDv(orig), newFile)
    }
    val cloned = (if (dvPairs.isEmpty) cloned0 else {
      val newStore = rewriteDvStore(spark, destFs, dvRoot(destDir),
        s"clone$gen", dvPairs)
      val repoint = dvPairs.map { case (_, _, nf) => (nf, newStore) }
        .toDF("file", "__graft_new_dv_path")
      widenWithDvCols(cloned0)
        .join(broadcast(repoint), Seq("file"), "left")
        .withColumn("dv_path",
          coalesce(col("__graft_new_dv_path"), col("dv_path")))
        .drop("__graft_new_dv_path")
    }).localCheckpoint(true)
    cloned.write.mode("overwrite").parquet(s"$destDir/_graft_manifest")
    Checkpoints.unpersist(cloned)
    // the CURRENT sidecar governs resolution of every file, including
    // ones predating an added column — the clone needs it verbatim
    val sc = schemaSidecar(srcDir)
    if (fs.exists(sc))
      org.apache.hadoop.fs.FileUtil.copy(fs, sc, destFs,
        schemaSidecar(destDir), false, conf)
    // the dropped-names record travels too: the clone's files still
    // hold the dropped values, so the re-add refusal must as well
    val dc = droppedSidecar(srcDir)
    if (fs.exists(dc))
      org.apache.hadoop.fs.FileUtil.copy(fs, dc, destFs,
        droppedSidecar(destDir), false, conf)
    mapping.size.toLong
  }

  /** DESCRIBE DETAIL: one row of table-level metadata, assembled from
    * the manifest and the store's sidecars without opening a data
    * file — file/row counts from the manifest (file-count-sized),
    * everything else from directory probes. `generation`/`oldest_gen`
    * are null on untracked layouts; `partition_cols` is empty on flat
    * ones; `schema_evolved` reports a live sidecar. The operational
    * at-a-glance every table format ships (Delta's DESCRIBE DETAIL),
    * and the first thing to read before choosing a maintenance
    * verb. */
  def describeLayout(spark: org.apache.spark.sql.SparkSession,
                     dir: String): DataFrame = {
    import spark.implicits._
    requireEncodingStablePath(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifest = loadManifest(spark, dir)
    val mSchema = manifest.schema
    val keys = manifestKeysOf(mSchema)
    val sweep = sweepOf(manifest, keys, lit(""))
    // n_rows reports LIVE rows (physical minus deletion vectors) —
    // identical on a vector-free layout
    val (nFiles, nRows) =
      (sweep.files.size.toLong, sweep.files.map(f => f.rows - f.dvRows).sum)
    val blooms = bloomKeysOf(mSchema)
    val partCols = hivePartColsOf(fs, new org.apache.hadoop.fs.Path(dir))
    val tracked = generationsEnabled(fs, dir)
    val gen = if (tracked) Some(liveGenOf(fs, dir)) else None
    val oldest =
      if (tracked) Some(archivedGens(fs, dir).minOption
        .getOrElse(gen.get))
      else None
    val depth = sweep.worstOf(keys)
    // operational-health tail: outstanding deletion-vector tax,
    // registered constraints, stream ledgers, and vacuum pins — one
    // row answers "what is the operational state of this table"
    // without assembling four separate verb calls. All four are
    // sidecar/manifest-sized reads, zero data-file opens.
    val vectorized = sweep.files.filter(_.dvPath.nonEmpty)
    val (dvFiles, dvRows) = (vectorized.size.toLong, vectorized.map(_.dvRows).sum)
    val nConstraints = checkConstraintsOf(spark, dir).size
    val streams = streamLedgers(spark, dir).size
    val pins = if (tracked) snapshotPinsOf(fs, dir).size else 0
    Seq((dir, nFiles, nRows, keys, blooms, partCols,
        fs.exists(schemaSidecar(dir)), tracked, gen, oldest, depth,
        dvFiles, dvRows, nConstraints, streams, pins))
      .toDF("location", "n_files", "n_rows", "keys", "bloom_keys",
        "partition_cols", "schema_evolved", "generations_enabled",
        "generation", "oldest_gen", "worst_depth",
        "dv_files", "dv_rows", "n_constraints", "n_streams", "n_pins")
  }

  // ───────── snapshot pins: vacuum ↔ consumer coordination ─────────
  //
  // A long-lived snapshot consumer (a materialized view pinned to the
  // generation it last refreshed from) can REGISTER that pin in the
  // base's history dir; [[vacuumGenerations]] then refuses to cut
  // below the oldest registered pin instead of silently stranding the
  // consumer (whose next refresh would fail needing a full rebuild).
  // Pins are advisory-but-enforced: vacuum's `force` overrides, and a
  // consumer that disappears without unregistering leaves a stale pin
  // a reader can see (`snapshotPins`) and clear by name.

  private def pinsDir(dir: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(historyDir(dir), "pins")

  private def pinPath(dir: String, consumer: String): org.apache.hadoop.fs.Path = {
    // filename = hex digest of the consumer id (ids are paths — not
    // valid filenames); the id itself rides inside the JSON
    val d = java.security.MessageDigest.getInstance("SHA-1")
      .digest(consumer.getBytes("UTF-8"))
    new org.apache.hadoop.fs.Path(pinsDir(dir),
      d.map("%02x".format(_)).mkString + ".json")
  }

  private val PinRe =
    """\{"consumer":"([^"]*)","gen":(\d+)\}""".r

  /** Register (or advance) `consumer`'s pinned generation on this
    * layout. Tmp + rename, so a torn write never reads as a pin. */
  def registerSnapshotPin(spark: org.apache.spark.sql.SparkSession,
                          dir: String, consumer: String,
                          gen: Long): Unit = {
    require(consumer.nonEmpty &&
        consumer.forall(c => c != '"' && c != '\\' && c >= ' '),
      s"snapshot-pin consumer id must be a plain path/name, got '$consumer'")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(generationsEnabled(fs, dir),
      s"$dir is not generation-tracked — nothing to pin against")
    fs.mkdirs(pinsDir(dir))
    val p = pinPath(dir, consumer)
    val tmp = new org.apache.hadoop.fs.Path(p.toString + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(s"""{"consumer":"$consumer","gen":$gen}"""
      .getBytes("UTF-8")) finally out.close()
    require(fs.delete(p, false) || !fs.exists(p),
      s"failed to clear the old snapshot pin at $p")
    require(fs.rename(tmp, p), s"failed to persist the snapshot pin at $p")
  }

  /** Drop `consumer`'s pin (idempotent). */
  def unregisterSnapshotPin(spark: org.apache.spark.sql.SparkSession,
                            dir: String, consumer: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = pinPath(dir, consumer)
    require(fs.delete(p, false) || !fs.exists(p),
      s"failed to drop the snapshot pin at $p")
  }

  /** consumer id → pinned generation, every registered pin. A torn
    * pin file fails loudly — silently skipping one would let vacuum
    * cut below it. */
  def snapshotPins(spark: org.apache.spark.sql.SparkSession,
                   dir: String): Map[String, Long] = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    snapshotPinsOf(fs, dir)
  }

  private def snapshotPinsOf(fs: org.apache.hadoop.fs.FileSystem,
                             dir: String): Map[String, Long] = {
    val d = pinsDir(dir)
    if (!fs.exists(d)) Map.empty
    else fs.listStatus(d).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".json"))
      .map { st =>
        val in = fs.open(st.getPath)
        val txt = try {
          val out = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, out, 256, false)
          out.toString("UTF-8").trim
        } finally in.close()
        txt match {
          case PinRe(c, g) => c -> g.toLong
          case _ => throw new IllegalStateException(
            s"corrupt snapshot pin at ${st.getPath} (read '$txt') — " +
              "repair or remove it before vacuuming")
        }
      }.toMap
  }

  /** Trim the generation store to the last `retainLast` generations
    * (live included): archived manifests and retired-file dirs
    * labeled below the cut are deleted — every RETAINED snapshot
    * stays fully readable, because a file needed by snapshot N sits
    * at a retirement label ≥ N (it was retired by the commit that
    * superseded it). A registered snapshot pin BELOW the cut refuses
    * the vacuum by consumer name (refresh the view to advance its
    * pin, unregister it, or pass `force`). Returns
    * `(manifestsDropped, filesDropped)`. */
  def vacuumGenerations(spark: org.apache.spark.sql.SparkSession,
                        dir: String, retainLast: Int,
                        force: Boolean = false): (Int, Int) = {
    require(retainLast >= 1, "vacuumGenerations needs retainLast >= 1")
    requireEncodingStablePath(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(generationsEnabled(fs, dir),
      s"$dir is not generation-tracked — nothing to vacuum")
    val cur = currentGeneration(spark, dir)
    vacuumBelow(spark, fs, dir, cur, cur - (retainLast - 1L), force)
  }

  /** [[vacuumGenerations]] by AGE instead of count — the Delta
    * retention-interval shape: drop every generation whose commit
    * time is older than `cutoffMillis`, keeping the live generation
    * unconditionally (a quiet table's only generation may be
    * arbitrarily old — vacuum must never strand the reader). The
    * commit records are the clock: a RETAINED-range generation
    * without one fails loudly in [[generationAsOf]]'s spirit — here
    * it simply never drops (no record = no proof it is old), so a
    * crashed commit's recordless generation errs toward safety.
    * Returns `(manifestsDropped, filesDropped)`. */
  def vacuumGenerationsOlderThan(spark: org.apache.spark.sql.SparkSession,
                                 dir: String, cutoffMillis: Long,
                                 force: Boolean = false): (Int, Int) = {
    requireEncodingStablePath(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(generationsEnabled(fs, dir),
      s"$dir is not generation-tracked — nothing to vacuum")
    val cur = currentGeneration(spark, dir)
    val info = commitInfoOf(fs, dir)
    // the cut is the OLDEST generation to keep: every generation at
    // or above the first young-enough (or recordless) one stays —
    // retention is a contiguous suffix, never a sieve, so snapshot
    // resolution keeps its "label ≥ N" invariant
    val cut = (archivedGens(fs, dir).minOption.getOrElse(cur) to cur)
      .find(g => info.get(g).forall(_._1 >= cutoffMillis))
      .getOrElse(cur)
    vacuumBelow(spark, fs, dir, cur, cut, force)
  }

  private def vacuumBelow(spark: org.apache.spark.sql.SparkSession,
                          fs: org.apache.hadoop.fs.FileSystem,
                          dir: String, cur: Long, cut: Long,
                          force: Boolean = false): (Int, Int) = {
    // registered consumer pins gate the cut BEFORE anything deletes:
    // cutting below a pin would strand that consumer's next refresh
    // on a vacuumed manifest (recoverable only by a full rebuild) —
    // refused by consumer name instead, unless forced
    if (!force) {
      val blocking = snapshotPinsOf(fs, dir).filter(_._2 < cut)
      require(blocking.isEmpty,
        s"vacuum to generation $cut would cut below ${blocking.size} " +
          "registered snapshot pin(s): " +
          blocking.toSeq.sortBy(_._1)
            .map { case (c, g) => s"$c @ gen=$g" }.mkString(", ") +
          " — refresh those consumers (advancing their pins), " +
          "unregisterSnapshotPin them, or pass force = true")
    }
    // persist the generation counter BEFORE any deletion: the
    // archived manifests are its only other record, and a full vacuum
    // (retainLast = 1) drops them all — without the floor the counter
    // would reset and the next commit would re-issue a label pinned
    // readers already hold. Tmp + rename so a torn write can never
    // read as a smaller number.
    val floorTmp = new org.apache.hadoop.fs.Path(historyDir(dir), "_floor.tmp")
    val out = fs.create(floorTmp, true)
    try out.write(cur.toString.getBytes("UTF-8")) finally out.close()
    require(fs.delete(genFloorPath(dir), false) || !fs.exists(genFloorPath(dir)),
      s"vacuum: failed to clear the old generation floor at ${genFloorPath(dir)}")
    require(fs.rename(floorTmp, genFloorPath(dir)),
      s"vacuum: failed to persist the generation floor at ${genFloorPath(dir)}")
    var (mfDropped, filesDropped) = (0, 0)
    for (g <- archivedGens(fs, dir) if g < cut) {
      val p = new org.apache.hadoop.fs.Path(historyDir(dir), s"gen=$g")
      require(fs.delete(p, true), s"vacuum: failed to drop manifest $p")
      mfDropped += 1
    }
    val r = retiredDir(dir)
    if (fs.exists(r)) for (st <- fs.listStatus(r)
        if st.isDirectory && st.getPath.getName.startsWith("gen=")
          && st.getPath.getName.stripPrefix("gen=").toLong < cut) {
      // recursive: a partitioned retirement label holds its files
      // under preserved k=v chains
      filesDropped += dataFilesUnder(fs, st.getPath).size
      require(fs.delete(st.getPath, true),
        s"vacuum: failed to drop retired files at ${st.getPath}")
    }
    // commit records below the cut go with their manifests — a
    // retained record for a vacuumed generation would let
    // [[generationAsOf]] resolve to an unreadable snapshot
    val cDir = commitsDir(dir)
    if (fs.exists(cDir)) for (st <- fs.listStatus(cDir)
        if st.isFile && st.getPath.getName.startsWith("gen=")
          && st.getPath.getName.endsWith(".json")
          && st.getPath.getName.stripPrefix("gen=").stripSuffix(".json")
            .toLong < cut)
      require(fs.delete(st.getPath, false),
        s"vacuum: failed to drop the commit record at ${st.getPath}")
    // deletion-vector stores follow the manifests that referenced
    // them: with the sub-cut generations gone, reap every store no
    // RETAINED manifest (live or archived) still references — the
    // reference walk is manifest-sized, run AFTER the trim so the
    // reap sees exactly the surviving reference set
    reapUnreferencedDvStores(spark, fs, dir)
    (mfDropped, filesDropped)
  }

  /** The coverage guard every manifest CONSUMER runs before trusting
    * stored stats: each data file in the directory must have a
    * manifest row, except zero-row part files (legitimately
    * manifest-less — the stats groupBy never sees them, and zero
    * rows cannot be dropped or kept wrongly). The probe opens ONLY
    * the uncovered suspects, schema-pinned so a 0-byte file cannot
    * trip inference; per-file encoding-stability is re-checked here
    * because partition SUBdirectories surface paths the root-dir
    * guard never saw. `consequence` names what would otherwise go
    * wrong silently, so the read and delete sides fail with their
    * own story. */
  private def requireManifestCovers(
      spark: org.apache.spark.sql.SparkSession, dirFrame: DataFrame,
      known: => Set[String], dir: String, consequence: String): Unit = {
    // `known` is BY-NAME so the cheap listing + per-file path guard
    // run before the manifest is ever read: a broken manifest must
    // not mask the actionable encoding-stability rejection
    val listed = dirFrame.inputFiles
    listed.foreach(requireEncodingStablePath)
    val uncovered = listed.filterNot(known)
    if (uncovered.nonEmpty) {
      val hasRows = spark.read.schema(dirFrame.schema)
        .parquet(uncovered.toIndexedSeq: _*).head(1).nonEmpty
      require(!hasRows,
        s"manifest does not cover ${uncovered.length} data file(s) in " +
          s"$dir, at least one non-empty (out-of-band append?) — " +
          s"$consequence; uncovered: " + uncovered.take(3).mkString(", "))
    }
  }

  /** The per-key null-count stat column, or the "unknown" literal
    * when the manifest predates the null-count format — so every
    * consumer's proof degrades conservatively instead of failing
    * column resolution. */
  private def nullsColOf(mSchema: org.apache.spark.sql.types.StructType,
                         k: String): Column =
    if (mSchema.fieldNames.contains(s"nulls_$k")) col(s"nulls_$k")
    else lit(null).cast("long")

  /** Hive partition columns of a LIVE layout directory (empty for a
    * flat one), read from the PATH STRUCTURE alone: walk the first
    * `k=v` subdirectory chain and collect the key names in nesting
    * order — the order `partitionBy` needs. Shared by every verb
    * that routes rows back into partition subdirectories
    * ([[appendWithManifest]], [[upsertByKey]], [[deleteWhere]]).
    * Deliberately NOT the "discovered schema minus one footer"
    * subtraction: on a schema-EVOLVED layout ([[appendWithManifest]]
    * with `mergeSchema`) a footer sampled from a pre-evolution file
    * lacks the new data column, which that subtraction would then
    * misclassify as a partition column and `partitionBy` rows into
    * spurious directories. The path names cannot lie. */
  private def hivePartColsOf(fs: org.apache.hadoop.fs.FileSystem,
                             hPath: org.apache.hadoop.fs.Path): Seq[String] = {
    @annotation.tailrec
    def walk(p: org.apache.hadoop.fs.Path,
             acc: List[String]): List[String] =
      fs.listStatus(p).find { st =>
        val n = st.getPath.getName
        st.isDirectory && !n.startsWith("_") && !n.startsWith(".") &&
          n.contains("=")
      } match {
        case Some(st) =>
          walk(st.getPath, acc :+ st.getPath.getName.takeWhile(_ != '='))
        case None => acc
      }
    walk(hPath, Nil)
  }

  /** [[hivePartColsOf]] cross-checked against the DISCOVERED read
    * schema: the walk follows the FIRST `k=v` subdirectory chain, so
    * a ragged or corrupted tree (a stray `k=v`-named directory at the
    * root of a flat layout, a branch missing a deeper level) could
    * report keys the data does not carry — and the writer verbs would
    * then `partitionBy` rows into wrong paths. Every path-derived key
    * must resolve in `schema` (Spark's own partition discovery
    * materializes real `k=v` path columns there); a key that does not
    * is a layout corruption to fail loudly on, never to route writes
    * by. Used by every verb that ROUTES rows ([[appendWithManifest]],
    * [[upsertByKey]], [[deleteWhere]]) or subtracts partition columns
    * from a leaf's rewrite ([[optimize]], [[optimizeSelective]]). */
  private def hivePartColsChecked(
      fs: org.apache.hadoop.fs.FileSystem,
      hPath: org.apache.hadoop.fs.Path,
      schema: org.apache.spark.sql.types.StructType): Seq[String] = {
    val cols = hivePartColsOf(fs, hPath)
    val missing = cols.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"path-derived partition key(s) ${missing.mkString(", ")} at " +
        s"$hPath do not resolve in the discovered read schema " +
        s"(${schema.fieldNames.mkString(", ")}) — the partition tree " +
        "is ragged or carries a stray k=v directory; repair the " +
        "layout before writing to it")
    cols
  }

  /** Full-schema compatibility gate shared by every verb that WRITES
    * new rows into an existing layout ([[appendWithManifest]],
    * [[upsertByKey]]): a parquet write with an extra / missing /
    * retyped NON-key column would succeed on disk, after which plain
    * reads resolve to one file's schema and rows from the others
    * surface nulls or lose columns — an inconsistency the manifest
    * never detects because its stats only cover keyCols. Exact
    * name→type equality (nullability and column order excluded:
    * parquet resolves columns by name); partition columns compare
    * LENIENTLY across the integral family, because their stored type
    * comes from PATH-STRING inference, which reports IntegerType for
    * values a long-typed writer produced — demanding exact equality
    * there would reject every legitimate write to an
    * integer-partitioned layout. The path encoding is the same
    * either way; data columns stay exact.
    *
    * With `allowNewColumns` (the [[appendWithManifest]] `mergeSchema`
    * path) columns present in `df` but absent from `stored` are
    * PERMITTED and returned in `df` order — the ADD COLUMN form of
    * schema evolution, the only form that is exact without rewriting
    * old files (readers supply null where a file predates the
    * column). Missing and retyped columns stay hard errors either
    * way: dropping or retyping silently corrupts old rows. */
  private def requireWriteCompatible(
      df: org.apache.spark.sql.types.StructType,
      stored: org.apache.spark.sql.types.StructType,
      partCols: Seq[String], path: String,
      allowNewColumns: Boolean = false)
      : Seq[org.apache.spark.sql.types.StructField] = {
    def typeMap(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => f.name -> f.dataType).toMap
    val (dfT, curT) = (typeMap(df), typeMap(stored))
    val newCols = df.fields.filter(f => !curT.contains(f.name)).toSeq
    val compatible =
      (dfT.keySet == curT.keySet ||
        (allowNewColumns && curT.keySet.subsetOf(dfT.keySet))) &&
      dfT.forall { case (n, t) =>
        !curT.contains(n) || t == curT(n) ||
          (partCols.contains(n) && isIntegral(t) && isIntegral(curT(n)))
      }
    require(compatible,
      s"write schema ${df.simpleString} is not compatible with " +
        s"the stored data's ${stored.simpleString} at $path" +
        (if (!allowNewColumns && newCols.nonEmpty)
          " (new columns need mergeSchema = true)" else ""))
    newCols
  }

  /** Path of the evolved-schema sidecar — the layout's canonical
    * column set once [[appendWithManifest]] `mergeSchema` has added a
    * column. Needed because a bare parquet directory has NO single
    * schema after evolution: `spark.read.parquet(dir)` resolves
    * columns from a SAMPLED footer, so whether the new column appears
    * depends on which file got sampled — and a pruned read would
    * change schema with the predicate (survivors may all predate the
    * column). The sidecar is what the Delta log's schema entry is:
    * one authoritative answer, `_`-prefixed so data reads ignore the
    * file. */
  private def schemaSidecar(dir: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s"$dir/_graft_schema.json")

  /** The evolved-schema sidecar of a layout directory, if one has
    * been written ([[appendWithManifest]] with `mergeSchema`). */
  def storedSchemaOf(spark: org.apache.spark.sql.SparkSession,
                     dir: String): Option[org.apache.spark.sql.types.StructType] = {
    val p = schemaSidecar(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a stranded .tmp NEXT TO a missing sidecar is writeStoredSchema's
    // delete+rename crash window: on a SECOND evolution the old
    // sidecar is already deleted, and silently returning None here
    // would revert readers to nondeterministic footer-sampled
    // resolution of previously added columns — unlike a missing
    // manifest (loud at loadManifest), nothing downstream would
    // notice. Fail loudly instead; recovery is renaming the .tmp
    // (a complete, atomically-written schema) into place.
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/_graft_schema.json.tmp")
    if (!fs.exists(p)) {
      require(!fs.exists(tmp),
        s"stranded schema sidecar temp at $tmp with no live sidecar — " +
          "a writeStoredSchema crashed between delete and rename; " +
          s"rename it to $p to recover the evolved schema")
      None
    }
    else {
      val in = fs.open(p)
      val json = try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
        out.toString("UTF-8")
      } finally in.close()
      Some(org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    }
  }

  /** Replace the schema sidecar via the same tmp + delete + rename
    * discipline as [[replaceManifest]] — a reader never sees a
    * partially written schema. */
  private def writeStoredSchema(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val p = schemaSidecar(dir)
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/_graft_schema.json.tmp")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(tmp, true)
    try out.write(schema.json.getBytes("UTF-8")) finally out.close()
    require(fs.delete(p, false) || !fs.exists(p),
      s"failed to remove the old schema sidecar at $p before replacing it")
    require(fs.rename(tmp, p),
      s"failed to move the updated schema sidecar into place at $p")
  }

  // ───────── CHECK constraints: sidecar-stored, writer-enforced ─────────
  //
  // Delta's table constraints: a named boolean SQL expression every
  // row-ADDING writer ([[appendWithManifest]], [[upsertByKeys]]'s
  // updates, and therefore [[streamAppend]] and the GRAFT SQL write
  // statements) validates the INCOMING BATCH against before any
  // mutation — batch-sized work, never a table rescan. SQL CHECK
  // semantics: a row violates only when the expression evaluates to
  // FALSE; NULL passes (use `x IS NOT NULL` for NOT NULL). Stored as
  // one JSON sidecar (`_graft_constraints.json`, tmp + rename like
  // every other sidecar); expressions parse through Spark's own
  // parser at add time AND at enforcement time, so the dialect never
  // forks. Delete/optimize/restore never add rows and skip the check.

  private def constraintsSidecar(dir: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s"$dir/_graft_constraints.json")

  /** The layout's CHECK constraints, name → expression text. Torn
    * sidecars fail loudly (json4s parse error names the path). */
  def checkConstraintsOf(spark: org.apache.spark.sql.SparkSession,
                         dir: String): Seq[(String, String)] = {
    val p = constraintsSidecar(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else {
      val in = fs.open(p)
      val json = try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
        out.toString("UTF-8")
      } finally in.close()
      try {
        implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
        org.json4s.jackson.JsonMethods.parse(json)
          .extract[List[Map[String, String]]]
          .map(m => (m("name"), m("expr")))
      } catch {
        case e: Exception => throw new IllegalStateException(
          s"corrupt constraints sidecar at $p — repair or remove it " +
            s"(${e.getMessage})")
      }
    }
  }

  private def writeConstraints(spark: org.apache.spark.sql.SparkSession,
                               dir: String,
                               cs: Seq[(String, String)]): Unit = {
    val p = constraintsSidecar(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/_graft_constraints.json.tmp")
    import org.json4s.JsonDSL._
    val json = org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(
        cs.map { case (n, e) => ("name" -> n) ~ ("expr" -> e) }))
    val out = fs.create(tmp, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    require(fs.delete(p, false) || !fs.exists(p),
      s"failed to clear the old constraints sidecar at $p")
    require(fs.rename(tmp, p),
      s"failed to move the constraints sidecar into place at $p")
  }

  /** The violation predicate of one constraint — FALSE-only, per SQL
    * CHECK (null passes). Parsed through Spark's own expression
    * parser; shared by add-time validation and write-time
    * enforcement so the semantics cannot fork. */
  private def violationOf(exprText: String): Column =
    !coalesce(expr(exprText), lit(true))

  /** Add a named CHECK constraint. The expression must resolve and
    * type as boolean against the layout's canonical schema, the name
    * must be fresh, and (by default) every EXISTING row must already
    * satisfy it — an invalid-from-birth constraint would make every
    * later append fail confusingly, so the one table-sized scan
    * happens HERE, loudly, at add time (`validateExisting = false`
    * skips it when the caller has external proof). */
  def addCheckConstraint(spark: org.apache.spark.sql.SparkSession,
                         dir: String, name: String, exprText: String,
                         validateExisting: Boolean = true): Unit = {
    requireEncodingStablePath(dir)
    require(name.nonEmpty && name.forall(c =>
        c.isLetterOrDigit || c == '_' || c == '-'),
      s"constraint name '$name' must be a plain identifier")
    val existing = checkConstraintsOf(spark, dir)
    require(!existing.exists(_._1 == name),
      s"constraint $name already exists at $dir " +
        s"(CHECK (${existing.find(_._1 == name).get._2})) — drop it first")
    val frame = readLayout(spark, dir)
    // analysis-time resolution + boolean typing, before anything is
    // stored: a typo'd column or a non-boolean expression must fail
    // HERE, not on the next append
    val probe =
      try frame.select(expr(exprText).as("c"))
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"constraint $name's expression ($exprText) does not " +
              s"resolve against $dir: ${e.getMessage}")
      }
    require(probe.schema("c").dataType ==
        org.apache.spark.sql.types.BooleanType,
      s"constraint $name's expression ($exprText) is " +
        s"${probe.schema("c").dataType}, not boolean")
    // a nondeterministic expression (rand(), current_timestamp(), …)
    // would pass add-time validation and then accept or reject the
    // SAME batch at random — refuse it here, by name
    require(probe.queryExecution.analyzed.expressions
        .forall(_.deterministic),
      s"constraint $name's expression ($exprText) is " +
        "nondeterministic — enforcement would be a coin flip per batch")
    if (validateExisting) {
      val bad = frame.where(violationOf(exprText)).head(1)
      require(bad.isEmpty,
        s"existing rows at $dir violate $name (CHECK ($exprText)) — " +
          s"e.g. ${bad.headOption.getOrElse("")}; clean the data or " +
          "pass validateExisting = false with external proof")
    }
    writeConstraints(spark, dir, existing :+ (name -> exprText))
  }

  /** Drop a CHECK constraint by name — loud on an unknown name. */
  def dropCheckConstraint(spark: org.apache.spark.sql.SparkSession,
                          dir: String, name: String): Unit = {
    val existing = checkConstraintsOf(spark, dir)
    require(existing.exists(_._1 == name),
      s"no constraint named $name at $dir " +
        s"(has: ${existing.map(_._1).mkString(", ")})")
    writeConstraints(spark, dir, existing.filterNot(_._1 == name))
  }

  /** Enforce every stored constraint against an incoming BATCH — the
    * row-adding writers' shared hook, batch-sized by construction.
    * One pass evaluates all constraints (a single filter with the
    * OR of the violation predicates would lose WHICH constraint
    * fired; the per-constraint probes share the pinned batch the
    * callers already hold, so the marginal cost is one cheap job per
    * constraint). */
  private def requireBatchSatisfies(
      spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, verb: String): Unit =
    for ((name, exprText) <- checkConstraintsOf(spark, dir)) {
      val bad =
        try batch.where(violationOf(exprText)).head(1)
        catch {
          case e: org.apache.spark.sql.AnalysisException =>
            throw new IllegalStateException(
              s"constraint $name (CHECK ($exprText)) at $dir no longer " +
                s"resolves against the incoming batch: ${e.getMessage}")
        }
      require(bad.isEmpty,
        s"$verb at $dir rejected: constraint $name (CHECK ($exprText)) " +
          s"is violated by the incoming rows — e.g. ${bad.head}")
    }

  private def droppedSidecar(dir: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s"$dir/_graft_dropped.json")

  /** Column names LOGICALLY DROPPED from the layout ([[dropColumn]]):
    * kept next to the schema sidecar so a later `mergeSchema` append
    * can never RE-ADD a name whose old values still sit in existing
    * files — they would resurface as data instead of nulls, the
    * silent wrong Delta's physical column mapping exists to prevent;
    * without column mapping, refusing the name is the correct
    * posture. Retired together with the schema sidecar by the full
    * rewrites: materialization physically removes the column, after
    * which the name is genuinely free. */
  private def droppedColsOf(fs: org.apache.hadoop.fs.FileSystem,
                            dir: String): Seq[String] = {
    val p = droppedSidecar(dir)
    if (!fs.exists(p)) Nil
    else {
      val in = fs.open(p)
      val json = try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
        out.toString("UTF-8")
      } finally in.close()
      org.json4s.jackson.JsonMethods.parse(json) match {
        case org.json4s.JArray(xs) => xs.map {
          case org.json4s.JString(s) => s
          case other => throw new IllegalStateException(
            s"corrupt dropped-columns sidecar at $p: $other")
        }
        case other => throw new IllegalStateException(
          s"corrupt dropped-columns sidecar at $p: $other")
      }
    }
  }

  private def writeDroppedCols(fs: org.apache.hadoop.fs.FileSystem,
                               dir: String, names: Seq[String]): Unit = {
    val p = droppedSidecar(dir)
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/_graft_dropped.json.tmp")
    val json = org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(
        org.json4s.JArray(names.toList.map(org.json4s.JString(_)))))
    val out = fs.create(tmp, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    require(fs.delete(p, false) || !fs.exists(p),
      s"failed to remove the old dropped-columns sidecar at $p")
    require(fs.rename(tmp, p),
      s"failed to move the dropped-columns sidecar into place at $p")
  }

  /** Retire BOTH schema-evolution sidecars — the shared tail of every
    * full rewrite that materializes the canonical schema (after it,
    * no file predates an added column and no file still carries a
    * dropped one, so neither record has anything left to govern). */
  private def retireSchemaSidecars(fs: org.apache.hadoop.fs.FileSystem,
                                   dir: String): Unit = {
    val sc = schemaSidecar(dir)
    if (fs.exists(sc))
      require(fs.delete(sc, false),
        s"failed to retire the schema sidecar at $sc")
    val dc = droppedSidecar(dir)
    if (fs.exists(dc))
      require(fs.delete(dc, false),
        s"failed to retire the dropped-columns sidecar at $dc")
  }

  /** DROP COLUMN (logical): remove `colName` from the layout's
    * canonical schema — every sidecar-resolved reader
    * ([[readLayout]], pruned residual reads, snapshots) stops seeing
    * it immediately, with ZERO data I/O; the bytes stay in the files
    * until the next full rewrite ([[optimize]] / [[compact]])
    * materializes the schema and physically retires them, which also
    * frees the name. Until then the name sits on the dropped list and
    * `mergeSchema` refuses to re-add it (old values would resurface
    * as data instead of nulls). Manifest key columns, bloom-indexed
    * columns, and partition columns cannot drop — their stats and
    * paths would go inconsistent with the data. Snapshots resolve
    * under the CURRENT sidecar (the same table-wide rule as ADD
    * COLUMN): a pre-drop generation read after the drop no longer
    * shows the column. */
  def dropColumn(spark: org.apache.spark.sql.SparkSession,
                 dir: String, colName: String): Unit = {
    requireEncodingStablePath(dir)
    val hDir = new org.apache.hadoop.fs.Path(dir)
    val fs = hDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifest = loadManifest(spark, dir)
    val keys = manifestKeysOf(manifest.schema)
    require(!keys.contains(colName),
      s"cannot drop $colName: it is a manifest key column at $dir — " +
        "its stats drive pruning and deletes")
    require(!bloomKeysOf(manifest.schema).contains(colName),
      s"cannot drop $colName: it is bloom-indexed at $dir")
    val current = storedSchemaOf(spark, dir)
      .getOrElse(spark.read.parquet(dir).schema)
    require(current.fieldNames.contains(colName),
      s"$dir has no column $colName " +
        s"(has ${current.fieldNames.mkString(", ")})")
    val partCols = hivePartColsChecked(fs, hDir, current)
    require(!partCols.contains(colName),
      s"cannot drop $colName: it is a partition column at $dir")
    require(current.length > 1,
      s"cannot drop $colName: it is the only column of $dir")
    // dropped list FIRST, then the schema: a crash between the two
    // leaves the name reserved but still visible (harmless and
    // re-runnable); the reverse order would open a window where the
    // column is gone yet its name could be re-added
    writeDroppedCols(fs, dir, (droppedColsOf(fs, dir) :+ colName).distinct)
    writeStoredSchema(spark, dir,
      org.apache.spark.sql.types.StructType(
        current.filterNot(_.name == colName)))
  }

  /** Read a layout directory's data under its canonical schema: the
    * evolved-schema sidecar when present (files that predate an added
    * column surface null for it — ADD COLUMN semantics), a plain
    * parquet read otherwise. THE read verb for evolved layouts —
    * a bare `spark.read.parquet(dir)` on one resolves the added
    * columns nondeterministically (footer sampling) — and for
    * DELETION-VECTOR-bearing ones, where a bare read resurrects the
    * vectorized rows: when the live manifest references any vector,
    * the read routes through the manifest's file list with the
    * vectors anti-joined away (so an out-of-band file the manifest
    * never blessed is invisible here — on a vectorized layout every
    * legitimate file came through a manifest-keeping writer). */
  def readLayout(spark: org.apache.spark.sql.SparkSession,
                 dir: String): DataFrame = {
    val plain = storedSchemaOf(spark, dir) match {
      case Some(s) => spark.read.schema(s).parquet(dir)
      case None => spark.read.parquet(dir)
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dvRoot(dir))) plain
    else {
      val manifest = loadManifest(spark, dir)
      val rows =
        if (!hasDvCols(manifest.schema)) Array.empty[(String, String)]
        else manifest.filter(col("dv_path").isNotNull)
          .select("file", "dv_path").collect()
          .map(r => r.getString(0) -> r.getString(1))
      if (rows.isEmpty) plain
      else {
        val files = manifest.select("file").collect().map(_.getString(0))
        readFilesOf(spark, dir, files.toIndexedSeq,
          liveSchemaOf(spark, dir), dv = rows.toMap)
      }
    }
  }

  /** File-listed data read under the layout's canonical schema —
    * the survivor-read shape every pruning/rewrite verb uses:
    * basePath anchors partition discovery at the directory, and the
    * known `schema` ([[liveSchemaOf]]) means no read infers one; when
    * it is the sidecar's, added columns stay resolvable even when
    * every listed file predates them. */
  private def readFilesOf(spark: org.apache.spark.sql.SparkSession,
                          dir: String, files: Seq[String],
                          schema: org.apache.spark.sql.types.StructType,
                          dv: Map[String, String] = Map.empty,
                          srcCol: Option[String] = None)
      : DataFrame = {
    // srcCol (when asked for) comes off the parquet METADATA struct,
    // not input_file_name(): the metadata column is a real projected
    // value that survives the DV anti-join below under any physical
    // join choice, where input_file_name() is only valid inside the
    // scan's own stage
    def rd(sub: Seq[String]): DataFrame = {
      val r = spark.read.option("basePath", dir)
      val df = r.schema(schema).parquet(sub: _*)
      srcCol.fold(df)(c => df.withColumn(c, col("_metadata.file_path")))
    }
    val dvFiles = files.filter(dv.contains)
    if (dvFiles.isEmpty) rd(files)
    else {
      // deletion-vector-bearing files read WITH the parquet metadata
      // columns and anti-join their vectors away; DV-free files take
      // the plain path (no metadata stamping, no join) — the split
      // keeps the common case's plan untouched
      val plain = files.filterNot(dv.contains)
      val cleaned = antiJoinDv(spark, stampDvCols(rd(dvFiles)),
        dvFiles.map(dv), Map.empty)
      if (plain.isEmpty) cleaned else rd(plain).unionByName(cleaned)
    }
  }

  /** Append rows to a manifest-carrying directory and PATCH the
    * stored manifest with stats for only the newly written files —
    * the day-2 ingest path: at 100 TB the existing data is never
    * re-scanned to keep the skipping stats current (the delta pass
    * reads just the appended files). The new files are not
    * Z-clustered, so their [min,max] rectangles may be wide — they
    * simply never qualify for skipping, which is the conservative,
    * correct direction; when the [[q_layout_depth clustering-depth]]
    * trigger fires, a [[write]] or [[optimize]] rewrite
    * re-tightens the layout. The rows stage under `_graft_append_tmp`
    * and commit through [[commit]] (its OCC rollback and crash
    * windows).
    *
    * ALL validation happens BEFORE the append: a call that fails its
    * checks (non-integral key, keyCols not matching the stored
    * manifest) must leave the directory untouched — appending first
    * and then failing would leave data files the manifest does not
    * cover, and every later pruned read would silently drop their
    * rows.
    *
    * Hive-partitioned layouts append in place too: new rows route
    * into their `k=v` subdirectories via `partitionBy` (a plain
    * append would land partition-column-bearing files at the root —
    * a mixed layout partition discovery rejects), and the delta
    * stats read with `basePath` so partition-column manifest keys
    * keep real values.
    *
    * `mergeSchema = true` permits ADD COLUMN evolution: columns in
    * `df` beyond the stored schema are accepted, and the layout's
    * canonical schema sidecar ([[storedSchemaOf]]) is written so
    * every reader ([[readLayout]], [[scanPruned]], the rewrite
    * verbs) resolves the new columns deterministically — files that
    * predate a column surface null for it. Missing / retyped columns
    * stay hard errors (they would corrupt old rows); stored manifest
    * KEYS can never be new columns (old files would carry no stats
    * for them). The sidecar commits BEFORE the data append — the
    * conservative crash window: a sidecar without its data is a
    * visible all-null column until the re-run, whereas data without
    * its sidecar is rows whose column resolution silently varies by
    * footer sampling. */
  def appendWithManifest(df: DataFrame, path: String,
                         keyCols: Seq[String],
                         mergeSchema: Boolean = false,
                         expectedGen: Option[Long] = None,
                         operationLabel: String = "append"): Unit = {
    val spark = df.sparkSession
    requireSupportedKeys(df.schema, keyCols)
    val scope = scopeOf(spark, path, expectedGen, "append")
    // loading the manifest up front also fails fast when the dir was
    // never written with one. The key sets must match EXACTLY: a
    // strict subset would pass a one-sided check, append, and then
    // crash in unionByName — leaving files the manifest misses
    val storedKeys = scope.keys.toSet
    require(storedKeys == keyCols.toSet,
      s"keyCols ${keyCols.toSet.mkString(", ")} must equal the stored " +
        s"manifest's keys ${storedKeys.mkString(", ")} at $path")
    // full-schema compatibility, not just the key columns: a parquet
    // append with an extra / missing / retyped NON-key column would
    // succeed on disk, after which plain reads resolve to one file's
    // schema and rows from the others surface nulls or lose columns —
    // an inconsistency the manifest never detects because its stats
    // only cover keyCols. Exact name→type equality (nullability and
    // column order excluded: parquet resolves columns by name).
    val current = scope.dirFrame
    // partition-aware append: on a hive-partitioned layout the new
    // rows must route into their k=v subdirectories — a plain append
    // would land partition-column-bearing files at the ROOT, a mixed
    // layout partition discovery rejects on the next read
    val partCols = scope.partCols
    val newCols = requireWriteCompatible(df.schema, current.schema,
      partCols, path, allowNewColumns = mergeSchema)
    // a DROPPED name can never come back while old files still carry
    // its values — the re-add would resurface them as data instead of
    // nulls; optimize/compact free the name by materializing the drop
    val readded = newCols.map(_.name).toSet
      .intersect(droppedColsOf(scope.fs, path).toSet)
    require(readded.isEmpty,
      s"column(s) ${readded.mkString(", ")} were DROPPED from $path " +
        "and existing files still hold their old values — re-adding " +
        "would resurface them; optimize/compact first to materialize " +
        "the drop")
    // (a new column can never be a manifest KEY: keyCols must equal
    // the stored manifest's keys — checked above — and those are
    // data columns of every existing file)
    //
    // CHECK constraints enforce on the incoming batch BEFORE anything
    // commits (one extra batch-sized evaluation of `df` per stored
    // constraint — a nondeterministic source should be pinned by the
    // caller, as [[streamAppend]]'s micro-batches inherently are)
    requireBatchSatisfies(spark, path, df, "append")
    if (newCols.nonEmpty)
      writeStoredSchema(spark, path,
        org.apache.spark.sql.types.StructType(current.schema ++ newCols))
    commit(spark, scope, operationLabel,
      Seq(stageOf(scope, "_graft_append_tmp", partCols, df)), Nil)
  }

  // ───────── streaming ingest: exactly-once foreachBatch appends ─────────

  private def streamDir(dir: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s"$dir/_graft_stream")

  private def sha1Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def streamLedgerPath(dir: String,
                               queryId: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(streamDir(dir), s"${sha1Hex(queryId)}.json")

  /** A stream ledger's parsed state: the last COMPLETED batch (None
    * before any), and — when an append is in flight or crashed mid-
    * flight — the write-ahead INTENT (batch it was about to commit,
    * live generation at intent time). The intent is what makes every
    * crash window decidable on replay: the replayer scans commit
    * records only over `(intentGen, live]`, a span the intent proves
    * contains any commit the crashed attempt could have made. */
  private final case class StreamLedger(lastBatch: Option[Long],
                                        intent: Option[(Long, Long)])

  private val StreamLedgerRe =
    ("""\{"queryId":"([^"]*)","batchId":(-?\d+)""" +
      """(?:,"intentBatch":(-?\d+),"intentGen":(\d+))?\}""").r

  private def parseStreamLedger(txt: String,
                                where: String): (String, StreamLedger) =
    txt match {
      case StreamLedgerRe(q, b, ib, ig) =>
        (q, StreamLedger(Some(b.toLong).filter(_ >= 0L),
          Option(ib).map(i => (i.toLong, ig.toLong))))
      case _ => throw new IllegalStateException(
        s"corrupt stream ledger at $where (read '$txt') — remove it; " +
          "the next batch re-derives idempotence from the commit records")
    }

  private def streamLedgerOf(fs: org.apache.hadoop.fs.FileSystem,
                             dir: String, queryId: String): StreamLedger = {
    val p = streamLedgerPath(dir, queryId)
    if (!fs.exists(p)) StreamLedger(None, None)
    else {
      val in = fs.open(p)
      val txt = try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 256, false)
        out.toString("UTF-8").trim
      } finally in.close()
      val (q, ledger) = parseStreamLedger(txt, p.toString)
      require(q == queryId,
        s"stream ledger $p belongs to query '$q', not '$queryId' — " +
          "SHA-1 collision or corruption; remove it to recover")
      ledger
    }
  }

  private def writeStreamLedger(fs: org.apache.hadoop.fs.FileSystem,
                                dir: String, queryId: String,
                                lastBatch: Long,
                                intent: Option[(Long, Long)] = None): Unit = {
    fs.mkdirs(streamDir(dir))
    val p = streamLedgerPath(dir, queryId)
    val tmp = new org.apache.hadoop.fs.Path(streamDir(dir),
      s"_${sha1Hex(queryId)}.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(
      (s"""{"queryId":"${queryId.replace("\\", "\\\\").replace("\"", "\\\"")
        }","batchId":$lastBatch""" +
        intent.fold("") { case (ib, ig) =>
          s""","intentBatch":$ib,"intentGen":$ig""" } + "}")
        .getBytes("UTF-8"))
    finally out.close()
    require(fs.delete(p, false) || !fs.exists(p),
      s"failed to clear the old stream ledger at $p")
    require(fs.rename(tmp, p),
      s"failed to move the stream ledger into place at $p")
  }

  /** Every stream ledger on this layout: queryId, last committed
    * batch (−1 before any), and — when an append is in flight or
    * crashed mid-flight — the write-ahead intent (batch, generation
    * at intent time). The observability read for [[streamAppend]]'s
    * sinks: which stream owns which ledger, where each restart
    * resumes, and whether one died holding an undecided intent (the
    * state the refusal messages tell the operator to inspect). One
    * directory listing plus one tiny read per ledger; torn ledgers
    * fail loudly through the shared parse. */
  def streamLedgers(spark: org.apache.spark.sql.SparkSession, dir: String)
      : Seq[(String, Long, Option[Long], Option[Long])] = {
    requireEncodingStablePath(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = streamDir(dir)
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".json") &&
        !st.getPath.getName.startsWith("_"))
      .map { st =>
        val in = fs.open(st.getPath)
        val txt = try {
          val out = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, out, 256, false)
          out.toString("UTF-8").trim
        } finally in.close()
        // −1 = intent-only ledger (first batch in flight, none done)
        val (q, ledger) = parseStreamLedger(txt, st.getPath.toString)
        (q, ledger.lastBatch.getOrElse(-1L),
          ledger.intent.map(_._1), ledger.intent.map(_._2))
      }
      .sortBy(_._1)
  }

  /** The commit-record operation label a [[streamAppend]] of this
    * (query, batch) stamps — what makes the COMMIT itself carry the
    * idempotence token, Delta's `txn` action recovered from the
    * generation store. */
  private def streamOpLabel(queryId: String, batchId: Long): String =
    s"streamAppend:${sha1Hex(queryId).take(12)}:$batchId"

  /** EXACTLY-ONCE streaming ingest into a generation-tracked layout —
    * the `foreachBatch` body that completes the streaming loop the
    * CDC source ([[graft.sources.GraftSource]] `readStream`) opens:
    *
    * {{{
    *   stream.writeStream.foreachBatch(
    *     Layout.streamAppend(dir, keys, queryId = "ingest-docs") _
    *   ).option("checkpointLocation", ckpt).start()
    * }}}
    *
    * Idempotence is three-layered, and the COMMIT carries the token:
    * every batch's manifest commit stamps its (query, batch) into the
    * generation's commit record ([[streamOpLabel]] — Delta's `txn`
    * action); a per-query LEDGER sidecar caches the last committed
    * batch for the fast-path skip; and a WRITE-AHEAD INTENT lands in
    * that ledger just before each append (batch id + live generation
    * at intent time). A restart re-delivers the last batch
    * (Structured Streaming's contract); the replay is skipped by the
    * ledger, or — when the crash hit between the manifest commit and
    * the ledger write — detected by scanning the commit records of
    * exactly the generations committed SINCE THE INTENT (usually one)
    * for the token, which heals the ledger and skips. The intent is
    * what makes the scan bounded AND complete: it covers the first
    * batch of a brand-new query (no prior ledger to anchor on) and
    * the case where concurrent writers commit between the crash and
    * the replay — the two escapes a live-generation-only probe has.
    * A RECORDLESS generation inside the intent span is refused loudly
    * (the rename→record crash window: the commit could be this
    * batch's or a concurrent writer's, already loud for TIMESTAMP AS
    * OF) — never guessed into a duplicate or a drop.
    *
    * Generation tracking is REQUIRED: the commit records are what
    * make the token atomic with the commit. Empty batches advance
    * the ledger without committing a generation. Appends follow
    * [[appendWithManifest]]'s full discipline (stats delta, schema
    * compatibility, partition routing); concurrent DISTINCT streams
    * interleave safely — a batch that loses the commit race to another
    * writer rolls back and re-appends under [[withGenerationRetry]],
    * and their tokens live in separate records and ledgers. */
  def streamAppend(dir: String, keys: Seq[String], queryId: String,
                   mergeSchema: Boolean = false)
                  (df: DataFrame, batchId: Long): Unit = {
    require(queryId.nonEmpty, "streamAppend needs a stable queryId — " +
      "it names the ledger a restart consults")
    require(batchId >= 0L, s"negative batchId $batchId")
    val spark = df.sparkSession
    requireEncodingStablePath(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(generationsEnabled(fs, dir),
      s"streamAppend needs a generation-tracked layout at $dir " +
        "(enableGenerations first) — the commit records are what make " +
        "batch idempotence atomic with the commit")
    val ledger = streamLedgerOf(fs, dir, queryId)
    if (ledger.lastBatch.exists(batchId <= _)) return // replayed, ledgered
    val g = liveGenOf(fs, dir)
    // replay with a pending INTENT for this batch: the crashed
    // attempt reached the append call, so any commit it made lives in
    // (intentGen, live] — scan THOSE records (usually zero or one)
    // for the token. Token found → the commit happened, heal the
    // ledger and skip. A RECORDLESS generation in the span → the
    // rename→record crash window, undecidable (the recordless commit
    // could be this batch's or a concurrent writer's) — refuse by
    // name, never guess into a duplicate or a drop. All recorded,
    // none ours → the attempt died before its commit; append below.
    ledger.intent match {
      case Some((ib, ig)) if ib == batchId =>
        var gen = g
        var committed = false
        while (gen > ig && !committed) {
          commitInfoAt(fs, dir, gen) match {
            case Some((_, op)) if op == streamOpLabel(queryId, batchId) =>
              committed = true
            case Some(_) => gen -= 1L
            case None => throw new IllegalStateException(
              s"generation $gen of $dir carries no commit record while " +
                s"batch $batchId of '$queryId' replays with an intent " +
                s"at generation $ig — a commit crashed between the " +
                "manifest rename and the record write, and the engine " +
                "cannot decide whether that commit WAS this batch. " +
                s"Inspect describeHistory(gen=$gen) against the " +
                "batch's rows; then either advance the ledger by hand " +
                "(it was) or remove the generation's manifest from " +
                "_graft_history and re-run (it was not)")
          }
        }
        if (committed) {
          writeStreamLedger(fs, dir, queryId, batchId)
          return
        }
      case Some((ib, _)) =>
        // an intent for a DIFFERENT batch than the replay delivers
        // cannot arise from the protocol (the checkpoint only
        // advances past a finalized ledger) — only manual meddling
        // or a foreign checkpoint reaches here
        throw new IllegalStateException(
          s"stream ledger of '$queryId' at $dir holds an intent for " +
            s"batch $ib while batch $batchId replays — the ledger and " +
            "the query's checkpoint disagree; remove the ledger only " +
            "after deciding batch " + ib + " via describeHistory")
      case None =>
        // no intent: under the intent protocol this batch never
        // reached the append call. Two pre-intent (ledger-format
        // migration) windows still resolve here: a LIVE record
        // carrying this batch's token heals the ledger exactly as
        // before, and a recordless live generation refuses — some
        // writer crashed in the rename→record window and the store
        // needs the same repair generationAsOf demands, so never
        // stack a commit on top
        commitInfoAt(fs, dir, g) match {
          case Some((_, op)) if op == streamOpLabel(queryId, batchId) =>
            writeStreamLedger(fs, dir, queryId, batchId)
            return
          case None if g > 0L =>
            throw new IllegalStateException(
              s"generation $g of $dir carries no commit record — a " +
                "commit crashed between the manifest rename and the " +
                "record write. Decide it via describeHistory, restore " +
                "the record (or remove the generation's manifest from " +
                s"_graft_history), then re-run batch $batchId of " +
                s"'$queryId'")
          case _ => ()
        }
    }
    if (df.isEmpty) {
      // nothing to commit; the ledger alone advances (intent cleared)
      // so the replay fast path stays exact
      writeStreamLedger(fs, dir, queryId, batchId)
      return
    }
    // write-ahead INTENT before the commit — what makes every crash
    // window of the commit+ledger pair decidable on replay, including
    // the FIRST batch (no prior ledger) and the case where concurrent
    // writers commit between the crash and the replay
    writeStreamLedger(fs, dir, queryId, ledger.lastBatch.getOrElse(-1L),
      intent = Some((batchId, g)))
    withGenerationRetry(spark, dir)(gen => appendWithManifest(df, dir, keys,
      mergeSchema, Some(gen), operationLabel = streamOpLabel(queryId, batchId)))
    writeStreamLedger(fs, dir, queryId, batchId)
  }

  /** Two-key Z-ordered [[write]] with a stored manifest — kept as a
    * forward because the perfbench harness, which is versioned with
    * the benchmark rather than the library, still calls it. */
  def writeZOrderedWithManifest(df: DataFrame, x: Column, y: Column,
                                path: String, files: Int,
                                keyCols: Seq[String]): Unit =
    write(df, path, Seq(x, y), files, manifestKeys = keyCols)

  /** Load the stored skipping manifest of a
    * [[write]] directory: the frame of its cached
    * [[ManifestSnapshot]]. When the snapshot holds its rows on the
    * driver (manifests up to 8 MiB), a filter or projection over it
    * collects without a job. */
  def loadManifest(spark: org.apache.spark.sql.SparkSession,
                   path: String): DataFrame =
    liveSnapshot(spark, path).frame(spark)

  /** The stored manifest's key columns — the planning input surfaces
    * that must FOLLOW the layout's existing keys (the SQL writer
    * verbs, external ingest tools) read instead of asking the user to
    * re-state them. */
  def storedKeys(spark: org.apache.spark.sql.SparkSession,
                 dir: String): Seq[String] =
    manifestKeysOf(loadManifest(spark, dir).schema)

  /** Decode a box's bounds against the TYPE the manifest stored for
    * its key: long stats take [[KeyBox]]'s long bounds verbatim;
    * date / timestamp / string stats cast [[TypedKeyBox]]'s string
    * bounds to the stat type (constant-folded to typed literals, so
    * residual predicates still push down to the parquet scans). A
    * box whose form does not match the stored stat type is a loud
    * error — long bounds against a date column (or vice versa) would
    * otherwise compare as null and skip every file. Shared by the
    * manifest CONSUMERS ([[scanPruned]], [[deleteWhere]]) so the
    * read and delete sides cannot drift on bound semantics. */
  private def decodeBounds(mSchema: org.apache.spark.sql.types.StructType,
                           b: PruneBox): (Column, Column) = {
    def statType(c: String): org.apache.spark.sql.types.DataType = {
      require(mSchema.fieldNames.contains(s"min_$c"),
        s"manifest has no stats for key $c (stored keys: " +
          mSchema.fieldNames.collect {
            case f if f.startsWith("min_") => f.stripPrefix("min_")
          }.mkString(", ") + ")")
      mSchema(s"min_$c").dataType
    }
    b match {
      case KeyBox(c, lo, hi) =>
        require(statType(c) == org.apache.spark.sql.types.LongType,
          s"KeyBox on $c has long bounds but the manifest stores " +
            s"${statType(c)} stats — use TypedKeyBox")
        (lit(lo), lit(hi))
      case TypedKeyBox(c, lo, hi) =>
        val t = statType(c)
        require(isTypedKey(t),
          s"TypedKeyBox on $c needs date/timestamp/string stats but the " +
            s"manifest stores $t — use KeyBox with long bounds")
        (lit(lo).cast(t), lit(hi).cast(t))
      case KeySetBox(c, _) =>
        throw new IllegalArgumentException(
          s"KeySetBox on $c has no [lo, hi] interval — internal misuse")
      case TypedKeySetBox(c, _) =>
        throw new IllegalArgumentException(
          s"TypedKeySetBox on $c has no [lo, hi] interval — internal misuse")
      case TypedBoundsBox(c, _, _) =>
        throw new IllegalArgumentException(
          s"TypedBoundsBox on $c may be half-open — internal misuse of " +
            "the closed-interval decoder")
      case TsMicrosBox(c, _, _) =>
        throw new IllegalArgumentException(
          s"TsMicrosBox on $c may be half-open — internal misuse of " +
            "the closed-interval decoder")
      case TsMicrosSetBox(c, _) =>
        throw new IllegalArgumentException(
          s"TsMicrosSetBox on $c has no [lo, hi] interval — internal misuse")
    }
  }

  /** The stored stat type of a TYPED key, loudly refusing integral
    * stats — shared by the typed set/bounds box consumers. */
  private def typedStatOf(mSchema: org.apache.spark.sql.types.StructType,
                          c: String): org.apache.spark.sql.types.DataType = {
    require(mSchema.fieldNames.contains(s"min_$c"),
      s"manifest has no stats for key $c")
    val t = mSchema(s"min_$c").dataType
    require(isTypedKey(t),
      s"typed box on $c needs date/timestamp/string stats but the " +
        s"manifest stores $t — use KeyBox/KeySetBox with long values")
    t
  }

  /** Per-box SKIP predicate over the manifest's stat columns — true
    * when the file PROVABLY holds no matching row. Interval boxes
    * skip on `max < lo ∨ min > hi`; a set box skips unless SOME set
    * element falls inside `[min, max]` (the values ride the plan as
    * one sorted array literal probed per manifest row — file-count ×
    * set-size work on the stats frame, never the data). Null stats
    * mean an all-null key, and a null key never matches a value
    * predicate, so null resolves to skip. When the manifest carries a
    * `bloom_<k>` bitset for the set box's key, a second clause skips
    * files whose bloom misses EVERY set value — a bloom miss is a
    * proof of absence, so this stays exact; it is what makes point
    * lookups prune on keys the clustering does not cover (every
    * file's [min,max] spans an unclustered key, but most files'
    * blooms miss any given value). A null bloom (pre-bloom manifest
    * rows) conservatively never skips. ONE source for every consumer
    * (scanPruned, deleteWhere, countWhere, joinPruned, upsertByKey) —
    * the skip semantics cannot fork. */
  private def skipExprOf(mSchema: org.apache.spark.sql.types.StructType,
                         b: PruneBox): Column = b match {
    case KeySetBox(c, vs) =>
      require(mSchema.fieldNames.contains(s"min_$c"),
        s"manifest has no stats for key $c")
      require(mSchema(s"min_$c").dataType == org.apache.spark.sql.types.LongType,
        s"KeySetBox on $c has long values but the manifest stores " +
          s"${mSchema(s"min_$c").dataType} stats")
      val set = lit(vs.sorted.toArray)
      val rangeSkip = coalesce(
        !exists(set, v => v.between(col(s"min_$c"), col(s"max_$c"))),
        lit(true))
      if (!mSchema.fieldNames.contains(s"bloom_$c")) rangeSkip
      else rangeSkip || coalesce(
        !exists(set, v => Sketches.bloomContains(col(s"bloom_$c"),
          pmod(v, lit(Sketches.P)), BloomBits, 4)),
        lit(false))
    case TypedKeySetBox(c, vs) =>
      // typed sets skip on range stats only (blooms hash long keys);
      // values cast once into a typed array literal, probed per
      // manifest row — file-count × set-size work on stats, never data
      val t = typedStatOf(mSchema, c)
      val set = lit(vs.distinct.sorted.toArray)
        .cast(org.apache.spark.sql.types.ArrayType(t))
      coalesce(
        !exists(set, v => v.between(col(s"min_$c"), col(s"max_$c"))),
        lit(true))
    case TypedBoundsBox(c, lo, hi) =>
      val t = typedStatOf(mSchema, c)
      val sides = lo.map(v => col(s"max_$c") < lit(v).cast(t)).toSeq ++
        hi.map(v => col(s"min_$c") > lit(v).cast(t))
      coalesce(sides.reduce(_ || _), lit(true))
    case TsMicrosBox(c, lo, hi) =>
      // instant-to-instant comparison — no string render, no session
      // zone in the loop; timestamp_micros builds the exact literal
      require(mSchema.fieldNames.contains(s"min_$c"),
        s"manifest has no stats for key $c")
      require(mSchema(s"min_$c").dataType ==
          org.apache.spark.sql.types.TimestampType,
        s"TsMicrosBox on $c needs timestamp stats but the manifest " +
          s"stores ${mSchema(s"min_$c").dataType}")
      val sides = lo.map(v => col(s"max_$c") < timestamp_micros(lit(v)))
        .toSeq ++ hi.map(v => col(s"min_$c") > timestamp_micros(lit(v)))
      coalesce(sides.reduce(_ || _), lit(true))
    case TsMicrosSetBox(c, vs) =>
      // one stats probe per set element (sets are literal-list-sized,
      // never data-sized); null stats mean an all-null key file, which
      // no non-null IN element can match — skip is exact there
      require(mSchema.fieldNames.contains(s"min_$c"),
        s"manifest has no stats for key $c")
      require(mSchema(s"min_$c").dataType ==
          org.apache.spark.sql.types.TimestampType,
        s"TsMicrosSetBox on $c needs timestamp stats but the manifest " +
          s"stores ${mSchema(s"min_$c").dataType}")
      coalesce(!vs.distinct.sorted.map(v => timestamp_micros(lit(v))
          .between(col(s"min_$c"), col(s"max_$c"))).reduce(_ || _),
        lit(true))
    case _ =>
      val (lo, hi) = decodeBounds(mSchema, b)
      coalesce(col(s"max_${b.column}") < lo || col(s"min_${b.column}") > hi,
        lit(true))
  }

  /** Per-box residual predicate on DATA columns — the exact filter
    * surviving files re-apply, which is what makes every pruning
    * consumer equal its full-scan twin by construction. */
  private def residualExprOf(mSchema: org.apache.spark.sql.types.StructType,
                             b: PruneBox): Column = b match {
    case KeySetBox(c, vs) => col(c).isin(vs: _*)
    case TypedKeySetBox(c, vs) =>
      // one typed array literal probed per row (codegen'd contains) —
      // a null key yields null, which the filter drops, matching IN
      val t = typedStatOf(mSchema, c)
      array_contains(lit(vs.distinct.sorted.toArray)
        .cast(org.apache.spark.sql.types.ArrayType(t)), col(c))
    case TypedBoundsBox(c, lo, hi) =>
      val t = typedStatOf(mSchema, c)
      (lo.map(v => col(c) >= lit(v).cast(t)).toSeq ++
        hi.map(v => col(c) <= lit(v).cast(t))).reduce(_ && _)
    case TsMicrosBox(c, lo, hi) =>
      (lo.map(v => col(c) >= timestamp_micros(lit(v))).toSeq ++
        hi.map(v => col(c) <= timestamp_micros(lit(v)))).reduce(_ && _)
    case TsMicrosSetBox(c, vs) =>
      // per-element equality OR (codegen'd); a null key yields null,
      // which the filter drops — exactly IN's three-valued semantics
      vs.distinct.sorted.map(v => col(c) === timestamp_micros(lit(v)))
        .reduce(_ || _)
    case _ =>
      val (lo, hi) = decodeBounds(mSchema, b)
      col(b.column).between(lo, hi)
  }

  /** The consumer of the skipping manifest: read `dir` with files
    * whose stats PROVABLY miss the box predicate dropped BEFORE
    * `spark.read` ever opens them. The manifest is the one STORED
    * with the data, served by the live [[ManifestSnapshot]]: a fresh
    * session prunes from a manifest-sized read, and a repeat read of
    * a version whose manifest rows are held reads none. For each box,
    * a file is skippable when `max < lo OR min > hi`; null stats mean
    * every key value in the file is null (min/max ignore nulls), and a
    * null key can never satisfy a value interval, so null-stats files
    * skip too.
    * Pruning is conservative the other way — surviving files are
    * re-filtered with the exact residual predicate, so the result
    * EQUALS the full-scan filter by construction.
    *
    * Driver work is one manifest-sized collect of surviving file
    * names (bounded like the manifest itself: one string per file) —
    * exactly what Delta/Iceberg planning does with their manifests.
    * At 100 TB with a selective box over a Z-ordered layout this is
    * the single biggest lever a reader has: I/O drops by the fraction
    * of files whose [min,max] rectangles miss the box.
    *
    * `verifyCoverage` (default on) checks that every data file in
    * `dir` has a manifest row before trusting the manifest: a file
    * appended OUT OF BAND (any writer other than
    * [[appendWithManifest]]) has no stats, would never survive
    * pruning, and its rows would silently vanish from the result —
    * the one way this API can violate its pruned ≡ full-scan
    * contract. The check ([[requireManifestCovers]]) is a directory
    * LISTING plus a schema-pinned probe of ONLY the uncovered
    * suspects (zero-row files are legitimately manifest-less and
    * pass; covered files are never opened); at very large file
    * counts a pipeline that maintains the manifest exclusively
    * through the two writers here may disable it. */
  def scanPruned(spark: org.apache.spark.sql.SparkSession, dir: String,
                 boxes: Seq[PruneBox],
                 verifyCoverage: Boolean = true): DataFrame = {
    // guard FIRST: the loud path rejection must precede the manifest
    // read (whose own missing-dir error would otherwise mask it)
    requireEncodingStablePath(dir)
    require(boxes.nonEmpty, "scanPruned needs at least one key box")
    val manifest = loadManifest(spark, dir)
    val mSchema = manifest.schema
    val skip = boxes.map(skipExprOf(mSchema, _)).reduce(_ || _)
    val residual = boxes.map(residualExprOf(mSchema, _)).reduce(_ && _)
    // canonical-schema discipline: on an evolved layout the pruned
    // read must resolve added columns even when every SURVIVOR
    // predates them — otherwise the result schema would change with
    // the predicate
    val schema = liveSchemaOf(spark, dir)
    lazy val dirFrame = spark.read.schema(schema).parquet(dir)
    // ONE manifest pass serves the coverage guard's known set and the
    // survivors (a collect over the snapshot frame); a null skip
    // verdict drops the file, as a filter on it would
    lazy val verdicts = manifest
      .select(col("file"), dvPathExprOf(mSchema).as("dv_path"),
        coalesce(skip, lit(true)).as("skip"))
      .collect()
    if (verifyCoverage)
      // raw-string comparison is correct: input_file_name() and
      // inputFiles return the same (encoded) spelling on Spark 4.x.
      // The known-set argument stays an inline expression: by-name,
      // it is only forced AFTER the guard's path checks
      requireManifestCovers(spark, dirFrame,
        verdicts.map(_.getString(0)).toSet, dir,
        "pruning would silently drop rows")
    val survivorRows = verdicts.filterNot(_.getBoolean(2))
    val survivors = survivorRows.map(_.getString(0))
    if (survivors.isEmpty)
      // no file can contain a match; keep the schema (and exactness)
      // without opening any row group — dirFrame is reused from the
      // coverage check when it ran
      dirFrame.where(lit(false))
    else
      // basePath anchors partition discovery at the DIRECTORY even
      // though only survivor files are listed: on a hive-partitioned
      // dataset the `k=v` path columns still materialize, so pruned ≡
      // full scan holds there too (and a manifest keyed on a partition
      // column subsumes partition pruning — whole partitions drop, and
      // the range stats prune beyond what directory names alone can).
      // On a flat directory the option is a no-op. Deletion vectors
      // (when any survivor carries one) anti-join away inside
      // readFilesOf — DV-free survivors keep the plain plan.
      readFilesOf(spark, dir, survivors.toIndexedSeq, schema,
          dv = survivorRows.collect {
            case r if !r.isNullAt(1) => r.getString(0) -> r.getString(1)
          }.toMap)
        .where(residual)
  }

  /** Mirror-move every non-aux leaf of a staging `tmp` tree into
    * `destRoot`, preserving partition-relative paths, and record each
    * moved file in `moved` as it lands — [[commit]]'s step 3, whose
    * rollback drops exactly those. `_`/`.`-prefixed names stay behind:
    * they are writer metadata (`_SUCCESS`), invisible to data reads
    * either way. */
  private def moveTreeInto(fs: org.apache.hadoop.fs.FileSystem,
                           tmp: Path, destRoot: Path, verb: String,
                           moved: scala.collection.mutable.Buffer[Path]): Unit = {
    def isAux(n: String) = n.startsWith("_") || n.startsWith(".")
    def walk(cur: Path, destDir: Path): Unit =
      for (st <- fs.listStatus(cur)) {
        val n = st.getPath.getName
        if (st.isDirectory) {
          if (!isAux(n)) walk(st.getPath, new Path(destDir, n))
        } else if (!isAux(n)) {
          fs.mkdirs(destDir)
          val dest = new Path(destDir, n)
          require(!fs.exists(dest),
            s"$verb: target $dest already exists")
          require(fs.rename(st.getPath, dest),
            s"$verb: failed to move $n into $destDir")
          moved += dest
        }
      }
    walk(tmp, destRoot)
  }

  // ───────── deletion vectors: row-level delete without rewrite ─────────
  //
  // The Delta/Iceberg "merge-on-read" delete granularity: instead of
  // rewriting a partially-matching file, record the POSITIONS of its
  // deleted rows in a sidecar parquet store under `_graft_dv/` and
  // have every reader anti-join them away via the parquet metadata
  // columns (`_metadata.file_path`, `_metadata.row_index`). At 100 TB
  // this is the difference between a GDPR point-delete costing a
  // full-file rewrite per touched file (copy-on-write — [[deleteWhere]])
  // and costing ∝ the matched rows (merge-on-read — [[deleteWhereDv]]);
  // the read-side tax is one churn-sized anti-join over ONLY the
  // vectorized files, which [[optimize]]/[[optimizeSelective]] clears
  // by materializing the vectors away (Delta's PURGE).
  //
  // Representation: the manifest gains two nullable columns —
  // `dv_path` (the DV store directory holding this file's deleted
  // positions; null = no vector) and `dv_rows` (their count). A DV
  // store is one parquet directory per committing verb with rows
  // `(file STRING, idx BIGINT)`: `file` in `_metadata.file_path`'s
  // spelling ([[metaFormOf]] — the manifest's `inputFiles` spelling
  // differs: `file:///…` vs `file:/…`), `idx` the 0-based physical
  // row position. A store holds the FULL merged deleted set for every
  // file it covers, so each manifest row references exactly ONE store.
  // Stores are immutable and one-shot (a re-delete on a vectorized
  // file writes a NEW merged store and repoints `dv_path`), which
  // gives three load-bearing invariants:
  //
  //  1. Under a fixed file name the deleted set only ever GROWS
  //     (shrinking happens only via rewrite, which renames) — so a
  //     reader may anti-join the UNION of the stores its manifest
  //     rows reference: a stale store's positions for some other file
  //     are a subset of that file's current ones.
  //  2. Per-file stats stay PHYSICAL (min/max/nulls/n_rows/bloom are
  //     never recomputed on a DV commit): pruning proofs remain
  //     conservative-correct — a file provably holding no matching
  //     physical row holds no matching live row — while exact
  //     metadata ANSWERS (countWhere / minMaxFromManifest) demote
  //     vectorized files to churn-sized scans.
  //  3. Snapshot reads need no special casing: each generation's
  //     manifest names the `dv_path` that was live THEN, and stores
  //     survive until [[vacuumGenerations]] proves no retained
  //     manifest references them. A retired file's positions keep
  //     matching because retirement preserves content — the read side
  //     REMAPS the store's recorded path onto the resolved one.

  /** Internal helper-column names the DV read path stamps; loudly
    * refused as data column names where stamped. */
  private val DvFileCol = "__graft_dv_file"
  private val DvIdxCol = "__graft_dv_idx"

  /** Broadcast the DV side of the read anti-join below this many
    * positions (~16 B/row → ≤64 MiB); above it, let AQE pick. */
  private val DvBroadcastRows = 4L * 1000L * 1000L

  private def dvRoot(dir: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s"$dir/_graft_dv")

  private def hasDvCols(
      mSchema: org.apache.spark.sql.types.StructType): Boolean =
    mSchema.fieldNames.contains("dv_path")

  /** The manifest's DV columns as expressions that also resolve on a
    * pre-DV manifest (null path / zero rows). */
  private def dvPathExprOf(
      mSchema: org.apache.spark.sql.types.StructType): Column =
    if (hasDvCols(mSchema)) col("dv_path") else lit(null).cast("string")

  private def dvRowsExprOf(
      mSchema: org.apache.spark.sql.types.StructType): Column =
    if (hasDvCols(mSchema)) coalesce(col("dv_rows"), lit(0L)) else lit(0L)

  /** Widen a manifest frame with null DV columns when missing — the
    * [[widenWithNullCounts]] discipline for the DV format. */
  private def widenWithDvCols(m: DataFrame): DataFrame = {
    val a =
      if (m.columns.contains("dv_path")) m
      else m.withColumn("dv_path", lit(null).cast("string"))
    if (a.columns.contains("dv_rows")) a
    else a.withColumn("dv_rows", lit(null).cast("long"))
  }

  /** Widen BOTH patch sides when EITHER carries DV columns, so the
    * manifest-patch union of a DV-bearing layout cannot fail on its
    * delta stats (fresh rewrite outputs, never vectorized). */
  private def alignDvCols(kept: DataFrame,
                          delta: DataFrame): (DataFrame, DataFrame) =
    if (kept.columns.contains("dv_path") ||
        delta.columns.contains("dv_path"))
      (widenWithDvCols(kept), widenWithDvCols(delta))
    else (kept, delta)

  /** `_metadata.file_path`'s spelling of a manifest file URI. */
  private def metaFormOf(uri: String): String =
    new org.apache.hadoop.fs.Path(new java.net.URI(uri)).toString

  /** file → dv_path for exactly `files` (empty on a pre-DV manifest)
    * — the per-read DV lookup consumers pass to [[readFilesOf]].
    * Driver work is one manifest-sized collect, the standard
    * planning bound. */
  private def dvMapOf(manifest: DataFrame,
                      files: Iterable[String]): Map[String, String] = {
    if (!hasDvCols(manifest.schema)) Map.empty
    else {
      val want = files.toSet
      manifest.filter(col("dv_path").isNotNull)
        .select("file", "dv_path").collect()
        .collect { case r if want(r.getString(0)) =>
          r.getString(0) -> r.getString(1) }
        .toMap
    }
  }

  /** The `(file, idx)` rows of DV stores, read under the fixed store
    * schema so no read infers one. */
  private def readDvStores(spark: org.apache.spark.sql.SparkSession,
                           paths: Seq[String]): DataFrame =
    spark.read.schema("file STRING, idx BIGINT").parquet(paths.distinct: _*)

  /** Stamp the parquet metadata identity columns the DV anti-join
    * keys on. The frame must come straight off a parquet file-source
    * read (the `_metadata` struct exists nowhere else). */
  private def stampDvCols(df: DataFrame): DataFrame = {
    require(!df.columns.contains(DvFileCol) &&
        !df.columns.contains(DvIdxCol),
      s"the layout carries a column named $DvFileCol/$DvIdxCol — " +
        "these names are reserved by the deletion-vector read path")
    df.withColumn(DvFileCol, col("_metadata.file_path"))
      .withColumn(DvIdxCol, col("_metadata.row_index"))
  }

  /** Drop every row of `data` (stamped via [[stampDvCols]]) whose
    * (file, position) appears in any of the `dvPaths` stores, then
    * drop the helper columns. Reading the UNION of the referenced
    * stores is exact by invariant 1 above (per-file deleted sets only
    * grow under a fixed name, so a stale store's positions are a
    * subset). `remap` rewrites store-recorded paths onto resolved
    * ones (retired/restored files). The broadcast is HINTED only when
    * the caller proved the position count ≤ [[DvBroadcastRows]];
    * otherwise the stores' own parquet size statistics decide (AQE:
    * churn-sized vectors auto-broadcast, a pathological one falls
    * back to a shuffled join instead of flattening the driver). */
  private def antiJoinDv(spark: org.apache.spark.sql.SparkSession,
                         data: DataFrame, dvPaths: Seq[String],
                         remap: Map[String, String],
                         totalDvRows: Long = 0L): DataFrame = {
    val raw = readDvStores(spark, dvPaths)
    val mapped =
      if (remap.isEmpty) raw
      else raw.withColumn("file",
        coalesce(element_at(typedLit(remap), col("file")), col("file")))
    val dv =
      if (totalDvRows > 0L && totalDvRows <= DvBroadcastRows)
        broadcast(mapped)
      else mapped
    data.join(dv,
        data(DvFileCol) === dv("file") && data(DvIdxCol) === dv("idx"),
        "left_anti")
      .drop(DvFileCol, DvIdxCol)
  }

  /** Copy the deletion-vector positions of `triples` — (source file
    * URI, its DV store, destination file URI) — into ONE new store
    * under `destRoot`, remapping each recorded path onto its
    * destination's spelling. The restore/clone DV carrier: a
    * restored (copied-back) or cloned file keeps its content, so its
    * positions stay valid — only the recorded path moves. Returns
    * the new store's qualified path. */
  private def rewriteDvStore(spark: org.apache.spark.sql.SparkSession,
                             destFs: org.apache.hadoop.fs.FileSystem,
                             destRoot: org.apache.hadoop.fs.Path,
                             label: String,
                             triples: Seq[(String, String, String)])
      : String = {
    import spark.implicits._
    val remap = triples.map { case (o, _, n) =>
      metaFormOf(o) -> metaFormOf(n) }.toMap
    val wanted = remap.keys.toSeq.toDF("file")
    val store = new org.apache.hadoop.fs.Path(destRoot,
      s"dv-$label-${java.util.UUID.randomUUID().toString.take(8)}")
    readDvStores(spark, triples.map(_._2))
      .join(broadcast(wanted), Seq("file"), "left_semi")
      .withColumn("file",
        coalesce(element_at(typedLit(remap), col("file")), col("file")))
      .write.parquet(store.toString)
    destFs.makeQualified(store).toString
  }

  /** One live manifest row's standing against a box conjunction —
    * what every box-driven DML verb classifies by. `covered` PROVES
    * every row matches, so the file can drop unopened: each box's range
    * holds the file's `[min, max]` AND its `nulls_<k>` count is 0 (min
    * and max ignore nulls, so without the count a range-covered file
    * could still hold null-key rows a value predicate must not touch).
    * Any null verdict — null stats, a manifest predating the null
    * counts ([[nullsColOf]]) — is false, and a sparse or half-open box
    * is never range-proved. `disjoint` is [[scanPruned]]'s skip
    * predicate. The proofs stay valid on a vectorized file: all
    * physical rows match, so the live subset does too. */
  private final case class Verdict(file: String, rows: Long,
                                   dvPath: Option[String], dvRows: Long,
                                   covered: Boolean, disjoint: Boolean) {
    /** Physical rows minus the deletion vector's. */
    def liveRows: Long = rows - dvRows
    /** Neither proof holds: the file may hold a match. */
    def partial: Boolean = !covered && !disjoint
  }

  /** Every live manifest row's [[Verdict]] — one manifest-sized
    * collect, the same bound as [[scanPruned]] planning. */
  private def verdictsOf(scope: Scope, boxes: Seq[PruneBox]): Seq[Verdict] = {
    val mSchema = scope.mSchema
    val covered = boxes.map {
      case _: KeySetBox | _: TypedKeySetBox | _: TypedBoundsBox | _: TsMicrosBox | _: TsMicrosSetBox =>
        lit(false)
      case b =>
        val (lo, hi) = decodeBounds(mSchema, b)
        col(s"min_${b.column}") >= lo && col(s"max_${b.column}") <= hi &&
          nullsColOf(mSchema, b.column) === 0L
    }.reduce(_ && _)
    val disjoint = boxes.map(skipExprOf(mSchema, _)).reduce(_ || _)
    scope.manifest.select(col("file"), col("n_rows"),
        dvPathExprOf(mSchema), dvRowsExprOf(mSchema),
        coalesce(covered, lit(false)), disjoint)
      .collect().toSeq.map(r => Verdict(r.getString(0), r.getLong(1),
        Option(r.getString(2)), r.getLong(3), r.getBoolean(4), r.getBoolean(5)))
  }

  /** file → deletion-vector store of the vectorized `verdicts`. */
  private def dvOf(verdicts: Seq[Verdict]): Map[String, String] =
    verdicts.flatMap(v => v.dvPath.map(v.file -> _)).toMap

  /** Per-file outcome counts of a [[deleteWhereDv]] call.
    * `rowsDeleted` counts live rows only (covered files' physical
    * rows minus their already-deleted positions, plus the new
    * positions recorded). */
  final case class DeleteDvStats(filesDropped: Int, filesVectorized: Int,
                                 rowsDeleted: Long)

  /** [[deleteWhere]]'s merge-on-read twin: delete every row matching
    * ALL `boxes` by recording DELETION VECTORS instead of rewriting
    * partially-matching files. Classification is [[deleteWhere]]'s,
    * off the same stat proofs: COVERED files (every box proves full
    * coverage and zero null keys) drop whole without being opened;
    * DISJOINT files are untouched, their manifest rows kept verbatim;
    * the PARTIAL remainder — where the copy-on-write verb pays a
    * full-file rewrite — is instead read once (existing vectors
    * excluded first, so re-deleting an already-deleted band is a
    * no-op), the matching rows' positions merged with each file's
    * existing vector into ONE new DV store, and the manifest rows
    * repointed. Files whose predicate matches no live row keep their
    * row (and old vector) verbatim.
    *
    * Cost model at 100 TB: the rewrite I/O disappears — the verb
    * writes positions (∝ matched rows), never data; reads pay a
    * churn-sized anti-join on the vectorized files until an
    * [[optimize]]/[[optimizeSelective]] materializes the vectors
    * away. Null-key rows survive (three-valued `DELETE WHERE`), and
    * re-running the same call is a no-op by construction.
    *
    * Crash windows, loud not silent: the DV store is written BEFORE
    * [[commit]] retires the covered files and patches the manifest —
    * an orphaned store (a crash or a lost OCC race before the patch)
    * is referenced by nothing, invisible to every read, and reaped by
    * [[vacuumGenerations]]; the other windows are [[commit]]'s. On an untracked
    * layout the superseded stores (old vectors of re-deleted files)
    * are deleted once unreferenced; generation-tracked layouts keep
    * them for snapshot reads until vacuum proves them unreferenced. */
  def deleteWhereDv(spark: org.apache.spark.sql.SparkSession, dir: String,
                    boxes: Seq[PruneBox],
                    verifyCoverage: Boolean = true,
                    expectedGen: Option[Long] = None): DeleteDvStats = {
    require(boxes.nonEmpty, "deleteWhereDv needs at least one key box")
    val scope = scopeOf(spark, dir, expectedGen, "deleteWhereDv")
    val (fs, manifest, mSchema) = (scope.fs, scope.manifest, scope.mSchema)
    require(scope.keys.nonEmpty, s"$dir carries no manifest keys")
    // the covered/disjoint proofs are deleteWhere's ([[verdictsOf]]).
    // Covered stays correct on an already-vectorized file: all physical
    // rows match, so dropping the file drops its live subset
    val verdicts = verdictsOf(scope, boxes)
    val dropFiles = verdicts.filter(_.covered)
    val candidates = verdicts.filter(_.partial)
    val schema = scope.schema
    if (verifyCoverage)
      scope.requireCovered(verdicts.map(_.file).toSet,
        "their matching rows would survive the delete")
    if (dropFiles.isEmpty && candidates.isEmpty)
      return DeleteDvStats(0, 0, 0L)
    // NEW deleted positions: the candidates' LIVE rows matching the
    // predicate — existing vectors excluded first, which is what
    // makes the verb idempotent and keeps merged counts exact
    var newDvDir: Option[String] = None
    var touched = Map.empty[String, Long] // manifest file → merged dv_rows
    var newPositions = 0L
    if (candidates.nonEmpty) {
      val pred = boxes.map(residualExprOf(mSchema, _)).reduce(_ && _)
      val candFiles = candidates.map(_.file).toIndexedSeq
      val candDv = dvOf(candidates)
      val oldDvRows = candidates.map(c => metaFormOf(c.file) -> c.dvRows).toMap
      val src = {
        val r = spark.read.option("basePath", dir)
        stampDvCols(r.schema(schema)
          .parquet(candFiles: _*))
      }
      val live =
        if (candDv.isEmpty) src
        else {
          val dv = readDvStores(spark, candDv.values.toSeq)
          // hint only when the manifest PROVED the existing vectors
          // small; else the stores' size stats + AQE decide
          val side =
            if (candidates.map(_.dvRows).sum <= DvBroadcastRows) broadcast(dv)
            else dv
          src.join(side,
            src(DvFileCol) === dv("file") && src(DvIdxCol) === dv("idx"),
            "left_anti")
        }
      val newPos = live.where(coalesce(pred, lit(false)))
        .select(col(DvFileCol).as("file"), col(DvIdxCol).as("idx"))
        .localCheckpoint(true)
      try {
        // per-file NEW counts (metadata-form keys) — churn-sized
        val newCounts = newPos.groupBy("file").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        newPositions = newCounts.values.sum
        if (newCounts.nonEmpty) {
          val metaToManifest = candFiles.map(f => metaFormOf(f) -> f).toMap
          touched = newCounts.map { case (mf, n) =>
            metaToManifest(mf) -> (n + oldDvRows.getOrElse(mf, 0L)) }
          // the merged store: new positions ∪ the touched files'
          // existing positions — restricted by a semi-join against
          // the (churn-sized) touched list, so an old store shared
          // with untouched files does not bloat the new one
          import spark.implicits._
          val touchedMeta = newCounts.keys.toSeq.toDF("file")
          val existingOfTouched = {
            val paths = touched.keys.flatMap(candDv.get).toSeq.distinct
            if (paths.isEmpty) None
            else Some(readDvStores(spark, paths)
              .join(broadcast(touchedMeta), Seq("file"), "left_semi"))
          }
          val merged = existingOfTouched.fold(newPos)(newPos.unionByName(_))
          val gen =
            if (generationsEnabled(fs, dir)) liveGenOf(fs, dir) else 0L
          val store = new Path(dvRoot(dir),
            s"dv-$gen-${java.util.UUID.randomUUID().toString.take(8)}")
          merged.write.parquet(store.toString)
          // manifest rows for the touched files carry over VERBATIM
          // (stats stay physical — invariant 2) with only the DV
          // columns repointed
          newDvDir = Some(fs.makeQualified(store).toString)
        }
      } finally Checkpoints.unpersist(newPos)
    }
    if (dropFiles.isEmpty && touched.isEmpty)
      return DeleteDvStats(0, 0, 0L)
    // a filter and projection of the manifest: driver rows when the
    // snapshot holds them
    val repointed = newDvDir.map { storePath =>
      widenWithDvCols(manifest)
        .filter(col("file").isin(touched.keys.toSeq: _*))
        .withColumn("dv_path", lit(storePath))
        .withColumn("dv_rows", element_at(typedLit(touched), col("file")))
    }
    // the covered files retire; the touched files stay live, only
    // their rows are replaced by the repointed ones
    val dropped = dropFiles.map(_.file)
    commit(spark, scope, "deleteWhereDv", Nil, dropped,
      _ => repointed)
    DeleteDvStats(dropFiles.length, touched.size,
      dropFiles.map(_.liveRows).sum + newPositions)
  }

  /** Delete every `_graft_dv` store no retained manifest references —
    * the live manifest on untracked layouts; the live one plus every
    * retained archived generation on tracked ones. Driver work is
    * one listing plus manifest-sized reads. */
  private def reapUnreferencedDvStores(
      spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, dir: String): Unit = {
    val root = dvRoot(dir)
    if (!fs.exists(root)) return
    val referenced: Set[String] = {
      val live = loadManifest(spark, dir)
      val liveRefs =
        if (!hasDvCols(live.schema)) Set.empty[String]
        else live.filter(col("dv_path").isNotNull)
          .select("dv_path").distinct().collect()
          .map(_.getString(0)).toSet
      val archived = archivedGens(fs, dir)
      if (archived.isEmpty) liveRefs
      else {
        val arch = spark.read
          .option("basePath", historyDir(dir).toString)
          .option("mergeSchema", "true")
          .parquet(archived.map(g =>
            new org.apache.hadoop.fs.Path(historyDir(dir), s"gen=$g")
              .toString): _*)
        if (!arch.columns.contains("dv_path")) liveRefs
        else liveRefs ++ arch.filter(col("dv_path").isNotNull)
          .select("dv_path").distinct().collect()
          .map(_.getString(0)).toSet
      }
    }
    for (st <- fs.listStatus(root) if st.isDirectory) {
      val q = fs.makeQualified(st.getPath).toString
      if (!referenced.contains(q)) fs.delete(st.getPath, true)
    }
  }

  /** Per-file outcome counts of a [[deleteWhere]] call. `rowsDeleted`
    * is derived from the manifest's own row counts (dropped files'
    * `n_rows` plus the rewritten files' before/after delta) — no
    * extra counting pass over the data. */
  final case class DeleteStats(filesDropped: Int, filesRewritten: Int,
                               rowsDeleted: Long)

  /** Delete every row matching ALL `boxes` (the same conjunctive
    * interval predicate [[scanPruned]] reads by) from a
    * manifest-carrying directory — the lifecycle's delete verb
    * (write → append → compact → recluster → DELETE), the shape of a
    * GDPR / retention purge on a 100 TB lakehouse table. The manifest
    * makes most of the work metadata-only, exactly as Delta/Iceberg
    * plan deletes:
    *
    *  - a file whose per-key ranges are COVERED by every box
    *    (`lo ≤ min ∧ max ≤ hi`) and whose `nulls_<k>` count is 0 for
    *    every box key is PROVED fully deletable and dropped without
    *    ever being opened — min/max ignore nulls, so without the
    *    null-count stat a range-covered file could still hold
    *    null-key rows a value predicate must not delete. A null
    *    `nulls_<k>` (a manifest written before the null-count stats
    *    existed — see [[appendWithManifest]]'s migration note) is
    *    "unknown" and conservatively demotes the file to the rewrite
    *    path;
    *  - a file DISJOINT from any box (`max < lo ∨ min > hi`, or
    *    all-null stats — a null key never matches a value interval)
    *    is untouched, its manifest row kept verbatim;
    *  - the remaining PARTIALLY-covered files are rewritten keeping
    *    `NOT coalesce(pred, false)` — null-key rows survive, matching
    *    SQL `DELETE WHERE`'s three-valued semantics — with each
    *    source file's survivors hash-co-located into its own output
    *    partition so the layout's clustering degrades no further
    *    than the rewritten files themselves.
    *
    * Driver work is one manifest-sized classification collect (the
    * same bound as [[scanPruned]] planning) plus file-count-sized
    * listings. The rewrite is one job over ONLY the partial files.
    *
    * The survivors stage under `_graft_delete_tmp` and commit through
    * [[commit]]: moved in, then the partial and covered files retired
    * or deleted, then the manifest patched once (rows for removed
    * files dropped, stats rows for the new files appended). Its OCC
    * rollback and crash windows are this verb's.
    *
    * Hive-partitioned layouts work in place too — the GDPR shape is
    * a delete by a DATA column (user id) across a date-partitioned
    * fact table: survivors are read with `basePath` anchoring (so
    * `k=v` path columns materialize and boxes on partition columns
    * keep working), written back via `partitionBy`, and each leaf
    * file is moved into its own partition directory. A box on a
    * partition column alone never creates partials (per-file stats
    * of a partition column collapse to one value, so every file is
    * covered or disjoint) — whole partitions drop unopened. */
  def deleteWhere(spark: org.apache.spark.sql.SparkSession, dir: String,
                  boxes: Seq[PruneBox],
                  verifyCoverage: Boolean = true,
                  expectedGen: Option[Long] = None): DeleteStats = {
    val st = deleteOrReplaceCore(spark, dir, boxes, verifyCoverage,
      expectedGen, insert = None, label = "deleteWhere")
    DeleteStats(st.filesDropped, st.filesRewritten, st.rowsDeleted)
  }

  /** Per-file outcome counts of a [[replaceWhere]] call. */
  final case class ReplaceStats(filesDropped: Int, filesRewritten: Int,
                                filesInserted: Int, rowsDeleted: Long,
                                rowsInserted: Long)

  /** The idempotent-backfill verb — Delta's `replaceWhere` /
    * `INSERT … REPLACE WHERE`: delete every row matching the box
    * conjunction AND insert `df`'s rows, as ONE committed generation
    * (one manifest patch — a reader never observes the deleted-but-
    * not-yet-inserted intermediate state that a deleteWhere + append
    * pair exposes, and a crash between the two can't strand a
    * half-applied backfill). The delete half IS [[deleteWhere]]'s
    * classification and rewrite (pay-for-the-touch: disjoint files
    * never open, covered files drop unopened, partials rewrite
    * vector-applied); the insert half follows
    * [[appendWithManifest]]'s discipline (exact write-schema
    * compatibility, CHECK constraints proved over the batch,
    * partition-column routing) minus schema evolution — a backfill
    * never evolves.
    *
    * STRICT containment, checked before anything lands: every
    * incoming row must itself satisfy the box conjunction (Delta's
    * replaceWhere contract). Without it "replace this region" could
    * silently leak rows into regions the statement never named — at
    * 100 TB, rows that land outside the re-run partition are exactly
    * the duplicates the idempotent-backfill pattern exists to
    * prevent. */
  def replaceWhere(spark: org.apache.spark.sql.SparkSession, dir: String,
                   df: DataFrame, boxes: Seq[PruneBox],
                   verifyCoverage: Boolean = true,
                   expectedGen: Option[Long] = None): ReplaceStats =
    deleteOrReplaceCore(spark, dir, boxes, verifyCoverage, expectedGen,
      insert = Some(df), label = "replaceWhere")

  private def deleteOrReplaceCore(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      boxes: Seq[PruneBox], verifyCoverage: Boolean,
      expectedGen: Option[Long], insert: Option[DataFrame],
      label: String): ReplaceStats = {
    require(boxes.nonEmpty, s"$label needs at least one key box")
    val scope = scopeOf(spark, dir, expectedGen, label)
    val mSchema = scope.mSchema
    val verdicts = verdictsOf(scope, boxes)
    val dropFiles = verdicts.filter(_.covered)
    val rewriteFiles = verdicts.filter(_.partial)
    if (verifyCoverage)
      // same guard as scanPruned's, sharper consequence: a non-empty
      // file the manifest misses would KEEP its matching rows — a
      // silent delete violation, not just a dropped read
      scope.requireCovered(verdicts.map(_.file).toSet,
        "their matching rows would survive the delete")
    // insert-side validation BEFORE anything lands (replaceWhere):
    // exact write-schema compatibility (a backfill never evolves),
    // STRICT box containment — every incoming row must satisfy the
    // conjunction it claims to replace — and CHECK constraints over
    // the batch, the appendWithManifest discipline
    insert.foreach { ins =>
      requireWriteCompatible(ins.schema, scope.dirFrame.schema,
        scope.partCols, dir)
      val contain = boxes.map(residualExprOf(mSchema, _)).reduce(_ && _)
      val leaked = ins.where(!coalesce(contain, lit(false))).head(1)
      require(leaked.isEmpty,
        s"replaceWhere at $dir rejected: incoming rows fall OUTSIDE " +
          s"the replaced region (e.g. ${leaked.headOption.getOrElse("")})" +
          " — every inserted row must satisfy the WHERE boxes, or the " +
          "backfill silently leaks rows into regions it never named")
      requireBatchSatisfies(spark, dir, ins, label)
    }
    if (dropFiles.isEmpty && rewriteFiles.isEmpty && insert.isEmpty)
      return ReplaceStats(0, 0, 0, 0L, 0L)
    // the partial files' survivors keep `NOT coalesce(pred, false)`;
    // hashing on the source file name gives each partial file its own
    // output partition (modulo benign hash collisions), so a clustered
    // layout's surviving files keep their tight key ranges. The read
    // applies deletion vectors (the outputs are vector-free) and, with
    // basePath anchoring, materializes k=v path columns so a box on a
    // partition column evaluates row-side; partitionBy routes the
    // survivors back and strips them from file contents again
    val rewrite = Option.when(rewriteFiles.nonEmpty) {
      val pred = boxes.map(residualExprOf(mSchema, _)).reduce(_ && _)
      val src = readFilesOf(spark, dir, rewriteFiles.map(_.file), scope.schema,
        dv = dvOf(rewriteFiles), srcCol = Some("__graft_src"))
      stageOf(scope, "_graft_delete_tmp", scope.partCols,
        src.where(!coalesce(pred, lit(false)))
          .repartition(rewriteFiles.length, col("__graft_src"))
          .drop("__graft_src"))
    }
    // the INSERT half (replaceWhere), routed like the append path
    val inserting = insert.map(stageOf(scope, "_graft_replace_tmp",
      scope.partCols, _))
    val removed = dropFiles ++ rewriteFiles
    val done = commit(spark, scope, label,
      rewrite.toSeq ++ inserting, removed.map(_.file))
    val newRows = if (rewrite.isEmpty) 0L else done.rows.head
    ReplaceStats(dropFiles.length, rewriteFiles.length,
      if (inserting.isEmpty) 0 else done.files.last.length,
      removed.map(_.liveRows).sum - newRows,
      if (inserting.isEmpty) 0L else done.rows.last)
  }

  /** A [[Stage]] writing `rows` under a fresh [[stagingDir]] named
    * `tmpName`, routed into `k=v` subdirectories by `partCols`, to move
    * into the layout root. */
  private def stageOf(scope: Scope, tmpName: String, partCols: Seq[String],
                      rows: DataFrame): Stage = {
    val tmp = stagingDir(scope.hDir, tmpName)
    Stage(tmp, scope.hDir, () => {
      val w = rows.write
      if (partCols.isEmpty) w.parquet(tmp.toString)
      else w.partitionBy(partCols: _*).parquet(tmp.toString)
    })
  }

  /** Per-file outcome counts of an [[updateWhere]] call. */
  final case class UpdateStats(filesRewritten: Int, filesUntouched: Int,
                               rowsUpdated: Long)

  /** SQL `UPDATE … SET … WHERE box ∧ …` over a manifest-carrying
    * directory — the in-place transform that completes the DML
    * surface (delete / upsert / UPDATE): rows matching EVERY box get
    * each `set` column re-evaluated from the OLD row (simultaneous
    * assignment, SQL UPDATE semantics — one select computes all set
    * expressions against the pre-update values); every other row and
    * every disjoint file is untouched. The box classification is
    * [[scanPruned]]'s skip predicate, so at 100 TB the rewrite cost
    * is proportional to the files that might hold a match, never the
    * table — the same pay-for-the-touch contract as [[deleteWhere]],
    * whose rewrite this mirrors (hash-by-source-file output
    * partitioning keeps surviving key ranges tight, partition-column
    * routing via partitionBy); the rewrite stages under
    * `_graft_update_tmp` and commits through [[commit]] (its OCC
    * rollback and crash windows).
    *
    * Validation happens BEFORE anything lands: set columns must
    * exist, must NOT be partition columns (updating one moves rows
    * across partition directories — express that as
    * delete + append / upsert instead), set expressions must be
    * deterministic (an OCC retry re-runs the body) and must preserve
    * each column's exact type (cast explicitly to change one — a
    * silent coercion here could corrupt a column store-wide), and
    * CHECK constraints are proved over the UPDATED rows before the
    * write. Manifest KEY columns may be updated — the delta stats
    * recompute for rewritten files, so pruning stays exact; the
    * clustering quality simply degrades until the depth trigger
    * fires, like any append. Vectorized files rewrite vector-applied
    * (the update materializes their deletion vectors away, exactly
    * like [[deleteWhere]]'s partials). Files whose range overlaps
    * but where NO row actually matches are left byte-identical (the
    * probe costs one scan of just those files). */
  def updateWhere(spark: org.apache.spark.sql.SparkSession, dir: String,
                  boxes: Seq[PruneBox],
                  set: Seq[(String, Column)],
                  verifyCoverage: Boolean = true,
                  expectedGen: Option[Long] = None): UpdateStats = {
    require(boxes.nonEmpty, "updateWhere needs at least one key box")
    require(set.nonEmpty, "updateWhere needs at least one SET column")
    require(set.map(_._1).distinct.length == set.length,
      s"duplicate SET column in ${set.map(_._1).mkString(", ")}")
    val scope = scopeOf(spark, dir, expectedGen, "updateWhere")
    val mSchema = scope.mSchema
    val verdicts = verdictsOf(scope, boxes)
    val touched = verdicts.filterNot(_.disjoint)
    if (verifyCoverage)
      scope.requireCovered(verdicts.map(_.file).toSet,
        "their matching rows would dodge the update")
    if (touched.isEmpty)
      return UpdateStats(0, verdicts.length, 0L)
    val pred = boxes.map(residualExprOf(mSchema, _)).reduce(_ && _)
    val hit = coalesce(pred, lit(false))
    val src = readFilesOf(spark, dir, touched.map(_.file), scope.schema,
      dv = dvOf(touched), srcCol = Some("__graft_src"))
    val dataSchema = org.apache.spark.sql.types.StructType(
      src.schema.filterNot(_.name == "__graft_src"))
    val partCols = scope.partCols
    for ((c, e) <- set) {
      require(dataSchema.fieldNames.contains(c),
        s"SET column $c is not a column of $dir " +
          s"(${dataSchema.fieldNames.mkString(", ")})")
      require(!partCols.contains(c),
        s"SET column $c is a partition column — updating it moves " +
          "rows across partition directories; express that as a " +
          "delete + append (or upsert) instead")
      // determinism must be judged on the RESOLVED expression (a
      // parsed-but-unresolved function defaults to "deterministic");
      // an OCC retry re-runs the update body, so a nondeterministic
      // SET would write different values on each attempt
      require(src.select(e.as("__graft_probe")).queryExecution.analyzed
          .expressions.forall(_.deterministic),
        s"SET $c is nondeterministic — an OCC retry re-runs the " +
          "update body, so every set expression must be deterministic")
    }
    // range-overlap is not a match: probe just the touched files and
    // leave them byte-identical when nothing actually hits
    val rowsUpdated = src.where(hit).count()
    if (rowsUpdated == 0L)
      return UpdateStats(0, verdicts.length, 0L)
    val setMap = set.toMap
    // the hit verdict is stamped BEFORE any column transforms: a SET
    // that touches a box column must not shift rows in or out of the
    // predicate mid-flight (post-update re-evaluation would skip
    // exactly the changed rows in the constraint proof below)
    require(!dataSchema.fieldNames.contains("__graft_hit"),
      "the layout carries a column named __graft_hit — reserved by " +
        "the update read path")
    val marked = src.withColumn("__graft_hit", hit)
    val updatedCols = dataSchema.fields.map { f =>
      setMap.get(f.name) match {
        case Some(e) =>
          when(col("__graft_hit"), e).otherwise(col(f.name)).as(f.name)
        case None => col(f.name)
      }
    }
    val updated = marked.select(
      updatedCols ++ Seq(col("__graft_src"), col("__graft_hit")): _*)
    for ((f, g) <- updated.schema.fields.zip(dataSchema.fields))
      require(f.dataType == g.dataType,
        s"SET ${f.name} changes the column's type from ${g.dataType} " +
          s"to ${f.dataType} — cast the expression explicitly if the " +
          "type really should change (it rewrites only the touched " +
          "files, leaving a mixed layout)")
    // CHECK constraints prove over the post-update rows BEFORE the
    // write — all validation precedes any mutation
    requireBatchSatisfies(spark, dir,
      updated.where(col("__graft_hit"))
        .drop("__graft_src", "__graft_hit"), "updateWhere")
    commit(spark, scope, "updateWhere",
      Seq(stageOf(scope, "_graft_update_tmp", partCols, updated
        .repartition(touched.length, col("__graft_src"))
        .drop("__graft_src", "__graft_hit"))),
      touched.map(_.file))
    UpdateStats(touched.length, verdicts.length - touched.length,
      rowsUpdated)
  }

  /** Per-file outcome counts of an [[upsertByKey]] call.
    * `rowsReplaced` counts the base rows whose key matched an update
    * (removed and superseded); `rowsUpserted` is the full updates
    * batch (replacements + inserts). Both derive from the manifest's
    * own row counts plus one updates count — no extra pass over the
    * base data. */
  final case class UpsertStats(filesRewritten: Int, filesUntouched: Int,
                               rowsReplaced: Long, rowsUpserted: Long)

  /** MERGE a batch of whole-row `updates` into a manifest-carrying
    * directory by `key` — the CDC verb that completes the lifecycle
    * (write → append → compact → recluster → delete → UPSERT), the
    * shape of applying a change-data feed to a 100 TB keyed lakehouse
    * table. Semantics are DELETE-AND-INSERT by key, the idempotent
    * CDC form: after the call, the row set for each update key is
    * exactly the update row (every base row with that key is
    * replaced — re-running the same batch is a no-op), and update
    * keys matching nothing become plain inserts. Equivalent SQL over
    * the directory's rows:
    * {{{
    *   SELECT * FROM base WHERE key IS NULL OR key NOT IN (SELECT key FROM updates)
    *   UNION ALL SELECT * FROM updates
    * }}}
    * Null-key base rows always survive (a value match cannot reach
    * them — SQL equality semantics, enforced by the anti-join).
    *
    * The loud contract on `updates`: its schema must be
    * write-compatible with the stored data
    * ([[requireWriteCompatible]] — whole rows are inserted verbatim),
    * `key` must be a stored manifest key, update keys must be
    * NON-NULL (a null merge key matches nothing; silently inserting
    * it would turn a malformed feed into phantom rows) and DISTINCT
    * (two updates for one key is an ambiguous merge — the Delta
    * "multiple source rows matched" error, caught here before
    * anything is written). All validation precedes every mutation.
    *
    * The manifest makes the base-side work proportional to the
    * OVERLAP, not the table: the updates' key set (up to 1024
    * distinct integral keys — the [[KeySetBox]] sparse form, which
    * prunes the gaps between far-apart CDC keys; a wider batch falls
    * back to its [min,max] range, and date/timestamp/string keys to
    * a [[TypedKeyBox]]) classifies every file off its stats alone. A
    * file DISJOINT from every update key is untouched, its manifest
    * row kept verbatim — on a well-clustered layout a point-keyed
    * CDC batch rewrites a handful of files out of 100k. Only the
    * files that MAY hold a matching key are read, anti-joined
    * against the update keys (null-safe by construction), and
    * rewritten with each source file's survivors hash-co-located
    * into its own output partition, so the clustering degrades no
    * further than the rewritten files themselves. The updates append
    * as new files (not clustered — like [[appendWithManifest]]'s
    * delta, their wide stats simply never qualify for skipping until
    * the next recluster).
    *
    * The survivors stage under `_graft_upsert_tmp` and the inserts
    * under `_graft_insert_tmp`; both move in through one [[commit]]
    * (its OCC rollback and crash windows), which then retires or
    * deletes the superseded files and patches the manifest. The
    * `updates` frame is pinned via one eager localCheckpoint before
    * first use, so a nondeterministic source cannot fork between the
    * contract probes, the anti-join, and the insert write.
    *
    * Hive-partitioned layouts upsert in place: survivors read with
    * `basePath` anchoring and route back via `partitionBy`, inserts
    * route the same way — so an update that MOVES a row across
    * partitions (a changed partition value) lands correctly: the old
    * row leaves its old partition's file, the new row appends under
    * the new `k=v` directory. */
  def upsertByKey(spark: org.apache.spark.sql.SparkSession, dir: String,
                  updates: DataFrame, key: String,
                  verifyCoverage: Boolean = true,
                  expectedGen: Option[Long] = None): UpsertStats =
    upsertByKeys(spark, dir, updates, Seq(key), verifyCoverage, expectedGen)

  /** [[upsertByKey]] on a COMPOSITE merge key — the real-world CDC
    * shape ((id, region), (id, as_of_date)): a base row is replaced
    * only when EVERY key column equals the update's, so two rows
    * sharing a partial key ((id=5, region=eu) vs (id=5, region=us))
    * merge independently — exactly where a single-key merge would
    * corrupt, replacing both. All single-key contracts generalize
    * column-wise: update keys must be non-null in EVERY key column
    * (SQL equality can never match a null component) and DISTINCT as
    * TUPLES (the Delta multiple-source-rows-matched check on the
    * composite key). File classification is the CONJUNCTION of
    * per-key footprint boxes — a file opens only if it overlaps the
    * batch's footprint on every key, a cross-product superset of the
    * true tuple set (conservative, so exactness is untouched; the
    * anti-join on all key columns is what enforces tuple equality).
    * On a layout clustered by the leading key this still prunes to
    * the overlap, and each additional key's box only shrinks the
    * touched set. */
  def upsertByKeys(spark: org.apache.spark.sql.SparkSession, dir: String,
                   updates: DataFrame, keys: Seq[String],
                   verifyCoverage: Boolean = true,
                   expectedGen: Option[Long] = None): UpsertStats =
    mergeByKeys(spark, dir, updates, keys, verifyCoverage, expectedGen,
      insertUpdates = true)

  /** `MERGE … WHEN MATCHED THEN DELETE` as a verb: drop every live
    * row whose key tuple appears in `matches`, leaving unmatched rows
    * (and every disjoint file) untouched. The REWRITE half of
    * [[upsertByKeys]] with the insert leg off — same pay-for-the-touch
    * classification (the matches' per-key footprint as prune boxes;
    * disjoint files never open), same anti-join survivor rewrite, same
    * commit/OCC/retirement discipline — so `filesRewritten` prices the
    * churn, never the table. Null key components are dropped from
    * `matches` (a null merge key matches nothing, the upsert rule) and
    * duplicates are collapsed: only the KEY COLUMNS of `matches` are
    * consulted, so any source shape joins. Contrast [[deleteWhere]]:
    * that verb takes a value-interval predicate and can DROP covered
    * files from stats alone; this one takes an explicit row set, whose
    * sparse footprint is never coverage-provable — `filesDropped` is
    * always 0 by construction. */
  def deleteMatching(spark: org.apache.spark.sql.SparkSession, dir: String,
                     matches: DataFrame, keys: Seq[String],
                     verifyCoverage: Boolean = true,
                     expectedGen: Option[Long] = None): DeleteStats = {
    require(keys.nonEmpty, "deleteMatching needs at least one key column")
    for (k <- keys) require(matches.columns.contains(k),
      s"deleteMatching key $k is not a column of matches " +
        s"(${matches.columns.mkString(", ")})")
    val tuples = matches.select(keys.map(col): _*)
      .filter(keys.map(col(_).isNotNull).reduce(_ && _)).distinct()
    val st = mergeByKeys(spark, dir, tuples, keys, verifyCoverage,
      expectedGen, insertUpdates = false)
    DeleteStats(0, st.filesRewritten, st.rowsReplaced)
  }

  /** The shared body of [[upsertByKeys]] (insertUpdates = true) and
    * [[deleteMatching]] (false): classify by the updates' key
    * footprint, rewrite touched files anti-joined on the keys, then
    * append the updates — or don't, for the delete arm, whose
    * `updates` frame carries only the key columns. */
  private def mergeByKeys(spark: org.apache.spark.sql.SparkSession,
                          dir: String, updates: DataFrame,
                          keys: Seq[String], verifyCoverage: Boolean,
                          expectedGen: Option[Long],
                          insertUpdates: Boolean): UpsertStats = {
    val verb = if (insertUpdates) "upsertByKeys" else "deleteMatching"
    require(keys.nonEmpty, s"$verb needs at least one key column")
    require(keys.distinct == keys,
      s"duplicate merge key columns: ${keys.mkString(", ")}")
    val scope = scopeOf(spark, dir, expectedGen, verb)
    val (manifest, mSchema) = (scope.manifest, scope.mSchema)
    for (key <- keys) require(scope.keys.contains(key),
      s"$verb key $key is not a stored manifest key at $dir " +
        s"(stored: ${scope.keys.mkString(", ")})")
    // the sidecar schema (when the layout has evolved) is the
    // authoritative column set the updates must carry in full — whole
    // rows are inserted verbatim
    val current = scope.dirFrame
    val partCols = scope.partCols
    if (insertUpdates)
      requireWriteCompatible(updates.schema, current.schema, partCols, dir)
    else for (k <- keys) {
      // the delete arm inserts nothing, so only the KEY columns must
      // exist — but their types must match EXACTLY: a coercing
      // anti-join (string matches against a long key) would compare
      // under promotion and silently miss (or hit) rows
      require(updates.columns.contains(k),
        s"$verb: matches carry no column $k")
      require(updates.schema(k).dataType == current.schema(k).dataType,
        s"$verb: key $k is ${updates.schema(k).dataType} in matches " +
          s"but ${current.schema(k).dataType} in the layout — cast the " +
          "source key explicitly")
    }
    val upd = updates.localCheckpoint(true)
    try {
      require(upd.filter(keys.map(col(_).isNull).reduce(_ || _))
          .head(1).isEmpty,
        s"$verb: updates carry null values in a key column " +
          s"(${keys.mkString(", ")}) — a null merge-key component " +
          "matches nothing; fix or filter the feed upstream")
      val dup = upd.groupBy(keys.map(col): _*).count()
        .filter(col("count") > 1).head(2)
      require(dup.isEmpty,
        s"$verb: duplicate (${keys.mkString(", ")}) tuples in " +
          s"updates (e.g. ${dup.map(_.toSeq.init.mkString("(", ",", ")"))
            .mkString(", ")}) — delete-and-insert by key needs exactly " +
          "one row per key tuple")
      val updCount = upd.count()
      if (updCount == 0L)
        return UpsertStats(0, manifest.count().toInt, 0L, 0L)
      // CHECK constraints enforce on the updates batch (the only rows
      // this verb ADDS — survivors already satisfied them) before any
      // classification or rewrite work; the delete arm adds no rows
      if (insertUpdates) requireBatchSatisfies(spark, dir, upd, verb)
      // the updates' PER-KEY footprint as prune boxes: sparse set for
      // a driver-small integral batch (prunes the gaps between CDC
      // keys), else the [min,max] range; typed keys round-trip
      // through their canonical rendering (the joinPruned discipline).
      // A file must overlap EVERY key's footprint to be touched —
      // skip when disjoint on ANY key
      val boxes: Seq[PruneBox] = keys.map { key =>
        val statT = mSchema(s"min_$key").dataType
        if (statT == org.apache.spark.sql.types.LongType) {
          val probe = upd.select(col(key).cast("long").as("k"))
            .distinct().limit(1025).collect().map(_.getLong(0))
          if (probe.length <= 1024) KeySetBox(key, probe.toSeq)
          else {
            val b = upd.agg(min(col(key)).cast("long"),
              max(col(key)).cast("long")).collect()(0)
            KeyBox(key, b.getLong(0), b.getLong(1))
          }
        } else {
          val b = upd.agg(min(col(key)), max(col(key))).collect()(0)
          TypedKeyBox(key, b.get(0).toString, b.get(1).toString)
        }
      }
      // manifest-sized classification: DISJOINT files never open.
      // Live rows (physical minus any deletion vector) drive the
      // replaced-rows accounting; touched vectorized files rewrite
      // MINUS their vectors (materializing them away)
      val verdicts = verdictsOf(scope, boxes)
      val touched = verdicts.filterNot(_.disjoint)
      if (verifyCoverage)
        // sharper consequence than the read side's: a file the
        // manifest misses would KEEP its matched rows, and the
        // inserted updates would duplicate them
        scope.requireCovered(verdicts.map(_.file).toSet,
          "their matched rows would survive the upsert as duplicates")
      // the survivors of the touched files (anti-join on the key —
      // null-safe: a null base key never equals an update key), hashed
      // on the source file name so each rewritten file's key range
      // stays as tight as its source's; then the inserts — every
      // update row, landing exactly once (the matched keys' old rows
      // are absent from the survivors). The delete arm inserts nothing
      val rewrite = Option.when(touched.nonEmpty) {
        val src = readFilesOf(spark, dir, touched.map(_.file), scope.schema,
          dv = dvOf(touched), srcCol = Some("__graft_src"))
        stageOf(scope, "_graft_upsert_tmp", partCols, src
          .join(upd.select(keys.map(col): _*), keys, "left_anti")
          .repartition(touched.length, col("__graft_src"))
          .drop("__graft_src"))
      }
      val inserting = Option.when(insertUpdates)(
        stageOf(scope, "_graft_insert_tmp", partCols, upd))
      val newRows = commit(spark, scope, verb,
        rewrite.toSeq ++ inserting, touched.map(_.file)).rows.sum
      // newRows = survivors (+ updCount when inserting), so
      // replaced = touched − survivors either way
      val touchedRows = touched.map(_.liveRows).sum
      val inserted = if (insertUpdates) updCount else 0L
      UpsertStats(touched.length, verdicts.length - touched.length,
        rowsReplaced = touchedRows + inserted - newRows,
        rowsUpserted = inserted)
    } finally Checkpoints.unpersist(upd)
  }

  /** Dynamic file skipping for a dim→fact join — the runtime analog
    * of [[scanPruned]]'s static boxes, the Databricks "dynamic file
    * pruning" shape: collect the DIM side's join-key bounds (one
    * tiny agg, plan literals like broadcast centroids), turn them
    * into a box on the fact's manifest key, drop fact files whose
    * stats provably miss every dim key BEFORE `spark.read` opens
    * them, then broadcast-join the dim. Exact by construction: range
    * pruning is conservative (a surviving file may still hold no
    * matching key) and the join itself re-filters precisely — the
    * result EQUALS the unpruned join. At 100 TB this turns
    * "fact ⋈ filtered-dim" — the single most common warehouse query
    * shape — into a scan of only the fact files overlapping the
    * dim's key range, with zero user-written predicates.
    *
    * `dim` must be broadcast-small (it is collected to ONE bounds
    * row and broadcast into the join — the caller's filtered
    * dimension, not a second fact). Date/timestamp/string keys
    * round-trip through their canonical string rendering into
    * [[TypedKeyBox]]; an empty or all-null dim key short-circuits to
    * an empty result without opening any fact file. */
  def joinPruned(spark: org.apache.spark.sql.SparkSession, factDir: String,
                 dim: DataFrame, factKey: String, dimKey: String,
                 verifyCoverage: Boolean = true): DataFrame = {
    requireEncodingStablePath(factDir)
    val statT = loadManifest(spark, factDir).schema(s"min_$factKey").dataType
    // frame-qualified key references throughout: fact and dim keys
    // SHARE a name in the normal star-schema shape (orders.custkey ⋈
    // customer.custkey), and an unqualified col(key) === col(key)
    // would fail analysis as ambiguous exactly there
    def empty() = {
      // no dim keys → no join matches; keep the joined schema
      // (canonical on an evolved layout) without opening a single
      // fact file
      val fact = readLayout(spark, factDir).where(lit(false))
      fact.join(dim, fact(factKey) === dim(dimKey))
    }
    val box: Option[PruneBox] =
      if (statT == org.apache.spark.sql.types.LongType) {
        // the dim key must be integral too: a floating dim key joined
        // to a long fact key compares under DOUBLE promotion, which
        // differs from this long-side pruning above 2^53 — pruning
        // could drop a row the plain join's lossy promotion would
        // match. Refuse the ambiguous case; the caller casts
        // explicitly and owns the semantics
        require(isIntegral(dim.schema(dimKey).dataType),
          s"joinPruned: fact key $factKey has long stats but dim key " +
            s"$dimKey is ${dim.schema(dimKey).dataType} — cast the dim " +
            "key to an integral type to make the join semantics exact")
        // an integral key tries the SPARSE set form first: up to 1024
        // distinct dim keys become a KeySetBox, which prunes the gaps
        // a [min, max] range box would keep (two far-apart keys skip
        // everything between them). The limit(1025) probe bounds the
        // driver collect BEFORE knowing the cardinality; a bigger dim
        // falls back to the range box from one tiny bounds agg
        val probe = dim.select(col(dimKey).cast("long").as("k"))
          .filter(col("k").isNotNull).distinct().limit(1025)
          .collect().map(_.getLong(0))
        if (probe.isEmpty) None
        else if (probe.length <= 1024) Some(KeySetBox(factKey, probe.toSeq))
        else {
          val b = dim.agg(min(col(dimKey)).cast("long"),
            max(col(dimKey)).cast("long")).collect()(0)
          Some(KeyBox(factKey, b.getLong(0), b.getLong(1)))
        }
      } else {
        val b = dim.agg(min(col(dimKey)), max(col(dimKey))).collect()(0)
        if (b.isNullAt(0)) None
        // date/timestamp/string bounds round-trip through their
        // canonical rendering; the ANSI cast back is loud on mismatch
        else Some(TypedKeyBox(factKey, b.get(0).toString, b.get(1).toString))
      }
    box.fold(empty()) { bx =>
      val fact = scanPruned(spark, factDir, Seq(bx), verifyCoverage)
      fact.join(broadcast(dim), fact(factKey) === dim(dimKey))
    }
  }

  /** The SAFE recovery verb for a directory whose coverage check
    * fails: MOVE every non-empty data file the manifest does not
    * cover into `quarantineDir`, preserving partition-relative
    * paths — the recovery for [[commit]]'s move-in crash window.
    * Nothing is deleted — the engine cannot distinguish a crashed
    * [[appendWithManifest]]'s real rows from a crashed
    * [[deleteWhere]]'s duplicate survivors, so both land in
    * quarantine where an operator inspects and either re-appends
    * them (appendWithManifest re-derives their stats from the
    * quarantined files) or discards them. After the move, every
    * coverage-guarded read works again. Zero-row part files are left
    * in place: they are legitimately manifest-less and harmless.
    * Returns the moved file names (their ORIGINAL spellings). */
  def quarantineUncovered(spark: org.apache.spark.sql.SparkSession,
                          dir: String, quarantineDir: String): Seq[String] = {
    requireEncodingStablePath(dir)
    requireEncodingStablePath(quarantineDir)
    val conf = spark.sparkContext.hadoopConfiguration
    requireDisjointDirs(conf, dir, quarantineDir, "quarantineUncovered")
    val known = loadManifest(spark, dir).select("file").collect()
      .map(_.getString(0)).toSet
    // RAW directory read: the uncovered-file listing must come from
    // the directory, which readLayout's manifest-routed path (on a
    // vectorized layout) deliberately does not
    val dirFrame = spark.read.schema(liveSchemaOf(spark, dir)).parquet(dir)
    val listed = dirFrame.inputFiles
    listed.foreach(requireEncodingStablePath)
    val uncovered = listed.filterNot(known)
    if (uncovered.isEmpty) return Nil
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val qualifiedDir = fs.makeQualified(new org.apache.hadoop.fs.Path(dir))
      .toString.stripSuffix("/")
    // ONE job over all suspects, grouped by file (schema pinned — a
    // 0-byte file must not trip inference): zero-row files produce no
    // group and stay in place; only row-bearing files move
    val rowBearing = spark.read.schema(dirFrame.schema)
      .parquet(uncovered.toIndexedSeq: _*)
      .groupBy(input_file_name().as("f")).count()
      .select("f").collect().map(_.getString(0)).toSet
    val moved = uncovered.toSeq.filter(rowBearing)
    for (f <- moved) {
      val src = new org.apache.hadoop.fs.Path(new java.net.URI(f))
      val qualifiedSrc = fs.makeQualified(src).toString
      require(qualifiedSrc.startsWith(qualifiedDir + "/"),
        s"uncovered file $f resolves outside $dir — refusing to move it")
      // partition-relative path preserved, so a re-append from the
      // quarantine can recover the k=v partition values
      val rel = qualifiedSrc.stripPrefix(qualifiedDir + "/")
      val dest = new org.apache.hadoop.fs.Path(s"$quarantineDir/$rel")
      fs.mkdirs(dest.getParent)
      require(!fs.exists(dest),
        s"quarantine target $dest already exists")
      require(fs.rename(src, dest),
        s"failed to quarantine $f to $dest")
    }
    moved
  }

  /** Metadata-accelerated count of rows matching ALL `boxes` — the
    * `SELECT count(*) WHERE <box predicate>` fast path Delta/Iceberg
    * answer from their logs without touching data. Files the stats
    * PROVE fully inside every box contribute without being opened:
    * `n_rows` when every box key has zero nulls, and
    * `n_rows - nulls` when exactly ONE box key carries nulls (those
    * rows fail the value predicate; with two or more null-bearing
    * keys the overlap is unknowable from per-key counts, so the file
    * is scanned instead — correct over clever). Disjoint files
    * contribute nothing. Only the genuinely ambiguous remainder is
    * read, with the exact residual predicate, so the result EQUALS
    * the full-scan count by construction. On a well-clustered layout
    * with a box aligned to the clustering this touches ZERO data
    * files — a count over a year of a 100 TB time-clustered table
    * becomes one manifest-sized job. */
  def countWhere(spark: org.apache.spark.sql.SparkSession, dir: String,
                 boxes: Seq[PruneBox],
                 verifyCoverage: Boolean = true): Long = {
    require(boxes.nonEmpty, "countWhere needs at least one key box")
    requireEncodingStablePath(dir)
    val manifest = loadManifest(spark, dir)
    val mSchema = manifest.schema
    val keys = boxes.map(_.column).distinct
    // a sparse SET box can never be range-proved; its files resolve
    // to scanned-or-disjoint, same as deleteWhere's demotion
    val rangeCovered = boxes.map {
      case _: KeySetBox | _: TypedKeySetBox | _: TypedBoundsBox | _: TsMicrosBox | _: TsMicrosSetBox =>
        lit(false) // sparse/half-open forms are never range-proved
      case b =>
        val (lo, hi) = decodeBounds(mSchema, b)
        col(s"min_${b.column}") >= lo && col(s"max_${b.column}") <= hi
    }.reduce(_ && _)
    val nullsKnown = keys.map(nullsColOf(mSchema, _).isNotNull).reduce(_ && _)
    val nullBearing = keys.map(k =>
      when(nullsColOf(mSchema, k) > 0L, 1).otherwise(0)).reduce(_ + _)
    // the provable per-file contribution, null when no proof exists:
    // with ≤1 null-bearing key, greatest(nulls) is exactly the count
    // of rows the value predicate excludes. A file carrying a
    // deletion vector can never be stat-answered (its stats are
    // physical, the vectorized rows are not live) — it demotes to
    // the scan path, which applies the vector
    val provable = rangeCovered && nullsKnown && nullBearing <= 1
    val metaRows = when(
      coalesce(if (hasDvCols(mSchema)) provable && dvRowsExprOf(mSchema) === 0L
        else provable, lit(false)),
      col("n_rows") - keys.map(k => coalesce(nullsColOf(mSchema, k), lit(0L)))
        .reduce(greatest(_, _)))
    val disjoint = boxes.map(skipExprOf(mSchema, _)).reduce(_ || _)
    val verdicts = manifest.select(col("file"),
        metaRows.as("meta"), disjoint.as("disjoint"),
        dvPathExprOf(mSchema).as("dv_path")).collect()
    // the RAW directory read, not readLayout: the coverage guard
    // compares the directory LISTING against the manifest, which a
    // manifest-routed read would make vacuous on a vectorized layout
    lazy val dirFrame =
      spark.read.schema(liveSchemaOf(spark, dir)).parquet(dir)
    if (verifyCoverage)
      requireManifestCovers(spark, dirFrame,
        verdicts.map(_.getString(0)).toSet, dir,
        "rows in uncovered files would be missing from the count")
    val metaSum = verdicts.collect {
      case r if !r.isNullAt(1) => r.getLong(1)
    }.sum
    val scanRows = verdicts.collect {
      case r if r.isNullAt(1) && !r.getBoolean(2) =>
        r.getString(0) -> Option(r.getString(3))
    }
    if (scanRows.isEmpty) metaSum
    else {
      val residual = boxes.map(residualExprOf(mSchema, _)).reduce(_ && _)
      metaSum + readFilesOf(spark, dir, scanRows.map(_._1).toIndexedSeq,
          liveSchemaOf(spark, dir),
          dv = scanRows.collect { case (f, Some(p)) => f -> p }.toMap)
        .where(residual).count()
    }
  }

  /** Global min/max of a stored manifest key answered from METADATA
    * alone — one file-count-sized agg over the manifest, never a data
    * scan: per-file min/max ignore nulls, so `min(min_<k>)` /
    * `max(max_<k>)` compose to exactly SQL `min(k)` / `max(k)` over
    * the directory (all-null ⇒ null, matching SQL). This is the
    * MIN/MAX refresh [[Ivm]]'s documented boundary points at: a
    * delete of the current minimum is not maintainable from an
    * aggregate state, but the manifest's per-file stats — kept
    * current by every mutation verb — re-derive it in one tiny job.
    * Returned as a one-row frame `(min_<key>, max_<key>)` so it
    * composes into gates and joins; integral keys surface as long
    * (the manifest's normalized stat type). `verifyCoverage` (default
    * on) runs the standard guard — an out-of-band file's rows would
    * otherwise be invisible to the composed extremes. */
  def minMaxFromManifest(spark: org.apache.spark.sql.SparkSession,
                         dir: String, key: String,
                         verifyCoverage: Boolean = true): DataFrame = {
    requireEncodingStablePath(dir)
    val manifest = loadManifest(spark, dir)
    require(manifest.schema.fieldNames.contains(s"min_$key"),
      s"manifest has no stats for key $key (stored keys: " +
        manifestKeysOf(manifest.schema).mkString(", ") + ")")
    if (verifyCoverage)
      requireManifestCovers(spark,
        spark.read.schema(liveSchemaOf(spark, dir)).parquet(dir),
        manifest.select("file").collect().map(_.getString(0)).toSet, dir,
        "the composed min/max would silently ignore their rows")
    val mSchema = manifest.schema
    val dvRows =
      if (!hasDvCols(mSchema)) Array.empty[org.apache.spark.sql.Row]
      else manifest.filter(dvRowsExprOf(mSchema) > 0L)
        .select(col("file"), col("dv_path")).collect()
    if (dvRows.isEmpty)
      manifest.agg(min(col(s"min_$key")).as(s"min_$key"),
        max(col(s"max_$key")).as(s"max_$key"))
    else {
      // a vectorized file's PHYSICAL extremes may be deleted rows —
      // its stats cannot answer an exact min/max. Demote exactly the
      // vectorized files to a churn-sized scan (vector applied) and
      // compose with the stat answer over everything else; the stat
      // min/max surface as long for integral keys, so the scan side
      // casts to the same normalized type
      val statT = mSchema(s"min_$key").dataType
      val scanned = readFilesOf(spark, dir,
          dvRows.map(_.getString(0)).toIndexedSeq,
          liveSchemaOf(spark, dir),
          dv = dvRows.map(r => r.getString(0) -> r.getString(1)).toMap)
        .agg(min(col(key)).cast(statT).as(s"min_$key"),
          max(col(key)).cast(statT).as(s"max_$key"))
      manifest.filter(dvRowsExprOf(mSchema) === 0L)
        .agg(min(col(s"min_$key")).as(s"min_$key"),
          max(col(s"max_$key")).as(s"max_$key"))
        .unionByName(scanned)
        .agg(min(col(s"min_$key")).as(s"min_$key"),
          max(col(s"max_$key")).as(s"max_$key"))
    }
  }

  /** One manifest row as [[DepthSweep]] reads it: per key its
    * `[lo, hi]` stat interval as sweep positions (None where null). */
  private[graft] final case class FileStats(leaf: String, file: String,
      rows: Long, dvPath: Option[String], dvRows: Long,
      lo: IndexedSeq[Option[Long]], hi: IndexedSeq[Option[Long]])

  /** THE clustering-depth sweep under every profile, trigger and
    * OPTIMIZE selection, on the driver over [[sweepOf]]'s one collect:
    * at each boundary of the per-file key intervals, the running
    * interval count = how many files a point lookup on that value must
    * read. Intervals stack only within their `leaf` (a constant for a
    * whole-manifest profile, the parent directory for OPTIMIZE: a
    * partition-pruned lookup reads one leaf). Null stats carry no
    * interval: a null key never serves a point lookup.
    *   - Long / date / timestamp stats sweep their integer domain
    *     ([[statToLongOf]]), each file covering `[min, max + 1)`.
    *   - String stats have no successor, so they sweep the OBSERVED
    *     domain: a position indexes `values(k)`, every distinct min/max
    *     in Spark's string order ([[Utf8Order]]); a file covers
    *     `[pos(min), pos(max) + 1)`, and a leaf's rows are exactly its
    *     observed values. Their maximum IS the global one: a point
    *     strictly between two adjacent boundaries is covered only by
    *     files that also cover the boundary below it. */
  private[graft] final class DepthSweep(keys: Seq[String],
      val files: IndexedSeq[FileStats],
      values: IndexedSeq[Option[IndexedSeq[String]]]) {
    /** `(leaf, key index) → (pos, net, depth)` rows in position order,
      * for every leaf where the key carries an interval. */
    private lazy val sweeps: Seq[((String, Int), IndexedSeq[(Long, Long, Long)])] =
      files.groupBy(_.leaf).toSeq.sortBy(_._1).flatMap { case (leaf, fs) =>
        keys.indices.flatMap { k =>
          val (los, his) = (fs.flatMap(_.lo(k)), fs.flatMap(_.hi(k)))
          val seen = values(k).fold(Set.empty[Long])(_ => (los ++ his).toSet)
          var depth = 0L
          val rows = (los.map(_ -> 1L) ++ his.map(Math.addExact(_, 1L) -> -1L) ++
              seen.map(_ -> 0L))
            .groupMapReduce(_._1)(_._2)(_ + _).toIndexedSeq.sortBy(_._1)
            .map { case (p, net) => depth += net; (p, net, depth) }
            .filter(r => values(k).isEmpty || seen(r._1))
          Option.when(rows.nonEmpty)((leaf, k) -> rows)
        }
      }

    private def of(ks: Seq[String]) =
      sweeps.filter(s => ks.contains(keys(s._1._2)))

    /** `(at, net, depth)` of every boundary of `key` over all leaves,
      * `at` the integer position or the boundary string itself. */
    def profileOf(key: String): Seq[org.apache.spark.sql.Row] =
      of(Seq(key)).flatMap { case ((_, k), rows) => rows.map { case (p, net, d) =>
        org.apache.spark.sql.Row(values(k).fold[Any](p)(_(p.toInt)), net, d) } }

    /** `(leaf, key, worst depth)` per leaf and key of `ks` with an interval. */
    def leafDepthsOf(ks: Seq[String]): Seq[(String, String, Long)] =
      of(ks).map { case ((leaf, k), rows) => (leaf, keys(k), rows.map(_._3).max) }

    /** The worst depth over `ks` (0 when no file carries an interval). */
    def worstOf(ks: Seq[String]): Long =
      leafDepthsOf(ks).map(_._3).foldLeft(0L)(math.max)

    /** The files whose `[min, max]` interval on some key of `ks` covers
      * a boundary whose depth WITHIN ITS OWN LEAF reaches `maxDepth` —
      * the offending subset [[optimizeSelective]] rewrites, found by a
      * binary search per file and key. A null-stat file is never deep.
      * Returns the manifest's own `file` spellings. */
    def deepFilesOf(ks: Seq[String], maxDepth: Long): Set[String] =
      of(ks).flatMap { case ((leaf, k), rows) =>
        val deep = rows.collect { case (p, _, d) if d >= maxDepth => p }
        files.filter(f => f.leaf == leaf && (f.lo(k) zip f.hi(k)).exists {
          case (lo, hi) =>
            val i = deep.search(lo).insertionPoint
            i < deep.length && deep(i) <= hi
        }).map(_.file)
      }.toSet
  }

  /** The monotone stat→long mapping of the depth sweep's integer
    * domain (epoch days / micros for date / timestamp stats). */
  private def statToLongOf(dt: org.apache.spark.sql.types.DataType,
                           key: String): Column => Column = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => identity
      case DateType => unix_date(_)
      case TimestampType => unix_micros(_)
      // session TZ is UTC (GraftSession), so the NTZ→LTZ cast is a
      // faithful relabeling and micros keep the NTZ ordering exactly
      case TimestampNTZType => c => unix_micros(c.cast(TimestampType))
      case other => throw new IllegalArgumentException(
        s"clusteringDepth needs a key with an integer successor; " +
          s"$key stats are $other")
    }
  }

  /** Spark's `StringType` order — unsigned UTF-8 bytes, as
    * `UTF8String` compares — which differs from `String.compareTo`'s
    * UTF-16 order above the BMP. */
  private val Utf8Order: Ordering[String] = (a, b) =>
    java.util.Arrays.compareUnsigned(a.getBytes("UTF-8"), b.getBytes("UTF-8"))

  /** [[DepthSweep]] over `keys` of `manifest`, each file in its `leaf`:
    * ONE collect of one projection (leaf, file, rows, deletion vector,
    * each key's min and max — [[statToLongOf]], or raw strings). Over a
    * held manifest ([[ManifestSnapshot]]) it folds into the
    * `LocalRelation` and launches no job, else it is one job; the
    * driver holds O(files × keys) values, the order of the live-file
    * listing every verb holds. A stats frame without `file` / `n_rows`
    * reads them as null / 0. */
  private[graft] def sweepOf(manifest: DataFrame, keys: Seq[String],
                             leaf: Column): DepthSweep = {
    val mSchema = manifest.schema
    val strings = keys.map(k => mSchema(s"min_$k").dataType ==
      org.apache.spark.sql.types.StringType)
    def orNull(c: String, dt: String) =
      if (mSchema.fieldNames.contains(c)) col(c) else lit(null).cast(dt)
    val bounds = keys.zip(strings).flatMap { case (k, s) =>
      val at: Column => Column =
        if (s) identity
        else statToLongOf(mSchema(s"min_$k").dataType, k).andThen(_.cast("long"))
      Seq(at(col(s"min_$k")), at(col(s"max_$k")))
    }
    val rows = manifest.select(Seq(leaf, orNull("file", "string"),
        coalesce(orNull("n_rows", "long"), lit(0L)), dvPathExprOf(mSchema),
        dvRowsExprOf(mSchema)) ++ bounds: _*).collect().toIndexedSeq
    def ends(r: org.apache.spark.sql.Row, k: Int) =
      Seq(r.get(5 + 2 * k), r.get(6 + 2 * k)).flatMap(Option(_))
    val values = keys.indices.map(k => Option.when(strings(k))(
      rows.flatMap(ends(_, k)).map(_.toString).distinct.sorted(Utf8Order)))
    val pos = values.map(_.map(_.zipWithIndex.map(e => e._1 -> e._2.toLong).toMap))
    def at(r: org.apache.spark.sql.Row, i: Int, k: Int) = Option(r.get(i))
      .map(v => pos(k).fold(v.asInstanceOf[Long])(_(v.toString)))
    new DepthSweep(keys, rows.map(r => FileStats(r.getString(0), r.getString(1),
      r.getLong(2), Option(r.getString(3)), r.getLong(4),
      keys.indices.map(k => at(r, 5 + 2 * k, k)),
      keys.indices.map(k => at(r, 6 + 2 * k, k)))), values)
  }

  /** The whole-manifest profile of `key` as a frame `(at, net, depth)`. */
  private def profileFrameOf(manifest: DataFrame, key: String,
                             at: String): DataFrame = {
    val atType = if (manifest.schema(s"min_$key").dataType ==
      org.apache.spark.sql.types.StringType) "STRING" else "BIGINT"
    manifest.sparkSession.createDataFrame(
      java.util.Arrays.asList(sweepOf(manifest, Seq(key), lit("")).profileOf(key): _*),
      org.apache.spark.sql.types.StructType.fromDDL(
        s"$at $atType, net BIGINT, depth BIGINT"))
  }

  /** Clustering-depth profile over a skipping manifest — the
    * q_layout_depth metric computed from the REAL stored manifest:
    * [[DepthSweep]]'s integer-domain rows for the whole manifest, in
    * position order. Date / timestamp `pos` is reported in its
    * epoch-days / micros encoding; string stats have no successor
    * function and are rejected loudly — use
    * [[clusteringDepthBoundaries]]. Returns `(pos, net, depth)`. */
  def clusteringDepth(manifest: DataFrame, key: String): DataFrame = {
    statToLongOf(manifest.schema(s"min_$key").dataType, key)
    profileFrameOf(manifest, key, "pos")
  }

  /** [[clusteringDepth]] for string stats, where `max + 1` has no
    * meaning: [[DepthSweep]]'s observed-boundary rows for the whole
    * manifest, exact at every observed value. Returns `(value, net,
    * depth)` — `value` is the boundary string itself, so a reader can
    * name the hot key range directly. Other stat types return their
    * integer-domain rows. */
  def clusteringDepthBoundaries(manifest: DataFrame, key: String): DataFrame =
    profileFrameOf(manifest, key, "value")

  /** The OPTIMIZE trigger: true when some key value's point-lookup
    * depth reaches `maxDepth` — Delta OPTIMIZE / Iceberg rewrite
    * decide off exactly this signal. Appends degrade depth one
    * unclustered file at a time ([[appendWithManifest]]); when the
    * trigger fires, rewrite with [[write]] or [[optimize]] to
    * re-tighten the layout (LayoutSpec drives that full lifecycle).
    * One collect of the manifest's stats ([[sweepOf]]: no job over a
    * held manifest), swept on the driver; string keys sweep their
    * observed-boundary domain. */
  def needsRecluster(manifest: DataFrame, key: String,
                     maxDepth: Long): Boolean =
    sweepOf(manifest, Seq(key), lit("")).worstOf(Seq(key)) >= maxDepth

  /** The shared clustered-rewrite tail of both OPTIMIZE verbs and
    * [[compact]], over [[write]]'s curve step ([[curveCodeOf]]): ONE
    * bounds agg decides the path and feeds the curve — Z-order when
    * 2..8 keys are all integral (long stats) with real bounds (an
    * all-null key has none), lexicographic range-clustering otherwise,
    * plain round-robin when there is no in-file key at all (a
    * partitioned leaf whose stored keys are all path-encoded, or an
    * input without a manifest, just compacts). */
  private def clusteredRewriteTo(src: DataFrame, keys: Seq[String],
                                 tmp: String, files: Int): Unit = {
    val cols = keys.map(col)
    val code =
      if (keys.length < 2 || keys.length > 8 ||
          !keys.forall(k => isIntegral(src.schema(k).dataType))) None
      else curveCodeOf(src, cols, Curve.ZOrder)
    code match {
      case Some(c) => writeClusteredBy(src, c, tmp, files)
      case None if keys.nonEmpty =>
        writeRangeClustered(src, cols, tmp, files)
      case None =>
        src.repartition(files).write.mode("overwrite").parquet(tmp)
    }
  }

  /** Per-call outcome of the OPTIMIZE verbs. `worstDepthBefore` is
    * the max point-lookup depth across the stored keys at call time —
    * the signal that fired (or declined) the rewrite. `filesKept`
    * counts files left VERBATIM (name, bytes, and manifest row all
    * untouched): 0 for a flat full rewrite, the selection complement
    * otherwise (unfired leaves, unselected files), everything for a
    * declined no-op. */
  final case class OptimizeStats(reclustered: Boolean, filesBefore: Int,
                                 filesAfter: Int, worstDepthBefore: Long,
                                 filesKept: Int = 0)

  /** The leaf directory of a manifest / listing file URI — the root
    * of a flat layout, the `k=v` leaf of a partitioned one. */
  private def leafOf(file: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(new java.net.URI(file)).getParent

  /** The per-leaf rewrite under [[rewriteSelected]] and [[compact]]:
    * `files` group by leaf directory — one group on a flat layout (the
    * root), one per touched leaf on a hive-partitioned tree — and each
    * group's [[Stage]], moving into its leaf,
    *   1. reads under `schema` with its deletion vectors applied
    *      ([[readFilesOf]]), so the output is vector-free — the rewrite
    *      IS the vector purge — and any columns an evolution added are
    *      materialized (null where a row predates them); partition
    *      columns drop, the leaf path re-derives them;
    *   2. [[clusteredRewriteTo]]s over the in-file keys into
    *      `target(leaf)` with `outputsFor(its files)` outputs. */
  private def rewriteLeaves(spark: org.apache.spark.sql.SparkSession,
                            dir: String, files: Seq[String],
                            schema: org.apache.spark.sql.types.StructType,
                            partCols: Seq[String], fileKeys: Seq[String],
                            dv: Map[String, String],
                            outputsFor: Seq[String] => Int,
                            target: Path => Path): Seq[Stage] =
    files.sorted.groupBy(leafOf).toSeq.sortBy(_._1.toString).map {
      case (leaf, group) =>
        val out = target(leaf)
        Stage(out, leaf, () => clusteredRewriteTo(
          readFilesOf(spark, dir, group, schema, dv = dv).drop(partCols: _*),
          fileKeys, out.toString, outputsFor(group)))
    }

  /** The ONE rewrite core under both OPTIMIZE verbs: the verbs only
    * SELECT (`files`, empty = declined); every layout shape rewrites
    * the same way — [[rewriteLeaves]] stages each touched leaf under a
    * `_graft_optimize_tmp` dir inside it, and [[commit]] moves them in
    * and patches the manifest once: unselected files keep their rows
    * verbatim (their stats and blooms cannot drift), the new files'
    * delta rows append. The manifest is never rebuilt from the data,
    * so a layout carrying `_graft_dv` stores optimizes like any other.
    *
    * The schema sidecar retires only when every live file was
    * rewritten (a kept file may predate an added column, and retiring
    * the sidecar would revert its reads to footer sampling) and the
    * layout is untracked: retained generations still reference
    * RETIRED pre-evolution files that resolve under it. */
  private def rewriteSelected(spark: org.apache.spark.sql.SparkSession,
                              scope: Scope, dvMap: Map[String, String],
                              sweep: DepthSweep, files: Seq[String],
                              outputsFor: Seq[String] => Int,
                              worst: Long, verifyCoverage: Boolean,
                              verb: String): OptimizeStats = {
    val before = scope.before
    if (files.isEmpty)
      return OptimizeStats(reclustered = false, before.size, before.size,
        worst, filesKept = before.size)
    if (verifyCoverage)
      // the rewrite re-writes the selected files' rows, so rows the
      // manifest never blessed (a crashed delete's duplicate
      // survivors, a crashed out-of-band append) would be made
      // permanent in the new layout; checked over the whole dir so
      // debris in KEPT files fails loudly too instead of surfacing
      // only on the next mutation
      scope.requireCovered(sweep.files.map(_.file).toSet,
        "the rewrite would silently legitimize their rows into the new " +
          "layout")
    commit(spark, scope, verb,
      rewriteLeaves(spark, scope.dir, files, scope.schema, scope.partCols,
        scope.fileKeys, dvMap, outputsFor, stagingDir(_, "_graft_optimize_tmp")),
      files)
    if (!generationsEnabled(scope.fs, scope.dir) && before.subsetOf(files.toSet))
      retireSchemaSidecars(scope.fs, scope.dir)
    OptimizeStats(reclustered = true, before.size,
      liveFilesOf(spark, scope.dir, Some(scope.schema)).length, worst,
      filesKept = before.size - files.size)
  }

  /** Both OPTIMIZE verbs' planning input, off one collect: the
    * [[DepthSweep]] of every stored key per leaf — each file's parent
    * directory in the manifest's URI spelling — and file → vector store
    * of the vectorized live files. */
  private def planOf(scope: Scope): (DepthSweep, Map[String, String]) = {
    val sweep = sweepOf(scope.manifest, scope.keys,
      regexp_replace(col("file"), "/[^/]+$", ""))
    (sweep, sweep.files.collect {
      case f if f.dvPath.nonEmpty && scope.before(f.file) => f.file -> f.dvPath.get
    }.toMap)
  }

  /** The in-place OPTIMIZE verb — [[needsRecluster]]'s trigger and
    * the clustered rewrite in one call, the Delta `OPTIMIZE ZORDER BY`
    * shape for a live manifest-carrying directory. Fired groups
    * rewrite WHOLE into `files` clustered outputs each: Z-ordered over
    * the in-file stored keys when there are 2+ and all carry long
    * stats (multi-dimensional boxes — the layout the pruned reads
    * want), else lexicographic range-clustering on the keys in
    * manifest order, else (every stored key a partition column) plain
    * compaction. The rewrite, manifest patch and crash windows are
    * [[rewriteSelected]]'s; below the trigger the call is a
    * metadata-only no-op unless `force`d, and `force` rewrites every
    * file.
    *
    * The depth signal is [[DepthSweep.leafDepthsOf]]: every stored
    * key's sweep per leaf directory — the TRUE cost of a
    * partition-pruned lookup, since files in other leaves never stack
    * on it (a flat layout is one leaf). Every planning input (depths,
    * per-leaf file counts, vectors, coverage) comes off ONE collect of
    * the manifest ([[planOf]]): no job over a held manifest, one
    * otherwise, O(files × keys) values on the driver.
    *
    * Flat layout: the worst depth across ALL stored keys reaching
    * `maxDepth`, or any deletion vector present, rewrites the whole
    * directory — the vector purge: the read-side anti-join tax is
    * exactly what the rewrite clears.
    *
    * Hive-partitioned layout, LEAF-selective: each `k=v` leaf carries
    * its own signals. A leaf rewrites when any fires: its
    * depth over the IN-FILE keys reaches `maxDepth` (clustering — a
    * partition-column key is excluded because its per-leaf "depth" is
    * just the file count, which would re-classify every rewritten leaf
    * deep forever once `files >= maxDepth`); it holds more than
    * `files` files (fragmentation — the only signal a layout whose
    * stored keys are all partition columns has); or it carries
    * deletion vectors (the per-leaf purge). A day's churn into one
    * partition rewrites one leaf, not the table; every other leaf
    * keeps its files and manifest rows verbatim. The reported
    * `worstDepthBefore` is the per-leaf worst over ALL stored keys. */
  def optimize(spark: org.apache.spark.sql.SparkSession, dir: String,
               files: Int, maxDepth: Long = 4L,
               force: Boolean = false,
               verifyCoverage: Boolean = true,
               expectedGen: Option[Long] = None): OptimizeStats = {
    require(files >= 1, "optimize needs files >= 1")
    val scope = scopeOf(spark, dir, expectedGen, "optimize")
    val (sweep, dvMap) = planOf(scope)
    val depths = sweep.leafDepthsOf(scope.keys)
    val worst = sweep.worstOf(scope.keys)
    // leaf identity is compared by fs path (the manifest's URI
    // spelling and the listing's can differ on authority form)
    def pathOf(uri: String) =
      new org.apache.hadoop.fs.Path(new java.net.URI(uri)).toUri.getPath
    def leafKey(uri: String) = leafOf(uri).toUri.getPath
    val fired =
      if (scope.partCols.isEmpty) {
        if (force || worst >= maxDepth || dvMap.nonEmpty)
          scope.before.toSeq else Nil
      } else {
        val filesByLeaf = sweep.files.groupMapReduce(f => leafKey(f.file))(_ => 1)(_ + _)
        val firedLeaves = depths.collect {
            case (leaf, k, w) if w >= maxDepth && scope.fileKeys.contains(k) =>
              pathOf(leaf)
          }.toSet ++
          filesByLeaf.filter(_._2 > files).keySet ++
          dvMap.keySet.map(leafKey)
        scope.before.toSeq.filter(f => force || firedLeaves(leafKey(f)))
      }
    rewriteSelected(spark, scope, dvMap, sweep, fired, _ => files, worst,
      verifyCoverage, "optimize")
  }

  /** SELECTIVE in-place OPTIMIZE — the Delta/Iceberg bin-packed
    * rewrite granularity [[optimize]] lacks: rewrite ONLY the files
    * the depth profile names — those whose key interval covers a
    * boundary at depth ≥ `maxDepth` on ANY in-file stored key — plus
    * the small-file tail (`n_rows < minFileRows`, opt-in) plus the
    * vectorized files whose read tax crossed `minDvRatio`
    * (`dv_rows / n_rows`: at the default 0 every vectorized file, so
    * the rewrite — vector applied — is the purge; higher ratios let
    * hotspots self-heal without churning lightly-vectorized files).
    * Each leaf's selection bin-packs into
    * `ceil(its selected rows / targetRows)` clustered outputs. Every
    * other file keeps its exact name, bytes, and manifest row
    * VERBATIM ([[OptimizeStats.filesKept]] counts them). At 100 TB
    * this is the difference between a full-table I/O event per
    * trigger and work proportional to the degradation: appends
    * degrade depth locally (a day's unclustered ingest overlaps one
    * key band), and this verb pays only for that band.
    *
    * Selection is conservative-correct by construction: every file
    * stacked at a deep boundary is in the rewrite set (they are
    * precisely the files whose intervals cover it), so the rewritten
    * outputs — range/Z-clustered among themselves — flatten the
    * stack; untouched files sat below the trigger everywhere and
    * cannot deepen (their stats are unchanged). The rewrite,
    * manifest patch and crash windows are [[rewriteSelected]]'s.
    *
    * The depth profile is [[DepthSweep.deepFilesOf]] per leaf
    * directory — a file is deep when it covers a boundary whose depth
    * WITHIN ITS OWN LEAF reaches `maxDepth`. The selection (deep,
    * small and heavy-vector files, each leaf's rows) comes off ONE
    * collect of the manifest ([[planOf]]): no job over a held
    * manifest, one otherwise, O(files × keys) values on the driver.
    *
    * Flat layout (one leaf): nothing is selected unless the worst depth reaches
    * `maxDepth` or a heavy vector exists; `force` skips that trigger,
    * but the rewrite set still derives from the profile — with
    * nothing deep, no small files and no vectors the call is a no-op
    * (use [[optimize]] with `force` for an unconditional full
    * rewrite).
    *
    * Hive-partitioned layout: a hot leaf's cold files stay verbatim, and a year-sized leaf holding
    * one day of degraded ingest pays one day's I/O, not a year's.
    * There is no separate trigger (the per-leaf selection is one);
    * pure fragmentation (too many well-clustered files) is
    * [[optimize]]'s signal, not this verb's. The reported
    * `worstDepthBefore` is the per-leaf worst over the in-file keys. */
  def optimizeSelective(spark: org.apache.spark.sql.SparkSession,
                        dir: String, targetRows: Long,
                        maxDepth: Long = 4L, minFileRows: Long = 0L,
                        force: Boolean = false,
                        verifyCoverage: Boolean = true,
                        expectedGen: Option[Long] = None,
                        minDvRatio: Double = 0.0): OptimizeStats = {
    require(targetRows >= 1, "optimizeSelective needs targetRows >= 1")
    require(minDvRatio >= 0.0 && minDvRatio <= 1.0,
      s"optimizeSelective needs minDvRatio in [0, 1], got $minDvRatio")
    val scope = scopeOf(spark, dir, expectedGen, "optimizeSelective")
    val (sweep, dvMap) = planOf(scope)
    // the vectorized files whose read tax crossed minDvRatio: at 0
    // every vectorized file, so the rewrite — vector applied — is the
    // purge; higher ratios leave light vectors in place
    val heavyDv = sweep.files.filter(f => dvMap.contains(f.file) &&
      f.dvRows >= f.rows * minDvRatio).map(_.file)
    val worst = sweep.worstOf(scope.fileKeys)
    val selected =
      if (scope.partCols.isEmpty && !force && worst < maxDepth &&
          heavyDv.isEmpty) Nil
      else (sweep.deepFilesOf(scope.fileKeys, maxDepth) ++
        sweep.files.filter(_.rows < minFileRows).map(_.file) ++ heavyDv).toSeq
    val rowsByFile = sweep.files.map(f => f.file -> f.rows).toMap
    def outputsFor(files: Seq[String]): Int = {
      val rows = files.map(rowsByFile).sum
      math.max(1L, (rows + targetRows - 1L) / targetRows).toInt
    }
    rewriteSelected(spark, scope, dvMap, sweep, selected, outputsFor, worst,
      verifyCoverage, "optimizeSelective")
  }

  /** Write `df` as a managed parquet table hash-bucketed (and sorted
    * within buckets) on `key`. Two tables bucketed on their join key
    * with the SAME bucket count sort-merge join with ZERO exchange on
    * either side — the shuffle happened once, at write time, and
    * every subsequent join of the pair reads aligned buckets. At
    * 100 TB this is the difference between re-shuffling the fact
    * table per query and never shuffling it again: bucket the big
    * fact tables on their primary join key at ingest, pick
    * `nBuckets` so each bucket file lands near ~1 GiB, and size
    * both sides of a co-located pair identically (bucket counts must
    * match for the exchange to be elided).
    *
    * `path` makes the table external at that location — pass a fresh
    * directory when the catalog is session-scoped (a managed table's
    * warehouse directory outlives an in-memory catalog, and Spark
    * refuses to re-create a managed table over a leftover location).
    * The table is dropped from the catalog first either way, so the
    * same name is reusable within a session. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    nBuckets: Int, path: Option[String] = None): Unit = {
    df.sparkSession.sql(s"DROP TABLE IF EXISTS $table")
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, key).sortBy(key)
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Small-file compaction: rewrite a layout into files near
    * `targetBytes` each, under `outPath` — compaction never reads and
    * overwrites the same live directory. Streaming sinks,
    * per-partition incremental appends, and over-parallel writers all
    * leave directories of kilobyte files, and at 100 TB the resulting
    * footer/open overheads and starved scan parallelism dominate
    * query time — periodic compaction back to ~1 GiB files is routine
    * lakehouse maintenance.
    *
    * One verb for flat and hive-partitioned layouts, with or without a
    * manifest: each leaf directory (the root of a flat layout, each
    * `k=v` leaf of a partitioned one, preserved under `outPath` so a
    * partition-discovering read of the output sees the same partition
    * columns) rewrites through the OPTIMIZE rewrite's own per-leaf
    * steps ([[rewriteLeaves]]) into `ceil(leaf bytes / targetBytes)`
    * files, sized from the ACTUAL on-disk bytes (Hadoop listing — one
    * number per input file). The rows are read under the stored schema
    * with their deletion vectors applied, so compaction PURGES vectors,
    * and a schema-EVOLVED input's added columns are materialized (null
    * where a row predates them): the output is schema-homogeneous and
    * needs no sidecar — compaction finishes the evolution, the way
    * Delta's OPTIMIZE upgrades files.
    *
    * A manifest-carrying input compacts only its manifest's live
    * files, after the coverage guard fails loudly on any non-empty
    * file the manifest does not cover (copying it would bless
    * out-of-band rows); the rewrite clusters on the in-file stored
    * keys, and the output gets a manifest from one stats pass over its
    * files, with the input's keys and blooms. An input without a
    * manifest lists every data file and compacts round-robin. A
    * directory mixing data files with partition subdirectories is not
    * a hive layout and fails loudly. Returns (inputFiles,
    * outputFiles). */
  def compact(spark: org.apache.spark.sql.SparkSession, inPath: String,
              outPath: String, targetBytes: Long = 1L << 30): (Int, Int) = {
    val conf = spark.sparkContext.hadoopConfiguration
    requireDisjointDirs(conf, inPath, outPath, "compact")
    val hIn = new org.apache.hadoop.fs.Path(inPath)
    val fs = hIn.getFileSystem(conf)
    val listed = dataFilesUnder(fs, hIn)
    require(listed.nonEmpty, s"compact: no data files in $inPath")
    def pathOf(p: org.apache.hadoop.fs.Path) = fs.makeQualified(p).toUri.getPath
    val dirs = listed.map(st => pathOf(st.getPath.getParent)).distinct
    require(!dirs.exists(d => dirs.exists(_.startsWith(d + "/"))),
      s"$inPath mixes data files with partition subdirectories — not a hive layout")
    val manifest =
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$inPath/_graft_manifest")))
        Some(loadManifest(spark, inPath))
      else None
    val schema = liveSchemaOf(spark, inPath)
    val dirFrame = spark.read.schema(schema).parquet(inPath)
    val files = manifest.fold(listed.map(_.getPath.toString)) { m =>
      requireEncodingStablePath(outPath)
      val known = m.select("file").collect().map(_.getString(0)).toSeq
      requireManifestCovers(spark, dirFrame, known.toSet, inPath,
        "compact reads only the manifest's files and would silently drop " +
          "their rows")
      known
    }
    val partCols =
      if (isHivePartitioned(spark, inPath))
        hivePartColsChecked(fs, hIn, dirFrame.schema)
      else Nil
    val keys = manifest.fold(Seq.empty[String])(m => manifestKeysOf(m.schema))
    val bytes = listed.map(st => pathOf(st.getPath) -> st.getLen).toMap
    val root = pathOf(hIn)
    rewriteLeaves(spark, inPath, files, schema, partCols,
      keys.filterNot(partCols.contains),
      manifest.fold(Map.empty[String, String])(dvMapOf(_, files)),
      group => {
        val leafBytes = group.map(f =>
          bytes(pathOf(new org.apache.hadoop.fs.Path(new java.net.URI(f))))).sum
        math.max(1, math.ceil(leafBytes.toDouble / targetBytes).toInt)
      },
      leaf => new Path(outPath + pathOf(leaf).stripPrefix(root)))
      .foreach(_.write())
    // the output may live on a DIFFERENT filesystem than the input
    // (the disjointness guard deliberately allows cross-FS pairs) —
    // list it with its own
    val hOut = new org.apache.hadoop.fs.Path(outPath)
    val outFiles = dataFilesUnder(hOut.getFileSystem(conf), hOut)
      .map(_.getPath.toString)
    for (m <- manifest)
      manifestOf(readFilesOf(spark, outPath, outFiles, schema), keys,
          bloomKeysOf(m.schema))
        .write.mode("overwrite").parquet(s"$outPath/_graft_manifest")
    (listed.length, outFiles.length)
  }

  /** Compaction must never read and rewrite the same live directory,
    * and the output must not land INSIDE the input tree either (the
    * input's listing would pick up freshly written output as a
    * partition and compact it again) — nor the input inside the output
    * (overwrite semantics could clobber live data). Qualified-URI
    * prefix comparison, so relative spellings and trailing slashes
    * cannot dodge the guard. */
  private def requireDisjointDirs(conf: org.apache.hadoop.conf.Configuration,
                                  inPath: String, outPath: String,
                                  what: String): Unit = {
    // each path qualifies against its OWN filesystem (a schemeless
    // spelling must resolve to the default FS, not the other path's).
    // Scheme and host compare case-insensitively and a MISSING port is
    // treated as matching any port — `hdfs://nn/x` and
    // `hdfs://nn:8020/x` usually name the same namenode, and a guard
    // must err toward rejecting the ambiguous spelling, not letting a
    // nested output dodge the prefix check on a default-port detail.
    def parts(p: String): (String, String, Int, String) = {
      val hp = new org.apache.hadoop.fs.Path(p)
      val u = hp.getFileSystem(conf).makeQualified(hp).toUri
      // Hadoop Path normalization already collapses ".", duplicate
      // slashes, and INTERIOR ".." (Path.initialize URI-normalizes),
      // so the prefix comparison below sees resolved paths; the one
      // spelling that survives normalization is an unresolvable
      // LEADING ".." — refuse it rather than compare garbage
      require(!u.getPath.split("/").contains(".."),
        s"$what does not accept '..' path segments: $p")
      // java.net.URI.getHost is null for authorities it cannot parse
      // as hostnames (e.g. underscored HA nameservice IDs) — fall back
      // to the raw authority, stripping userinfo (getHost would) and
      // splitting a trailing :port into the port slot so the
      // missing-port-matches-any rule below still applies
      val (host, port) = Option(u.getHost) match {
        case Some(h) => (h.toLowerCase, u.getPort)
        case None =>
          val raw = Option(u.getAuthority).getOrElse("").toLowerCase
          val a = raw.substring(raw.indexOf('@') + 1)
          val i = a.lastIndexOf(':')
          if (i >= 0 && i < a.length - 1 && a.drop(i + 1).forall(_.isDigit))
            (a.take(i), a.drop(i + 1).toInt)
          else (a, -1)
      }
      (Option(u.getScheme).getOrElse("").toLowerCase, host, port,
        u.getPath.stripSuffix("/"))
    }
    val (inScheme, inHost, inPort, inDir) = parts(inPath)
    val (outScheme, outHost, outPort, outDir) = parts(outPath)
    val sameFs = inScheme == outScheme && inHost == outHost &&
      (inPort == outPort || inPort == -1 || outPort == -1)
    val nested = inDir == outDir ||
      outDir.startsWith(inDir + "/") || inDir.startsWith(outDir + "/")
    require(!(sameFs && nested),
      s"$what requires disjoint input and output directories; " +
        s"got $inPath and $outPath")
  }
}
