package graft.ext

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.{DataType, StructType}

import scala.jdk.CollectionConverters._

/** One table version's manifest, as the driver knows it: the
  * manifest's schema, its part files, its rows when they are small
  * enough to hold (collected once, by the loader), and — filled in at
  * most once, on first use — the layout's data schema read from one of
  * the version's data files. Immutable apart from that memo.
  *
  * Consumers never see the rows directly. When they are held,
  * [[frame]] wraps them in a fresh [[LocalRelation]], and Spark's
  * `ConvertToLocalRelation` folds a Filter/Project over it on the
  * driver, so a skip predicate or a projection collects without
  * launching a job while the predicate itself stays the one `Column`
  * expression the Layout verbs build. An aggregate over the frame
  * still plans as a job. When they are not held, [[frame]] reads the
  * part files under the known schema, and the same predicate runs on
  * the executors. */
private[graft] final class ManifestSnapshot private (
    val schema: StructType, parts: Seq[String],
    held: Option[LocalRelation]) {

  /** Whether the rows sit on the driver. */
  def isHeld: Boolean = held.nonEmpty

  /** Heap bytes the snapshot pins, as Spark's `SizeEstimator` measures
    * them: the held rows, else the part-file names. */
  val bytes: Long = org.apache.spark.util.SizeEstimator
    .estimate(held.fold[AnyRef](parts)(_.data))

  /** The manifest as a DataFrame of `spark`. Held rows get fresh
    * attribute ids per call, so two frames of one snapshot self-join
    * safely. */
  def frame(spark: SparkSession): DataFrame = held match {
    case Some(r) => GraftColumnBridge.frameOf(spark, r.newInstance())
    case None => spark.read.schema(schema).parquet(parts: _*)
  }

  private val inferred =
    new java.util.concurrent.atomic.AtomicReference[StructType]()

  /** The data schema `infer` computes, memoized for this version: its
    * files are immutable, so one read serves every later one. */
  def dataSchema(infer: => StructType): StructType = {
    if (inferred.get == null) inferred.compareAndSet(null, infer)
    inferred.get
  }
}

private[graft] object ManifestSnapshot {

  /** Bound on the heap bytes the snapshot cache pins, summed over
    * every cached version of every table ([[ManifestSnapshot.bytes]]).
    * A version's rows are held on the driver only up to an eighth of
    * this ([[Cache.maxHeldBytes]], 8 MiB); a larger manifest is
    * cached as its part-file list and read on the executors, as every
    * manifest read was before snapshots. Measured with `SizeEstimator`
    * (Spark 4.0, 64-bit JVM) on manifests of 16 and 256 files: a row of
    * two range keys and a deletion-vector column holds 280–300 bytes,
    * and each bloom-indexed key adds 8.3 KB (its 8 KiB bitset). So one
    * version holds up to about 28,000 stats-only rows, or about 970
    * rows with one bloom key. */
  val MaxCachedBytes: Long = 64L << 20

  private val cache = new Cache(MaxCachedBytes)

  /** Whether `rows` manifest rows of `schema` fit the bound one version
    * may hold on the driver ([[Cache.maxHeldBytes]]), at the row sizes
    * measured above: 300 bytes, plus 8.3 KB per bloom-indexed key. */
  def fitsHeld(rows: Long, schema: StructType): Boolean =
    rows * (300L + 8500L * schema.fieldNames.count(_.startsWith("bloom_"))) <=
      cache.maxHeldBytes

  /** Heap bytes the snapshot cache pins now. */
  def cachedBytes: Long = cache.heldBytes

  /** The snapshot of the manifest stored at `manifestDir` (a live
    * `_graft_manifest` or an archived `_graft_history/gen=N`), from
    * the JVM-wide cache.
    *
    * The cache key is the LISTING of the manifest's part files (name,
    * length, modification time) under the qualified directory. Spark
    * stamps a fresh write UUID into every part-file name, so any
    * rewrite of a manifest — a tracked commit, an untracked in-place
    * patch, a hand-written manifest, a table deleted and rebuilt at
    * the same path — changes the key, and no generation counter is
    * trusted. A hit costs that one listing. A miss reads the part
    * files' footers on the driver, for the schema and for the rows'
    * uncompressed size. Within [[Cache.maxHeldBytes]] it collects
    * the rows in one job, and holds them if their measured heap size
    * fits too; otherwise it reads no row at all. Reading the part
    * files by name, never the `_`-prefixed directory, keeps Spark's
    * hidden-path filter (and its "All paths were ignored" warning)
    * out of the path. */
  def load(spark: SparkSession, manifestDir: Path): ManifestSnapshot =
    load(spark, manifestDir, cache)

  private[graft] def load(spark: SparkSession, manifestDir: Path,
                          cache: Cache): ManifestSnapshot = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = manifestDir.getFileSystem(conf)
    val parts: Seq[FileStatus] = fs.listStatus(manifestDir).toSeq
      .filter(st => st.isFile && !hidden(st.getPath.getName))
      .sortBy(_.getPath.getName)
    require(parts.nonEmpty, s"manifest directory $manifestDir holds no part file")
    val key = (fs.makeQualified(manifestDir).toString,
      parts.map(st => (st.getPath.getName, st.getLen, st.getModificationTime)))
    cache.getOrLoad(key) {
      val footers = parts.map(st => footerOf(spark, st.getPath))
      val schema = schemaOf(spark, footers.head)
      val paths = parts.map(_.getPath.toString)
      val unheld = new ManifestSnapshot(schema, paths, None)
      // the rows' plain-encoded size; their heap copy is never smaller
      // than their bytes, and the measure below bounds what is kept
      val encoded = footers.iterator.flatMap(_.getBlocks.iterator.asScala)
        .map(_.getTotalByteSize).sum
      if (encoded > cache.maxHeldBytes) unheld
      else {
        val attrs = DataTypeUtils.toAttributes(schema)
        val collected = spark.read.schema(schema).parquet(paths: _*).collect()
        // held as UnsafeRows: one byte array per row, where generic rows
        // would box every element of a bloom bitset's array
        val toUnsafe = UnsafeProjection.create(schema)
        val snap = new ManifestSnapshot(schema, paths, Some(LocalRelation(attrs,
          LocalRelation.fromExternalRows(attrs, collected.toSeq).data
            .map(toUnsafe(_).copy()))))
        if (snap.bytes > cache.maxHeldBytes) unheld else snap
      }
    }
  }

  private def hidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")

  private def footerOf(spark: SparkSession, file: Path): ParquetMetadata = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file,
        spark.sparkContext.hadoopConfiguration))
    try reader.getFooter finally reader.close()
  }

  /** A parquet file's Spark schema read from its footer on the driver —
    * what Spark's own schema inference returns for a file it wrote
    * (the row-metadata key, else the parquet type conversion), made
    * nullable as every file-source read is, but without the one-task
    * inference job. */
  def footerSchema(spark: SparkSession, file: Path): StructType =
    schemaOf(spark, footerOf(spark, file))

  private def schemaOf(spark: SparkSession, footer: ParquetMetadata): StructType = {
    val meta = footer.getFileMetaData
    val fromSpark = Option(meta.getKeyValueMetaData.get(SparkRowMetadataKey))
      .flatMap(json => scala.util.Try(DataType.fromJson(json)).toOption)
      .collect { case s: StructType => s }
    GraftColumnBridge.nullable(fromSpark.getOrElse(
      new org.apache.spark.sql.execution.datasources.parquet
        .ParquetToSparkSchemaConverter(spark.sessionState.conf)
        .convert(meta.getSchema)))
  }

  private val SparkRowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  /** A least-recently-used map of snapshots whose summed
    * [[ManifestSnapshot.bytes]] stay at or under `maxBytes`, checked on
    * every insert. [[load]] holds a version's rows only up to
    * [[maxHeldBytes]], so no one version fills more than an eighth
    * of the cache. Loads run outside the lock (a miss may be a Spark
    * job); two threads missing on one key both load, and the first
    * insert wins. */
  final class Cache(maxBytes: Long) {
    val maxHeldBytes: Long = maxBytes / 8

    private val entries =
      new java.util.LinkedHashMap[AnyRef, ManifestSnapshot](16, 0.75f, true)
    private var held = 0L

    def getOrLoad(key: AnyRef)(load: => ManifestSnapshot): ManifestSnapshot = {
      val hit = synchronized(entries.get(key))
      if (hit != null) return hit
      val loaded = load
      synchronized {
        val raced = entries.get(key)
        if (raced != null) raced
        else {
          if (loaded.bytes <= maxBytes) {
            entries.put(key, loaded)
            held += loaded.bytes
            // eldest first; the entry just put is the youngest, and it
            // alone fits, so eviction stops before reaching it
            val it = entries.values.iterator
            while (held > maxBytes) {
              held -= it.next().bytes
              it.remove()
            }
          }
          loaded
        }
      }
    }

    /** Bytes held now — at most `maxBytes`. */
    def heldBytes: Long = synchronized(held)

    def size: Int = synchronized(entries.size)
  }
}
