package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Schema-first readers for the reference's document model
  * (RDME:40-42): 3-level nested securities documents whose numeric
  * fields may hold the string "NA" or null (NOSQL:29-33).
  *
  * Policy (SURVEY §7.4 Q2): numerics are read as STRING and cast
  * after cleaning (`RelationalOps.cleanNumeric` /`numericOrNull`),
  * never inferred — inference would type a clean sample as double and
  * corrupt-record the dirty rows. `columnNameOfCorruptRecord` keeps
  * malformed JSON lines observable instead of silently dropped.
  */
object DocumentSource {

  /** The securities document schema; dirty numerics as StringType. */
  val securitySchema: StructType = StructType(Seq(
    StructField("Symbol", StringType),
    StructField("StaticData", StructType(Seq(
      StructField("SecurityName", StringType),
      StructField("SECFilings", StringType),
      StructField("GICSSector", StringType),
      StructField("GICSSubIndustry", StringType)))),
    StructField("MarketData", StructType(Seq(
      StructField("Price", StringType),
      StructField("MarketCap", StringType),
      StructField("Beta", StringType)))),
    StructField("FinancialRatios", StructType(Seq(
      StructField("DividendYield", StringType),
      StructField("PERatio", StringType),
      StructField("PayoutRatio", StringType)))),
    StructField("_corrupt_record", StringType)))

  /** Read newline-delimited JSON securities with the explicit schema.
    * PERMISSIVE + corrupt-record column: a malformed line yields a row
    * with only `_corrupt_record` set. */
  def securitiesJson(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(securitySchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** Generic schema-first CSV reader (header, explicit schema). */
  def csv(spark: SparkSession, path: String, schema: StructType,
          delimiter: String = ","): DataFrame =
    spark.read
      .schema(schema)
      .option("header", "true")
      .option("delimiter", delimiter)
      .option("mode", "PERMISSIVE")
      .csv(path)

  /** Raw-media ingestion: read a directory of image/audio/video files
    * as one row per file — `path`, `modificationTime`, `length`,
    * `content` (binary) — via Spark's built-in `binaryFile` source.
    * This is the on-ramp into the [[graft.ext.Multimodal]] battery:
    * header parsing (PNG/WAV/JPEG/MP4), validation, and the decode
    * plumbing all take the `content` column as-is.
    *
    * Scale posture: each file is one indivisible row, so parallelism
    * = file count (a 10-file directory uses 10 tasks no matter the
    * cluster). Fine for the typical many-small-media-files layout;
    * for millions of tiny files the listing itself is the bottleneck —
    * ingest once with this reader, then compact into parquet with the
    * payload as a binary column ([[writeParquet]]) and scan THAT at
    * pipeline scale (the `documents`-table shape the q_mm_* gates
    * run on). `maxLength` guards against a stray huge file OOMing a
    * task: it is applied as a `length <= maxLength` filter on the
    * source's METADATA column, which binaryFile pushes into the file
    * listing — oversized files are excluded without their content
    * ever being read. (Deliberately NOT the `spark.sql.sources
    * .binaryFile.maxLength` session conf: the source exposes no
    * per-read option, and a session-conf mutation would silently
    * alter every later binaryFile read on the session — and because
    * the frame is lazy, no save/restore point is sound. Semantics
    * differ usefully too: the conf FAILS the query on an oversized
    * file, the filter SKIPS it; audit skipped files with a
    * metadata-only read of `length > maxLength` when that matters.) */
  def binaryFiles(spark: SparkSession, dir: String,
                  glob: Option[String] = None,
                  maxLength: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val r = spark.read.format("binaryFile")
    val r1 = glob.fold(r)(g => r.option("pathGlobFilter", g))
    val df = r1.load(dir)
    maxLength.fold(df)(m => df.filter(col("length") <= m))
  }

  /** Partitioned parquet writer — the engine's sink for derived
    * tables. `partitionBy` columns become directory partitions so
    * downstream date/key filters prune at the file level. */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }
}
