package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

object Tables {
  /** Normalize the events `ts` column to TIMESTAMP (instant
    * semantics), tolerant of every encoding the testdata generator
    * has produced; no-op when `ts` is absent or already TIMESTAMP.
    *
    *   - parquet TIMESTAMP(NANOS): Spark rejects nanos by default, so
    *     sessions set `spark.sql.legacy.parquet.nanosAsLong=true` and
    *     the column arrives as LongType nanos — truncate to µs (the
    *     same truncation DuckDB applies, so oracle comparisons agree);
    *   - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives as
    *     TIMESTAMP_NTZ — cast to TIMESTAMP. The session time zone is
    *     pinned UTC ([[graft.GraftSession]]), so the wall-clock →
    *     instant mapping is exact and hashes are encoding-independent;
    *   - parquet TIMESTAMP(MICROS, isAdjustedToUTC=true): already
    *     TIMESTAMP, pass through.
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", df.col("ts").cast(TimestampType))
      case _ => df
    }
}

/** Parquet table loaders for the driver testdata layout
  * (`TESTDATA.md`): one parquet file per table under a scale-factor
  * directory. Column pruning and filter pushdown reach the parquet
  * scan because we hand Catalyst the raw relation and express all
  * selection declaratively downstream. A single-file table reads
  * under its footer schema, read on the driver, so building its frame
  * launches no schema-inference job; a table stored as a directory
  * keeps Spark's own inference.
  */
final case class Tables(spark: SparkSession, dir: String) {
  def table(name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val df =
      if (scala.util.Try(fs.getFileStatus(hPath).isFile).getOrElse(false))
        spark.read.schema(graft.ext.ManifestSnapshot.footerSchema(spark, hPath))
          .parquet(path)
      else spark.read.parquet(path)
    if (name == "events") Tables.normalizeEventTs(df) else df
  }

  def region: DataFrame    = table("region")
  def nation: DataFrame    = table("nation")
  def customer: DataFrame  = table("customer")
  def supplier: DataFrame  = table("supplier")
  def part: DataFrame      = table("part")
  def orders: DataFrame    = table("orders")
  def lineitem: DataFrame  = table("lineitem")
  def events: DataFrame    = table("events")
  def documents: DataFrame = table("documents")
  def embeddings: DataFrame = table("embeddings")

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every table as a temp view so `spark.sql` works against
    * bare table names (the analogue of the reference's
    * `set search_path = cash_equity, ...`, SQLQueries.sql:7). */
  def registerAll(): Unit = names.foreach(n => table(n).createOrReplaceTempView(n))
}
