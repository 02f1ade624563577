package graftbench

import scala.util.Random

import graft.ext.Layout
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The `table_churn` workload: a generation-tracked graft table
  * written once from lineitem with Layout's Z-order writer and a stored
  * manifest, then per pass: an upsert batch, a deletion-vector delete
  * whose rows are appended back, the workload's query ops and
  * manifest-pruned and `format("graft")` reads, each over a seeded key
  * box, and last a selective optimize.
  *
  * Every read is checked against a reference model: plain DataFrames
  * with the same seeded changes applied (the base lineitem rows plus a
  * small table of upserted quantities). Deletes are always followed at
  * once by the append that restores their rows, so the model never
  * has to represent a deletion and the live row count stays constant.
  *
  * @param corrupt perturb the model, so every read check must fail
  *                (the self-test uses this to prove the check bites) */
final class Churn(spark: SparkSession, sfDir: String, dir: String, seed: Long,
                  corrupt: Boolean) {
  import Churn._

  private val base: DataFrame = spark.read.parquet(s"$sfDir/lineitem.parquet")
    .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
      col("l_partkey"), col("l_suppkey"), col("l_quantity"),
      col("l_extendedprice"), col("l_returnflag"))
  private val columns = base.columns.toSeq

  /** Upserted quantities by key; localCheckpointed after every change
    * so the model's plan stays two scans and one join. */
  private var overrides: DataFrame =
    base.limit(0).select(Keys.map(col) :+ col("l_quantity"): _*)

  /** The table's expected rows, pinned in memory after every change so
    * each read check filters a small in-memory frame. */
  private var model: DataFrame = _

  private var maxOrderKey = 0L
  private var maxPartKey = 0L
  private var rowsPerFile = 1L

  private def applyOverrides(): Unit = {
    val old = model
    model = base
      .join(overrides.withColumnRenamed("l_quantity", "q_new"), Keys, "left_outer")
      .withColumn("l_quantity", coalesce(col("q_new"), col("l_quantity")))
      .select(columns.map(col): _*)
      .localCheckpoint()
    if (old != null) unpin(old)
  }

  def setup(): Unit = {
    val r = base.agg(max("l_orderkey"), max("l_partkey"), count(lit(1))).head()
    maxOrderKey = r.getLong(0)
    maxPartKey = r.getLong(1)
    applyOverrides()
    rowsPerFile = math.max(1L, r.getLong(2) / Files)
    Layout.writeZOrderedWithManifest(base, col("l_orderkey"), col("l_partkey"),
      dir, Files, ManifestKeys)
    Layout.enableGenerations(spark, dir)
  }

  /** The ops of one pass, `queries` among them. Every pass does the
    * same kind of table work in one fixed order: the upsert, the delete
    * and its restoring append, then the queries and reads, all of them
    * over the files and deletion vectors those commits left, and last
    * the optimize that compacts them. The seed sets only the inputs.
    * The warm-up pass (index 0) runs each read kind once, to fit the
    * run budget. */
  def pass(index: Int, queries: Seq[Op]): Seq[Op] = {
    val rng = new Random(seed * 1000003L + index)
    val commits = upsert(rng) +: deleteAndRestore(rng)
    val perKind = if (index == 0) 1 else ReadsPerKind
    val reads = queries ++ Seq.fill(perKind)(Seq(prunedRead(rng), graftRead(rng))).flatten
    (commits ++ reads) :+ optimize()
  }

  private def window(rng: Random, width: Long, max: Long): (Long, Long) = {
    val lo = 1L + (rng.nextDouble() * (max - width)).toLong
    (lo, lo + width - 1)
  }

  private def upsert(rng: Random): Op = {
    val (lo, hi) = window(rng, 3000L, maxOrderKey)
    val salt = rng.nextInt(1 << 20)
    val delta = 1 + rng.nextInt(9)
    var batch: DataFrame = null
    var expected = 0L
    var stats: Layout.UpsertStats = null
    Op("upsert", "Layout.dml", "commit",
      prepare = () => {
        batch = model
          .filter(col("l_orderkey").between(lo, hi) &&
            pmod(xxhash64(Keys.map(col) :+ lit(salt): _*), lit(3L)) === 0)
          .withColumn("l_quantity", col("l_quantity") + delta)
          .localCheckpoint()
        expected = batch.count()
      },
      run = () => {
        stats = Layout.upsertByKeys(spark, dir, batch, Keys)
        None
      },
      verify = _ => {
        val applied = batch.select(Keys.map(col) :+
          (col("l_quantity") + (if (corrupt) 1 else 0)).as("l_quantity"): _*)
        val oldOverrides = overrides
        overrides = overrides.join(applied, Keys, "left_anti")
          .unionByName(applied).localCheckpoint()
        unpin(oldOverrides)
        applyOverrides()
        if (stats.rowsUpserted != expected)
          Some(s"upsert wrote ${stats.rowsUpserted} rows, batch has $expected")
        else None
      })
  }

  private def deleteAndRestore(rng: Random): Seq[Op] = {
    val (lo, hi) = window(rng, 1500L, maxOrderKey)
    val box = Layout.KeyBox("l_orderkey", lo, hi)
    var restore: DataFrame = null
    var expected = 0L
    var deleted = 0L
    Seq(
      Op("delete_dv", "Layout.dml", "commit",
        prepare = () => {
          restore = model.filter(col("l_orderkey").between(lo, hi)).localCheckpoint()
          expected = restore.count()
        },
        run = () => {
          deleted = Layout.deleteWhereDv(spark, dir, Seq(box)).rowsDeleted
          None
        },
        verify = _ =>
          if (deleted != expected) Some(s"deleteWhereDv removed $deleted rows, model has $expected")
          else None),
      Op("append", "Layout.write", "commit",
        run = () => {
          Layout.appendWithManifest(restore, dir, ManifestKeys)
          None
        }))
  }

  /** Rewrites the files that carry deletion vectors and the small
    * files the upserts and restoring appends leave; the check is that
    * no deletion vector is left. The depth trigger is off: the Z-order
    * keys interleave, so the other manifest keys always stack deep and
    * would select every file. (The full `optimize` refuses a
    * generation-tracked layout that carries deletion vectors.) */
  private def optimize(): Op =
    Op("optimize", "Layout.optimize", "commit",
      run = () => {
        Layout.optimizeSelective(spark, dir, targetRows = rowsPerFile,
          maxDepth = Long.MaxValue, minFileRows = rowsPerFile / 4, force = true)
        None
      },
      verify = _ => {
        val m = Layout.loadManifest(spark, dir)
        val left =
          if (m.columns.contains("dv_path")) m.filter(col("dv_path").isNotNull).count()
          else 0L
        if (left > 0) Some(s"optimize left $left files with deletion vectors") else None
      })

  private def prunedRead(rng: Random): Op = {
    val (lo, hi) = window(rng, 6000L, maxOrderKey)
    val (plo, phi) = window(rng, maxPartKey / 4, maxPartKey)
    val pred = col("l_orderkey").between(lo, hi) && col("l_partkey").between(plo, phi)
    Op("scan_pruned", "Layout.read", "read",
      run = () => Some(Layout.scanPruned(spark, dir,
        Seq(Layout.KeyBox("l_orderkey", lo, hi), Layout.KeyBox("l_partkey", plo, phi)))),
      verify = df => compare(df.get, model.filter(pred)))
  }

  private def graftRead(rng: Random): Op = {
    val (lo, hi) = window(rng, 10000L, maxOrderKey)
    val pred = col("l_orderkey").between(lo, hi)
    Op("graft_read", "Layout.read", "read",
      run = () => Some(spark.read.format("graft").load(dir).filter(pred)),
      verify = df => compare(df.get, model.filter(pred)))
  }

  private def compare(got: DataFrame, want: DataFrame): Option[String] = {
    val g = Op.digest(got.select(columns.map(col): _*))
    val w = Op.digest(want)
    if (g != w) Some(s"rows/hash ${g} differ from the model's ${w}") else None
  }

  /** Files listed in the table's manifest: the snapshot a pruned read
    * chooses from. */
  def filesLive(): Long = Layout.loadManifest(spark, dir).count()

  /** The whole table against the model, after the run. */
  def finalCheck(): Option[String] =
    compare(spark.read.format("graft").load(dir), model)

  /** Bytes of the table on disk divided by the bytes of a fresh
    * clustered write of the same live rows. */
  def bytesPerLiveByte(freshDir: String): Double = {
    Layout.writeZOrderedWithManifest(spark.read.format("graft").load(dir),
      col("l_orderkey"), col("l_partkey"), freshDir, Files, ManifestKeys)
    dirBytes(dir).toDouble / dirBytes(freshDir)
  }

  private def dirBytes(path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
  }
}

object Churn {
  /** Drops the blocks of a localCheckpointed frame. */
  private def unpin(df: DataFrame): Unit = df.queryExecution.logical match {
    case l: LogicalRDD => l.rdd.unpersist(blocking = false)
    case _ =>
  }

  /** Lineitem's row key: (l_orderkey, l_linenumber) alone repeats in
    * the generated data. Every key column carries manifest stats, as
    * the merge verbs require. */
  val Keys: Seq[String] = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
  val ManifestKeys: Seq[String] = Keys
  val Files = 16
  /** Reads of each kind per pass: two samples per kind within one
    * pass, the most the benchmark's run budget allows. */
  val ReadsPerKind = 2
}
