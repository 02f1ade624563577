package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.{GraftSession, QueryDef}
import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, max}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** The measuring half of the benchmark: one JVM, one client thread in
  * a closed loop (the next op starts only when the previous one has
  * returned), a `local[N]` session with N shuffle partitions.
  *
  * Phases: set-up (session, the table_churn table, and one warm-up pass
  * whose query results are saved for the oracle check), then measured
  * passes until `--seconds` have elapsed. With `--trace 1` measured
  * passes alternate untraced and traced, so the trace's own overhead is
  * measured under the same conditions. Writes a JSON run record, which
  * perfbench/run.py turns into metrics.
  *
  * Usage: Main --workload W --seed S --seconds T --trace 0|1
  *             --sf DIR --work DIR --cores N [--corrupt] */
object Main {

  /** The curation workload's queries, with the graft module each
    * exercises, in the order every pass runs them: a subset of the
    * data-pipeline operators sized so that set-up plus one measured
    * pass fits the benchmark's time budget on a 4-core host. The order
    * is fixed because an op's time depends on the ops that ran before
    * it in the same JVM. */
  val Curation: Seq[(String, String)] = Seq(
    "q_dd_clusters" -> "Dedup", "q_sim_ann_ivf" -> "Similarity",
    "q_ir_rrf" -> "Retrieval", "q_tx_bigram_ce" -> "TextAnalysis",
    "q_graph_pagerank_conv" -> "GraphRank")

  /** The query ops of the table_churn workload, run among its table
    * ops. */
  val ChurnQueries: Seq[(String, String)] = Seq("q_ivm_join" -> "Ivm")

  private val baseEpochMs = System.currentTimeMillis().toDouble
  private val baseNanos = System.nanoTime()
  /** Wall clock in epoch milliseconds at nanosecond resolution, on the
    * same base as Spark's listener event times. */
  def nowMs(): Double = baseEpochMs + (System.nanoTime() - baseNanos) / 1e6

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val sfDir = opt("sf")
    val work = opt("work")
    val cores = opt("cores").toInt
    val corrupt = args.contains("--corrupt")
    val master = s"local[$cores]"
    val host0 = Host.sample()

    val spark = GraftSession.tuned(
      SparkSession.builder().master(master).appName("graft-perfbench")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse"),
      shufflePartitions = cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = uptimeS()

    val registry = QueryDef.all.map(q => q.name -> q).toMap
    // The warm-up's saved result, which the oracle checks after the
    // run, is the reference of every later execution of the same query.
    val results = s"$work/results"
    val warmDigests = mutable.Map.empty[String, (Long, Long, Long)]
    def query(name: String, module: String): Op = {
      val q = registry.getOrElse(name,
        throw new IllegalArgumentException(s"no query $name in QueryDef.all"))
      Op(name, module, "read", run = () => Some(q.fn(spark, sfDir)), saveResult = true,
        verify = df => {
          warmDigests.get(name) match {
            case None =>
              val saved = Op.digest(spark.read.parquet(s"$results/$name"))
              warmDigests(name) = if (corrupt) saved.copy(_1 = saved._1 + 1) else saved
              None
            case Some(want) =>
              val got = Op.digest(df.get)
              if (got != want) Some(s"rows/hash $got differ from the warm-up's $want")
              else None
          }
        })
    }
    val queries = workload match {
      case "curation" => Curation
      case "table_churn" => ChurnQueries
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val queryOps = queries.map { case (n, m) => query(n, m) }

    val churn =
      if (workload == "table_churn")
        Some(new Churn(spark, sfDir, s"$work/table", seed, corrupt))
      else None
    val passOps: Int => Seq[Op] = churn match {
      case Some(c) => p => c.pass(p, queryOps)
      case None => _ => queryOps
    }
    val oracles = queries.map(_._1)
      .flatMap(n => registry.get(n).flatMap(_.oracle).map(n -> _)).toMap

    churn.foreach(_.setup())
    val recorder = new Recorder
    val warm = runPass(spark, passOps(0), 0, traced = false, recorder, churn,
      warmResults = Some(results))
    val setupS = uptimeS()

    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    var p = 1
    // a traced run makes at least untraced, traced, untraced passes, so
    // the overhead estimate is not biased by warm-up still in progress
    while (p <= (if (trace) 3 else 1) || (System.nanoTime() - t0) / 1e9 < seconds) {
      passes += runPass(spark, passOps(p), p, traced = trace && p % 2 == 0, recorder, churn,
        warmResults = None)
      p += 1
    }

    val finalCheck = churn.flatMap(c =>
      try c.finalCheck() catch { case e: Throwable => Some(message(e)) })
    val bytesPerLive = churn.filter(_ => trace).flatMap(c =>
      try Some(c.bytesPerLiveByte(s"$work/fresh")) catch { case _: Throwable => None })
    val record = Map(
      "workload" -> workload, "seed" -> seed, "master" -> master,
      "n" -> cores, "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "trace" -> trace, "session_s" -> sessionS, "setup_s" -> setupS,
      "host_start" -> host0, "host_end" -> Host.sample(),
      "peak_rss_mb" -> Host.peakRssMb(),
      "warmup" -> warm, "passes" -> passes.toSeq,
      "final_check_error" -> finalCheck, "bytes_per_live_byte" -> bytesPerLive,
      "oracles" -> oracles,
      "trace_events" -> (if (trace) recorder.snapshot() else Map.empty))
    Files.writeString(Paths.get(s"$work/run.json"), Serialization.write(record)(DefaultFormats.preservingEmptyValues))
    spark.stop()
  }

  /** Seconds since the JVM started. */
  private def uptimeS(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  /** One pass: every op in order, each timed from `run` to the end of
    * its action; preparation and checks run between the timed spans. */
  private def runPass(spark: SparkSession, ops: Seq[Op], index: Int, traced: Boolean,
                      recorder: Recorder, churn: Option[Churn],
                      warmResults: Option[String]): Map[String, Any] = {
    if (traced) {
      spark.sparkContext.addSparkListener(recorder)
      spark.listenerManager.register(recorder)
    }
    val steal0 = Host.stealTicks()
    val recs = ops.zipWithIndex.map { case (op, i) =>
      val prepError = attempt(op.prepare())
      // listener event times are whole milliseconds: keep the untimed
      // work at least that far from the op's window
      Thread.sleep(2)
      val t0 = nowMs()
      val cpu0 = osBean.getProcessCpuTime
      var frame: Option[DataFrame] = None
      var tBuilt = t0
      val error = prepError.orElse(attempt {
        frame = op.run()
        tBuilt = nowMs()
        frame.foreach { df =>
          warmResults.filter(_ => op.saveResult) match {
            case Some(dir) => df.write.mode("overwrite").parquet(s"$dir/${op.name}")
            case None => df.write.format("noop").mode("overwrite").save()
          }
        }
      })
      val t1 = nowMs()
      val cpu1 = osBean.getProcessCpuTime
      Thread.sleep(2)
      val frameSeen = frame.map(_.queryExecution.tracker.phases.toSeq.map { case (n, ph) =>
        Map("name" -> n, "start_ms" -> ph.startTimeMs, "end_ms" -> ph.endTimeMs)
      }).getOrElse(Seq.empty)
      val checkError =
        if (error.isEmpty) try op.verify(frame) catch { case e: Throwable => Some(message(e)) }
        else None
      val tChecked = nowMs()
      val filesLive = if (traced && op.kind == "read") churn.map(_.filesLive()) else None
      // iteration rounds, where the op's output exposes them
      val rounds = frame.filter(df => traced && error.isEmpty && df.columns.contains("rounds"))
        .map(_.agg(max(col("rounds")).cast("long")).head().getLong(0))
      System.err.println(f"[perfbench] pass $index op $i ${op.name} ${(t1 - t0) / 1000}%.3f s" +
        f" (check ${(tChecked - t1) / 1000}%.3f s)" +
        error.orElse(checkError).fold("")(" FAILED " + _))
      Map("id" -> s"$index.$i", "name" -> op.name, "module" -> op.module,
        "kind" -> op.kind, "start_ms" -> t0, "built_ms" -> tBuilt, "end_ms" -> t1,
        "cpu_s" -> (cpu1 - cpu0) / 1e9, "error" -> error,
        "check_error" -> checkError, "files_live" -> filesLive, "rounds" -> rounds,
        "frame_phases" -> frameSeen)
    }
    val filesLive = if (traced) churn.map(_.filesLive()) else None
    if (traced) {
      BenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(recorder)
      spark.listenerManager.unregister(recorder)
    }
    Map("index" -> index, "traced" -> traced, "ops" -> recs,
      "steal_ticks" -> (Host.stealTicks() - steal0), "files_live_end" -> filesLive)
  }

  /** Runs `f`; an exception becomes its message. */
  private def attempt(f: => Any): Option[String] =
    try { f; None } catch { case e: Throwable => Some(message(e)) }

  private def message(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(500)
}
