package graft

import graft.ext.{Checkpoints, Dedup, Layout}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Checkpoint hygiene: [[Checkpoints.inParallel]]'s failure path leaves
  * no job running, and superseded local checkpoints release their
  * blocks without flooding the log. */
class CheckpointsSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  test("inParallel: when the first side fails, the call waits for the second side's job") {
    val sc = spark.sparkContext
    val e = intercept[IllegalStateException] {
      Checkpoints.inParallel(
        {
          // fail only once the second side's slow job is running
          val t0 = System.nanoTime()
          while (sc.statusTracker.getActiveJobIds().isEmpty &&
              System.nanoTime() - t0 < 30L * 1000 * 1000 * 1000)
            Thread.sleep(20)
          throw new IllegalStateException("first side failed")
        },
        sc.parallelize(1 to 2, 2).map { x => Thread.sleep(3000); x }.count())
    }
    assert(e.getMessage == "first side failed")
    org.apache.spark.TestListenerBus.drain(sc)
    assert(sc.statusTracker.getActiveJobIds().isEmpty,
      "the second side's job outlived the failed call")
    // the second side's own failure rides along, suppressed
    val both = intercept[IllegalStateException] {
      Checkpoints.inParallel(throw new IllegalStateException("first"),
        throw new IllegalArgumentException("second"))
    }
    assert(both.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
  }

  test("inParallel: both sides' jobs run under the caller's job group") {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("graft-inparallel", "both sides")
      // the pool thread has run jobs before, under no group or another
      Checkpoints.inParallel(sc.parallelize(1 to 4, 2).count(),
        sc.parallelize(1 to 4, 2).count())
    } finally {
      sc.clearJobGroup()
      org.apache.spark.TestListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    assert(groups.toArray.toSeq == Seq("graft-inparallel", "graft-inparallel"),
      s"job groups seen: ${groups.toArray.toSeq}")
    // the pool thread's own properties came back: a later side runs
    // under the caller's (now empty) group, not the stale one
    groups.clear()
    sc.addSparkListener(listener)
    try Checkpoints.inParallel(sc.parallelize(1 to 4, 2).count(),
      sc.parallelize(1 to 4, 2).count())
    finally {
      org.apache.spark.TestListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    assert(groups.toArray.toSeq == Seq("null", "null"),
      s"job groups seen after clearJobGroup: ${groups.toArray.toSeq}")
  }

  test("a CC loop and a Layout write → scanPruned round trip log no checkpoint or hidden-path warning") {
    val (_, lines) = org.apache.spark.TestLogCapture.capture {
      // the capture sees what the loggers pass: prove it is attached
      org.apache.logging.log4j.LogManager.getLogger("graft.test")
        .warn("log capture probe")
      // a chain needs several propagation rounds, and every round
      // supersedes the previous round's local checkpoint
      val pairs = (1L until 12L).map(i => (i, i + 1L)).toDF("d1", "d2")
      val (labels, rounds) = Dedup.clustersWithRounds(pairs)
      assert(rounds > 1, s"degenerate loop: $rounds round(s)")
      assert(labels.select("rep").distinct().count() == 1L)
      withTempDir("graft_log_hygiene_") { dir =>
        val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
          .select("l_orderkey", "l_partkey", "l_suppkey")
        Layout.write(li, s"$dir/t", Seq(col("l_partkey"), col("l_suppkey")),
          files = 4, manifestKeys = Seq("l_partkey", "l_suppkey"))
        val box = Seq(Layout.KeyBox("l_partkey", 20L, 60L))
        assert(Layout.scanPruned(spark, s"$dir/t", box).count() ==
          li.filter(col("l_partkey").between(20, 60)).count())
      }
    }
    assert(lines.contains("log capture probe"), "the capture saw nothing")
    assert(lines.count(_.contains("was locally checkpointed")) == 0,
      lines.filter(_.contains("was locally checkpointed")).take(3).mkString("\n"))
    assert(lines.count(_.contains("All paths were ignored")) == 0,
      lines.filter(_.contains("All paths were ignored")).take(3).mkString("\n"))
  }
}
