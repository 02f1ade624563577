package graft.ext

import org.apache.spark.sql.DataFrame

/** Shared checkpoint hygiene for iterative loops ([[Dedup]]'s
  * connected components, [[GraphRank]]'s convergence loops).
  * `Dataset.unpersist()` only uncaches CacheManager entries;
  * a localCheckpoint's blocks live on the underlying RDD, so loops
  * that supersede a checkpoint each round must drop the RDD blocks
  * directly or a long run accumulates executor storage. */
private[graft] object Checkpoints {

  /** Run two INDEPENDENT eager jobs (pins, state merges) from two
    * driver threads and return both results (guide §2.6: Spark's
    * scheduler happily overlaps jobs inside one application; calling
    * them sequentially leaves the cluster idle through each job's
    * scheduling tail, which dominates state-sized work). `fa` runs on
    * the calling thread and `fb` on a pool thread under a copy of the
    * caller's local properties ([[org.apache.spark.GraftRddBridge]]),
    * so both sides' jobs carry the caller's job group, description and
    * scheduler pool as in the sequential form; a failure on
    * either side propagates unchanged (Await rethrows the future's
    * exception). When `fa` fails, the call still waits for `fb` before
    * rethrowing, so no job of the pair outlives the call; `fb`'s own
    * failure, if any, rides along as a suppressed exception. Only for
    * order-independent pairs: each side may pin a checkpoint or run
    * other side effects, but neither may depend on the other having
    * run first. */
  def inParallel[A, B](fa: => A, fb: => B): (A, B) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val runB = org.apache.spark.GraftRddBridge.withCallerProperties(fb)
    val fut = Future(runB())
    val a = try fa catch {
      case t: Throwable =>
        Await.ready(fut, Duration.Inf).value
          .flatMap(_.failed.toOption).foreach(t.addSuppressed)
        throw t
    }
    (a, Await.result(fut, Duration.Inf))
  }
  /** RDD-level unpersist for a localCheckpoint'ed frame; no-op for
    * any other plan shape. Narrow wrappers over the checkpoint (a
    * projection like `.drop`/`.select`, an alias) are stripped so a
    * caller holding the projected handle still releases the blocks.
    * The blocks drop through the SparkContext
    * ([[org.apache.spark.GraftRddBridge]]): `RDD.unpersist` would warn,
    * on every call, that a local checkpoint cannot be recomputed —
    * which every caller here already knows. */
  def unpersist(df: DataFrame): Unit = {
    def strip(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = p match {
      case pr: org.apache.spark.sql.catalyst.plans.logical.Project =>
        strip(pr.child)
      case a: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
        strip(a.child)
      case other => other
    }
    strip(df.queryExecution.logical) match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        org.apache.spark.GraftRddBridge.releaseBlocks(l.rdd.sparkContext, l.rdd.id)
      case _ =>
    }
  }
}
