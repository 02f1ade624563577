package org.apache.spark

/** Bridge to `SparkContext` members that are `private[spark]`.
  *
  * `releaseBlocks` is `SparkContext.unpersistRDD`: it drops an RDD's
  * blocks without `RDD.unpersist`'s per-call warning that a locally
  * checkpointed RDD cannot be recomputed — a warning that carries no
  * signal for a checkpoint whose data already lives elsewhere (the
  * next loop round's checkpoint, or parquet). */
object GraftRddBridge {
  def releaseBlocks(sc: SparkContext, rddId: Int): Unit =
    sc.unpersistRDD(rddId, blocking = false)

  /** `body`, to run on another thread under a copy of the CALLING
    * thread's local properties of the active SparkContext (job group,
    * job description, scheduler pool), so the jobs it launches are
    * attributed, pooled and cancellable like the caller's own. The
    * running thread's own properties come back afterwards. Without an
    * active context, `body` as is. */
  def withCallerProperties[A](body: => A): () => A =
    SparkContext.getActive match {
      case None => () => body
      case Some(sc) =>
        val props = org.apache.spark.util.Utils.cloneProperties(sc.getLocalProperties)
        () => {
          val own = sc.getLocalProperties
          sc.setLocalProperties(props)
          try body finally sc.setLocalProperties(own)
        }
    }
}
