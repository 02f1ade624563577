package org.apache.spark

/** Bridge to `SparkContext.unpersistRDD`, which is `private[spark]`:
  * it drops an RDD's blocks without `RDD.unpersist`'s per-call warning
  * that a locally checkpointed RDD cannot be recomputed — a warning
  * that carries no signal for a checkpoint whose data already lives
  * elsewhere (the next loop round's checkpoint, or parquet). */
object GraftRddBridge {
  def releaseBlocks(sc: SparkContext, rddId: Int): Unit =
    sc.unpersistRDD(rddId, blocking = false)
}
