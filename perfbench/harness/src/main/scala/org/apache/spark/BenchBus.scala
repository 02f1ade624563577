package org.apache.spark

/** Access to the one `private[spark]` call the recorder needs: the
  * listener bus delivers events asynchronously, so before per-pass
  * counts are read every event of the pass must have arrived. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
