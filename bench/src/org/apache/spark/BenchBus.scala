package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private: the
  * benchmark reads its listeners only after every event of the timed call has
  * been delivered, so a late task-end event cannot fall out of the window. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
