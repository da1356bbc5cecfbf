package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private. The
  * tracer drains it at every op boundary, so each op's job, stage, task
  * and query-execution events are in hand before the next op starts.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
