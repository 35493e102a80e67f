package org.apache.spark

/** The one private Spark call the benchmark's tracer needs: block until
  * the listener bus has delivered every queued event, so a pass's spans
  * are complete before they are read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
