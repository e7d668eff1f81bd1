package org.apache.spark

/** The one package-private hook the tracer needs: wait until every
  * listener event posted so far has been delivered, so events can be
  * attributed to the operation that caused them. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
