package org.apache.spark

/** The one package-private hook the benchmark's tracer needs: block
  * until every posted listener event has been delivered, so per-request
  * counts read after a request are complete. */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
