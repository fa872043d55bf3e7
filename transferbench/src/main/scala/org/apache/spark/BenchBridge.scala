package org.apache.spark

/** The one package-private hook the benchmark needs: listener events are
  * delivered asynchronously, so per-span counters are read only after the
  * bus has drained every event of the finished operation. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
