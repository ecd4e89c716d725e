package org.apache.spark

/** The one package-private Spark call the benchmark needs: wait until the
  * listener bus has delivered every event posted so far, so a profile read
  * after a span sees all of that span's jobs and tasks.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
