package org.apache.spark

/** The one `private[spark]` call the tracer needs: wait until the
  * listener bus has delivered every posted event, so a traced run's
  * counts are complete when it reads them. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
