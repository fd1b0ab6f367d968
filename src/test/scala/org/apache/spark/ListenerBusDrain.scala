package org.apache.spark

/** Test seam into the package-private listener bus. */
object ListenerBusDrain {
  /** Blocks until every posted listener event has been delivered, so the
    * status tracker reflects every job that has ended. */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
