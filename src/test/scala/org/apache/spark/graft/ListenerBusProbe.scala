package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test view of the SparkContext's listener bus, which is
  * `private[spark]`: the listeners registered across all its queues,
  * and a barrier that waits until every posted event has been
  * delivered.
  */
object ListenerBusProbe {
  def listeners(sc: SparkContext): Set[AnyRef] = {
    import scala.jdk.CollectionConverters._
    sc.listenerBus.listeners.asScala.toSet
  }

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
