package org.apache.spark.graft

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerInterface

/** Test-only reader of the listeners registered on Spark's
  * private[spark] listener bus, so a spec can check that a measurement
  * leaves none of its own behind.
  */
object TestListeners {
  def registered(sc: SparkContext): Seq[SparkListenerInterface] =
    sc.listenerBus.listeners.asScala.toSeq
}
