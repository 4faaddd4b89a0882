package org.apache.spark.xmlbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; the tracer needs to wait for the
 *  scheduler events already posted before it reads the stages they carry. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
