package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private[spark]; the harness drains it before it
  * detaches its listener so that no event of a traced pass is lost. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
