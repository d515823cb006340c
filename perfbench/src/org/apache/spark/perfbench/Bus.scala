package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus flush. `waitUntilEmpty` is `private[spark]`; living under
  * `org.apache.spark` grants access, so metrics are read only after every
  * event of the measured jobs has been delivered.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
