package org.apache.spark.grafttest

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus: a spec waits for it to
  * deliver every event of an action before it reads what a listener saw.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
