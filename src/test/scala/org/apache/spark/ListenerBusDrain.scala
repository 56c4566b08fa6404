/* Lives in the org.apache.spark namespace solely to reach the
 * `private[spark]` listener bus, so specs can wait for every posted
 * event before asserting on what a listener saw. */
package org.apache.spark

object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
