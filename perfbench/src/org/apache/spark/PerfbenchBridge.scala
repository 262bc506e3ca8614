package org.apache.spark

/** The listener bus is `private[spark]`: the traced run waits on it so a
  * finished operation's job events are all in before they are attributed.
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
