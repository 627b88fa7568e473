package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every queued event, so a
  * listener's counters are complete before they are read.
  * `SparkContext.listenerBus` is `private[spark]`, hence this package.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }
}
