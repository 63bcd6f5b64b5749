package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus's drain, which Spark keeps package-private. */
object BusDrain {
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
