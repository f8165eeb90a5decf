package org.apache.spark

/** The listener bus is delivered asynchronously; counters and captured
 *  plans are read only after every event posted so far was handled. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
