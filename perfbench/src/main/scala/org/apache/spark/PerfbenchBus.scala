package org.apache.spark

/** `SparkContext.listenerBus` is `private[spark]`; the benchmark's span
  * recorder drains it before a span closes, so every listener event a
  * span caused is counted before the span's totals are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
