package org.apache.spark

/** The listener bus delivers task and query events asynchronously;
  * the tracer drains it at every span boundary so each event lands
  * in the span that caused it. `listenerBus` is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
