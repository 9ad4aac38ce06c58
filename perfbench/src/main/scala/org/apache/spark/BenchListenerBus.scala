package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run reads a
  * span's task metrics only after every event of its jobs has arrived.
  * (`listenerBus` is package-private to Spark.) */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
