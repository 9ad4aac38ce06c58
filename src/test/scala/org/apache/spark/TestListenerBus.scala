package org.apache.spark

/** The listener bus delivers events asynchronously; a spec counts the
  * jobs a call started only after every event of them has arrived.
  * (`listenerBus` is package-private to Spark.) */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
