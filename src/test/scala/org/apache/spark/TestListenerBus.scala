package org.apache.spark

/** The listener bus delivers events asynchronously; a spec drains it
  * before reading the task metrics its listener collected. Lives in this
  * package because `listenerBus` is `private[spark]`. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
