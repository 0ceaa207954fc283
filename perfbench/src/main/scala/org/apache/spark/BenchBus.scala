package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark drains
  * it before reading the task metrics a span collected. Lives in this
  * package because `listenerBus` is `private[spark]`. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
