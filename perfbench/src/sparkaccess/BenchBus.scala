package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run reads
  * its counters only after every event posted so far has been handled.
  * `SparkContext.listenerBus` is `private[spark]`, hence this package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
