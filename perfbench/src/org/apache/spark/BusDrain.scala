package org.apache.spark

/** The listener bus delivers events asynchronously; a span's counts are
  * read only after every event posted before its end has been handled.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
