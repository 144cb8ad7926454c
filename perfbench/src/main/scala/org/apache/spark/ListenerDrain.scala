package org.apache.spark

/** The listener bus delivers events asynchronously; trace numbers are
  * read only after every event posted so far has been handled. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
