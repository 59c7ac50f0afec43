package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; the traced run waits
  * for it to drain after every span so each span sees all of its jobs.
  * `waitUntilEmpty` is `private[spark]`, hence this package. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
