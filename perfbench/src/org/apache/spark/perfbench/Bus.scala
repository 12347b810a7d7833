package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; the traced run waits
  * for it to drain before it reads what the listeners recorded. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
