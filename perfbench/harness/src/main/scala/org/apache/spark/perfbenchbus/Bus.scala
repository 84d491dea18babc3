package org.apache.spark.perfbenchbus

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; the traced mode waits
  * for it to empty before reading its counters. `waitUntilEmpty` is
  * package-private to Spark, hence this package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
