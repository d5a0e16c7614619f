package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to Spark's listener bus, which is private to the `org.apache.spark`
  * package: the traced run waits for it to drain so that every event of an
  * op is counted against that op. */
object SparkBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
