package org.apache.spark.graftbus

import org.apache.spark.SparkContext

/** Access to Spark's listener bus, which is package-private to `org.apache.spark`:
  * a test that counts events waits for every queued one before it reads its totals.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
