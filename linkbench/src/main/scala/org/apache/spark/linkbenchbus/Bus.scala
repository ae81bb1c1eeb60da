package org.apache.spark.linkbenchbus

import org.apache.spark.SparkContext

/** Access to Spark's listener bus, which is package-private to `org.apache.spark`:
  * the tracer waits for every queued event before it reads its totals.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
