package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. */
object Bus {
  /** Block until every event posted so far has reached the listeners, so a
    * span's counters include the jobs that ran inside it. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
