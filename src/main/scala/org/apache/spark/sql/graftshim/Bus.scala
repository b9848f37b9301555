package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. */
object Bus {
  /** Block until every event posted so far has reached every listener,
    * so counters read afterwards cover all work finished before the call.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
