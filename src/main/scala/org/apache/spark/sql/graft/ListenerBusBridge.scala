package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Bridge to Spark's `private[spark]` listener bus: blocks until every
  * event posted so far has reached every listener, so a listener's
  * record is complete when it is read (no sleep-until-stable polling,
  * which can return before a late event lands). Lives under
  * org.apache.spark solely for the access scope, like [[ColumnBridge]]. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
