package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The one `private[spark]` doorway the bench needs (hence this
  * file's package): block until the asynchronous listener bus has
  * delivered every queued event, so a [[graft.Ledger]] snapshot taken
  * at a query boundary attributes tail events to the query that
  * produced them, not the next one.
  *
  * Public alternatives considered and rejected: SparkStatusTracker
  * exposes no task metrics at all, and polling the listener's own
  * counters for quiescence is a race by construction (an event can
  * be queued but not yet counted). Spark's test harness uses exactly
  * this call for the same boundary problem.
  */
object ListenerBusDrain {
  @throws[java.util.concurrent.TimeoutException]
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
