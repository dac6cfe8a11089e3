package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent

/** `private[spark]` bridge for the listener-bus calls graft's
  * instrumentation needs. Task-end events ride an ASYNC bus: without a
  * drain, metrics from query i can arrive after `once(q)` returns and be
  * charged to query i+1 (and a `peak.set(0)` can clobber in-flight
  * events). Draining before each per-query sample makes the spill /
  * peak-memory attribution exact instead of racy. */
object Listeners {
  /** Block until every queued listener event has been delivered (bounded
    * by Spark's internal timeout; a timeout surfaces as an exception
    * rather than silently mis-attributed metrics). */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Post an application event (`graft.core.Escalate` decisions); it
    * reaches every listener's `onOtherEvent`. */
  def post(sc: SparkContext, event: SparkListenerEvent): Unit =
    sc.listenerBus.post(event)
}
