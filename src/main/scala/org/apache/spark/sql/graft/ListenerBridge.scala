package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener-bus drain: profiling mains
  * count jobs/stages/tasks through a SparkListener, and listener events
  * post asynchronously — a counter read immediately after an action can
  * miss the tail of its own job's events. `waitUntilEmpty` blocks until
  * the bus has delivered everything, making per-query counts exact.
  * Diagnostic use only (ProfileQ, the cosmobench tracer); never in a
  * query plan. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
