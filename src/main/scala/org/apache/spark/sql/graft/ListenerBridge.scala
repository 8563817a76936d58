package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener-bus drain: profiling mains
  * count jobs/stages/tasks through a SparkListener, and listener events
  * post asynchronously — a counter read immediately after an action can
  * miss the tail of its own job's events. `waitUntilEmpty` blocks until
  * the bus has delivered everything (at most 10 s, then a
  * `TimeoutException`; interruptible), making per-query counts exact.
  * Callers: ProfileQ and the cosmobench tracer, and
  * `graft.core.Observations`, which waits here for its listener to
  * receive a query's named observation. Never in a query plan. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
