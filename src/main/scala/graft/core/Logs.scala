package graft.core

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator

/** Driver-log hygiene for the mains (via [[Session.build]]) and the
  * benchmark: three Spark WARNs are emitted BY DESIGN in this engine
  * and at registry scale they bury the lines a human (or the driver's
  * log tail) actually needs — round 8's bench log ended as hundreds of
  * WindowExec warnings instead of timings.
  *
  *  - `MapPartitionsRDD`: "locally checkpointed ... cannot be recomputed
  *    after unpersisting" — the CC/PageRank frontier-release contract
  *    unpersists a superseded checkpoint only after its successor is
  *    materialized (PERF.md round 8), so the recompute this warns about
  *    can never be requested. One WARN per released round per job.
  *  - `SparkStringUtils`: plan-string truncation notice for large plans
  *    (the 148-query registry has several) — display-only.
  *  - `WindowExec`: "no partition defined" — all remaining global
  *    windows run on pre-limited or vocab-bounded inputs and are
  *    partitioned by a literal now; this level guard is belt-and-braces
  *    for future query code.
  *
  * Scoped to these three loggers, not a blanket level drop — a NEW
  * warning class still reaches the log. */
object Logs {
  def quietKnownWarnings(): Unit = {
    Seq(
      "org.apache.spark.rdd.MapPartitionsRDD",
      "org.apache.spark.util.SparkStringUtils",
      "org.apache.spark.sql.execution.window.WindowExec"
    ).foreach(Configurator.setLevel(_, Level.ERROR))
  }
}
