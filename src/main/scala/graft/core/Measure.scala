package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared full-computation consumer for measurement (ScaleCheck,
  * ProfileQ, cosmobench): hashing a struct of EVERY output column pins
  * every column-producing operator in the measured plan — a bare
  * `.count()` lets Catalyst prune unreferenced projections (and with
  * them entire window/compute stages; see PERF standing-rule-4 and the
  * round-9 bench note). Limitation, stated rather than hidden: the
  * query's final ORDER BY can still be elided — EliminateSorts removes
  * a sort under an order-insensitive aggregate — so measured cost is
  * "compute everything", not "compute and globally sort"; presentation
  * order is the one plan stage this harness does not charge for. */
object Measure {
  def consume(df: DataFrame): Long =
    // the % bounds each addend so the ANSI-mode sum can't overflow
    df.select((xxhash64(struct(df.columns.map(col): _*)) % 1000003L).as("__h"))
      // collect-bound: single aggregate row (the consume hash)
      .agg(sum("__h"), count(lit(1))).collect()(0).getLong(1)

  /** The one persist of an operator's cached intermediate
    * (MEMORY_AND_DISK, released by [[releaseAll]]). A second call of an
    * operator on the same input before the release builds the same
    * plan, which is already cached: that call reads the first one's
    * cache instead of persisting it again, which would only log
    * CacheManager's "Asked to cache already cached data". */
  def cacheOnce(df: DataFrame): DataFrame =
    if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE) df
    else df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Runs `body` over `df` cached for the duration of the call — a
    * trainer's eager rounds re-reading one table. Like [[cacheOnce]] it
    * reuses a cache of the same plan that a caller already holds, and
    * then leaves it cached: the call releases only a persist it made. */
  def cachedFor[T](df: DataFrame)(body: DataFrame => T): T = {
    val owned = df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val cached = cacheOnce(df)
    try body(cached) finally if (owned) cached.unpersist(blocking = false)
  }

  /** The one release of cached intermediates. Operators may persist
    * or locally checkpoint what their own plan reads more than once
    * (winnowPairs' fingerprint stream, the suffix ladder's levels,
    * Graph's CC frontiers) and return only a DataFrame; the caller of
    * the action releases everything with this call once the result is
    * consumed. Verify, ProfileQ, ScaleCheck, Explain and cosmobench
    * call it after every query.
    *
    * It clears more than the SQL cache, which alone leaves RDD-level
    * blocks behind — localCheckpoint() blocks (pipe_pretrain_e2e's
    * packing guard, the CC frontier of whatever ran last) are NOT
    * CacheManager entries,
    * so across a 234-query run (or repeat samples of one query in a
    * profiler JVM) they accumulate in block storage until driver GC
    * happens to collect the RDD — squeezing execution memory and
    * inflating later queries' spill. Measured (r18): four back-to-back
    * pipe_pretrain_e2e samples in one JVM read executor CPU
    * 63 → 152 → 162 → 157 s with only the SQL-cache clear; flat with
    * this release. Sequential call sites only: a concurrent release
    * would free another thread's in-flight cache.
    *
    * Contract on checkpointed RDDs (advisor r18): this unpersists
    * locally-checkpointed RDDs too, whose lineage is TRUNCATED — a
    * DataFrame that survived into a LATER query would fail with
    * missing-block errors rather than recompute. That is deliberate
    * and safe under the registry convention the call sites enforce:
    * every query's persists/checkpoints are consumed within that
    * query's own consume() (nothing spans two registry queries), so at
    * call time every released block is dead. Spark's per-RDD "cannot be
    * recomputed after unpersisting" WARNs at these sites are expected
    * noise, not a fault (quietKnownWarnings drops them in the
    * profilers). */
  def releaseAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
