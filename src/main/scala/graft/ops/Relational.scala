package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic relational operators from the reference's inventory
  * (SURVEY.md §2), as key-parameterized `DataFrame => DataFrame`
  * functions so the same primitives run on any schema.
  *
  * Scale notes are given per operator: every function here is a pure
  * declarative plan — Catalyst handles pushdown/pruning, AQE handles
  * skew and partition coalescing.
  */
object Relational {

  /** Decouple CPU-dense per-row stages from the source's split
    * granularity: if the source can open with fewer partitions than the
    * cluster has cores (e.g. one small single-row-group parquet file —
    * parquet can't split below a row group), repartition up to
    * defaultParallelism so regex/shingling/hash stages use every core.
    *
    * `sourceSplits` is the caller's knowledge of how many splits the scan
    * yields (file count × row groups; `Tables.splitCount` for the star
    * schema). When the scan already has enough splits — the normal case
    * on a real dataset — no shuffle is added: at 100 TB, rebalancing the
    * raw bytes would be the wrong trade. The decision deliberately comes
    * from the filesystem, not from planning the DataFrame (`df.rdd`
    * forces a second physical-planning pass per call — measured as a
    * visible per-query tax at bench scale). */
  def fanOut(df: DataFrame, sourceSplits: Int): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (sourceSplits < p) df.repartition(p) else df
  }

  /** R1 `explode_df` (reference: cosmo/monitor_helpers.py:35–49): expand N
    * equal-length array columns to one row per element, repeating scalar
    * columns; ragged input is an ERROR, not silent nulls (reference raises,
    * monitor_helpers.py:46–47).
    *
    * Implemented as ONE native op: `posexplode(arrays_zip(...))` — the
    * reference's index-join reconstruction (J8) is unnecessary on Spark.
    * `strict=true` adds a pre-check that fails the job on ragged rows
    * (raise_error is codegen'd; zero cost on the happy path).
    */
  def explodeArrays(df: DataFrame, arrayCols: Seq[String],
                    posCol: String = "pos", strict: Boolean = true): DataFrame = {
    require(arrayCols.nonEmpty, "explodeArrays needs at least one array column")
    val scalarCols = df.columns.filterNot(arrayCols.contains).toIndexedSeq.map(col)
    val sameLen = arrayCols.tail
      .map(c => size(col(c)) === size(col(arrayCols.head)))
      .foldLeft(lit(true))(_ && _)
    // The ragged check guards the zip expression ITSELF (not a separate
    // unused column, which column pruning could legally remove), and the
    // guard sits behind an evaluation barrier: optimizer rules (inferred
    // generator filters + predicate pushdown) would otherwise evaluate
    // the raise_error on rows that upstream filters already removed.
    val zipExpr = arrays_zip(arrayCols.map(col): _*)
    val guardedZip =
      if (strict && arrayCols.size > 1)
        graft.functions.GraftExtensions.evalBarrier(
          when(sameLen, zipExpr).otherwise(raise_error(
            lit(s"ragged arrays in explodeArrays(${arrayCols.mkString(",")})"))))
      else zipExpr
    val zipped = df
      .withColumn("__z", guardedZip)
      .select(scalarCols :+ posexplode(col("__z")): _*)
    arrayCols.foldLeft(zipped) { (d, c) => d.withColumn(c, col("col")(c)) }
      .withColumnRenamed("pos", posCol)
      .drop("col")
  }

  /** P10 `match_dfs` semi-join (reference: cosmo/monitors/osm_shift_monitors.py:50–52).
    * No distinct on the right side — left_semi already dedupes matches,
    * and an explicit distinct would cost an extra shuffle. */
  def semiJoin(df: DataFrame, other: DataFrame, key: String): DataFrame =
    df.join(other.select(key), Seq(key), "left_semi")

  /** J2 derived-key equi join (reference: cosmo/data_models.py:157–180 —
    * `sms.ROOTNAME + 'q' == data.ROOTNAME`). Both sides get the key as a
    * column expression so Catalyst still sees a plain equi join
    * (sort-merge or broadcast by size). */
  def derivedKeyJoin(left: DataFrame, right: DataFrame,
                     leftKey: Column, rightKey: Column,
                     joinType: String = "inner"): DataFrame =
    left.withColumn("__jk", leftKey)
      .join(right.withColumn("__jk", rightKey), Seq("__jk"), joinType)
      .drop("__jk")

  /** J6/J7 `compute_segment_diff` (reference:
    * cosmo/monitors/osm_shift_monitors.py:55–86): within each `key` group,
    * pair the `segA` and `segB` rows and emit `valA − valB`.
    * One shuffle (the pivot's groupBy) replaces the reference's per-group
    * Python loop; at scale this is a plain hash aggregate on the group key.
    */
  def segmentDiff(df: DataFrame, key: Seq[String], segCol: String,
                  valCol: String, segA: String, segB: String,
                  outCol: String = "seg_diff"): DataFrame =
    df.groupBy(key.map(col): _*)
      .pivot(segCol, Seq(segA, segB))
      .agg(first(col(valCol)))
      .filter(col(segA).isNotNull && col(segB).isNotNull)
      .withColumn(outCol, col(segA) - col(segB))

  /** J11/W8 as-of (step-function) lookup (reference:
    * cosmo/monitors/telemetry_monitors.py:428–457 `step_wise`): for each
    * probe row, the most recent quote value with quote.time <= probe.time,
    * per key. Union-tag + `last(_, ignoreNulls)` window — a single
    * sort-per-key, no nested loop, no driver collect. At 100 TB both sides
    * shuffle once on the key; skewed keys are handled by AQE.
    * Null-key and null-time quotes are dropped (SQL semantics: an
    * equi-key never equals null, `probe.time >= null` is never true),
    * matching the native AsOfJoinExec.
    *
    * With `keys` empty this window formulation degenerates to a single
    * partition — for a global as-of use
    * `org.apache.spark.sql.graft.AsOfJoinApi.asOf(..., keys = Seq.empty)`,
    * whose range-partitioned path scales. */
  def asOfLookup(probes: DataFrame, quotes: DataFrame, keys: Seq[String],
                 timeCol: String, quoteVal: String, outCol: String): DataFrame = {
    val probeCols = probes.columns.toIndexedSeq
    val pTagged = probes
      .withColumn("__qv", lit(null).cast(quotes.schema(quoteVal).dataType))
      .withColumn("__isProbe", lit(1))
      .select((probeCols.map(col) ++ Seq(col("__qv"), col("__isProbe"))): _*)
    // null-key and null-time quotes match nothing (SQL: an equi-key never
    // equals null, and `probe.time >= null` is never true); dropping them
    // here keeps this formulation aligned with AsOfJoinExec and DuckDB's
    // ASOF JOIN — unfiltered, a null-time quote would sort first and leak
    // its value into every probe of its key
    val qTagged = (keys :+ timeCol)
      .foldLeft(quotes)((d, k) => d.filter(col(k).isNotNull))
      .withColumn("__qv", col(quoteVal))
      .withColumn("__isProbe", lit(0))
      .select((probeCols.map(c => if (quotes.columns.contains(c)) col(c) else lit(null).as(c))
        ++ Seq(col("__qv"), col("__isProbe"))): _*)
    // quotes sort before probes at equal time => quote at t counts for probe at t
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(timeCol).asc, col("__isProbe").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pTagged.unionByName(qTagged)
      .withColumn(outCol, last(col("__qv"), ignoreNulls = true).over(w))
      .filter(col("__isProbe") === 1)
      .drop("__qv", "__isProbe")
  }

  /** P14 breakpoint/interval containment join (reference:
    * cosmo/monitors/acq_monitors.py:347–361): tag facts with the dimension
    * interval containing them. The dim side is small (breakpoint tables are
    * O(10) rows) => broadcast nested-loop on the range predicate, which is
    * exactly right at any fact-side scale. Open ends via null lo/hi. */
  def intervalJoin(facts: DataFrame, dims: DataFrame, factTime: Column,
                   lo: String, hi: String, joinType: String = "inner"): DataFrame = {
    val cond = (col(lo).isNull || factTime >= col(lo)) &&
      (col(hi).isNull || factTime < col(hi))
    facts.join(broadcast(dims), cond, joinType)
  }

  /** Large×large numeric BAND join: probe rows whose `valueCol` falls in
    * `[loCol, hiCol]` of interval rows — WITHOUT [[intervalJoin]]'s
    * small-dim broadcast assumption and without the cartesian a range
    * predicate alone plans as. The standard bucketization: each interval
    * explodes to the `width`-sized buckets it overlaps (bounded by
    * `maxBucketsPerInterval` — enforced with a runtime error, because one
    * corpus-spanning interval would silently re-create the cartesian);
    * each probe maps to exactly ONE bucket; the equi-join on the bucket
    * key shuffles both sides hash-partitioned (AQE-splittable on hot
    * buckets), and the residual `BETWEEN` verifies exactly. Pick `width`
    * near the typical interval length: ~1–2 buckets per interval, probe
    * fan-out 1. */
  def bandJoin(probes: DataFrame, valueCol: String,
               intervals: DataFrame, loCol: String, hiCol: String,
               width: Double, maxBucketsPerInterval: Int = 1024): DataFrame = {
    require(width > 0, "width must be positive")
    val start = floor(col(loCol) / width).cast("long")
    val end0 = floor(col(hiCol) / width).cast("long")
    // the guard lives INSIDE the explode argument so column pruning can't
    // drop it: a corpus-spanning interval errors instead of silently
    // re-creating the cartesian this operator exists to avoid
    val end = when(end0 - start >= maxBucketsPerInterval,
      raise_error(format_string(
        s"bandJoin: interval [%s, %s] spans more than $maxBucketsPerInterval " +
          s"buckets of width $width — widen `width` or split the interval",
        col(loCol).cast("string"), col(hiCol).cast("string"))).cast("long"))
      .otherwise(end0)
    val iv = intervals.withColumn("__bucket", explode(sequence(start, end)))
    probes.withColumn("__bucket", floor(col(valueCol) / width).cast("long"))
      .join(iv, Seq("__bucket"))
      .filter(col(valueCol) >= col(loCol) && col(valueCol) <= col(hiCol))
      .drop("__bucket")
  }

  /** A3/S9 keep-latest-version (reference: cosmo/sms/ingest_sms.py:274–280):
    * one row per `key`, the one with the greatest (orderBys). Window
    * row_number=1 — single shuffle on the key. */
  def latestByKey(df: DataFrame, keys: Seq[String], orderBys: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderBys.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** P13 recency filter (reference: cosmo/monitors/acq_monitors.py:94–99):
    * rows within `days` of the dataset max time. The global max is a
    * one-row aggregate broadcast against the fact side — no driver collect,
    * no second scan ordering problem. */
  def recentWindow(df: DataFrame, timeCol: String, days: Int): DataFrame = {
    val mx = df.agg(max(col(timeCol)).as("__mx"))
    df.crossJoin(broadcast(mx))
      .filter(col(timeCol) >= col("__mx") - expr(s"INTERVAL $days DAYS"))
      .drop("__mx")
  }

  /** Skew-salted join: replicate the (small-ish) right side `salts` times
    * and scatter the left side's hot keys across the replicas, so one hot
    * key occupies `salts` shuffle partitions instead of one straggler.
    * Use when a handful of keys dominate (AQE skew-join handles moderate
    * skew; salting is the explicit fix for pathological keys).
    * Result equals a plain inner equi-join on `key`. */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 salts: Int): DataFrame = {
    val saltedLeft = left.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(salts)).cast("int"))
    val saltedRight = right.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedLeft.join(saltedRight, Seq(key, "__salt")).drop("__salt")
  }

  /** X4 global-sigma outliers (reference:
    * cosmo/monitors/osm_shift_monitors.py:634–638): |x| beyond k·σ where σ
    * is computed over the WHOLE result set. Broadcast the 1-row aggregate —
    * the reference's whole-frame `.std()` without materializing anything
    * on the driver. */
  def globalSigmaOutliers(df: DataFrame, valueCol: String, k: Double): DataFrame = {
    val stats = df.agg(
      avg(col(valueCol)).as("__mu"),
      stddev_samp(col(valueCol)).as("__sigma"))
    df.crossJoin(broadcast(stats))
      .filter(abs(col(valueCol) - col("__mu")) > lit(k) * col("__sigma"))
      .drop("__mu", "__sigma")
  }

  /** Distributed prefix sum: `outCol` = running total of `valueCol` in
    * `orderCol` order (inclusive). The naive formulation — one window
    * over a global ORDER BY — collapses to a single partition; this is
    * the two-phase form that survives scale:
    *
    *   1. split the order key's range into `buckets` slices at
    *      approx-quantile boundaries (a PURE EXPRESSION of the row, so
    *      every branch and re-execution assigns identically — unlike
    *      `spark_partition_id` after a sampled range exchange, whose
    *      boundaries can differ between materializations) and cumsum
    *      WITHIN each bucket, all buckets in parallel;
    *   2. per-bucket totals (one tiny row per bucket) prefix-sum into
    *      starting offsets — the only serial step, bounded by the BUCKET
    *      count — broadcast back onto phase 1.
    *
    * The result depends only on the order, never on where the boundaries
    * land (they only control balance). Costs one boundary-probe pass plus
    * the compute pass, and the input is read by BOTH phases — a
    * nondeterministic input (rand/uuid/shuffle, an unordered limit, a
    * sample) would let the offset table disagree with the per-bucket
    * sums, so such plans are REFUSED unless already persisted: persist()
    * (or localCheckpoint/checkpoint on clusters where executor loss could
    * recompute a cached partition) pins one materialization for both
    * passes. Misuse fails fast here instead of silently mis-numbering
    * (VERDICT r7 #6). For expensive deterministic inputs persisting is
    * merely the perf fix. `orderCol` must be a numeric total order (ties
    * across a bucket boundary would make the split ambiguous). Bucket
    * assignment is a linear when-chain, so the bucket count is capped at
    * 64 — ample parallelism for the serial phase-2 step it bounds. */
  def prefixSum(df: DataFrame, orderCol: String, valueCol: String,
                outCol: String, buckets: Int = 0): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.Sample
    val unpersisted = df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val plan = df.queryExecution.analyzed
    val nondet = plan.exists {
      case _: Sample => true
      case p => p.expressions.exists(_.exists(!_.deterministic))
    }
    require(!(unpersisted && nondet),
      "prefixSum input has a nondeterministic plan (rand/sample/...): both " +
        "phases re-read the input, so offsets could disagree with bucket " +
        "sums — persist()/localCheckpoint() the input first")
    val n =
      if (buckets > 0) buckets
      else math.min(64,
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
          .toIntOption.getOrElse(
            df.sparkSession.sparkContext.defaultParallelism)).max(1)
    val bounds = df.stat
      .approxQuantile(orderCol, (1 until n).map(_.toDouble / n).toArray, 0.001)
      .distinct.sorted
    val bucket = bounds.foldLeft(lit(0)) { (acc, b) =>
      acc + when(col(orderCol) > b, 1).otherwise(0)
    }
    val withB = df.withColumn("__b", bucket)
    val wIn = Window.partitionBy("__b").orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = withB.withColumn("__local", sum(col(valueCol)).over(wIn))
    // bounded: one row per bucket of the bounds grid (|bounds|+1 rows)
    val wOff = Window.partitionBy(lit(0)).orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = withB.groupBy("__b")
      .agg(sum(col(valueCol)).as("__btotal"))
      .withColumn("__offset", coalesce(sum("__btotal").over(wOff), lit(0L)))
      .select("__b", "__offset")
    local.join(broadcast(offsets), "__b")
      .withColumn(outCol, col("__local") + col("__offset"))
      .drop("__b", "__local", "__offset")
  }
}
