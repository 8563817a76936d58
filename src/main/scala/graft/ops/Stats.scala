package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical operators from the reference's inventory (SURVEY.md §2.4,
  * §2.5, §2.10). All are declarative aggregations/windows: partial
  * (map-side) aggregation and whole-stage codegen apply throughout.
  */
object Stats {

  /** A1 grouped `describe()` (reference: cosmo/monitors/acq_monitors.py:68;
    * osm_drift_monitors.py:69–77): count/mean/std/min/25%/50%/75%/max per
    * group. Exact percentiles (the reference's numpy percentiles are
    * exact); swap `percentile` for `percentile_approx` at extreme scale. */
  def describeBy(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    // ONE percentile aggregate with an array of percentages — separate
    // percentile() calls each buffer the full group (value→count map):
    // 3× the aggregation memory for identical values (see a5_quantiles)
    df.groupBy(keys.map(col): _*).agg(
      count(col(valueCol)).as("n"),
      avg(col(valueCol)).as("mean"),
      stddev_samp(col(valueCol)).as("std"),
      min(col(valueCol)).as("min"),
      expr(s"percentile($valueCol, array(0.25D, 0.5D, 0.75D))").as("__qs"),
      max(col(valueCol)).as("max"))
      .withColumn("q25", element_at(col("__qs"), 1))
      .withColumn("median", element_at(col("__qs"), 2))
      .withColumn("q75", element_at(col("__qs"), 3))
      .drop("__qs")
      .select((keys.map(col) ++ Seq(col("n"), col("mean"), col("std"),
        col("min"), col("q25"), col("median"), col("q75"), col("max"))): _*)

  /** A11 per-group linear fit (reference: cosmo/monitor_helpers.py:28–32
    * `fit_line` = np.polyfit deg 1). Closed-form OLS as a declarative
    * aggregation — no per-group sub-DataFrames, no collect. */
  def linFit(df: DataFrame, keys: Seq[String], x: String, y: String): DataFrame =
    df.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("n"),
      expr(s"regr_slope($y, $x)").as("slope"),
      expr(s"regr_intercept($y, $x)").as("intercept"))

  /** A6 fixed-bin histogram (reference: cosmo/monitors/dark_monitors.py:402,
    * np.histogram(bins=100)). Bucket index by arithmetic, then one
    * hash-aggregate; empty buckets are absent (join a bucket spine if you
    * need them). */
  def histogram(df: DataFrame, valueCol: String, lo: Double, hi: Double,
                nBins: Int): DataFrame = {
    val step = (hi - lo) / nBins
    df.filter(col(valueCol) >= lo && col(valueCol) <= hi)
      .withColumn("bucket",
        least(floor((col(valueCol) - lit(lo)) / lit(step)), lit(nBins - 1)).cast("int"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
  }

  /** A7 CDF thresholds from a histogram (reference:
    * cosmo/monitors/dark_monitors.py:402–418): smallest bucket whose
    * cumulative fraction reaches each quantile. Running sum over the
    * (tiny) histogram — the window over nBins rows is negligible. */
  def cdfThresholds(hist: DataFrame, quantiles: Seq[Double]): DataFrame = {
    // partitionBy(lit(0)) = same single partition, but keeps Spark's
    // "no partition defined" warning out of the driver log
    // bounded: both windows run over the nBins histogram rows
    val w = Window.partitionBy(lit(0)).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // bounded: same nBins histogram
    val tot = Window.partitionBy(lit(0))
    // ONE pass over the histogram: fan the quantile list out as a literal
    // array-explode instead of unioning a filtered copy per quantile
    // (which re-scans the histogram — and its source — per quantile).
    hist
      .withColumn("cdf", sum(col("n")).over(w) / sum(col("n")).over(tot))
      .select(col("bucket"), col("cdf"),
        explode(array(quantiles.map(lit): _*)).as("quantile"))
      .filter(col("cdf") >= col("quantile"))
      .groupBy("quantile")
      .agg(min(col("bucket")).as("bucket"))
  }

  /** O(n log n) trailing-window sums — the scale replacement for a
    * sliding RANGE frame. Spark evaluates a sliding frame by RECOMPUTING
    * it per row (no aggregate retraction), so a trailing-week frame over
    * dense events is O(rows × frame) — measured 30+ s where this
    * formulation takes under a second. Shape: CUMULATIVE count/sum/sum²
    * per key (cumulative frames are O(n)), then ONE native as-of
    * self-lookup of the cumulative at `ts − window − 1 µs` (strictly
    * before the frame start); the trailing aggregates are the
    * differences. Adds `win_n`, `win_sum`, `win_sum2`, `win_var` —
    * mean derives as win_sum/win_n; for VARIANCE use `win_var`, not the
    * raw win_sum2 arithmetic: differencing cumulative sums-of-squares
    * cancels catastrophically as partition history grows (the error
    * scales with the CUMULATIVE magnitude, not the frame), so a truly
    * constant trailing window late in a long key could read a tiny
    * positive variance where a sliding-frame stddev_samp is exactly 0 —
    * and a z-score consumer would emit an enormous z instead of NULL.
    * `win_var` therefore accumulates CENTERED values (v − the key's
    * first value — shift-invariant for variance, and it pins an
    * all-constant key to exact 0) in a second window pass over the same
    * sort (no extra shuffle), and clamps anything at or below a relative
    * epsilon of the cumulative centered magnitude (ulp-scale noise ×
    * ~10³ safety, astronomically below any genuine variance) to exactly
    * 0. Sample variance (÷ win_n−1); null when win_n < 2.
    * RANGE tie semantics are preserved: the cumulative
    * frame is a RANGE (all equal-timestamp rows share one prefix) and
    * the boundary lookup subtracts everything strictly before
    * frame start. Null partition keys yield NULL window aggregates
    * (the as-of contract is "null matches nothing"; silently reporting
    * whole-history sums would be worse) — filter or coalesce keys
    * upstream if null must be a real group. */
  def trailingSums(df: DataFrame, keys: Seq[String], timeCol: String,
                   valueCol: String, windowMicros: Long): DataFrame = {
    val wc = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__tus"))
      .rangeBetween(Window.unboundedPreceding, 0L)
    // double accumulation: generic over integer/float values (integer
    // inputs stay exact below 2^53) and immune to ANSI overflow on v²
    val v = col(valueCol).cast("double")
    // __v0 (the key's first value, any tie representative — variance is
    // shift-invariant, v0 just needs to be one constant per key) feeds
    // the centered accumulators; they reference a window output, so they
    // plan as a second WindowExec over the SAME sorted partition — no
    // additional shuffle. Deriving them algebraically from __cs/__cs2
    // instead would re-create the very cancellation win_var exists to
    // avoid.
    val cum = df
      .withColumn("__tus", unix_micros(col(timeCol)))
      .withColumn("__cn", count(lit(1)).over(wc))
      .withColumn("__cs", sum(v).over(wc))
      .withColumn("__cs2", sum(v * v).over(wc))
      .withColumn("__v0", first(v).over(wc))
      .withColumn("__csc", sum(v - col("__v0")).over(wc))
      .withColumn("__cs2c",
        sum((v - col("__v0")) * (v - col("__v0"))).over(wc))
      .drop("__v0")
    // one cumulative row per (key, instant) — ties share identical
    // cumulative values under the RANGE frame, so any representative works
    val quotes = cum
      .select((keys :+ "__tus" :+ "__cn" :+ "__cs" :+ "__cs2"
        :+ "__csc" :+ "__cs2c").map(col): _*)
      .dropDuplicates(keys :+ "__tus")
      .withColumnRenamed("__tus", "__t")
      .withColumnRenamed("__cn", "__pn")
      .withColumnRenamed("__cs", "__ps")
      .withColumnRenamed("__cs2", "__ps2")
      .withColumnRenamed("__csc", "__psc")
      .withColumnRenamed("__cs2c", "__ps2c")
    val probes = cum.withColumn("__t", col("__tus") - windowMicros - 1L)
    // null partition keys: the cumulative window DOES group them, but
    // the as-of contract is "null keys match nothing" — the boundary
    // would never subtract and a null-keyed row would silently report
    // its WHOLE history as the trailing frame. Emit null aggregates for
    // null-keyed rows instead (the caller decides; the sliding frame
    // this replaces would have grouped them, so the divergence is
    // surfaced, not hidden).
    val keysOk =
      if (keys.isEmpty) lit(true)
      else keys.map(col(_).isNotNull).reduce(_ && _)
    val winN = col("__cn") - coalesce(col("__qn"), lit(0L))
    val winSc = col("__csc") - coalesce(col("__qsc"), lit(0.0))
    val winS2c = col("__cs2c") - coalesce(col("__qs2c"), lit(0.0))
    val rawVar = (winS2c - winSc * winSc / winN) / (winN - 1)
    // relative-epsilon zero clamp: the differencing error is bounded by
    // ~2⁻⁵²·__cs2c (the cumulative centered magnitude), so anything at
    // or below 1e-12·__cs2c/(n−1) — ulp noise × ~10³, far below any
    // genuine variance — is a constant window reading as ±ε
    val epsVar = lit(1e-12) * col("__cs2c") / (winN - 1)
    org.apache.spark.sql.graft.AsOfJoinApi.asOfMulti(
        probes, quotes, keys, "__t",
        Seq("__pn", "__ps", "__ps2", "__psc", "__ps2c"),
        Seq("__qn", "__qs", "__qs2", "__qsc", "__qs2c"))
      .withColumn("win_n", when(keysOk, winN))
      .withColumn("win_sum",
        when(keysOk, col("__cs") - coalesce(col("__qs"), lit(0.0))))
      .withColumn("win_sum2",
        when(keysOk, col("__cs2") - coalesce(col("__qs2"), lit(0.0))))
      .withColumn("win_var",
        when(keysOk && winN > 1,
          when(rawVar <= epsVar, lit(0.0)).otherwise(rawVar)))
      .drop("__t", "__tus", "__cn", "__cs", "__cs2", "__csc", "__cs2c",
        "__qn", "__qs", "__qs2", "__qsc", "__qs2c")
  }

  /** W6 boxcar smoothing (reference: cosmo/monitors/dark_monitors.py:125–127,
    * astropy Box1DKernel(4) ≡ centered width-4 moving average). */
  def boxcar(df: DataFrame, keys: Seq[String], orderCols: Seq[Column],
             valueCol: String, width: Int, outCol: String = "smoothed"): DataFrame = {
    val lead = (width - 1) / 2
    val lag = width - 1 - lead
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols: _*)
      .rowsBetween(-lag, lead)
    df.withColumn(outCol, avg(col(valueCol)).over(w))
  }

  /** A9 per-row array reduction (reference: cosmo/filesystem.py:255–278
    * `reduce_to_stat`): mean/std/max/min of an in-cell array. Pure array
    * HOFs — evaluated element-wise inside codegen, no explode. The array is
    * cast to double first so accumulation is double-precision. */
  def arrayStat(arr: Column, stat: String): Column = {
    val a = arr.cast("array<double>")
    stat match {
      case "mean" => aggregate(a, lit(0.0d), (acc, x) => acc + x) / size(a)
      case "sum"  => aggregate(a, lit(0.0d), (acc, x) => acc + x)
      case "max"  => array_max(a)
      case "min"  => array_min(a)
      case "std"  =>
        // sample std via sum of squares (matches np.ndarray.std(ddof=1))
        val n = size(a).cast("double")
        val s = aggregate(a, lit(0.0d), (acc, x) => acc + x)
        val s2 = aggregate(a, lit(0.0d), (acc, x) => acc + x * x)
        sqrt((s2 - s * s / n) / (n - lit(1.0d)))
      case other => throw new IllegalArgumentException(
        s"arrayStat: unsupported stat '$other' (reference allows mean/std/max; cosmo/filesystem.py:262)")
    }
  }
}
