package graft.monitors

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.TimeFns
import graft.ops.{Relational, Stats}

/** The reference's monitor pipelines re-expressed as declarative plan
  * builders (SURVEY.md §3.1 lifecycle: data → track → outliers → sinks).
  * Schemas are the FITS-product schemas from SURVEY.md §1; inputs arrive
  * as DataFrames from any source (parquet fixtures in tests).
  */
object Monitors {

  /** SMS rows keyed for the J2 join (`sms.ROOTNAME || 'q'`), less every
    * column the lampflash frame also has: an ingested SMS table carries
    * EXPSTART and DETECTOR too, and the exposure's own values are the
    * ones the monitors read. */
  private def smsKeyed(lampflash: DataFrame, sms: DataFrame): DataFrame = {
    val shared = sms.columns.filter(c =>
      c != "ROOTNAME" && lampflash.columns.exists(_.equalsIgnoreCase(c)))
    (if (shared.isEmpty) sms else sms.drop(shared: _*))
      .withColumn("ROOTNAME", concat(col("ROOTNAME"), lit("q")))
  }

  /** The input every OSM monitor shares (J2; reference:
    * cosmo/monitors/osm_shift_monitors.py:124–137 data assembly, SURVEY.md
    * §7.2 minimum slice): lampflash exposures with at least one flash
    * (P2/P5), all detectors, joined with their SMS rows on
    * `sms.ROOTNAME || 'q' == lamp.ROOTNAME`. Lampflash rows carry
    * per-flash arrays TIME/SHIFT_DISP/SHIFT_XDISP/SEGMENT; SMS rows carry
    * the OSM move times. The monitor catalog persists this frame once
    * per run for its six OSM monitors. */
  def osmJoined(lampflash: DataFrame, sms: DataFrame): DataFrame =
    lampflash.filter(size(col("SHIFT_DISP")) > 0)
      .join(smsKeyed(lampflash, sms), Seq("ROOTNAME"))

  /** One detector's flashes of [[osmJoined]], exploded with position
    * (R1), with the absolute sample time EXPSTART(mjd) + TIME sec (W5). */
  def osmExplode(joined: DataFrame, detector: String): DataFrame =
    Relational.explodeArrays(joined.filter(col("DETECTOR") === detector),
      Seq("TIME", "SHIFT_DISP", "SHIFT_XDISP", "SEGMENT"), posCol = "flash")
      .withColumn("sample_ts",
        TimeFns.mjdToTs(col("EXPSTART") + col("TIME") / lit(86400.0d)))

  /** OSM shift data of one detector: [[osmJoined]] then [[osmExplode]]. */
  def osmShiftData(lampflash: DataFrame, sms: DataFrame,
                   detector: String = "FUV"): DataFrame =
    osmExplode(osmJoined(lampflash, sms), detector)

  /** The segment pivot the shift monitors difference (reference:
    * cosmo/monitors/osm_shift_monitors.py:55–86 compute_segment_diff):
    * one row per (ROOTNAME, seg_idx) with `<SEG>_SHIFT_DISP`,
    * `<SEG>_SHIFT_XDISP` and `<SEG>_ts` for every segment. The reference
    * pairs the segments' shift sequences ELEMENTWISE within each
    * ROOTNAME, so `seg_idx` is the flash's position within its own
    * (ROOTNAME, SEGMENT) sequence (the exploded arrays concatenate the
    * segments, so the global flash position is NOT the pair index).
    * Both shift columns ride in one pivot, so SHIFT1 and SHIFT2 are
    * projections of the same frame.
    *
    * One exchange: the explicit ROOTNAME repartition satisfies both the
    * per-segment row_number window and the (ROOTNAME, seg_idx) pivot
    * clustering, so neither adds a shuffle. */
  def segmentPivot(exploded: DataFrame, segments: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    exploded
      .repartition(col("ROOTNAME"))
      .withColumn("seg_idx", row_number().over(
        Window.partitionBy(col("ROOTNAME"), col("SEGMENT"))
          .orderBy(col("flash"))))
      .groupBy("ROOTNAME", "seg_idx")
      .pivot("SEGMENT", segments)
      .agg(first(col("SHIFT_DISP")).as("SHIFT_DISP"),
        first(col("SHIFT_XDISP")).as("SHIFT_XDISP"),
        first(col("sample_ts")).as("ts"))
  }

  /** seg1 − seg2 of one shift column per flash pair of a
    * [[segmentPivot]], stamped with seg1's absolute time (`lamp_time`).
    * A pair exists iff both segments have a non-null `valueCol` at that
    * index — compute_segment_diff's both-present guard, applied to the
    * monitor's own column only. */
  def pairDiff(pivot: DataFrame, valueCol: String,
               seg1: String, seg2: String): DataFrame =
    pivot.filter(col(s"${seg1}_$valueCol").isNotNull &&
        col(s"${seg2}_$valueCol").isNotNull)
      .select(col("ROOTNAME"), col("seg_idx"),
        (col(s"${seg1}_$valueCol") - col(s"${seg2}_$valueCol")).as("seg_diff"),
        col(s"${seg1}_ts").as("lamp_time"))

  /** FUVA−FUVB shift difference per flash pair: [[segmentPivot]] then
    * [[pairDiff]]. */
  def segmentDiff(exploded: DataFrame, valueCol: String = "SHIFT_DISP",
                  seg1: String = "FUVA", seg2: String = "FUVB"): DataFrame =
    pairDiff(segmentPivot(exploded, Seq(seg1, seg2)), valueCol, seg1, seg2)

  /** X3 outlier rule: |A−B| above threshold (10 px for SHIFT1, 5 for
    * SHIFT2; reference: osm_shift_monitors.py:354–367). */
  def segmentDiffOutliers(diffs: DataFrame, threshold: Double): DataFrame =
    diffs.filter(abs(col("seg_diff")) > threshold)

  /** The NUV stripes, in the order [[stripePairDiffs]] pairs them. */
  val nuvStripes: Seq[String] = Seq("NUVA", "NUVB", "NUVC")

  /** NUV stripe differences B−C and C−A (reference:
    * osm_shift_monitors.py:388–393, J7) of one shift column of a
    * [[segmentPivot]] over [[nuvStripes]]: compute_segment_diff per
    * stripe pair, labeled — and, as in [[pairDiff]], paired
    * FLASH-FOR-FLASH (one diff per per-stripe flash index, `lamp_time`
    * from the pair's first stripe), not collapsed to one value per
    * rootname.
    *
    * Both pair diffs come from the same wide (ROOTNAME, seg_idx) row and
    * fan out with an inline 2-element explode — the per-pair formulation
    * would aggregate the input stream twice. A pair's row exists iff both
    * its stripes have a flash at that index (the diff of two non-null
    * doubles is non-null; a missing stripe nulls it) — compute_segment_diff's
    * both-present guard. */
  def stripePairDiffs(pivot: DataFrame, valueCol: String): DataFrame = {
    def pair(label: String, a: String, b: String) =
      struct(lit(label).as("pair"),
        (col(s"${a}_$valueCol") - col(s"${b}_$valueCol")).as("seg_diff"),
        col(s"${a}_ts").as("lamp_time"))
    pivot
      .select(col("ROOTNAME"), col("seg_idx"), explode(array(
        pair("B-C", "NUVB", "NUVC"), pair("C-A", "NUVC", "NUVA"))).as("p"))
      .select(col("ROOTNAME"), col("seg_idx"), col("p.pair").as("pair"),
        col("p.seg_diff").as("seg_diff"), col("p.lamp_time").as("lamp_time"))
      .filter(col("seg_diff").isNotNull)
  }

  /** OSM drift data of one detector from [[osmJoined]] (reference:
    * cosmo/monitors/osm_drift_monitors.py:14–45): exposures with at
    * least two flashes, shifts relative to each exposure's FIRST flash
    * (W2), first element dropped from every array (W3), exploded, with
    * drift-rate and time-since-OSM-move columns (W4). */
  def osmDrift(joined: DataFrame, detector: String): DataFrame = {
    def relToFirst(c: String) =
      transform(slice(col(c), lit(2), size(col(c)) - 1),
        x => x - element_at(col(c), 1))
    def dropFirst(c: String) = slice(col(c), lit(2), size(col(c)) - 1)
    val rel = joined
      .filter(col("DETECTOR") === detector && size(col("SHIFT_DISP")) > 1)
      .withColumn("REL_SHIFT_DISP", relToFirst("SHIFT_DISP"))
      .withColumn("REL_SHIFT_XDISP", relToFirst("SHIFT_XDISP"))
      .withColumn("TIME", dropFirst("TIME"))
      .withColumn("SHIFT_DISP", dropFirst("SHIFT_DISP"))
      .withColumn("SHIFT_XDISP", dropFirst("SHIFT_XDISP"))
      .withColumn("SEGMENT", dropFirst("SEGMENT"))
    Relational.explodeArrays(rel,
      Seq("TIME", "SHIFT_DISP", "SHIFT_XDISP", "SEGMENT",
        "REL_SHIFT_DISP", "REL_SHIFT_XDISP"), posCol = "flash")
      .withColumn("SHIFT1_DRIFT", col("REL_SHIFT_DISP") / col("TIME"))
      .withColumn("SHIFT2_DRIFT", col("REL_SHIFT_XDISP") / col("TIME"))
      .withColumn("REL_TSINCEOSM1", col("TIME") + col("TSINCEOSM1"))
      .withColumn("REL_TSINCEOSM2", col("TIME") + col("TSINCEOSM2"))
  }

  /** Spectroscopic-acquisition slew monitor (reference:
    * acq_monitors.py:480–507 SpecAcqBaseMonitor): filter to the exptype,
    * flag |slew| >= 1 arcsec outliers (X2); per-FGS std comes from
    * [[acqSlewStats]]/describeBy. PEAKD tracks ACQSLEWX, PEAKXD
    * ACQSLEWY. */
  def specAcqSlews(acq: DataFrame, exptype: String, slewCol: String): DataFrame =
    acq.filter(col("EXPTYPE") === exptype)
      .withColumn("is_outlier", abs(col(slewCol)) >= 1.0)

  /** ACQ/IMAGE V2V3 monitor data (reference: acq_monitors.py:207–250):
    * the documented quality cuts (P3), detector-plane rotation to
    * V2/V3 slews, and — per track() (acq_monitors.py:227–250) — a
    * per-(FGS, axis) linear fit of the NEGATED slews over Besselian
    * year, restricted to data since each FGS's LAST breakpoint
    * (`t_start = break_points[name][-1][0]`). Returns fit rows with an
    * `axis` label.
    *
    * `breakpoints(FGS, lo_mjd, hi_mjd)` is the same epoch table
    * [[acqImageTrack]] consumes; the last break's start is max(lo_mjd)
    * per FGS. An FGS with no breakpoint row (or only null-open starts)
    * fits its full history. The quality cut uses sqrt(X²+Y²) — equal to
    * the reference's sqrt(V2²+V3²) because the rotation is orthogonal. */
  def acqImageV2V3Track(acq: DataFrame, breakpoints: DataFrame): DataFrame = {
    val lastBreak = breakpoints.groupBy("FGS")
      .agg(max(col("lo_mjd")).as("last_break_mjd"))
    val cut = acq.filter(
      col("OBSTYPE") === "IMAGING" && col("NEVENTS") >= 2000 &&
        sqrt(pow(col("ACQSLEWX"), 2) + pow(col("ACQSLEWY"), 2)) < 2 &&
        col("SHUTTER") === "Open" && col("LAMPEVNT") >= 500 &&
        col("ACQSTAT") === "Success" && col("EXTENDED") === "NO" &&
        col("LINENUM").endsWith("1"))
      .join(broadcast(lastBreak), Seq("FGS"), "left")
      .filter(col("last_break_mjd").isNull ||
        col("EXPSTART") >= col("last_break_mjd"))
      .withColumn("V2SLEW", graft.core.Coords.v2(col("ACQSLEWX"), col("ACQSLEWY")))
      .withColumn("V3SLEW", graft.core.Coords.v3(col("ACQSLEWX"), col("ACQSLEWY")))
      .withColumn("byear", TimeFns.besselianYear(col("EXPSTART")))
    // one pass: fan each row to its (axis, -slew) pair and fit per
    // (FGS, axis) — the per-axis union aggregated the quality-cut
    // subplan twice (two scans, two shuffles of the same stream)
    val fanned = cut.select(col("FGS"), col("byear"), explode(array(
        struct(lit("V2").as("axis"), (-col("V2SLEW")).as("slew")),
        struct(lit("V3").as("axis"), (-col("V3SLEW")).as("slew")))).as("t"))
      .select(col("FGS"), col("byear"),
        col("t.axis").as("axis"), col("t.slew").as("slew"))
    Stats.linFit(fanned, Seq("FGS", "axis"), "byear", "slew")
      .select("FGS", "n", "slope", "intercept", "axis")
  }

  /** ACQ/IMAGE monitor (reference: cosmo/monitors/acq_monitors.py:22–77,
    * 214–250): filter to imaging acquisitions, compute slew distance,
    * flag outliers, and fit a slew-vs-time line per FGS within breakpoint
    * epochs (A11 + P14).
    *
    * `breakpoints(FGS, lo_mjd, hi_mjd)` — null-open interval ends.
    */
  def acqImageTrack(acq: DataFrame, breakpoints: DataFrame): DataFrame = {
    val prepared = acq
      .filter(col("EXPTYPE") === "ACQ/IMAGE")
      .withColumn("distance",
        sqrt(pow(col("ACQSLEWX"), 2) + pow(col("ACQSLEWY"), 2)))
      .withColumn("is_outlier",
        col("distance") >= 2.0 || col("ACQSTAT") === "Failure" ||
          col("SHUTTER") === "Closed")
    val bp = breakpoints.withColumnRenamed("FGS", "__bp_fgs")
    val cond = col("FGS") === col("__bp_fgs") &&
      (col("lo_mjd").isNull || col("EXPSTART") >= col("lo_mjd")) &&
      (col("hi_mjd").isNull || col("EXPSTART") < col("hi_mjd"))
    val inEpoch = prepared.join(broadcast(bp), cond)
      .drop("__bp_fgs")
      .withColumn("byear", TimeFns.besselianYear(col("EXPSTART")))
    Stats.linFit(inEpoch, Seq("FGS", "lo_mjd"), "byear", "distance")
  }

  /** Grouped slew statistics per FGS (reference: acq_monitors.py:68,
    * 498–503 — `describe()` + grouped std). */
  def acqSlewStats(acq: DataFrame, slewCol: String): DataFrame =
    Stats.describeBy(acq.filter(col("EXPTYPE") === "ACQ/IMAGE"),
      Seq("FGS"), slewCol)

  /** J13 — LP-position expected aperture-block lookup (reference:
    * cosmo/monitors/aper_shift_monitors.py:77–105): the constant
    * 11×4×2 (LIFE_ADJ × APERTURE × DETECTOR) position array as a
    * constant nested map looked up per row, replacing the reference's
    * numpy index-array gymnastics. Adds `std_ypos` and
    * `SHIFT_APERY = APERYPOS − std_ypos`; a row with no entry is dropped,
    * and rows with LIFE_ADJ < 1 are nulled then dropped (reference
    * pd.NA). Output columns as the equi-join on the three keys gives
    * them: keys, the input's other columns, std_ypos, SHIFT_APERY. A
    * map lookup, unlike a join with a broadcast dimension, runs no job
    * of its own. */
  def apertureShift(df: DataFrame): DataFrame = {
    val positions = Array(
      // LP1..LP8, LP10, LP11, LP12 × (PSA, BOA, FCA, WCA) × (FUV, NUV)
      Array(Array(126, 126), Array(-153, -153), Array(-153, -153), Array(126, 126)),
      Array(Array(53, 126), Array(-226, -153), Array(-226, -153), Array(53, 126)),
      Array(Array(181, 126), Array(-98, -153), Array(-98, -153), Array(181, 126)),
      Array(Array(234, 126), Array(-45, -153), Array(-45, -153), Array(234, 126)),
      Array(Array(13, 126), Array(-226, -153), Array(-226, -153), Array(13, 126)),
      Array(Array(-11, 126), Array(-98, -153), Array(-98, -153), Array(22, 126)),
      Array(Array(-49, 126), Array(-98, -153), Array(-98, -153), Array(32, 126)),
      Array(Array(206, 126), Array(-73, -153), Array(-73, -153), Array(206, 126)),
      Array(Array(206, 126), Array(-73, -153), Array(-73, -153), Array(206, 126)),
      Array(Array(270, 126), Array(-9, -153), Array(-9, -153), Array(270, 126)),
      Array(Array(90, 126), Array(-189, -153), Array(-189, -153), Array(90, 126)))
    val lps = Seq(1, 2, 3, 4, 5, 6, 7, 8, 10, 11, 12)
    val apertures = Seq("PSA", "BOA", "FCA", "WCA")
    val detectors = Seq("FUV", "NUV")
    // LIFE_ADJ -> APERTURE -> DETECTOR -> std_ypos
    val std = typedLit(lps.zipWithIndex.map { case (lp, i) =>
      lp -> apertures.zipWithIndex.map { case (ap, j) =>
        ap -> detectors.zipWithIndex.map { case (det, k) =>
          det -> positions(i)(j)(k) }.toMap }.toMap }.toMap)
    val keys = Seq("LIFE_ADJ", "APERTURE", "DETECTOR")
    df.withColumn("LIFE_ADJ",
        when(col("LIFE_ADJ") < 1, lit(null)).otherwise(col("LIFE_ADJ")))
      .na.drop(Seq("APERYPOS") ++ keys)
      .withColumn("std_ypos", std(col("LIFE_ADJ"))(col("APERTURE"))(col("DETECTOR")))
      .filter(col("std_ypos").isNotNull)
      .select((keys ++ df.columns.filterNot(keys.contains) :+ "std_ypos").map(col): _*)
      .withColumn("SHIFT_APERY", col("APERYPOS") - col("std_ypos"))
  }

  /** Telemetry-mnemonic track (reference:
    * cosmo/monitors/telemetry_monitors.py:104–170): (MJD, value) samples →
    * absolute time, boxcar smoothing, central-99% band, and the as-of
    * value at each probe time (step_wise, telemetry_monitors.py:428–457).
    * Returns (smoothed samples, band bounds, probe values). */
  def telemetryTrack(samples: DataFrame, probes: DataFrame,
                     boxWidth: Int = 4): (DataFrame, DataFrame, DataFrame) = {
    val withTs = samples.withColumn("ts", TimeFns.mjdToTs(col("MJD")))
    val smoothed = Stats.boxcar(withTs, Seq.empty, Seq(col("MJD")),
      "Data", boxWidth, "smoothed")
    val band = withTs.agg(
      expr("percentile(Data, 0.005)").as("lo"),
      expr("percentile(Data, 0.995)").as("hi"))
    // global (unkeyed) as-of through the custom range-partitioned
    // operator — the window formulation with no partition key collapses
    // to a single task, which is exactly the case AsOfJoinExec's
    // executeGlobal exists for
    val probeVals = org.apache.spark.sql.graft.AsOfJoinApi.asOf(
      probes, samples.select(col("MJD"), col("Data")),
      keys = Seq.empty, timeCol = "MJD", quoteVal = "Data", outCol = "value_at")
    (smoothed, band, probeVals)
  }

  /** Dark-rate binning (reference: cosmo/monitors/dark_monitors.py:53–98):
    * events exploded per exposure, filtered to a detector region and PHA
    * band, counted into fixed time bins, normalized to a rate. */
  def darkRate(events: DataFrame, x0: Double, x1: Double, y0: Double,
               y1: Double, phaLo: Int, phaHi: Int, binSeconds: Double,
               npix: Double): DataFrame =
    events
      .filter(col("XCORR") > x0 && col("XCORR") < x1 &&
        col("YCORR") > y0 && col("YCORR") < y1 &&
        col("PHA") > phaLo && col("PHA") < phaHi)
      .withColumn("tbin", floor(col("TIME") / binSeconds))
      .groupBy("ROOTNAME", "tbin")
      .agg(count(lit(1)).as("n_events"))
      .withColumn("dark_rate", col("n_events") / lit(npix) / lit(binSeconds))

  /** The reference's dark-monitor detector regions, verbatim
    * (dark_monitors.py:474–575): per segment, named (x0, x1, y0, y1)
    * boxes. FUV segments filter PHA to the (2, 23) good band
    * (dark_monitors.py:58); NUV has no PHA column. */
  object DarkRegions {
    val fuva: Seq[(String, (Double, Double, Double, Double))] = Seq(
      "bottom" -> ((1060d, 15250d, 296d, 375d)),
      "left" -> ((1060d, 1260d, 296d, 734d)),
      "top" -> ((1060d, 15250d, 660d, 734d)),
      "right" -> ((15119d, 15250d, 296d, 734d)),
      "inner" -> ((1260d, 15119d, 375d, 660d)))
    val fuvb: Seq[(String, (Double, Double, Double, Double))] = Seq(
      "bottom" -> ((809d, 15182d, 360d, 405d)),
      "left" -> ((809d, 1000d, 360d, 785d)),
      "top" -> ((809d, 15182d, 740d, 785d)),
      "right" -> ((14990d, 15182d, 360d, 785d)),
      "inner" -> ((1000d, 14990d, 405d, 740d)))
    val nuv: Seq[(String, (Double, Double, Double, Double))] = Seq(
      "full" -> ((0d, 1024d, 0d, 1024d)))
  }

  /** Multi-region dark monitor (R5 region tagging + A12 binned rates):
    * per-region dark rates with a `region` label — the reference's
    * `multi = True` FUVA/FUVB monitors (dark_monitors.py:474–497), with
    * per-region npix derived from the box. `filterPha = false`
    * reproduces the NUV path (no PHA column, dark_monitors.py:66–72).
    *
    * Implemented as ONE scan + a broadcast interval-containment join
    * against the tiny regions dimension — the union-of-filtered-copies
    * formulation re-scans the event table once per region (5 scans for
    * FUVA), which is the difference between one pass and five at 100 TB.
    * Overlapping boxes replicate the event into each region via the join
    * fan-out, exactly as the reference's per-region loop counts them. */
  def darkRateRegions(events: DataFrame,
                      regions: Seq[(String, (Double, Double, Double, Double))],
                      binSeconds: Double = 25.0,
                      filterPha: Boolean = true): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val dim = regions.map { case (n, (x0, x1, y0, y1)) =>
      (n, x0, x1, y0, y1, (x1 - x0) * (y1 - y0))
    }.toDF("region", "x0", "x1", "y0", "y1", "npix")
    val phaed =
      if (filterPha) events.filter(col("PHA") > 2 && col("PHA") < 23)
      else events
    phaed.join(broadcast(dim),
        col("XCORR") > col("x0") && col("XCORR") < col("x1") &&
          col("YCORR") > col("y0") && col("YCORR") < col("y1"))
      .withColumn("tbin", floor(col("TIME") / binSeconds))
      .groupBy("region", "ROOTNAME", "tbin", "npix")
      .agg(count(lit(1)).as("n_events"))
      .withColumn("dark_rate", col("n_events") / col("npix") / lit(binSeconds))
      .select("ROOTNAME", "tbin", "n_events", "dark_rate", "region")
  }

  /** Plot-ready jitter traces (reference: cosmo/monitors/
    * jitter_monitors.py:15–75 view_jitter): per (EXPNAME, axis), the
    * absolute sample time with the avg ± rms band — the tidy table the
    * reference's figure consumes (S18's contract: the engine emits the
    * trace table, rendering is presentation-layer). */
  def jitterTraces(jitter: DataFrame): DataFrame =
    // ONE scan + one explode for both axes (the per-axis union re-read
    // the jitter source twice): all five per-sample arrays zip in a
    // single explodeArrays — they come from the same FITS table
    // extension, so equal lengths are guaranteed (and raggedness is the
    // error explodeArrays exists to raise) — then each sample fans out
    // to its V2/V3 rows via an inline 2-element explode.
    Relational.explodeArrays(
      jitter.select(col("EXPNAME"), col("EXPSTART"), col("Seconds"),
        col("SI_V2_AVG"), col("SI_V2_RMS"),
        col("SI_V3_AVG"), col("SI_V3_RMS")),
      Seq("Seconds", "SI_V2_AVG", "SI_V2_RMS", "SI_V3_AVG", "SI_V3_RMS"),
      posCol = "sample")
      .select(col("EXPNAME"),
        TimeFns.mjdToTs(col("EXPSTART") + col("Seconds") / lit(86400.0d))
          .as("sample_ts"),
        explode(array(
          struct(lit("V2").as("axis"), col("SI_V2_AVG").as("avg"),
            col("SI_V2_RMS").as("rms")),
          struct(lit("V3").as("axis"), col("SI_V3_AVG").as("avg"),
            col("SI_V3_RMS").as("rms")))).as("t"))
      .select(col("EXPNAME"), col("t.axis").as("axis"), col("sample_ts"),
        (col("t.avg") - col("t.rms")).as("lo"),
        col("t.avg").as("avg"),
        (col("t.avg") + col("t.rms")).as("hi"))
}
