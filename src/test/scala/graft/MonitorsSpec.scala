package graft

import org.apache.spark.sql.functions._
import graft.core.TimeFns
import graft.monitors.Monitors

class MonitorsSpec extends SparkSpec {
  import spark.implicits._

  // lampflash fixture: per-exposure arrays, FUVA/FUVB flash pairs
  private def lampflash = Seq(
    ("la1q", 59000.0, "FUV", "G160M",
      Seq(0.0, 10.0), Seq(1.0, 2.0), Seq(0.1, 0.2), Seq("FUVA", "FUVB")),
    ("la2q", 59001.0, "FUV", "G130M",
      Seq(0.0, 5.0), Seq(20.0, 2.0), Seq(0.3, 0.4), Seq("FUVA", "FUVB")),
    ("la3q", 59002.0, "NUV", "G185M",
      Seq(0.0), Seq(9.0), Seq(0.5), Seq("NUVA")),
    ("la4q", 59003.0, "FUV", "G160M",
      Seq.empty[Double], Seq.empty[Double], Seq.empty[Double], Seq.empty[String]))
    .toDF("ROOTNAME", "EXPSTART", "DETECTOR", "OPT_ELEM",
      "TIME", "SHIFT_DISP", "SHIFT_XDISP", "SEGMENT")

  private def sms = Seq(
    ("la1", 100.0), ("la2", 200.0), ("la3", 300.0), ("la4", 400.0))
    .toDF("ROOTNAME", "TSINCEOSM1")

  test("osmShiftData joins SMS on derived key, keeps FUV, explodes flashes") {
    val out = Monitors.osmShiftData(lampflash, sms)
    val rows = out.select("ROOTNAME", "flash", "SEGMENT", "SHIFT_DISP", "TSINCEOSM1")
      .as[(String, Int, String, Double, Double)].collect().toSet
    assert(rows == Set(
      ("la1q", 0, "FUVA", 1.0, 100.0), ("la1q", 1, "FUVB", 2.0, 100.0),
      ("la2q", 0, "FUVA", 20.0, 200.0), ("la2q", 1, "FUVB", 2.0, 200.0)))
    // absolute time: EXPSTART MJD + TIME seconds
    val ts = out.filter(col("ROOTNAME") === "la1q" && col("flash") === 1)
      .select(unix_micros(col("sample_ts"))).as[Long].head()
    val expected = ((59000.0 - 40587.0) * 86400.0 + 10.0) * 1e6
    assert(math.abs(ts - expected) < 1e3)
  }

  test("osmShiftData and osmDrift take an ingested SMS table as it is") {
    // every SmsIngest column; EXPSTART and DETECTOR are also lampflash
    // columns, and the SMS DETECTOR here disagrees with the exposure's
    val ts = java.sql.Timestamp.valueOf("2024-02-01 05:45:35")
    val full = Seq(("la1", 100.0), ("la2", 200.0), ("la3", 300.0), ("la4", 400.0))
      .map { case (r, t1) =>
        (r, 12345, "AAA0101", "NUV", "TIME-TAG", 200.0, ts, "N/A", "PSA",
          "G140L", "N/A", 1105, 3, t1, 20735.0, "100001aa", "/d/100001aa.txt")
      }.toDF(graft.ingest.SmsIngest.fieldNames: _*)
    val narrow = sms.withColumn("TSINCEOSM2", lit(20735.0))
    val shiftCols = Seq("ROOTNAME", "flash", "DETECTOR", "EXPSTART", "SEGMENT",
      "SHIFT_DISP", "TSINCEOSM1", "sample_ts").map(col)
    val shift = Monitors.osmShiftData(lampflash, full).select(shiftCols: _*)
    assert(shift.count() == 4)
    assert(shift.collect().toSet ==
      Monitors.osmShiftData(lampflash, narrow).select(shiftCols: _*).collect().toSet)
    val driftCols = Seq("ROOTNAME", "flash", "DETECTOR", "EXPSTART", "SHIFT1_DRIFT",
      "REL_TSINCEOSM1", "REL_TSINCEOSM2").map(col)
    val drift = Monitors.osmDrift(Monitors.osmJoined(lampflash, full), "FUV").select(driftCols: _*)
    assert(drift.count() == 2)
    assert(drift.collect().toSet ==
      Monitors.osmDrift(Monitors.osmJoined(lampflash, narrow), "FUV").select(driftCols: _*).collect().toSet)
  }

  test("segment diff + X3 outlier threshold reproduce the shift1 rule") {
    val exploded = Monitors.osmShiftData(lampflash, sms)
    val diffs = Monitors.segmentDiff(exploded, "SHIFT_DISP")
    val outliers = Monitors.segmentDiffOutliers(diffs, 10.0)
      .select("ROOTNAME").as[String].collect().toSeq
    assert(outliers == Seq("la2q")) // |20-2| = 18 > 10; |1-2| = 1 is fine
  }

  test("segment diff pairs multi-flash exposures flash-for-flash") {
    // two flashes per segment, segments concatenated in the arrays —
    // the real lampflash layout (compute_segment_diff subtracts the
    // sequences elementwise: osm_shift_monitors.py:55–86)
    val multi = Seq(
      ("mf1q", 59000.0, "FUV", "G160M",
        Seq(0.0, 10.0, 0.0, 10.0), Seq(5.0, 30.0, 1.0, 2.0),
        Seq(0.1, 0.2, 0.3, 0.4), Seq("FUVA", "FUVA", "FUVB", "FUVB")))
      .toDF("ROOTNAME", "EXPSTART", "DETECTOR", "OPT_ELEM",
        "TIME", "SHIFT_DISP", "SHIFT_XDISP", "SEGMENT")
    val exploded = Monitors.osmShiftData(multi,
      Seq(("mf1", 0.0)).toDF("ROOTNAME", "TSINCEOSM1"))
    val diffs = Monitors.segmentDiff(exploded, "SHIFT_DISP")
      .select("ROOTNAME", "seg_idx", "seg_diff")
      .as[(String, Int, Double)].collect().toSet
    // flash 1: 5-1=4, flash 2: 30-2=28 — one diff PER FLASH PAIR
    assert(diffs == Set(("mf1q", 1, 4.0), ("mf1q", 2, 28.0)))
    // lamp_time comes from the FUVA flash (EXPSTART + its TIME offset)
    val ts = Monitors.segmentDiff(exploded, "SHIFT_DISP")
      .filter(col("seg_idx") === 2)
      .select(unix_micros(col("lamp_time"))).as[Long].head()
    val expected = ((59000.0 - 40587.0) * 86400.0 + 10.0) * 1e6
    assert(math.abs(ts - expected) < 1e3)
  }

  test("acqImageTrack fits slew distance per FGS within breakpoint epochs") {
    // distance grows linearly with time: slope recoverable per FGS
    val acq = (0 until 10).map { i =>
      ("ACQ/IMAGE", "F1", 58000.0 + i * 100, 3.0 + i * 0.1, 4.0 + i * 0.1,
        "Success", "Open")
    }.toDF("EXPTYPE", "FGS", "EXPSTART", "ACQSLEWX", "ACQSLEWY", "ACQSTAT", "SHUTTER")
    val breaks = Seq(("F1", None: Option[Double], None: Option[Double]))
      .toDF("FGS", "lo_mjd", "hi_mjd")
    val fit = Monitors.acqImageTrack(acq, breaks)
      .select("FGS", "n", "slope").as[(String, Long, Double)].collect()
    assert(fit.length == 1)
    val (fgs, n, slope) = fit.head
    assert(fgs == "F1" && n == 10L)
    assert(slope > 0, s"slew distance drifts upward, slope=$slope")
  }

  test("acqImageV2V3Track fits NEGATED slews since each FGS's last breakpoint") {
    // slews grow with time; the reference fits -slew (acq_monitors.py:
    // 243-244), so the recovered slope must be NEGATIVE — and only the
    // 5 rows at or after the last break (58500) enter the fit
    val acq = (0 until 10).map { i =>
      ("F1", 58000.0 + i * 100, 0.1 * i, 0.0, "Success", "Open",
        "IMAGING", 3000L, 600L, "NO", "1.1")
    }.toDF("FGS", "EXPSTART", "ACQSLEWX", "ACQSLEWY", "ACQSTAT",
      "SHUTTER", "OBSTYPE", "NEVENTS", "LAMPEVNT", "EXTENDED", "LINENUM")
    val breaks = Seq(
      ("F1", None: Option[Double], Some(58500.0)),
      ("F1", Some(58500.0), None: Option[Double]))
      .toDF("FGS", "lo_mjd", "hi_mjd")
    val fits = Monitors.acqImageV2V3Track(acq, breaks)
      .select("axis", "n", "slope").as[(String, Long, Double)].collect()
    assert(fits.length == 2)
    fits.foreach { case (axis, n, slope) =>
      assert(n == 5L, s"$axis fit over rows since last break, n=$n")
      assert(slope < 0, s"$axis slope of negated growing slew, slope=$slope")
    }
  }

  test("apertureShift: 3-axis LP lookup, LP<1 dropped, SHIFT_APERY computed") {
    val df = Seq(
      ("r1", 3, "PSA", "FUV", 200.0),   // LP3/PSA/FUV -> std 181
      ("r2", 1, "BOA", "NUV", -100.0),  // LP1/BOA/NUV -> std -153
      ("r3", -1, "PSA", "FUV", 50.0),   // LP<1 -> dropped
      ("r4", 10, "WCA", "FUV", 210.0))  // LP10/WCA/FUV -> std 206
      .toDF("ROOTNAME", "LIFE_ADJ", "APERTURE", "DETECTOR", "APERYPOS")
    val out = graft.monitors.Monitors.apertureShift(df)
      .select("ROOTNAME", "SHIFT_APERY").as[(String, Double)].collect().toMap
    assert(out == Map("r1" -> 19.0, "r2" -> 53.0, "r4" -> 4.0))
  }

  test("apertureShift's map lookup gives the rows and columns of the dimension join") {
    val df = Seq(
      ("r1", 3, "PSA", "FUV", 200.0),
      ("r2", 1, "BOA", "NUV", -100.0),
      ("r3", -1, "PSA", "FUV", 50.0),   // LP<1: dropped
      ("r4", 10, "WCA", "FUV", 210.0),
      ("r5", 9, "PSA", "FUV", 100.0),   // no LP9 entry: dropped
      ("r6", 12, "XYZ", "NUV", 100.0),  // no such aperture: dropped
      ("r7", 6, "WCA", "FUV", 30.0))
      .toDF("ROOTNAME", "LIFE_ADJ", "APERTURE", "DETECTOR", "APERYPOS")
    // the equi-join form against the 88-row dimension
    val lps = Seq(1, 2, 3, 4, 5, 6, 7, 8, 10, 11, 12)
    val fuv = Map("PSA" -> Seq(126, 53, 181, 234, 13, -11, -49, 206, 206, 270, 90),
      "BOA" -> Seq(-153, -226, -98, -45, -226, -98, -98, -73, -73, -9, -189),
      "WCA" -> Seq(126, 53, 181, 234, 13, 22, 32, 206, 206, 270, 90))
    val nuv = Map("PSA" -> 126, "BOA" -> -153, "FCA" -> -153, "WCA" -> 126)
    val dim = (for ((lp, i) <- lps.zipWithIndex; ap <- Seq("PSA", "BOA", "FCA", "WCA");
                    det <- Seq("FUV", "NUV")) yield
      (lp, ap, det, if (det == "NUV") nuv(ap) else fuv.getOrElse(ap, fuv("BOA"))(i)))
      .toDF("LIFE_ADJ", "APERTURE", "DETECTOR", "std_ypos")
    val joined = df.withColumn("LIFE_ADJ",
        when(col("LIFE_ADJ") < 1, lit(null)).otherwise(col("LIFE_ADJ")))
      .na.drop(Seq("APERYPOS", "LIFE_ADJ", "APERTURE", "DETECTOR"))
      .join(broadcast(dim), Seq("LIFE_ADJ", "APERTURE", "DETECTOR"))
      .withColumn("SHIFT_APERY", col("APERYPOS") - col("std_ypos"))
    val out = Monitors.apertureShift(df)
    assert(out.columns.toSeq == joined.columns.toSeq)
    assert(out.columns.toSeq == Seq("LIFE_ADJ", "APERTURE", "DETECTOR",
      "ROOTNAME", "APERYPOS", "std_ypos", "SHIFT_APERY"))
    assert(out.collect().toSet == joined.collect().toSet)
    assert(out.select("ROOTNAME").as[String].collect().toSet == Set("r1", "r2", "r4", "r7"))
  }

  test("telemetryTrack: boxcar, central band, and as-of probe values") {
    val samples = Seq(
      (58849.0, 1.0), (58850.0, 2.0), (58851.0, 3.0), (58852.0, 100.0),
      (58853.0, 4.0), (58854.0, 5.0)).toDF("MJD", "Data")
    val probes = Seq(58851.5, 58840.0, 58860.0).toDF("MJD")
    val (smoothed, band, probeVals) =
      graft.monitors.Monitors.telemetryTrack(samples, probes)
    assert(smoothed.count() == 6)
    val (lo, hi) = band.as[(Double, Double)].head()
    assert(lo >= 1.0 && lo < 2.0 && hi > 5.0 && hi <= 100.0)
    val pv = probeVals.select("MJD", "value_at")
      .as[(Double, Option[Double])].collect().toMap
    assert(pv(58851.5).contains(3.0))  // last sample at or before
    assert(pv(58840.0).isEmpty)        // before first sample
    assert(pv(58860.0).contains(5.0))  // after last sample
  }

  test("acqSlewStats: per-FGS count, mean, std, min, max over ACQ/IMAGE rows") {
    // F1 slews 1, 2, 3, 6 plus a null (not counted) and a non-image
    // acquisition (filtered out); F2 has one slew; F3 only non-image rows
    val acq = Seq[(String, String, Option[Double])](
      ("F1", "ACQ/IMAGE", Some(1.0)), ("F1", "ACQ/IMAGE", Some(2.0)),
      ("F1", "ACQ/IMAGE", Some(3.0)), ("F1", "ACQ/IMAGE", Some(6.0)),
      ("F1", "ACQ/IMAGE", None), ("F1", "ACQ/PEAKXD", Some(100.0)),
      ("F2", "ACQ/IMAGE", Some(4.0)), ("F3", "ACQ/PEAKD", Some(7.0)))
      .toDF("FGS", "EXPTYPE", "SLEW")
    val out = Monitors.acqSlewStats(acq, "SLEW")
      .select("FGS", "n", "mean", "std", "min", "max")
      .as[(String, Long, Double, Option[Double], Double, Double)]
      .collect().sortBy(_._1).toSeq
    assert(out.map(_._1) == Seq("F1", "F2"))
    val (_, n1, mean1, std1, min1, max1) = out.head
    assert(n1 == 4L && mean1 == 3.0 && min1 == 1.0 && max1 == 6.0)
    // sample std: sqrt(((1-3)^2 + (2-3)^2 + 0 + (6-3)^2) / 3) = sqrt(14/3)
    assert(math.abs(std1.get - math.sqrt(14.0 / 3.0)) < 1e-12, std1)
    // a single slew has no sample std
    assert(out(1) == (("F2", 1L, 4.0, None, 4.0, 4.0)))
  }

  test("darkRate bins events into time buckets within region and PHA cuts") {
    val events = Seq(
      ("d1", 100.0, 100.0, 10, 0.0), ("d1", 110.0, 110.0, 12, 10.0),
      ("d1", 120.0, 120.0, 13, 30.0),
      ("d1", 5000.0, 100.0, 10, 1.0),  // outside x region
      ("d1", 100.0, 100.0, 30, 2.0))   // outside PHA band
      .toDF("ROOTNAME", "XCORR", "YCORR", "PHA", "TIME")
    val out = Monitors.darkRate(events, 0, 1000, 0, 1000, 2, 23,
      binSeconds = 25.0, npix = 100.0)
      .select("tbin", "n_events").as[(Long, Long)].collect().toSet
    assert(out == Set((0L, 2L), (1L, 1L)))
  }

  test("darkRateRegions: per-region tagging with the reference's FUVA boxes") {
    val events = Seq(
      ("d1", 2000.0, 500.0, 10, 0.0),   // inner (1260-15119, 375-660)
      ("d1", 2000.0, 300.0, 10, 0.0),   // bottom (1060-15250, 296-375)
      ("d1", 1100.0, 400.0, 10, 0.0),   // left AND bottom? y=400 -> left only
      ("d1", 2000.0, 500.0, 30, 0.0))   // PHA outside band -> dropped
      .toDF("ROOTNAME", "XCORR", "YCORR", "PHA", "TIME")
    val out = Monitors.darkRateRegions(events, Monitors.DarkRegions.fuva)
      .select("region", "n_events").as[(String, Long)].collect().toSet
    assert(out == Set(("inner", 1L), ("bottom", 1L), ("left", 1L)))
    // npix normalization: inner box is (15119-1260)x(660-375)
    val rate = Monitors.darkRateRegions(events, Monitors.DarkRegions.fuva)
      .filter(col("region") === "inner").select("dark_rate").as[Double].head()
    assert(math.abs(rate - 1.0 / ((15119.0 - 1260) * (660.0 - 375)) / 25.0) < 1e-15)
    // NUV path has no PHA column at all
    val nuvEvents = Seq(("n1", 100.0, 100.0, 0.0))
      .toDF("ROOTNAME", "XCORR", "YCORR", "TIME")
    val nuv = Monitors.darkRateRegions(nuvEvents, Monitors.DarkRegions.nuv,
      filterPha = false)
    assert(nuv.select("n_events").as[Long].head() == 1L)
  }
}
