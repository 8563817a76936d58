package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.monitors.{MonitorCatalog, Monitors, Runner}

/** The full 12-monitor reference suite as registered jobs: every monitor
  * runs end-to-end on representative inputs, and the composed semantics
  * (stripe pairs, drift rates) are spot-checked exactly. */
class MonitorCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def lampflash = Seq(
    ("la1q", 59000.0, "FUV", "G160M",
      Seq(0.0, 10.0), Seq(1.0, 2.0), Seq(0.1, 0.2), Seq("FUVA", "FUVB")),
    ("la2q", 59001.0, "FUV", "G130M",
      Seq(0.0, 5.0), Seq(20.0, 2.0), Seq(0.3, 0.4), Seq("FUVA", "FUVB")),
    ("na1q", 59002.0, "NUV", "G185M",
      Seq(0.0, 1.0, 2.0), Seq(1.0, 2.0, 3.0), Seq(0.1, 0.2, 0.3),
      Seq("NUVA", "NUVB", "NUVC")))
    .toDF("ROOTNAME", "EXPSTART", "DETECTOR", "OPT_ELEM",
      "TIME", "SHIFT_DISP", "SHIFT_XDISP", "SEGMENT")

  private def sms = Seq(
    ("la1", 100.0, 1000.0), ("la2", 200.0, 2000.0), ("na1", 300.0, 3000.0))
    .toDF("ROOTNAME", "TSINCEOSM1", "TSINCEOSM2")

  private def acq = Seq(
    // ACQ/IMAGE rows passing every V2V3 quality cut
    ("ACQ/IMAGE", "F1", 58000.0, 0.3, 0.4, "Success", "Open",
      "IMAGING", 3000L, 600L, "NO", "1.1", "FUV", 3, "PSA", 200.0),
    ("ACQ/IMAGE", "F1", 58100.0, 0.4, 0.5, "Success", "Open",
      "IMAGING", 3000L, 600L, "NO", "2.1", "FUV", 3, "PSA", 205.0),
    ("ACQ/IMAGE", "F1", 58200.0, 0.5, 0.6, "Success", "Open",
      "IMAGING", 3000L, 600L, "NO", "3.1", "NUV", 1, "BOA", -100.0),
    // peak acquisitions, one outlier each
    ("ACQ/PEAKD", "F2", 58000.0, 1.5, 0.0, "Success", "Open",
      "SPECTROSCOPIC", 100L, 0L, "NO", "1.1", "FUV", 3, "PSA", 0.0),
    ("ACQ/PEAKD", "F2", 58001.0, 0.2, 0.0, "Success", "Open",
      "SPECTROSCOPIC", 100L, 0L, "NO", "1.1", "FUV", 3, "PSA", 0.0),
    ("ACQ/PEAKXD", "F3", 58002.0, 0.0, -1.2, "Success", "Open",
      "SPECTROSCOPIC", 100L, 0L, "NO", "1.1", "NUV", 2, "PSA", 0.0))
    .toDF("EXPTYPE", "FGS", "EXPSTART", "ACQSLEWX", "ACQSLEWY", "ACQSTAT",
      "SHUTTER", "OBSTYPE", "NEVENTS", "LAMPEVNT", "EXTENDED", "LINENUM",
      "DETECTOR", "LIFE_ADJ", "APERTURE", "APERYPOS")

  private def breakpoints =
    Seq(("F1", None: Option[Double], None: Option[Double]))
      .toDF("FGS", "lo_mjd", "hi_mjd")

  test("all 12 registered reference monitors run without error") {
    Runner.clear()
    MonitorCatalog.register(MonitorCatalog.Sources(lampflash, sms, acq, breakpoints))
    val results = Runner.runAll(spark, "monthly")
    assert(results.length == 12, results.map(_.name).mkString(", "))
    val failed = results.filter(_.error.isDefined)
    assert(failed.isEmpty, failed.mkString("; "))
    val byName = results.map(r => r.name -> r.rowCount).toMap
    assert(byName("fuv_osm_shift1") == 2)  // la1q, la2q diffs
    assert(byName("nuv_osm_shift1") == 2)  // B-C and C-A for na1q
    assert(byName("acq_peakd") == 2 && byName("acq_peakxd") == 1)
    // every FUV acq row (2 image + 2 peakd, all LP3/PSA) joins the LP
    // dimension; both NUV rows (LP1/BOA, LP2/PSA) do too
    assert(byName("fuv_aperture_shift") == 4 && byName("nuv_aperture_shift") == 2)
    Runner.clear()
  }

  test("extended catalog: dark regions, telemetry, jitter run under their own cadence") {
    Runner.clear()
    val dark = Seq(
      ("FUVA", "d1", 2000.0, 500.0, 10, 0.0),
      ("FUVB", "d2", 2000.0, 500.0, 10, 0.0),
      ("N/A", "d3", 100.0, 100.0, 0, 0.0))
      .toDF("SEGMENT", "ROOTNAME", "XCORR", "YCORR", "PHA", "TIME")
    val telem = Seq((58800.0, 1.0), (58801.0, 2.0), (58802.0, 3.0), (58803.0, 4.0))
      .toDF("MJD", "Data")
    val probes = Seq(Tuple1(58801.5)).toDF("MJD")
    val jitter = Seq(("e1", 59000.0, Seq(0.0f, 10.0f),
      Seq(1.0f, 2.0f), Seq(0.1f, 0.2f), Seq(3.0f, 4.0f), Seq(0.3f, 0.4f)))
      .toDF("EXPNAME", "EXPSTART", "Seconds",
        "SI_V2_AVG", "SI_V2_RMS", "SI_V3_AVG", "SI_V3_RMS")
    MonitorCatalog.registerExtended(
      MonitorCatalog.ExtendedSources(dark, telem, probes, jitter))
    val results = Runner.runAll(spark, "extended")
    assert(results.length == 5, results.map(_.name).mkString(", "))
    assert(results.forall(_.error.isEmpty), results.filter(_.error.isDefined))
    val byName = results.map(r => r.name -> r.rowCount).toMap
    assert(byName("dark_fuva_regions") == 1L && byName("dark_nuv") == 1L)
    assert(byName("jitter_traces") == 4L) // 2 samples x 2 axes
    // and the faithful monthly group is untouched by the extended cadence
    assert(Runner.registered("monthly").isEmpty)
    Runner.clear()
  }

  /** Canonical content hash of a monitor output: columns sorted by name,
    * every value cast to string, rows sorted, md5 over the whole relation.
    * Pinning the digest freezes the full output — any silent semantic
    * drift in a monitor (pairing, drift rates, filters) flips the hash. */
  private def contentHash(df: org.apache.spark.sql.DataFrame): String = {
    val canon = df.select(df.columns.sorted.map(c => col(c).cast("string")): _*)
      .collect()
      .map(_.toSeq.map(v => if (v == null) "\u0000" else v.toString).mkString("\u0001"))
      .sorted
      .mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  test("all 17 monitor outputs are content-hash pinned on the fixed inputs") {
    Runner.clear()
    val hashes = scala.collection.mutable.Map[String, String]()
    val sink = (name: String, df: org.apache.spark.sql.DataFrame) =>
      hashes(name) = contentHash(df)
    MonitorCatalog.register(MonitorCatalog.Sources(lampflash, sms, acq, breakpoints))
    Runner.runAll(spark, "monthly", sink = sink)
    Runner.clear()
    val dark = Seq(
      ("FUVA", "d1", 2000.0, 500.0, 10, 0.0),
      ("FUVB", "d2", 2000.0, 500.0, 10, 0.0),
      ("N/A", "d3", 100.0, 100.0, 0, 0.0))
      .toDF("SEGMENT", "ROOTNAME", "XCORR", "YCORR", "PHA", "TIME")
    val telem = Seq((58800.0, 1.0), (58801.0, 2.0), (58802.0, 3.0), (58803.0, 4.0))
      .toDF("MJD", "Data")
    val probes = Seq(Tuple1(58801.5)).toDF("MJD")
    val jitter = Seq(("e1", 59000.0, Seq(0.0f, 10.0f),
      Seq(1.0f, 2.0f), Seq(0.1f, 0.2f), Seq(3.0f, 4.0f), Seq(0.3f, 0.4f)))
      .toDF("EXPNAME", "EXPSTART", "Seconds",
        "SI_V2_AVG", "SI_V2_RMS", "SI_V3_AVG", "SI_V3_RMS")
    MonitorCatalog.registerExtended(
      MonitorCatalog.ExtendedSources(dark, telem, probes, jitter))
    Runner.runAll(spark, "extended", sink = sink)
    Runner.clear()
    val expected = MonitorCatalogSpec.pinnedHashes
    val diffs = (expected.keySet ++ hashes.keySet).toSeq.sorted.flatMap { n =>
      (expected.get(n), hashes.get(n)) match {
        case (Some(e), Some(a)) if e == a => None
        case (e, a) => Some(s"$n: pinned=${e.getOrElse("<missing>")} actual=${a.getOrElse("<missing>")}")
      }
    }
    assert(diffs.isEmpty, "\n" + diffs.mkString("\n"))
  }

  /** Rows of every monitor the catalog runs, as the sink received them. */
  private def catalogRows(lamp: DataFrame, smsRows: DataFrame,
                          failIn: Set[String] = Set.empty)
      : (Seq[Runner.MonitorResult], Map[String, Set[Row]]) = {
    val rows = scala.collection.mutable.Map[String, Set[Row]]()
    Runner.clear()
    MonitorCatalog.register(MonitorCatalog.Sources(lamp, smsRows, acq, breakpoints))
    val results = Runner.runAll(spark, "monthly", sink = (name, df) => {
      if (failIn(name)) throw new IllegalStateException(s"sink of $name")
      rows(name) = df.collect().toSet
    })
    Runner.clear()
    (results, rows.toMap)
  }

  private def osmFamilyFrames(lamp: DataFrame, smsRows: DataFrame): Seq[DataFrame] = {
    val joined = Monitors.osmJoined(lamp, smsRows)
    Seq(joined,
      Monitors.segmentPivot(Monitors.osmExplode(joined, "FUV"), Seq("FUVA", "FUVB")),
      Monitors.segmentPivot(Monitors.osmExplode(joined, "NUV"), Monitors.nuvStripes))
  }

  private def cached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  test("runAll persists the OSM family frames and releases exactly those") {
    val lamp = lampflash.persist()
    val smsRows = sms
    try {
      assert(lamp.count() == 3)
      val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
      val seenCached = scala.collection.mutable.Map[String, Seq[Boolean]]()
      Runner.clear()
      MonitorCatalog.register(MonitorCatalog.Sources(lamp, smsRows, acq, breakpoints))
      val results = Runner.runAll(spark, "monthly", sink = (name, df) => {
        df.collect()
        seenCached(name) = osmFamilyFrames(lamp, smsRows).map(cached)
      })
      Runner.clear()
      assert(results.forall(_.error.isEmpty), results)
      // the join is cached from the first OSM monitor on, each pivot from
      // the first monitor of its detector
      assert(seenCached("acq_peakxd") == Seq(false, false, false))
      assert(seenCached("fuv_osm_shift1") == Seq(true, true, false))
      assert(seenCached("nuv_osm_drift") == Seq(true, true, true))
      assert(osmFamilyFrames(lamp, smsRows).forall(!cached(_)), "family frames released")
      assert(cached(lamp), "the caller's cache survives")
      assert(spark.sparkContext.getPersistentRDDs.keySet == rddsBefore)
    } finally lamp.unpersist(blocking = true)
  }

  test("a family frame the caller cached is read, not released") {
    val (lamp, smsRows) = (lampflash, sms)
    val joined = Monitors.osmJoined(lamp, smsRows).persist()
    try {
      assert(joined.count() == 3)
      val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
      val (results, _) = catalogRows(lamp, smsRows)
      assert(results.forall(_.error.isEmpty), results)
      assert(cached(Monitors.osmJoined(lamp, smsRows)), "the caller's join stays cached")
      assert(osmFamilyFrames(lamp, smsRows).tail.forall(!cached(_)))
      assert(spark.sparkContext.getPersistentRDDs.keySet == rddsBefore)
    } finally joined.unpersist(blocking = true)
  }

  test("a failing first monitor of a family leaves its siblings running, then releases") {
    val (lamp, smsRows) = (lampflash, sms)
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val (results, _) = catalogRows(lamp, smsRows,
      failIn = Set("fuv_osm_shift1", "nuv_osm_shift1"))
    val byName = results.map(r => r.name -> r).toMap
    assert(results.length == 12)
    Seq("fuv_osm_shift1", "nuv_osm_shift1").foreach { n =>
      assert(byName(n).rowCount == -1L && byName(n).error.exists(_.contains(s"sink of $n")))
    }
    assert(results.filterNot(r => Set("fuv_osm_shift1", "nuv_osm_shift1")(r.name))
      .forall(_.error.isEmpty), results)
    assert(byName("fuv_osm_shift2").rowCount == 2 && byName("nuv_osm_shift2").rowCount == 2)
    assert(byName("fuv_osm_drift").rowCount == 2 && byName("nuv_osm_drift").rowCount == 2)
    assert(osmFamilyFrames(lamp, smsRows).forall(!cached(_)))
    assert(spark.sparkContext.getPersistentRDDs.keySet == rddsBefore)
  }

  test("a second runAll over one registration gives the same row counts") {
    Runner.clear()
    MonitorCatalog.register(MonitorCatalog.Sources(lampflash, sms, acq, breakpoints))
    val first = Runner.runAll(spark, "monthly", sink = (_, df) => df.collect())
    val second = Runner.runAll(spark, "monthly", sink = (_, df) => df.collect())
    Runner.clear()
    assert(first.forall(_.error.isEmpty), first)
    assert(first == second)
  }

  test("shared-frame monitors equal the per-monitor forms, with a null in one shift column") {
    // la1q's second FUVA/FUVB pair and na1q's NUVB flash have a null
    // SHIFT_XDISP only: SHIFT1 keeps those pairs, SHIFT2 drops them
    val lamp = Seq(
      ("la1q", 59000.0, "FUV", "G160M", Seq(0.0, 1.0, 10.0, 11.0),
        Seq(1.0, 30.0, 2.0, 3.0), Seq(Some(0.1), None, Some(9.2), Some(0.4)),
        Seq("FUVA", "FUVA", "FUVB", "FUVB")),
      ("la2q", 59001.0, "FUV", "G130M", Seq(0.0, 5.0),
        Seq(20.0, 2.0), Seq(Some(0.3), Some(0.4)), Seq("FUVA", "FUVB")),
      ("na1q", 59002.0, "NUV", "G185M", Seq(0.0, 1.0, 2.0),
        Seq(1.0, 2.0, 30.0), Seq(Some(0.1), None, Some(8.3)),
        Seq("NUVA", "NUVB", "NUVC")))
      .toDF("ROOTNAME", "EXPSTART", "DETECTOR", "OPT_ELEM",
        "TIME", "SHIFT_DISP", "SHIFT_XDISP", "SEGMENT")
    def flagged(df: DataFrame, t: Double) = df.withColumn("is_outlier", abs(col("seg_diff")) > t)
    val fuv = Monitors.osmShiftData(lamp, sms)
    val nuv = Monitors.segmentPivot(Monitors.osmShiftData(lamp, sms, detector = "NUV"),
      Monitors.nuvStripes)
    val perMonitor = Map(
      "fuv_osm_shift1" -> flagged(Monitors.segmentDiff(fuv, "SHIFT_DISP"), 10.0),
      "fuv_osm_shift2" -> flagged(Monitors.segmentDiff(fuv, "SHIFT_XDISP"), 5.0),
      "nuv_osm_shift1" -> flagged(Monitors.stripePairDiffs(nuv, "SHIFT_DISP"), 10.0),
      "nuv_osm_shift2" -> flagged(Monitors.stripePairDiffs(nuv, "SHIFT_XDISP"), 5.0),
      "fuv_osm_drift" -> Monitors.osmDrift(Monitors.osmJoined(lamp, sms), "FUV"),
      "nuv_osm_drift" -> Monitors.osmDrift(Monitors.osmJoined(lamp, sms), "NUV"))
      .map { case (n, df) => n -> df.collect().toSet }
    val (results, shared) = catalogRows(lamp, sms)
    assert(results.forall(_.error.isEmpty), results)
    perMonitor.foreach { case (n, rows) =>
      assert(shared(n) == rows, n)
      assert(results.find(_.name == n).get.rowCount == rows.size, n)
    }
    assert(perMonitor("fuv_osm_shift1").size == 3 && perMonitor("fuv_osm_shift2").size == 2)
    assert(perMonitor("nuv_osm_shift1").size == 2 && perMonitor("nuv_osm_shift2").size == 1)
  }

  test("NUV stripe pairs compute B-C and C-A exactly") {
    val out = Monitors.stripePairDiffs(Monitors.segmentPivot(
      Monitors.osmShiftData(lampflash, sms, detector = "NUV"), Monitors.nuvStripes),
      "SHIFT_DISP")
      .select("ROOTNAME", "pair", "seg_diff")
      .as[(String, String, Double)].collect().toSet
    assert(out == Set(("na1q", "B-C", -1.0), ("na1q", "C-A", 2.0)))
  }

  test("OSM drift: relative-to-first shifts, drift rates, OSM-move offsets") {
    val out = Monitors.osmDrift(Monitors.osmJoined(lampflash, sms), "FUV")
      .select("ROOTNAME", "TIME", "REL_SHIFT_DISP", "SHIFT1_DRIFT",
        "REL_TSINCEOSM1", "REL_TSINCEOSM2")
      .as[(String, Double, Double, Double, Double, Double)].collect().toSet
    assert(out == Set(
      ("la1q", 10.0, 1.0, 0.1, 110.0, 1010.0),   // (2-1)/10
      ("la2q", 5.0, -18.0, -3.6, 205.0, 2005.0))) // (2-20)/5
  }
}

object MonitorCatalogSpec {
  /** Pinned content hashes for every registered monitor on the spec's
    * fixed inputs (12 monthly + 5 extended). Regenerate by printing
    * `hashes` in the pinning test after an INTENDED semantic change. */
  val pinnedHashes: Map[String, String] = Map(
    "acq_image" -> "c4b770ed96667bbad259ca88ccf081ac",
    "acq_image_v2v3" -> "3abd73de951421d5f5c56d72866bdabc",
    "acq_peakd" -> "d94e0836e0245d06b4b398df89f0fc23",
    "acq_peakxd" -> "b5f3e156087020be7cf17af8b10dd907",
    "dark_fuva_regions" -> "d426f42d89880ded2a8ef0469e6e0b2d",
    "dark_fuvb_regions" -> "495ed12857d90eb65aef8b5ee230edb3",
    "dark_nuv" -> "e74e04db135cf642350d058ddab03c50",
    "fuv_aperture_shift" -> "6cce3a6dd055b4c7283589dba9afbc88",
    "fuv_osm_drift" -> "d21b362e9e1dee8c8071a84a860cc0ba",
    "fuv_osm_shift1" -> "f19a49377fdfd4ef40f50ed37587906b",
    "fuv_osm_shift2" -> "ec9ecfdd3993956bdffdb1d8fadf1605",
    "jitter_traces" -> "6265fc8c2b576db97165e1535fcf1c24",
    "nuv_aperture_shift" -> "3a367557d34c49b0204f2e615bd3aca2",
    "nuv_osm_drift" -> "4f72937ef28d83017f9303aec4f116a8",
    "nuv_osm_shift1" -> "fd3d85a359c1356e23715106565f691a",
    "nuv_osm_shift2" -> "5c7ab8e18f1de1e449c2a0c1c00f7df5",
    "telemetry" -> "ca8dda0bfc0a1065ed035fa7ee2096e9")
}
