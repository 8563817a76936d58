package graft.monitors

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Runner.MonitorJob

/** The reference's registered monitor suite as named, runnable jobs —
  * the 12 classes exported by cosmo/monitors/__init__.py:1–19, each a
  * declarative composition of the certified operators. A user of the
  * reference switches by supplying the same inputs ([[Sources]]) and
  * running `Runner.runAll(spark, "monthly")` — the engine-side
  * equivalent of `cosmo --monthly` (run_monitors.py:120–146).
  *
  * Dark and telemetry pipelines exist as ops ([[Monitors.darkRate]],
  * [[Monitors.telemetryTrack]]) but are NOT registered here, mirroring
  * the reference, whose runner collects only the 12 exported classes.
  */
object MonitorCatalog {

  /** Input tables the reference monitors read (SURVEY.md §1 data model):
    * lampflash exposures with per-flash arrays, parsed SMS rows, acq
    * exposures, fit-epoch breakpoints per FGS. */
  final case class Sources(
      lampflash: DataFrame,
      sms: DataFrame,
      acq: DataFrame,
      breakpoints: DataFrame)

  /** Register all 12 reference monitors (cadence `monthly`, matching
    * their `run` attributes, e.g. acq_monitors.py:52), with the OSM
    * families' shared input frames ([[Runner.Shared]]). */
  def register(src: Sources): Unit = {
    // ACQ family (acq_monitors.py)
    Runner.register(MonitorJob("acq_image", "monthly", _ =>
      Monitors.acqImageTrack(src.acq, src.breakpoints)))
    Runner.register(MonitorJob("acq_image_v2v3", "monthly", _ =>
      Monitors.acqImageV2V3Track(src.acq, src.breakpoints)))
    Runner.register(MonitorJob("acq_peakd", "monthly", _ =>
      Monitors.specAcqSlews(src.acq, "ACQ/PEAKD", "ACQSLEWX")))
    Runner.register(MonitorJob("acq_peakxd", "monthly", _ =>
      Monitors.specAcqSlews(src.acq, "ACQ/PEAKXD", "ACQSLEWY")))

    // OSM families (osm_shift_monitors.py, osm_drift_monitors.py): all
    // six monitors read one lampflash ⋈ SMS frame, and the two shift
    // monitors of a detector read one segment pivot that carries both
    // shift columns, so the runner builds each once per run.
    val joined = new Runner.Shared(() => Monitors.osmJoined(src.lampflash, src.sms))
    def pivot(detector: String, segments: Seq[String]) = new Runner.Shared(() =>
      Monitors.segmentPivot(Monitors.osmExplode(joined(), detector), segments))
    val fuvPivot = pivot("FUV", Seq("FUVA", "FUVB"))
    val nuvPivot = pivot("NUV", Monitors.nuvStripes)

    // OSM shift family: FUVA−FUVB paired flash-for-flash per rootname for
    // FUV (compute_segment_diff, osm_shift_monitors.py:55–86), stripe
    // pairs B−C / C−A for NUV; SHIFT1 = dispersion shifts at threshold
    // 10, SHIFT2 = cross-dispersion at 5 (X3).
    def flagged(diffs: DataFrame, threshold: Double): DataFrame =
      diffs.withColumn("is_outlier", abs(col("seg_diff")) > threshold)
    Runner.register(MonitorJob("fuv_osm_shift1", "monthly", _ =>
      flagged(Monitors.pairDiff(fuvPivot(), "SHIFT_DISP", "FUVA", "FUVB"), 10.0)))
    Runner.register(MonitorJob("fuv_osm_shift2", "monthly", _ =>
      flagged(Monitors.pairDiff(fuvPivot(), "SHIFT_XDISP", "FUVA", "FUVB"), 5.0)))
    Runner.register(MonitorJob("nuv_osm_shift1", "monthly", _ =>
      flagged(Monitors.stripePairDiffs(nuvPivot(), "SHIFT_DISP"), 10.0)))
    Runner.register(MonitorJob("nuv_osm_shift2", "monthly", _ =>
      flagged(Monitors.stripePairDiffs(nuvPivot(), "SHIFT_XDISP"), 5.0)))

    // OSM drift family: relative-to-first-flash shifts, drift rates vs
    // time since the OSM move.
    Runner.register(MonitorJob("fuv_osm_drift", "monthly", _ =>
      Monitors.osmDrift(joined(), "FUV")))
    Runner.register(MonitorJob("nuv_osm_drift", "monthly", _ =>
      Monitors.osmDrift(joined(), "NUV")))

    // Aperture shift family (aper_shift_monitors.py): LP-position block
    // lookup per detector; SHIFT_APERY = APERYPOS − expected.
    Runner.register(MonitorJob("fuv_aperture_shift", "monthly", _ =>
      Monitors.apertureShift(src.acq.filter(col("DETECTOR") === "FUV"))))
    Runner.register(MonitorJob("nuv_aperture_shift", "monthly", _ =>
      Monitors.apertureShift(src.acq.filter(col("DETECTOR") === "NUV"))))
  }

  /** Inputs for the extended set (modules the reference ships but does
    * NOT export through its runner: dark_monitors, telemetry_monitors,
    * jitter_monitors). */
  final case class ExtendedSources(
      darkEvents: DataFrame,
      telemetrySamples: DataFrame,
      telemetryProbes: DataFrame,
      jitter: DataFrame)

  /** Register the unexported monitor families under their own cadence so
    * they never collide with the faithful 12-monitor `monthly` group. */
  def registerExtended(src: ExtendedSources,
                       cadence: String = "extended"): Unit = {
    Runner.register(MonitorJob("dark_fuva_regions", cadence, _ =>
      Monitors.darkRateRegions(src.darkEvents.filter(col("SEGMENT") === "FUVA"),
        Monitors.DarkRegions.fuva)))
    Runner.register(MonitorJob("dark_fuvb_regions", cadence, _ =>
      Monitors.darkRateRegions(src.darkEvents.filter(col("SEGMENT") === "FUVB"),
        Monitors.DarkRegions.fuvb)))
    Runner.register(MonitorJob("dark_nuv", cadence, _ =>
      Monitors.darkRateRegions(src.darkEvents.filter(col("SEGMENT") === "N/A"),
        Monitors.DarkRegions.nuv, filterPha = false)))
    Runner.register(MonitorJob("telemetry", cadence, _ =>
      Monitors.telemetryTrack(src.telemetrySamples, src.telemetryProbes)._1))
    Runner.register(MonitorJob("jitter_traces", cadence, _ =>
      Monitors.jitterTraces(src.jitter)))
  }
}
