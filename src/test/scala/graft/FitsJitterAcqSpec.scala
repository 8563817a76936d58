package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** S5/S6/S7 through the `fits` source, on the reference's real products
  * and on synthetic ones with closed-form values ([[SyntheticFits]]):
  * per-extension jitter rows, SPT sibling join with FGS derivation, and
  * the correlated jitter→exposure EXPSTART lookup with coalesced
  * defaults. */
class FitsJitterAcqSpec extends SparkSpec {
  import spark.implicits._

  private val data = "/root/reference/tests/data"

  /** One row per `jit` extension: header keys, then table columns. */
  private def jitter(glob: String, headers: Seq[String], cols: Seq[String]): DataFrame =
    spark.read.format("fits").option("hdu", "jit")
      .option("headers", headers.mkString(",")).load(glob)
      .select(("_file" +: headers ++: cols).map(col): _*)

  /** Header-only exposure records (extension 1's header for EXPSTART). */
  private def headersOf(glob: String, keys: String*): DataFrame =
    spark.read.format("fits").option("headers", keys.mkString(",")).load(glob)
      .select(("_file" +: keys).map(col): _*)

  test("S6: jitter reader emits one row per jit extension with arrays") {
    val jit = jitter(s"$data/*jit*", Seq("ROOTNAME", "EXPNAME"),
      Seq("Seconds", "SI_V2_AVG", "SI_V3_AVG"))
    // 3 jitter files; the association file alone holds 4 jit extensions
    assert(jit.count() >= 4)
    val assoc = jit.filter(col("_file").contains("ldxe02010"))
    assert(assoc.count() == 4)
    assert(assoc.select("EXPNAME").distinct().count() == 4)
    val row = assoc.filter(col("EXPNAME") === "ldxe02svj").head()
    assert(row.getSeq[Float](row.fieldIndex("Seconds")).length == 268)
  }

  test("jitter traces: avg +/- rms band per axis over the real jit files") {
    val jit = jitter(s"$data/*jit*", Seq("EXPSTART", "EXPNAME"),
      Seq("Seconds", "SI_V2_AVG", "SI_V2_RMS", "SI_V3_AVG", "SI_V3_RMS"))
      .withColumn("EXPSTART", col("EXPSTART").cast("double"))
    val traces = graft.monitors.Monitors.jitterTraces(jit)
    val perAxis = traces.groupBy("axis").count()
      .as[(String, Long)].collect().toMap
    assert(perAxis.keySet == Set("V2", "V3"))
    assert(perAxis("V2") == perAxis("V3") && perAxis("V2") > 0)
    // band envelope is consistent: lo <= avg <= hi everywhere
    assert(traces.filter(col("lo") > col("avg") || col("avg") > col("hi"))
      .count() == 0)
  }

  test("S5: SPT sibling join on ROOTNAME; FGS derived from DGESTAR tail") {
    val acq = headersOf(s"$data/*rawacq*", "ROOTNAME", "EXPTYPE",
      "ACQSLEWX", "ACQSLEWY", "ACQSTAT", "SHUTTER", "EXPSTART")
    val spt = headersOf(s"$data/*spt*", "ROOTNAME", "DGESTAR")
      .withColumnRenamed("_file", "spt_path")
    assert(acq.count() == 9)
    val joined = acq.join(spt, Seq("ROOTNAME"), "left")
      // FGS from the dominant-guide-star suffix (reference:
      // cosmo/monitors/data_models.py:19-22, DGESTAR[-2:])
      .withColumn("FGS", substring(col("DGESTAR"), -2, 2))
    assert(joined.count() == 9)
    val fgs = joined.select("FGS").distinct().as[String].collect()
    assert(fgs.nonEmpty && fgs.forall(f => f != null && f.startsWith("F")))
  }

  test("S7: jitter -> exposure EXPSTART lookup with coalesced defaults") {
    val jit = jitter(s"$data/*jit*", Seq("EXPNAME"), Seq())
    val acq = headersOf(s"$data/*rawacq*", "ROOTNAME", "EXPTYPE", "EXPSTART")
    // derived key: jitter EXPNAME stem + 'q' = exposure ROOTNAME
    // (reference: cosmo/filesystem.py:228-247)
    val joined = jit
      .withColumn("ROOTNAME",
        concat(expr("substring(EXPNAME, 1, length(EXPNAME)-1)"), lit("q")))
      .join(acq.select("ROOTNAME", "EXPSTART", "EXPTYPE"), Seq("ROOTNAME"), "left")
      .withColumn("EXPSTART", coalesce(col("EXPSTART").cast("double"), lit(0.0)))
      .withColumn("EXPTYPE", coalesce(col("EXPTYPE"), lit("N/A")))
    assert(joined.count() == jit.count())
    // the rawacq set does not cover the jitter exposures -> defaults applied
    val defaults = joined.filter(col("EXPSTART") === 0.0 && col("EXPTYPE") === "N/A")
    assert(defaults.count() > 0)
    // matched rows (if any) carry a real MJD
    joined.filter(col("EXPSTART") =!= 0.0).select("EXPSTART").as[Double]
      .collect().foreach(v => assert(v > 50000 && v < 70000))
  }

  private val synJit = SyntheticFits.path("*jit*")
  private val synSamples = SyntheticFits.jitters.flatMap(_.exps.map(_._2)).sum

  test("synthetic S6: jitter reader emits one row per jit extension with arrays") {
    val jit = jitter(synJit, Seq("ROOTNAME", "EXPNAME"),
      Seq("Seconds", "SI_V2_AVG", "SI_V3_AVG"))
    assert(jit.count() == 6)
    val assoc = jit.filter(col("_file").contains("ldsy01010"))
    assert(assoc.count() == 4)
    assert(assoc.select("EXPNAME").distinct().count() == 4)
    val row = assoc.filter(col("EXPNAME") === "ldsy01b2j").head()
    assert(row.getAs[String]("ROOTNAME") == "ldsy01010")
    assert(row.getSeq[Float](row.fieldIndex("Seconds")) ==
      (0 until 4).map(SyntheticFits.seconds))
    assert(row.getSeq[Float](row.fieldIndex("SI_V2_AVG")) ==
      (0 until 4).map(SyntheticFits.v2Avg(1, _)))
  }

  test("synthetic jitter traces: avg +/- rms band per axis") {
    val jit = jitter(synJit, Seq("EXPSTART", "EXPNAME"),
      Seq("Seconds", "SI_V2_AVG", "SI_V2_RMS", "SI_V3_AVG", "SI_V3_RMS"))
      .withColumn("EXPSTART", col("EXPSTART").cast("double"))
    val traces = graft.monitors.Monitors.jitterTraces(jit)
    val perAxis = traces.groupBy("axis").count()
      .as[(String, Long)].collect().toMap
    assert(perAxis == Map("V2" -> synSamples, "V3" -> synSamples))
    assert(traces.filter(col("lo") > col("avg") || col("avg") > col("hi"))
      .count() == 0)
  }

  test("synthetic S5: SPT sibling join on ROOTNAME; FGS derived from DGESTAR tail") {
    val acq = headersOf(SyntheticFits.path("*rawacq*"), "ROOTNAME", "EXPTYPE",
      "ACQSLEWX", "ACQSLEWY", "ACQSTAT", "SHUTTER", "EXPSTART")
    val spt = headersOf(SyntheticFits.path("*spt*"), "ROOTNAME", "DGESTAR")
      .withColumnRenamed("_file", "spt_path")
    assert(acq.count() == 9)
    val joined = acq.join(spt, Seq("ROOTNAME"), "left")
      .withColumn("FGS", substring(col("DGESTAR"), -2, 2))
    assert(joined.count() == 9)
    val fgs = joined.select("ROOTNAME", "FGS", "EXPSTART").as[(String, String, String)]
      .collect().map(r => r._1 -> (r._2, r._3.toDouble)).toMap
    assert(fgs == SyntheticFits.acqs.map(a => a.rootname -> (a.fgs, a.expstart)).toMap)
  }

  test("synthetic S7: jitter -> exposure EXPSTART lookup with coalesced defaults") {
    val jit = jitter(synJit, Seq("EXPNAME"), Seq())
    val acq = headersOf(SyntheticFits.path("*rawacq*"), "ROOTNAME", "EXPTYPE", "EXPSTART")
    val joined = jit
      .withColumn("ROOTNAME",
        concat(expr("substring(EXPNAME, 1, length(EXPNAME)-1)"), lit("q")))
      .join(acq.select("ROOTNAME", "EXPSTART", "EXPTYPE"), Seq("ROOTNAME"), "left")
      .withColumn("EXPSTART", coalesce(col("EXPSTART").cast("double"), lit(0.0)))
      .withColumn("EXPTYPE", coalesce(col("EXPTYPE"), lit("N/A")))
    assert(joined.count() == jit.count())
    // only ldsy02x1j has an acquisition (acq 0); the other 5 take defaults
    val defaults = joined.filter(col("EXPSTART") === 0.0 && col("EXPTYPE") === "N/A")
    assert(defaults.count() == 5)
    assert(joined.filter(col("EXPSTART") =!= 0.0).select("EXPNAME", "EXPSTART")
      .as[(String, Double)].collect().toSeq == Seq(("ldsy02x1j", SyntheticFits.acqs.head.expstart)))
  }
}
