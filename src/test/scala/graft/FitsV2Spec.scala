package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ingest.Fits
import graft.ops.Relational.explodeArrays

/** The `fits` DataSourceV2 source over the reference's REAL data
  * products and over synthetic products with closed-form values
  * ([[SyntheticFits]]): record shape, value agreement with the parser,
  * column pruning into the scan, per-file partitions, file pruning. */
class FitsV2Spec extends SparkSpec {
  import spark.implicits._

  private val data = "/root/reference/tests/data"
  private val lampGlob = s"$data/*lampflash*"

  private def scanOf(df: DataFrame) =
    df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.asInstanceOf[graft.ingest.FitsScan]
    }.get

  /** One file's table columns decoded in this JVM by the parser. */
  private def parsed(file: String, names: String*): Seq[Seq[Any]] = {
    val bytes = Fits.gunzipIfNeeded(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(file)))
    val h = Fits.parseHdus(bytes)(1)
    val specs = Fits.tableCols(h.header).map(s => s.name -> s).toMap
    names.map(n => Fits.column(bytes, h, specs(n)).array.toSeq.map {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case x => x
    })
  }

  test("fits source reads one row per BINTABLE row across gzipped files") {
    val df = explodeArrays(spark.read.format("fits").option("hdu", 1).load(lampGlob)
      .select("_file", "SEGMENT"), Seq("SEGMENT"))
    // 11 lampflash files (the reference's pinned count)
    assert(df.select("_file").distinct().count() == 11)
    // per-file row count equals that file's NAXIS2
    val first = df.filter(col("_file").endsWith("lb4c10niq_lampflash.fits.gz"))
    val bytes = Fits.gunzipIfNeeded(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$data/lb4c10niq_lampflash.fits.gz")))
    val n2 = Fits.parseHdus(bytes)(1).header("NAXIS2").toInt
    assert(first.count() == n2)
  }

  test("values agree with the per-file array reader") {
    val file = s"$data/lb4c10niq_lampflash.fits.gz"
    val v2 = explodeArrays(spark.read.format("fits").option("hdu", 1).load(file)
      .select("SEGMENT", "SHIFT_DISP"), Seq("SEGMENT", "SHIFT_DISP"))
      .select("SEGMENT", "SHIFT_DISP").as[(String, Double)].collect()
    val Seq(segs, shifts) = parsed(file, "SEGMENT", "SHIFT_DISP")
    assert(v2.map(_._1).toSeq == segs)
    assert(v2.map(_._2).toSeq == shifts.map(_.asInstanceOf[Float].toDouble))
  }

  test("column pruning reaches the scan; primary headers attach as columns") {
    val df = spark.read.format("fits")
      .option("hdu", 1).option("headers", "ROOTNAME,DETECTOR")
      .load(lampGlob)
      .select("SEGMENT", "SHIFT_DISP")
    val plan = df.queryExecution.executedPlan.toString
    // the scan description lists exactly the decoded columns
    assert(plan.contains("columns=[SEGMENT,SHIFT_DISP]"), plan)
    assert(!plan.contains("TIME"), plan)
    // header columns come back typed as strings per file
    val hdr = spark.read.format("fits")
      .option("hdu", 1).option("headers", "ROOTNAME,DETECTOR")
      .load(s"$data/lb4c10niq_lampflash.fits.gz")
      .select("ROOTNAME", "DETECTOR").distinct()
      .as[(String, String)].collect()
    assert(hdr.toSeq == Seq(("lb4c10niq", "NUV"))) // lb4c10niq is an NUV exposure
  }

  test("one input partition per file: scan parallelism matches file count") {
    val df = spark.read.format("fits")
      .option("hdu", 1).load(lampGlob)
    assert(df.rdd.getNumPartitions == 11)
  }

  test("file-level filter pushdown prunes whole files before decode") {
    val base = spark.read.format("fits")
      .option("hdu", 1).option("headers", "ROOTNAME,DETECTOR")
      .load(lampGlob).select("_file", "ROOTNAME", "DETECTOR", "SEGMENT")
    // _file predicate: only the named file's partition survives
    val one = base.filter(col("_file").endsWith("lb4c10niq_lampflash.fits.gz"))
    assert(scanOf(one).prunedPaths.size == 1)
    assert(one.rdd.getNumPartitions == 1)
    // header predicate: only FUV files' partitions survive, and results
    // match the unpruned row-level filter exactly
    val fuv = base.filter(col("DETECTOR") === "FUV")
    val scan = scanOf(fuv)
    assert(scan.pushed.nonEmpty, "header filter should push down")
    val nFuv = scan.prunedPaths.size
    assert(nFuv > 0 && nFuv < 11, s"pruned to $nFuv of 11")
    val viaPrune = explodeArrays(fuv, Seq("SEGMENT")).groupBy("ROOTNAME").count().collect().toSet
    val viaRows = explodeArrays(base, Seq("SEGMENT")).collect()
      .filter(_.getAs[String]("DETECTOR") == "FUV")
      .groupBy(_.getAs[String]("ROOTNAME")).map { case (r, xs) =>
        org.apache.spark.sql.Row(r, xs.length.toLong) }.toSet
    assert(viaPrune == viaRows)
  }

  test("the v2 scan feeds the OSM shift pipeline end-to-end") {
    val rows = explodeArrays(spark.read.format("fits")
      .option("hdu", 1).option("headers", "ROOTNAME,DETECTOR,EXPSTART,OPT_ELEM")
      .load(lampGlob).select("ROOTNAME", "DETECTOR", "SEGMENT", "SHIFT_DISP"),
      Seq("SEGMENT", "SHIFT_DISP"))
    // rebuild the per-exposure arrays relationally, then segment-diff
    val diffs = graft.ops.Relational.segmentDiff(
      rows.filter(col("DETECTOR") === "FUV")
        .groupBy("ROOTNAME", "SEGMENT")
        .agg(first("SHIFT_DISP").as("v")),
      Seq("ROOTNAME"), "SEGMENT", "v", "FUVA", "FUVB")
    assert(diffs.count() > 0)
    assert(diffs.filter(col("seg_diff").isNull).count() == 0)
  }

  private val synGlob = SyntheticFits.path("*lampflash*")
  private val synNuv = SyntheticFits.lamps(7)
  private val synFuv = SyntheticFits.lamps.filter(_.fuv)

  test("synthetic: fits source reads one row per BINTABLE row across gzipped files") {
    val df = explodeArrays(spark.read.format("fits").option("hdu", 1).load(synGlob)
      .select("_file", "SEGMENT"), Seq("SEGMENT"))
    assert(df.select("_file").distinct().count() == 11)
    SyntheticFits.lamps.foreach { l =>
      val bytes = Fits.gunzipIfNeeded(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(SyntheticFits.path(l.file))))
      val n2 = Fits.parseHdus(bytes)(1).header("NAXIS2").toInt
      assert(n2 == l.rows)
      assert(df.filter(col("_file").endsWith(l.file)).count() == n2)
    }
  }

  test("synthetic: values agree with the per-file array reader") {
    val file = SyntheticFits.path(synNuv.file)
    val v2 = explodeArrays(spark.read.format("fits").option("hdu", 1).load(file)
      .select("SEGMENT", "SHIFT_DISP"), Seq("SEGMENT", "SHIFT_DISP"))
      .select("SEGMENT", "SHIFT_DISP").as[(String, Float)].collect()
    val Seq(segs, shifts) = parsed(file, "SEGMENT", "SHIFT_DISP")
    assert(v2.map(_._1).toSeq == segs)
    assert(v2.map(_._2).toSeq == shifts)
    assert(v2.toSeq == (0 until synNuv.rows).map(r => (synNuv.segment(r), synNuv.shiftDisp(r))))
  }

  test("synthetic: column pruning reaches the scan; primary headers attach as columns") {
    val df = spark.read.format("fits")
      .option("hdu", 1).option("headers", "ROOTNAME,DETECTOR")
      .load(synGlob)
      .select("SEGMENT", "SHIFT_DISP")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("columns=[SEGMENT,SHIFT_DISP]"), plan)
    assert(!plan.contains("TIME"), plan)
    val hdr = spark.read.format("fits")
      .option("hdu", 1).option("headers", "ROOTNAME,DETECTOR")
      .load(SyntheticFits.path(synNuv.file))
      .select("ROOTNAME", "DETECTOR").distinct()
      .as[(String, String)].collect()
    assert(hdr.toSeq == Seq((synNuv.rootname, "NUV")))
  }

  test("synthetic: one input partition per file: scan parallelism matches file count") {
    val df = spark.read.format("fits").option("hdu", 1).load(synGlob)
    assert(df.rdd.getNumPartitions == 11)
  }

  test("synthetic: file-level filter pushdown prunes whole files before decode") {
    val base = spark.read.format("fits")
      .option("hdu", 1).option("headers", "ROOTNAME,DETECTOR")
      .load(synGlob).select("_file", "ROOTNAME", "DETECTOR", "SEGMENT")
    val one = base.filter(col("_file").endsWith(synNuv.file))
    assert(scanOf(one).prunedPaths.size == 1)
    assert(one.rdd.getNumPartitions == 1)
    val fuv = base.filter(col("DETECTOR") === "FUV")
    val scan = scanOf(fuv)
    assert(scan.pushed.nonEmpty, "header filter should push down")
    assert(scan.prunedPaths.size == synFuv.size)
    val viaPrune = explodeArrays(fuv, Seq("SEGMENT")).groupBy("ROOTNAME").count().collect().toSet
    val viaRows = explodeArrays(base, Seq("SEGMENT")).collect()
      .filter(_.getAs[String]("DETECTOR") == "FUV")
      .groupBy(_.getAs[String]("ROOTNAME")).map { case (r, xs) =>
        org.apache.spark.sql.Row(r, xs.length.toLong) }.toSet
    assert(viaPrune == viaRows)
    assert(viaPrune == synFuv.map(l => org.apache.spark.sql.Row(l.rootname, l.rows.toLong)).toSet)
  }

  test("synthetic: the v2 scan feeds the OSM shift pipeline end-to-end") {
    val rows = explodeArrays(spark.read.format("fits")
      .option("hdu", 1).option("headers", "ROOTNAME,DETECTOR,EXPSTART,OPT_ELEM")
      .load(synGlob).select("ROOTNAME", "DETECTOR", "SEGMENT", "SHIFT_DISP"),
      Seq("SEGMENT", "SHIFT_DISP"))
    val diffs = graft.ops.Relational.segmentDiff(
      rows.filter(col("DETECTOR") === "FUV")
        .groupBy("ROOTNAME", "SEGMENT")
        .agg(first("SHIFT_DISP").as("v")),
      Seq("ROOTNAME"), "SEGMENT", "v", "FUVA", "FUVB")
    assert(diffs.count() == synFuv.size)
    assert(diffs.filter(col("seg_diff").isNull).count() == 0)
  }

  test("synthetic: a header predicate on an extension-only key prunes with the reader's lookup") {
    // EXPSTART lives only in the lampflash LAMPFLASH extension header
    val lamp = spark.read.format("fits").option("headers", "ROOTNAME,EXPSTART")
      .load(synGlob).select("ROOTNAME", "EXPSTART")
    val target = SyntheticFits.lamps(3)
    val hit = lamp.filter(col("EXPSTART") === target.expstart.toString)
    assert(scanOf(hit).pushed.nonEmpty)
    assert(scanOf(hit).prunedPaths.size == 1)
    assert(hit.as[(String, String)].collect().toSeq ==
      Seq((target.rootname, target.expstart.toString)))
    // EXPNAME lives in each `jit` extension: the association file
    // survives the prune, and only its matching extension's row passes
    val jit = spark.read.format("fits").option("hdu", "jit")
      .option("headers", "ROOTNAME,EXPNAME").load(SyntheticFits.path("*jit*"))
      .select("ROOTNAME", "EXPNAME")
    val one = jit.filter(col("EXPNAME") === "ldsy01b2j")
    assert(scanOf(one).prunedPaths.map(_.split('/').last) == Seq("ldsy01010_jit.fits"))
    assert(one.as[(String, String)].collect().toSeq == Seq(("ldsy01010", "ldsy01b2j")))
  }
}
