package graft

import org.apache.spark.sql.functions._
import graft.ingest.Fits

/** The FITS parser and the `fits` source against the reference repo's
  * real exposure products, and against synthetic products with
  * closed-form values ([[SyntheticFits]]). Real-data golden values were
  * extracted INDEPENDENTLY (byte-level struct parse of the public files),
  * not copied from the reference's tests. */
class FitsSpec extends SparkSpec {
  import spark.implicits._

  private val lampflash = "/root/reference/tests/data/lb4c10niq_lampflash.fits.gz"
  private val lampGlob = s"${new java.io.File(lampflash).getParent}/*lampflash*"

  /** One file's table columns from the `fits` source, one array each. */
  private def columns(file: String, names: String*): Map[String, Seq[Any]] = {
    val row = spark.read.format("fits").load(file).select(names.map(col): _*).head()
    names.map(n => n -> row.getSeq[Any](row.fieldIndex(n)).toSeq).toMap
  }

  /** The lampflash record the OSM monitors read: one row per file. */
  private def lampRecords(glob: String) = spark.read.format("fits")
    .option("headers", "ROOTNAME,DETECTOR,OPT_ELEM,EXPSTART").load(glob)
    .select("ROOTNAME", "DETECTOR", "OPT_ELEM", "EXPSTART",
      "TIME", "SHIFT_DISP", "SHIFT_XDISP", "SEGMENT")

  test("header + binary-table parse matches independent byte-level values") {
    val bytes = Fits.gunzipIfNeeded(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(lampflash)))
    val hdus = Fits.parseHdus(bytes)
    assert(hdus.head.header("ROOTNAME") == "lb4c10niq")
    assert(hdus.head.header("DETECTOR") == "NUV")
    assert(hdus.head.header("OPT_ELEM") == "G230L")
    assert(math.abs(hdus(1).header("EXPSTART").toDouble - 55202.48302439) < 1e-6)

    val c = columns(lampflash, "SEGMENT", "TIME", "SHIFT_DISP")
    assert(c("SEGMENT") == IndexedSeq("NUVA", "NUVB", "NUVC", "NUVA", "NUVB", "NUVC"))
    val time = c("TIME").map(_.asInstanceOf[Double])
    assert(math.abs(time.head - 4.320000171661377) < 1e-12)
    assert(math.abs(time.last - 2404.35205078125) < 1e-9)
    val sd = c("SHIFT_DISP").map(_.asInstanceOf[Float])
    assert(math.abs(sd.head - (-23.672340393066406)) < 1e-5)
    assert(math.abs(sd(2) - (-24.23033332824707)) < 1e-5)
  }

  test("exposures: one row per file, header scalars + column arrays, via Spark") {
    val df = lampRecords(lampGlob)
    // the reference's dataset has 11 lampflash files (tests pin this count)
    assert(df.count() == 11)
    val row = df.filter(col("ROOTNAME") === "lb4c10niq").head()
    assert(row.getAs[String]("DETECTOR") == "NUV")
    assert(row.getSeq[String](row.fieldIndex("SEGMENT")).toSeq ==
      Seq("NUVA", "NUVB", "NUVC", "NUVA", "NUVB", "NUVC"))
    assert(row.getSeq[Float](row.fieldIndex("SHIFT_DISP")).length == 6)
    // arrays feed the standard pipeline: explode + size checks work
    val exploded = graft.ops.Relational.explodeArrays(
      df.select("ROOTNAME", "TIME", "SHIFT_DISP", "SEGMENT"),
      Seq("TIME", "SHIFT_DISP", "SEGMENT"))
    assert(exploded.count() > 11)
  }

  test("end-to-end OSM pipeline on real FITS lampflash + derived SMS rows") {
    val lamp = lampRecords(lampGlob)
      .withColumn("EXPSTART", col("EXPSTART").cast("double"))
    // SMS fixture: rootnames sans trailing 'q' (J2 derived-key contract)
    val sms = lamp.select(expr("substring(ROOTNAME, 1, length(ROOTNAME)-1)")
      .as("ROOTNAME"))
      .withColumn("TSINCEOSM1", lit(100.0))
    val out = graft.monitors.Monitors.osmShiftData(lamp, sms)
    assert(out.count() > 0)
    assert(out.columns.contains("sample_ts") && out.columns.contains("flash"))
    // every surviving row is FUV (the NUV file above is filtered out)
    assert(out.select("DETECTOR").distinct().as[String].collect().toSeq == Seq("FUV"))
  }

  private val synLamp = SyntheticFits.path("*lampflash*")
  private val synNuv = SyntheticFits.lamps(7) // 2 flashes x 3 stripes

  test("synthetic: header + binary-table parse matches the closed-form values") {
    SyntheticFits.lamps.foreach { l =>
      val file = SyntheticFits.path(l.file)
      val hdus = Fits.parseHdus(Fits.gunzipIfNeeded(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file))))
      assert(hdus.head.header("ROOTNAME") == l.rootname)
      assert(hdus.head.header("DETECTOR") == l.detector)
      assert(hdus.head.header("OPT_ELEM") == l.optElem)
      assert(hdus(1).header("EXPSTART").toDouble == l.expstart)
      val c = columns(file, "SEGMENT", "TIME", "SHIFT_DISP", "FLASH", "NSEG", "FIRST")
      val rows = 0 until l.rows
      assert(c("SEGMENT") == rows.map(l.segment))
      assert(c("TIME") == rows.map(l.time))
      assert(c("SHIFT_DISP") == rows.map(l.shiftDisp))
      assert(c("FLASH") == rows.map(_ / l.segments.size))
      assert(c("NSEG") == rows.map(_ => l.segments.size))
      assert(c("FIRST") == rows.map(_ < l.segments.size))
    }
  }

  test("synthetic: exposures: one row per file, header scalars + column arrays, via Spark") {
    val df = lampRecords(synLamp)
    assert(df.count() == 11)
    val row = df.filter(col("ROOTNAME") === synNuv.rootname).head()
    assert(row.getAs[String]("DETECTOR") == "NUV")
    assert(row.getAs[String]("EXPSTART").toDouble == synNuv.expstart)
    assert(row.getSeq[String](row.fieldIndex("SEGMENT")).toSeq ==
      Seq("NUVA", "NUVB", "NUVC", "NUVA", "NUVB", "NUVC"))
    assert(row.getSeq[Float](row.fieldIndex("SHIFT_DISP")).length == 6)
    val exploded = graft.ops.Relational.explodeArrays(
      df.select("ROOTNAME", "TIME", "SHIFT_DISP", "SEGMENT"),
      Seq("TIME", "SHIFT_DISP", "SEGMENT"))
    assert(exploded.count() == SyntheticFits.lamps.map(_.rows).sum)
  }

  test("synthetic: end-to-end OSM pipeline on FITS lampflash + derived SMS rows") {
    val lamp = lampRecords(synLamp)
      .withColumn("EXPSTART", col("EXPSTART").cast("double"))
    val sms = lamp.select(expr("substring(ROOTNAME, 1, length(ROOTNAME)-1)")
      .as("ROOTNAME"))
      .withColumn("TSINCEOSM1", lit(100.0))
    val out = graft.monitors.Monitors.osmShiftData(lamp, sms)
    assert(out.count() == SyntheticFits.lamps.filter(_.fuv).map(_.rows).sum)
    assert(out.columns.contains("sample_ts") && out.columns.contains("flash"))
    assert(out.select("DETECTOR").distinct().as[String].collect().toSeq == Seq("FUV"))
  }

  test("variable-length (P/Q descriptor) columns decode through the heap") {
    import FitsWriter.{Col, bintable, primary}
    // empty primary + BINTABLE with 2 rows of (1J fixed, 1PE(3) var
    // floats, 1PA(8) var string, 1QD(2) var doubles)
    val dir = java.nio.file.Files.createTempDirectory("fits_var")
    val f = FitsWriter.write(dir.resolve("var.fits"), Seq(primary(),
      bintable(Seq("EXTNAME" -> "VARTEST"),
        Col("IDX", "1J", IndexedSeq(42, 43)),
        Col("FLUX", "1PE(3)", IndexedSeq(Seq(1.5f, 2.5f, 3.5f), Seq())),
        Col("TAG", "1PA(8)", IndexedSeq("alpha", "be")),
        Col("WAVE", "1QD(2)", IndexedSeq(Seq(9.0), Seq(7.0, 8.0))))))

    val bytes = java.nio.file.Files.readAllBytes(f)
    val hdus = Fits.parseHdus(bytes)
    val specs = Fits.tableCols(hdus(1).header).map(x => x.name -> x).toMap
    assert(specs("FLUX").desc == 'P' && specs("FLUX").code == 'E')
    assert(specs("WAVE").desc == 'Q' && specs("WAVE").code == 'D')
    // the heap holds the 12 + 5 + 8 + 2 + 16 element bytes, after the table
    assert(hdus(1).header("PCOUNT").toInt == 43)
    assert(Fits.heapStart(hdus(1)) == hdus(1).dataStart + 2 * (4 + 8 + 8 + 16))

    // DataFrame path: the HDU selected by its EXTNAME
    val row = spark.read.format("fits").option("hdu", "VARTEST").load(f.toString)
      .select("IDX", "FLUX", "TAG", "WAVE").collect().head
    assert(row.getSeq[Int](0) == Seq(42, 43))
    assert(row.getSeq[Seq[Float]](1) == Seq(Seq(1.5f, 2.5f, 3.5f), Seq()))
    assert(row.getSeq[String](2) == Seq("alpha", "be"))
    assert(row.getSeq[Seq[Double]](3) == Seq(Seq(9.0), Seq(7.0, 8.0)))
  }
}
