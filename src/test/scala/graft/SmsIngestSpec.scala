package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.ingest.SmsIngest

class SmsIngestSpec extends SparkSpec {
  import spark.implicits._

  // Fixture report in the public SMS exposure-report layout (header, ruler,
  // data rows, specials) with invented values.
  private val header =
    """
      |COS Exposure Report: SMS 100001AA
      |
      |Data                                                          Exposure Start    FUV    Mechanism Positions   Cent    Tsince Tsince
      |Filename Prop  Target     PRG OB AL EX Conf Opmode    ExpTime yyyy.ddd:hh:mm:ss State  Aper OSM1     OSM2    Wave FP   OSM1   OSM2
      |----------------------------------------------------------------------------------------------------------------------------------""".stripMargin

  private val fuvLine =
    "laaa01xy 12345 TARGETONE  AAA 01 01 01 FUV  TIME-TAG    200.0 2024.032:05:45:35 HVNom  PSA  G140L    -----   1105  0     87  20735"
  private val nuvLine =
    "laaa02ab 12345 TARGETTWO  AAA 02 01 01 NUV  ACQ/IMAGE   120.0 2024.032:06:03:21        PSA  NCM1     MIRRORB    0  0    471    297"
  private val memoryLine =
    "laaa03cd 12345 MEMORY DUMP AAA 03 01 01 FUV  TIME-TAG    10.0 2024.032:07:00:00 HVNom  PSA  G140L    -----   1105  0      1      2"

  private def writeReport(dir: String, name: String, lines: Seq[String]): String = {
    val p = Paths.get(dir, name)
    Files.writeString(p, (header.split("\n").toSeq ++ lines).mkString("\n"))
    p.toString
  }

  test("parse extracts all 16 typed fields with reference quirk rules") {
    val dir = Files.createTempDirectory("sms").toString
    val f = writeReport(dir, "100001aa.txt", Seq(fuvLine, nuvLine, memoryLine))
    val out = SmsIngest.parse(spark, Seq(f))
    val rows = out.collect().map(r => r.getAs[String]("ROOTNAME") -> r).toMap
    assert(rows.size == 2, "MEMORY row must be skipped")

    val fuv = rows("laaa01xy")
    assert(fuv.getAs[Int]("PROPOSID") == 12345)
    assert(fuv.getAs[String]("EXPOSURE") == "AAA0101")
    assert(fuv.getAs[String]("DETECTOR") == "FUV")
    assert(fuv.getAs[String]("OPMODE") == "TIME-TAG")
    assert(fuv.getAs[Double]("EXPTIME") == 200.0)
    // EXPSTART is a TIMESTAMP (reference coerces to datetime on ingest):
    // 2024 day-032 = Feb 1
    assert(fuv.getAs[java.sql.Timestamp]("EXPSTART").toInstant.toString
      == "2024-02-01T05:45:35Z")
    assert(fuv.getAs[String]("FUVHVSTATE") == "HVNom")
    assert(fuv.getAs[String]("APERTURE") == "PSA")
    assert(fuv.getAs[String]("OSM1POS") == "G140L")
    assert(fuv.getAs[String]("OSM2POS") == "N/A")     // ----- -> N/A
    assert(fuv.getAs[Int]("CENWAVE") == 1105)
    assert(fuv.getAs[Int]("FPPOS") == 3)              // fpoffset 0 + 3
    assert(fuv.getAs[Double]("TSINCEOSM1") == 87.0)
    assert(fuv.getAs[Double]("TSINCEOSM2") == 20735.0)
    assert(fuv.getAs[String]("FILEID") == "100001aa")
    assert(fuv.getAs[String]("FILENAME").endsWith("100001aa.txt"))

    val nuv = rows("laaa02ab")
    assert(nuv.getAs[String]("FUVHVSTATE") == "N/A")  // six spaces -> N/A
    assert(nuv.getAs[String]("OSM1POS") == "NCM1")
    assert(nuv.getAs[String]("OSM2POS") == "MIRRORB")
    assert(nuv.getAs[Int]("CENWAVE") == 0)
  }

  test("latestSmsFiles: version max per sms_id, l-exp twins dropped, bad names rejected") {
    val files = Seq(
      "/d/100001aa.txt", "/d/100001ab.txt",         // two versions
      "/d/100002b1.txt", "/d/100002b1.l-exp",       // twin: keep .txt
      "/d/100003c2.l-exp",                          // lone l-exp: keep
      "/d/notasms.txt", "/d/12345.txt")             // bad names
      .toDF("path")
    val out = SmsIngest.latestSmsFiles(files)
      .select("path").as[String].collect().toSet
    assert(out == Set("/d/100001ab.txt", "/d/100002b1.txt", "/d/100003c2.l-exp"))
  }

  test("malformed SMS file (no parseable exposure rows) is rejected") {
    val base = Files.createTempDirectory("sms-bad").toString
    val srcDir = s"$base/src"
    new java.io.File(srcDir).mkdirs()
    Files.writeString(java.nio.file.Paths.get(srcDir, "100009zz.txt"),
      "this file has headers\nbut no valid exposure lines at all\n")
    val ex = intercept[IllegalArgumentException] {
      SmsIngest.ingest(spark, s"$srcDir/*", s"$base/table",
        spark.emptyDataset[String].toDF("file_id"))
    }
    assert(ex.getMessage.contains("100009zz"))
  }

  test("discovery skips files already in the ingested list") {
    val base = Files.createTempDirectory("sms-discovery").toString
    val srcDir = s"$base/src"
    new java.io.File(srcDir).mkdirs()
    val tableDir = s"$base/table"
    writeReport(srcDir, "100001aa.txt", Seq(fuvLine))
    writeReport(srcDir, "100002bb.txt", Seq(nuvLine))
    SmsIngest.ingest(spark, s"$srcDir/*", tableDir,
      Seq("100001aa").toDF("file_id"))
    val rows = spark.read.parquet(tableDir)
      .select("ROOTNAME").as[String].collect().toSet
    assert(rows == Set("laaa02ab"), "only the not-yet-ingested file parses")
  }

  test("REAL SMS reports: discovery keeps the reference's 13, parse joins real lampflash") {
    // the reference's own SMS fixtures: 16 candidates; bad_111078a6.txt
    // fails the filename rule, versions b3/b4/c2 of 181137 dedupe to one
    // -> 13 ingested files (tests/test_sms_ingest.py:96 pins this count)
    val dataDir = new java.io.File("/root/reference/tests/data")
    val candidates = dataDir.listFiles((_, n) => n.endsWith(".txt"))
      .map(_.getPath).toSeq.toDF("path")
    val kept = SmsIngest.latestSmsFiles(candidates)
    assert(kept.count() == 13)
    // parse them all with the production extractor
    val sms = SmsIngest.parse(spark,
      kept.select("path").as[String].collect().toSeq)
    assert(sms.count() > 1000)
    assert(sms.filter(col("CENWAVE").isNull || col("EXPSTART").isNull).count() == 0)
    // the reference's OSM data-model join (data_models.py:157-180): real
    // SMS rows join real lampflash exposures on ROOTNAME + 'q'
    val lamp = spark.read.format("fits")
      .option("headers", "ROOTNAME,DETECTOR,OPT_ELEM,EXPSTART")
      .load(s"$dataDir/*lampflash*")
      .select("ROOTNAME", "DETECTOR", "OPT_ELEM", "EXPSTART",
        "TIME", "SHIFT_DISP", "SHIFT_XDISP", "SEGMENT")
      .withColumn("EXPSTART", col("EXPSTART").cast("double"))
    val joined = graft.monitors.Monitors.osmShiftData(
      lamp, sms.select(col("ROOTNAME"), col("TSINCEOSM1")))
    assert(joined.count() > 0)
    // EVERY FUV lampflash exposure finds its SMS row (7 of 11; 4 are NUV)
    assert(joined.select("ROOTNAME").distinct().count() == 7)
    assert(joined.filter(col("TSINCEOSM1").isNull).count() == 0)
    // and the NUV side joins completely too
    val nuv = graft.monitors.Monitors.osmShiftData(
      lamp, sms.select(col("ROOTNAME"), col("TSINCEOSM1")), detector = "NUV")
    assert(nuv.select("ROOTNAME").distinct().count() == 4)
  }

  /** One FUV exposure line for `stem` with TSINCEOSM1 = `ts`. */
  private def smsLine(stem: String, ts: Int): String =
    fuvLine.replace("laaa01xy", stem).replace("     87  ", f"$ts%7d  ")

  test("synthetic SMS reports: discovery keeps the latest versions, parse joins synthetic lampflash") {
    // 11 lampflash stems over 3 SMS ids; 200002 has an older version
    // (TSINCEOSM1 off by 1000) and 200003 an .l-exp twin; one file fails
    // the filename rule -> 3 ingested files, one row per stem
    val dir = Files.createTempDirectory("sms-syn").toString
    val lamps = SyntheticFits.lamps
    def ts(i: Int) = 10 * i + 1
    def lines(is: Range, off: Int) = is.map(i => smsLine(lamps(i).stem, ts(i) + off))
    writeReport(dir, "200001aa.txt", lines(0 until 4, 0) :+ memoryLine)
    writeReport(dir, "200002aa.txt", lines(4 until 8, 1000))
    writeReport(dir, "200002ab.txt", lines(4 until 8, 0))
    writeReport(dir, "200003ac.txt", lines(8 until 11, 0))
    writeReport(dir, "200003ac.l-exp", lines(8 until 11, 1000))
    writeReport(dir, "bad_200004.txt", lines(0 until 1, 1000))
    val candidates = new java.io.File(dir).listFiles()
      .map(_.getPath).toSeq.toDF("path")
    val kept = SmsIngest.latestSmsFiles(candidates)
    assert(kept.count() == 3)
    val sms = SmsIngest.parse(spark,
      kept.select("path").as[String].collect().toSeq)
    assert(sms.count() == 11)
    assert(sms.filter(col("CENWAVE").isNull || col("EXPSTART").isNull).count() == 0)
    val lamp = spark.read.format("fits")
      .option("headers", "ROOTNAME,DETECTOR,OPT_ELEM,EXPSTART")
      .load(SyntheticFits.path("*lampflash*"))
      .select("ROOTNAME", "DETECTOR", "OPT_ELEM", "EXPSTART",
        "TIME", "SHIFT_DISP", "SHIFT_XDISP", "SEGMENT")
      .withColumn("EXPSTART", col("EXPSTART").cast("double"))
    val joined = graft.monitors.Monitors.osmShiftData(
      lamp, sms.select(col("ROOTNAME"), col("TSINCEOSM1")))
    assert(joined.select("ROOTNAME", "TSINCEOSM1").distinct()
      .as[(String, Double)].collect().toSet ==
      lamps.filter(_.fuv).map(l => (l.rootname, ts(l.i).toDouble)).toSet)
    val nuv = graft.monitors.Monitors.osmShiftData(
      lamp, sms.select(col("ROOTNAME"), col("TSINCEOSM1")), detector = "NUV")
    assert(nuv.select("ROOTNAME").distinct().count() == 4)
  }

  test("ingest end-to-end: version-guarded re-ingest and FILEID supersession") {
    val base = Files.createTempDirectory("sms-ing").toString
    val srcDir = s"$base/src"
    new java.io.File(srcDir).mkdirs()
    val tableDir = s"$base/table"
    writeReport(srcDir, "100001aa.txt", Seq(fuvLine, nuvLine))
    val noneIngested = spark.emptyDataset[String].toDF("file_id")

    SmsIngest.ingest(spark, s"$srcDir/*", tableDir, noneIngested)
    val after1 = spark.read.parquet(tableDir)
    assert(after1.count() == 2)

    // newer version: same EXPOSURE for the FUV row with changed EXPTIME,
    // NUV row absent (the reference keeps superseded-but-unreplaced rows)
    val fuvV2 = fuvLine.replace("  200.0 ", "  300.0 ")
    writeReport(srcDir, "100001ab.txt", Seq(fuvV2))
    SmsIngest.ingest(spark, s"$srcDir/*", tableDir, noneIngested)
    val after2 = spark.read.parquet(tableDir)
      .select("EXPOSURE", "EXPTIME", "FILEID")
      .as[(String, Double, String)].collect().toSet
    assert(after2 == Set(
      ("AAA0101", 300.0, "100001ab"),  // superseded by greater FILEID
      ("AAA0201", 120.0, "100001aa"))) // untouched

    // re-running with the ingested list marked is a no-op (discovery skips)
    SmsIngest.ingest(spark, s"$srcDir/*", tableDir,
      Seq("100001ab").toDF("file_id"))
    assert(spark.read.parquet(tableDir).count() == 2)
  }
}
