package cosmobench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ingest.SmsIngest
import graft.monitors.{MonitorCatalog, Runner}
import graft.streaming.Streams

/** The monthly cadence run, the pipeline's own unit of work.
  *
  * Each cycle: the seeded generator writes new SMS report files (some
  * re-issue older SMS ids at a higher version) and a lampflash parquet
  * batch; `SmsIngest.ingest` and `Streams.incrementalIngest`
  * (AvailableNow) merge them into their tables; then the 12 monthly
  * monitors run through `MonitorCatalog.register` + `Runner.runAll`,
  * with a sink that writes each result to parquet.
  *
  * One cycle's volume is one copy of the reference's CI working set
  * ([[PerCycle]]). Set-up ingests an initial history of [[HistoryCycles]]
  * such volumes in one full cold cycle. After every cycle, outside its
  * wall time, the tables and every monitor's row count are checked
  * against closed forms kept by the generator. */
object Cadence {

  /** The new inputs of one cycle. */
  final case class Volume(newReports: Int, reissues: Int, lampflash: Int, acq: Int) {
    def *(k: Int): Volume = Volume(newReports * k, reissues * k, lampflash * k, acq * k)
  }

  /** The reference's CI working set (FIXTURES.md §11, BASELINE.md): 16
    * SMS files that hold 13 reports after version-dedup (two superseded
    * versions and one malformed file), 11 lampflash and 9 rawacq
    * exposures. The malformed file is left out: `SmsIngest` rejects a
    * whole batch that holds one. The reference records no real monthly
    * volume, and no exposure count per report; the generator's 12-19
    * exposure rows per report are an assumption. */
  val PerCycle: Volume = Volume(newReports = 13, reissues = 2, lampflash = 11, acq = 9)
  /** Size of the history ingested at set-up, in cycles (an assumption:
    * enough that every monitor has rows from the first cycle on). */
  val HistoryCycles = 3

  private val lampSchema = StructType(Seq(
    StructField("ROOTNAME", StringType), StructField("EXPSTART", DoubleType),
    StructField("DETECTOR", StringType), StructField("OPT_ELEM", StringType),
    StructField("TIME", ArrayType(DoubleType)), StructField("SHIFT_DISP", ArrayType(DoubleType)),
    StructField("SHIFT_XDISP", ArrayType(DoubleType)), StructField("SEGMENT", ArrayType(StringType)),
    StructField("VERSION", IntegerType)))

  final case class Exp(root: String, key: String, fuv: Boolean, var ts1: Int)
  final case class Lamp(root: String, fuv: Boolean, k: Int, diffSum: Double)

  /** Seeded generator of SMS reports and lampflash batches, keeping the
    * closed-form model of what the tables and monitors must hold. */
  final class Gen(seed: Long, smsDir: String) {
    private val rng = new java.util.Random(seed)
    private var nextSms = 100001
    private var nextExp = 36L * 36 * 36 * 36 * 36 * 36 // 7 base-36 digits
    /** sms id -> (version letter, exposures) */
    val files = mutable.LinkedHashMap[Int, (Char, mutable.ArrayBuffer[Exp])]()
    val lamps = mutable.ArrayBuffer[Lamp]()
    var newFiles = 0
    var newLines = 0
    var newBytes = 0L

    def exposures: Iterable[Exp] = files.values.flatMap(_._2)

    private def b36(n: Long): String = java.lang.Long.toString(n, 36)
    private def newExp(): Exp = {
      val n = nextExp
      nextExp += 1
      val k = b36(n)
      Exp("l" + k.takeRight(7), k.takeRight(7).toUpperCase, rng.nextBoolean(), 1 + rng.nextInt(99999))
    }

    /** One fixed-format exposure line (the layout SmsIngest's pattern
      * reads); `target` fills the free-text target column. */
    private def line(e: Exp, target: String): String = {
      val head = f"${e.root} ${10000 + rng.nextInt(89999)}%05d $target%-12s " +
        s"${e.key.take(3)} ${e.key.slice(3, 5)} ${e.key.drop(5)} 01  " +
        (if (e.fuv) "FUV" else "NUV") + "  " +
        (if (rng.nextBoolean()) "TIME-TAG" else "ACCUM   ") +
        f" ${rng.nextInt(3000) + 0.5}%6.1f 2024.${1 + rng.nextInt(365)}%03d:01:02:03 "
      val fp = Seq(" 0", "-1", " 1")(rng.nextInt(3))
      val tail = f"$fp     ${e.ts1}  ${rng.nextInt(99999)}"
      if (e.fuv) head + s"HVNom  PSA  G160M    -----     1291 " + tail
      else head + s"       PSA  NCM1     MIRRORB   2950 " + tail
    }

    private def write(id: Int): Unit = {
      val (ver, exps) = files(id)
      val skip = Seq(newExp(), newExp()) // MEMORY / ALIGN rows: parsed, then dropped
      val body = Seq(s"SMS REPORT $id$ver", "CREATED 2024.001:00:00:00",
        "-" * 60, "ROOTNAME PROPOSID TARGET EXPOSURE DETECTOR OPMODE", "-" * 60, "") ++
        exps.map(line(_, s"TARGET${rng.nextInt(9999)}")) ++
        Seq(line(skip(0), "MEMORY"), line(skip(1), "ALIGN/OSM"), "-" * 60, "END OF REPORT")
      val bytes = body.mkString("", "\n", "\n").getBytes("US-ASCII")
      Files.write(Paths.get(s"$smsDir/$id${ver}1.txt"), bytes)
      newFiles += 1
      newLines += exps.size
      newBytes += bytes.length
    }

    /** Write one cycle's SMS files; returns the lampflash rows of the
      * batch, drawn from the new reports' exposures, half FUV and half NUV. */
    def cycle(v: Volume): Seq[Row] = {
      newFiles = 0; newLines = 0; newBytes = 0L
      val old = files.keys.toIndexedSeq
      val reissue = rng.ints(0, old.size.max(1)).distinct().limit(v.reissues.min(old.size).toLong)
        .toArray.toSeq.map(old(_))
      reissue.foreach { id =>
        val (v, exps) = files(id)
        exps.foreach(_.ts1 = 1 + rng.nextInt(99999))
        exps += newExp()
        files(id) = ((v + 1).toChar, exps)
        write(id)
      }
      val fresh = (0 until v.newReports).flatMap { _ =>
        val id = nextSms
        nextSms += 1
        val exps = mutable.ArrayBuffer.fill(12 + rng.nextInt(8))(newExp())
        files(id) = ('a', exps)
        write(id)
        exps
      }
      val (fuv, nuv) = fresh.partition(_.fuv)
      def pick(es: Seq[Exp], n: Int) = new Random(rng.nextLong()).shuffle(es).take(n)
      (pick(fuv, v.lampflash - v.lampflash / 2) ++ pick(nuv, v.lampflash / 2)).map(lamp)
    }

    /** A lampflash exposure: k flashes, each recorded on every segment
      * (FUVA/FUVB or NUVA/B/C) at the same time since exposure start, in
      * flash-major order as in the FITS tables; integer shifts so the
      * closed-form sums are exact. */
    private def lamp(e: Exp): Row = {
      val k = 1 + rng.nextInt(3)
      val segs = if (e.fuv) Seq("FUVA", "FUVB") else Seq("NUVA", "NUVB", "NUVC")
      val shifts = Seq.fill(k)(segs.map(_ => (rng.nextInt(81) - 40).toDouble))
      val diffSum = if (e.fuv) shifts.map(f => f(0) - f(1)).sum else 0.0
      lamps += Lamp(e.root + "q", e.fuv, k, diffSum)
      val flat = shifts.flatten
      Row(e.root + "q", 59000.0 + rng.nextInt(365), if (e.fuv) "FUV" else "NUV",
        if (e.fuv) "G160M" else "G185M",
        (0 until k).flatMap(f => segs.map(_ => 4.5 + 600.0 * f)), flat, flat.map(_ / 10),
        (0 until k).flatMap(_ => segs), 1)
    }
  }

  /** FGS breakpoints: F1 has one break, F2 none, F3 is not listed. */
  private def breakpoints(spark: SparkSession): DataFrame = {
    val bps = Seq(Row("F1", null, java.lang.Double.valueOf(BreakMjd)),
      Row("F1", java.lang.Double.valueOf(BreakMjd), null), Row("F2", null, null))
    spark.createDataFrame(bps.asJava, StructType(Seq(StructField("FGS", StringType),
      StructField("lo_mjd", DoubleType), StructField("hi_mjd", DoubleType))))
  }
  private val BreakMjd = 58500.0

  /** Seeded acquisition (rawacq) rows, appended each cycle, with the
    * closed-form row count of each ACQ and aperture monitor over all rows
    * so far. Row i starts at MJD 58000 + 20 i, so the history crosses the
    * F1 breakpoint. */
  final class AcqGen(seed: Long) {
    private val rng = new java.util.Random(seed ^ 0x5eed)
    private val lps = Set(1, 2, 3, 4, 5, 6, 7, 8, 10, 11, 12)
    val rows = mutable.ArrayBuffer[Row]()
    val schema: StructType = StructType(Seq("EXPTYPE", "FGS").map(StructField(_, StringType)) ++
      Seq("EXPSTART", "ACQSLEWX", "ACQSLEWY").map(StructField(_, DoubleType)) ++
      Seq("ACQSTAT", "SHUTTER", "OBSTYPE").map(StructField(_, StringType)) ++
      Seq("NEVENTS", "LAMPEVNT").map(StructField(_, LongType)) ++
      Seq("EXTENDED", "LINENUM", "DETECTOR").map(StructField(_, StringType)) ++
      Seq(StructField("LIFE_ADJ", IntegerType), StructField("APERTURE", StringType),
        StructField("APERYPOS", DoubleType)))

    /** Append `n` rows; returns them. */
    def add(n: Int): Seq[Row] = {
      val fresh = (rows.size until rows.size + n).map(row)
      rows ++= fresh
      fresh
    }

    private def row(i: Int): Row = {
      val exptype = Seq("ACQ/IMAGE", "ACQ/IMAGE", "ACQ/IMAGE", "ACQ/PEAKD", "ACQ/PEAKXD")(i % 5)
      val good = rng.nextInt(5) != 0
      Row(exptype, s"F${1 + (i / 5) % 3}", 58000.0 + i * 20,
        (rng.nextInt(200) - 100) / 100.0, (rng.nextInt(200) - 100) / 100.0,
        "Success", "Open", if (exptype == "ACQ/IMAGE") "IMAGING" else "SPECTROSCOPIC",
        if (good) 3000L else 1000L, 600L, "NO", "1.1",
        if (i % 2 == 0) "FUV" else "NUV", Seq(0, 1, 2, 3, 4, 5, 6, 9, 10, 12)(i % 10),
        if ((i / 2) % 2 == 0) "PSA" else "BOA",
        if (i % 11 == 0) null else java.lang.Double.valueOf(rng.nextInt(400) - 200.0))
    }

    def expect: Map[String, Long] = {
      def s(r: Row, i: Int) = r.getString(i)
      def d(r: Row, i: Int) = r.getDouble(i)
      val image = rows.filter(s(_, 0) == "ACQ/IMAGE")
      val epochs = Map("F1" -> Seq(Double.MinValue -> BreakMjd, BreakMjd -> Double.MaxValue),
        "F2" -> Seq(Double.MinValue -> Double.MaxValue))
      val imageGroups = image.flatMap { r =>
        epochs.getOrElse(s(r, 1), Nil).filter { case (lo, hi) => d(r, 2) >= lo && d(r, 2) < hi }
          .map(e => (s(r, 1), e))
      }.distinct.size
      val lastBreak = Map("F1" -> BreakMjd)
      val v2v3Fgs = image.filter { r =>
        r.getLong(8) >= 2000 && math.sqrt(d(r, 3) * d(r, 3) + d(r, 4) * d(r, 4)) < 2 &&
          d(r, 2) >= lastBreak.getOrElse(s(r, 1), Double.MinValue)
      }.map(s(_, 1)).distinct.size
      def aper(det: String) = rows.count(r => s(r, 12) == det && !r.isNullAt(15) &&
        lps(r.getInt(13))).toLong
      Map(
        "acq_image" -> imageGroups.toLong, "acq_image_v2v3" -> 2L * v2v3Fgs,
        "acq_peakd" -> rows.count(s(_, 0) == "ACQ/PEAKD").toLong,
        "acq_peakxd" -> rows.count(s(_, 0) == "ACQ/PEAKXD").toLong,
        "fuv_aperture_shift" -> aper("FUV"), "nuv_aperture_shift" -> aper("NUV"))
    }
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else if (f.getName.endsWith(".parquet")) f.length() else 0L

  def run(spark: SparkSession, rec: Recorder, a: Main.Args): Unit = {
    val w = a.work
    val smsDir = s"$w/sms"
    val lampIn = s"$w/lampflash_in"
    val smsTable = s"$w/tables/sms"
    val lampTable = s"$w/tables/lampflash"
    Seq(smsDir, lampIn, s"$w/tables").foreach(new File(_).mkdirs())
    val tr = rec.tracer
    val gen = new Gen(a.seed, smsDir)
    val acq = new AcqGen(a.seed)
    breakpoints(spark).write.parquet(s"$w/breakpoints")
    val cycleStats = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    def stat(k: String, v: Double): Unit =
      cycleStats.getOrElseUpdate(k, mutable.ArrayBuffer[Double]()) += v

    /** One cadence cycle; returns the monitor results and latencies. */
    def cycle(v: Volume): (Seq[Runner.MonitorResult], Seq[Double]) = {
      tr.span("gen") {
        val batch = gen.cycle(v)
        spark.createDataFrame(batch.asJava, lampSchema).coalesce(1)
          .write.mode("append").parquet(lampIn)
        spark.createDataFrame(acq.add(v.acq).asJava, acq.schema).coalesce(1)
          .write.mode("append").parquet(s"$w/acq")
      }
      tr.span("ingest.sms") {
        val ingested =
          if (new File(smsTable).exists())
            spark.read.parquet(smsTable).select(col("FILEID").as("file_id")).distinct()
          else spark.emptyDataFrame.select(lit("").as("file_id")).limit(0)
        SmsIngest.ingest(spark, s"$smsDir/*.txt", smsTable, ingested)
      }
      val q = tr.span("streaming.ingest") {
        val q = Streams.incrementalIngest(spark, lampIn, lampTable, s"$w/checkpoints/lampflash",
          lampSchema, Seq("ROOTNAME"), "VERSION")
        q.awaitTermination()
        q
      }
      q.exception.foreach(e => rec.check("streaming", ok = false, e.toString))
      val marks = mutable.ArrayBuffer[Long]()
      val results = tr.span("monitors.runall") {
        marks += System.nanoTime()
        Runner.clear()
        // the monitors join SMS rows on ROOTNAME for the OSM timing
        // columns only (the reference's lampflash model); the full SMS
        // table would make EXPSTART and DETECTOR ambiguous in that join
        MonitorCatalog.register(MonitorCatalog.Sources(
          spark.read.parquet(lampTable),
          spark.read.parquet(smsTable).select("ROOTNAME", "TSINCEOSM1", "TSINCEOSM2"),
          spark.read.parquet(s"$w/acq"), spark.read.parquet(s"$w/breakpoints")))
        val r = Runner.runAll(spark, "monthly", sink = (name, df) => {
          tr.span("monitors.sink")(df.write.mode("overwrite").parquet(s"$w/out/$name"))
          marks += System.nanoTime()
        })
        marks(marks.size - 1) = System.nanoTime()
        r
      }
      stat("streaming.batches", q.recentProgress.count(_.numInputRows > 0).toDouble)
      stat("streaming.rows", q.recentProgress.map(_.numInputRows).sum.toDouble)
      (results, marks.toSeq.sliding(2).map(p => (p(1) - p(0)) / 1e9).toSeq)
    }

    /** Closed-form checks of the tables and monitor outputs (untimed). */
    def verify(results: Seq[Runner.MonitorResult]): Int = {
      val exps = gen.exposures.toSeq
      val sms = spark.read.parquet(smsTable)
        .agg(count(lit(1)), countDistinct("FILEID"), sum("TSINCEOSM1")).collect()(0)
      val lamps = gen.lamps
      val fuv = lamps.filter(_.fuv)
      val nuv = lamps.filterNot(_.fuv)
      val expect = acq.expect ++ Map(
        "fuv_osm_shift1" -> fuv.map(_.k).sum.toLong, "fuv_osm_shift2" -> fuv.map(_.k).sum.toLong,
        "nuv_osm_shift1" -> nuv.map(2L * _.k).sum, "nuv_osm_shift2" -> nuv.map(2L * _.k).sum,
        "fuv_osm_drift" -> fuv.map(2L * _.k - 1).sum, "nuv_osm_drift" -> nuv.map(3L * _.k - 1).sum)
        .map { case (n, v) => n -> (if (a.corruptPin.contains(n)) v + 1 else v) }
      val shift1 = s"$w/out/fuv_osm_shift1"
      val diffSum =
        if (new File(shift1).exists()) spark.read.parquet(shift1).agg(sum("seg_diff")).collect()(0)
        else Row(null)
      val checks = Seq(
        rec.check("sms.rows", sms.getLong(0) == exps.size, s"${sms.getLong(0)} != ${exps.size}"),
        rec.check("sms.files", sms.getLong(1) == gen.files.size, s"${sms.getLong(1)} != ${gen.files.size}"),
        rec.check("sms.tsinceosm1", sms.getDouble(2) == exps.map(_.ts1.toDouble).sum,
          s"${sms.getDouble(2)}"),
        rec.check("lampflash.rows", spark.read.parquet(lampTable).count() == lamps.size,
          s"lampflash rows != ${lamps.size}"),
        rec.check("fuv_osm_shift1.sum", !diffSum.isNullAt(0) &&
          diffSum.getDouble(0) == fuv.map(_.diffSum).sum, s"$diffSum")) ++
        results.map(r => rec.check(s"monitor:${r.name}",
          r.error.isEmpty && expect.get(r.name).contains(r.rowCount),
          s"rows=${r.rowCount} expected=${expect.get(r.name)} error=${r.error}"))
      checks.count(!_)
    }

    def layerStats(): Unit = {
      stat("ingest.files_new", gen.newFiles)
      stat("ingest.rows_parsed", gen.newLines)
      val smsBytes = dirBytes(new File(smsTable))
      stat("ingest.write_mb", smsBytes / 1048576.0)
      stat("ingest.write_amp", smsBytes.toDouble / gen.newBytes)
      stat("ingest.table_rows", gen.exposures.size)
      val lampIn1 = Option(new File(lampIn).listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet")).maxBy(_.lastModified())
      stat("streaming.write_amp", dirBytes(new File(lampTable)).toDouble / lampIn1.length())
    }

    // set-up: ingest an initial history in one full cold cycle
    val compile0 = Tracer.compileNs
    val (r0, _) = cycle(PerCycle * HistoryCycles)
    rec.extra("setup_compile_s") = Json.num((Tracer.compileNs - compile0) / 1e9)
    verify(r0)
    cycleStats.clear()

    var last: (Seq[Runner.MonitorResult], Seq[Double]) = (Nil, Nil)
    val afterCycle = (p: Int) => {
      val (results, lat) = last
      val failures = verify(results)
      if (rec.passes(p)._3) layerStats()
      stat("monitors.errors", results.count(_.error.isDefined).toDouble)
      results.zipWithIndex.foreach { case (r, i) =>
        rec.ops += ((r.name, p, lat.lift(i).getOrElse(0.0), failures == 0))
      }
    }
    rec.timedPasses(a.seconds, wholePasses = true, after = afterCycle) { (_, _) =>
      last = cycle(PerCycle)
      true
    }
    rec.extra("cycle_stats") = Json.obj(cycleStats.toSeq.sortBy(_._1).map { case (k, v) =>
      k -> Json.nums(v.toSeq)
    }: _*)
  }
}
