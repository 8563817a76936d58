package graft

import java.nio.file.{Files, Paths}
import FitsWriter.{Col, bintable, image, primary}

/** Synthetic COS exposure products, written once per JVM with
  * [[FitsWriter]] into one directory laid out like the reference's
  * test data (`*lampflash*`, `*rawacq*`, `*spt*`, `*jit*`, some of them
  * gzipped). Every value follows a closed form below, so a spec can
  * assert exact results on any machine. */
object SyntheticFits {

  /** Lampflash exposure `i`: 7 FUV (i < 7) and 4 NUV files. Table row
    * `r` is flash `r / nSeg` of segment `r % nSeg`; the primary header
    * holds ROOTNAME, DETECTOR and OPT_ELEM, extension 1 (LAMPFLASH)
    * holds EXPSTART and the table. */
  final case class Lamp(i: Int) {
    val fuv: Boolean = i < 7
    val stem: String = f"lsyn$i%04d"
    val rootname: String = stem + "q"
    val detector: String = if (fuv) "FUV" else "NUV"
    val optElem: String = if (fuv) "G160M" else "G230L"
    val segments: Seq[String] =
      if (fuv) Seq("FUVA", "FUVB") else Seq("NUVA", "NUVB", "NUVC")
    val flashes: Int = 1 + i % 3
    val rows: Int = flashes * segments.size
    val expstart: Double = 59000.0 + i * 0.5
    def time(r: Int): Double = 4.5 + 600.0 * (r / segments.size)
    /** Segment B lies 5·(i % 4) above segment A at every flash. */
    def shiftDisp(r: Int): Float =
      ((i + 1) * 1.5 - 0.25 * (r / segments.size) +
        5.0 * (i % 4) * (r % segments.size)).toFloat
    def shiftXdisp(r: Int): Float = (0.125 * r - i).toFloat
    def segment(r: Int): String = segments(r % segments.size)
    val file: String = s"${rootname}_lampflash.fits" + (if (i % 2 == 0) ".gz" else "")
  }
  val lamps: Seq[Lamp] = (0 until 11).map(Lamp)

  /** Acquisition `i` (9 of them): a rawacq file whose primary header
    * holds the acquisition keys and whose header-only IMAGE extension 1
    * holds EXPSTART, and an SPT sibling with DGESTAR. Acquisition 0 is
    * the exposure of jitter file `ldsy02x1`. */
  final case class Acq(i: Int) {
    val rootname: String = if (i == 0) "ldsy02x1q" else f"lacq$i%04dq"
    val exptype: String = Seq("ACQ/IMAGE", "ACQ/PEAKD", "ACQ/PEAKXD")(i % 3)
    val slewX: Double = 0.25 * i - 1.0
    val slewY: Double = 0.5 - 0.125 * i
    val acqstat: String = if (i == 4) "Failure" else "Success"
    val expstart: Double = 58000.0 + 10.0 * i
    val fgs: String = s"F${1 + i % 3}"
    val dgestar: String = f"S4B0$i%04d$fgs"
  }
  val acqs: Seq[Acq] = (0 until 9).map(Acq)

  /** Jitter file: primary header with ROOTNAME and EXPSTART, one `jit`
    * BINTABLE extension per exposure (EXPNAME in its header, `n` samples
    * of five 1E columns), and for the association file a non-jit IMAGE
    * extension between them. */
  final case class Jitter(file: String, root: String, expstart: Double,
                          exps: Seq[(String, Int)])
  val jitters: Seq[Jitter] = Seq(
    Jitter("ldsy01010_jit.fits", "ldsy01010", 59100.0,
      Seq("ldsy01a1j" -> 3, "ldsy01b2j" -> 4, "ldsy01c3j" -> 5, "ldsy01d4j" -> 6)),
    Jitter("ldsy02x1_jit.fits", "ldsy02x1", 58000.0, Seq("ldsy02x1j" -> 2)),
    Jitter("ldsy03y2_jit.fits.gz", "ldsy03y2", 59200.0, Seq("ldsy03y2j" -> 7)))
  def seconds(t: Int): Float = 3.0f * t
  def v2Avg(j: Int, t: Int): Float = 0.5f * t - j
  def v2Rms(t: Int): Float = 0.25f * (t % 3)
  def v3Avg(j: Int, t: Int): Float = j - 0.25f * t
  def v3Rms(t: Int): Float = 0.125f * (t % 2)

  private def cells[A](n: Int)(f: Int => A): IndexedSeq[Any] = (0 until n).map(f)

  /** The directory holding every product above. */
  lazy val dir: String = {
    val d = Files.createTempDirectory("synthetic-fits")
    lamps.foreach { l =>
      FitsWriter.write(d.resolve(l.file), Seq(
        primary("ROOTNAME" -> l.rootname, "DETECTOR" -> l.detector,
          "OPT_ELEM" -> l.optElem),
        bintable(Seq("EXTNAME" -> "LAMPFLASH", "EXPSTART" -> l.expstart),
          Col("SEGMENT", "4A", cells(l.rows)(l.segment)),
          Col("TIME", "1D", cells(l.rows)(l.time)),
          Col("SHIFT_DISP", "1E", cells(l.rows)(l.shiftDisp)),
          Col("SHIFT_XDISP", "1E", cells(l.rows)(l.shiftXdisp)),
          Col("FLASH", "1J", cells(l.rows)(_ / l.segments.size)),
          Col("NSEG", "1I", cells(l.rows)(_ => l.segments.size)),
          Col("FIRST", "1L", cells(l.rows)(_ < l.segments.size)))))
    }
    acqs.foreach { a =>
      FitsWriter.write(d.resolve(s"${a.rootname}_rawacq.fits"), Seq(
        primary("ROOTNAME" -> a.rootname, "EXPTYPE" -> a.exptype,
          "ACQSLEWX" -> a.slewX, "ACQSLEWY" -> a.slewY,
          "ACQSTAT" -> a.acqstat, "SHUTTER" -> "Open"),
        image("EXTNAME" -> "SCI", "EXPSTART" -> a.expstart)))
      FitsWriter.write(d.resolve(s"${a.rootname}_spt.fits"), Seq(
        primary("ROOTNAME" -> a.rootname, "DGESTAR" -> a.dgestar),
        image("EXTNAME" -> "UDL")))
    }
    jitters.foreach { f =>
      val jits = f.exps.zipWithIndex.map { case ((expname, n), j) =>
        bintable(Seq("EXTNAME" -> "jit", "EXPNAME" -> expname),
          Col("Seconds", "1E", cells(n)(seconds)),
          Col("SI_V2_AVG", "1E", cells(n)(v2Avg(j, _))),
          Col("SI_V2_RMS", "1E", cells(n)(v2Rms)),
          Col("SI_V3_AVG", "1E", cells(n)(v3Avg(j, _))),
          Col("SI_V3_RMS", "1E", cells(n)(v3Rms)))
      }
      val (head, tail) = jits.splitAt(2)
      val decoy = if (tail.nonEmpty) Seq(image("EXTNAME" -> "SNAP")) else Nil
      FitsWriter.write(d.resolve(f.file),
        primary("ROOTNAME" -> f.root, "EXPSTART" -> f.expstart) +: (head ++ decoy ++ tail))
    }
    d.toString
  }

  def path(file: String): String = Paths.get(dir, file).toString
}
