package graft

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

/** A small FITS writer for specs: the inverse of `Fits.parseHdus` and
  * `Fits.tableCols`. It writes 2880-byte header blocks of 80-character
  * cards, header-only primary and IMAGE HDUs, and BINTABLE HDUs with
  * fixed-width columns (`rA`, `1D`, `1E`, `1J`, `1I`, `1L`) and
  * variable-length heap columns (`1PE(n)`, `1PA(n)`, `1QD(n)`, any
  * element code after P or Q). A path ending in `.gz` is gzipped. */
object FitsWriter {

  /** One BINTABLE column. `form` is its TFORM; `cells` holds one value
    * per table row: a String for A, a Double, Float, Int or Boolean for
    * the fixed numeric forms, and a Seq of elements (a String for PA)
    * for P/Q. */
  final case class Col(name: String, form: String, cells: IndexedSeq[Any])

  /** One HDU: its mandatory cards are derived, `cards` come after them
    * (String values are quoted, Boolean ones written T/F, numbers as
    * they print). `cols` is non-empty only for a BINTABLE. */
  final case class Hdu(kind: String, cards: Seq[(String, Any)], cols: Seq[Col] = Nil)

  def primary(cards: (String, Any)*): Hdu = Hdu("PRIMARY", cards)
  def image(cards: (String, Any)*): Hdu = Hdu("IMAGE", cards)
  def bintable(cards: Seq[(String, Any)], cols: Col*): Hdu = Hdu("BINTABLE", cards, cols)

  private val FormRe = """^(\d*)([PQ]?)([ADEJILKB])(?:\(\d+\))?$""".r

  private def card(k: String, v: Any): String = {
    val value = v match {
      case s: String => "'" + s.replace("'", "''").padTo(8, ' ') + "'"
      case b: Boolean => if (b) "T" else "F"
      case x => x.toString
    }
    val c = k.padTo(8, ' ') + "= " + value
    require(k.length <= 8 && c.length <= 80, s"card too long: $c")
    c.padTo(80, ' ')
  }

  private def padded(bytes: Array[Byte], fill: Byte): Array[Byte] =
    bytes ++ Array.fill[Byte]((2880 - bytes.length % 2880) % 2880)(fill)

  private def header(cards: Seq[(String, Any)]): Array[Byte] =
    padded((cards.map { case (k, v) => card(k, v) } :+ "END".padTo(80, ' '))
      .mkString.getBytes("US-ASCII"), ' '.toByte)

  private def element(out: DataOutputStream, code: Char, v: Any): Unit = code match {
    case 'D' => out.writeDouble(v.asInstanceOf[Double])
    case 'E' => out.writeFloat(v.asInstanceOf[Float])
    case 'J' => out.writeInt(v.asInstanceOf[Int])
    case 'I' => out.writeShort(v.asInstanceOf[Int])
    case 'K' => out.writeLong(v.asInstanceOf[Long])
    case 'B' => out.writeByte(v.asInstanceOf[Int])
    case 'L' => out.writeByte(if (v.asInstanceOf[Boolean]) 'T' else 'F')
  }

  /** The table rows and the heap of one BINTABLE. */
  private def tableData(cols: Seq[Col]): (Int, Int, Array[Byte], Array[Byte]) = {
    val nRows = cols.headOption.map(_.cells.size).getOrElse(0)
    require(cols.forall(_.cells.size == nRows), "columns differ in length")
    val rows = new ByteArrayOutputStream()
    val heap = new ByteArrayOutputStream()
    val r = new DataOutputStream(rows)
    val h = new DataOutputStream(heap)
    for (i <- 0 until nRows; c <- cols) {
      val FormRe(rep, desc, codeS) = c.form
      val code = codeS.head
      val repeat = if (rep.isEmpty) 1 else rep.toInt
      (desc, c.cells(i)) match {
        case ("", s: String) =>
          require(code == 'A' && s.length <= repeat, s"${c.name}: '$s' in ${c.form}")
          r.writeBytes(s.padTo(repeat, ' '))
        case ("", xs: Seq[_]) =>
          require(xs.size == repeat, s"${c.name}: ${xs.size} elements in ${c.form}")
          xs.foreach(element(r, code, _))
        case ("", x) => element(r, code, x)
        case (_, v) =>
          val at = h.size()
          val n = v match {
            case s: String => h.writeBytes(s); s.length
            case xs: Seq[_] => xs.foreach(element(h, code, _)); xs.size
          }
          if (desc == "P") { r.writeInt(n); r.writeInt(at) }
          else { r.writeLong(n.toLong); r.writeLong(at.toLong) }
      }
    }
    val rowLen = if (nRows == 0) 0 else rows.size() / nRows
    (rowLen, nRows, rows.toByteArray, heap.toByteArray)
  }

  def bytes(hdus: Seq[Hdu]): Array[Byte] = hdus.map {
    case Hdu("PRIMARY", cards, _) =>
      header(Seq("SIMPLE" -> true, "BITPIX" -> 8, "NAXIS" -> 0, "EXTEND" -> true) ++ cards)
    case Hdu("IMAGE", cards, _) =>
      header(Seq("XTENSION" -> "IMAGE", "BITPIX" -> 8, "NAXIS" -> 0,
        "PCOUNT" -> 0, "GCOUNT" -> 1) ++ cards)
    case Hdu(_, cards, cols) =>
      val (rowLen, nRows, rows, heap) = tableData(cols)
      val fields = cols.zipWithIndex.flatMap { case (c, j) =>
        Seq(s"TTYPE${j + 1}" -> c.name, s"TFORM${j + 1}" -> c.form)
      }
      header(Seq("XTENSION" -> "BINTABLE", "BITPIX" -> 8, "NAXIS" -> 2,
        "NAXIS1" -> rowLen, "NAXIS2" -> nRows, "PCOUNT" -> heap.length,
        "GCOUNT" -> 1, "TFIELDS" -> cols.size) ++ fields ++ cards) ++
        padded(rows ++ heap, 0)
  }.reduce(_ ++ _)

  /** Write `hdus` to `path`, gzipped when the name ends in `.gz`. */
  def write(path: Path, hdus: Seq[Hdu]): Path = {
    val b = bytes(hdus)
    if (path.toString.endsWith(".gz")) {
      val out = new GZIPOutputStream(Files.newOutputStream(path))
      try out.write(b) finally out.close()
    } else Files.write(path, b)
    path
  }
}
