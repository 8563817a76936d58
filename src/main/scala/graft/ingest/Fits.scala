package graft.ingest

import java.nio.ByteBuffer
import java.util.zip.GZIPInputStream
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Minimal pure-Scala FITS parser for the reference's exposure products
  * (S2 header extraction, S3 binary-table extraction — SURVEY.md §2.1;
  * reference behavior: cosmo/filesystem.py:34–92).
  *
  * Scope: the subset of the public FITS standard the COS products use —
  * 2880-byte header blocks of 80-char cards, BINTABLE extensions with
  * fixed-width column formats (rA, 1D, 1E, 1J, 1I, 1L; big-endian),
  * optional gzip container — plus variable-length (P/Q descriptor)
  * columns, decoded through each HDU's heap (THEAP-aware).
  *
  * Spark reads FITS through one Data Source, `spark.read.format("fits")`
  * ([[FitsDataSource]]); this object is its parser, its cell decoder and
  * its FITS→Spark type map.
  */
object Fits {

  final case class Hdu(header: Map[String, String], dataStart: Int, dataLen: Int)
  /** `desc` is ' ' for fixed-width cells, 'P' for 32-bit and 'Q' for
    * 64-bit variable-length array descriptors (cell = (count, heap
    * offset); elements live in the HDU's heap). `code` is always the
    * ELEMENT type. */
  final case class ColSpec(name: String, code: Char, repeat: Int, offset: Int,
                           cellBytes: Int, desc: Char = ' ')

  private val CardRe = """^([A-Z0-9_-]+)\s*=\s*('(?:[^']|'')*'|[^/]*).*$""".r

  def gunzipIfNeeded(bytes: Array[Byte]): Array[Byte] =
    if (bytes.length >= 2 && (bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b) {
      val in = new GZIPInputStream(new java.io.ByteArrayInputStream(bytes))
      val out = new java.io.ByteArrayOutputStream(bytes.length * 4)
      val buf = new Array[Byte](65536)
      var n = in.read(buf)
      while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } else bytes

  private[ingest] def isEndCard(card: String): Boolean =
    card.startsWith("END     ") || card.trim == "END"

  def parseHdus(bytes: Array[Byte]): Seq[Hdu] = {
    val hdus = Seq.newBuilder[Hdu]
    var pos = 0
    while (pos + 2880 <= bytes.length) {
      val cards = Map.newBuilder[String, String]
      var done = false
      while (!done && pos + 2880 <= bytes.length) {
        val block = new String(bytes, pos, 2880, "US-ASCII")
        pos += 2880
        block.grouped(80).foreach { card =>
          if (isEndCard(card)) done = true
          else card match {
            case CardRe(k, v) =>
              val value =
                if (v.startsWith("'"))
                  v.trim.stripPrefix("'").stripSuffix("'").replace("''", "'").trim
                else v.trim
              cards += (k -> value)
            case _ => ()
          }
        }
      }
      val kv = cards.result()
      val naxis = kv.get("NAXIS").map(_.toInt).getOrElse(0)
      val dataLen =
        if (naxis == 0) 0
        else {
          val bitpix = math.abs(kv.getOrElse("BITPIX", "8").toInt)
          val axes = (1 to naxis).map(i => kv.getOrElse(s"NAXIS$i", "0").toLong)
          val gcount = kv.getOrElse("GCOUNT", "1").toLong
          val pcount = kv.getOrElse("PCOUNT", "0").toLong
          ((bitpix / 8) * gcount * (pcount + axes.product)).toInt
        }
      hdus += Hdu(kv, pos, dataLen)
      pos += ((dataLen + 2879) / 2880) * 2880
    }
    hdus.result()
  }

  /** Whether HDU number `index` with `header` is one the `hdu` option
    * selects: an index selects that HDU, any other value is an EXTNAME
    * and selects every HDU so named. */
  def selects(hdu: String, index: Int, header: Map[String, String]): Boolean =
    if (hdu.nonEmpty && hdu.forall(_.isDigit)) index == hdu.toInt
    else header.get("EXTNAME").contains(hdu)

  /** A requested header key of one selected HDU: the primary header's
    * value, else the HDU's own, else null. */
  def headerValue(primary: Map[String, String], hdu: Map[String, String],
                  key: String): Option[String] =
    primary.get(key).orElse(hdu.get(key))

  private val FormRe = """^(\d*)([ADEJILKB])""".r
  private val VarFormRe = """^(\d*)([PQ])([ADEJILKB])""".r

  private def unitBytes(code: Char): Int = code match {
    case 'A' | 'L' | 'B' => 1
    case 'I' => 2
    case 'E' | 'J' => 4
    case 'D' | 'K' => 8
  }

  /** Start of a BINTABLE HDU's heap (variable-length element storage):
    * `THEAP` when present, else immediately after the fixed table. */
  def heapStart(h: Hdu): Int =
    h.dataStart + h.header.get("THEAP").map(_.trim.toInt).getOrElse(
      h.header("NAXIS1").toInt * h.header("NAXIS2").toInt)

  def isTable(header: Map[String, String]): Boolean =
    header.get("XTENSION").exists(_.startsWith("BINTABLE"))

  /** Column layout of a BINTABLE HDU, in physical order with offsets. */
  def tableCols(header: Map[String, String]): Seq[ColSpec] = {
    require(isTable(header), s"not a BINTABLE HDU: ${header.get("XTENSION")}")
    val tfields = header("TFIELDS").toInt
    var offset = 0
    // jobs-bound: 0 Spark jobs — local header-card arithmetic over one
    // HDU's parsed keywords (no actions)
    (1 to tfields).map { j =>
      val name = header.getOrElse(s"TTYPE$j", s"col$j")
      val form = header(s"TFORM$j")
      val spec = VarFormRe.findFirstMatchIn(form) match {
        case Some(m) =>
          // rPt(max)/rQt(max): r (count, offset) descriptors per cell —
          // the standard restricts r to 0 or 1; r=0 occupies no bytes
          // and always decodes empty. Anything else is rejected loudly
          // (a silently-ignored r would misalign every later column).
          val r = if (m.group(1).isEmpty) 1 else m.group(1).toInt
          require(r <= 1,
            s"variable-length column $name ($form): repeat $r > 1 is not valid FITS")
          ColSpec(name, m.group(3).head, r, offset,
            r * (if (m.group(2) == "P") 8 else 16), m.group(2).head)
        case None =>
          val m = FormRe.findFirstMatchIn(form).getOrElse(
            throw new IllegalArgumentException(s"unsupported TFORM '$form' for $name"))
          val repeat = if (m.group(1).isEmpty) 1 else m.group(1).toInt
          val code = m.group(2).head
          ColSpec(name, code, repeat, offset, unitBytes(code) * repeat)
      }
      offset += spec.cellBytes
      spec
    }
  }

  /** Spark type of one cell: a string for 'A' cells (fixed or
    * variable-length), a scalar for a fixed single element, else an array
    * of the element type. */
  def sparkType(spec: ColSpec): DataType = {
    val elem = spec.code match {
      case 'A' => StringType
      case 'D' => DoubleType
      case 'E' => FloatType
      case 'J' | 'I' | 'B' => IntegerType
      case 'K' => LongType
      case 'L' => BooleanType
    }
    if (spec.code == 'A' || (spec.desc == ' ' && spec.repeat == 1)) elem
    else ArrayType(elem, containsNull = false)
  }

  /** Decode one cell into its Catalyst value (scalar, string, fixed-repeat
    * array, or variable-length heap array — `heapStart` is the absolute
    * heap offset of the cell's HDU, ignored for fixed cells). */
  private def cellValue(bytes: Array[Byte], base: Int, spec: ColSpec, heapStart: Int): Any = {
    def scalar(at: Int): Any = spec.code match {
      case 'D' => ByteBuffer.wrap(bytes, at, 8).getDouble
      case 'E' => ByteBuffer.wrap(bytes, at, 4).getFloat
      case 'J' => ByteBuffer.wrap(bytes, at, 4).getInt
      case 'I' => ByteBuffer.wrap(bytes, at, 2).getShort.toInt
      case 'K' => ByteBuffer.wrap(bytes, at, 8).getLong
      case 'B' => bytes(at) & 0xff
      case 'L' => bytes(at) == 'T'.toByte
    }
    def string(at: Int, n: Int) = UTF8String.fromString(new String(bytes, at, n, "US-ASCII").trim)
    def elements(at: Int, n: Int) = {
      val u = unitBytes(spec.code)
      new GenericArrayData(Array.tabulate[Any](n)(i => scalar(at + i * u)))
    }
    if (spec.desc != ' ') {
      val (cnt, off) =
        if (spec.repeat == 0) (0, 0L)
        else if (spec.desc == 'P')
          (ByteBuffer.wrap(bytes, base, 4).getInt,
            ByteBuffer.wrap(bytes, base + 4, 4).getInt.toLong)
        else
          (ByteBuffer.wrap(bytes, base, 8).getLong.toInt,
            ByteBuffer.wrap(bytes, base + 8, 8).getLong)
      val at = heapStart + off.toInt
      if (spec.code == 'A') string(at, cnt) else elements(at, cnt)
    }
    else if (spec.code == 'A') string(base, spec.repeat)
    else if (spec.repeat == 1) scalar(base)
    else elements(base, spec.repeat)
  }

  /** One table column of a BINTABLE HDU as a Catalyst array: one decoded
    * cell per table row. */
  def column(bytes: Array[Byte], h: Hdu, spec: ColSpec): GenericArrayData = {
    val rowLen = h.header("NAXIS1").toInt
    val hs = heapStart(h)
    new GenericArrayData(Array.tabulate[Any](h.header("NAXIS2").toInt)(r =>
      cellValue(bytes, h.dataStart + r * rowLen + spec.offset, spec, hs)))
  }
}
