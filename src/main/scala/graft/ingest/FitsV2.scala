package graft.ingest

import java.util
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 FITS source, the one FITS reader:
  * `spark.read.format("fits").option("hdu", 1).load(glob)` returns the
  * reference's exposure record (cosmo/filesystem.py:34–92) — one row per
  * (file, selected HDU) with the source path in `_file`, each requested
  * header key as a string column, and each table column of a selected
  * BINTABLE as an array with one element per table row (cell types from
  * [[Fits.sparkType]]). A row-per-table-row view is
  * `Relational.explodeArrays` over the record.
  *
  * Options:
  *  - `hdu`: an HDU index (default 1), or an EXTNAME that selects every
  *    HDU so named — a jitter association file with 4 `jit` extensions
  *    gives 4 rows (S6, filesystem.py:196–227);
  *  - `headers`: comma-separated header keys, each looked up in the
  *    primary header, then in the selected HDU's ([[Fits.headerValue]]);
  *    a key in neither is null.
  * A selected HDU that is not a BINTABLE (a header-only rawacq or SPT
  * read) gives `_file` and header columns only.
  *
  * The scan plugs into the planner:
  *  - one InputPartition per file — the reference's dask per-file
  *    fan-out (filesystem.py:355–373) as scan parallelism;
  *  - column pruning (SupportsPushDownRequiredColumns): only required
  *    columns are decoded, and the table layout is not read at all when
  *    no table column is required;
  *  - file-level filter pushdown on `_file` and header columns, decided
  *    from header-only reads (the FITS analog of a parquet footer);
  *  - schema inferred from the first file's headers (all files of one
  *    product type share a layout, as the reference's per-model requests
  *    assume).
  */
class FitsDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "fits"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FitsV2.schemaFor(FitsV2.resolvePaths(options), FitsV2.hdu(options),
      FitsV2.headerKeys(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    FitsV2Table(schema, new CaseInsensitiveStringMap(properties))

  override def supportsExternalMetadata(): Boolean = true
}

/** Serializable carrier for the driver's Hadoop configuration, so
  * executor-side reads see configured filesystems/credentials (what
  * Spark's own file sources do via their broadcast conf). Hadoop's
  * `Configuration` is a `Writable`, not `Serializable` — ship it through
  * its own wire format. */
class SerializableHadoopConf(@transient private var conf: org.apache.hadoop.conf.Configuration)
  extends Serializable {
  def value: org.apache.hadoop.conf.Configuration = conf
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    conf.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new org.apache.hadoop.conf.Configuration(false)
    conf.readFields(in)
  }
}

object FitsV2 {
  /** Driver-side session Hadoop conf, serializably wrapped. */
  def sessionConf(): SerializableHadoopConf =
    new SerializableHadoopConf(
      SparkSession.active.sessionState.newHadoopConf())

  def hdu(options: CaseInsensitiveStringMap): String =
    Option(options.get("hdu")).map(_.trim).getOrElse("1")

  def headerKeys(options: CaseInsensitiveStringMap): Seq[String] =
    Option(options.get("headers")).map(_.split(",").map(_.trim).toSeq)
      .getOrElse(Seq.empty)

  /** Expand the load path/glob into concrete file paths (driver-side). */
  def resolvePaths(options: CaseInsensitiveStringMap): Seq[String] = {
    val raw = Option(options.get("path")).orElse(Option(options.get("paths")))
      .getOrElse(throw new IllegalArgumentException("fits source needs a path"))
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val p = new Path(raw)
    val fs = FileSystem.get(p.toUri, conf)
    val matches = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
    require(matches.nonEmpty, s"no files match $raw")
    matches.map(_.getPath.toString)
  }

  private[ingest] def readFile(path: String,
      conf: org.apache.hadoop.conf.Configuration): Array[Byte] = {
    val p = new Path(path)
    val in = FileSystem.get(p.toUri, conf).open(p)
    try Fits.gunzipIfNeeded(in.readAllBytes()) finally in.close()
  }

  /** The headers of a file's HDUs, read without keeping any data section:
    * 2880-byte blocks up to each END card, then a skip over the data.
    * With an index `hdu` the read stops after that HDU. This is what
    * makes schema inference and header-predicate pruning cheap — a few
    * KB per file instead of the whole product. */
  private[ingest] def readHeaders(path: String, hdu: String,
      conf: org.apache.hadoop.conf.Configuration): Seq[Map[String, String]] = {
    val last = if (hdu.nonEmpty && hdu.forall(_.isDigit)) hdu.toInt else Int.MaxValue
    val p = new Path(path)
    val raw = new java.io.BufferedInputStream(FileSystem.get(p.toUri, conf).open(p), 8192)
    raw.mark(2)
    val gzip = raw.read() == 0x1f && raw.read() == 0x8b
    raw.reset()
    val in = if (gzip) new java.util.zip.GZIPInputStream(raw) else raw
    try {
      val headers = Seq.newBuilder[Map[String, String]]
      val block = new Array[Byte](2880)
      var index = 0
      var eof = false
      while (!eof && index <= last) {
        val cards = new java.io.ByteArrayOutputStream(2880)
        var done = false
        while (!done && !eof) {
          // a short block at an HDU boundary ends the file, as in parseHdus
          val got = in.readNBytes(block, 0, 2880)
          if (got < 2880 && cards.size == 0) eof = true
          else if (got < 2880) throw new java.io.EOFException(s"truncated FITS header: $path")
          else {
            cards.write(block)
            done = new String(block, "US-ASCII").grouped(80).exists(Fits.isEndCard)
          }
        }
        if (!eof) {
          val h = Fits.parseHdus(cards.toByteArray).head
          headers += h.header
          var skip = if (index < last) ((h.dataLen + 2879L) / 2880) * 2880 else 0L
          while (skip > 0) {
            val n = in.skip(skip)
            skip = if (n > 0) skip - n else if (in.read() < 0) 0L else skip - 1
          }
          index += 1
        }
      }
      headers.result()
    } finally in.close()
  }

  def schemaFor(paths: Seq[String], hdu: String, headers: Seq[String]): StructType = {
    val hs = readHeaders(paths.head, hdu, sessionConf().value)
    val selected = hs.indices.find(i => Fits.selects(hdu, i, hs(i))).getOrElse(
      throw new IllegalArgumentException(s"no HDU $hdu in ${paths.head}"))
    val cols =
      if (Fits.isTable(hs(selected))) Fits.tableCols(hs(selected)) else Seq.empty
    StructType(
      StructField("_file", StringType, nullable = false) +:
        headers.map(k => StructField(k, StringType)) ++:
        cols.filterNot(s => s.name == "_file" || headers.contains(s.name))
          .map(s => StructField(s.name, ArrayType(Fits.sparkType(s), containsNull = false))))
  }
}

case class FitsV2Table(tableSchema: StructType, options: CaseInsensitiveStringMap)
  extends Table with SupportsRead {
  override def name(): String = "fits"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new FitsScanBuilder(tableSchema,
      FitsV2.resolvePaths(options), FitsV2.hdu(options),
      FitsV2.headerKeys(options), FitsV2.sessionConf())
}

class FitsScanBuilder(fullSchema: StructType, paths: Seq[String], hdu: String,
                      headerKeys: Seq[String], conf: SerializableHadoopConf)
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with SupportsPushDownFilters {
  import org.apache.spark.sql.sources._

  private var required: StructType = fullSchema
  private var accepted: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // FILE-LEVEL pruning: a predicate over `_file` or a header column can
  // drop whole files before any table byte is decoded — the custom-source
  // analog of partition pruning. A `_file` predicate is constant across a
  // file, so the prune enforces it fully. A header predicate keeps a file
  // when any selected HDU passes it; an EXTNAME selection can give a file
  // rows that differ in a header value, so Spark still applies it per row.
  private def fileLevel(attr: String): Boolean =
    attr == "_file" || headerKeys.contains(attr)

  private def prunable(f: Filter): Boolean = f match {
    case EqualTo(a, _: String) => fileLevel(a)
    case In(a, vs) if vs.forall(_.isInstanceOf[String]) => fileLevel(a)
    case StringStartsWith(a, _) => fileLevel(a)
    case StringEndsWith(a, _) => fileLevel(a)
    case StringContains(a, _) => fileLevel(a)
    case IsNotNull(a) => fileLevel(a)
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    accepted = filters.filter(prunable)
    filters.filterNot(f => prunable(f) && f.references.forall(_ == "_file"))
  }
  override def pushedFilters(): Array[Filter] = accepted

  override def build(): Scan =
    FitsScan(required, paths, hdu, headerKeys, conf, accepted)
}

case class FitsScan(readSchemaV: StructType, paths: Seq[String], hdu: String,
                    headerKeys: Seq[String], conf: SerializableHadoopConf,
                    pushed: Array[org.apache.spark.sql.sources.Filter])
  extends Scan with Batch {
  import org.apache.spark.sql.sources._

  override def readSchema(): StructType = readSchemaV
  override def toBatch: Batch = this
  override def description(): String =
    s"FITS hdu=$hdu columns=[${readSchemaV.fieldNames.mkString(",")}]" +
      (if (pushed.nonEmpty) s" PushedFilters: [${pushed.mkString(", ")}]" else "")

  private def matches(f: Filter, lookup: String => Option[String]): Boolean =
    f match {
      case EqualTo(a, v) => lookup(a).contains(v.toString)
      case In(a, vs) => lookup(a).exists(x => vs.exists(v => v != null && v.toString == x))
      case StringStartsWith(a, p) => lookup(a).exists(_.startsWith(p))
      case StringEndsWith(a, s) => lookup(a).exists(_.endsWith(s))
      case StringContains(a, s) => lookup(a).exists(_.contains(s))
      case IsNotNull(a) => lookup(a).isDefined
      case _ => true
    }

  /** Paths surviving the pushed file-level predicates. `_file` filters
    * cost nothing; header filters read only each candidate's headers
    * (KBs at planning time — the cost profile of parquet footer reads),
    * and only when such a filter exists. A file survives
    * when some selected HDU passes every filter under the reader's own
    * header lookup. */
  private[graft] lazy val prunedPaths: Seq[String] = {
    val (pathFs, headerFs) = pushed.partition(_.references.forall(_ == "_file"))
    val byPath = paths.filter(p => pathFs.forall(matches(_, {
      case "_file" => Some(p)
      case _ => None
    })))
    if (headerFs.isEmpty) byPath
    else byPath.filter { p =>
      val hs = FitsV2.readHeaders(p, hdu, conf.value)
      hs.indices.exists(i => Fits.selects(hdu, i, hs(i)) &&
        headerFs.forall(matches(_, {
          case "_file" => Some(p)
          case k => Fits.headerValue(hs.head, hs(i), k)
        })))
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    prunedPaths.map(p => FitsFilePartition(p): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    FitsReaderFactory(readSchemaV, hdu, headerKeys, conf)
}

case class FitsFilePartition(path: String) extends InputPartition

case class FitsReaderFactory(schema: StructType, hdu: String,
                             headerKeys: Seq[String], conf: SerializableHadoopConf)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val path = partition.asInstanceOf[FitsFilePartition].path
    val bytes = FitsV2.readFile(path, conf.value)
    val hdus = Fits.parseHdus(bytes)
    val file = UTF8String.fromString(path)
    val rows = hdus.indices.filter(i => Fits.selects(hdu, i, hdus(i).header)).map { i =>
      val h = hdus(i)
      // only required columns are decoded; the table layout is read only
      // when a table column is required
      lazy val specs = Fits.tableCols(h.header).map(s => s.name -> s).toMap
      new GenericInternalRow(schema.fields.map[Any] { f =>
        if (f.name == "_file") file
        else if (headerKeys.contains(f.name))
          Fits.headerValue(hdus.head.header, h.header, f.name)
            .map(UTF8String.fromString).orNull
        else Fits.column(bytes, h, specs.getOrElse(f.name,
          throw new IllegalArgumentException(s"no column ${f.name} in HDU $i of $path")))
      }): InternalRow
    }.iterator
    new PartitionReader[InternalRow] {
      private var row: InternalRow = _
      override def next(): Boolean = rows.hasNext && { row = rows.next(); true }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}
