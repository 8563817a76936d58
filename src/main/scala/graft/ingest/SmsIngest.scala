package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SMS exposure-report ingest (reference: cosmo/sms/ingest_sms.py).
  *
  * The reference concatenates a report's non-header lines and runs 10
  * independent `re.findall` passes, assembling columns positionally
  * (ingest_sms.py:90–152). Here each data line is one row — the same
  * patterns (ingest_sms.py:20–37) applied per line with
  * `regexp_extract`, which keeps extraction distributed and avoids the
  * positional-alignment fragility. Data lines are recognized by the
  * ROOTNAME anchor `^l[a-z0-9]{7} ` (banner/separator/trailer lines
  * cannot match it); MEMORY and ALIGN special rows are skipped exactly
  * as the reference does (ingest_sms.py:105–110).
  *
  * Quirk fidelity (ingest_sms.py:124–147):
  *  - FUVHVSTATE: six spaces (NUV rows) → 'N/A';
  *  - OSM2POS: `-----` (OSM2 unused) → 'N/A';
  *  - FPPOS = fpoffset + 3 (offset is relative to the third position);
  *  - EXPOSURE: the three space-separated groups are concatenated.
  *
  * At 100 TB scale: `spark.read.text` splits by file; per-line regex work
  * is embarrassingly parallel; the version-dedup window shuffles once on
  * sms_id; the MERGE shuffles once on EXPOSURE.
  */
object SmsIngest {

  /** Typed schema of the parsed SMS table (reference: sms_db.py:15–40;
    * dtype table tests/test_sms_ingest.py:57–83 — FILENAME is the source
    * path, FILEID its version-bearing stem). */
  val fieldNames: Seq[String] = Seq(
    "ROOTNAME", "PROPOSID", "EXPOSURE", "DETECTOR", "OPMODE", "EXPTIME",
    "EXPSTART", "FUVHVSTATE", "APERTURE", "OSM1POS", "OSM2POS",
    "CENWAVE", "FPPOS", "TSINCEOSM1", "TSINCEOSM2", "FILEID", "FILENAME")

  /** Read one-or-many SMS report files into the typed exposure table. */
  def parse(spark: SparkSession, paths: Seq[String]): DataFrame =
    parseLines(spark.read.text(paths: _*)
      .withColumn("filename", input_file_name()))

  /** Parse pre-loaded report lines: `value` = line text, `filename` =
    * source path. One output row per exposure line.
    *
    * The whole 16-field extraction is ONE anchored regex evaluated once
    * per line (native RegexpExtractGroups): per-field `regexp_extract`
    * calls would rescan the line per field (~11 scans, most with
    * lookbehinds — measured 2.7× slower at bench scale). The combined
    * pattern concatenates the reference's field patterns
    * (ingest_sms.py:20–37) in report column order with the same
    * alternations, so per-field semantics are unchanged (pinned
    * byte-level in SmsIngestSpec); a line that fails any required field
    * yields no row, which is what the malformed-file check expects. */
  def parseLines(lines: DataFrame): DataFrame = {
    val v = col("value")
    val fileId = regexp_extract(col("filename"), "([^/]+?)(\\.[^/.]*)?$", 1)
    val g = graft.functions.GraftExtensions.regexpGroups(v, linePattern)
    lines
      .filter(v.rlike("^l[a-z0-9]{7} "))
      .filter(!v.contains("MEMORY") && !v.contains("ALIGN/OSM") &&
        !v.contains("ALIGN/APER"))
      .select(fileId.as("FILEID"), col("filename").as("FILENAME"), g.as("__g"))
      .filter(col("__g").isNotNull)
      .select(
        col("__g")(0).as("ROOTNAME"),
        col("__g")(1).cast("int").as("PROPOSID"),
        concat(col("__g")(2), col("__g")(3), col("__g")(4)).as("EXPOSURE"),
        col("__g")(5).as("DETECTOR"),
        col("__g")(6).as("OPMODE"),
        col("__g")(7).cast("double").as("EXPTIME"),
        // the reference coerces EXPSTART to datetime on ingest
        // (ingest_sms.py:75,161; dtype pinned by tests/test_sms_ingest.py:
        // 57–83) — TimestampType here, parsed from yyyy.DDD:HH:mm:ss
        graft.core.TimeFns.doyToTs(col("__g")(8)).as("EXPSTART"),
        naIfBlank(col("__g")(9)).as("FUVHVSTATE"),
        concat_ws(" ", split(trim(col("__g")(10)), "\\s+")).as("APERTURE"),
        col("__g")(11).as("OSM1POS"),
        naIfDashes(col("__g")(12)).as("OSM2POS"),
        col("__g")(13).cast("int").as("CENWAVE"),
        (trim(col("__g")(14)).cast("int") + 3).as("FPPOS"),
        col("__g")(15).cast("double").as("TSINCEOSM1"),
        col("__g")(16).cast("double").as("TSINCEOSM2"),
        col("FILEID"), col("FILENAME"))
  }

  /** One anchored pattern over the full exposure line; groups (1-based):
    * 1 ROOTNAME, 2 PROPOSID, 3–5 EXPOSURE (PRG OB AL), 6 DETECTOR,
    * 7 OPMODE, 8 EXPTIME, 9 EXPSTART, 10 FUVHVSTATE (6 blanks → N/A),
    * 11 APERTURE (+optional qualifier), 12 OSM1POS, 13 OSM2POS,
    * 14 CENWAVE, 15 FPOFFSET, 16 TSINCEOSM1, 17 TSINCEOSM2. */
  private val linePattern =
    "^(l[a-z0-9]{7}) (\\d{5}) .*? ([A-Z0-9]{3}) ([A-Z0-9]{2}) ([A-Z0-9]{2}) " +
      "\\d{2}\\s+(NUV|FUV)\\s+(ACQ/\\S{5,6}|TIME-TAG|ACCUM)\\s+(\\d+\\.\\d)\\s+" +
      "(\\d{4}\\.\\d{3}:\\d{2}:\\d{2}:\\d{2}) ( {6}|HV[a-zA-Z]{3,4}|\\d{3}/\\d{3}) +" +
      "((?:PSA|BOA|WCA|FCA|RELATIVE|REL)(?: \\w)?)\\s+" +
      "(NCM1|G130M|G140L|G160M|NCM1FLAT)\\s+(-----|MIRRORA|MIRRORB|G\\d{3}M|G\\d{3}L)\\s+" +
      "(0|\\d{4}|\\d{3}) ( 0|-1|-2|-3| 1)\\s+(\\d{1,6})\\s+(\\d{1,6})"

  private def naIfBlank(c: Column): Column =
    when(trim(c) === "", "N/A").otherwise(c)
  private def naIfDashes(c: Column): Column =
    when(regexp_replace(c, "-", "") === "", "N/A").otherwise(c)

  /** S9 file discovery (reference: ingest_sms.py:201–294): filenames must
    * match `\d{6}[a-z][a-z0-9]+`; `.l-exp` files are dropped when a `.txt`
    * twin exists; only the highest version per sms_id survives.
    * `files(path)` rows; sms_id = first 6 chars, version = the rest. */
  def latestSmsFiles(files: DataFrame): DataFrame = {
    val base = regexp_extract(col("path"), "([^/]+?)(\\.[^/.]*)?$", 1)
    val ext = lower(regexp_extract(col("path"), "\\.([^/.]*)$", 1))
    val named = files
      .withColumn("file_id", base)
      .withColumn("ext", ext)
      .filter(col("file_id").rlike("^\\d{6}[a-z][a-z0-9]"))
      .withColumn("sms_id", substring(col("file_id"), 1, 6))
      .withColumn("version", expr("substring(file_id, 7)"))
    // drop .l-exp twins of .txt files (reference: _filter_l_exp_files)
    val txt = named.filter(col("ext") === "txt")
    val lexpOnly = named.filter(col("ext") =!= "txt")
      .join(txt.select(col("file_id").as("__t")), col("file_id") === col("__t"), "left_anti")
    val deduped = txt.unionByName(lexpOnly.drop("__t"))
    graft.ops.Relational.latestByKey(deduped, Seq("sms_id"), Seq(col("version")))
      .drop("ext")
  }

  /** End-to-end incremental ingest: discover latest-version files not yet
    * ingested, parse them, and MERGE into the stored table keyed by
    * EXPOSURE with FILEID as the version guard (reference:
    * ingest_sms.py:188–198 — `EXCLUDED.FILEID_id > FILEID_id`).
    * Discovery is one left_anti join of the latest files against
    * `ingestedFileIds(file_id)`. */
  def ingest(spark: SparkSession, sourceGlob: String, tableDir: String,
             ingestedFileIds: DataFrame): Unit = {
    import spark.implicits._
    val all = spark.read.format("binaryFile").load(sourceGlob)
      .select(col("path"))
    val fresh = latestSmsFiles(all).join(ingestedFileIds, Seq("file_id"), "left_anti")
    // the surviving file LIST is tiny (one path per SMS id) — collecting
    // it to drive the text read matches the reference's discovery step
    // collect-bound: discovery file list - one path per un-ingested SMS id
    val todo = fresh.select("path").as[String].collect().toSeq
    if (todo.nonEmpty) graft.core.Observations(spark) { obs =>
      // a discovered file yielding ZERO exposure rows is malformed — the
      // reference rejects such files rather than silently skipping them
      // (tests/test_sms_ingest.py:50–55). The FILEID set comes from the
      // merge's own execution of the parse, checked before the swap.
      val (parsed, yielded) = obs.observe(parse(spark, todo),
        collect_set(col("FILEID")))
      graft.ops.MergeOps.mergeParquet(spark, tableDir, parsed,
        Seq("EXPOSURE"), "FILEID", beforeSwap = () => {
          val ids = yielded().fold(
            // collect-bound: distinct FILEID set of the batch - file-count-sized
            parsed.select("FILEID").distinct().as[String].collect().toSet)(
            _.getSeq[String](0).toSet)
          val empty = todo.map(p => p.split('/').last.split('.').head).toSet -- ids
          require(empty.isEmpty,
            s"malformed SMS file(s) produced no exposure rows: ${empty.mkString(", ")}")
        })
    }
  }
}
