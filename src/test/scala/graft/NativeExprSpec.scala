package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.functions.GraftExtensions
import graft.ops.Similarity

class NativeExprSpec extends SparkSpec {
  import spark.implicits._

  /** Codegen/interpreted parity of one native: `rows` goes through a
    * parquet file, so nothing folds to a LocalRelation at plan time, and
    * `column` is projected over the scan twice — compiled into a
    * whole-stage-codegen stage with codegen-only projections and no
    * fallback, then with codegen off and interpreted projections. Both
    * must collect the same rows; the compiled rows are returned, in
    * `rows`' order, for value checks. */
  private def checkNative(column: Column, rows: DataFrame): Seq[Row] = {
    val dir = java.nio.file.Files.createTempDirectory("native-parity")
      .resolve("t").toString
    rows.coalesce(1).write.parquet(dir)
    def run(settings: (String, String)*): Seq[Row] = {
      settings.foreach { case (k, v) => spark.conf.set(k, v) }
      try spark.read.parquet(dir).select(column).collect().toSeq
      finally settings.foreach { case (k, _) => spark.conf.unset(k) }
    }
    val compiled = run("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")
    val interpreted = run("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    assert(compiled == interpreted)
    assert(compiled.size == rows.count())
    compiled
  }

  private def vectorPairs: DataFrame = Seq[(Option[Seq[Double]], Option[Seq[Double]])](
    (Some(Seq(1.0, 2.0, 3.0)), Some(Seq(4.0, 5.0, 6.0))),
    (Some(Seq(0.0, 0.0)), Some(Seq(1.0, 1.0))),
    (Some(Seq.empty), Some(Seq.empty)),
    (Some(Seq(1.0, 2.0, 3.0)), Some(Seq(1.0, 2.0))),
    (None, Some(Seq(1.0))),
    (Some(Seq(-0.5, 0.25)), None)).toDF("a", "b")

  // null arrays, empty arrays, null and empty tokens, unicode
  private def tokenRows: DataFrame = Seq[Option[Seq[String]]](
    Some(Seq("alpha", "beta", "gamma", "beta")),
    Some(Seq("", "x", "")),
    Some(Seq("unicode é ü", "漢")),
    Some(Seq("a", null, "b")),
    Some(Seq.empty),
    None).toDF("toks")

  test("cosine_sim: codegen and interpreted agree (zero norm, empty, unequal, null)") {
    val out = checkNative(GraftExtensions.cosineSim(col("a"), col("b")),
      vectorPairs).map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(out.drop(1) == Seq(Some(0.0), Some(0.0), None, None, None))
  }

  test("dot_product: codegen and interpreted agree (empty, unequal, null)") {
    val out = checkNative(GraftExtensions.dotProduct(col("a"), col("b")),
      vectorPairs).map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(out == Seq(Some(32.0), Some(0.0), Some(0.0), None, None, None))
  }

  test("md_minhash_signature: codegen and interpreted agree (null token, empty, null)") {
    val out = checkNative(GraftExtensions.mdMinhashSignature(col("toks"), 8),
      tokenRows)
    // an empty array keeps the aggregate's init; a null array is null
    assert(out(4).getSeq[Long](0) == Seq.fill(8)(Long.MaxValue))
    assert(out(5).isNullAt(0))
  }

  test("md_bucket_margin: codegen and interpreted agree (null token, skipEmpty)") {
    val w = Seq(0.5, -1.25, 2.0, 0.125, -0.75)
    for (skip <- Seq(false, true)) {
      val out = checkNative(
        GraftExtensions.mdBucketMargin(col("toks"), w, skipEmpty = skip),
        tokenRows)
      assert(out(3).isNullAt(0), s"skipEmpty=$skip: a null token nulls the sum")
      assert(out(4).getDouble(0) == 0.0)
      assert(out(5).isNullAt(0))
    }
  }

  test("md_derived_margin_int: codegen and interpreted agree (null token, empty, null)") {
    val out = checkNative(GraftExtensions.mdDerivedMarginInt(col("toks"), 64),
      tokenRows)
    assert(out(3).isNullAt(0))
    assert(out(4).getLong(0) == 0L)
    assert(out(5).isNullAt(0))
  }

  test("simhash64: codegen and interpreted agree (null element, empty, null)") {
    val rows = Seq[Option[Seq[Option[Long]]]](
      Some(Seq(Some(1L), Some(-1L), Some(0x5555555555555555L), Some(42L))),
      Some(Seq(Some(7L), None, Some(7L))),
      Some(Seq.empty),
      None).toDF("h")
    val out = checkNative(GraftExtensions.simhash64(col("h")), rows)
    assert(out(1).getLong(0) == 7L) // the null element is skipped
    assert(out(2).getLong(0) == -1L) // no votes: every counter is 0
    assert(out(3).isNullAt(0))
  }

  test("regexp_extract_groups: codegen and interpreted agree (no match, optional group)") {
    val rows = Seq[Option[String]](
      Some("obs 12-ab"), Some("obs 7-"), Some("no digits"), Some(""), None)
      .toDF("s")
    val out = checkNative(
      GraftExtensions.regexpGroups(col("s"), "(\\d+)-([a-z]+)?"), rows)
    assert(out(0).getSeq[String](0) == Seq("12", "ab"))
    assert(out(1).getSeq[String](0) == Seq("7", null))
    assert(out.drop(2).forall(_.isNullAt(0)), "no match and null input are null")
  }

  /** The md5 hex digest of `s`'s UTF-8 bytes, and its 60-bit prefix,
    * computed off Spark. */
  private def md5Hex(s: String): String = java.security.MessageDigest
    .getInstance("MD5").digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  private def md5Prefix(s: String): Long =
    java.lang.Long.parseLong(md5Hex(s).take(15), 16)

  test("md5_prefix60: codegen and interpreted agree (empty, unicode, null)") {
    val strs = Seq("abc", "", "unicode é ü 漢")
    val out = checkNative(GraftExtensions.md5Prefix60(col("s")),
      (strs.map(Option(_)) :+ None).toDF("s"))
    assert(out.init.map(_.getLong(0)) == strs.map(md5Prefix))
    assert(out.last.isNullAt(0))
  }

  test("span_hashes60: codegen and interpreted agree (null token, short, empty, null)") {
    val out = Seq(1, 3).map { k =>
      val rows = checkNative(GraftExtensions.spanHashes60(col("toks"), k),
        tokenRows).map(r => if (r.isNullAt(0)) None else Some(r.getSeq[Row](0)))
      assert(rows.map(_.map(_.size)) ==
        Seq(4, 3, 2, 3, 0).map(n => Some(math.max(n - k + 1, 0))) :+ None, s"k=$k")
      rows
    }
    // a null token is skipped like concat_ws skips it: the window is "a b"
    assert(out(1)(3).get.map(r => (r.getInt(0), r.getLong(1))) ==
      Seq((1, md5Prefix("a b"))))
  }

  test("shingles: codegen and interpreted agree (null token, empty, null)") {
    val out = checkNative(GraftExtensions.shingles(col("toks"), 2), tokenRows)
    assert(out(0).getSeq[String](0) == Seq("alpha beta", "beta gamma", "gamma beta"))
    assert(out(2).getSeq[String](0) == Seq("unicode é ü 漢"))
    assert(out(4).getSeq[String](0) == Seq(""), "an empty array is one empty shingle")
    assert(out(5).isNullAt(0))
  }

  test("bigram_hashes and trigram_hashes: codegen and interpreted agree (null token, short, empty, null)") {
    for ((c, n) <- Seq(GraftExtensions.bigramHashes(col("toks")) -> 2,
        GraftExtensions.trigramHashes(col("toks")) -> 3)) {
      val out = checkNative(c, tokenRows)
        .map(r => if (r.isNullAt(0)) None else Some(r.getSeq[Row](0).size))
      assert(out == Seq(4, 3, 2, 3, 0).map(m => Some(math.max(m - n + 1, 0))) :+ None,
        s"$n-grams")
    }
  }

  test("md_band_keys: codegen and interpreted agree (empty, null)") {
    val rows = Seq[Option[Seq[Long]]](
      Some((1L to 8L).toSeq), Some(Seq(Long.MaxValue, 0L, -1L, 42L)),
      Some(Seq.empty), None).toDF("cs")
    val out = checkNative(GraftExtensions.mdBandKeys(col("cs"), 2), rows)
    def hex(r: Row) = r.getSeq[Row](0).map(b => f"${b.getLong(1)}%016x${b.getLong(2)}%016x")
    assert(hex(out(0)) == Seq(md5Hex("1,2,3,4"), md5Hex("5,6,7,8")))
    assert(hex(out(1)) == Seq(md5Hex(s"${Long.MaxValue},0"), md5Hex("-1,42")))
    assert(hex(out(2)) == Seq(md5Hex(""), md5Hex("")),
      "an empty signature bands to empty slices")
    assert(out(3).isNullAt(0))
  }

  test("native cosine_sim agrees with the HOF composition") {
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (Seq(1.0, 0.0), Seq(0.0, 1.0)),
      (Seq(0.0, 0.0), Seq(1.0, 1.0))).toDF("a", "b")
    val out = df.select(
      GraftExtensions.cosineSim(col("a"), col("b")).as("native"),
      Similarity.cosineHof(col("a"), col("b")).as("hof"))
      .as[(Double, Double)].collect()
    out.foreach { case (n, h) => assert(math.abs(n - h) < 1e-12, s"$n vs $h") }
  }

  test("native md_minhash_signature agrees with the mdComp HOF family") {
    val df = Seq(
      Seq("a b c d", "b c d e", "zqs tail"),
      Seq("single"),
      Seq.empty[String],
      Seq("unicode é ü", "")).toDF("sh")
    val n = 16
    val comps = (0 until n).map(j => graft.ops.Curation.mdComp(col("sh"), j))
    val out = df.select(
      GraftExtensions.mdMinhashSignature(col("sh"), n).as("native"),
      array(comps: _*).as("hof"))
      .as[(Seq[Long], Seq[Long])].collect()
    out.foreach { case (nat, hof) => assert(nat == hof, s"$nat vs $hof") }
    // interpreted path (e.g. under a filter that disables codegen):
    // direct eval agreement on one row
    val expr = org.apache.spark.sql.graft.MdMinHashSignature(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq("a b c d", "x y z w"),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType)), 4)
    val got = expr.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
    val want = df.limit(0).sparkSession.range(1)
      .select(array((0 until 4).map(j => graft.ops.Curation.mdComp(
        typedLit(Seq("a b c d", "x y z w")), j)): _*))
      .as[Seq[Long]].head()
    assert(got.toSeq == want)
  }

  test("native md5_prefix60 agrees with the composed conv/substring/md5 form") {
    val df = Seq("a", "", "hello world", "unicode é ü 漢", "x:42",
      "a longer string with several tokens in it").toDF("s")
    val out = df.select(
      GraftExtensions.md5Prefix60(col("s")).as("native"),
      conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("composed"))
      .as[(Long, Long)].collect()
    out.foreach { case (n, c) => assert(n == c, s"$n vs $c") }
    // null propagation matches
    val nul = Seq(Option.empty[String]).toDF("s")
      .select(GraftExtensions.md5Prefix60(col("s"))).collect()(0)
    assert(nul.isNullAt(0))
  }

  test("native md_bucket_margin agrees with the aggregate HOF (incl. skipEmpty)") {
    val w = Seq(0.5, -1.25, 2.0, 0.125, -0.75)
    val wLit = array(w.map(lit): _*)
    val df = Seq("a b c d e f", "single", "", "x  y", "t1 t2 t1 t2")
      .toDF("text")
    val toks = split(col("text"), " ", -1)
    val hof = aggregate(toks, lit(0.0), (acc, t) =>
      acc + element_at(wLit,
        (pmod(graft.ops.Text.portableHash(t), lit(w.size.toLong)) + 1L)
          .cast("int")))
    val out = df.select(
      GraftExtensions.mdBucketMargin(toks, w).as("native"), hof.as("hof"))
      .as[(Double, Double)].collect()
    out.foreach { case (n, h) => assert(n == h, s"$n vs $h") }
    // skipEmpty twin: filter-then-aggregate vs the fused flag
    val hofSkip = aggregate(filter(toks, t => t =!= lit("")), lit(0.0),
      (acc, t) => acc + element_at(wLit,
        (graft.ops.Text.portableHash(t) % w.size.toLong + 1L).cast("int")))
    val out2 = df.select(
      GraftExtensions.mdBucketMargin(toks, w, skipEmpty = true).as("native"),
      hofSkip.as("hof")).as[(Double, Double)].collect()
    out2.foreach { case (n, h) => assert(n == h, s"skipEmpty $n vs $h") }
  }

  test("native span_hashes60 agrees with the transform HOF (incl. short docs)") {
    def hofSpanHashes(toks: org.apache.spark.sql.Column, k: Int) =
      when(size(toks) < k, array().cast("array<struct<pos:int,h:bigint>>"))
        .otherwise(transform(
          sequence(lit(1), size(toks) - (k - 1), lit(1)),
          i => struct(i.as("pos"),
            conv(substring(md5(concat_ws(" ", slice(toks, i, lit(k)))), 1, 15),
              16, 10).cast("long").as("h"))))
    val df = Seq("a b c d e f g", "a b", "", "x", "t1  t2 t1", "é ü 漢 x y")
      .toDF("text").select(split(col("text"), " ", -1).as("toks"))
    for (k <- Seq(1, 3, 4)) {
      val out = df.select(
        GraftExtensions.spanHashes60(col("toks"), k).as("native"),
        hofSpanHashes(col("toks"), k).as("hof"))
        .as[(Seq[(Int, Long)], Seq[(Int, Long)])].collect()
      out.foreach { case (n, h) => assert(n == h, s"k=$k: $n vs $h") }
    }
  }

  test("native md_derived_margin_int agrees with the double-hash HOF") {
    val b = 64
    val df = Seq("alpha beta gamma", "", "one", "tok tok tok").toDF("text")
    val toks = split(col("text"), " ", -1)
    val hof = aggregate(toks, lit(0L), (acc, t) =>
      acc + (graft.ops.Text.portableHash(concat(lit("w"),
        (graft.ops.Text.portableHash(t) % b).cast("string"))) % 2001L - 1000L))
    val out = df.select(
      GraftExtensions.mdDerivedMarginInt(toks, b).as("native"), hof.as("hof"))
      .as[(Long, Long)].collect()
    out.foreach { case (n, h) => assert(n == h, s"$n vs $h") }
  }

  test("native dot_product agrees with the HOF composition") {
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (Seq(0.5, -0.5), Seq(2.0, 2.0))).toDF("a", "b")
    val out = df.select(
      GraftExtensions.dotProduct(col("a"), col("b")).as("native"),
      Similarity.dotHof(col("a"), col("b")).as("hof"))
      .as[(Double, Double)].collect()
    out.foreach { case (n, h) => assert(n == h, s"$n vs $h") }
    // length mismatch -> null, same as the null-padded HOF
    val mm = Seq((Seq(1.0), Seq(1.0, 2.0))).toDF("a", "b")
      .select(GraftExtensions.dotProduct(col("a"), col("b"))).head()
    assert(mm.isNullAt(0))
  }

  test("cosine_sim on unequal-length arrays is null, matching the HOF") {
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("a", "b")
    val row = df.select(
      GraftExtensions.cosineSim(col("a"), col("b")).as("native"),
      Similarity.cosineHof(col("a"), col("b")).as("hof")).head()
    assert(row.isNullAt(0), "native must be null on length mismatch")
    assert(row.isNullAt(1), "HOF reference is null on length mismatch")
  }

  test("SQL registration: functions callable from spark.sql") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT md5_prefix60('abc') AS h,
        |  cosine_sim(array(1.0d, 2.0d), array(2.0d, 4.0d)) AS cs""".stripMargin)
      .as[(Long, Double)].head()
    // the first 15 hex digits of md5('abc') = 900150983cd24fb0...
    assert(r._1 == java.lang.Long.parseLong("900150983cd24fb", 16))
    assert(math.abs(r._2 - 1.0) < 1e-12)
  }

  test("native simhash64 agrees with the HOF composition on identical hashes") {
    val df = Seq(
      "the quick brown fox jumps over the lazy dog",
      "completely different words entirely",
      "x").toDF("text")
      .select(transform(split(col("text"), " "), t => xxhash64(t)).as("th"))
    val out = df.select(
      GraftExtensions.simhash64(col("th")).as("native"),
      graft.ops.Text.simhashFromHashes(col("th")).as("hof"))
      .as[(Long, Long)].collect()
    out.foreach { case (n, h) => assert(n == h, s"$n vs $h") }
  }

  test("native expressions stay inside whole-stage codegen") {
    GraftExtensions.register(spark)
    val df = spark.range(100).select(
      GraftExtensions.md5Prefix60(col("id").cast("string")).as("h"))
      .filter(col("h").isNotNull)
    val plan = df.queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators inside a WholeStageCodegen stage
    assert(plan.contains("*(1) Project"), plan)
    assert(df.count() == 100)
    // ShingleArray must not fall back (fallback would de-fuse the stage)
    val sh = spark.range(100).select(
      GraftExtensions.shingles(split(lit("a b c d e"), " "), 2).as("sh"))
    val shPlan = sh.queryExecution.executedPlan.toString
    assert(shPlan.contains("*(1) Project"), shPlan)
    assert(sh.selectExpr("size(sh)").as[Int].head() == 4)
    // natives whose generated code is one kernel call
    val id = col("id")
    val vec = array(id.cast("double"), lit(1.0))
    val toks = split(concat(lit("t"), id.cast("string"), lit(" u")), " ")
    Seq(
      GraftExtensions.cosineSim(vec, vec),
      GraftExtensions.dotProduct(vec, vec),
      GraftExtensions.mdMinhashSignature(toks, 4),
      GraftExtensions.mdBucketMargin(toks, Seq(0.5, -1.0)),
      GraftExtensions.mdDerivedMarginInt(toks, 8),
      GraftExtensions.simhash64(array(id, id * 3)),
      GraftExtensions.regexpGroups(id.cast("string"), "(\\d)(\\d)?"),
      GraftExtensions.spanHashes60(toks, 1),
      GraftExtensions.bigramHashes(toks),
      GraftExtensions.trigramHashes(toks),
      GraftExtensions.mdBandKeys(array(id, id, id * 3, id), 2)
    ).foreach { c =>
      val p = spark.range(100).select(c.as("x")).queryExecution.executedPlan.toString
      assert(p.contains("*(1) Project"), p)
    }
  }

  test("literal-only SQL args fail analysis cleanly, not with a CCE/NPE") {
    graft.functions.GraftExtensions.register(spark)
    val df = Seq(("abc-1", "(\\w+)-(\\d+)")).toDF("s", "p")
    // non-foldable pattern column
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      df.selectExpr("regexp_extract_groups(s, p)").collect()
    }
    assert(e1.getMessage.contains("pattern"), e1.getMessage)
    // null literal pattern
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      df.selectExpr("regexp_extract_groups(s, cast(null as string))").collect()
    }
    assert(e2.getMessage.toLowerCase.contains("null"), e2.getMessage)
    // non-foldable minhash n
    val e3 = intercept[org.apache.spark.sql.AnalysisException] {
      Seq((Seq("a", "b"), 4)).toDF("sh", "n")
        .selectExpr("md_minhash_signature(sh, n)").collect()
    }
    assert(e3.getMessage.contains("n"), e3.getMessage)
    // and the valid literal path still works
    val ok = df.selectExpr("regexp_extract_groups(s, '(\\\\w+)-(\\\\d+)') AS g")
      .selectExpr("g[0]", "g[1]").as[(String, String)].head()
    assert(ok == ("abc", "1"))
  }

  test("multi_match equals per-pattern contains on random samples") {
    val rnd = new scala.util.Random(23)
    val alphabet = "abc "
    def rand(n: Int) = (0 until n).map(_ => alphabet(rnd.nextInt(4))).mkString
    val patterns = (1 to 25).map(_ => rand(1 + rnd.nextInt(5))).distinct
      .filter(_.trim.nonEmpty)
    for (_ <- 1 to 40) {
      val text = rand(30 + rnd.nextInt(100))
      val got = Seq(text).toDF("t")
        .select(graft.ops.Text.multiMatch(col("t"), patterns))
        .head().getSeq[String](0)
      val want = patterns.filter(text.contains(_))
      assert(got == want, s"text [$text]")
    }
  }

  test("multi_match: overlapping patterns, shared prefixes, fail-link chains") {
    def m(text: String, ps: Seq[String]): Seq[String] =
      Seq(text).toDF("t")
        .select(graft.ops.Text.multiMatch(col("t"), ps)).head().getSeq[String](0)
    // the classic AC corpus: "she" must surface "he" via the fail link
    assert(m("ushers", Seq("he", "she", "his", "hers")) == Seq("he", "she", "hers"))
    assert(m("abc", Seq("ab", "b", "bc", "abc", "x")) == Seq("ab", "b", "bc", "abc"))
    assert(m("", Seq("a")) == Seq.empty)
    assert(m("aaa", Seq("aa")) == Seq("aa"))
    assert(m("zzz", Seq("a", "b")) == Seq.empty)
    // output preserves patterns order and dedups repeats
    assert(m("ababab", Seq("ba", "ab")) == Seq("ba", "ab"))
  }

  test("multi_match is SQL-registered and codegen-compatible") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT multi_match('the slow crash', array('slow', 'crash', 'x')) AS m")
      .head().getSeq[String](0)
    assert(r == Seq("slow", "crash"))
  }

  test("unicode_normalize: NFC/NFD/NFKC round-trips and the identity fast path") {
    def n(x: String, form: String): String =
      Seq(x).toDF("t")
        .select(graft.ops.Text.unicodeNormalize(col("t"), form)).head().getString(0)
    val decomposed = "e\u0301A\u0308" // e+combining acute, A+combining diaeresis
    assert(n(decomposed, "NFC") == "\u00e9\u00c4")
    assert(n("\u00e9", "NFD") == "e\u0301")
    assert(n("\ufb01le", "NFKC") == "file") // fi ligature decomposes under KC only
    assert(n("\ufb01le", "NFC") == "\ufb01le")
    assert(n("plain ascii", "NFC") == "plain ascii")
    // idempotence
    assert(n(n(decomposed, "NFC"), "NFC") == n(decomposed, "NFC"))
    GraftExtensions.register(spark)
    assert(spark.sql("SELECT unicode_normalize('e' || '\u0301', 'NFC') AS x")
      .head().getString(0) == "\u00e9")
  }

  test("multi_match dedups repeated blocklist entries") {
    val got = Seq("the slow path").toDF("t")
      .select(graft.ops.Text.multiMatch(col("t"), Seq("slow", "slow", "path")))
      .head().getSeq[String](0)
    assert(got == Seq("slow", "path"))
  }

  test("wordpiece_encode: empty word encodes as empty array, not [UNK] null") {
    val vocab = Seq("a", "##a")
    val rows = Seq("", "a", "b").toDF("w")
      .select(col("w"),
        GraftExtensions.wordpieceEncode(col("w"), typedLit(vocab), 6).as("wp"))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getSeq[String](1)))).toMap
    assert(rows("") == Some(Seq.empty))   // zero positions → zero pieces
    assert(rows("a") == Some(Seq("a")))
    assert(rows("b") == None)             // genuine [UNK]: no piece matches
  }

  test("vocab/pattern/cost arguments must be foldable literals") {
    // the reference-equality caches (HashSet / cost map / AC automaton)
    // are only caches for a per-task-constant argument — a per-row
    // column must be refused at analysis, not silently rebuilt per row
    val df = Seq(("ab", Seq("a", "b"))).toDF("w", "v")
    def analysisFails(f: => org.apache.spark.sql.DataFrame): Unit = {
      val e = intercept[Exception](f.queryExecution.analyzed)
      assert(e.getMessage.contains("foldable"), e.getMessage)
    }
    analysisFails(df.select(
      GraftExtensions.wordpieceEncode(col("w"), col("v"), 6)))
    analysisFails(df.select(
      GraftExtensions.multiMatch(col("w"), col("v"))))
    analysisFails(
      Seq(("ab", Map("a" -> 1.0))).toDF("w", "m").select(
        GraftExtensions.unigramViterbi(col("w"), col("m"), 6)))
    // literal arguments still analyze fine
    df.select(GraftExtensions.wordpieceEncode(
      col("w"), typedLit(Seq("a", "##b")), 6)).collect()
  }

  test("ivf_top_cells ranks by (rounded cosine desc, cid asc), nulls last") {
    val cids = Seq(0L, 1L, 2L, 3L, 4L)
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(1.0, 1.0),
      Seq(1.0, 0.0), Seq(1.0, 0.0, 0.0))
    def top(vec: Seq[Double], nProbe: Int): Seq[Long] =
      Seq(Tuple1(vec)).toDF("v")
        .select(GraftExtensions.ivfTopCells(col("v"), cids, cents,
          nProbe, simRound = 6).as("c"))
        .as[Seq[Long]].head()
    // cids 0 and 3 tie at cosine 1 (cid asc breaks it), then 2
    // (~0.7071), then 1 (0.0), then the length-mismatched cid 4 —
    // null similarity sorts after every real one
    assert(top(Seq(1.0, 0.0), nProbe = 5) == Seq(0L, 3L, 2L, 1L, 4L))
    assert(top(Seq(1.0, 0.0), nProbe = 2) == Seq(0L, 3L))
    // zero vector: every cosine is the guarded 0.0 -> pure cid order
    assert(top(Seq(0.0, 0.0), nProbe = 3) == Seq(0L, 1L, 2L))
    // null vector -> null result (documented difference from the HOF
    // form, which assigned null vectors to the lowest cids by accident)
    val nul = Seq(Tuple1(Option.empty[Seq[Double]])).toDF("v")
      .select(GraftExtensions.ivfTopCells(col("v"), cids, cents, 2, 6))
      .head()
    assert(nul.isNullAt(0))
  }

  /** The built-in form of [[Similarity.ivfAssign]]'s ranking, kept as
    * its reference: the packed centroid array crosses every row and an
    * `array_sort` with a lambda comparator (csim desc, cid asc, null
    * csim last) ranks it per row. */
  private def ivfAssignHof(df: org.apache.spark.sql.DataFrame, vecCol: String,
      centroids: org.apache.spark.sql.DataFrame, nProbe: Int,
      simRound: Int): org.apache.spark.sql.DataFrame = {
    def rank(c: org.apache.spark.sql.Column) =
      if (simRound >= 0) round(c, simRound) else c
    val packed = centroids.agg(collect_list(
      struct(col("centroid_id").as("cid"), col(vecCol).as("cv"))).as("__cents"))
    df.crossJoin(broadcast(packed))
      .withColumn("__cell", explode(slice(array_sort(
        transform(col("__cents"), c =>
          struct(rank(Similarity.cosine(col(vecCol), c.getField("cv"))).as("csim"),
            c.getField("cid").as("cid"))),
        (l, r) => {
          def cidOrd = when(l.getField("cid") < r.getField("cid"), -1)
            .when(l.getField("cid") > r.getField("cid"), 1)
            .otherwise(0)
          when(l.getField("csim").isNull && r.getField("csim").isNull, cidOrd)
            .when(l.getField("csim").isNull, 1)
            .when(r.getField("csim").isNull, -1)
            .when(l.getField("csim") > r.getField("csim"), -1)
            .when(l.getField("csim") < r.getField("csim"), 1)
            .otherwise(cidOrd)
        }), 1, nProbe)))
      .withColumn("centroid_id", col("__cell").getField("cid"))
      .drop("__cents", "__cell")
  }

  test("ivfAssign agrees with the built-in array_sort ranking across nProbe/simRound") {
    val pts = (0L until 60L).map { id =>
      (id, Seq.tabulate(8)(j => math.sin(id * 31.0 + j * 7.0).abs + 0.01))
    }.toDF("vec_id", "v")
    val cents = Similarity.kmeansCentroids(pts, "vec_id", "v",
      k = 5, iters = 2)
    for (np <- Seq(1, 2, 3); sr <- Seq(-1, 6)) {
      val hof = ivfAssignHof(pts, "v", cents, nProbe = np, simRound = sr)
        .select(col("vec_id"), col("centroid_id"))
        .as[(Long, Int)].collect().sorted.toSeq
      val assigned = Similarity.ivfAssign(pts, "v", cents,
          nProbe = np, simRound = sr)
      // centroid_id keeps the centroid table's type
      assert(assigned.schema("centroid_id").dataType ==
        cents.schema("centroid_id").dataType)
      val nat = assigned.select(col("vec_id"), col("centroid_id"))
        .as[(Long, Int)].collect().sorted.toSeq
      assert(nat == hof, s"nProbe=$np simRound=$sr")
    }
  }


  // shared fixture for the r19 n-gram key pins: unicode, empties,
  // single/two/three-token docs, repeated tokens, a null element
  // (split() never emits one, but the fold-skip semantics are part of
  // the pinned contract), and a longer natural-ish doc
  private val ngramFixture = Seq(
    Seq("the", "cat", "sat", "on", "the", "mat"),
    Seq("a"),
    Seq("a", "b"),
    Seq("a", "b", "c"),
    Seq.empty[String],
    Seq("", "x", ""),
    Seq("héllo", "wörld", "héllo", "wörld"),
    Seq("日本語", "トークン", "日本語"),
    Seq(null, "b", "c", null, "e"),
    ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do " +
      "eiusmod tempor incididunt ut labore").split(" ").toSeq)

  test("bigram_hashes agrees bit-for-bit with the composed xxhash64 columns") {
    val df = ngramFixture.toDF("toks")
    val composed = df.select(
        explode(graft.ops.Text.bigrams(col("toks"))).as("b"))
      .select(xxhash64(col("b.a"), col("b.b")),
        xxhash64(lit(1), col("b.a"), col("b.b")),
        xxhash64(col("b.a")), xxhash64(col("b.b")))
      .as[(Long, Long, Long, Long)].collect().toSeq
    val native = df.select(
        explode(GraftExtensions.bigramHashes(col("toks"))).as("b"))
      .select(col("b.h2"), col("b.h2b"), col("b.ha"), col("b.hb"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(native == composed)
    assert(composed.nonEmpty)
  }

  test("trigram_hashes agrees bit-for-bit with the composed xxhash64 columns") {
    val df = ngramFixture.toDF("toks")
    val composed = df.select(
        explode(graft.ops.Text.trigrams(col("toks"))).as("t"))
      .select(xxhash64(col("t.a"), col("t.b"), col("t.c")),
        xxhash64(lit(1), col("t.a"), col("t.b"), col("t.c")),
        xxhash64(col("t.a"), col("t.b")),
        xxhash64(lit(1), col("t.a"), col("t.b")),
        xxhash64(col("t.b"), col("t.c")),
        xxhash64(lit(1), col("t.b"), col("t.c")),
        xxhash64(col("t.b")), xxhash64(col("t.c")))
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    val native = df.select(
        explode(GraftExtensions.trigramHashes(col("toks"))).as("t"))
      .select(col("t.h3"), col("t.h3b"), col("t.hab"), col("t.habb"),
        col("t.hbc"), col("t.hbcb"), col("t.hb"), col("t.hc"))
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(native == composed)
    assert(composed.nonEmpty)
  }

  test("md_band_keys carries the exact md5 digest of the banded hex form") {
    val sigs = Seq(
      Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L),
      Seq(Long.MaxValue, 0L, -1L, 42L, 9L, 8L, 7L, 6L),
      Seq.tabulate(16)(i => i * 7919L - 3L))
    val df = sigs.toDF("cs")
    for (bands <- Seq(2, 4)) {
      val r = sigs.head.size / bands // lengths differ; recompute per row below
      val composed = df.select(posexplode(transform(
          sequence(lit(0), lit(bands - 1)), j =>
            md5(concat_ws(",", transform(
              slice(col("cs"), j * (size(col("cs")) / bands) + 1,
                size(col("cs")) / bands), _.cast("string"))))))
          .as(Seq("j", "hex")))
        .as[(Int, String)].collect().toSeq
      val native = df.select(explode(
          GraftExtensions.mdBandKeys(col("cs"), bands)).as("b"))
        .select(col("b.j"), col("b.b1"), col("b.b2"))
        .as[(Int, Long, Long)].collect().toSeq
      assert(native.size == composed.size)
      native.zip(composed).foreach { case ((jn, b1, b2), (jc, hex)) =>
        assert(jn == jc)
        // (b1, b2) are the digest's 16 bytes big-endian — re-render and
        // compare to the hex string the old composition shuffled
        assert(f"$b1%016x$b2%016x" == hex, s"band $jn")
      }
      assert(r >= 1)
    }
  }

  test("md_band_keys rejects a signature length not divisible by bands") {
    val df = Seq(Seq(1L, 2L, 3L)).toDF("cs")
    val e = intercept[Exception] {
      df.select(explode(GraftExtensions.mdBandKeys(col("cs"), 2)))
        .collect()
    }
    assert(e.getMessage != null)
  }

  test("bpe_merge_seq agrees bit-for-bit with the stacked HOF folds") {
    // adjacent runs ("a a a" under (a,a) -> [aa, a]), re-merge of a
    // MERGED symbol only by a LATER pair, unicode, empties, null
    // elements (append, never match), and the </w> marker
    val words = Seq(
      Seq("a", "a", "a"),
      Seq("a", "b", "a", "b"),
      Seq("l", "o", "w", "e", "r", "</w>"),
      Seq("\u00e9", "\u00e9", "x"),
      Seq.empty[String],
      Seq("b"),
      Seq("a", null, "b"),
      Seq(null, "a", "b")).map(Tuple1(_))
    val merges = Seq(("a", "a"), ("a", "b"), ("aa", "a"),
      ("\u00e9", "\u00e9"), ("l", "o"), ("lo", "w"), ("e", "r"),
      ("er", "</w>"))
    val df = words.toDF("syms")
    val hof = merges.foldLeft(col("syms")) { case (c, (a, b)) =>
      graft.ops.Bpe.applyMerge(c, a, b) }
    val out = df.select(hof.as("ref"),
        GraftExtensions.bpeMergeSeq(col("syms"), merges).as("native"))
      .as[(Seq[String], Seq[String])].collect()
    out.foreach { case (ref, native) => assert(native == ref) }
    assert(out.nonEmpty)
    // null array -> null out, both forms
    val nullDf = Seq(Tuple1(null.asInstanceOf[Seq[String]])).toDF("syms")
    val nulls = nullDf.select(hof.as("ref"),
        GraftExtensions.bpeMergeSeq(col("syms"), merges).as("native"))
      .as[(Seq[String], Seq[String])].collect()
    assert(nulls.head._1 == null && nulls.head._2 == null)
  }
}
