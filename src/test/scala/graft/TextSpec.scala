package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.ops.Text

class TextSpec extends SparkSpec {
  import spark.implicits._

  private val docA = "the quick brown fox jumps over the lazy dog again and again today"
  private val docB = "the quick brown fox jumps over the lazy dog again and again tomorrow"
  private val docC = "completely different words about spark catalyst optimizer plans"

  /** Jaccard estimate from two MinHash signatures: the fraction of
    * agreeing components. */
  private def agreement(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), _ + _).cast("double") / size(a)

  test("fingerprint is stable under case/punctuation/whitespace noise") {
    val df = Seq(
      ("a", "Hello,  World! 42"),
      ("b", "hello world 42"),
      ("c", "other text")).toDF("id", "text")
    val fps = df.select(col("id"), Text.fingerprint(col("text")).as("fp"))
      .as[(String, String)].collect().toMap
    assert(fps("a") == fps("b"))
    assert(fps("a") != fps("c"))
  }

  test("wordShingles builds k-grams, short docs give one partial shingle") {
    val df = Seq("a b c d", "x y").toDF("text")
    val out = df.select(Text.wordShingles(Text.tokens(col("text")), 3).as("sh"))
      .as[Seq[String]].collect()
    assert(out(0) == Seq("a b c", "b c d"))
    assert(out(1) == Seq("x y"))
  }

  test("minhash jaccard estimate tracks exact jaccard") {
    val df = Seq(("a", docA), ("b", docB), ("c", docC)).toDF("id", "text")
    val withSig = df.select(col("id"),
      array_distinct(Text.wordShingles(Text.tokens(col("text")), 2)).as("sh"))
      .select(col("id"), col("sh"),
        graft.functions.GraftExtensions.mdMinhashSignature(col("sh"), 128).as("sig"))
    val a = withSig.filter(col("id") === "a").select("sh", "sig")
      .withColumnRenamed("sh", "sha").withColumnRenamed("sig", "siga")
    val rest = withSig.filter(col("id") =!= "a")
    val cmp = rest.crossJoin(a)
      .select(col("id"),
        Text.jaccard(col("sh"), col("sha")).as("exact"),
        agreement(col("sig"), col("siga")).as("est"))
      .as[(String, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val (exactB, estB) = cmp("b")
    val (exactC, estC) = cmp("c")
    assert(exactB > 0.7)                      // near-dup pair
    assert(math.abs(estB - exactB) < 0.15)    // estimate within ~1/sqrt(128)*2
    assert(exactC == 0.0 && estC < 0.1)       // disjoint pair
  }

  test("mdCandidatePairs surfaces the near-dup pair, not the disjoint one") {
    val df = Seq((1L, docA), (2L, docB), (3L, docC)).toDF("doc_id", "text")
    val pairs = graft.ops.Curation.mdCandidatePairs(df, "doc_id", "text",
      shingleK = 2, numHashes = 32, bands = 16)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("mdCandidatePairs drops a saturated LSH bucket (maxBucketSize guard)") {
    // adversarial density: 40 byte-identical boilerplate docs all hash to
    // the SAME bucket in every band. With maxBucketSize = 20 the guard
    // must drop that bucket outright — the 40·39/2 = 780 quadratic pairs
    // never materialize (accepted recall loss: identical boilerplate is
    // exact-dedup's job, not minhash's) — while the genuine near-dup pair
    // in healthy buckets still surfaces.
    val boiler = (100L until 140L).map(i =>
      (i, "boilerplate header terms of service apply to all documents here"))
    val df = (Seq((1L, docA), (2L, docB), (3L, docC)) ++ boiler)
      .toDF("doc_id", "text")
    val pairs = graft.ops.Curation.mdCandidatePairs(df, "doc_id", "text",
      shingleK = 2, numHashes = 32, bands = 16, maxBucketSize = 20)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => a >= 100L && b >= 100L },
      "saturated-bucket pairs must be dropped by the maxBucketSize guard")
    // fan-out bound: every surviving bucket has ≤ maxBucketSize ids, so
    // the candidate set stays far below the quadratic blow-up
    assert(pairs.size < 40 * 39 / 2)
  }

  test("simhash: near-dup docs land within small hamming distance") {
    val df = Seq(("a", docA), ("b", docB), ("c", docC)).toDF("id", "text")
    val hashes = df.select(col("id"),
      graft.functions.GraftExtensions.simhash64(
        transform(Text.tokens(col("text")), t => xxhash64(t))).as("sh"))
      .as[(String, Long)].collect().toMap
    val near = java.lang.Long.bitCount(hashes("a") ^ hashes("b"))
    val far = java.lang.Long.bitCount(hashes("a") ^ hashes("c"))
    assert(near < 16, s"near-dup hamming $near should be small")
    assert(far > near, s"disjoint hamming $far should exceed near-dup $near")
  }

  test("qualityMetrics flags degenerate docs") {
    val df = Seq(
      ("good", docA),
      ("short", "tiny doc"),
      ("longwords", "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa " * 12))
      .toDF("id", "text")
    val keep = df.select(col("id"),
      Text.qualityMetrics(col("text"), Seq("the", "a")).getField("keep").as("k"))
      .as[(String, Boolean)].collect().toMap
    assert(keep("good"))
    assert(!keep("short"))      // < 10 tokens
    assert(!keep("longwords"))  // avg token length > 12
  }

  test("langIdScore argmax picks the dominant marker family") {
    val df = Seq(
      ("d1", "data data table row row other"),
      ("d2", "query filter join join filter words")).toDF("id", "text")
    val markers = Seq(
      "dataish" -> Seq("data", "table", "row"),
      "queryish" -> Seq("query", "filter", "join"))
    val out = df.select(col("id"), Text.langIdScore(col("text"), markers).as("l"))
      .as[(String, String)].collect().toMap
    assert(out == Map("d1" -> "dataish", "d2" -> "queryish"))
  }

  test("redact scrubs emails, IPs and digit runs in rule order") {
    val df = Seq(
      "reach bob.smith+x@corp.example.org or 10.20.30.40 acct 123456789",
      "short 123456 stays, 1234567 goes",
      "no pii here").toDF("text")
    val out = df.select(Text.redact(col("text"), Text.defaultPiiRules).as("r"))
      .as[String].collect().toSeq
    assert(out == Seq(
      "reach <EMAIL> or <IP> acct <NUM>",
      "short 123456 stays, <NUM> goes",   // 6 digits under the 7+ rule
      "no pii here"))
  }

  test("repetitionRatio scores looped text high and varied text zero") {
    val df = Seq(
      ("loop", "spam spam spam spam spam spam spam spam"),
      ("varied", "eight distinct words appear exactly once here now")).toDF("id", "text")
    val out = df.select(col("id"),
      Text.repetitionRatioOfShingles(
        Text.wordShingles(Text.tokens(col("text")), 2)).as("r"))
      .as[(String, Double)].collect().toMap
    assert(out("varied") == 0.0)
    assert(out("loop") > 0.8)   // 7 bigrams, 1 distinct → 6/7
  }

  test("bloom prefilter: no false negatives, bounded false positives, " +
      "empty build side matches nothing") {
    val all = (1 to 400).map(i => s"item_$i").toDF("v")
    val members = all.filter(xxhash64(col("v")) % 5 === 0)
    val memberSet = members.as[String].collect().toSet
    assert(memberSet.nonEmpty)
    val bloom = Text.bloomBytes(members, "v",
      expectedItems = 1000L, numBits = 16384L)
    val survivors = all.filter(Text.bloomMightContain(bloom, col("v")))
      .as[String].collect().toSet
    // a Bloom filter never drops a true member
    assert(memberSet.subsetOf(survivors))
    // and at 16k bits / ~80 items the fp leakage stays small
    assert(survivors.size <= memberSet.size + 20)
    // empty build side → null filter → the probe filter drops every row,
    // mirroring an empty join build side
    val nullBloom = Text.bloomBytes(members.filter(lit(false)), "v",
      expectedItems = 1000L, numBits = 16384L)
    assert(nullBloom == null)
    assert(all.filter(Text.bloomMightContain(nullBloom, col("v"))).count() == 0L)
  }

  test("tfidf: top-k terms per document (values pinned)") {
    val docs = Seq(
      (1L, "alpha beta gamma alpha alpha shared"),
      (2L, "beta gamma delta shared shared tail"),
      (3L, "epsilon zeta eta theta iota shared")).toDF("doc_id", "text")
    val plain = Text.tfidf(docs, "doc_id", "text", topK = 3)
      .as[(Long, String, Double, Int)].collect().toSet
    assert(plain.nonEmpty)
    // rank-1 term for doc 1 is its thrice-repeated distinctive token
    assert(plain.exists { case (d, t, _, rk) => d == 1L && t == "alpha" && rk == 1 })
  }

  test("signed-zero normalization: rounded degenerate aggregates are bit-positive zero") {
    // The r13 t_heaps_law flake class: a float aggregate of signed terms
    // that truly equals zero (saturated vocab ⇒ β = 0) can surface as
    // -0.0 under one summation order and +0.0 under another; DuckDB
    // always prints 0.0, so the hash is not engine-portable. The fix is
    // `round(...) + lit(0)` (IEEE: -0.0 + 0.0 = +0.0). Pin the operator
    // on an explicit -0.0 input — NOT a literal, so no constant-folding
    // shortcut — and bit-check via 1/x == +Inf.
    val negZero = Seq(-0.0, -4.9e-5, 4.9e-5).toDF("x")
      .select((round(col("x"), 4) + lit(0)).as("z"))
      .as[Double].collect()
    negZero.foreach { z =>
      assert(z == 0.0, s"round+0 must land on the zero grid, got $z")
      assert(1.0 / z == Double.PositiveInfinity,
        s"normalized zero must be bit-positive, got 1/z = ${1.0 / z}")
    }

    // End-to-end: the saturated smoke fixture drives t_heaps_law's true
    // β to exactly 0 — the emitted value must never be -0.0.
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    assume(new java.io.File(dir).exists, s"smoke testdata missing at $dir")
    val betas = SparkEntry.queries("t_heaps_law")(spark, dir)
      .select("beta").as[Double].collect()
    assert(betas.nonEmpty)
    betas.foreach { b =>
      assert(b != 0.0 || 1.0 / b == Double.PositiveInfinity,
        s"t_heaps_law emitted a signed zero: $b")
    }
    val slopes = SparkEntry.queries("t_zipf_slope")(spark, dir)
      .select("zipf_slope").as[Double].collect()
    slopes.foreach { s0 =>
      assert(s0 != 0.0 || 1.0 / s0 == Double.PositiveInfinity,
        s"t_zipf_slope emitted a signed zero: $s0")
    }
  }
}
