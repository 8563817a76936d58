package graft

import org.apache.spark.sql.functions._
import graft.ops.{Curation, Linkage, Quantization, Retrieval, Text}

/** Wave-8 operators: BM25 retrieval, scalar (SQ8) quantization, URL
  * canonicalization, per-host caps. Hand-computed oracles on tiny
  * inputs; the DuckDB hash-compare covers sf-scale.
  */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  // ---- df-cut sparse cosine ----------------------------------------------

  releasingTest("sparseCosinePairs: hand-computed cosine, df-cut drops ubiquitous terms from the dot") {
    // shingleK=1 → terms are single tokens. N=4 docs.
    //   d1: x x y     d2: x x y     d3: x z      d4: q r
    // df: x=3, y=2, z=1, q=1, r=1. idf = ln(4/df).
    val docs = Seq(
      (1L, "x x y"), (2L, "x x y"), (3L, "x z"), (4L, "q r"))
      .toDF("doc_id", "text")
    def run(maxDf: Int) = Retrieval.sparseCosinePairs(
        docs, "doc_id", "text", shingleK = 1, maxDf = maxDf, minCos = 0.0)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    // no cut (maxDf=4): d1 and d2 are identical vectors → cos = 1
    val full = run(4)
    assert(full((1L, 2L)) == 1.0)
    // d1·d3 shares only x; hand value:
    //   wx = 2·ln(4/3), wy = ln 2 (d1); d3: wx' = ln(4/3), wz = ln 4
    val wx = 2 * math.log(4.0 / 3); val wy = math.log(2.0)
    val wx3 = math.log(4.0 / 3); val wz = math.log(4.0)
    val expect13 = wx * wx3 /
      (math.sqrt(wx * wx + wy * wy) * math.sqrt(wx3 * wx3 + wz * wz))
    assert(math.abs(full((1L, 3L)) - expect13) < 5e-5)
    // disjoint docs never pair
    assert(!full.contains((1L, 4L)) && !full.contains((3L, 4L)))
    // df-cut at 2: x (df=3) leaves the DOT but stays in the norms —
    // d1·d2 now shares only y, and the score shrinks strictly
    val cut = run(2)
    assert(cut((1L, 2L)) < full((1L, 2L)) && cut((1L, 2L)) > 0.0)
    val expectCutY = wy * wy / (wx * wx + wy * wy)
    assert(math.abs(cut((1L, 2L)) - expectCutY) < 5e-5)
    // d1–d3's only shared term was cut → pair disappears entirely
    assert(!cut.contains((1L, 3L)))
  }

  // ---- BM25 ---------------------------------------------------------------

  test("bm25TopK: hand-computed scores, rank and tie order") {
    // corpus: N=3, dl = 4,2,2, avgdl = 8/3
    val docs = Seq(
      (1L, "a b a c"),
      (2L, "a d"),
      (3L, "d d")).toDF("doc_id", "text")
    val out = Retrieval.bm25TopK(docs, "doc_id", "text",
        Seq("q" -> Seq("a")), topK = 3)
      .orderBy("rank").as[(String, Long, Int, Double)].collect().toSeq
    // df(a)=2; idf = ln(1 + (3-2+0.5)/(2+0.5)) = ln(1.6)
    // doc1: tf=2, dl=4: ln(1.6)*2*2.2/(2+1.2*(0.25+0.75*4/(8/3))) = 0.5672
    // doc2: tf=1, dl=2: ln(1.6)*1*2.2/(1+1.2*(0.25+0.75*2/(8/3))) = 0.5384
    def score(tf: Double, dl: Double): Double = {
      val idf = math.log(1.0 + (3.0 - 2.0 + 0.5) / (2.0 + 0.5))
      val d = idf * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / (8.0 / 3.0))))
      BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(out == Seq(
      ("q", 1L, 1, score(2, 4)),
      ("q", 2L, 2, score(1, 2))))
  }

  test("bm25TopK: doc without any query term is absent; topK truncates") {
    val docs = Seq(
      (1L, "x y"), (2L, "x z"), (3L, "w w"), (4L, "x x x")).toDF("doc_id", "text")
    val out = Retrieval.bm25TopK(docs, "doc_id", "text",
        Seq("q" -> Seq("x")), topK = 2)
      .select("doc_id").as[Long].collect().toSet
    assert(!out.contains(3L) && out.size == 2)
  }

  test("bm25TopK: rarer term dominates via idf across two query terms") {
    // 'rare' in 1 of 4 docs, 'common' in all 4 — the rare-term doc must
    // outrank docs with only the common term
    val docs = Seq(
      (1L, "common rare"), (2L, "common common"),
      (3L, "common a"), (4L, "common b")).toDF("doc_id", "text")
    val top = Retrieval.bm25TopK(docs, "doc_id", "text",
        Seq("q" -> Seq("rare", "common")), topK = 1)
      .select("doc_id").as[Long].head()
    assert(top == 1L)
  }

  releasingTest("bm25TopK: persisted tf equals the unpersisted plan") {
    val docs = Seq((1L, "a b a c"), (2L, "a d"), (3L, "d d"))
      .toDF("doc_id", "text")
    val qs = Seq("q" -> Seq("a", "d"))
    val plain = Retrieval.bm25TopK(docs, "doc_id", "text", qs, topK = 3)
      .orderBy("query_id", "rank").collect().toSeq
    val fast = Retrieval.bm25TopK(docs, "doc_id", "text", qs, topK = 3,
      persist = true)
    assert(fast.orderBy("query_id", "rank").collect().toSeq == plain)
  }

  // ---- SQ8 ----------------------------------------------------------------

  test("sqTrain/sqEncode: min→0, max→255, constant dim→0, codes bounded") {
    val df = Seq(
      (1L, Seq(0.0f, 5.0f, 7.0f)),
      (2L, Seq(10.0f, 5.0f, 3.0f)),
      (3L, Seq(2.5f, 5.0f, 4.0f))).toDF("vec_id", "embedding")
    val st = Quantization.sqTrain(df, "embedding").orderBy("pos").collect()
    val lo = st.map(_.getDouble(1)).toSeq
    val step = st.map(_.getDouble(2)).toSeq
    assert(lo == Seq(0.0, 5.0, 3.0))
    assert(step(1) == 0.0) // constant dimension
    val codes = df.orderBy("vec_id")
      .select(Quantization.sqEncode(col("embedding"), lo, step))
      .as[Seq[Int]].collect().toSeq
    assert(codes(0) == Seq(0, 0, 255)) // mins → 0 (const dim → 0), max → 255
    assert(codes(1) == Seq(255, 0, 0))
    // 2.5 of [0,10] → 63.75 → round-half-up 64; 4.0 of [3,7] → 63.75 → 64
    assert(codes(2) == Seq(64, 0, 64))
    assert(codes.flatten.forall(c => c >= 0 && c <= 255))
  }

  test("sqDot: dequantized dot reconstructs within step/2 per dimension") {
    val df = Seq(
      (1L, Seq(0.0f, 1.0f)), (2L, Seq(4.0f, 3.0f)), (3L, Seq(2.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val st = Quantization.sqTrain(df, "embedding").orderBy("pos").collect()
    val lo = st.map(_.getDouble(1)).toSeq
    val step = st.map(_.getDouble(2)).toSeq
    val probe = Seq(1.0, 1.0)
    val got = df.filter(col("vec_id") === 2)
      .select(Quantization.sqDot(
        Quantization.sqEncode(col("embedding"), lo, step), probe, lo, step))
      .as[Double].head()
    val exact = 4.0 * 1.0 + 3.0 * 1.0
    val bound = step.map(_ / 2).sum // |probe_i| = 1
    assert(math.abs(got - exact) <= bound + 1e-9)
  }

  // ---- URL canonicalization ----------------------------------------------

  private def norm(u: String): (String, String) = {
    val r = Seq(u).toDF("u")
      .select(Text.urlHost(col("u")), Text.normalizeUrl(col("u"))).head
    (r.getString(0), r.getString(1))
  }

  test("normalizeUrl: case, www, default port, fragment, tracking params") {
    assert(norm("HTTPS://WWW.Ex.COM:443/A/b/?utm_source=x&id=3&ref=r#f") ==
      ("ex.com", "https://ex.com/A/b?id=3"))
  }

  test("normalizeUrl: http default port, param order preserved") {
    assert(norm("http://ex.com:80/p?b=2&a=1") ==
      ("ex.com", "http://ex.com/p?b=2&a=1"))
  }

  test("normalizeUrl: non-default port kept; trailing slashes collapse") {
    assert(norm("HTTP://Ex.Com:8080/news///") ==
      ("ex.com:8080", "http://ex.com:8080/news"))
  }

  test("normalizeUrl: root path survives as /; empty query dropped") {
    assert(norm("https://ex.com/") == ("ex.com", "https://ex.com/"))
    assert(norm("https://ex.com") == ("ex.com", "https://ex.com/"))
    assert(norm("https://ex.com/?utm_source=x") == ("ex.com", "https://ex.com/"))
  }

  test("normalizeUrl: path case is preserved, only scheme+host lowercase") {
    assert(norm("HTTPS://EX.COM/CamelCase/Path")._2 ==
      "https://ex.com/CamelCase/Path")
  }

  // ---- domain cap ---------------------------------------------------------

  test("domainCapFlags: per-host cap, deterministic hash rank") {
    val df = (1L to 20L).map(i => (i, s"h${i % 2}")).toDF("doc_id", "host")
    val out = Curation.domainCapFlags(df, "host", "doc_id", cap = 3, "s0")
    val kept = out.filter(col("kept")).groupBy("host").count()
      .as[(String, Long)].collect().toMap
    assert(kept == Map("h0" -> 3L, "h1" -> 3L))
    // rank is a permutation of 1..n per host
    val rks = out.filter(col("host") === "h0").select("rk")
      .as[Int].collect().toSeq.sorted
    assert(rks == (1 to 10).toSeq)
    // deterministic across recomputation
    val again = Curation.domainCapFlags(df, "host", "doc_id", cap = 3, "s0")
      .filter(col("kept")).select("doc_id").as[Long].collect().toSet
    val first = out.filter(col("kept")).select("doc_id").as[Long].collect().toSet
    assert(again == first)
  }

  test("domainCapFlags: under-cap host keeps everything") {
    val df = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("doc_id", "host")
    val out = Curation.domainCapFlags(df, "host", "doc_id", cap = 5, "s0")
    assert(out.filter(col("kept")).count() == 3)
  }

  // ---- blocked fuzzy join -------------------------------------------------

  test("charGrams: n-q+1 positions, duplicates collapsed") {
    val out = Seq("ababa").toDF("s")
      .select(Linkage.charGrams(col("s"), 3)).as[Seq[String]].head()
    assert(out == Seq("aba", "bab")) // 3 positions, 2 distinct
  }

  test("charGrams: strings shorter than q yield the whole value, not a throw") {
    // sequence(1, len-q+1) with a positive step throws on stop < start —
    // one 2-char name must not kill a 150k-record linkage job
    val out = Seq("ab", "a", "abcd").toDF("s")
      .select(Linkage.charGrams(col("s"), 4)).as[Seq[String]].collect().toSeq
    assert(out == Seq(Seq("ab"), Seq("a"), Seq("abcd")))
  }

  test("fuzzyJoinBlocked: short dirty names match without crashing the job") {
    val clean = Seq((1L, "Jo"), (2L, "Acme Corp")).toDF("c_id", "c_name")
    val dirty = Seq((10L, "Jo"), (20L, "Acme Crop")).toDF("d_id", "d_name")
    val out = Linkage.fuzzyJoinBlocked(dirty, clean, "d_id", "d_name",
        "c_id", "c_name", q = 4, maxDf = 10, maxDist = 2)
      .orderBy("d_id").as[(Long, Long, Int, Long)].collect().toSeq
    assert(out.map(t => (t._1, t._2)) == Seq((10L, 1L), (20L, 2L)))
  }

  test("fuzzyJoinBlocked: finds single-edit matches, best by lev then id") {
    val clean = Seq((1L, "Acme Corp"), (2L, "Beta LLC"), (3L, "Acme Group"))
      .toDF("c_id", "c_name")
    val dirty = Seq((10L, "Acme Crop"), (20L, "Beta LLCX"), (30L, "Zzzz Qqqq"))
      .toDF("d_id", "d_name")
    val out = Linkage.fuzzyJoinBlocked(dirty, clean, "d_id", "d_name",
        "c_id", "c_name", q = 3, maxDf = 10, maxDist = 2)
      .orderBy("d_id").as[(Long, Long, Int, Long)].collect().toSeq
    // "Acme Crop" ↔ "Acme Corp" lev 2 (transposition); no-match row absent
    assert(out.map(t => (t._1, t._2, t._3)) ==
      Seq((10L, 1L, 2), (20L, 2L, 1)))
  }

  test("fuzzyJoinBlocked: stop-gram prune kills the universal prefix block") {
    // every name shares the 'Customer#' prefix — with maxDf=2 those
    // grams leave the index, and only tail-gram neighbors survive as
    // candidates; the n_cands column proves no cross join happened
    val clean = (1 to 9).map(i => (i.toLong, f"Customer#00$i%02d"))
      .toDF("c_id", "c_name")
    val dirty = Seq((101L, "Customer#0005X")).toDF("d_id", "d_name")
    val out = Linkage.fuzzyJoinBlocked(dirty, clean, "d_id", "d_name",
        "c_id", "c_name", q = 4, maxDf = 2, maxDist = 2)
      .as[(Long, Long, Int, Long)].collect().toSeq
    assert(out.map(t => (t._1, t._2)) == Seq((101L, 5L)))
    assert(out.head._4 < 9) // verified candidates strictly under all-pairs
  }

  test("fuzzyJoinBlocked: maxDist excludes far pairs entirely") {
    val clean = Seq((1L, "aaaaaa")).toDF("c_id", "c_name")
    val dirty = Seq((9L, "aaabbb")).toDF("d_id", "d_name")
    val out = Linkage.fuzzyJoinBlocked(dirty, clean, "d_id", "d_name",
      "c_id", "c_name", q = 3, maxDf = 10, maxDist = 2)
    assert(out.isEmpty) // lev 3 > maxDist even though grams collide
  }

  releasingTest("corpus-relative maxDf defaults equal the calibrated floor at small scale") {
    import spark.implicits._
    // below the frac knee every auto path resolves to its floor (= the
    // old explicit default), so default-vs-explicit must be identical —
    // the regime every existing fixture lives in; the scale regime was
    // measured on 10x/30x/100x copies of sf0.1 (winnow 146 clusters at
    // each, fuzzy 360k matches at 30x where fixed-25 returns 0)
    val clean = Seq((1L, "Customer#000000001"), (2L, "Customer#000000002"),
      (3L, "Supplier#000000009")).toDF("c_id", "c_name")
    val dirty = Seq((10L, "Customer#00000001"), (11L, "Suplier#000000009"))
      .toDF("d_id", "d_name")
    val auto = Linkage.fuzzyJoinBlocked(dirty, clean, "d_id", "d_name",
      "c_id", "c_name", q = 4, maxDist = 2)
      .as[(Long, Long, Int, Long)].collect().toSet
    val explicit = Linkage.fuzzyJoinBlocked(dirty, clean, "d_id", "d_name",
      "c_id", "c_name", q = 4, maxDf = 25, maxDist = 2)
      .as[(Long, Long, Int, Long)].collect().toSet
    assert(auto == explicit && auto.nonEmpty)
    val docs = Seq((1L, "x x y"), (2L, "x x y"), (3L, "x z"))
      .toDF("doc_id", "text")
    val autoCos = Retrieval.sparseCosinePairs(docs, "doc_id", "text",
      shingleK = 1, minCos = 0.0).as[(Long, Long, Double)].collect().toSet
    val explCos = Retrieval.sparseCosinePairs(docs, "doc_id", "text",
      shingleK = 1, maxDf = 25, minCos = 0.0)
      .as[(Long, Long, Double)].collect().toSet
    assert(autoCos == explCos && autoCos.nonEmpty)
    // corpusDocs supplied skips the count() but must resolve identically
    val supplied = Retrieval.sparseCosinePairs(docs, "doc_id", "text",
      shingleK = 1, minCos = 0.0, corpusDocs = 3L)
      .as[(Long, Long, Double)].collect().toSet
    assert(supplied == autoCos)
    val contAuto = graft.ops.Text.containmentPairs(docs, "doc_id", "text",
      k = 1, minContain = 0.4).as[(Long, Long, Long, Double)].collect().toSet
    val contExpl = graft.ops.Text.containmentPairs(docs, "doc_id", "text",
      k = 1, minContain = 0.4, maxDf = 1000)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(contAuto == contExpl && contAuto.nonEmpty)
    val winAuto = graft.ops.Text.winnowPairs(docs, "doc_id", "text",
      k = 2, w = 2, minShared = 1).as[(Long, Long, Long)].collect().toSet
    val winExpl = graft.ops.Text.winnowPairs(docs, "doc_id", "text",
      k = 2, w = 2, maxDf = 20, minShared = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(winAuto == winExpl && winAuto.nonEmpty)
  }
}
