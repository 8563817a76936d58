package graft

import org.apache.spark.sql.functions._
import graft.ops.Text
import graft.functions.GraftExtensions

/** Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003): the native
  * WinnowMinima expression vs a brute-force HOF recomputation, the
  * winnowing coverage guarantee, degenerate inputs, and the candidate
  * pair generator. */
class WinnowSpec extends SparkSpec {
  import spark.implicits._

  private val Mod = 1000000007L

  /** Brute-force reference: per-gram polynomial fold + window minima. */
  private def reference(text: String, k: Int, w: Int): Seq[Long] = {
    val cps = text.codePoints().toArray
    val g = cps.length - k + 1
    if (g <= 0) return Seq.empty
    // same finalizing mix as WinnowMinima: the raw fold is order-
    // preserving in the leading code point for small k, which breaks
    // winnowing's random-selection assumption
    val hs = (0 until g).map { i =>
      cps.slice(i, i + k).foldLeft(0L)((acc, c) => (acc * 31 + c) % Mod) *
        2654435761L % Mod
    }
    val minima =
      if (g < w) Seq(hs.min)
      else (0 to g - w).map(j => hs.slice(j, j + w).min)
    minima.distinct.sorted
  }

  private def winnow(text: String, k: Int = 5, w: Int = 8): Seq[Long] =
    Seq(text).toDF("t")
      .select(GraftExtensions.winnowMinima(col("t"), k, w).as("fp"))
      .as[Seq[Long]].head()

  test("native expression matches the brute-force reference") {
    val rnd = new scala.util.Random(42)
    val texts = Seq.tabulate(30) { i =>
      val n = rnd.nextInt(60)
      (0 until n).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    } :+ "abracadabra abracadabra" :+ "mississippi"
    for (t <- texts; (k, w) <- Seq((5, 8), (3, 4), (2, 2)))
      assert(winnow(t, k, w) == reference(t, k, w), s"text='$t' k=$k w=$w")
  }

  test("degenerate inputs: empty, shorter than k, fewer grams than w") {
    assert(winnow("") == Seq.empty)
    assert(winnow("abcd") == Seq.empty) // 4 cps < k=5
    // 6 cps -> 2 grams < w=8: one window over all grams
    assert(winnow("abcdef") == reference("abcdef", 5, 8))
    assert(winnow("abcdef").size == 1)
  }

  test("non-BMP code points hash as single code points") {
    // 6 emoji (12 Java chars) = 6 code points -> 2 grams of 5 cps
    val t = "😀😁😂😃😄😅"
    assert(winnow(t) == reference(t, 5, 8))
    assert(winnow(t).nonEmpty)
  }

  test("winnowing guarantee: a shared run of >= w+k-1 chars shares a fingerprint") {
    // two texts share a 12-char run (= w+k-1 for k=5,w=8) amid unrelated
    // prefixes/suffixes: the window over that run selects the same
    // minimum in both docs
    val shared = "zqxjkvbwpfyg" // 12 chars, distinctive
    val a = winnow("aaaaaaa" + shared + "bbbbbbb")
    val b = winnow("ccccccc" + shared + "ddddddd")
    assert(a.toSet.intersect(b.toSet).nonEmpty)
  }

  test("local edit preserves fingerprints of untouched regions") {
    val body = "the quick brown fox jumps over the lazy dog and keeps running"
    val orig = winnow(body).toSet
    val edited = winnow("EDITED PREAMBLE " + body).toSet
    // every original fingerprint from the unchanged body survives the
    // prefix edit (new ones may appear at the seam)
    assert(orig.subsetOf(edited))
  }

  test("normalization folds case/punctuation before fingerprinting") {
    val a = Seq("Hello,  World! Again").toDF("t")
      .select(Text.winnowFingerprints(col("t"), 3, 2).as("fp")).as[Seq[Long]].head()
    val b = Seq("hello world again").toDF("t")
      .select(Text.winnowFingerprints(col("t"), 3, 2).as("fp")).as[Seq[Long]].head()
    assert(a == b && a.nonEmpty)
  }

  releasingTest("winnowPairs counts the fingerprint intersection, maxDf prunes hot grams") {
    val base = "some fairly long distinctive document body with many words in it"
    val docs = Seq(
      (1L, base),
      (2L, "prefix edit " + base),                 // near-dup of 1
      (3L, "totally unrelated content about spark catalyst plans here")
    ).toDF("id", "text")
    val pairs = Text.winnowPairs(docs, "id", "text",
        k = 5, w = 4, maxDf = 10, minShared = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L))
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L))
    // the reported count is exactly |fp(1) ∩ fp(2)| (no df cap binds here)
    val f1 = Seq(base).toDF("t").select(Text.winnowFingerprints(col("t"), 5, 4).as("f")).as[Seq[Long]].head().toSet
    val f2 = Seq("prefix edit " + base).toDF("t").select(Text.winnowFingerprints(col("t"), 5, 4).as("f")).as[Seq[Long]].head().toSet
    val n = pairs.find(p => p._1 == 1L && p._2 == 2L).get._3
    assert(n == f1.intersect(f2).size)
    // maxDf = 1 drops every shared fingerprint -> no pairs at all
    val none = Text.winnowPairs(docs, "id", "text",
      k = 5, w = 4, maxDf = 1, minShared = 1).count()
    assert(none == 0L)
  }

  releasingTest("winnowDedupE2e: verify gate keeps true copies, cuts partial overlaps") {
    // deterministic lowercase-alnum corpus (normalize() is identity here)
    val rnd = new scala.util.Random(7)
    def blob(n: Int): String =
      (0 until n).map(_ => if (rnd.nextInt(5) == 0) ' '
        else ('a' + rnd.nextInt(26)).toChar).mkString
        .replaceAll(" +", " ").trim
    val a = blob(300)
    val unrelated = blob(300)
    val shared = blob(60)   // long enough for >= minShared shared fps
    val docs = Seq(
      (1L, a),
      (2L, unrelated),
      (3L, "zzz edited prefix " + a),   // true near-dup of 1
      (4L, shared + " " + blob(400)),   // candidates via the shared run,
      (5L, shared + " " + blob(400))    // but mostly different content
    ).toDF("id", "text")
    val out = Text.winnowDedupE2e(docs, "id", "text",
        k = 5, w = 8, maxDf = 10, minShared = 3, minJacPct = 50)
      .as[(Long, Long, Long, Int)].collect()
    // exactly one cluster: {1, 3}; 4-5's partial overlap is a CANDIDATE
    // (shared run >= w+k-1 guarantees shared fingerprints) that the
    // exact-Jaccard verify cuts
    assert(out.length == 1, s"expected one cluster: ${out.toSeq}")
    val (cluster, size, keeper, _) = out.head
    assert(cluster == 1L && size == 2L)
    assert(keeper == 3L, "keeper is the longer member (edited copy)")
    // sanity: 4-5 WAS a candidate (the gate did the cutting, not the
    // candidate stage)
    val cands = Text.winnowPairs(docs, "id", "text",
      k = 5, w = 8, maxDf = 10, minShared = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(cands.exists(p => p._1 == 4L && p._2 == 5L),
      s"4-5 must reach the verify stage: $cands")
    // and at a permissive gate the partial overlap survives — the
    // threshold is doing the work
    val loose = Text.winnowDedupE2e(docs, "id", "text",
      k = 5, w = 8, maxDf = 10, minShared = 3, minJacPct = 1)
    assert(loose.count() == 2, "jacPct=1 keeps both candidate clusters")
  }

  test("SQL registration: winnow_minima callable from spark.sql") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT winnow_minima('abracadabra abracadabra', 5, 8) AS fp")
      .as[Seq[Long]].head()
    assert(r == reference("abracadabra abracadabra", 5, 8))
  }
}
