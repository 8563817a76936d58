package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.Measure.consume
import graft.ops.{Graph, Preference, Similarity, Text}

/** Volume and equality guards of the scale pipelines, run at spec scale
  * on the X = 2 [[ScaleFixture]] of the smoke sf (1,000 docs, 1,000
  * vectors, 2,000 events, every base row present twice). Each case pins
  * the property a pipeline must keep as the corpus grows: candidates
  * stay bucket-bounded, replicated corpora yield real output, stored
  * and incremental models equal the one-shot fit. */
class ScaleGuardSpec extends SparkSpec {
  import spark.implicits._

  private def table(name: String): DataFrame = {
    assume(new java.io.File(ScaleFixtures.sfDir).exists,
      s"smoke testdata missing at ${ScaleFixtures.sfDir}")
    core.Tables(spark, ScaleFixtures.x2, name)
  }
  private def docs = table("documents")
  private def vectors = table("embeddings")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
  /** Appends a marker of the ORIGINAL doc id, so the copies of one doc
    * share rare grams while the templated bulk exercises the df prune. */
  private def marked = docs.withColumn("text", concat(col("text"), lit(" zq"),
    (col("doc_id") % ScaleFixture.KeyStride).cast("string"), lit("xq")))

  private def bucketPairs(probe: DataFrame, banded: DataFrame): Long =
    probe.join(banded.select(col("band"), col("bucket"), col("vec_id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct().count()

  test("ANN candidate generators stay two orders below all-pairs") {
    val e = vectors
    val nVec = e.count()
    val allPairs = nVec * nVec / 2
    def banded(bits: Int, bandBits: Int) = e.select(col("vec_id"),
        explode(Similarity.lshBands(col("v"),
          Similarity.portablePlanes(nBits = bits, dim = 64), bandBits)).as("bb"))
      .select(col("bb.band").as("band"), col("bb.bucket").as("bucket"),
        col("vec_id"))
    def exact(b: DataFrame) = bucketPairs(
      b.select(col("band"), col("bucket"), col("vec_id").as("id_a")), b)
    // fixed knobs: 2 bands of 8 bits
    val fixed = exact(banded(16, 8))
    assert(fixed < allPairs / 50, s"fixed knobs: $fixed of $allPairs")
    // the production sizing rules, calibrated at a third of the corpus
    // (the 30x-over-10x ratio) so they pick their scaled configurations
    val ref = nVec / 3
    val (bb, _) = Similarity.lshKnobsForScale(nVec, ref)
    val scaled = exact(banded(2 * bb, bb))
    assert(scaled < allPairs / 50, s"scaled knobs: $scaled of $allPairs")
    val (bb2, nBands) = Similarity.lshKnobsForScale(nVec, ref,
      borderlineCos = 0.35)
    val bands = exact(banded(nBands * bb2, bb2))
    assert(bands < allPairs / 50, s"scaled bits+bands: $bands of $allPairs")
    val (pb, pBands, flips) = Similarity.probeKnobsForScale(nVec, ref,
      borderlineCos = 0.35)
    val pb0 = banded(pBands * pb, pb)
    val probed = bucketPairs(pb0.select(col("band"), col("vec_id").as("id_a"),
      explode(Similarity.hamming1Probes(col("bucket"), bits = pb,
        flips = flips)).as("bucket")), pb0)
    assert(probed < allPairs / 50, s"multi-probe: $probed of $allPairs")
  }

  test("IVF cell candidates stay within the constant-cell linear bound") {
    val e = vectors
    val nVec = e.count()
    val (k, nProbe) = Similarity.ivfKnobsForScale(nVec)
    val cents = Similarity.kmeansCentroids(e, "vec_id", "v", k = k, iters = 3)
    val assigned = Similarity.ivfAssign(e, "v", cents, nProbe = nProbe)
      .select(col("centroid_id"), col("vec_id"))
    val cand = assigned.select(col("centroid_id"), col("vec_id").as("id_a"))
      .join(assigned.select(col("centroid_id"), col("vec_id").as("id_b")),
        Seq("centroid_id"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct().count()
    assert(cand > 0)
    assert(cand < nVec * 100L * nProbe * nProbe * 8,
      s"candidate volume is superlinear under constant-cell IVF: $cand")
  }

  test("connected components: a hub-plus-chain graph is one giant component") {
    val star = spark.range(1, 2001).select(lit(0L).as("a"), col("id").as("b"))
    val chain = spark.range(2001, 3000)
      .select(col("id").as("a"), (col("id") + 1).as("b"))
    val graft = Seq((5L, 2001L)).toDF("a", "b")
    val labeled = Graph.connectedComponents(
      star.unionAll(chain).unionAll(graft), "a", "b")
    assert(labeled.count() == 3001L)
    assert(labeled.select("cluster").distinct().count() == 1L)
  }

  releasingTest("suffix-ladder spans: an all-duplicate corpus yields maximal spans") {
    assert(consume(Text.suffixDupSpans(docs, "doc_id", "text",
      baseK = 4, levels = 4, minDocs = 2)) > 0)
  }

  releasingTest("winnow pairs, e2e (fixed and default maxDf) and gate yield output") {
    val m = marked
    assert(consume(Text.winnowPairs(m, "doc_id", "text",
      k = 5, w = 8, maxDf = 30, minShared = 2)) > 0, "winnow candidate pairs")
    for (maxDf <- Seq(30, 0))
      assert(consume(Text.winnowDedupE2e(m, "doc_id", "text",
        k = 5, w = 8, maxDf = maxDf, minShared = 2, minJacPct = 50)) > 0,
        s"winnow e2e clusters at maxDf=$maxDf")
    val (sets0, rare) = Text.winnowIndex(m, "doc_id", "text", k = 5, w = 8,
      maxDf = 30)
    val sets = sets0.persist(StorageLevel.MEMORY_AND_DISK)
    val arrivals = m.select((col("doc_id") + 3 * ScaleFixture.KeyStride)
      .as("doc_id"), concat(lit("edited preamble "), col("text")).as("text"))
    assert(consume(Text.winnowGateFromIndex(arrivals, "doc_id", "text",
      sets, rare, k = 5, w = 8, minShared = 2, minJacPct = 50)) > 0,
      "edited arrivals must match their marker group")
  }

  releasingTest("df-cut sparse cosine yields the marker-group pairs") {
    val m = docs.withColumn("text", concat(col("text"), lit(" zq"),
      (col("doc_id") % ScaleFixture.KeyStride).cast("string"), lit(" xq end")))
    assert(consume(ops.Retrieval.sparseCosinePairs(m, "doc_id", "text",
      shingleK = 4, maxDf = 30, minCos = 0.05)) > 0)
  }

  test("sft assembly and cross-domain overlap yield output on copies") {
    assert(consume(ops.Curation.sftAssemble(table("events"), "user_id", "ts",
      "event_id", "event_type", "props", maxTurns = 64)) > 0)
    assert(consume(Text.domainOverlap(docs, "source", "text", k = 3)) > 0)
  }

  /** Candidate pools: 8 per copy (~62 candidates each, so every pool
    * holds the largest best-of-n). */
  private def pools: DataFrame = docs.select(
    pmod(xxhash64(col("doc_id")), lit(16L)).as("pid"), col("doc_id"),
    col("source"), Preference.ttrReward(col("text")).as("r"))
  private def nSources: Long = docs.select("source").distinct().count()
  private def board(d: DataFrame) = d
    .select(col("entity"), col("wins"), col("games"), round(col("strength"), 9))
    .collect().map(_.toSeq).sortBy(_.head.toString).toSeq
  private def games(p: DataFrame) =
    Preference.pairwiseGames(p, "pid", "doc_id", "source", "r")

  test("preference surface: every source ranked, one row per pool and n") {
    val p = pools
    assert(consume(Preference.btLeaderboard(games(p), iters = 3)) == nSources)
    val nPools = p.select("pid").distinct().count()
    assert(consume(Preference.bestOfN(p, "pid", "doc_id", "r",
      ns = Seq(1, 2, 4, 8))) == nPools * 4)
  }

  test("post-training lifecycle: merged win-matrix store equals the one-shot fit") {
    val p = pools
    val nPools = p.select("pid").distinct().count()
    assert(consume(Preference.prefPairs(p, "pid", "doc_id", "r")) == nPools,
      "every pool must yield a DPO pair")
    val store = Preference.winMatrix(games(p.filter(col("pid") % 2 === 0)))
      .withColumnRenamed("w", "w0")
    val arriving = Preference.winMatrix(games(p.filter(col("pid") % 2 === 1)))
      .withColumnRenamed("w", "w1")
    val merged = store.join(arriving, Seq("winner", "loser"), "full")
      .select(col("winner"), col("loser"),
        (coalesce(col("w0"), lit(0L)) + coalesce(col("w1"), lit(0L))).as("w"))
    val fit = Preference.btFromMatrix(merged, iters = 3)
    val strengths = fit.select("strength").as[Double].collect()
    assert(strengths.length == nSources)
    assert(math.abs(strengths.sum - 1.0) < 1e-9)
    assert(board(fit) == board(Preference.btLeaderboard(games(p), iters = 3)),
      "incremental matrix merge must equal the one-shot fit")
    assert(consume(Preference.bestOfN(p, "pid", "doc_id", "r",
      ns = Seq(1, 4, 16))) > 0)
    assert(consume(Preference.grpoAdvantage(p, "pid", "r")) == docs.count())
    assert(consume(Preference.passAtK(p, "pid", col("r") > 0.5,
      ks = Seq(1, 4))) > 0)
  }

  test("BT leaderboard: append, refit, compaction flip") {
    val p = pools
    val root = Files.createTempDirectory("btlife").toString
    val matDir = s"$root/mat0"
    Preference.winMatrix(games(p.filter(col("pid") % 2 === 0)))
      .write.parquet(matDir)
    // arriving games append un-aggregated; the refit re-aggregates on read
    Preference.winMatrix(games(p.filter(col("pid") % 2 === 1)))
      .write.mode("append").parquet(matDir)
    val refit = Preference.btFromMatrix(spark.read.parquet(matDir), iters = 3)
    assert(board(refit) == board(Preference.btLeaderboard(games(p), iters = 3)),
      "refit from the appended store must equal the one-shot fit")
    val gen1 = s"$root/mat1"
    spark.read.parquet(matDir).groupBy("winner", "loser").agg(sum("w").as("w"))
      .write.parquet(gen1)
    // compaction writes a new generation; serving flips to it
    assert(board(Preference.btFromMatrix(spark.read.parquet(gen1),
      iters = 3)) == board(refit),
      "serving fit must be identical across the compaction flip")
  }

  test("span corruption emits one row per document") {
    val d = docs
    assert(consume(ops.Corrupt.spanCorrupt(d, "doc_id", "text",
      blockLen = 3, maskOneInK = 7)) == d.count())
  }

  test("schema validation against a stored profile: 3 stats x 2 columns") {
    val base = core.Tables(spark, ScaleFixtures.sfDir, "events")
    val profile = ops.Validation.numericProfile(
      base.filter(col("event_id") % 2 === 0), Seq("value", "user_id"))
    assert(consume(ops.Validation.validateNumeric(table("events"), profile,
      Seq("value", "user_id"))) == 6)
  }

  test("drift and DoReMi weights: one row per source, inline and stored") {
    val d = docs
    val n = nSources
    val refHist = ops.Validation.tokenHistogram(
      core.Tables(spark, ScaleFixtures.sfDir, "documents")
        .filter(col("doc_id") % 2 === 0), "text")
    assert(consume(ops.Validation.jsDrift(refHist, d, "source", "text")) == n)
    // the stored reference, scored as two id-block batches
    val refDir = Files.createTempDirectory("refhist").toString
    refHist.write.mode("overwrite").parquet(refDir)
    val stored = spark.read.parquet(refDir)
    val block = floor(col("doc_id") / 20) % 2
    for (b <- Seq(block === 0, block =!= 0))
      assert(consume(ops.Validation.jsDrift(stored, d.filter(b), "source",
        "text")) == n, "one drift row per source per batch")
    val model = ops.Sampling.doremiModelDF(d.filter(col("doc_id") % 2 === 0),
        "source", "text")
      .unionAll(ops.Sampling.doremiModelDF(d.filter(col("doc_id") % 2 =!= 0),
        "source", "text"))
    assert(consume(ops.Sampling.doremiFromModel(model)) == n)
  }
}
