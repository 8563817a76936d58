package graft

import org.apache.spark.sql.functions._
import graft.ops.{Bpe, Curation, Sampling, Similarity, Sketches, Text}

/** Wave-2 training-pipeline operators: exact duplicated-span detection,
  * corpus-trained bigram LM, chunking, mixture sampling, weighted
  * reservoir sampling, covariance + power iteration. Hand-computed
  * oracles on tiny inputs; the DuckDB hash-compare covers sf-scale.
  */
class TrainSpec extends SparkSpec {
  import spark.implicits._

  releasingTest("suffixDupSpans: maximal variable-length spans, contained levels dropped") {
    // docs 1/2 share EXACTLY 16 consecutive tokens (different contexts);
    // docs 3/4 share exactly 4; every other token is globally unique —
    // so the ladder must report one len-16 maximal span per sharing doc
    // (all its len-4/len-8 sub-spans contained → dropped) and one len-4
    // maximal span per doc of the short pair, nothing else
    val run16 = (1 to 16).map(i => s"r$i").mkString(" ")
    val df = Seq(
      (1L, s"u1 u2 $run16 u3"),
      (2L, s"v1 $run16 v2 v3 v4"),
      (3L, "w1 w2 c1 c2 c3 c4 w3"),
      (4L, "x1 c1 c2 c3 c4 x2 x3")
    ).toDF("doc_id", "text")
    val got = Text.suffixDupSpans(df, "doc_id", "text",
        baseK = 4, levels = 3, minDocs = 2)
      .orderBy("doc_id", "pos")
      .as[(Long, Int, Int)].collect().toSeq
    assert(got == Seq((1L, 3, 16), (2L, 2, 16), (3L, 3, 4), (4L, 2, 4)))
    // docs shorter than baseK contribute nothing and break nothing
    val tiny = Seq((9L, "a b"), (10L, "a b")).toDF("doc_id", "text")
    assert(Text.suffixDupSpans(tiny, "doc_id", "text",
      baseK = 4, levels = 2).count() == 0L)
    // an 8-token shared run reports len-8 maximal (not two len-4s):
    // the level-1 span covers all five of its len-4 sub-spans
    val run8 = (1 to 8).map(i => s"s$i").mkString(" ")
    val mid = Seq((5L, s"y1 $run8 y2"), (6L, s"z1 z2 $run8"))
      .toDF("doc_id", "text")
    val gotMid = Text.suffixDupSpans(mid, "doc_id", "text",
        baseK = 4, levels = 3, minDocs = 2)
      .orderBy("doc_id").as[(Long, Int, Int)].collect().toSeq
    assert(gotMid == Seq((5L, 2, 8), (6L, 3, 8)))
  }

  releasingTest("scrubSuffixSpans: minLen thresholds long spans, nested/overlapping union") {
    // docs 1/2 share a 16-token run AND a separate 4-token run; at
    // minLen = 8 only the long run is scrubbed — the short duplicated
    // n-gram SURVIVES (the capability fixed-k scrubbing cannot express)
    val run16 = (1 to 16).map(i => s"r$i").mkString(" ")
    val df = Seq(
      (1L, s"u1 c1 c2 c3 c4 u2 $run16 u3"),
      (2L, s"v1 $run16 v2 c1 c2 c3 c4 v3")
    ).toDF("doc_id", "text")
    val got = Text.scrubSuffixSpans(df, "doc_id", "text",
        baseK = 4, levels = 3, minDocs = 2, minLen = 8)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 23L, 16L, "u1 c1 c2 c3 c4 u2 u3"),
      (2L, 23L, 16L, "v1 v2 c1 c2 c3 c4 v3")))
    // MULTIPLE maximal spans per doc union their coverage: doc 3
    // carries run16 but no other doc has the full run — docs 4/5 each
    // share one 8-token HALF, so doc 3 gets two adjacent maximal
    // len-8 spans (never a len-16: the 16-window verify finds only one
    // doc) whose coverage unions to all 16 tokens
    val df2 = Seq(
      (3L, s"a1 $run16 a2"),
      (4L, "b1 " + (1 to 8).map(i => s"r$i").mkString(" ")),   // r1..r8
      (5L, (9 to 16).map(i => s"r$i").mkString(" ") + " b2")   // r9..r16
    ).toDF("doc_id", "text")
    val got2 = Text.scrubSuffixSpans(df2, "doc_id", "text",
        baseK = 4, levels = 3, minDocs = 2, minLen = 8)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(got2 == Seq(
      (3L, 18L, 16L, "a1 a2"),
      (4L, 9L, 8L, "b1"),
      (5L, 9L, 8L, "b2")))
    // minLen = 0 collapses to fixed-k coverage: every duplicated
    // baseK-window is maximal or contained upward, so the ladder scrub
    // equals a driver-side fixed-k scrub at k = baseK (the composition's
    // exactness anchor)
    val all = df.unionByName(df2)
    val viaLadder = Text.scrubSuffixSpans(all, "doc_id", "text",
        baseK = 4, levels = 3, minDocs = 2, minLen = 0)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    val docs = all.as[(Long, String)].collect().toSeq.sortBy(_._1)
      .map { case (id, t) => id -> t.split(" ", -1).toSeq }
    val windowDocs = docs.flatMap { case (id, toks) =>
      toks.sliding(4).filter(_.size == 4).map(_ -> id) }
      .groupBy(_._1).map { case (w, ids) => w -> ids.map(_._2).distinct.size }
    val viaFixed = docs.map { case (id, toks) =>
      val covered = (0 to toks.size - 4)
        .filter(p => windowDocs(toks.slice(p, p + 4)) >= 2)
        .flatMap(p => p until p + 4).toSet
      (id, toks.size.toLong, covered.size.toLong,
        toks.indices.filterNot(covered).map(toks).mkString(" "))
    }
    assert(viaLadder == viaFixed)
  }

  test("spanHashes: n-k+1 spans, short docs yield none") {
    val df = Seq("a b c d", "a b", "a b c").toDF("text")
    val n = df.select(size(Text.spanHashes(split(col("text"), " ", -1), 3)).as("n"))
      .as[Int].collect().toSeq
    assert(n == Seq(2, 0, 1))
  }

  releasingTest("duplicatedSpanStats counts spans shared across documents") {
    val df = Seq((1L, "a b c"), (2L, "b c d"), (3L, "x y")).toDF("doc_id", "text")
    val out = Text.duplicatedSpanStats(df, "doc_id", "text", k = 2)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // "b c" occurs in docs 1 and 2; every doc has n-1 = 2 or 1 spans
    assert(out == Seq((1L, 2L, 1L, 0.5), (2L, 2L, 1L, 0.5), (3L, 1L, 0L, 0.0)))
  }

  test("bigramNll: add-one smoothed corpus LM, hand-computed") {
    val df = Seq((1L, "a b a b"), (2L, "a b")).toDF("doc_id", "text")
    // c2: (a,b)=3, (b,a)=1; c1: a=3, b=1; V=2
    // d1 = -(ln(4/5)+ln(2/3)+ln(4/5))/3 = 0.2839; d2 = -ln(4/5) = 0.2231
    val out = Text.bigramNll(df, "doc_id", "text").orderBy("doc_id")
      .as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq((1L, 3L, 0.2839), (2L, 1L, 0.2231)))
  }

  test("kneserNeyNll matches a brute-force KN reference on a small corpus") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the log"),
      (3L, "a cat and a dog and a bird"),
      (4L, "san francisco san francisco san diego"))
    val d = 0.75
    // independent reference: plain Scala maps, textbook interpolated-KN
    val events = docs.flatMap { case (id, t) =>
      val w = t.split(" "); w.zip(w.tail).map(p => (id, p)) }
    val c2 = events.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val c1 = c2.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val n1a = c2.groupBy(_._1._1).view.mapValues(_.size.toLong).toMap
    val n1b = c2.groupBy(_._1._2).view.mapValues(_.size.toLong).toMap
    val nt = c2.size.toDouble
    def lp(a: String, b: String): Double = math.log(
      (c2((a, b)) - d) / c1(a) + d * n1a(a) / c1(a) * (n1b(b) / nt))
    val expect = events.groupBy(_._1).view.mapValues { es =>
      BigDecimal(-es.map(e => lp(e._2._1, e._2._2)).sum / es.size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    val out = Text.kneserNeyNll(docs.toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Double)].collect()
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    for ((id, n, nll) <- out) {
      assert(n == events.count(_._1 == id), s"doc $id event count")
      assert(math.abs(nll - expect(id)) < 2e-4, s"doc $id: $nll vs ${expect(id)}")
    }
    // the KN point: "francisco" is frequent but has ONE context, so a doc
    // leaning on it scores worse than add-one frequency back-off suggests
    // relative to diverse-context tokens; sanity: all NLLs positive
    assert(out.forall(_._3 > 0))
  }

  test("chunkTokens: window/stride boundaries and short-doc single chunk") {
    val df = Seq("t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11", "s1 s2").toDF("text")
    val out = df.select(Text.chunkTokens(split(col("text"), " ", -1),
        window = 4, stride = 3).as("c"))
      .select(explode(col("c")).as("c"))
      .select(col("c.chunk_id"), col("c.chunk_text"), col("c.chunk_tokens"))
      .as[(Long, String, Long)].collect().toSeq
    assert(out == Seq(
      (0L, "t1 t2 t3 t4", 4L), (1L, "t4 t5 t6 t7", 4L),
      (2L, "t7 t8 t9 t10", 4L), (3L, "t10 t11", 2L),
      (0L, "s1 s2", 2L)))
  }

  test("dsirWeights: target-like docs score higher") {
    // two sharply separated vocabularies: target docs reuse target words
    val docs = (1L to 20L).map { i =>
      if (i <= 10) (i, "alpha beta gamma delta alpha beta", true)
      else (i, "omega psi chi phi omega psi", false)
    }
    val df = docs.toDF("doc_id", "text", "tgt")
    val out = Curation.dsirWeights(df, "doc_id", "text", col("tgt"), buckets = 64)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val tgtAvg = (1L to 10L).map(out).sum / 10
    val rawAvg = (11L to 20L).map(out).sum / 10
    assert(tgtAvg > rawAvg + 1.0,
      s"target avg $tgtAvg should clearly exceed non-target $rawAvg")
    // a doc made of target vocabulary gets positive log weight
    assert(tgtAvg > 0 && rawAvg < 0)
  }

  test("bigram stored model: scored-from-stored equals self-trained; unseen fallbacks finite") {
    val corpus = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the rug"),
      (3L, "a bird flew over the mat")).toDF("doc_id", "text")
    val self = Text.bigramNll(corpus, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    // model survives a parquet round-trip (the weightsToDF contract)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-lm-model").toString + "/model"
    Text.bigramModelDF(corpus, "doc_id", "text").write.parquet(dir)
    val stored = spark.read.parquet(dir)
    val fromStored = Text.bigramNllFromModel(corpus, "doc_id", "text", stored)
      .as[(Long, Long, Double)].collect().toSet
    assert(fromStored == self,
      s"stored-model scoring must equal self-trained: $fromStored vs $self")
    // scoring NEW docs exercises both unseen fallbacks: "the zebra" is
    // pair-unseen in the SEEN context "the"; "zebra quux" is fully
    // context-unseen — both must land finite, and the seen-context
    // fallback (1/(c1+V)) must read less likely than a seen pair in the
    // same context
    val fresh = Seq((10L, "the cat sat on the mat"),
      (11L, "the zebra"), (12L, "zebra quux")).toDF("doc_id", "text")
    val out = Text.bigramNllFromModel(fresh, "doc_id", "text", stored)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(out.size == 3)
    out.values.foreach(v => assert(!v.isNaN && !v.isInfinite, s"finite: $out"))
    assert(out(10L) == self.find(_._1 == 1L).get._3,
      "an exact training doc scores identically to its training-time nll")
    assert(out(11L) > out(10L), "unseen pair must cost more than seen text")
  }

  test("dsirModelDF: scored-from-stored equals dsirWeights; unseen buckets fall back") {
    val docs = (1L to 20L).map { i =>
      if (i <= 10) (i, "alpha beta gamma delta alpha beta", true)
      else (i, "omega psi chi phi omega psi", false)
    }
    val df = docs.toDF("doc_id", "text", "tgt")
    val trained = Curation.dsirWeights(df, "doc_id", "text", col("tgt"),
        buckets = 64)
      .select(col("doc_id"), col("n_tokens"),
        round(col("log_weight"), 4).as("lw"))
      .as[(Long, Long, Double)].collect().toSet
    // model -> parquet -> literal vector -> per-row map-only scoring
    val dir = java.nio.file.Files
      .createTempDirectory("graft-dsir").toString + "/model"
    Curation.dsirModelDF(df, "doc_id", "text", col("tgt"), buckets = 64)
      .write.parquet(dir)
    val lr = Curation.weightsFromDF(spark.read.parquet(dir), buckets = 64)
    assert(lr.size == 64 && lr.forall(v => !v.isNaN && !v.isInfinite),
      "every bucket materialized, incl. unseen-bucket fallbacks")
    val served = df.select(col("doc_id"),
        Curation.dsirTokenCount(col("text")).as("n_tokens"),
        round(Curation.dsirScore(col("text"), lr), 4).as("lw"))
      .as[(Long, Long, Double)].collect().toSet
    assert(served == trained,
      s"stored-model scoring must equal dsirWeights: $served vs $trained")
    // a fresh doc of tokens the training never saw: every token lands in
    // SOME bucket (seen or fallback) — finite, n tokens all counted
    val fresh = Seq((100L, "zzz yyy xxx www")).toDF("doc_id", "text")
    val f = fresh.select(
        Curation.dsirTokenCount(col("text")).as("n"),
        Curation.dsirScore(col("text"), lr).as("s"))
      .as[(Long, Double)].head()
    assert(f._1 == 4L && !f._2.isNaN && !f._2.isInfinite)
  }

  releasingTest("stored bigram models reproduce mooreLewis's training-time scores") {
    val docs = (1L to 20L).map { i =>
      if (i <= 10) (i, "alpha beta gamma delta alpha beta", true)
      else (i, "omega psi chi phi omega psi", false)
    }
    val df = docs.toDF("doc_id", "text", "tgt")
    val trained = Text.mooreLewis(df, "doc_id", "text", col("tgt"))
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    // both models persisted, then the SAME corpus scored at serving time
    val base = java.nio.file.Files
      .createTempDirectory("graft-ml-models").toString
    Text.bigramModelDF(df.filter(col("tgt")), "doc_id", "text")
      .write.parquet(s"$base/target")
    Text.bigramModelDF(df, "doc_id", "text").write.parquet(s"$base/corpus")
    def nll(model: String) = Text.bigramNllFromModel(df, "doc_id", "text",
        spark.read.parquet(s"$base/$model"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val (target, corpus) = (nll("target"), nll("corpus"))
    assert(target.keySet == trained.keySet && corpus.keySet == trained.keySet)
    trained.foreach { case (id, (ct, cc, d)) =>
      val (sct, scc) = (target(id), corpus(id))
      val sd = BigDecimal(sct - scc).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
      assert(sct == ct && scc == cc,
        s"doc $id: stored-model CEs must equal training-time ($sct, $scc)")
      // delta rounds the difference of ROUNDED CEs here vs one
      // aggregate there — agree within the two 4-dp grids
      assert(math.abs(sd - d) < 2e-4, s"doc $id delta: $sd vs $d")
    }
  }

  releasingTest("mooreLewis: target docs get lower delta; unseen fallbacks finite") {
    // sharply separated vocabularies (the dsirWeights fixture shape):
    // target docs reuse target bigrams, off-target docs a disjoint set,
    // and doc 21 mixes one target context with tokens the TARGET model
    // never saw — exercising both unseen fallbacks (pair-unseen-in-seen-
    // context and context-unseen) without NaN/Inf
    val docs = (1L to 20L).map { i =>
      if (i <= 10) (i, "alpha beta gamma delta alpha beta", true)
      else (i, "omega psi chi phi omega psi", false)
    } :+ ((21L, "alpha zebra quux zebra", false))
    val df = docs.toDF("doc_id", "text", "tgt")
    val out = Text.mooreLewis(df, "doc_id", "text", col("tgt"))
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out.size == 21)
    out.values.foreach { case (ct, cc, d) =>
      assert(!ct.isNaN && !ct.isInfinite && !cc.isNaN && !d.isNaN,
        s"all scores finite: $out")
    }
    val tgtAvg = (1L to 10L).map(out(_)._3).sum / 10
    val offAvg = (11L to 20L).map(out(_)._3).sum / 10
    assert(tgtAvg + 1.0 < offAvg,
      s"target delta $tgtAvg must sit clearly below off-target $offAvg")
    // delta == ce_target − ce_corpus up to the independent 4-dp rounds
    out.values.foreach { case (ct, cc, d) =>
      assert(math.abs(d - (ct - cc)) < 2e-4, s"delta consistency: $out")
    }
  }

  test("mixtureRates: alpha=0.5 upsamples the small domain") {
    val counts = Seq(("big", 100L), ("small", 1L)).toDF("source", "n_docs")
    val r = Sampling.mixtureRates(counts, "n_docs", alpha = 0.5, budget = 10)
      .orderBy("source")
      .select(col("source"), round(col("p"), 6), round(col("rate"), 6))
      .as[(String, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // w = (10, 1), tw = 11: p = 10/11, 1/11; rate = min(1, 10*p/n)
    assert(r("big") == (0.909091, 0.090909))
    assert(r("small") == (0.090909, 0.909091))
  }

  test("mixtureSample: rate 1.0 keeps every row, rate 0.0 keeps none") {
    val docs = (1L to 50L).map(i => (if (i <= 25) "keep" else "drop", i))
      .toDF("source", "doc_id")
    val rates = Seq(("keep", 1.0), ("drop", 0.0)).toDF("source", "rate")
    val kept = Sampling.mixtureSample(docs, "source", "doc_id", rates)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    assert(kept == Map("keep" -> 25L))
  }

  test("weightedSample: deterministic, k-bounded, ranks contiguous") {
    val df = (1L to 40L).map(i => (s"g${i % 2}", i, (i * 7 % 13) + 1))
      .toDF("grp", "id", "w")
    def run() = Sampling.weightedSample(df, "grp", "id", "w", k = 3)
      .select("grp", "id", "rk").as[(String, Long, Int)].collect().toSet
    val s1 = run(); val s2 = run()
    assert(s1 == s2)                         // content-hash randomness
    assert(s1.size == 6)                     // 3 per group
    assert(s1.groupBy(_._1).forall(_._2.map(_._3) == Set(1, 2, 3)))
  }

  test("gumbelTopK: deterministic, k-bounded, log-domain ES equivalence, stable for tiny weights") {
    val df = (1L to 200L).map(i => (i, math.log((i % 17 + 1).toDouble)))
      .toDF("id", "lw")
    def run() = Sampling.gumbelTopK(df, "id", "lw", k = 10)
      .select("id").as[Long].collect().toSeq
    val s1 = run()
    assert(s1 == run() && s1.size == 10)     // content-hash determinism
    // the Gumbel key is EXACTLY the log of the linear ES key's ordering:
    // lw - ln(-ln(u)) ranks identically to u^(1/w) for w = exp(lw)
    val es = Sampling.weightedSample(
        df.withColumn("grp", lit("g")).withColumn("w", exp(col("lw"))),
        "grp", "id", "w", k = 10)
      .orderBy(col("rk")).select("id").as[Long].collect().toSeq
    assert(s1 == es, "log-domain and linear ES keys must rank identically")
    // log weights far below exp-underflow (exp(-800) == 0.0 exactly)
    // still rank correctly in the log domain: a single huge-weight row
    // must always win, and the linear form must NOT be able to see it
    val tiny = ((1L to 30L).map(i => (i, -800.0 - i)) :+ (99L, 0.0))
      .toDF("id", "lw")
    val top = Sampling.gumbelTopK(tiny, "id", "lw", k = 5)
      .select("id").as[Long].collect()
    assert(top.head == 99L)
    assert(top.length == 5)                  // tiny weights still ordered
  }

  test("covarianceMatrix matches hand computation on 2-d vectors") {
    val df = Seq(Array(1.0f, 2.0f), Array(3.0f, 6.0f)).toDF("embedding")
    val cov = Similarity.covarianceMatrix(df, "embedding", dim = 2)
      .as[(Long, Long, Double)].collect()
      .map { case (i, j, c) => (i, j) -> c }.toMap
    assert(cov((0L, 0L)) == 1.0 && cov((1L, 1L)) == 4.0)
    assert(cov((0L, 1L)) == 2.0 && cov((1L, 0L)) == 2.0)
  }

  test("classifierMarginInt: additive over tokens, weights bounded") {
    val df = Seq("a", "a a", "a a a b").toDF("text")
    val m = df.select(Text.classifierMarginInt(
      split(col("text"), " ", -1), 1024).as("m")).as[Long].collect()
    val wa = m(0)
    assert(m(1) == 2 * wa, "margin must be additive per token occurrence")
    val wb = m(2) - 3 * wa
    assert(math.abs(wa) <= 1000 && math.abs(wb) <= 1000)
    // deterministic across evaluations
    val again = df.select(Text.classifierMarginInt(
      split(col("text"), " ", -1), 1024).as("m")).as[Long].collect()
    assert(m.toSeq == again.toSeq)
  }

  test("classifierProb is the sigmoid of the mean weight") {
    val df = Seq("z").toDF("text")
    val (m, p) = df.select(
      Text.classifierMarginInt(split(col("text"), " ", -1), 1024).as("m"),
      Text.classifierProb(
        Text.classifierMarginInt(split(col("text"), " ", -1), 1024),
        size(split(col("text"), " ", -1))).as("p"))
      .as[(Long, Double)].head()
    assert(math.abs(p - 1.0 / (1.0 + math.exp(-m / 1000.0))) < 1e-12)
  }

  test("shardShuffle: partition of ids, contiguous positions, seed-sensitive") {
    val df = (0L until 100L).toDF("id")
    val out = Sampling.shardShuffle(df, "id", 4, "s1")
      .as[(Long, Int, Long)].collect().toSeq
    assert(out.map(_._1).sorted == (0L until 100L))
    assert(out.map(_._2).forall(s => s >= 0 && s < 4))
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted == (0L until rows.size))
    }
    val other = Sampling.shardShuffle(df, "id", 4, "s2")
      .as[(Long, Int, Long)].collect().toSeq
    assert(out.map(r => r._1 -> r._2).toMap != other.map(r => r._1 -> r._2).toMap,
      "a different epoch seed must reshuffle")
  }

  test("tokenBudgetFilter keeps highest-priority rows within the budget") {
    val df = Seq(
      ("d1", 1L, 10L, 5L), ("d1", 2L, 10L, 9L), ("d1", 3L, 10L, 7L),
      ("d2", 4L, 25L, 1L), ("d2", 5L, 10L, 2L))
      .toDF("dom", "id", "nt", "pri")
    val kept = Sampling.tokenBudgetFilter(df, "dom", "id", "nt", "pri", 25L)
      .select("id", "cum_tokens").as[(Long, Long)].collect().toMap
    // d1 by priority: id2 (9) cum 10, id3 (7) cum 20, id1 (5) cum 30 > 25
    // d2 by priority: id5 (2) cum 10, id4 (1) cum 35 > 25
    assert(kept == Map(2L -> 10L, 3L -> 20L, 5L -> 10L))
  }

  releasingTest("incrementalDedup flags exact, near, and kept against a corpus") {
    // the near-dup doc is a verified band-collision: a last-token edit of
    // a 30-token doc keeps 26/28 shingles, and the md5 signature family
    // (re-derived offline) shares LSH band 0 at jaccard 0.929
    val qdoc = (1 to 30).map("q" + _).mkString(" ")
    val corpus = Seq(
      (100L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
      (101L, qdoc)).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),            // identical → exact_dup
      (2L, qdoc.split(" ").init.mkString(" ") + " zz"),    // edit → near_dup
      (3L, "n1 n2 n3 n4 n5 n6 n7 n8 n9 n10"))             // novel → kept
      .toDF("doc_id", "text")
    val out = Curation.incrementalDedup(batch, corpus, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(out == Seq(1L -> "exact_dup", 2L -> "near_dup", 3L -> "kept"))
  }

  releasingTest("scrubSuffixSpans at minLen 0 removes exactly the cross-doc duplicated spans") {
    val df = Seq(
      (1L, "a b c d e"),   // "a b c" duplicated with doc 2 -> tokens 1-3 go
      (2L, "x a b c y"),   // covered positions 2-4 -> "x y" survives
      (3L, "p q r"))       // no duplicated span -> untouched
      .toDF("doc_id", "text")
    val out = Text.scrubSuffixSpans(df, "doc_id", "text",
        baseK = 3, levels = 1, minDocs = 2, minLen = 0)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, 5L, 3L, "d e"),
      (2L, 5L, 3L, "x y"),
      (3L, 3L, 0L, "p q r")))
  }

  test("containmentPairs: asymmetric containment with stop-shingle prune") {
    val df = Seq((1L, "a b c"), (2L, "a b c d e"), (3L, "z z"))
      .toDF("doc_id", "text")
    // shingles(k=2): doc1 {a b, b c}, doc2 {a b, b c, c d, d e}, doc3 {z z}
    val out = Text.containmentPairs(df, "doc_id", "text", k = 2,
        minContain = 0.5, maxDf = 1000)
      .orderBy("src_id", "dst_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // doc1 fully inside doc2 (2/2 = 1.0); reverse direction only 2/4
    assert(out == Seq((1L, 2L, 2L, 1.0), (2L, 1L, 2L, 0.5)))
    // maxDf=2 prunes "a b" (df=3 with doc 4) from numerators, never
    // denominators: only (1 -> 2) via "b c" survives at 1/2
    val df4 = df.union(Seq((4L, "a b q")).toDF("doc_id", "text"))
    val pruned = Text.containmentPairs(df4, "doc_id", "text", k = 2,
        minContain = 0.5, maxDf = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(pruned == Seq((1L, 2L, 1L, 0.5)))
  }

  test("semanticDedup drops the larger id of a within-cell near-dup pair") {
    val vecs = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(1.0, 0.0)),   // exact dup of 1
      (3L, Array(0.0, 1.0)), (4L, Array(0.0, 1.0)),   // exact dup of 3
      (5L, Array(-1.0, 0.5)))
    val df = vecs.toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(df, "vec_id", "embedding",
        k = 2, iters = 2, tau = 0.999)
      .orderBy("vec_id")
      .as[(Long, Long, String)].collect().toSeq
    assert(out.map(_._1) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(out.map(_._3) == Seq("kept", "dropped", "kept", "dropped", "kept"))
    // exact duplicates always land in the same cell
    val cell = out.map(r => r._1 -> r._2).toMap
    assert(cell(1L) == cell(2L) && cell(3L) == cell(4L))
  }

  test("semanticDedup trips the cell-size guard on a degenerate corpus") {
    // an all-duplicates corpus collapses into ONE k-means cell no matter
    // how large k is: Lloyd's means coincide, every vector assigns to the
    // lowest surviving cell, and the within-cell self-join would be O(m²)
    // on a single key. The maxCellSize tripwire must raise instead of
    // silently paying the all-pairs shape.
    val dupes = (1L to 40L).map(i => (i, Array(1.0, 0.0)))
      .toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.semanticDedup(dupes, "vec_id", "embedding",
        k = 4, iters = 2, tau = 0.9, maxCellSize = 10)
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("maxCellSize")), ex.getMessage)
    // the same corpus under the default (permissive) cap still dedups:
    // one keeper, everything else dropped
    val ok = Similarity.semanticDedup(dupes, "vec_id", "embedding",
        k = 4, iters = 2, tau = 0.9)
      .as[(Long, Long, String)].collect().toSeq
    assert(ok.count(_._3 == "kept") == 1)
    assert(ok.count(_._3 == "dropped") == 39)
  }

  test("quantileBuckets: approx == exact == ntile terciles on tie-free keys") {
    import org.apache.spark.sql.expressions.Window
    // 7 distinct values per key: (n−1)/3 and 2(n−1)/3 are integer
    // indices, so the exact percentile interpolates nothing (threshold
    // IS a data value) and the GK sketch at default accuracy returns the
    // same element — all three formulations must agree exactly
    val vals = for (l <- Seq("en", "fr"); i <- 1 to 7)
      yield (l, s"$l$i", i * 1.5 + (if (l == "en") 0.0 else 100.0))
    val df = vals.toDF("lang", "doc_id", "nll")
    val w = Window.partitionBy("lang").orderBy(col("nll"), col("doc_id"))
    val viaNtile = df.withColumn("t", ntile(3).over(w))
      .withColumn("bucket", when(col("t") === 1, "head")
        .when(col("t") === 2, "middle").otherwise("tail"))
      .select("doc_id", "bucket").as[(String, String)].collect().toMap
    def run(exact: Boolean) = Curation.quantileBuckets(df, "lang", "nll",
        Seq(1.0 / 3, 2.0 / 3), Seq("head", "middle", "tail"), exact = exact)
      .select("doc_id", "bucket").as[(String, String)].collect().toMap
    assert(run(exact = true) == viaNtile)
    assert(run(exact = false) == viaNtile)
    // per-key bucket populations: 3/2/2 of 7
    assert(viaNtile.values.groupBy(identity).view.mapValues(_.size).toMap ==
      Map("head" -> 6, "middle" -> 4, "tail" -> 4))
  }

  test("hashSplit keyed on a group column is group-atomic") {
    // leakage-safe splitting: hash the HOST, not the doc id — every doc
    // of a host must land in exactly one split
    val df = (0L until 300L).map(i => (i, s"host${i % 13}"))
      .toDF("id", "host")
    val out = Sampling.hashSplit(df, "host", "ls0", 0.8, 0.1)
    val splitsPerHost = out.groupBy("host")
      .agg(countDistinct("split").as("n"))
      .select("n").as[Long].collect()
    assert(splitsPerHost.forall(_ == 1L))
    assert(out.count() == 300L)
  }

  test("hashSplit: total cover, rough fractions, deterministic") {
    val df = (0L until 1000L).toDF("id")
    val out = Sampling.hashSplit(df, "id", "s1", 0.8, 0.1)
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(out.values.sum == 1000L)
    assert(out.keySet == Set("train", "val", "test"))
    assert(math.abs(out("train") - 800L) < 60, out.toString)
    val again = Sampling.hashSplit(df, "id", "s1", 0.8, 0.1)
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(out == again)
    // a different seed redraws the split
    val other = Sampling.hashSplit(df, "id", "s2", 0.8, 0.1)
      .filter(col("split") === "train").select("id").as[Long].collect().toSet
    val trainIds = Sampling.hashSplit(df, "id", "s1", 0.8, 0.1)
      .filter(col("split") === "train").select("id").as[Long].collect().toSet
    assert(other != trainIds)
  }

  test("oversample: integer weights give exact copy counts") {
    // small domain: sqrt(8/2) = 2.0 exactly -> every row exactly 2 copies;
    // largest domain: w = 1 -> exactly 1 copy
    val df = ((1L to 8L).map(i => (i, "big")) ++ Seq((9L, "small"), (10L, "small")))
      .toDF("id", "dom")
    val out = Sampling.oversample(df, "id", "dom", alpha = 0.5,
        maxCopies = 4.0, seed = "t")
      .groupBy("id", "dom").agg(count(lit(1)).as("rows"),
        max("n_copies").as("nc"))
      .as[(Long, String, Long, Long)].collect()
    assert(out.length == 10)
    out.foreach { case (_, dom, rows, nc) =>
      assert(rows == nc, "one output row per copy")
      assert(if (dom == "small") nc == 2L else nc == 1L)
    }
  }

  test("cms estimate is never below the exact count and exact when alone") {
    val solo = Seq.fill(5)("x").toDF("tok")
    val sk = Sketches.cmsSketch(solo, "tok", depth = 4, width = 64)
    val est = Sketches.cmsEstimate(solo.distinct(), "tok", sk, 4, 64)
      .as[(String, Long)].head()
    assert(est == ("x" -> 5L))
    val toks = (1 to 400).map(i => "t" + (i % 37)).toDF("tok")
    val sk2 = Sketches.cmsSketch(toks, "tok", depth = 4, width = 16)
    val exact = toks.groupBy("tok").count().as[(String, Long)].collect().toMap
    val ests = Sketches.cmsEstimate(toks.distinct(), "tok", sk2, 4, 16)
      .as[(String, Long)].collect()
    assert(ests.length == exact.size)
    ests.foreach { case (t, e) => assert(e >= exact(t), s"$t: $e < ${exact(t)}") }
  }

  test("BPE applyMerge is canonical greedy left-to-right") {
    val df = Seq(Seq("a", "a", "a"), Seq("a", "a", "a", "a"), Seq("b", "a"))
      .toDF("syms")
    val out = df.select(Bpe.applyMerge(col("syms"), "a", "a").as("m"))
      .as[Seq[String]].collect().toSeq
    assert(out == Seq(Seq("aa", "a"), Seq("aa", "aa"), Seq("b", "a")))
  }

  test("BPE train reproduces the classic subword-units example") {
    // Sennrich et al. corpus: low x5, lower x2, newest x6, widest x3
    val toks = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).toDF("tok")
    val merges = Bpe.train(toks, "tok", numMerges = 6)
    assert(merges.map(m => (m._2, m._3, m._5)) == Seq(
      ("e", "s", 9L), ("es", "t", 9L), ("est", "</w>", 9L),
      ("l", "o", 7L), ("lo", "w", 7L), ("e", "w", 6L)))
    // the learned tokenizer segments an UNSEEN word into known subwords
    val seg = Seq("lowest").toDF("w")
      .select(Bpe.segment(col("w"), merges.map(m => (m._2, m._3))).as("s"))
      .as[Seq[String]].head()
    assert(seg == Seq("low", "est</w>"))
  }

  test("powerIteration finds the dominant eigenpair") {
    val c = Array(Array(2.0, 0.0), Array(0.0, 1.0))
    val (v, eig) = Similarity.powerIteration(c, 30)
    assert(math.abs(eig - 2.0) < 1e-9)
    assert(math.abs(math.abs(v(0)) - 1.0) < 1e-6 && math.abs(v(1)) < 1e-4)
  }

  test("powerIteration + covariance recover the principal axis of correlated data") {
    // points along y = 2x: top PC must align with (1,2)/sqrt(5)
    val pts = (1 to 50).map(i => Array(i.toFloat, (2 * i).toFloat))
    val df = pts.toDF("embedding")
    val covRows = Similarity.covarianceMatrix(df, "embedding", dim = 2).collect()
    val c = Array.ofDim[Double](2, 2)
    covRows.foreach(r => c(r.getLong(0).toInt)(r.getLong(1).toInt) = r.getDouble(2))
    val (v, eig) = Similarity.powerIteration(c, 50)
    val expected = Array(1.0 / math.sqrt(5.0), 2.0 / math.sqrt(5.0))
    assert(math.abs(math.abs(v(0)) - expected(0)) < 1e-6)
    assert(math.abs(math.abs(v(1)) - expected(1)) < 1e-6)
    assert(eig > 0.0)
  }

  test("trigramNll: interpolated probabilities, hand-computed") {
    // corpus trigram events: (a,b,a)×2 from doc 1, (b,a,b)×2 (docs 1+2).
    // Every event interpolates to 0.6·1 + 0.3·1 + 0.1·(2/4) = 0.95 →
    // nll = −ln(0.95) = 0.0513 for both docs; doc 3 has no trigrams.
    val df = Seq((1L, "a b a b a"), (2L, "b a b"), (3L, "x y"))
      .toDF("doc_id", "text")
    val out = Text.trigramNll(df, "doc_id", "text").orderBy("doc_id")
      .as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq((1L, 3L, 0.0513), (2L, 1L, 0.0513)))
  }

  test("trigramNll: rarer continuations score worse than corpus-typical ones") {
    val common = (1 to 10).map(i => (i.toLong, "the cat sat on the mat"))
    val odd = Seq((99L, "the cat zzz on qqq mat"))
    val out = Text.trigramNll((common ++ odd).toDF("doc_id", "text"),
      "doc_id", "text")
    val nll = out.select("doc_id", "nll").as[(Long, Double)].collect().toMap
    assert(nll(99L) > nll(1L))
  }

  test("BPE encode via segmented vocabulary equals direct per-token segmentation") {
    val docs = Seq((1L, "low lower lowest low"), (2L, "newer new low"))
      .toDF("doc_id", "text")
    val docTok = docs.select(col("doc_id"),
        explode(split(col("text"), " ", -1)).as("tok"))
      .filter(length(col("tok")) >= 1)
    val merges = Bpe.train(docTok, "tok", numMerges = 5).map(m => (m._2, m._3))
    // scalable path: segment the distinct vocabulary, join counts back
    val vocabSeg = docTok.select("tok").distinct()
      .select(col("tok"), size(Bpe.segment(col("tok"), merges)).cast("long")
        .as("n_sub"))
    val viaVocab = docTok.join(broadcast(vocabSeg), "tok")
      .groupBy("doc_id").agg(sum("n_sub").as("n_subwords"))
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    // direct path: segment every token occurrence inline
    val direct = docTok
      .select(col("doc_id"), size(Bpe.segment(col("tok"), merges)).cast("long")
        .as("n_sub"))
      .groupBy("doc_id").agg(sum("n_sub").as("n_subwords"))
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(viaVocab == direct && viaVocab.nonEmpty)
    // segmentation is real: subwords strictly exceed tokens pre-merge
    // convergence on this tiny vocab, and every count is ≥ token count
    val nTok = docTok.groupBy("doc_id").count()
      .orderBy("doc_id").as[(Long, Long)].collect().toMap
    viaVocab.foreach { case (id, ns) => assert(ns >= nTok(id)) }
  }

  test("BPE stored tokenizer: merges round-trip through parquet and encode identically") {
    // the switch-over user's workflow: train once, store the merge
    // table, encode in a later session without retraining
    val toks = Seq("low", "lower", "lowest", "low", "newer", "new")
      .toDF("tok")
    val trained = Bpe.train(toks, "tok", numMerges = 5)
    val store = java.nio.file.Files
      .createTempDirectory("graft-bpe").toString + "/merges"
    trained.toDF("rank", "a", "b", "merged", "n").write.parquet(store)
    val loaded = spark.read.parquet(store).orderBy("rank")
      .select("a", "b").as[(String, String)].collect().toSeq
    assert(loaded == trained.map(m => (m._2, m._3)),
      "stored merge order must survive the round-trip")
    val direct = toks.select(Bpe.segment(col("tok"),
        trained.map(m => (m._2, m._3))).as("s"))
      .as[Seq[String]].collect().toSeq
    val viaStore = toks.select(Bpe.segment(col("tok"), loaded).as("s"))
      .as[Seq[String]].collect().toSeq
    assert(viaStore == direct)
  }

  test("waterFill: budget met exactly, small domains saturate, rest split by weight") {
    // caps 100/1000/10000 with w ∝ sqrt(cap) and an 80% budget (8880):
    // a's target 8880·10/141.62 ≈ 627 > 100 and b's 8880·31.62/141.62
    // ≈ 1983 > 1000, so BOTH small domains saturate and c (cap 10000)
    // absorbs the remainder: 8880 − 100 − 1000 = 7780 = λ·w_c/S.
    val caps = Seq(("a", 100L), ("b", 1000L), ("c", 10000L))
      .toDF("dom", "cap")
      .withColumn("wi",
        floor(sqrt(col("cap").cast("double")) * 1e6 + 0.5).cast("long"))
    val r = Sampling.waterFill(caps, "dom", "cap", "wi", budgetFrac = 0.8)
      .orderBy("dom")
      .select("dom", "cap", "w", "alloc", "saturated")
      .as[(String, Long, Double, Double, Boolean)].collect()
    val budget = math.floor(0.8 * 11100).toLong
    // feasible: every allocation within capacity, total = budget
    r.foreach { case (_, cap, _, alloc, _) => assert(alloc <= cap + 1e-6) }
    assert(math.abs(r.map(_._4).sum - budget) < 1e-6,
      s"allocations ${r.toSeq} must sum to the budget $budget")
    val byDom = r.map(x => x._1 -> x).toMap
    assert(byDom("a")._5 && math.abs(byDom("a")._4 - 100.0) < 1e-9,
      "domain a saturates (target share > capacity)")
    assert(byDom("b")._5 && math.abs(byDom("b")._4 - 1000.0) < 1e-9,
      "domain b saturates (target share ≈1983 > cap 1000)")
    val c = byDom("c")
    assert(!c._5, "domain c stays unsaturated")
    assert(math.abs(c._4 - (budget - 1100.0)) < 1e-6,
      "c takes exactly the budget less the saturated caps")
  }

  test("waterFill: below every saturation point, allocs split by weight") {
    // lowest cap/w ratio is a's: r_a = 100·S/w_a with S/w_a = 14.162,
    // so saturation starts once λ > 1416.2, i.e. budget > 0.1276·total.
    // budgetFrac 0.1 keeps λ below that: nothing saturates and all
    // three allocations sit exactly at λ·w/S (ratio == weight ratio).
    val caps = Seq(("a", 100L), ("b", 1000L), ("c", 10000L))
      .toDF("dom", "cap")
      .withColumn("wi",
        floor(sqrt(col("cap").cast("double")) * 1e6 + 0.5).cast("long"))
    val r = Sampling.waterFill(caps, "dom", "cap", "wi", budgetFrac = 0.1)
      .orderBy("dom")
      .select("dom", "cap", "w", "alloc", "saturated")
      .as[(String, Long, Double, Double, Boolean)].collect()
    assert(r.forall(!_._5), s"no domain saturates at a 10% budget: ${r.toSeq}")
    val budget = math.floor(0.1 * 11100).toLong
    assert(math.abs(r.map(_._4).sum - budget) < 1e-6)
    val byDom = r.map(x => x._1 -> x).toMap
    val (a, b) = (byDom("a"), byDom("b"))
    assert(math.abs(a._4 / b._4 - a._3 / b._3) < 1e-9,
      "unsaturated allocations split proportionally to weight")
  }

  test("epochMix: repeat caps, budget conservation, decay only past 1 epoch") {
    val doms = Seq(("big", 10000L), ("small", 1000L)).toDF("dom", "u")
      .withColumn("wi", lit(1000000L))
    // budget = 0.5 * 2 * 11000 = 11000: equal weights give each 5500;
    // small caps at 2 epochs = 2000 and redistributes; big takes the
    // remaining 9000 < its 10000 unique — under one epoch, no decay
    val r = Sampling.epochMix(doms, "dom", "u", "wi",
        maxEpochs = 2, budgetFrac = 0.5)
      .orderBy("dom")
      .as[(String, Long, Long, Double, Double, Double, Boolean)].collect()
    val byDom = r.map(x => x._1 -> x).toMap
    val (big, small) = (byDom("big"), byDom("small"))
    assert(small._7 && small._5 == 2.0 && small._4 == 2000.0,
      s"small saturates at the 2-epoch cap: ${small}")
    assert(!big._7 && big._4 == 9000.0, s"big absorbs the rest: ${big}")
    assert(math.abs(r.map(_._4).sum - 11000.0) < 1e-6, "budget conserved")
    // decay: repeated tokens are worth less than fresh ones, but more
    // than one epoch's worth; fresh allocation is worth itself
    assert(small._6 < small._4 && small._6 > small._2,
      s"repeated domain decays below alloc, above unique: ${small}")
    assert(big._6 == big._4, "epochs <= 1 is worth itself")
    intercept[IllegalArgumentException] {
      Sampling.epochMix(doms, "dom", "u", "wi", maxEpochs = 0,
        budgetFrac = 0.5)
    }
    // zero- and NULL-capacity domains fail loudly IN-PLAN (raise_error
    // rides the capacity column — no eager extra pass over the input,
    // and a NULL cannot slip past a `<= 0` predicate)
    val zeroDom = Seq(("ok", 1000L), ("empty", 0L)).toDF("dom", "u")
      .withColumn("wi", lit(1000L))
    val eZero = intercept[Exception] {
      Sampling.epochMix(zeroDom, "dom", "u", "wi",
        maxEpochs = 2, budgetFrac = 0.5).collect()
    }
    assert(eZero.getMessage.contains("non-positive") ||
      eZero.getCause != null)
    val nullDom = Seq(("ok", java.lang.Long.valueOf(1000L)),
      ("nul", null.asInstanceOf[java.lang.Long])).toDF("dom", "u")
      .withColumn("wi", lit(1000L))
    intercept[Exception] {
      Sampling.epochMix(nullDom, "dom", "u", "wi",
        maxEpochs = 2, budgetFrac = 0.5).collect()
    }
  }

  test("sftAssemble: rank order, seq tie-break, head truncation, rendering") {
    val ev = Seq(
      // thread 1: ts tie between events 11 and 12 — seq breaks it
      (1L, 10L, 12L, "assistant", "hi there"),
      (1L, 10L, 11L, "user", "hi"),
      (1L, 20L, 13L, "user", "bye"),
      // thread 2: four turns, maxTurns=3 keeps the EARLIEST three
      (2L, 1L, 21L, "user", "a"),
      (2L, 2L, 22L, "assistant", "b"),
      (2L, 3L, 23L, "user", "c"),
      (2L, 4L, 24L, "assistant", "dropped"))
      .toDF("uid", "ts", "eid", "role", "msg")
    val out = Curation.sftAssemble(ev, "uid", "ts", "eid", "role", "msg",
        maxTurns = 3)
      .orderBy("thread_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    val c1 = "<|user|> hi\n<|assistant|> hi there\n<|user|> bye"
    val c2 = "<|user|> a\n<|assistant|> b\n<|user|> c"
    assert(out == Seq(
      (1L, 3L, c1.length.toLong, c1),
      (2L, 3L, c2.length.toLong, c2)))
    intercept[IllegalArgumentException] {
      Curation.sftAssemble(ev, "uid", "ts", "eid", "role", "msg", maxTurns = 0)
    }
  }

  test("domainOverlap: directed containment, sizes, absent zero-overlap pairs") {
    // 2-gram shingle sets: a = {p q, q r}, b = {p q}, c = {x y}
    val docs = Seq(
      ("a", "p q r"), ("b", "p q"), ("c", "x y"),
      ("a", "p q")) // duplicate shingle within a domain counts once
      .toDF("src", "text")
    val out = Text.domainOverlap(docs, "src", "text", k = 2)
      .orderBy("src_a", "src_b")
      .as[(String, String, Long, Long, Long, Double, Double)].collect().toSeq
    // only a<->b overlap ("p q"); c shares nothing and must be absent
    assert(out == Seq(
      ("a", "b", 2L, 1L, 1L, 0.5, 0.5),
      ("b", "a", 1L, 2L, 1L, 1.0, 0.5)))
  }

  test("waterFill: no saturation at a low budget; invalid budgetFrac refused") {
    val caps = Seq(("a", 5000L), ("b", 5000L)).toDF("dom", "cap")
      .withColumn("wi",
        floor(sqrt(col("cap").cast("double")) * 1e6 + 0.5).cast("long"))
    val r = Sampling.waterFill(caps, "dom", "cap", "wi", budgetFrac = 0.3)
      .select("alloc", "saturated").as[(Double, Boolean)].collect()
    assert(r.forall(!_._2), "30% of equal caps saturates nothing")
    assert(math.abs(r.map(_._1).sum - 3000.0) < 1e-6)
    intercept[IllegalArgumentException] {
      Sampling.waterFill(caps, "dom", "cap", "wi", budgetFrac = 1.0)
    }
  }
}
