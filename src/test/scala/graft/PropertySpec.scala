package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.ops.{Relational, Text}

/** Property tests for the operator invariants the reference pins with
  * table-driven cases (SURVEY.md §5): explode length contract, Jaccard
  * bounds, MinHash estimate behavior, upsert key-uniqueness. Raw
  * ScalaCheck generators with fixed seeds (the scalatest bridge artifact
  * is not in the offline cache). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int, seed: Long = 42L): Seq[T] = {
    val params = Gen.Parameters.default
    (0 until n).map(i => g.pureApply(params, Seed(seed + i)))
  }

  private val wordGen = Gen.nonEmptyListOf(Gen.oneOf(
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"))

  test("explodeArrays: output rows = sum of array sizes; values aligned") {
    samples(Gen.nonEmptyListOf(Gen.chooseNum(0, 5)), 15).foreach { sizes =>
      val rows = sizes.zipWithIndex.map { case (n, i) =>
        (i.toLong, (0 until n).map(_.toDouble), (0 until n).map(j => j * 10.0))
      }
      val df = rows.toDF("id", "x", "y")
      val out = Relational.explodeArrays(df, Seq("x", "y")).collect()
      assert(out.length == sizes.sum)
      out.foreach { r =>
        assert(r.getAs[Double]("y") == r.getAs[Double]("x") * 10.0)
      }
    }
  }

  test("jaccard is within [0,1], 1 on self, symmetric") {
    val cases = samples(Gen.zip(wordGen, wordGen), 15)
    val df = cases.toDF("a", "b")
    val out = df.select(
      Text.jaccard(col("a"), col("b")),
      Text.jaccard(col("b"), col("a")),
      Text.jaccard(col("a"), col("a")))
      .as[(Double, Double, Double)].collect()
    out.foreach { case (jab, jba, jaa) =>
      assert(jab >= 0.0 && jab <= 1.0)
      assert(jab == jba)
      assert(jaa == 1.0)
    }
  }

  test("as-of join: native equals a reference scan on random (key, time) data") {
    val pairGen = Gen.zip(Gen.chooseNum(0L, 6L), Gen.chooseNum(0L, 100L))
    (0 until 5).foreach { round =>
      val quotes = samples(pairGen, 60, seed = 1000L + round).distinct
        .map { case (k, t) => (k, t, k * 1000.0 + t) }
      val probes = samples(pairGen, 40, seed = 2000L + round).distinct
      val native = org.apache.spark.sql.graft.AsOfJoinApi.asOf(
        probes.toDF("k", "t"), quotes.toDF("k", "t", "v"),
        Seq("k"), "t", "v", "qv")
        .as[(Long, Long, Option[Double])].collect().toSet
      // reference semantics computed directly: max-time quote <= probe time
      val expected = probes.map { case (k, t) =>
        val q = quotes.filter(q => q._1 == k && q._2 <= t)
          .sortBy(_._2).lastOption.map(_._3)
        (k, t, q)
      }.toSet
      assert(native == expected, s"round $round")
    }
  }

  test("minhash estimate: 1 on identical sets, 0 on disjoint sets") {
    val df = Seq(
      (Seq("a b", "b c", "c d"), Seq("a b", "b c", "c d")),
      (Seq("a b", "b c"), Seq("x y", "y z"))).toDF("s1", "s2")
    // the estimate is the fraction of agreeing signature components
    val out = df.select(
        graft.functions.GraftExtensions.mdMinhashSignature(col("s1"), 32).as("a"),
        graft.functions.GraftExtensions.mdMinhashSignature(col("s2"), 32).as("b"))
      .select(aggregate(zip_with(col("a"), col("b"),
        (x, y) => when(x === y, 1).otherwise(0)), lit(0), _ + _)
        .cast("double") / size(col("a")))
      .as[Double].collect()
    assert(out(0) == 1.0)
    assert(out(1) == 0.0)
  }

  test("upsert output is key-unique for arbitrary version collisions") {
    val gen = Gen.listOfN(30, Gen.zip(Gen.chooseNum(1, 5), Gen.chooseNum(1, 3)))
    samples(gen, 8).foreach { pairs =>
      val half = pairs.length / 2
      val t = pairs.take(half).map { case (k, v) => (k, v, "t") }
      val s = pairs.drop(half).map { case (k, v) => (k, v, "s") }
      if (t.nonEmpty && s.nonEmpty) {
        val out = graft.ops.MergeOps.upsert(
          t.toDF("k", "ver", "src"), s.toDF("k", "ver", "src"),
          Seq("k"), "ver")
        val keys = out.select("k").as[Int].collect()
        assert(keys.length == keys.distinct.length, "one row per key")
      }
    }
  }

  test("connected components equal brute-force closure on random graphs") {
    val edgeGen = Gen.listOfN(25,
      Gen.zip(Gen.choose(0L, 30L), Gen.choose(0L, 30L)))
    for (edges <- samples(edgeGen, 6)) {
      val labeled = graft.ops.Graph.connectedComponents(
        edges.toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap
      // driver-side closure
      val clean = edges.filter(e => e._1 != e._2)
      val nodes = clean.flatMap(e => Seq(e._1, e._2)).distinct
      var lab = nodes.map(n => n -> n).toMap
      var changed = true
      while (changed) {
        changed = false
        for ((a, b) <- clean) {
          val m = math.min(lab(a), lab(b))
          if (lab(a) != m) { lab += a -> m; changed = true }
          if (lab(b) != m) { lab += b -> m; changed = true }
        }
      }
      assert(labeled == lab.filter { case (n, _) =>
        clean.exists(e => e._1 == n || e._2 == n) })
    }
  }

  test("sftAssemble equals a direct reference assembly on random event logs") {
    val evGen = Gen.zip(Gen.chooseNum(0L, 4L), Gen.chooseNum(0L, 9L),
      Gen.oneOf("user", "assistant"), Gen.oneOf("hi", "ok", "what", "bye"))
    (0 until 5).foreach { round =>
      // distinct-ify on (thread, ts) collisions via a synthetic seq id —
      // the tie-break column must be unique for a deterministic oracle
      val evs = samples(evGen, 60, seed = 3000L + round).zipWithIndex
        .map { case ((th, ts, role, msg), i) => (th, ts, i.toLong, role, msg) }
      val maxTurns = 1 + round
      val out = ops.Curation.sftAssemble(
          evs.toDF("th", "ts", "eid", "role", "msg"),
          "th", "ts", "eid", "role", "msg", maxTurns)
        .as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      val expected = evs.groupBy(_._1).map { case (th, g) =>
        val turns = g.sortBy(e => (e._2, e._3)).take(maxTurns)
          .map(e => s"<|${e._4}|> ${e._5}")
        val convo = turns.mkString("\n")
        th -> ((turns.size.toLong, convo.length.toLong, convo))
      }
      assert(out == expected, s"round $round maxTurns $maxTurns")
    }
  }

  test("domainOverlap equals brute-force set math on random corpora") {
    val docGen = Gen.zip(Gen.oneOf("da", "db", "dc"), wordGen)
    (0 until 5).foreach { round =>
      val docs = samples(docGen, 25, seed = 4000L + round)
      val k = 2
      def shingleSet(d: String): Set[String] = docs.filter(_._1 == d)
        .flatMap { case (_, ws) =>
          (1 to math.max(ws.size - (k - 1), 1))
            .map(i => ws.slice(i - 1, i - 1 + k).mkString(" "))
        }.toSet
      def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
      val expected = (for {
        a <- Seq("da", "db", "dc"); b <- Seq("da", "db", "dc") if a != b
        sa = shingleSet(a); sb = shingleSet(b)
        inter = (sa intersect sb).size if inter > 0
      } yield (a, b, sa.size.toLong, sb.size.toLong, inter.toLong,
        r4(inter.toDouble / sa.size),
        r4(inter.toDouble / (sa.size + sb.size - inter)))).toSet
      val out = ops.Text.domainOverlap(
          docs.map { case (d, ws) => (d, ws.mkString(" ")) }.toDF("d", "text"),
          "d", "text", k)
        .as[(String, String, Long, Long, Long, Double, Double)]
        .collect().toSet
      assert(out == expected, s"round $round")
    }
  }

  test("redact is idempotent and leaves no raw emails or 7+-digit runs") {
    val piiGen = Gen.oneOf(
      "call 5551234567 now", "x@y.org and 1.2.3.4", "nothing here",
      "a.b+c@d.co 192.168.0.255 12345678901", "id 123456 ok")
    val docs = samples(piiGen, 5).toDF("text")
    val once = docs.select(Text.redact(col("text"), Text.defaultPiiRules).as("r"))
    val twice = once.select(Text.redact(col("r"), Text.defaultPiiRules).as("r"))
    assert(once.as[String].collect().toSeq == twice.as[String].collect().toSeq)
    for (r <- once.as[String].collect()) {
      assert(!r.matches(".*[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}.*"), r)
      assert(!r.matches(".*[0-9]{7,}.*"), r)
    }
  }

  test("repetitionRatio stays in [0,1); 0 iff all shingles distinct") {
    for (words <- samples(wordGen, 8)) {
      val df = Seq(words.mkString(" ")).toDF("text")
      val r = df.select(Text.repetitionRatioOfShingles(
          Text.wordShingles(Text.tokens(col("text")), 2)).as("r"))
        .as[Double].collect().head
      assert(r >= 0.0 && r < 1.0, s"$words -> $r")
      val sh = words.sliding(2).map(_.mkString(" ")).toSeq
      val expectZero = words.size < 2 || sh.distinct.size == sh.size
      assert((r == 0.0) == expectZero, s"$words -> $r")
    }
  }

  test("charGrams: count/width contract for arbitrary strings incl. short ones") {
    val strGen = Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
    for (ss <- samples(Gen.listOfN(25, strGen), 4)) {
      val out = ss.toDF("s")
        .select(col("s"), graft.ops.Linkage.charGrams(col("s"), 4).as("g"))
        .as[(String, Seq[String])].collect()
      for ((s, grams) <- out) {
        // every gram is a real substring no wider than q; a short string
        // yields itself (never an empty gram set, never a throw)
        assert(grams.nonEmpty)
        assert(grams.forall(g => g.length <= 4 && s.contains(g)))
        if (s.length <= 4) assert(grams == Seq(s))
        else assert(grams.toSet == s.sliding(4).toSet)
      }
    }
  }

  test("representatives: exactly one member chosen per cluster") {
    val rowGen = Gen.listOfN(30,
      Gen.zip(Gen.choose(0L, 50L), Gen.choose(0L, 5L), Gen.choose(0, 100)))
    for (rows <- samples(rowGen, 4)) {
      val labeled = rows.distinct.toDF("node", "cluster", "score")
      val reps = graft.ops.Graph.representatives(
        labeled, "node", "cluster", "score")
        .as[(Long, Long, Int)].collect()
      val clusters = rows.map(_._2).distinct.sorted
      assert(reps.map(_._2).sorted.toSeq == clusters)
      for ((node, cluster, score) <- reps) {
        val members = rows.distinct.filter(_._2 == cluster)
        assert(members.contains((node, cluster, score)))
        val best = members.maxBy(m => (m._3, -m._1))
        assert((node, score) == ((best._1, best._3)))
      }
    }
  }

  test("bestOfN: mean at n=1, max at n=N, monotone in n, on random pools") {
    import graft.ops.Preference
    val poolGen = Gen.nonEmptyListOf(Gen.chooseNum(0, 1000))
    samples(poolGen, 12).zipWithIndex.foreach { case (rs, pi) =>
      val df = rs.zipWithIndex
        .map { case (r, i) => (pi.toLong, i.toLong, r / 1000.0) }
        .toDF("pid", "id", "r")
      val n = rs.size
      val out = Preference.bestOfN(df, "pid", "id", "r",
          ns = (1 to math.min(n, 6)) :+ n)
        .orderBy("n").select("n", "bon").as[(Int, Double)].collect().toSeq
      val mean = rs.map(_ / 1000.0).sum / n
      val mx = rs.max / 1000.0
      assert(math.abs(out.head._2 - mean) < 1e-9, "n=1 is the pool mean")
      assert(math.abs(out.last._2 - mx) < 1e-9, "n=N is the pool max")
      out.sliding(2).foreach {
        case Seq(a, b) => assert(b._2 >= a._2 - 1e-12, "monotone in n")
        case _ =>
      }
    }
  }

  test("grpoAdvantage: zero mean, unit variance (or all-zero) per pool") {
    import graft.ops.Preference
    val poolGen = Gen.nonEmptyListOf(Gen.chooseNum(0, 100))
    samples(poolGen, 12).zipWithIndex.foreach { case (rs, pi) =>
      val df = rs.zipWithIndex
        .map { case (r, i) => (pi.toLong, i.toLong, r.toDouble) }
        .toDF("pid", "id", "r")
      val adv = Preference.grpoAdvantage(df, "pid", "r")
        .select("advantage").as[Double].collect().toSeq
      val n = adv.size
      assert(math.abs(adv.sum) < 1e-7 * n, "advantages sum to ~0")
      if (rs.distinct.size == 1)
        assert(adv.forall(_ == 0.0), "all-tied pool scores exactly 0")
      else
        assert(math.abs(adv.map(a => a * a).sum / n - 1.0) < 1e-7,
          "population variance of advantages is 1")
    }
  }

  test("passAtK: in [0,1], monotone in k, exact at k=n, brute-force match") {
    import graft.ops.Preference
    val gen = Gen.zip(Gen.chooseNum(1, 8), Gen.chooseNum(0, 8))
    samples(gen, 15).collect { case (n, c0) => (n, math.min(c0, n)) }
      .zipWithIndex.foreach { case ((n, c), pi) =>
        val df = (0 until n).map(i => (pi.toLong, i.toLong, "e",
          if (i < c) 1.0 else 0.0)).toDF("pid", "id", "e", "r")
        val out = Preference.passAtK(df, "pid", col("r") > 0.5,
            ks = (1 to n)).orderBy("k")
          .select("k", "pass_at_k").as[(Int, Double)].collect().toSeq
        assert(out.size == n)
        out.sliding(2).foreach {
          case Seq(a, b) => assert(b._2 >= a._2 - 1e-12, "monotone in k")
          case _ =>
        }
        // brute force over all C(n,k) subsets for small n
        out.foreach { case (k, p) =>
          val subsets = (0 until n).combinations(k).toSeq
          val hit = subsets.count(_.exists(_ < c)).toDouble / subsets.size
          assert(math.abs(p - hit) < 1e-9,
            s"pass@$k analytic == subset enumeration (n=$n c=$c)")
        }
        assert(out.last._2 == (if (c > 0) 1.0 else 0.0),
          "k=n is certain iff any sample passes")
      }
  }

  test("btLeaderboard: strengths sum to 1 and order by win dominance") {
    import graft.ops.Preference
    // random round-robin outcomes over 4 entities; dominance = an
    // entity whose wins strictly contain another's must not rank lower
    val gen = Gen.listOfN(24, Gen.zip(Gen.chooseNum(0, 3), Gen.chooseNum(0, 3)))
    samples(gen, 8).foreach { pairs =>
      val games = pairs.collect { case (a, b) if a != b =>
        (s"e$a", s"e$b") }
      if (games.nonEmpty) {
        val out = Preference.btLeaderboard(games.toDF("winner", "loser"))
          .select("entity", "wins", "games", "strength")
          .as[(String, Long, Long, Double)].collect().toSeq
        assert(math.abs(out.map(_._4).sum - 1.0) < 1e-9,
          "strengths normalize to 1")
        out.foreach { case (_, w, g, s) =>
          assert(s >= 0.0 && s <= 1.0 && w <= g)
        }
      }
    }
  }

  test("spanCorrupt: splicing targets into inputs reconstructs the text") {
    import graft.ops.Corrupt
    val docs = samples(wordGen, 20).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
    val out = Corrupt.spanCorrupt(docs.toDF("doc_id", "text"),
        "doc_id", "text", blockLen = 3, maskOneInK = 3)
      .orderBy("id")
      .select("id", "n_tokens", "n_masked", "n_spans", "inputs", "targets")
      .as[(Long, Long, Long, Long, String, String)].collect().toSeq
    assert(out.size == docs.size)
    out.zip(docs).foreach { case ((id, nt, nm, ns, in, tg), (did, text)) =>
      assert(id == did)
      val orig = text.split(" ", -1).toSeq
      assert(nt == orig.size)
      // parse targets into sentinel -> span tokens
      val spans = if (tg.isEmpty) Map.empty[Int, Seq[String]]
        else ("""<extra_id_(\d+)>""".r.split(tg).toSeq.tail zip
          """<extra_id_(\d+)>""".r.findAllMatchIn(tg).map(_.group(1).toInt)
            .toSeq)
          .map { case (body, k) => k -> body.trim.split(" ", -1).toSeq }
          .toMap
      assert(spans.size == ns, "one target span per sentinel")
      assert(spans.values.map(_.size).sum == nm)
      // splice each sentinel's span back into the inputs
      val rebuilt = in.split(" ", -1).toSeq.flatMap { t =>
        """<extra_id_(\d+)>""".r.findFirstMatchIn(t) match {
          case Some(m) => spans(m.group(1).toInt)
          case None => Seq(t)
        }
      }
      assert(rebuilt == orig, s"doc $id must reconstruct exactly")
      // the deterministic mask is reproducible run-to-run by hash, and
      // spans are block-aligned: every span starts at a multiple of 3
      val sentPos = in.split(" ", -1).toSeq
      assert(ns == sentPos.count(_.startsWith("<extra_id_")))
    }
    // at maskOneInK=3 over 20 random docs SOMETHING must be masked
    assert(out.map(_._3).sum > 0, "fixture must exercise masking")
  }

  test("doremiWeights: KL excess ranks divergence; weights sum to 1") {
    import graft.ops.Sampling
    // identical domain distributions -> zero excess, uniform weights
    val same = Seq(("d1", "a b a b"), ("d2", "a a b b")).toDF("source", "text")
    val u = Sampling.doremiWeights(same, "source", "text")
      .select("excess", "weight").as[(Double, Double)].collect().toSeq
    u.foreach { case (e, w) =>
      assert(math.abs(e) < 1e-12 && math.abs(w - 0.5) < 1e-12)
    }
    // the domain farther from the corpus mix gets the larger weight:
    // d_a is all-'a' (KL = log2(8/5) ≈ 0.678), d_b is mixed (≈ 0.420)
    val skew = Seq(("d_a", "a a a a"), ("d_b", "a b c d"))
      .toDF("source", "text")
    val out = Sampling.doremiWeights(skew, "source", "text")
      .orderBy("domain").select("domain", "excess", "weight")
      .as[(String, Double, Double)].collect().toSeq
    assert(math.abs(out(0)._2 - math.log(8.0 / 5) / math.log(2)) < 1e-9)
    assert(out.forall(_._2 > 0))
    assert(out(0)._3 > out(1)._3, "higher excess -> higher weight")
    assert(math.abs(out.map(_._3).sum - 1.0) < 1e-12, "weights sum to 1")
  }

  test("doremiModelDF: append-accumulated store fits like one-shot; totals exact") {
    import graft.ops.Sampling
    val docs = samples(wordGen, 40).zipWithIndex.map { case (ws, i) =>
      (i.toLong, s"d${i % 3}", ws.mkString(" "))
    }.toDF("doc_id", "source", "text")
    // one-shot model vs two batch models APPENDED without re-aggregation
    val oneShot = Sampling.doremiModelDF(docs, "source", "text")
    val appended = Sampling.doremiModelDF(
        docs.filter($"doc_id" % 2 === 0), "source", "text")
      .unionAll(Sampling.doremiModelDF(
        docs.filter($"doc_id" % 2 =!= 0), "source", "text"))
    def fit(m: org.apache.spark.sql.DataFrame) =
      Sampling.doremiFromModel(m).orderBy("domain")
        .select($"domain", $"n_tokens", round($"excess", 9), round($"weight", 9))
        .collect().map(_.toSeq).toSeq
    assert(fit(appended) == fit(oneShot),
      "duplicate (domain,bucket) keys must re-aggregate, not last-win")
    // hashing preserves counts: n_tokens matches the raw-token path
    val raw = Sampling.doremiWeights(docs, "source", "text")
      .orderBy("domain").select("n_tokens").as[Long].collect().toSeq
    val hashed = Sampling.doremiFromModel(oneShot)
      .orderBy("domain").select("n_tokens").as[Long].collect().toSeq
    assert(hashed == raw, "bucketing must preserve per-domain totals")
  }

  test("ul2Mix: partitions docs across paradigms; S splits reconstruct") {
    import graft.ops.Corrupt
    val docs = samples(wordGen, 30).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
    val out = Corrupt.ul2Mix(docs.toDF("doc_id", "text"), "doc_id", "text")
      .select("id", "paradigm", "n_tokens", "n_masked", "inputs", "targets")
      .as[(Long, String, Long, Long, String, String)].collect().toSeq
    // every doc appears exactly once, under exactly one paradigm
    assert(out.map(_._1).sorted == docs.map(_._1))
    assert(out.map(_._2).toSet.subsetOf(Set("R", "X", "S")))
    // the S branch is a clean prefix split: inputs ++ targets == text
    out.filter(_._2 == "S").foreach { case (id, _, nt, nm, in, tg) =>
      val orig = docs.find(_._1 == id).get._2
      val joined = Seq(in, tg).filter(_.nonEmpty).mkString(" ")
      assert(joined == orig, s"S split of doc $id must reconstruct")
      assert(nm == (if (tg.isEmpty) 0 else tg.split(" ", -1).length))
      assert(nt == orig.split(" ", -1).length)
    }
    // masked fractions: X (1/2 blocks of 8) must exceed R (1/7 of 3)
    // in aggregate across the fixture
    def frac(p: String) = {
      val rows = out.filter(_._2 == p)
      if (rows.isEmpty) 0.0
      else rows.map(_._4).sum.toDouble / math.max(1L, rows.map(_._3).sum)
    }
    if (out.exists(_._2 == "R") && out.exists(_._2 == "X"))
      assert(frac("X") > frac("R"), "extreme denoiser masks more")
  }

  test("fimTransform: P+M+S reassembles the text; cuts ordered in range") {
    import graft.ops.Corrupt
    val docs = samples(wordGen, 20).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
    val out = Corrupt.fimTransform(docs.toDF("doc_id", "text"),
        "doc_id", "text")
      .orderBy("id").select("id", "n_tokens", "cut_a", "cut_b", "fim")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    out.zip(docs).foreach { case ((_, nt, a, b, fim), (_, text)) =>
      val orig = text.split(" ", -1).toSeq
      assert(nt == orig.size && 0 <= a && a <= b && b <= nt)
      val Array(rest0, pm) = fim.split("<fim_prefix> ", 2).tail match {
        case Array(x) => Array("", x)
      }
      val Array(p, rest1) = pm.split(" <fim_suffix> ", 2)
      val Array(s, m) = rest1.split(" <fim_middle> ", 2)
      def toks(x: String) = if (x.isEmpty) Seq.empty
        else x.split(" ", -1).toSeq
      assert(toks(p) ++ toks(m) ++ toks(s) == orig,
        "prefix + middle + suffix must reassemble the original tokens")
      assert(toks(p).size == a && toks(m).size == b - a)
      assert(rest0.isEmpty)
    }
  }

  test("jsDrift: bounded in [0,1] and zero iff same distribution") {
    import graft.ops.Validation
    samples(wordGen, 10).foreach { words =>
      val text = words.mkString(" ")
      val ref = Validation.tokenHistogram(Seq(text).toDF("text"), "text")
      // same text scaled 3x has the identical distribution -> JS 0;
      // an unrelated vocab is disjoint -> JS 1
      val arr = Seq(("same", Seq(text, text, text).mkString(" ")),
        ("disj", "zzz qqq zzz")).toDF("grp", "text")
      val out = Validation.jsDrift(ref, arr, "grp", "text")
        .orderBy("grp").select("grp", "js").as[(String, Double)]
        .collect().toMap
      assert(math.abs(out("same")) < 1e-9)
      assert(math.abs(out("disj") - 1.0) < 1e-9)
    }
  }
}
