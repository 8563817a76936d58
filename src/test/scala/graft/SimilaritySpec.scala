package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  /** Recall of a bucketed top-k ANN search: the share of exact top-k
    * pairs whose candidate lands in one of the probe's searched buckets.
    * A bucketed search ranks only those candidates, and an exact
    * neighbor among them stays in the top k, so this share IS its
    * recall. `probes(bucket)` gives the buckets a probe searches. */
  private def bucketRecall(vecs: DataFrame, k: Int, nBits: Int, dim: Int)(
                           probes: Column => Column): Double = {
    val planes = Similarity.portablePlanes(nBits, dim)
    val buckets = vecs.select(col("id"),
      Similarity.lshBucket(col("v"), planes).as("b"))
    val exact = Similarity.knnJoin(vecs, vecs.withColumnRenamed("id", "cid"),
      "id", "cid", "v", k = k).select("id", "cid")
    val found = exact
      .join(buckets.select(col("id"), probes(col("b")).as("pb")), "id")
      .join(buckets.select(col("id").as("cid"), col("b").as("cb")), "cid")
      .filter(array_contains(col("pb"), col("cb")))
    found.count().toDouble / exact.count()
  }

  test("cosine matches hand computation and handles zero vectors") {
    val df = Seq(
      ("parallel", Seq(1.0f, 2.0f, 2.0f), Seq(2.0f, 4.0f, 4.0f)),
      ("orthogonal", Seq(1.0f, 0.0f, 0.0f), Seq(0.0f, 1.0f, 0.0f)),
      ("zero", Seq(0.0f, 0.0f, 0.0f), Seq(1.0f, 1.0f, 1.0f)))
      .toDF("id", "a", "b")
    val out = df.select(col("id"),
      round(Similarity.cosine(col("a"), col("b")), 6).as("c"))
      .as[(String, Double)].collect().toMap
    assert(out("parallel") == 1.0)
    assert(out("orthogonal") == 0.0)
    assert(out("zero") == 0.0) // guarded, not NaN
  }

  test("knnJoin returns k nearest with deterministic tiebreak") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.0f, 1.0f)), (4L, Seq(-1.0f, 0.0f)))
      .toDF("id", "v")
    val out = Similarity.knnJoin(
      vecs.filter(col("id") === 1), vecs.withColumnRenamed("id", "cid"),
      "id", "cid", "v", k = 2)
      .select("cid").as[Long].collect().toSeq
    assert(out == Seq(2L, 3L)) // closest first, then orthogonal; opposite excluded
  }

  test("LSH-bucketed ANN achieves high recall of exact top-k on clustered data") {
    // two tight clusters far apart: neighbors stay in-bucket
    val rnd = new scala.util.Random(1)
    def jitter(base: Array[Float]): Seq[Float] =
      base.map(x => x + rnd.nextFloat() * 0.01f).toSeq
    val c1 = Array.fill(16)(1.0f)
    val c2 = Array.tabulate(16)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val rows = (0L until 20L).map(i => (i, jitter(if (i < 10) c1 else c2)))
    val vecs = rows.toDF("id", "v")
    val recall = bucketRecall(vecs, k = 3, nBits = 4, dim = 16)(b => array(b))
    assert(recall > 0.9, s"recall $recall")
  }

  test("multi-probe LSH recall >= single-bucket recall on spread data") {
    val rnd = new scala.util.Random(9)
    // looser clusters: single-bucket LSH will split some neighborhoods
    val rows = (0L until 60L).map { i =>
      val base = if (i % 3 == 0) 1.0f else if (i % 3 == 1) -1.0f else 0.3f
      (i, Seq.fill(16)(base + rnd.nextFloat() * 0.8f))
    }
    val vecs = rows.toDF("id", "v")
    def recallOf(mp: Int): Double = bucketRecall(vecs, k = 3, nBits = 6,
      dim = 16)(b => Similarity.hamming1Probes(b, bits = 6, flips = mp))
    val single = recallOf(0)
    val multi = recallOf(3)
    assert(multi >= single, s"multi-probe $multi < single $single")
    assert(multi > 0.5, s"multi-probe recall $multi")
  }

  test("kmeansCentroids converges to pure cells on separated clusters") {
    // Seeds are the k smallest-hash ids (arbitrary but deterministic), so
    // derive cluster membership FROM the seed ranking: the three seeds go
    // to distinct clusters, everyone else round-robins. With each cluster
    // seeded, spherical k-means (cosine assign + mean update) must
    // converge to cells that partition the clusters exactly.
    val ids = (0L until 30L).toDF("id")
    val seedIds = ids.withColumn("__h", xxhash64(col("id")))
      .orderBy("__h").limit(3).select("id").as[Long].collect()
    def clusterOf(id: Long): Int = seedIds.indexOf(id) match {
      case -1 => (id % 3).toInt
      case s  => s
    }
    val dirs = Seq(Seq(10.0f, 0.0f), Seq(0.0f, 10.0f), Seq(-7.0f, -7.0f))
    val pts = (0L until 30L).map { id =>
      val d = dirs(clusterOf(id))
      (id, Seq(d(0) + (id % 7) * 0.01f, d(1) + (id % 5) * 0.01f))
    }.toDF("id", "vec")
    val cents = Similarity.kmeansCentroids(pts, "id", "vec", k = 3, iters = 4)
    assert(cents.count() == 3)
    val assigned = Similarity.ivfAssign(pts, "vec", cents)
      .select("id", "centroid_id").as[(Long, Int)].collect()
    val cellsByCluster = assigned.groupBy { case (id, _) => clusterOf(id) }
      .map { case (cl, rows) => cl -> rows.map(_._2).toSet }
    // every cluster maps to exactly one cell, and no two clusters share one
    assert(cellsByCluster.values.forall(_.size == 1), s"$cellsByCluster")
    assert(cellsByCluster.values.flatten.toSet.size == 3, s"$cellsByCluster")
  }

  test("marginMining equals a driver-side brute-force replay of the ratio margin") {
    // deterministic vectors: v[d] = sin(id * (d + 1)) — hub-free but varied
    def vec(id: Int): Seq[Double] = (0 until 6).map(d => math.sin(id * (d + 1.0)))
    // id 0 would be the all-zeros vector (sin 0) — start at 1
    val probes = (1 to 5).map(i => (i.toLong, vec(i))).toDF("pid", "v")
    val cands = (100 until 112).map(i => (i.toLong, vec(i))).toDF("cid", "v")
    val out = Similarity.marginMining(probes, cands, "pid", "cid", "v", k = 3)
      .as[(Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap

    // brute-force replay with the same round-before-rank convention
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    // Spark's round() goes through BigDecimal.valueOf (decimal string),
    // not the exact binary expansion — replay must match
    def r4(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    val sims = for (p <- 1 to 5; c <- 100 until 112)
      yield (p.toLong, c.toLong, r4(cos(vec(p), vec(c))))
    def topMean(xs: Seq[(Double, Long)]): Double = {
      val top = xs.sortBy { case (s, id) => (-s, id) }.take(3).map(_._1)
      top.sum / top.size
    }
    val aMean = sims.groupBy(_._1).map { case (p, xs) =>
      p -> topMean(xs.map(t => (t._3, t._2))) }
    val bMean = sims.groupBy(_._2).map { case (c, xs) =>
      c -> topMean(xs.map(t => (t._3, t._1))) }
    // replay the denominator guard: probe 5's neighborhood means nearly
    // cancel here ((am+bm)/2 ~ -5e-4), and the unguarded ratio inflated
    // a NEGATIVE sim into a margin of ~400 — the exact advisor-r11
    // pathology. Non-positive denominators EXCLUDE the pair from the
    // ranking (advisor r12: a raw-sim fallback would interleave two
    // incomparable scales); a probe with no valid pair emits nothing.
    val expected = sims.groupBy(_._1).flatMap { case (p, xs) =>
      val scored = xs.flatMap { case (_, c, s) =>
        val den = (aMean(p) + bMean(c)) / 2
        if (den > 0) Some((c, s, s / den)) else None }
      if (scored.isEmpty) None
      else {
        val best = scored.minBy { case (c, _, m) => (-m, c) }
        Some(p -> (p, best._1, best._2, r4(best._3)))
      }
    }
    assert(out.keySet == expected.keySet)
    expected.foreach { case (p, e) =>
      val o = out(p)
      assert(o._2 == e._2 && o._3 == e._3, s"probe $p: $o vs $e")
      assert(math.abs(o._4 - e._4) < 1e-9, s"probe $p margin: $o vs $e")
    }
    // margins are well-defined ratios (no zero-neighborhood blowups here)
    assert(out.values.forall(r => !r._4.isNaN && !r._4.isInfinite))
  }

  test("marginMining degenerate neighborhoods: non-positive denominators are excluded") {
    // cands antipodal/orthogonal to the probe: every cosine <= 0, so
    // every pair's denominator is <= 0 and the raw ratio would be
    // NaN/Inf or sign-inverted (advisor r11). Such pairs are EXCLUDED
    // from the ranking (advisor r12: a raw-sim fallback interleaved two
    // incomparable scales) — a fully degenerate probe emits no pair.
    val probes = Seq((1L, Seq(1.0, 0.0))).toDF("pid", "v")
    val degen = Seq(
      (100L, Seq(-1.0, 0.0)),   // cos = -1
      (101L, Seq(-1.0, -0.1)),  // cos ~ -0.995
      (102L, Seq(0.0, -1.0))    // cos = 0 -> den = 0, still excluded
    ).toDF("cid", "v")
    val none = Similarity.marginMining(probes, degen, "pid", "cid", "v", k = 3)
      .as[(Long, Long, Double, Double)].collect()
    assert(none.isEmpty,
      s"all-degenerate neighborhood must emit nothing: ${none.toSeq}")
    // adding ONE aligned candidate restores exactly one valid pair: the
    // positive-den candidate wins even though a degenerate cand (102,
    // cos 0 > none here) would have ranked differently under raw-sim
    // interleaving; margin is the well-defined ratio.
    val mixed = degen.union(Seq((103L, Seq(1.0, 0.1))).toDF("cid", "v"))
    val out = Similarity.marginMining(probes, mixed, "pid", "cid", "v", k = 3)
      .as[(Long, Long, Double, Double)].collect()
    assert(out.length == 1)
    val (pid, cid, sim, margin) = out.head
    assert(pid == 1L && cid == 103L,
      s"only the positive-denominator candidate can win: ${out.head}")
    assert(!margin.isNaN && !margin.isInfinite && margin > 0 && sim > 0)
  }

  test("hamming1Probes: own bucket plus single-bit neighbors, guarded") {
    import graft.ops.Similarity.hamming1Probes
    val got = Seq(5L).toDF("b")
      .select(hamming1Probes(col("b"), bits = 4, flips = 2).as("p"))
      .as[Seq[Long]].head()
    // 5 = 0101: flip bit 0 -> 4, flip bit 1 -> 7
    assert(got == Seq(5L, 4L, 7L))
    // flips = 0 degrades to the exact-bucket singleton
    val one = Seq(9L).toDF("b")
      .select(hamming1Probes(col("b"), bits = 4, flips = 0).as("p"))
      .as[Seq[Long]].head()
    assert(one == Seq(9L))
    intercept[IllegalArgumentException](
      hamming1Probes(lit(0L), bits = 4, flips = 5))
  }

  test("lshKnobsForScale pins the measured production sizing rule") {
    import graft.ops.Similarity.lshKnobsForScale
    // at the calibration scale (and below it) the base knobs hold
    assert(lshKnobsForScale(20000L, 20000L) == (8, 2))
    assert(lshKnobsForScale(500L, 20000L) == (8, 2))
    // the measured 30x configuration: 10-bit bands, and the
    // recall-recovery band count that restored the fixed-knob cluster
    // set (PERF.md r16 three-way table)
    assert(lshKnobsForScale(60000L, 20000L) == (10, 6))
    // p = 1 - acos(0.35)/pi ~ 0.6138: each extra bit multiplies the
    // band count by ~1.629 - four bits up from base lands at 15 bands
    assert(lshKnobsForScale(200000L, 20000L) == (12, 15))
    // bits grow with log2(scale), bands monotone alongside
    val ladder = Seq(2e4, 4e4, 8e4, 1.6e5, 3.2e5)
      .map(n => lshKnobsForScale(n.toLong, 20000L))
    assert(ladder.map(_._1) == Seq(8, 9, 10, 11, 12))
    assert(ladder.map(_._2) == ladder.map(_._2).sorted)
    // guards fail loudly
    intercept[IllegalArgumentException](lshKnobsForScale(0L, 20000L))
    intercept[IllegalArgumentException](
      lshKnobsForScale(100L, 100L, borderlineCos = 1.0))
  }

  test("probeKnobsForScale pins the measured multi-probe configurations") {
    import graft.ops.Similarity.probeKnobsForScale
    // the measured r17 multi-probe knobs at 10x and 30x: 10-bit
    // minimum bucket resolution (8-bit H1 fan-out blew the candidate
    // guard), 2 bands (probing replaces bands), 4 flips
    assert(probeKnobsForScale(20000L, 20000L) == (10, 2, 4))
    assert(probeKnobsForScale(60000L, 20000L) == (10, 2, 4))
    // at 100x the density rule's 12 bits exceed the 10-bit floor, and
    // holding recall costs (1/p)^2 ~ 2.65x the flips: 11 of 12 usable
    assert(probeKnobsForScale(200000L, 20000L) == (12, 2, 11))
    // one more corpus doubling saturates H1 (18 flips > 13 bits): the
    // rule must REFUSE and point to lshKnobsForScale, not under-recall
    intercept[IllegalArgumentException](probeKnobsForScale(400000L, 20000L))
  }

  test("ivfKnobsForScale: constant cell size, nProbe constant, refuses past regime") {
    import graft.ops.Similarity.ivfKnobsForScale
    // the measured near-linear configurations (PERF.md r18, diversity
    // fixture at tau 0.9: slopes 1.01/1.06 at pair-recall 1.0000)
    assert(ivfKnobsForScale(20000L) == (200, 2))
    assert(ivfKnobsForScale(60000L) == (600, 2))
    assert(ivfKnobsForScale(200000L) == (2000, 2))
    // k floors at 1; ceil-div keeps cells at or under cellSize
    assert(ivfKnobsForScale(1L)._1 == 1)
    assert(ivfKnobsForScale(201L)._1 == 3)
    intercept[IllegalArgumentException](ivfKnobsForScale(0L))
    // the sqrt-k rule measured slope 2.37 (growing cells => quadratic
    // candidates); constant cells pay assignment N^2/cellSize instead,
    // so the rule refuses past the ~2M-vector certified regime and
    // points to the bands rule / a hierarchical coarse quantizer
    intercept[IllegalArgumentException](ivfKnobsForScale(3000000L))
  }
}
