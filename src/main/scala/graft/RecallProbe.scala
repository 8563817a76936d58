package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Candidate-generator RECALL probe (round 18, judge r17 top task):
  * cluster counts alone are ambiguous — fewer clusters can mean more
  * true links merged OR whole 2-node clusters missed — so this main
  * measures pair-level recall DIRECTLY against brute-force truth.
  * Every generator feeds the same exact round-3 cosine ≥ τ verify,
  * so each generator's verified pair set is a SUBSET of the brute-force
  * truth set and recall is a straight count ratio (no pair join
  * needed). For truth and each generator — banded sign-LSH
  * (lshKnobsForScale), Hamming-1 multi-probe (probeKnobsForScale), IVF
  * cells (ivfKnobsForScale) — it reports verified pairs, covered nodes,
  * and CC cluster count.
  *
  * Brute-force truth is O(N²/2) native cosines, so this runs at probe
  * scales (10×/30× fixture), not production — the point is calibrating
  * the generators' recall once, with numbers, where ScaleCheck then
  * tracks the registry's cost slopes.
  *
  * Usage: runMain graft.ScaleFixture <sfDir> <root> <X>
  *        runMain graft.RecallProbe <root> <X> [gen …]
  * (gens default to "bands,multiprobe,ivf"; truth always runs). */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: RecallProbe <fixtureRoot> <X> [gen …]")
    val fixtureRoot = args(0)
    val scaleX = args(1).toInt
    val gens: Seq[String] =
      if (args.length > 2) args.drop(2).toSeq else Seq("bands", "multiprobe", "ivf")
    // SPARK_GRAFT_RECALL_TAU: the verify gate. 0.35 (default) matches
    // the registry's historical near-dup gate — but the base corpus has
    // a measured 0.21% BACKGROUND rate of >= 0.35 pairs among unrelated
    // vectors, so at that gate true pair volume is TH(N^2 * 0.002) on
    // any growing corpus and no generator can be near-linear at held
    // recall. Production embedding dedup gates at ~0.9+ (SemDeDup),
    // where background is ~zero and truth tracks the planted cluster
    // structure — the regime the embeddings_d fixture measures.
    val tau = sys.env.getOrElse("SPARK_GRAFT_RECALL_TAU", "0.35").toDouble
    val spark = core.Session.build("graft-recall")

    val nVec = 2000L * scaleX
    // SPARK_GRAFT_RECALL_TABLE=embeddings_d probes the DIVERSITY-growing
    // fixture (ScaleFixture's linear-truth growth model) instead of the
    // replication table; both hold 2000·X rows
    val table = sys.env.getOrElse("SPARK_GRAFT_RECALL_TABLE", "embeddings")
    val e = core.Tables(spark, s"$fixtureRoot/x$scaleX", table)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    require(e.count() == nVec, s"fixture x$scaleX/$table != $nVec rows")

    def verified(cand: DataFrame): DataFrame = cand
      .join(e.select(col("vec_id").as("id_a"), col("v").as("va")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("v").as("vb")), "id_b")
      .filter(round(ops.Similarity.cosine(col("va"), col("vb")), 3) >= tau)
      .select("id_a", "id_b")

    def report(tag: String, pairs: DataFrame, truthPairs: Long): Unit = {
      val t0 = System.nanoTime()
      val p = pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nPairs = p.count()
      val nNodes = p.select(col("id_a").as("n"))
        .union(p.select(col("id_b").as("n"))).distinct().count()
      val nClusters = ops.Graph.connectedComponents(p, "id_a", "id_b")
        .select("cluster").distinct().count()
      p.unpersist(blocking = false)
      val t = (System.nanoTime() - t0) / 1e9
      val recall = if (truthPairs > 0) nPairs.toDouble / truthPairs else 1.0
      println(f"[recall${scaleX}x $table tau=$tau%.2f] $tag%-12s pairs=$nPairs%10d  " +
        f"nodes=$nNodes%8d  clusters=$nClusters%6d  " +
        f"pairRecall=$recall%7.4f  ($t%6.1f s)")
    }

    // brute-force truth: every (a<b) pair through the SAME exact verify,
    // cosine computed INLINE in the cross join (id-rejoining 2e8
    // candidate rows would shuffle the whole pair set twice; the
    // broadcast nested-loop with the filter fused is two orders
    // cheaper).
    // cross-bound: deliberate O(N²/2) — this main exists to pay it once
    // at probe scale; generators are measured against it
    // SPARK_GRAFT_RECALL_TRUTH_PAIRS: skip the O(N²/2) truth pass and
    // use a previously-measured pair count as the recall denominator —
    // for single-generator knob experiments at a scale whose truth is
    // already journaled
    val truthOverride = sys.env.get("SPARK_GRAFT_RECALL_TRUTH_PAIRS").map(_.toLong)
    val truth = e.select(col("vec_id").as("id_a"), col("v").as("va"))
      .crossJoin(broadcast(e.select(col("vec_id").as("id_b"), col("v").as("vb"))))
      .filter(col("id_a") < col("id_b") &&
        round(ops.Similarity.cosine(col("va"), col("vb")), 3) >= tau)
      .select("id_a", "id_b")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val truthPairs = truthOverride.getOrElse {
      val n = truth.count()
      report("truth", truth, n)
      n
    }

    if (gens.contains("bands")) {
      val (bb, nBands) = ops.Similarity.lshKnobsForScale(nVec, 20000L,
        borderlineCos = tau)
      val planes = ops.Similarity.portablePlanes(nBits = nBands * bb, dim = 64)
      val banded = e.select(col("vec_id"),
          explode(ops.Similarity.lshBands(col("v"), planes, bandBits = bb))
            .as("bb"))
        .select(col("bb.band").as("band"), col("bb.bucket").as("bucket"),
          col("vec_id"))
      val cand = banded.select(col("band"), col("bucket"), col("vec_id").as("id_a"))
        .join(banded.select(col("band"), col("bucket"), col("vec_id").as("id_b")),
          Seq("band", "bucket"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
      report(s"bands(${nBands}x$bb)", verified(cand), truthPairs)
    }

    if (gens.contains("multiprobe")) {
      val (bb, nBands, flips) = ops.Similarity.probeKnobsForScale(nVec, 20000L,
        borderlineCos = tau)
      val planes = ops.Similarity.portablePlanes(nBits = nBands * bb, dim = 64)
      val banded = e.select(col("vec_id"),
          explode(ops.Similarity.lshBands(col("v"), planes, bandBits = bb))
            .as("bb"))
        .select(col("bb.band").as("band"), col("bb.bucket").as("bucket"),
          col("vec_id"))
      val probe = banded.select(col("band"), col("vec_id").as("id_a"),
        explode(ops.Similarity.hamming1Probes(col("bucket"), bits = bb,
          flips = flips)).as("bucket"))
      val cand = probe
        .join(banded.select(col("band"), col("bucket"), col("vec_id").as("id_b")),
          Seq("band", "bucket"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
      report(s"probe(${bb}b+$flips)", verified(cand), truthPairs)
    }

    if (gens.contains("ivftree")) {
      // the two-level assignment path: fine centroids trained on a
      // deterministic ~10% sample (training is the bounded batch job;
      // serving assignment is what the tree accelerates), coarse
      // quantizer + routing built inside ivfAssignTree
      val (k, k1, cProbe0, nProbe) = ops.Similarity.ivfTreeKnobsForScale(nVec)
      val cProbe = sys.env.get("SPARK_GRAFT_RECALL_TREE_COARSE_PROBE")
        .map(_.toInt).getOrElse(cProbe0)
      val sampleMod = math.max(1L, nVec / 200000L)
      val train = e.filter(col("vec_id") % sampleMod === 0)
      val cents = ops.Similarity.kmeansCentroids(train, "vec_id", "v",
        k = k, iters = 2, assignNative = true)
      val assigned = ops.Similarity.ivfAssignTree(e, "v", cents,
        coarseK = k1, coarseProbe = cProbe, nProbe = nProbe)
        .select(col("centroid_id"), col("vec_id"))
      val cand = assigned.select(col("centroid_id"), col("vec_id").as("id_a"))
        .join(assigned.select(col("centroid_id"), col("vec_id").as("id_b")),
          Seq("centroid_id"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
      report(s"tree(k=$k,c=$k1/$cProbe)", verified(cand), truthPairs)
    }

    if (gens.contains("ivf")) {
      // env overrides for knob experiments (e.g. constant-cell-size
      // k = N/cellSize vs the sqrt rule): SPARK_GRAFT_RECALL_IVF_K /
      // SPARK_GRAFT_RECALL_IVF_NPROBE
      val (k0, np0) = ops.Similarity.ivfKnobsForScale(nVec)
      val k = sys.env.get("SPARK_GRAFT_RECALL_IVF_K").map(_.toInt).getOrElse(k0)
      val nProbe = sys.env.get("SPARK_GRAFT_RECALL_IVF_NPROBE")
        .map(_.toInt).getOrElse(np0)
      val cents = ops.Similarity.kmeansCentroids(e, "vec_id", "v",
        k = k, iters = 3, assignNative = true)
      val assigned = ops.Similarity.ivfAssignNative(e, "v", cents,
        nProbe = nProbe).select(col("centroid_id"), col("vec_id"))
      val cand = assigned.select(col("centroid_id"), col("vec_id").as("id_a"))
        .join(assigned.select(col("centroid_id"), col("vec_id").as("id_b")),
          Seq("centroid_id"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
      report(s"ivf(k=$k,p=$nProbe)", verified(cand), truthPairs)
    }

    truth.unpersist(blocking = false)
    e.unpersist(blocking = false)
    spark.stop()
  }
}
