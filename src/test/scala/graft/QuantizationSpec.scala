package graft

import org.apache.spark.sql.functions._
import graft.ops.Quantization

/** Product quantization: encode determinism and ADC ranking
  * approximating exact L2 search. */
class QuantizationSpec extends SparkSpec {
  import spark.implicits._

  // two gaussian-ish clusters per subspace half, 40 vectors of dim 8
  private def vecs = {
    val rnd = new scala.util.Random(7)
    (0L until 40L).map { i =>
      val base = if (i % 2 == 0) 1.0 else -1.0
      (i, Seq.tabulate(8)(j =>
        (base * (1 + j % 2) + rnd.nextGaussian() * 0.1).toFloat))
    }.toDF("id", "v")
  }

  test("encode emits one in-range code per subspace, deterministically") {
    val cb = Quantization.seedCodebooks(vecs, "id", "v", m = 2, dim = 8, ksub = 4)
    val enc = Quantization.encode(vecs, "v", cb, m = 2, dim = 8)
      .select(col("id"), col("codes"))
    val rows = enc.as[(Long, Seq[Int])].collect()
    assert(rows.length == 40)
    assert(rows.forall { case (_, cs) => cs.length == 2 && cs.forall(c => c >= 0 && c < 4) })
    // repeated evaluation gives the identical code assignment
    assert(rows.toSet == enc.as[(Long, Seq[Int])].collect().toSet)
  }

  // 8 distinct cluster patterns x 5 members: with one codebook entry
  // per cluster per subspace, ADC separates clusters while
  // within-cluster ranking stays quantized (PQ's accepted resolution
  // limit — codes, not vectors)
  private def clustered = {
    val rnd = new scala.util.Random(11)
    (0L until 40L).map { i =>
      val c = (i % 8).toInt
      (i, Seq.tabulate(8)(j =>
        (((c * 3 + j * 5) % 11) - 5 + rnd.nextGaussian() * 0.1).toFloat))
    }.toDF("id", "v")
  }

  test("ADC top-k matches exact L2 ranking on cluster-separated data") {
    // the codebook a converged training would reach: each cluster's
    // center, whose coordinates are distinct per cluster in every dim
    val cb = (for (c <- 0 until 8; sub <- 0 until 2)
        yield (sub, c, (sub * 4 until sub * 4 + 4)
          .map(j => (((c * 3 + j * 5) % 11) - 5).toDouble)))
      .toDF("subspace", "code_id", "cv")
    val probes = clustered.filter(col("id") < 4)
      .select(col("id").as("pid"), col("v"))
    val cands = clustered.filter(col("id") >= 4)
    val encoded = Quantization.encode(cands, "v", cb, m = 2, dim = 8)
      .select(col("id").as("cid"), col("codes"))
    val adc = Quantization.adcTopK(encoded, cb, probes, "pid", "cid", "v",
      m = 2, dim = 8, k = 4)
      .select("pid", "cid").as[(Long, Long)].collect().toSet
    // exact L2 top-4 per probe = the probe's 4 other cluster members
    val exact = probes.crossJoin(cands.select(col("id").as("cid"), col("v").as("cv")))
      .withColumn("d", Quantization.l2sq(col("v").cast("array<double>"),
        col("cv").cast("array<double>")))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("pid")
          .orderBy(col("d"), col("cid"))))
      .filter(col("rn") <= 4)
      .select("pid", "cid").as[(Long, Long)].collect().toSet
    val recall = (exact intersect adc).size.toDouble / exact.size
    assert(recall >= 0.9, s"ADC recall $recall")
    // every ADC hit lands in the probe's cluster
    assert(adc.forall { case (p, c) => p % 8 == c % 8 },
      "ADC returned a cross-cluster neighbor")
  }

  test("BQ packed hamming equals per-position sign-mismatch count") {
    val rnd = new scala.util.Random(41)
    // dims straddling word boundaries: 1, 63, 64, 65, 130; zeros included
    for (d <- Seq(1, 63, 64, 65, 130)) {
      val a = Array.fill(d)(rnd.nextDouble() * 2 - 1)
      val b = Array.fill(d)(rnd.nextDouble() * 2 - 1)
      a(0) = 0.0 // the boundary case: 0 is NOT > 0
      val df = Seq((a.toSeq, b.toSeq)).toDF("a", "b")
      val got = df.select(Quantization.bqHamming(
          Quantization.bqEncode(col("a")), Quantization.bqEncode(col("b"))))
        .head().getLong(0)
      val want = a.zip(b).count { case (x, y) => (x > 0) != (y > 0) }
      assert(got == want.toLong, s"dim $d")
      val words = df.select(Quantization.bqEncode(col("a"))).head().getSeq[Long](0)
      assert(words.length == (d + 63) / 64, s"dim $d word count")
    }
  }

  test("BQ distance orders angular neighbors ahead of antipodes") {
    val v = (0 until 64).map(i => if (i < 32) 1.0 else -1.0)
    val near = v.updated(0, -1.0) // 1 sign flip
    val anti = v.map(-_) // 64 flips
    val df = Seq(("near", near), ("anti", anti)).toDF("who", "u")
      .withColumn("h", Quantization.bqHamming(
        Quantization.bqEncode(col("u")),
        Quantization.bqEncode(typedLit(v))))
    val m = df.select("who", "h").as[(String, Long)].collect().toMap
    assert(m("near") == 1 && m("anti") == 64)
  }

  test("BQ encode of an empty vector is zero words, not an error") {
    val out = Seq(Seq.empty[Double]).toDF("v")
      .select(Quantization.bqEncode(col("v"))).head().getSeq[Long](0)
    assert(out.isEmpty)
  }
}
