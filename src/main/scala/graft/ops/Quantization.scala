package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) for embedding columns — the compression leg
  * of large-scale ANN (IVF-PQ): a dim-D vector becomes `m` small integer
  * codes, one per subspace, each the id of the nearest codebook entry for
  * that subspace. A 64-float embedding compresses to 4 ints (~32×); ADC
  * search then scans CODES, not vectors, and reconstructs approximate
  * distances from a per-probe lookup table — at 100 TB the scan is
  * memory-bandwidth-bound, so reading 16 bytes/row instead of 256 is the
  * whole game.
  *
  * Everything is codegen-friendly column algebra: codebooks pack into ONE
  * broadcast row, encode is a per-row argmin HOF (zero shuffle, same
  * design as [[Similarity.ivfAssign]]), training exchanges only
  * (m·ksub·dim)-sized aggregates per Lloyd round, and ADC is an array
  * lookup join. (PQ: Jégou, Douze, Schmid, "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011.)
  */
object Quantization {

  /** Squared L2 distance of two double arrays (HOF; one zip pass). */
  def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0d), _ + _)

  private def rank(c: Column, distRound: Int): Column =
    if (distRound >= 0) round(c, distRound) else c

  /** Seed codebooks `(subspace, code_id, cv)`: the `ksub` rows with the
    * smallest `seedHash(id)` (data-independent spread, portable when the
    * hash is), sliced into `m` subvectors of width dim/m. With seeds every
    * subspace has the full `ksub` codes — Lloyd rounds may drop empty
    * cells, like [[Similarity.kmeansCentroids]]. */
  def seedCodebooks(df: DataFrame, id: String, vecCol: String,
                    m: Int, dim: Int, ksub: Int,
                    seedHash: Column => Column = xxhash64(_)): DataFrame = {
    val w = dim / m
    require(m * w == dim, s"dim $dim must divide into $m subspaces")
    df.select(col(id), col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__h", seedHash(col(id)))
      .orderBy("__h").limit(ksub)
      // bounded: limit-ksub input
      .withColumn("code_id",
        row_number().over(Window.partitionBy(lit(0)).orderBy("__h")) - 1)
      .select(col("code_id"),
        posexplode(array((0 until m).map(i =>
          slice(col("__v"), i * w + 1, w)): _*)).as(Seq("subspace", "cv")))
      .select(col("subspace"), col("code_id"), col("cv"))
  }

  /** One broadcast row holding every codebook entry. */
  private def packed(codebooks: DataFrame): DataFrame =
    codebooks.agg(collect_list(struct(
      col("subspace"), col("code_id"), col("cv"))).as("__cb"))

  /** Per-row PQ codes: `codes[i]` = argmin over the subspace-i codebook of
    * squared L2 distance to the row's i-th subvector, ties to the lower
    * code id. Zero shuffle: one broadcast of the packed codebook, argmin
    * as `array_min` over a struct array ((dist, id) lexicographic order
    * IS the tie rule). `distRound` >= 0 ranks on the rounded distance so
    * an external oracle can replay the argmin across engines. */
  def encode(df: DataFrame, vecCol: String, codebooks: DataFrame,
             m: Int, dim: Int, distRound: Int = -1,
             codesCol: String = "codes"): DataFrame = {
    val w = dim / m
    val v = col(vecCol).cast("array<double>")
    df.crossJoin(broadcast(packed(codebooks)))
      .withColumn(codesCol,
        transform(sequence(lit(0), lit(m - 1)), mm =>
          array_min(transform(
            filter(col("__cb"), e => e.getField("subspace") === mm),
            e => struct(
              rank(l2sq(slice(v, mm * w + 1, lit(w)), e.getField("cv")),
                distRound).as("d"),
              e.getField("code_id").as("j"))))
            .getField("j")))
      .drop("__cb")
  }

  /** Residual of each vector against its assigned IVF cell centroid:
    * adds `centroid_id` (via the zero-shuffle [[Similarity.ivfAssign]])
    * and `resCol` = v − centroid. Residuals concentrate near zero, so a
    * shared PQ codebook quantizes them far better than raw vectors — the
    * standard IVF-PQ composition. One broadcast join on `centroid_id`. */
  def residuals(df: DataFrame, vecCol: String, centroids: DataFrame,
                resCol: String = "residual", simRound: Int = -1,
                nProbe: Int = 1): DataFrame = {
    val assigned = Similarity.ivfAssign(df, vecCol,
      centroids, nProbe = nProbe, simRound = simRound)
    assigned
      .join(broadcast(centroids.select(col("centroid_id"),
        col(vecCol).cast("array<double>").as("__cent"))), Seq("centroid_id"))
      .withColumn(resCol,
        zip_with(col(vecCol).cast("array<double>"), col("__cent"), _ - _))
      .drop("__cent")
  }

  /** ADC (asymmetric distance computation) top-k: for each probe, the `k`
    * encoded candidates with the smallest approximate distance
    * `sum_i table[i][codes[i]]`, where `table` — each probe's subspace ×
    * code distance grid — is computed ONCE per probe against the broadcast
    * codebook. The candidate side touches only (candId, codes): M ints per
    * row, never the original vectors. Rounding: per-cell `distRound`, and
    * the final rank on `round(dist, totalRound)` with the candidate id as
    * tiebreak, so results replay deterministically across engines. */
  def adcTopK(encoded: DataFrame, codebooks: DataFrame,
              probes: DataFrame, probeId: String, candId: String,
              vecCol: String, m: Int, dim: Int, k: Int,
              distRound: Int = -1, totalRound: Int = 4,
              codesCol: String = "codes"): DataFrame = {
    val w = dim / m
    val pv = col(vecCol).cast("array<double>")
    // per-probe table: array over subspaces of (code_id -> distance) maps
    // (a map, not a positional array: Lloyd-trained codebooks may have
    // dropped ids)
    val tabled = probes.crossJoin(broadcast(packed(codebooks)))
      .select(col(probeId), transform(sequence(lit(0), lit(m - 1)), mm =>
        map_from_entries(transform(
          filter(col("__cb"), e => e.getField("subspace") === mm),
          e => struct(e.getField("code_id"),
            rank(l2sq(slice(pv, mm * w + 1, lit(w)), e.getField("cv")),
              distRound))))).as("__tbl"))
    val pairs = encoded.select(col(candId), col(codesCol))
      .crossJoin(broadcast(tabled))
      .withColumn("dist", round(
        aggregate(zip_with(col("__tbl"), col(codesCol),
          (t, c) => element_at(t, c)), lit(0.0d), _ + _), totalRound))
    val win = Window.partitionBy(probeId).orderBy(col("dist"), col(candId))
    pairs.withColumn("__rn", row_number().over(win))
      .filter(col("__rn") <= k)
      .select(col(probeId), col(candId), col("dist"))
  }

  // ---- scalar quantization (SQ8) ------------------------------------------
  //
  // The per-DIMENSION companion of PQ: an affine int8 quantizer
  // `code_i = round((x_i − lo_i) / step_i)` with `step_i = (hi_i − lo_i)/255`
  // trained from per-dimension min/max. A 64-float vector becomes 64 bytes
  // (4×); unlike PQ there is no codebook argmin — encode and the
  // dequantized dot are pure per-row column algebra, so SQ8 is the
  // cheapest compression tier (the FAISS `SQ8` index shape). At 100 TB
  // the trained stats are `dim` doubles of bounded driver state (the
  // sim_pca_project contract) broadcast as literals into a map-only plan.

  /** Per-dimension quantizer stats `(pos, lo, step)`, `pos` 1-based.
    * One posexplode → groupBy(pos): min/max partial-aggregate map-side,
    * so the exchange carries partitions×dim rows regardless of N. */
  def sqTrain(df: DataFrame, vecCol: String): DataFrame =
    df.select(posexplode(col(vecCol).cast("array<double>")).as(Seq("pos0", "x")))
      .groupBy((col("pos0") + 1).as("pos"))
      .agg(min(col("x")).as("lo"),
        ((max(col("x")) - min(col("x"))) / lit(255.0d)).as("step"))

  /** int8 codes for `vec` given collected `(lo, step)` driver stats:
    * `floor((x − lo)/step + 0.5)` clamped to [0, 255] (round-half-up via
    * floor — the identical IEEE sequence is expressible in DuckDB, which
    * is what makes the encode hash-oracle-able). A constant dimension
    * (step 0) encodes as 0. */
  def sqEncode(vec: Column, lo: Seq[Double], step: Seq[Double]): Column = {
    val loArr = array(lo.map(lit): _*)
    val stArr = array(step.map(lit): _*)
    val shifted = zip_with(vec.cast("array<double>"), loArr, (x, m) => x - m)
    zip_with(shifted, stArr, (d, s) =>
      when(s > lit(0.0d),
        least(greatest(floor(d / s + lit(0.5d)), lit(0.0d)), lit(255.0d)))
        .otherwise(lit(0.0d)).cast("int"))
  }

  /** Asymmetric dequantized dot product: the full-precision probe against
    * the reconstruction `lo_i + code_i·step_i` of an encoded row — the
    * SQ analogue of ADC (scan 64 bytes of codes, never the vector). The
    * fold is a sequential HOF, rounded by the caller before ranking. */
  def sqDot(codes: Column, probe: Seq[Double],
            lo: Seq[Double], step: Seq[Double]): Column = {
    val loArr = array(lo.map(lit): _*)
    val stArr = array(step.map(lit): _*)
    val pArr = array(probe.map(lit): _*)
    val dq = zip_with(
      zip_with(codes.cast("array<double>"), stArr, (c, s) => c * s),
      loArr, (cs, l) => l + cs)
    aggregate(zip_with(pArr, dq, (p, y) => p * y), lit(0.0d), _ + _)
  }

  /** 1-BIT binary quantization (the vector-DB "BQ" scheme): bit j of the
    * code is `vec[j] > 0`, packed into ⌈d/64⌉ longs — a 64-d embedding
    * becomes ONE 8-byte word, a 32× compression over float32, and
    * Hamming distance becomes `bit_count(xor)` per word. The cheapest
    * member of the quantization ladder next to [[sqEncode]] (8-bit) and
    * PQ (codebook); the standard use is a BQ shortlist re-ranked by
    * exact cosine on the survivors. Sign-of-dimension is the
    * data-independent special case of sign-LSH (planes = axes), so BQ
    * distance approximates angular distance. */
  def bqEncode(vec: Column): Column =
    // empty-vector guard: floor((0-1)/64) = -1 would make sequence(0,-1)
    // DESCEND into element_at(vec, 0), which throws — an empty embedding
    // (failed upstream embed) must encode as zero words, not kill the job
    when(size(vec) === 0, array().cast("array<bigint>")).otherwise(
      transform(sequence(lit(0), floor((size(vec) - 1) / lit(64)).cast("int")), w =>
        aggregate(
          sequence(w * 64, least(w * 64 + 63, size(vec) - 1)),
          lit(0L),
          (acc, j) => when(element_at(vec, (j + 1).cast("int")) > 0,
            acc.bitwiseOR(call_function("shiftleft", lit(1L), (j % 64).cast("int"))))
            .otherwise(acc))))

  /** Hamming distance between two packed BQ codes (same word count). */
  def bqHamming(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), _ + _)
}
