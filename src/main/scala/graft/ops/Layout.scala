package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Multi-dimensional physical layout: Z-ORDER (Morton) clustering, the
  * public Delta/Iceberg `OPTIMIZE ZORDER BY` lever re-expressed as
  * column expressions. A linear sort prunes file scans only on its
  * LEADING column; interleaving the bits of rank-quantized columns
  * gives every z-ordered column locality, so a range predicate on ANY
  * of them maps to a small fraction of a z-sorted layout (min/max file
  * stats or partition ranges skip the rest).
  *
  * Scale shape: the bucket + interleave expressions are map-only pure
  * functions of the row (a fold over a literal threshold array, then
  * integer bit arithmetic), so they stay in whole-stage codegen and a
  * z-sorted rewrite pays only the one range exchange on the z-value.
  * The `ext_zorder_cells` registry query composes them. */
object Layout {

  /** Quantile-rank bucket of `c` given ascending `thresholds` (the
    * 1/L..(L−1)/L cut points): the count of thresholds ≤ c — a pure
    * per-row fold over a literal array (codegen-friendly, no join).
    * Nulls land in bucket 0 (they sort first, clustered together). */
  def quantileBucket(c: Column, thresholds: Seq[Double]): Column =
    aggregate(lit(thresholds.toArray), lit(0L),
      (acc, t) => acc + when(t <= c, 1L).otherwise(0L))

  /** Morton z-value: interleave the low `bits` bits of each bucket
    * column, bit i of column c landing at position `i*ncols + c` (LSB
    * first). Pure integer arithmetic — stays in whole-stage codegen. */
  def zValue(buckets: Seq[Column], bits: Int): Column = {
    val n = buckets.size
    require(n >= 1 && n * bits <= 63,
      s"z-value needs 1..63 total bits, got $n cols x $bits")
    buckets.zipWithIndex.flatMap { case (b, c) =>
      (0 until bits).map { i =>
        shiftright(b, i).bitwiseAND(lit(1L)) * lit(1L << (i * n + c))
      }
    }.reduce(_ + _)
  }
}
