package graft

import org.apache.spark.sql.functions._
import graft.ops.Layout

/** Z-order layout: Morton interleave correctness and the pruning
  * property it exists for — a predicate on the NON-leading dimension
  * touches few z-clustered partitions but nearly all linearly-sorted
  * ones. */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("zValue interleaves bucket bits LSB-first across columns") {
    // x=5 (101), y=3 (011), bits=3, order: x bit i -> pos 2i, y -> 2i+1
    // z = 1<<0 + 1<<1 + 1<<3 + 1<<4 = 27
    val z = Seq((5L, 3L)).toDF("x", "y")
      .select(Layout.zValue(Seq(col("x"), col("y")), 3).as("z"))
      .as[Long].head()
    assert(z == 27L)
  }

  test("quantileBucket counts thresholds at or below the value") {
    val th = Seq(10.0, 20.0, 30.0)
    val got = Seq(5.0, 10.0, 25.0, 99.0).toDF("v")
      .select(Layout.quantileBucket(col("v"), th).as("b"))
      .as[Long].collect().toSeq
    assert(got == Seq(0L, 1L, 2L, 3L))
  }

  test("z-order clusters the non-leading dimension; linear sort does not") {
    // pseudo-uniform 2D points (deterministic hash spread)
    val n = 20000
    val pts = spark.range(n)
      .select(col("id"),
        (pmod(col("id") * 2654435761L, lit(100000L))).cast("double").as("x"),
        (pmod(col("id") * 40503L + 7L, lit(100000L))).cast("double").as("y"))
    def touched(df: org.apache.spark.sql.DataFrame): Long =
      df.withColumn("pid", spark_partition_id())
        .filter(col("y").between(40000, 42000)) // 2% band on y
        .select("pid").distinct().count()
    // uniform coordinates: 64 equal-width cuts are the quantile
    // thresholds a percentile sketch would learn
    val th = (1 until 64).map(_ * 100000.0 / 64)
    val zLayout = pts
      .withColumn("z", Layout.zValue(Seq(
        Layout.quantileBucket(col("x"), th),
        Layout.quantileBucket(col("y"), th)), 6))
      .repartitionByRange(32, col("z")).sortWithinPartitions("z")
      .drop("z")
    val linear = pts.repartitionByRange(32, col("x"))
      .sortWithinPartitions("x")
    val zTouched = touched(zLayout)
    val linTouched = touched(linear)
    // linear layout spreads a y-band over ~every x-range partition;
    // the z layout confines it to the partitions whose z-range
    // intersects the band
    assert(linTouched >= 28, s"linear should touch nearly all: $linTouched")
    assert(zTouched <= 16, s"z-order should touch few: $zTouched")
    // the rewrite is a permutation — nothing lost or duplicated
    assert(zLayout.count() == n)
    assert(zLayout.agg(sum("id")).as[Long].head() ==
      pts.agg(sum("id")).as[Long].head())
  }
}
