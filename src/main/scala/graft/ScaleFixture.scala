package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Materialized scale-fixture writer (judge r16 task 2): the
  * 10×/30×/100× ScaleCheck basis used to be an X-branch UNION of
  * key-shifted sf-table scans built lazily inside every entry — at
  * 100× each driver action re-paid 100 parquet scan setups, a stated
  * confound on every time exponent at the third scale point (PERF.md
  * r16). This main writes the SAME shifted union ONCE as a single
  * partitioned parquet table per source table; ScaleCheck then reads
  * the one table when `SPARK_GRAFT_SCALE_FIXTURE_DIR` points here
  * (falling back to the inline union otherwise), so measured walls
  * carry one scan setup like any production table. Row VALUES are
  * identical to the union basis by construction (same shift
  * transforms), so scale-stable outputs (winnow cluster counts, ann
  * cluster counts) must reproduce exactly — that equality is the
  * fixture's own correctness check, asserted in the journal runs.
  * This is also the production shape: a corpus is materialized once
  * and scanned many times, never re-derived per query.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.ScaleFixture <X> <outDir>
  * Writes <outDir>/{documents,embeddings,orders,lineitem}_x<X>.
  * Plain repartitioned parquet, NOT [[ops.Layout.writeBucketed]]: the
  * fixture's consumers are text/vector pipelines keyed on exploded
  * features, not equi-joins on the id — bucketing would buy zero
  * exchanges nowhere and cost a metastore table. */
object ScaleFixture {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ScaleFixture <scaleX> <outDir> [diverse-only]")
    val scaleX = args(0).toInt
    val outDir = args(1)
    // "diverse-only": write just the embeddings_d table (the four
    // replication tables are stable per (name, X) — re-writing
    // lineitem_x100's tens of millions of rows to add a 200k-row
    // table would be waste)
    val diverseOnly = args.length > 2 && args(2) == "diverse-only"
    require(scaleX >= 1, s"scaleX must be >= 1, got $scaleX")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = core.Session.build("graft-scalefixture")

    // the exact ScaleCheck shift transforms — the fixture IS the union,
    // materialized; any drift here would silently change every
    // downstream cluster count (the journal runs assert reproduction)
    def xN(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until scaleX).map(i => shift(df, i)).reduce(_.unionByName(_))

    def write(df: DataFrame, name: String): Unit = {
      val path = s"$outDir/${name}_x$scaleX"
      // 32 files at any X: one task per core on the read side; row
      // counts here stay well under what would need more ILP per file
      df.repartition(32).write.mode("overwrite").parquet(path)
      System.err.println(s"[fixture] wrote $path")
    }

    if (!diverseOnly) {
      write(xN(core.Tables.fannedOut(spark, sfDir, "documents")) { (d, i) =>
        d.withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
      }, "documents")
      write(xN(core.Tables(spark, sfDir, "embeddings")) { (d, i) =>
        d.withColumn("vec_id", col("vec_id") + lit(i * 1000000L))
          .withColumn("label", col("label") + lit(i * 1000))
      }, "embeddings")
    }
    // DIVERSITY-growing embeddings (round 18, judge r17 top task): the
    // x<X> replication fixture stacks EXACT copies, so true near-dup
    // pair volume grows QUADRATICALLY in X (measured: RecallProbe truth
    // 509,800 pairs at 10× → 4,648,200 at 30× = 9.12×, truth clusters
    // pinned at 37) — on that growth model NO constant-recall candidate
    // generator can read near-linear, because the verify work itself is
    // Θ(N²). Real corpora grow the other way: cluster COUNT grows,
    // cluster SIZE stays bounded. This table models that: 200·X distinct
    // patterns — each base vector under X/10 per-variant RANDOM SIGN
    // MASKS (s(v,i) ∈ {±1} hash-derived; within a variant the mask
    // cancels in every inner product, so each variant reproduces the
    // base corpus's pair structure EXACTLY, while cross-variant cosines
    // decorrelate toward 0 — the first cut used circular shifts and
    // measured near-quadratic truth again: shifts preserve the corpus's
    // common mean component, cross-variant cosines stayed over the
    // gate) — × 10 near-duplicate copies each (one coordinate scaled
    // per copy — cosine to the pattern ≈ 0.99). Same 2000·X total rows
    // as the replication table, truth pairs ≈ variants × base-truth —
    // LINEAR growth. ANN-generator scaling measured here answers
    // "would this hold at 100 TB" for a corpus of growing diversity —
    // the question the replication fixture structurally cannot ask.
    if (scaleX % 10 == 0) {
      val variants = scaleX / 10
      val base = core.Tables(spark, sfDir, "embeddings")
        .select(col("vec_id").as("base_id"),
          col("embedding").cast("array<double>").as("bv"))
      val dim = 64
      val diverse = base
        .withColumn("variant", explode(sequence(lit(0), lit(variants - 1))))
        .withColumn("copy", explode(sequence(lit(0), lit(9))))
        .select(
          (col("base_id") * 1000L + col("variant") * 10L + col("copy"))
            .as("vec_id"),
          (col("base_id") * 100L + col("variant")).as("label"),
          transform(sequence(lit(0), lit(dim - 1)), i =>
            element_at(col("bv"), i.cast("int") + 1) *
              (lit(1.0) - lit(2.0) *
                pmod(xxhash64(col("variant") * 64 + i), lit(2))
                  .cast("double")) *
              when(i === col("copy") % dim,
                lit(1.0) + (col("copy") + 1) * lit(0.05)).otherwise(lit(1.0)))
            .as("embedding"))
      write(diverse, "embeddings_d")
    } else System.err.println(
      s"[fixture] scaleX=$scaleX not a multiple of 10 — skipping embeddings_d")
    if (!diverseOnly) {
      write(xN(core.Tables.fannedOut(spark, sfDir, "orders")) { (d, i) =>
        d.withColumn("o_orderkey", col("o_orderkey") + lit(i * 100000000L))
      }, "orders")
      write(xN(core.Tables.fannedOut(spark, sfDir, "lineitem")) { (d, i) =>
        d.withColumn("l_orderkey", col("l_orderkey") + lit(i * 100000000L))
      }, "lineitem")
    }
    spark.stop()
  }
}
