package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale fixture: the one place that decides how a table is scaled.
  *
  * `write(spark, sfDir, out, x)` writes `<out>/x<X>/<table>.parquet` for
  * every table in [[core.Tables.names]], the layout of a base sf
  * directory, so `core.Tables(spark, s"$out/x$X", name)` and every
  * registry `fn(spark, dir)` read it unchanged:
  *   - fact tables ([[factKeys]]) become X copies, and copy `i` adds
  *     `i * KeyStride` to the table's id column. One stride for every
  *     table keeps fact-to-fact keys joinable within a copy
  *     (`o_orderkey` = `l_orderkey`, `doc_id` = `vec_id`) and distinct
  *     across copies;
  *   - foreign keys into dimension tables (`o_custkey`, `l_partkey`,
  *     `l_suppkey`, `user_id`) are not shifted, and dimension tables are
  *     copied unchanged;
  *   - `embeddings.label` moves by `i * 1000` per copy so that the
  *     label blocks of different copies stay apart.
  *
  * Usage: runMain graft.ScaleFixture <sfDir> <outDir> <X> [X …] */
object ScaleFixture {

  /** Per-copy key shift: a power of ten above every base key (the
    * largest is `o_orderkey` at about 1.5M per unit of sf), so key
    * residues modulo 10, 20, 64 … are the same in every copy. */
  val KeyStride: Long = 1000000000L

  /** The id column of each fact table; every other table is a dimension. */
  val factKeys: Map[String, String] = Map(
    "orders" -> "o_orderkey", "lineitem" -> "l_orderkey",
    "events" -> "event_id", "documents" -> "doc_id",
    "embeddings" -> "vec_id")

  def write(spark: SparkSession, sfDir: String, out: String, x: Int): Unit = {
    require(x >= 1, s"x must be >= 1, got $x")
    val dir = s"$out/x$x"
    def save(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    core.Tables.names.foreach { name =>
      val base = core.Tables(spark, sfDir, name)
      factKeys.get(name) match {
        case None => save(base.coalesce(1), name)
        case Some(key) =>
          val top = base.agg(max(col(key))).head().getLong(0)
          require(top < KeyStride, s"$name.$key reaches $top >= $KeyStride")
          val copies = Seq.tabulate(x) { i =>
            val d = base.withColumn(key, col(key) + lit(i * KeyStride))
            if (name == "embeddings") d.withColumn("label", col("label") + lit(i * 1000))
            else d
          }
          // 32 files at any X: one scan task per core on the read side
          save(copies.reduce(_.unionByName(_)).repartition(32), name)
      }
    }
    System.err.println(s"[fixture] wrote $dir")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ScaleFixture <sfDir> <outDir> <X> [X …]")
    val spark = core.Session.build("graft-scalefixture")
    args.drop(2).foreach(x => write(spark, args(0), args(1), x.toInt))
    spark.stop()
  }
}
