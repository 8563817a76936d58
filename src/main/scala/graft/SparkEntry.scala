package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.Registry

/** Correctness contract — see SURVEY.md §7.
  *
  * Every implemented operator from SURVEY.md §2 appears as one entry in
  * `queries`, and every entry has an ANSI-SQL oracle in `oracleSql`
  * (DuckDB syntax) for the hash-compare (tools/check_oracle.py).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Registry.byName("q1_agg")(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    Registry.oracleSql
}
