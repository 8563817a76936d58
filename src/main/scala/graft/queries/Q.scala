package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator query: Spark implementation + the ANSI-SQL
  * oracle DuckDB runs over the same parquet tables. Every registered
  * query has one, and the DuckDB compare hash-checks the two results.
  *
  * Determinism contract: every query ends with an ORDER BY on a unique key
  * (mirrored in the oracle) and rounds float aggregates, so the driver's
  * value-hash compare is stable.
  */
final case class Q(name: String, oracle: String)(
    val fn: (SparkSession, String) => DataFrame)
