package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Single registry of all verifiable operator queries. Query groups
  * register themselves here by contributing a `Seq[Q]`. */
object Registry {

  val all: Seq[Q] =
    CoreQueries.qs ++ ArrayTimeQueries.qs ++ TextQueries.qs ++
      SimilarityQueries.qs ++ ExtQueries.qs ++ GapQueries.qs ++
      TrainQueries.qs ++ RetrievalQueries.qs ++ WebQueries.qs ++
      PrefQueries.qs ++ AnnotQueries.qs

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  lazy val oracleSql: Map[String, String] =
    all.map(q => q.name -> q.oracle).toMap

  def byName(name: String): (SparkSession, String) => DataFrame =
    queries(name)

  /** The queries a main was asked for: every query in registry order
    * when `names` is empty, else `names` in the given order. Any unknown
    * name fails the one `require`, which lists all of them, so a typo
    * never silently selects nothing. */
  def resolve(names: Seq[String]): Seq[Q] =
    if (names.isEmpty) all
    else {
      val unknown = names.filterNot(queries.contains)
      require(unknown.isEmpty, s"not registry queries: ${unknown.mkString(", ")}")
      val index = all.map(q => q.name -> q).toMap
      names.map(index)
    }
}
