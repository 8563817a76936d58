package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.core.Tables
import graft.ops.LinFitAggregator

/** Typed entities for two star-schema tables (SURVEY.md §1.4: `Dataset[T]`
  * case classes where compile-time field checks help). */
object TypedApiSpec {
  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double, props: String)
  final case class Document(doc_id: Long, text: String, lang: String,
                            source: String, n_chars: Long)

  object Entities {
    def events(spark: SparkSession, dir: String): Dataset[Event] = {
      import spark.implicits._
      Tables(spark, dir, "events").as[Event]
    }
    def documents(spark: SparkSession, dir: String): Dataset[Document] = {
      import spark.implicits._
      Tables(spark, dir, "documents").as[Document]
    }
  }
}

/** Typed-API surface: Dataset[T] entities and the Aggregator route for
  * linfit (SURVEY.md §7.3). */
class TypedApiSpec extends SparkSpec {
  import spark.implicits._
  import TypedApiSpec.Entities

  test("LinFitAggregator recovers a known line and matches regr_slope") {
    // y = 3x + 7 exactly
    val pts = (0 until 50).map(i => (i.toDouble, 3.0 * i + 7.0))
    val ds = pts.toDS()
    val fit = ds.select(LinFitAggregator.toColumn).head()
    assert(fit.n == 50)
    assert(math.abs(fit.slope.get - 3.0) < 1e-9)
    assert(math.abs(fit.intercept.get - 7.0) < 1e-9)
    // degenerate: single point -> no fit
    val one = Seq((1.0, 2.0)).toDS().select(LinFitAggregator.toColumn).head()
    assert(one.slope.isEmpty)
    // agreement with the declarative route
    val declarative = pts.toDF("x", "y")
      .agg(expr("regr_slope(y, x)"), expr("regr_intercept(y, x)"))
      .as[(Double, Double)].head()
    assert(math.abs(declarative._1 - fit.slope.get) < 1e-9)
    assert(math.abs(declarative._2 - fit.intercept.get) < 1e-9)
  }

  test("typed Dataset entities: compile-time fields over the real tables") {
    val docs = Entities.documents(spark, "/root/testdata/sf0.001")
    val avgChars = docs
      .groupByKey(_.lang)
      .mapGroups((lang, ds) => {
        val xs = ds.map(_.n_chars).toSeq
        (lang, xs.sum.toDouble / xs.size)
      })
      .collect().toMap
    assert(avgChars.nonEmpty && avgChars.values.forall(_ > 0))
    val events = Entities.events(spark, "/root/testdata/sf0.001")
    assert(events.filter(_.event_type.nonEmpty).count() > 0)
  }
}
