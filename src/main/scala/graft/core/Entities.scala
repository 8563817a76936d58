package graft.core

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}

/** Typed entities for the star-schema tables (SURVEY.md §1.4: `Dataset[T]`
  * case classes where compile-time field checks help; `DataFrame` where
  * schema is dynamic). Encoders come from `spark.implicits`. */
object Entities {
  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double, props: String)
  final case class Document(doc_id: Long, text: String, lang: String,
                            source: String, n_chars: Long)
  final case class Embedding(vec_id: Long, embedding: Seq[Float], label: Int)

  def events(spark: SparkSession, dir: String): Dataset[Event] = {
    import spark.implicits._
    Tables(spark, dir, "events").as[Event]
  }
  def documents(spark: SparkSession, dir: String): Dataset[Document] = {
    import spark.implicits._
    Tables(spark, dir, "documents").as[Document]
  }
}
