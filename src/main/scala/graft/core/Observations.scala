package graft.core

import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graft.ListenerBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Reads a frame's named observation (`Dataset.observe(name, metric)`)
  * from the query that consumed it, so a value the caller needs (the
  * monitor runner's row count, SMS ingest's FILEID set) costs no second
  * execution of the frame.
  *
  * A `QueryExecutionListener` that lives only for the [[Observations.apply]]
  * call collects `qe.observedMetrics` of every successful query; failed
  * queries are ignored, so the listener never touches a later query's
  * error. Names carry a per-call random prefix: a concurrent or nested
  * scope never reads another's value. */
final class Observations private (spark: SparkSession) {
  private val prefix = s"observed_${UUID.randomUUID()}_"
  private val next = new AtomicInteger()
  private val seen = TrieMap[String, Row]()

  private val listener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.observedMetrics.foreach { case (name, row) =>
        if (name.startsWith(prefix)) seen(name) = row
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** `df` with `metric` attached under a fresh name, and the reader of
    * its value once an action has run the returned frame. The reader
    * waits for the listener bus when the value has not arrived yet
    * ([[ListenerBridge.drain]], at most 10 s, then a
    * `TimeoutException`); it returns `None` when no successful Dataset
    * action executed the frame: the action read none of its rows, or
    * ran it outside a Dataset action (`df.rdd`). */
  def observe(df: DataFrame, metric: Column): (DataFrame, () => Option[Row]) = {
    val name = prefix + next.getAndIncrement()
    val read = () => {
      if (!seen.contains(name)) ListenerBridge.drain(spark.sparkContext)
      seen.get(name)
    }
    (df.observe(name, metric), read)
  }
}

object Observations {
  /** Runs `body` with a scope whose listener is unregistered when it
    * returns or throws. */
  def apply[T](spark: SparkSession)(body: Observations => T): T = {
    val scope = new Observations(spark)
    spark.listenerManager.register(scope.listener)
    try body(scope) finally spark.listenerManager.unregister(scope.listener)
  }
}
