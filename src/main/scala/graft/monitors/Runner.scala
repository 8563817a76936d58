package graft.monitors

import java.util.UUID
import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graft.ListenerBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Monitor orchestration (reference: cosmo/run_monitors.py:11–146): the
  * reference reflects over its monitors module, buckets classes by their
  * `run` cadence attribute, executes ingest first, then each monitor's
  * initialize → analyze → store lifecycle. Here the registry is explicit
  * (no classpath reflection), the lifecycle is a function producing the
  * monitor's result DataFrame, and sinks receive results per monitor.
  */
object Runner {

  final case class MonitorJob(name: String, cadence: String,
                              run: SparkSession => DataFrame)
  /** `error` is the failure's class and message (`Throwable.toString`),
    * never null, even for an exception without a message. */
  final case class MonitorResult(name: String, rowCount: Long,
                                 error: Option[String])

  private val registry = mutable.LinkedHashMap[String, MonitorJob]()

  def register(job: MonitorJob): Unit = synchronized {
    registry(job.name) = job
  }

  def registered(cadence: String): Seq[MonitorJob] = synchronized {
    registry.values.filter(_.cadence == cadence).toSeq
  }

  def clear(): Unit = synchronized { registry.clear() }

  /** Run every monitor of the cadence; ingest (if given) executes FIRST —
    * the reference orders SMS ingest before the monthly monitors because
    * OSM monitors need fresh SMS rows (run_monitors.py:95–108). A monitor
    * failure is recorded, not fatal — remaining monitors still run
    * (matching pytest's per-test isolation in the reference). Fatal JVM
    * errors and interrupts are not monitor failures: they propagate.
    *
    * One action per monitor. The sink receives the monitor's frame with
    * a named row-count observation attached (`Dataset.observe(name, …)`),
    * and `rowCount` is read from the `observedMetrics` of the sink's own
    * query. A `QueryExecutionListener` that lives only for this call
    * collects them; the runner waits for the listener bus to deliver
    * ([[ListenerBridge.drain]], at most 10 s). So `rowCount` counts the
    * rows consumed by the sink's action: a sink that reads part of the
    * frame (`show`, `limit`) reports that part. A sink that does not
    * execute the frame — the default no-op, or one whose action the
    * optimizer proves needs none of its rows — gets the runner's single
    * `count()` instead. A sink that executes the frame outside a Dataset
    * action (`df.rdd`) is not observed, so the runner counts it too. A
    * bus that does not drain in time is recorded as that monitor's
    * failure. The listener is unregistered when the call returns and
    * ignores failed queries, so it never touches a later query's error. */
  def runAll(spark: SparkSession, cadence: String,
             ingest: Option[() => Unit] = None,
             sink: (String, DataFrame) => Unit = (_, _) => ()): Seq[MonitorResult] = {
    ingest.foreach(f => f())
    val prefix = s"runner_rows_${UUID.randomUUID()}_"
    val observed = TrieMap[String, Long]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.startsWith(prefix) && row.length > 0) observed(name) = row.getLong(0)
        }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try registered(cadence).zipWithIndex.map { case (job, i) =>
      try {
        val name = prefix + i
        val df = job.run(spark).observe(name, count(lit(1)))
        sink(job.name, df)
        if (!observed.contains(name)) ListenerBridge.drain(spark.sparkContext)
        val rows = observed.getOrElse(name, df.count())
        MonitorResult(job.name, rows, None)
      } catch {
        case NonFatal(e) => MonitorResult(job.name, -1L, Some(e.toString))
      }
    } finally spark.listenerManager.unregister(listener)
  }
}
