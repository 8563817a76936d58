package graft.monitors

import scala.collection.mutable
import scala.util.Success
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graft.ListenerBridge

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
    * a row-count observation attached (`Dataset.observe`), and
    * `rowCount` is read from that observation once the listener bus has
    * delivered it ([[ListenerBridge.drain]], at most 10 s, never
    * `Observation.get`). So `rowCount` counts the rows consumed by the
    * sink's action: a sink that reads part of the frame (`show`,
    * `limit`) reports that part. A sink that does not execute the frame
    * — the default no-op, or one whose action the optimizer proves needs
    * none of its rows — gets the runner's single `count()` instead. A
    * sink that executes the frame outside a Dataset action (`df.rdd`) is
    * not observed, so the runner counts it too. A bus that does not
    * drain in time is recorded as that monitor's failure. */
  def runAll(spark: SparkSession, cadence: String,
             ingest: Option[() => Unit] = None,
             sink: (String, DataFrame) => Unit = (_, _) => ()): Seq[MonitorResult] = {
    ingest.foreach(f => f())
    registered(cadence).map { job =>
      try {
        val rows = Observation()
        val df = job.run(spark).observe(rows, count(lit(1)))
        sink(job.name, df)
        if (!rows.future.isCompleted) ListenerBridge.drain(spark.sparkContext)
        val observed = rows.future.value.collect {
          case Success(r) if r.length > 0 => r.getLong(0)
        }
        MonitorResult(job.name, observed.getOrElse(df.count()), None)
      } catch {
        case NonFatal(e) => MonitorResult(job.name, -1L, Some(e.toString))
      }
    }
  }
}
