package graft.monitors

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}

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
    * errors and interrupts are not monitor failures: they propagate. */
  def runAll(spark: SparkSession, cadence: String,
             ingest: Option[() => Unit] = None,
             sink: (String, DataFrame) => Unit = (_, _) => ()): Seq[MonitorResult] = {
    ingest.foreach(f => f())
    registered(cadence).map { job =>
      try {
        val df = job.run(spark)
        sink(job.name, df)
        MonitorResult(job.name, df.count(), None)
      } catch {
        case NonFatal(e) => MonitorResult(job.name, -1L, Some(e.getMessage))
      }
    }
  }
}
