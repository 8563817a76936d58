package graft.monitors

import scala.collection.mutable
import scala.util.DynamicVariable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.storage.StorageLevel
import graft.core.Observations

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

  /** A frame that several monitors of one family read (the OSM
    * monitors' lampflash ⋈ SMS join, one segment pivot per detector),
    * declared once at registration. Inside a [[runAll]] call the first
    * monitor that reads it builds and persists it and its siblings read
    * the cache; the call releases it when it returns. Outside
    * [[runAll]] it is the plain frame, built on every read. A frame the
    * caller already cached is read from that cache and left to the
    * caller. */
  final class Shared(build: () => DataFrame) {
    def apply(): DataFrame = active.value.fold(build())(_.read(this, build))
  }

  /** The family frames one [[runAll]] call persisted. */
  private final class Scope {
    private val frames = mutable.LinkedHashMap[Shared, DataFrame]()
    private val persisted = mutable.ArrayBuffer[DataFrame]()

    // a family frame can be built on another (a pivot on the join), so
    // `build` may read the scope again before this key is stored
    def read(key: Shared, build: () => DataFrame): DataFrame =
      frames.getOrElse(key, {
        val df = build()
        if (df.storageLevel == StorageLevel.NONE) {
          df.persist()
          persisted += df
        }
        frames(key) = df
        df
      })

    def release(): Unit = persisted.foreach(_.unpersist(blocking = false))
  }

  private val active = new DynamicVariable[Option[Scope]](None)

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
    * (matching pytest's per-test isolation in the reference), and a
    * family frame whose first reader failed is built again by the next.
    * Fatal JVM errors and interrupts are not monitor failures: they
    * propagate. Every [[Shared]] frame the call persisted is released
    * when it returns or throws.
    *
    * One action per monitor. The sink receives the monitor's frame with
    * a row-count observation attached ([[Observations]]), and `rowCount`
    * is read from the sink's own query. So `rowCount` counts the rows
    * consumed by the sink's action: a sink that reads part of the frame
    * (`show`, `limit`) reports that part. A sink that does not execute
    * the frame — the default no-op, one whose action the optimizer
    * proves needs none of its rows, or one that runs it outside a
    * Dataset action (`df.rdd`) — gets the runner's single `count()`
    * instead. A listener bus that does not deliver in time is recorded
    * as that monitor's failure. */
  def runAll(spark: SparkSession, cadence: String,
             ingest: Option[() => Unit] = None,
             sink: (String, DataFrame) => Unit = (_, _) => ()): Seq[MonitorResult] = {
    ingest.foreach(f => f())
    val scope = new Scope
    try active.withValue(Some(scope)) {
      Observations(spark) { obs =>
        registered(cadence).map { job =>
          try {
            val (df, rows) = obs.observe(job.run(spark), count(lit(1)))
            sink(job.name, df)
            MonitorResult(job.name, rows().fold(df.count())(_.getLong(0)), None)
          } catch {
            case NonFatal(e) => MonitorResult(job.name, -1L, Some(e.toString))
          }
        }
      }
    } finally scope.release()
  }
}
