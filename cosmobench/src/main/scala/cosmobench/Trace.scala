package cosmobench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for the traced run.
  *
  * A span is (id, parent, name, start, end); times are seconds since the
  * tracer's base instant. While a span is open its id rides in the
  * SparkContext local property [[Tracer.SpanKey]], so every job submitted
  * inside it (including jobs of a streaming query started inside it,
  * which inherit the property) is attributed to it by [[JobListener]].
  * Catalyst phase intervals come from [[PhaseListener]]; codegen compile
  * time is sampled at span entry and exit. Everything is written out once
  * at the end of the run; nothing is printed while measuring.
  *
  * With `enabled = false` a span is a plain call: no listener is
  * attached and no property is set, so untraced timings carry no tracing
  * cost. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  val baseNs: Long = System.nanoTime()
  val baseMs: Long = System.currentTimeMillis()
  private var nextId = 1
  private var stack: List[Int] = Nil
  private var on = false
  val spans = mutable.ArrayBuffer[Span]()
  val jobs = new JobListener(baseMs)
  val phases = new PhaseListener(baseMs)

  def enabled: Boolean = on

  def secs(ns: Long): Double = (ns - baseNs) / 1e9

  /** Attach (or detach) the listeners; spans are only kept while on. */
  def setEnabled(v: Boolean): Unit = if (v != on) {
    drain()
    if (v) {
      sc.addSparkListener(jobs)
      spark.listenerManager.register(phases)
    } else {
      sc.removeSparkListener(jobs)
      spark.listenerManager.unregister(phases)
    }
    on = v
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      val s = Span(id, parent, name, secs(System.nanoTime()), compileNs, compiles)
      spans += s
      stack = id :: stack
      sc.setLocalProperty(SpanKey, id.toString)
      try body
      finally {
        s.end = secs(System.nanoTime())
        s.compileNs = compileNs - s.compileNs
        s.compiles = compiles - s.compiles
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.toString).orNull)
      }
    }

  /** Block until the listener bus has delivered every posted event. */
  def drain(): Unit = org.apache.spark.sql.graft.ListenerBridge.drain(sc)

  /** Record the Catalyst phases a DataFrame has already run, such as the
    * eager analysis of `Dataset.ofRows` while a query fn builds it. The
    * [[PhaseListener]] sees only actions, so this is the only way that
    * analysis reaches the Catalyst layer. Only the returned DataFrame's
    * tracker is read: intermediate DataFrames built inside a fn keep
    * their analysis in the fn's self time. */
  def notePhases(df: DataFrame): Unit = if (on) phases.record(df.queryExecution)

  def toJson: Json.J = {
    drain()
    Json.obj(
      "spans" -> Json.arr(spans.toSeq.map(_.toJson)),
      "jobs" -> Json.arr(jobs.records.values.toSeq.sortBy(_.id).map(_.toJson)),
      "phases" -> Json.arr(phases.records.toSeq.map { case (n, s, e) =>
        Json.obj("name" -> Json.str(n), "start" -> Json.num(s), "end" -> Json.num(e))
      }))
  }
}

object Tracer {
  val SpanKey = "cosmobench.span"

  /** Cumulative codegen compile time (ns) and compile count, JVM-wide. */
  def compileNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  final case class Span(id: Int, parent: Int, name: String, start: Double,
                        var compileNs: Long, var compiles: Long) {
    var end: Double = start
    def toJson: Json.J = Json.obj(
      "id" -> Json.num(id), "parent" -> Json.num(parent), "name" -> Json.str(name),
      "start" -> Json.num(start), "end" -> Json.num(end),
      "compile_s" -> Json.num(compileNs / 1e9), "compiles" -> Json.num(compiles))
  }
}

/** Per-job execution counters, aggregated from stage and task events. */
final class JobRec(val id: Int, val span: Int, val start: Double) {
  var end: Double = start
  var stages, tasks, taskFailures = 0
  var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, schedWaitMs = 0L
  var peakMem = 0L
  def toJson: Json.J = Json.obj(
    "id" -> Json.num(id), "span" -> Json.num(span),
    "start" -> Json.num(start), "end" -> Json.num(end),
    "stages" -> Json.num(stages), "tasks" -> Json.num(tasks),
    "task_failures" -> Json.num(taskFailures),
    "run_s" -> Json.num(runMs / 1e3), "cpu_s" -> Json.num(cpuNs / 1e9),
    "gc_s" -> Json.num(gcMs / 1e3), "sched_wait_s" -> Json.num(schedWaitMs / 1e3),
    "shuffle_read_b" -> Json.num(shuffleRead), "shuffle_write_b" -> Json.num(shuffleWrite),
    "spill_b" -> Json.num(spill), "peak_exec_mem_b" -> Json.num(peakMem))
}

/** Listener-bus events arrive on one thread, so plain maps suffice; the
  * harness reads them only after [[Tracer.drain]]. */
final class JobListener(baseMs: Long) extends SparkListener {
  val records = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, JobRec]()
  private val firstLaunch = mutable.HashMap[Int, Long]()
  private def secs(ms: Long) = (ms - baseMs) / 1e3

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(0)
    val r = new JobRec(e.jobId, span, secs(e.time))
    records(e.jobId) = r
    e.stageIds.foreach(stageJob(_) = r)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    records.get(e.jobId).foreach(_.end = secs(e.time))

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val t = e.taskInfo.launchTime
    if (firstLaunch.get(e.stageId).forall(t < _)) firstLaunch(e.stageId) = t
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    stageJob.get(si.stageId).foreach { r =>
      r.stages += 1
      r.tasks += si.numTasks
      for (sub <- si.submissionTime; first <- firstLaunch.get(si.stageId))
        r.schedWaitMs += (first - sub).max(0L)
    }
    firstLaunch.remove(si.stageId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageJob.get(e.stageId).foreach { r =>
      if (e.reason != org.apache.spark.Success) r.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        r.runMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        r.peakMem = r.peakMem.max(m.peakExecutionMemory)
      }
    }
}

/** Catalyst phase intervals (analysis, optimization, planning) of every
  * action, from `qe.tracker.phases`. A phase seen twice (recorded at build
  * time, then again by the action on the same DataFrame) is kept once. */
final class PhaseListener(baseMs: Long) extends QueryExecutionListener {
  val records = mutable.LinkedHashSet[(String, Double, Double)]()
  def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      records += ((name, (p.startTimeMs - baseMs) / 1e3, (p.endTimeMs - baseMs) / 1e3))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}
