package cosmobench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point: one workload per JVM.
  *
  * {{{
  * cosmobench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --data <table dir> --work <scratch dir> --out <result json>
  *   [--corrupt-pin <query or monitor>]
  * }}}
  *
  * The harness prints nothing on stdout; it writes one raw result file
  * (`--out`) that `run.py` turns into the benchmark's metrics. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, work: String, out: String,
                        corruptPin: Option[String])

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("data"), kv("work"), kv("out"), kv.get("corrupt-pin"))
    val spark = session(a.work)
    val rec = new Recorder(new Tracer(spark), a.trace)
    try {
      a.workload match {
        case "monthly_cadence" => Cadence.run(spark, rec, a)
        case "registry_interactive" => QueryLoad.run(spark, rec, a)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      Files.writeString(Paths.get(a.out), rec.toJson.render)
    } finally spark.stop()
  }

  /** The session config of the repo's mains: local[nproc] (or
    * SPARK_GRAFT_CPUS), shuffle partitions = cores, UTC, a registry-sized
    * codegen cache; all scratch state under the run's work dir. */
  def session(work: String): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").filter(_.nonEmpty)
      .getOrElse(Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("cosmobench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.Logs.quietKnownWarnings()
    spark
  }
}

/** What a run measured: per-operation latencies, per-pass walls, retained
  * heap, correctness checks, and (traced runs) the span dump. */
final class Recorder(val tracer: Tracer, traced: Boolean) {
  private val runtime = ManagementFactory.getRuntimeMXBean
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  var firstOpMs = 0L
  /** (name, pass, wall s, ok) */
  val ops = mutable.ArrayBuffer[(String, Int, Double, Boolean)]()
  /** (wall s, process CPU s, traced, complete) */
  val passes = mutable.ArrayBuffer[(Double, Double, Boolean, Boolean)]()
  val heapMb = mutable.ArrayBuffer[Double]()
  val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  val extra = mutable.LinkedHashMap[String, Json.J]()

  /** CPU time of all JVM threads: unlike wall time it does not grow
    * while the host runs other tenants' work. */
  private def cpuNs: Long = os.getProcessCpuTime

  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    checks += ((name, ok, if (ok) "" else detail))
    ok
  }

  /** Run timed passes until `seconds` have elapsed (at least one pass).
    * A traced run alternates untraced and traced passes (at least three)
    * so the tracing overhead is measured in the same JVM. `body(pass, deadlineNs)`
    * returns false when it stopped early at the deadline. With
    * `wholePasses` a pass is started only if at least half of a mean pass
    * fits before the deadline, so runs do not flip between n and n+1
    * passes. `after(pass)` (checks) and a full GC, which gives the
    * retained heap, run outside the pass's wall time. */
  def timedPasses(seconds: Double, wholePasses: Boolean = false,
                  after: Int => Unit = _ => ())(body: (Int, Long) => Boolean): Unit = {
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    firstOpMs = System.currentTimeMillis()
    var p = 0
    val min = if (traced) 3 else 1
    def reserve = if (wholePasses) passes.map(_._1).sum / passes.size * 0.5e9 else 0.0
    while (p < min || System.nanoTime() + reserve < deadline) {
      tracer.setEnabled(traced && p % 2 == 1)
      val t0 = System.nanoTime()
      val c0 = cpuNs
      val complete = tracer.span("pass") {
        body(p, if (p < min) Long.MaxValue else deadline)
      }
      passes += (((System.nanoTime() - t0) / 1e9, (cpuNs - c0) / 1e9, tracer.enabled, complete))
      tracer.setEnabled(false)
      after(p)
      // a second collection reclaims what the first one's cleaners freed
      System.gc()
      System.gc()
      heapMb += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      p += 1
    }
  }

  def toJson: Json.J = Json.obj(
    Seq(
      "jvm_start_ms" -> Json.num(runtime.getStartTime),
      "first_op_ms" -> Json.num(firstOpMs),
      "ops" -> Json.arr(ops.toSeq.map { case (n, p, s, ok) =>
        Json.obj("name" -> Json.str(n), "pass" -> Json.num(p.toLong),
          "lat_s" -> Json.num(s), "ok" -> Json.bool(ok))
      }),
      "passes" -> Json.arr(passes.toSeq.map { case (w, c, t, done) =>
        Json.obj("wall_s" -> Json.num(w), "cpu_s" -> Json.num(c), "traced" -> Json.bool(t),
          "complete" -> Json.bool(done))
      }),
      "heap_mb" -> Json.nums(heapMb.toSeq),
      "checks" -> Json.arr(checks.toSeq.map { case (n, ok, d) =>
        Json.obj("name" -> Json.str(n), "ok" -> Json.bool(ok), "detail" -> Json.str(d))
      })) ++ extra.toSeq ++
      (if (traced) Seq("trace" -> tracer.toJson) else Nil): _*)
}
