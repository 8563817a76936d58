package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.graft.ListenerBridge

/** Per-query profiler. For each named registry query it prints the
  * cost split between CONSTRUCTION (building the DataFrame — for
  * trainer-style queries this runs the bounded eager jobs: Lloyd
  * rounds, BPE/unigram merges, PCA power iteration, BM25 ranking
  * collects) and EXECUTION (consuming the final plan), next to the
  * scheduler's view of the same work: jobs, stages, tasks, summed
  * executor task time and CPU time. The derived ratios:
  *
  *   - `par` = taskTime / wall — realized parallelism. Wide work reads
  *     near the core count; a query built from many small SEQUENTIAL
  *     stages reads near 1, and that shape pays contended scheduling
  *     latency once per stage barrier.
  *   - `cpuShare` = cpuTime / taskTime — below ~0.7 the tasks are
  *     waiting (spill I/O, lock, memory pressure), not computing.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.ProfileQ name [name…]
  * Each name runs SPARK_GRAFT_PROFILE_N times (default 3). Every sample
  * line is printed (under contention the spread is the signal), then
  * the min of each phase; storage is released between samples, so
  * every sample is self-contained. */
object ProfileQ {
  private final class Counters extends SparkListener {
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskTimeMs = new AtomicLong(0L)
    val cpuTimeNs = new AtomicLong(0L)
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet(); ()
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (t.taskInfo != null) taskTimeMs.addAndGet(t.taskInfo.duration)
      if (t.taskMetrics != null) cpuTimeNs.addAndGet(t.taskMetrics.executorCpuTime)
      ()
    }
    def reset(): Unit = {
      jobs.set(0); stages.set(0); tasks.set(0)
      taskTimeMs.set(0L); cpuTimeNs.set(0L)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repeats = sys.env.getOrElse("SPARK_GRAFT_PROFILE_N", "3").toInt
    require(args.nonEmpty, "usage: ProfileQ name [name…]")
    val selected = queries.Registry.resolve(args.toSeq)
    val spark = core.Session.build("graft-profile")
    spark.range(1000000).selectExpr("sum(id)").collect()
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    selected.foreach { q =>
      val name = q.name
      val samples = (1 to repeats).map { i =>
        // drain the previous sample's events before the reset
        ListenerBridge.drain(spark.sparkContext)
        counters.reset()
        val t0 = System.nanoTime()
        val df = q.fn(spark, sfDir)
        val t1 = System.nanoTime()
        core.Measure.consume(df)
        val t2 = System.nanoTime()
        ListenerBridge.drain(spark.sparkContext)
        core.Measure.releaseAll(spark)
        val (c, e) = ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
        val tt = counters.taskTimeMs.get() / 1e3
        val cpu = counters.cpuTimeNs.get() / 1e9
        println(f"[profile] $name%-28s #$i construct $c%6.2f s  execute $e%6.2f s  " +
          f"jobs ${counters.jobs.get()}%3d  stages ${counters.stages.get()}%3d  " +
          f"tasks ${counters.tasks.get()}%5d  taskTime $tt%8.2f s  cpu $cpu%8.2f s  " +
          f"par ${tt / (c + e)}%5.1f  cpuShare ${if (tt > 0) cpu / tt else 0.0}%4.2f")
        (c, e)
      }
      println(f"[profile] $name%-28s min  construct ${samples.map(_._1).min}%6.2f s  " +
        f"execute ${samples.map(_._2).min}%6.2f s  (min of $repeats)")
    }
    spark.stop()
  }
}
