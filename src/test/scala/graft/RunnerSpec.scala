package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerBridge
import org.apache.spark.storage.StorageLevel
import graft.monitors.Runner
import graft.monitors.Runner.MonitorJob

class RunnerSpec extends SparkSpec {
  import spark.implicits._

  test("runner executes ingest first, buckets by cadence, isolates failures") {
    Runner.clear()
    val order = scala.collection.mutable.ArrayBuffer[String]()
    Runner.register(MonitorJob("osm_shift", "monthly", s => {
      order += "osm_shift"
      Seq((1, 2.0)).toDF("k", "v")
    }))
    Runner.register(MonitorJob("broken", "monthly", _ => {
      order += "broken"
      throw new RuntimeException("boom")
    }))
    Runner.register(MonitorJob("no_message", "monthly", _ => throw new NullPointerException()))
    Runner.register(MonitorJob("daily_only", "daily", s => {
      order += "daily_only"
      Seq((9, 9.0)).toDF("k", "v")
    }))
    val sunk = scala.collection.mutable.Map[String, Long]()
    val results = Runner.runAll(spark, "monthly",
      ingest = Some(() => order += "ingest"),
      sink = (name, df) => sunk(name) = df.count())
    assert(order.take(1) == Seq("ingest"), "ingest runs before monitors")
    assert(!order.contains("daily_only"), "other cadences untouched")
    assert(results.map(_.name) == Seq("osm_shift", "broken", "no_message"))
    assert(results.head.rowCount == 1 && results.head.error.isEmpty)
    assert(results(1).error.exists(_.contains("boom")), "failure recorded, not fatal")
    assert(results(2).rowCount == -1L &&
      results(2).error.exists(_.contains("NullPointerException")),
      s"a failure without a message records its class: ${results(2).error}")
    assert(sunk == Map("osm_shift" -> 1L))
  }

  test("runner rethrows fatal errors instead of recording them") {
    val fatals = Seq[() => Throwable](() => new InterruptedException("stop"),
      () => new StackOverflowError("deep"))
    for (fatal <- fatals; inSink <- Seq(false, true)) {
      Runner.clear()
      val order = scala.collection.mutable.ArrayBuffer[String]()
      Runner.register(MonitorJob("fatal", "monthly", _ => {
        order += "fatal"
        if (inSink) Seq((1, 2.0)).toDF("k", "v") else throw fatal()
      }))
      Runner.register(MonitorJob("after", "monthly", _ => {
        order += "after"
        Seq((1, 2.0)).toDF("k", "v")
      }))
      val sink = (name: String, _: DataFrame) => if (inSink && name == "fatal") throw fatal()
      val thrown = intercept[Throwable](Runner.runAll(spark, "monthly", sink = sink))
      val where = if (inSink) "sink" else "run"
      assert(thrown.getClass == fatal().getClass, s"thrown from the $where")
      assert(order == Seq("fatal"), s"no monitor runs after a fatal error in the $where")
    }
    Runner.clear()
  }

  test("an interrupt while the runner waits for the observation propagates") {
    Runner.clear()
    val order = scala.collection.mutable.ArrayBuffer[String]()
    Seq("first", "after").foreach { name =>
      Runner.register(MonitorJob(name, "monthly", _ => {
        order += name
        Seq((1, 2.0)).toDF("k", "v")
      }))
    }
    // hold the shared listener queue at the sink's query start: the
    // observation cannot complete, so the runner must wait for the bus
    val armed = new AtomicBoolean(true)
    val release = new CountDownLatch(1)
    val hold = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart if armed.getAndSet(false) =>
          release.await(30, TimeUnit.SECONDS)
        case _ =>
      }
    }
    ListenerBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(hold)
    val thrown = new AtomicReference[Throwable]()
    val runner = new Thread(() =>
      try Runner.runAll(spark, "monthly", sink = (_, df) => df.count())
      catch { case t: Throwable => thrown.set(t) })
    def waiting = runner.getStackTrace.exists(_.getMethodName == "waitUntilEmpty")
    try {
      runner.start()
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while (!waiting && runner.isAlive && System.nanoTime() < deadline) Thread.sleep(5)
      assert(waiting, "the runner never waited for the listener bus")
      runner.interrupt()
      runner.join(TimeUnit.SECONDS.toMillis(30))
    } finally {
      release.countDown()
      spark.sparkContext.removeSparkListener(hold)
      Runner.clear()
    }
    assert(!runner.isAlive)
    assert(thrown.get.isInstanceOf[InterruptedException], thrown.get)
    assert(order == Seq("first"), "no monitor runs after the interrupt")
  }

  test("each monitor's plan executes once per runAll, whatever the sink") {
    val n = 40L
    val out = Files.createTempDirectory("runner-once").toString
    val sinks = Seq[(String, (String, DataFrame) => Unit)](
      "parquet" -> ((name, df) => df.write.mode("overwrite").parquet(s"$out/$name")),
      "no-op" -> ((_, _) => ()),
      "count" -> ((_, df) => df.count()))
    sinks.foreach { case (label, sink) =>
      Runner.clear()
      val rowsEvaluated = spark.sparkContext.longAccumulator(s"runner-once-$label")
      val tick = udf { (_: Long) => rowsEvaluated.add(1); true }.asNondeterministic()
      var invocations = 0
      Runner.register(MonitorJob("once", "monthly", s => {
        invocations += 1
        s.range(0, n, 1, 2).toDF("k").where(tick(col("k")))
      }))
      val Seq(r) = Runner.runAll(spark, "monthly", sink = sink)
      assert(r.error.isEmpty, s"$label sink: ${r.error}")
      assert(invocations == 1, s"$label sink: run invoked $invocations times")
      assert(rowsEvaluated.value == n, s"$label sink: ${rowsEvaluated.value} row evaluations")
      assert(r.rowCount == n, s"$label sink")
      if (label == "parquet")
        assert(spark.read.parquet(s"$out/once").count() == r.rowCount)
    }
    Runner.clear()
  }

  test("after runAll, a query that fails analysis logs no listener-bus ERROR") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    Runner.clear()
    Runner.register(MonitorJob("observed", "monthly", _ => Seq((1, 2.0)).toDF("k", "v")))
    val out = Files.createTempDirectory("runner-listener").toString
    val Seq(r) = Runner.runAll(spark, "monthly",
      sink = (name, df) => df.write.mode("overwrite").parquet(s"$out/$name"))
    Runner.clear()
    assert(r.error.isEmpty && r.rowCount == 1L, r)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("runner-listener-errors", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.ERROR))
          errors.add(e.getMessage.getFormattedMessage)
    }
    val bus = LogManager.getLogger("org.apache.spark.sql.util.ExecutionListenerBus")
      .asInstanceOf[CoreLogger]
    capture.start()
    bus.addAppender(capture)
    try {
      // a non-foldable argument fails analysis of the collect's query
      intercept[org.apache.spark.sql.AnalysisException] {
        Seq((Seq("a", "b"), 4)).toDF("sh", "n")
          .selectExpr("md_minhash_signature(sh, n)").collect()
      }
      ListenerBridge.drain(spark.sparkContext)
    } finally {
      bus.removeAppender(capture)
      capture.stop()
    }
    assert(errors.isEmpty, s"listener-bus ERRORs after runAll: $errors")
  }

  test("a Shared frame is built once per runAll, read from cache by every sibling, released after") {
    Runner.clear()
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    def frame = spark.range(0, 10, 1, 2).toDF("k")
    val base = new Runner.Shared(() => { builds.incrementAndGet(); frame })
    def cached = frame.storageLevel != StorageLevel.NONE
    Runner.register(MonitorJob("first", "monthly", _ => {
      base()
      throw new RuntimeException("first reader fails")
    }))
    Runner.register(MonitorJob("all", "monthly", _ => base()))
    Runner.register(MonitorJob("half", "monthly", _ => base().where(col("k") < 5)))
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val cachedInSink = scala.collection.mutable.ArrayBuffer[Boolean]()
    val results = Runner.runAll(spark, "monthly",
      sink = (_, df) => { df.collect(); cachedInSink += cached })
    Runner.clear()
    assert(results.map(r => (r.name, r.rowCount)) ==
      Seq(("first", -1L), ("all", 10L), ("half", 5L)))
    assert(results.head.error.exists(_.contains("first reader fails")))
    assert(builds.get == 1, "siblings read the frame the failed monitor built")
    assert(cachedInSink == Seq(true, true))
    assert(!cached, "released when runAll returns")
    assert(spark.sparkContext.getPersistentRDDs.keySet == rddsBefore)
    base()
    assert(builds.get == 2 && !cached, "outside runAll the frame is built plain")
  }

  test("full monthly run: real FITS OSM monitor through the runner with CSV sink") {
    Runner.clear()
    val data = "/root/reference/tests/data"
    Runner.register(MonitorJob("fuv_osm_shift", "monthly", s => {
      val lamp = s.read.format("fits")
        .option("headers", "ROOTNAME,DETECTOR,OPT_ELEM,EXPSTART")
        .load(s"$data/*lampflash*")
        .select("ROOTNAME", "DETECTOR", "OPT_ELEM", "EXPSTART",
          "TIME", "SHIFT_DISP", "SHIFT_XDISP", "SEGMENT")
        .withColumn("EXPSTART", col("EXPSTART").cast("double"))
      val sms = lamp.select(
        expr("substring(ROOTNAME, 1, length(ROOTNAME)-1)").as("ROOTNAME"))
        .withColumn("TSINCEOSM1", lit(100.0))
      graft.monitors.Monitors.osmShiftData(lamp, sms)
    }))
    val outDir = Files.createTempDirectory("runner-out").toString
    val results = Runner.runAll(spark, "monthly",
      sink = (name, df) => df.coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(s"$outDir/$name"))
    assert(results.head.error.isEmpty && results.head.rowCount > 0)
    // S17 CSV sink artifact exists and reads back with the same count
    val back = spark.read.option("header", "true").csv(s"$outDir/fuv_osm_shift")
    assert(back.count() == results.head.rowCount)
  }

  test("full monthly run: synthetic FITS OSM monitor through the runner with CSV sink") {
    Runner.clear()
    Runner.register(MonitorJob("fuv_osm_shift", "monthly", s => {
      val lamp = s.read.format("fits")
        .option("headers", "ROOTNAME,DETECTOR,OPT_ELEM,EXPSTART")
        .load(SyntheticFits.path("*lampflash*"))
        .select("ROOTNAME", "DETECTOR", "OPT_ELEM", "EXPSTART",
          "TIME", "SHIFT_DISP", "SHIFT_XDISP", "SEGMENT")
        .withColumn("EXPSTART", col("EXPSTART").cast("double"))
      val sms = lamp.select(
        expr("substring(ROOTNAME, 1, length(ROOTNAME)-1)").as("ROOTNAME"))
        .withColumn("TSINCEOSM1", lit(100.0))
      graft.monitors.Monitors.osmShiftData(lamp, sms)
    }))
    val outDir = Files.createTempDirectory("runner-out").toString
    val results = Runner.runAll(spark, "monthly",
      sink = (name, df) => df.coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(s"$outDir/$name"))
    Runner.clear()
    assert(results.head.error.isEmpty)
    assert(results.head.rowCount == SyntheticFits.lamps.filter(_.fuv).map(_.rows).sum)
    val back = spark.read.option("header", "true").csv(s"$outDir/fuv_osm_shift")
    assert(back.count() == results.head.rowCount)
  }
}
