package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
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
    assert(results.map(_.name) == Seq("osm_shift", "broken"))
    assert(results.head.rowCount == 1 && results.head.error.isEmpty)
    assert(results(1).error.exists(_.contains("boom")), "failure recorded, not fatal")
    assert(sunk == Map("osm_shift" -> 1L))
  }

  test("runner rethrows fatal errors instead of recording them") {
    Seq[() => Throwable](() => new InterruptedException("stop"),
      () => new StackOverflowError("deep")).foreach { fatal =>
      Runner.clear()
      val order = scala.collection.mutable.ArrayBuffer[String]()
      Runner.register(MonitorJob("fatal", "monthly", _ => {
        order += "fatal"
        throw fatal()
      }))
      Runner.register(MonitorJob("after", "monthly", _ => {
        order += "after"
        Seq((1, 2.0)).toDF("k", "v")
      }))
      val thrown = intercept[Throwable](Runner.runAll(spark, "monthly"))
      assert(thrown.getClass == fatal().getClass)
      assert(order == Seq("fatal"), "no monitor runs after a fatal error")
    }
    Runner.clear()
  }

  test("full monthly run: real FITS OSM monitor through the runner with CSV sink") {
    Runner.clear()
    val data = "/root/reference/tests/data"
    Runner.register(MonitorJob("fuv_osm_shift", "monthly", s => {
      val lamp = graft.ingest.Fits.exposures(s, s"$data/*lampflash*",
        headerReq = Map(0 -> Seq("ROOTNAME", "DETECTOR", "OPT_ELEM"),
          1 -> Seq("EXPSTART")),
        tableReq = Map(1 -> Seq("TIME", "SHIFT_DISP", "SHIFT_XDISP", "SEGMENT")))
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
}
