package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM, one session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** A test of operators that cache intermediates: everything cached is
    * released when the test ends, pass or fail, the way every main
    * releases after each query ([[graft.core.Measure.releaseAll]]). */
  def releasingTest(name: String)(body: => Any)
                   (implicit pos: org.scalactic.source.Position): Unit =
    test(name)({ try body finally graft.core.Measure.releaseAll(spark) })(pos)
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // the by-design WARNs the mains quiet (Session.build) stay quiet here
    graft.core.Logs.quietKnownWarnings()
    s
  }
}
