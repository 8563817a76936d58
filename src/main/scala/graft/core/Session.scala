package graft.core

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder of the repo's mains (Verify, ProfileQ,
  * Explain, ScaleCheck, ScaleFixture): `local[N]` with
  * N = `SPARK_GRAFT_CPUS` or else the JVM's core count, shuffle
  * partitions = N, UTC, UI off, and a registry-sized codegen cache so
  * repeated queries run compile-free. The benchmark harness
  * (`cosmobench`) builds the same session with its own scratch dirs. */
object Session {
  def build(appName: String): SparkSession = {
    val n = sys.env.get("SPARK_GRAFT_CPUS").filter(_.nonEmpty)
      .getOrElse(Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Logs.quietKnownWarnings()
    spark
  }
}
