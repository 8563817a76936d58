package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerBridge
import org.apache.spark.sql.types.TimestampType
import graft.core.Tables

/** The schema memo in [[graft.core.Tables]]: an unchanged table is
  * inferred once, a changed one again, and every call is a fresh
  * relation. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private val tagKey = "graft.tablesSpec.tag"

  /** `body`'s result and the number of Spark jobs it started on this
    * thread (a local property tags them, so no other job is counted). */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(tagKey) == tag)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(tagKey, tag)
    try {
      val out = body
      ListenerBridge.drain(sc)
      (out, jobs.get)
    } finally {
      sc.setLocalProperty(tagKey, null)
      sc.removeSparkListener(listener)
    }
  }

  private def tempDir(): Path = Files.createTempDirectory("tables-memo")

  test("an unchanged table is inferred once; nanos ts still reads as micros") {
    val dir = tempDir()
    val file = dir.resolve("events.parquet")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val nanos = Seq(1704067200123456789L, 1704067201000000999L, 1706745599999999999L)
    val conf = new Configuration()
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toString), conf))
      .withType(schema).withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    try nanos.zipWithIndex.foreach { case (ns, i) =>
      writer.write(groups.newGroup().append("event_id", i.toLong).append("ts", ns))
    } finally writer.close()

    val (_, first) = jobsOf(Tables(spark, dir.toString, "events"))
    assert(first >= 1, "a new path's first call infers its schema with a job")
    val (again, second) = jobsOf(Tables(spark, dir.toString, "events"))
    assert(second == 0, "an unchanged table's second call runs no job")
    // the memo holds what a fresh inference under nanosAsLong returns
    assert(Tables.schemaOf(spark, file.toString) ==
      spark.read.parquet(file.toString).schema)
    assert(again.schema("ts").dataType == TimestampType)
    val micros = again.orderBy("event_id").select(unix_micros(col("ts")))
      .as[Long].collect().toSeq
    assert(micros == nanos.map(_ / 1000))
  }

  test("two loads of one table are two relations: a real equi-join") {
    val dir = tempDir().toString
    spark.range(5).select(col("id").as("k"), (col("id") * 10).as("v"))
      .write.parquet(s"$dir/t.parquet")
    val a = Tables(spark, dir, "t")
    val b = Tables(spark, dir, "t")
    val ids = (d: org.apache.spark.sql.DataFrame) =>
      d.queryExecution.analyzed.output.map(_.exprId).toSet
    assert((ids(a) intersect ids(b)).isEmpty)
    // without auto-resolution a shared plan's a("k") === b("k") would be
    // the trivially true k = k
    spark.conf.set("spark.sql.selfJoinAutoResolveAmbiguity", "false")
    try assert(a.join(b, a("k") === b("k")).count() == 5)
    finally spark.conf.unset("spark.sql.selfJoinAutoResolveAmbiguity")
  }

  test("a table rewritten with an extra column is seen on the next call") {
    val dir = tempDir().toString
    spark.range(3).select(col("id").as("k"))
      .write.parquet(s"$dir/t.parquet")
    assert(Tables(spark, dir, "t").columns.toSeq == Seq("k"))
    spark.range(3).select(col("id").as("k"), lit("x").as("extra"))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val t = Tables(spark, dir, "t")
    assert(t.columns.toSeq == Seq("k", "extra"))
    assert(t.select("extra").as[String].collect().toSeq == Seq("x", "x", "x"))
  }

  test("a 32-file directory hits after its first read, misses after a file is replaced") {
    val dir = tempDir()
    val table = dir.resolve("t.parquet")
    spark.range(320).repartition(32).write.parquet(table.toString)
    def parts = Files.list(table).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".parquet")).sorted
    assert(parts.length == 32)
    def load() = jobsOf(Tables(spark, dir.toString, "t"))
    assert(load()._2 >= 1)
    assert(load()._2 == 0)

    // replace one file's bytes with another's; its checksum goes with the
    // old bytes, and its mtime is moved so the millisecond clock cannot tie
    val Array(victim, donor) = parts.take(2)
    val mtime = victim.toFile.lastModified()
    Files.copy(donor, victim, StandardCopyOption.REPLACE_EXISTING)
    Files.deleteIfExists(victim.resolveSibling(s".${victim.getFileName}.crc"))
    assert(victim.toFile.setLastModified(mtime + 1000))
    assert(parts.length == 32)
    val (replaced, miss) = load()
    assert(miss >= 1, "a replaced file makes the next call infer again")
    assert(load()._2 == 0)
    assert(replaced.count() == 320)
  }
}
