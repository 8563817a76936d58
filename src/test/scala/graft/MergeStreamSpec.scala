package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.ops.MergeOps
import graft.streaming.Streams

class MergeStreamSpec extends SparkSpec {
  import spark.implicits._

  test("upsert: source wins on greater version, target keeps ties (reference semantics)") {
    val target = Seq(("k1", 1, "t1"), ("k2", 2, "t2"), ("k3", 3, "t3"))
      .toDF("k", "ver", "v")
    val source = Seq(("k1", 2, "s1"), ("k2", 2, "s2"), ("k4", 1, "s4"))
      .toDF("k", "ver", "v")
    val out = MergeOps.upsert(target, source, Seq("k"), "ver")
      .select("k", "v").as[(String, String)].collect().toMap
    assert(out == Map(
      "k1" -> "s1", // source ver 2 > target ver 1
      "k2" -> "t2", // tie: target wins (EXCLUDED.VERSION > current is strict)
      "k3" -> "t3", // untouched
      "k4" -> "s4")) // new key inserted
  }

  test("mergeParquet is idempotent and version-guarded across runs") {
    val dir = Files.createTempDirectory("graft-merge").toString + "/table"
    val v1 = Seq(("k1", 1, "a"), ("k2", 1, "b")).toDF("k", "ver", "v")
    MergeOps.mergeParquet(spark, dir, v1, Seq("k"), "ver")
    // re-ingest same data → no change (reference: re-ingest is a no-op)
    MergeOps.mergeParquet(spark, dir, v1, Seq("k"), "ver")
    val after1 = spark.read.parquet(dir).as[(String, Int, String)].collect().toSet
    assert(after1 == Set(("k1", 1, "a"), ("k2", 1, "b")))
    // newer version replaces, older version ignored
    val v2 = Seq(("k1", 2, "a2"), ("k2", 0, "stale")).toDF("k", "ver", "v")
    MergeOps.mergeParquet(spark, dir, v2, Seq("k"), "ver")
    val after2 = spark.read.parquet(dir).as[(String, Int, String)].collect().toSet
    assert(after2 == Set(("k1", 2, "a2"), ("k2", 1, "b")))
  }

  test("discoverNew = candidates minus ingested (anti-join)") {
    val cands = Seq("f1", "f2", "f3").toDF("f")
    val ingested = Seq("f2").toDF("f")
    val out = Streams.discoverNew(cands, ingested, "f").as[String].collect().toSet
    assert(out == Set("f1", "f3"))
  }

  test("streaming incremental ingest merges each micro-batch (AvailableNow)") {
    val base = Files.createTempDirectory("graft-stream").toString
    val srcDir = s"$base/src"
    val tableDir = s"$base/table"
    new java.io.File(srcDir).mkdirs()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ver", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    Seq(("k1", 1, "a"), ("k2", 1, "b")).toDF("k", "ver", "v")
      .write.parquet(s"$srcDir/batch1")
    Seq(("k1", 2, "a2"), ("k3", 1, "c")).toDF("k", "ver", "v")
      .write.parquet(s"$srcDir/batch2")
    val q = Streams.incrementalIngest(spark, s"$srcDir/*/", tableDir,
      s"$base/ckpt", schema, Seq("k"), "ver")
    q.awaitTermination(60000)
    val out = spark.read.parquet(tableDir)
      .as[(String, Int, String)].collect().toSet
    assert(out == Set(("k1", 2, "a2"), ("k2", 1, "b"), ("k3", 1, "c")))
  }

  test("streaming dedup by key with watermark drops replayed events") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val deduped = input.toDF().toDF("k", "v")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")))
      .withWatermark("ts", "1 hour")
      .dropDuplicates("k")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    input.addData(("a", 1), ("b", 2), ("a", 3))
    q.processAllAvailable()
    input.addData(("a", 4), ("c", 5)) // "a" replayed in a later batch
    q.processAllAvailable()
    val out = spark.table("dedup_out").select("k", "v")
      .as[(String, Int)].collect().toSet
    q.stop()
    assert(out.map(_._1) == Set("a", "b", "c"))
    assert(out.count(_._1 == "a") == 1, "replayed key must be dropped across batches")
  }

  test("streaming doc dedup by fingerprint: bounded state, batch-equal on one horizon") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val docs = input.toDF().toDF("doc_id", "ts_s", "text")
      .select(col("doc_id"), to_timestamp(col("ts_s")).as("ts"), col("text"))
    // bounded-state dedup: a fingerprint stays in state only until the
    // watermark passes its first arrival plus the horizon
    val q = docs.withColumn("fp", graft.ops.Text.fingerprint(col("text")))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("fp")
      .select("doc_id", "text")
      .writeStream.format("memory").queryName("doc_dedup_out")
      .outputMode("append").start()
    // same normalized content under different doc_ids and formatting —
    // the fingerprint (normalize + md5) must collapse all three
    input.addData(
      (1L, "2024-01-01 00:00:00", "The quick fox"),
      (2L, "2024-01-01 00:10:00", "the QUICK   fox!"),
      (3L, "2024-01-01 00:20:00", "something else"))
    q.processAllAvailable()
    input.addData((4L, "2024-01-01 00:30:00", "The quick fox")) // dup, in horizon
    q.processAllAvailable()
    val out = spark.table("doc_dedup_out").as[(Long, String)].collect().toSet
    q.stop()
    assert(out.map(_._1) == Set(1L, 3L),
      s"expected first-arrival survivors only, got $out")
    // and the surviving set equals the batch fingerprint dedup of the
    // same bounded input (keep-first-by-id policy)
    val batch = Seq((1L, "The quick fox"), (2L, "the QUICK   fox!"),
      (3L, "something else"), (4L, "The quick fox"))
      .toDF("doc_id", "text")
      .withColumn("fp", graft.ops.Text.fingerprint(col("text")))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("fp").orderBy("doc_id")))
      .filter(col("rn") === 1).select("doc_id").as[Long].collect().toSet
    assert(batch == out.map(_._1))
  }

  test("streaming curation = quality gate then bounded dedup, equal to batch flags") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stopwords = Seq("the", "a")
    // long texts pass the quality gate (>= 10 tokens, sane shape); short
    // and stopword-heavy ones fail it before any state is touched
    val good = "the quick brown fox jumps over a lazy dog near the old river bank"
    val junk = "the a the a the a the a the a the a"
    val input = MemoryStream[(Long, String, String)]
    val docs = input.toDF().toDF("doc_id", "ts_s", "text")
      .select(col("doc_id"), to_timestamp(col("ts_s")).as("ts"), col("text"))
    // the per-row quality gate runs before the one stateful operator
    val q = docs
      .filter(graft.ops.Text.qualityMetrics(col("text"), stopwords).getField("keep"))
      .withColumn("fp", graft.ops.Text.fingerprint(col("text")))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("fp")
      .select("doc_id")
      .writeStream.format("memory").queryName("curate_out")
      .outputMode("append").start()
    input.addData(
      (1L, "2024-01-01 00:00:00", good),
      (2L, "2024-01-01 00:01:00", "too short"),
      (3L, "2024-01-01 00:02:00", junk))
    q.processAllAvailable()
    input.addData(
      (4L, "2024-01-01 00:10:00", good.toUpperCase), // normalized dup of 1
      (5L, "2024-01-01 00:11:00", good + " with an extra distinct tail here"))
    q.processAllAvailable()
    val out = spark.table("curate_out").as[Long].collect().toSet
    q.stop()
    // 2/3 fail quality, 4 is a fingerprint dup of 1 within the horizon
    assert(out == Set(1L, 5L), s"got $out")
    // batch equivalent: quality flags + first-per-fingerprint on the same rows
    val batch = Seq((1L, good), (2L, "too short"), (3L, junk),
      (4L, good.toUpperCase), (5L, good + " with an extra distinct tail here"))
      .toDF("doc_id", "text")
      .filter(graft.ops.Text.qualityMetrics(col("text"), stopwords).getField("keep"))
      .withColumn("fp", graft.ops.Text.fingerprint(col("text")))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("fp").orderBy("doc_id")))
      .filter(col("rn") === 1).select("doc_id").as[Long].collect().toSet
    assert(batch == out)
  }

  test("streaming windowed counts equal the batch tumbling-window result") {
    val events = Seq(
      ("2024-01-01 01:00:00", "click", 1.0),
      ("2024-01-01 23:00:00", "click", 2.0),
      ("2024-01-02 05:00:00", "click", 4.0),
      ("2024-01-02 06:00:00", "view", 8.0))
      .toDF("ts_s", "event_type", "value")
      .select(to_timestamp(col("ts_s")).as("ts"), col("event_type"), col("value"))
    // the tumbling-window aggregate as a stream reads it: watermarked,
    // append mode emits each window once the watermark passes its end
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def windowed(df: org.apache.spark.sql.DataFrame) = df
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_v"))
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("d"),
        col("event_type"), col("n"), col("sum_v"))
    val input = MemoryStream[(String, String, Double)]
    val q = windowed(input.toDF().toDF("ts_s", "event_type", "value")
        .select(to_timestamp(col("ts_s")).as("ts"), col("event_type"), col("value")))
      .writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    input.addData(("2024-01-01 01:00:00", "click", 1.0),
      ("2024-01-01 23:00:00", "click", 2.0))
    q.processAllAvailable()
    input.addData(("2024-01-02 05:00:00", "click", 4.0),
      ("2024-01-02 06:00:00", "view", 8.0),
      ("2024-01-04 00:00:00", "close", 0.0)) // advances the watermark
    q.processAllAvailable()
    input.addData(("2024-01-04 00:00:01", "close", 0.0)) // emits closed windows
    q.processAllAvailable()
    val streamed = spark.table("win_out")
      .as[(String, String, Long, Double)].collect().toSet
    q.stop()
    val out = windowed(events).as[(String, String, Long, Double)].collect().toSet
    assert(streamed == out, s"stream $streamed vs batch $out")
    assert(out == Set(
      ("2024-01-01", "click", 2L, 3.0),
      ("2024-01-02", "click", 1L, 4.0),
      ("2024-01-02", "view", 1L, 8.0)))
  }

  test("streaming cdc chunks equal the batch chunk rows (stateless append)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = graft.ops.Text.cdcChunks(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("cdc_out")
      .outputMode("append").start()
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog " * 10),
      (2L, "tiny"),
      (3L, "data table row query filter join stream batch " * 8))
    input.addData(docs.take(2): _*)
    q.processAllAvailable()
    input.addData(docs.drop(2): _*)
    q.processAllAvailable()
    val streamed = spark.table("cdc_out")
      .as[(Long, Long, Long, Long, String)].collect().toSet
    q.stop()
    val batch = graft.ops.Text.cdcChunks(
        docs.toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(streamed == batch, "streamed chunk rows must equal batch")
    assert(streamed.exists(_._1 == 1L) && streamed.exists(_._1 == 3L))
  }

  test("streaming cms sketch equals the batch sketch, constant-size state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[String]
    val q = graft.ops.Sketches.cmsSketch(
        input.toDF().toDF("tok"), "tok", depth = 4, width = 16)
      .writeStream.format("memory").queryName("cms_out")
      .outputMode("complete").start()
    val batch1 = Seq.fill(3)("alpha") ++ Seq("beta", "gamma")
    val batch2 = Seq.fill(2)("alpha") ++ Seq.fill(4)("delta")
    input.addData(batch1: _*)
    q.processAllAvailable()
    input.addData(batch2: _*)
    q.processAllAvailable()
    val streamed = spark.table("cms_out")
      .as[(Int, Int, Long)].collect().toSet
    q.stop()
    val batch = graft.ops.Sketches.cmsSketch(
        (batch1 ++ batch2).toDF("tok"), "tok", depth = 4, width = 16)
      .as[(Int, Int, Long)].collect().toSet
    assert(streamed == batch, "complete-mode sketch must equal batch sketch")
    assert(streamed.size <= 4 * 16, "state is bounded by the grid size")
  }

  test("streaming index stats equal the batch stats, vocab-bounded state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[String]
    val q = Streams.streamingIndexStats(input.toDF().toDF("text"), "text")
      .writeStream.format("memory").queryName("idx_stats")
      .outputMode("complete").start()
    val b1 = Seq("alpha beta alpha", "beta gamma")
    val b2 = Seq("alpha delta delta delta", "")
    input.addData(b1: _*)
    q.processAllAvailable()
    input.addData(b2: _*)
    q.processAllAvailable()
    val streamed = spark.table("idx_stats")
      .as[(String, Long, Long)].collect().toSet
    q.stop()
    val batch = Streams.streamingIndexStats(
        (b1 ++ b2).toDF("text"), "text")
      .as[(String, Long, Long)].collect().toSet
    assert(streamed == batch, "complete-mode stats must equal batch stats")
    // hand check: df counts docs, cf counts occurrences
    assert(streamed.contains(("alpha", 2L, 3L)))
    assert(streamed.contains(("delta", 1L, 3L)))
    assert(streamed.size == 4, "state rows = vocabulary size")
  }

  test("stream-stream interval join: attribution within the window, state bounded by watermarks") {
    // the click/impression attribution shape: two unbounded streams
    // joined on key + a time-range condition. Watermarks on BOTH sides
    // plus the range bound are what let Spark expire join state — the
    // stream-stream member of the §2.11 family (windows/dedup/sketch/
    // cells are the others).
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val impIn = MemoryStream[(Long, Int)]
    val clkIn = MemoryStream[(Long, Int)]
    val imps = impIn.toDF().toDF("ad_id", "imp_off")
      .select(col("ad_id"), col("imp_off"), timestamp_seconds(
        lit(1704067200L) + col("imp_off")).as("imp_time"))
      .withWatermark("imp_time", "10 seconds")
    val clks = clkIn.toDF().toDF("clk_ad_id", "clk_off")
      .select(col("clk_ad_id"), col("clk_off"), timestamp_seconds(
        lit(1704067200L) + col("clk_off")).as("clk_time"))
      .withWatermark("clk_time", "10 seconds")
    val joined = imps.join(clks,
      col("ad_id") === col("clk_ad_id") &&
        col("clk_time") >= col("imp_time") &&
        col("clk_time") <= col("imp_time") + expr("interval 30 seconds"))
      .select(col("ad_id"), col("imp_off"), col("clk_off"))
    val q = joined.writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    impIn.addData((1L, 0), (2L, 5), (3L, 10))
    clkIn.addData((1L, 20))            // within 30s of imp(1L, 0)
    q.processAllAvailable()
    clkIn.addData((2L, 50), (3L, 25))  // 2L outside its window, 3L inside
    q.processAllAvailable()
    val out = spark.table("attr_out")
      .select(col("ad_id"), col("clk_off") - col("imp_off"))
      .as[(Long, Int)].collect().toSet
    q.stop()
    assert(out == Set((1L, 20), (3L, 15)),
      "only clicks within the 30s attribution window join")
  }

  test("streaming IVF assignment equals the batch assignment") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cents = Seq((0L, Seq(0.0, 1.0)), (1L, Seq(1.0, 0.0)))
      .toDF("centroid_id", "v")
    val vecs = Seq((10L, Seq(0.1, 0.9)), (11L, Seq(0.9, 0.2)),
      (12L, Seq(0.6, 0.55)), (13L, Seq(-0.2, 0.3)))
    val input = MemoryStream[(Long, Seq[Double])]
    // stateless per-row projection against the packed static centroids:
    // valid in append mode with no watermark, state-free by construction
    val q = graft.ops.Similarity.ivfAssign(
        input.toDF().toDF("vec_id", "v"), "v", cents)
      .select("vec_id", "centroid_id")
      .writeStream.format("memory").queryName("ivf_assign_out")
      .outputMode("append").start()
    input.addData(vecs.take(2): _*)
    q.processAllAvailable()
    input.addData(vecs.drop(2): _*)
    q.processAllAvailable()
    val streamed = spark.table("ivf_assign_out")
      .as[(Long, Long)].collect().toSet
    q.stop()
    val batch = graft.ops.Similarity.ivfAssign(
        vecs.toDF("vec_id", "v"), "v", cents)
      .select("vec_id", "centroid_id").as[(Long, Long)].collect().toSet
    assert(streamed == batch, "stream assignment must equal batch")
    assert(streamed.map(_._1) == Set(10L, 11L, 12L, 13L))
  }

  test("streaming classifier scoring equals batch (stateless, trained weights)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // train on a tiny separable corpus in batch; stream applies
    val pos = (0 until 10).map(i => (i.toLong, "good clean prose text"))
    val neg = (10 until 20).map(i => (i.toLong, "spam junk noise garbage"))
    val train = (pos ++ neg).toDF("doc_id", "text")
    val w = graft.ops.Curation.trainTextClassifier(train, "doc_id", "text",
        org.apache.spark.sql.functions.col("doc_id") < 10,
        buckets = 32, rounds = 3, lr = 10.0)
      .orderBy("bucket").select("w").as[Double].collect().toSeq
    val input = MemoryStream[(Long, String)]
    def scored(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("p", graft.ops.Curation.classifierScore(col("text"), w))
      .withColumn("keep", col("p") >= 0.5)
    val q = scored(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("cls_out")
      .outputMode("append").start()
    val arriving = Seq((100L, "good clean prose text"),
      (101L, "spam junk noise garbage"), (102L, "good clean junk noise"))
    input.addData(arriving.take(1): _*)
    q.processAllAvailable()
    input.addData(arriving.drop(1): _*)
    q.processAllAvailable()
    val streamed = spark.table("cls_out")
      .as[(Long, String, Double, Boolean)].collect().toSet
    q.stop()
    val batch = scored(arriving.toDF("doc_id", "text"))
      .as[(Long, String, Double, Boolean)].collect().toSet
    assert(streamed == batch, "streamed scores must equal batch")
    assert(streamed.find(_._1 == 100L).exists(_._4))
    assert(!streamed.find(_._1 == 101L).exists(_._4))
  }

  test("streaming DSIR scoring from stored ratios equals batch (stateless)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val train = ((1L to 5L).map(i => (i, "alpha beta gamma", true)) ++
      (6L to 10L).map(i => (i, "omega psi chi", false)))
      .toDF("doc_id", "text", "tgt")
    val lr = graft.ops.Curation.weightsFromDF(
      graft.ops.Curation.dsirModelDF(train, "doc_id", "text",
        org.apache.spark.sql.functions.col("tgt"), buckets = 32),
      buckets = 32)
    val input = MemoryStream[(Long, String)]
    def scored(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("n_tokens", graft.ops.Curation.dsirTokenCount(col("text")))
      .withColumn("log_weight",
        round(graft.ops.Curation.dsirScore(col("text"), lr), 4) + lit(0))
    val q = scored(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("dsir_out")
      .outputMode("append").start()
    val arriving = Seq((100L, "alpha beta alpha"), (101L, "omega psi"),
      (102L, "alpha unseen_token"))
    input.addData(arriving.take(1): _*)
    q.processAllAvailable()
    input.addData(arriving.drop(1): _*)
    q.processAllAvailable()
    val streamed = spark.table("dsir_out")
      .as[(Long, String, Long, Double)].collect().toSet
    q.stop()
    val batch = scored(arriving.toDF("doc_id", "text"))
      .as[(Long, String, Long, Double)].collect().toSet
    assert(streamed == batch, "streamed DSIR scores must equal batch")
    // target-vocab doc scores above off-target-vocab doc
    val byId = streamed.map(r => r._1 -> r._4).toMap
    assert(byId(100L) > byId(101L))
  }

  test("streaming LM scoring from a stored model equals batch") {
    val base = Files.createTempDirectory("graft-lm-stream").toString
    val srcDir = s"$base/src"
    new java.io.File(srcDir).mkdirs()
    // batch trains once and persists the model; the stream scores from
    // the STORE (batch-trains/stream-applies, the classifier split)
    val train = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the rug")).toDF("doc_id", "text")
    graft.ops.Text.bigramModelDF(train, "doc_id", "text")
      .write.parquet(s"$base/model")
    val model = spark.read.parquet(s"$base/model")
    val arriving = Seq((10L, "the cat sat on the rug"),
      (11L, "a zebra flew"), (12L, "the dog sat on the mat"))
    arriving.take(1).toDF("doc_id", "text").write.parquet(s"$srcDir/b1")
    arriving.drop(1).toDF("doc_id", "text").write.parquet(s"$srcDir/b2")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val q = Streams.eachFileBatch(spark, s"$srcDir/*/", s"$base/ckpt",
        schema) { (batch, _) =>
      graft.ops.Text.bigramNllFromModel(batch, "doc_id", "text", model)
        .write.mode("append").parquet(s"$base/out")
    }
    q.awaitTermination(60000)
    val streamed = spark.read.parquet(s"$base/out")
      .as[(Long, Long, Double)].collect().toSet
    val batch = graft.ops.Text.bigramNllFromModel(
        arriving.toDF("doc_id", "text"), "doc_id", "text", model)
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == batch, s"stream must equal batch: $streamed vs $batch")
    assert(streamed.map(_._1) == Set(10L, 11L, 12L))
  }

  test("streaming winnow gate: arriving batches vs a stored index equal batch") {
    val base = Files.createTempDirectory("graft-winnow-gate").toString
    val srcDir = s"$base/src"
    new java.io.File(srcDir).mkdirs()
    // the stored corpus: a batch job builds the fingerprint index once
    val store = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "completely different text about spark catalyst optimizer internals"),
      (3L, "a third unrelated stored document with its own words entirely")
    ).toDF("doc_id", "text")
    val (sets0, rare0) = graft.ops.Text.winnowIndex(store, "doc_id", "text",
      k = 5, w = 4, maxDf = 20)
    sets0.write.parquet(s"$base/sets"); rare0.write.parquet(s"$base/rare")
    val sets = spark.read.parquet(s"$base/sets")
    val rare = spark.read.parquet(s"$base/rare")
    // arrivals: one edited copy (local edit — winnowing keeps shared
    // substring fingerprints), one clean doc, one too-short doc
    val arriving = Seq(
      (10L, "EDITED the quick brown fox jumps over the lazy dog near the river bank"),
      (11L, "a genuinely novel arriving document sharing no long substring"),
      (12L, "ab"))
    arriving.take(1).toDF("doc_id", "text").write.parquet(s"$srcDir/b1")
    arriving.drop(1).toDF("doc_id", "text").write.parquet(s"$srcDir/b2")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val q = Streams.eachFileBatch(spark, s"$srcDir/*/", s"$base/ckpt",
        schema) { (batch, _) =>
      graft.ops.Text.winnowGateFromIndex(batch, "doc_id", "text", sets, rare,
          k = 5, w = 4, minShared = 3, minJacPct = 50)
        .write.mode("append").parquet(s"$base/out")
    }
    q.awaitTermination(60000)
    val streamed = spark.read.parquet(s"$base/out")
      .as[(Long, Long, Long, Int, Int)].collect().toSet
    val batch = graft.ops.Text.winnowGateFromIndex(
        arriving.toDF("doc_id", "text"), "doc_id", "text", sets, rare,
        k = 5, w = 4, minShared = 3, minJacPct = 50)
      .as[(Long, Long, Long, Int, Int)].collect().toSet
    assert(streamed == batch, s"stream must equal batch: $streamed vs $batch")
    // the edited copy matched its original; the novel and short docs kept
    assert(streamed.map(p => (p._1, p._2)) == Set((10L, 1L)))
  }

  test("streaming winnow fingerprints equal batch (stateless)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    def fps(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("fps", graft.ops.Text.winnowFingerprints(col("text")))
    val q = fps(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("winnow_out")
      .outputMode("append").start()
    val arriving = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "PREFIX the quick brown fox jumps over the lazy dog"),
      (3L, "ab")) // shorter than k: empty fingerprint set
    input.addData(arriving.take(2): _*)
    q.processAllAvailable()
    input.addData(arriving.drop(2): _*)
    q.processAllAvailable()
    val streamed = spark.table("winnow_out")
      .as[(Long, String, Seq[Long])].collect().toSet
    q.stop()
    val batch = fps(arriving.toDF("doc_id", "text"))
      .as[(Long, String, Seq[Long])].collect().toSet
    assert(streamed == batch, "streamed fingerprints must equal batch")
    // the local-edit property holds across the stream boundary
    val f1 = streamed.find(_._1 == 1L).get._3.toSet
    val f2 = streamed.find(_._1 == 2L).get._3.toSet
    assert(f1.subsetOf(f2) && f1.nonEmpty)
    assert(streamed.find(_._1 == 3L).get._3.isEmpty)
  }

  test("streaming FIM transform equals batch (stateless projection)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = graft.ops.Corrupt.fimTransform(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("fim_out")
      .outputMode("append").start()
    val docs = Seq((1L, "a b c d e f g h"), (2L, "x y"), (3L, "solo"))
    input.addData(docs.take(1): _*)
    q.processAllAvailable()
    input.addData(docs.drop(1): _*)
    q.processAllAvailable()
    val streamed = spark.table("fim_out")
      .as[(Long, Long, Long, Long, String)].collect().toSet
    q.stop()
    val batch = graft.ops.Corrupt.fimTransform(docs.toDF("doc_id", "text"),
        "doc_id", "text")
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(streamed == batch, "streamed FIM rows must equal batch")
    assert(streamed.size == 3 &&
      streamed.forall(_._5.startsWith("<fim_prefix>")))
  }

  test("streaming unseen-category rows equal batch (stateless anti-join)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val domain = Seq("click", "view").toDF("event_type")
    val input = MemoryStream[(Long, String)]
    val q = Streams.discoverNew(
        input.toDF().toDF("id", "event_type"), domain, "event_type")
      .writeStream.format("memory").queryName("unseen_rows")
      .outputMode("append").start()
    val arriving = Seq((1L, "click"), (2L, "CLICK"), (3L, "view"),
      (4L, "tap"), (5L, "click"))
    input.addData(arriving.take(2): _*)
    q.processAllAvailable()
    input.addData(arriving.drop(2): _*)
    q.processAllAvailable()
    val streamed = spark.table("unseen_rows")
      .select("id", "event_type").as[(Long, String)].collect().toSet
    q.stop()
    assert(streamed == Set((2L, "CLICK"), (4L, "tap")))
    val batch = Streams.discoverNew(
        arriving.toDF("id", "event_type"), domain, "event_type")
      .select("id", "event_type").as[(Long, String)].collect().toSet
    assert(streamed == batch)
  }

  test("streaming BT win matrix equals batch; fit from the store matches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val q = graft.ops.Preference.winMatrix(
        input.toDF().toDF("winner", "loser"))
      .writeStream.format("memory").queryName("bt_matrix")
      .outputMode("complete").start()
    val b1 = Seq(("a", "b"), ("a", "b"), ("b", "c"))
    val b2 = Seq(("a", "b"), ("c", "b"), ("a", "c"))
    input.addData(b1: _*)
    q.processAllAvailable()
    input.addData(b2: _*)
    q.processAllAvailable()
    val streamed = spark.table("bt_matrix")
      .as[(String, String, Long)].collect().toSet
    q.stop()
    val allGames = (b1 ++ b2).toDF("winner", "loser")
    val batch = graft.ops.Preference.winMatrix(allGames)
      .as[(String, String, Long)].collect().toSet
    assert(streamed == batch, "complete-mode matrix must equal batch")
    assert(streamed.contains(("a", "b", 3L)))
    // serving: the fit FROM the streamed store equals the fit from the
    // game log — the leaderboard never replays games
    val fromStore = graft.ops.Preference.btFromMatrix(
        spark.createDataFrame(streamed.toSeq).toDF("winner", "loser", "w"),
        iters = 3)
      .as[(String, Long, Long, Double)].collect().toSet
    val fromLog = graft.ops.Preference.btLeaderboard(allGames, iters = 3)
      .as[(String, Long, Long, Double)].collect().toSet
    assert(fromStore == fromLog)
  }

  test("streaming DoReMi model equals batch; fit from the store matches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val q = graft.ops.Sampling.doremiModelDF(
        input.toDF().toDF("domain", "text"), "domain", "text",
        buckets = 64)
      .writeStream.format("memory").queryName("doremi_model")
      .outputMode("complete").start()
    val b1 = Seq(("web", "the quick brown fox jumps"),
      ("code", "def f x return x plus one"))
    val b2 = Seq(("web", "the lazy dog sleeps by the river"),
      ("code", "val y equals f of two"),
      ("books", "call me ishmael some years ago"))
    input.addData(b1: _*)
    q.processAllAvailable()
    input.addData(b2: _*)
    q.processAllAvailable()
    val streamed = spark.table("doremi_model")
      .as[(String, Long, Long)].collect().toSet
    q.stop()
    val allDocs = (b1 ++ b2).toDF("domain", "text")
    val batchModel = graft.ops.Sampling.doremiModelDF(
      allDocs, "domain", "text", buckets = 64)
    assert(streamed == batchModel.as[(String, Long, Long)].collect().toSet,
      "complete-mode histogram must equal the batch model")
    // serving: the mixture fit FROM the streamed store equals the fit
    // from the one-shot batch model — the refit never replays documents
    val store = spark.createDataFrame(streamed.toSeq)
      .toDF("domain", "bucket", "c")
    def fitOf(m: org.apache.spark.sql.DataFrame) =
      graft.ops.Sampling.doremiFromModel(m, eta = 1.0, eps = 0.1, iters = 2)
        .select(col("domain"), col("n_tokens"),
          round(col("excess"), 9).as("e"), round(col("weight"), 9).as("w"))
        .as[(String, Long, Double, Double)].collect().toSet
    assert(fitOf(store) == fitOf(batchModel))
  }

  test("streaming JS drift vs a stored reference histogram equals batch") {
    val base = Files.createTempDirectory("graft-js-drift").toString
    val srcDir = s"$base/src"
    new java.io.File(srcDir).mkdirs()
    // the stored reference: a batch job writes the histogram once; the
    // stream reads it from the STORE (never re-derives the corpus)
    val refCorpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick dog sleeps by the brown river")).toDF("id", "text")
    graft.ops.Validation.tokenHistogram(refCorpus, "text")
      .write.parquet(s"$base/refhist")
    val refHist = spark.read.parquet(s"$base/refhist")
    // arrivals: one group per file so no group spans micro-batches —
    // g_same echoes the reference mix, g_drift is mostly novel tokens
    val b1 = Seq(("g_same", "the quick brown fox and the lazy dog"))
    val b2 = Seq(("g_drift", "zeta epsilon omicron lambda sigma tau"),
      ("g_mixed", "the brown fox reads zeta lambda"))
    b1.toDF("source", "text").write.parquet(s"$srcDir/b1")
    b2.toDF("source", "text").write.parquet(s"$srcDir/b2")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val q = Streams.eachFileBatch(spark, s"$srcDir/*/", s"$base/ckpt",
        schema) { (batch, batchId) =>
      graft.ops.Validation.jsDrift(refHist, batch, "source", "text")
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(s"$base/out")
    }
    q.awaitTermination(60000)
    val streamed = spark.read.parquet(s"$base/out")
      .select(col("source"), col("n_tokens"), round(col("js"), 9).as("js"))
      .as[(String, Long, Double)].collect().toSet
    val batch = graft.ops.Validation.jsDrift(refHist,
        (b1 ++ b2).toDF("source", "text"), "source", "text")
      .select(col("source"), col("n_tokens"), round(col("js"), 9).as("js"))
      .as[(String, Long, Double)].collect().toSet
    assert(streamed == batch, s"stream must equal batch: $streamed vs $batch")
    // drift ordering: the novel-token group diverges most, the echo least
    val js = streamed.map(r => r._1 -> r._3).toMap
    assert(js("g_drift") > js("g_mixed") && js("g_mixed") > js("g_same"))
  }

  test("streaming gold-question counts equal batch; accuracy from store") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val gold = Seq((1L, "c0"), (2L, "c1"), (3L, "c2")).toDF("item", "g")
    val input = MemoryStream[(Long, String, String)]
    val q = graft.ops.Annotate.goldCounts(
        input.toDF().toDF("item", "wid", "lab"), gold,
        "item", "wid", "lab", "item", "g")
      .writeStream.format("memory").queryName("gold_counts")
      .outputMode("complete").start()
    val b1 = Seq((1L, "w0", "c0"), (2L, "w0", "c1"), (1L, "w1", "c2"))
    val b2 = Seq((3L, "w0", "c2"), (2L, "w1", "c1"), (9L, "w1", "c0"))
    input.addData(b1: _*)
    q.processAllAvailable()
    input.addData(b2: _*)
    q.processAllAvailable()
    val streamed = spark.table("gold_counts")
      .as[(String, Long, Long)].collect().toSet
    q.stop()
    // item 9 has no gold row and must not count anywhere
    val batch = graft.ops.Annotate.goldCounts(
        (b1 ++ b2).toDF("item", "wid", "lab"), gold,
        "item", "wid", "lab", "item", "g")
      .as[(String, Long, Long)].collect().toSet
    assert(streamed == batch)
    assert(streamed == Set(("w0", 3L, 3L), ("w1", 2L, 1L)))
    // serving: accuracy refit from the streamed store
    val acc = graft.ops.Annotate.accFromGoldCounts(
        spark.createDataFrame(streamed.toSeq)
          .toDF("wid", "n_gold", "n_correct"))
      .select("wid", "acc").as[(String, Double)].collect().toMap
    assert(acc("w0") == 1.0 && acc("w1") == 0.5)
  }

  test("streaming DS labeling from a stored model equals batch serve") {
    val base = Files.createTempDirectory("graft-ds-stream").toString
    val srcDir = s"$base/src"
    new java.io.File(srcDir).mkdirs()
    // train the EM once on a batch corpus and persist the model; the
    // stream labels NEW items from the STORE without replaying the EM
    val train = (0L until 30L).flatMap { i =>
      val t = s"c${i % 2}"
      Seq((i, "g1", t), (i, "g2", t), (i, "lazy", "c0"))
    }.toDF("item", "wid", "lab")
    graft.ops.Annotate.dsModelDF(train, "item", "wid", "lab",
      Seq("c0", "c1"), iters = 1).write.parquet(s"$base/model")
    val model = spark.read.parquet(s"$base/model")
    val b1 = Seq((100L, "g1", "c1"), (100L, "g2", "c1"), (100L, "lazy", "c0"))
    val b2 = Seq((101L, "g1", "c0"), (101L, "g2", "c0"), (101L, "lazy", "c0"))
    b1.toDF("item", "wid", "lab").write.parquet(s"$srcDir/b1")
    b2.toDF("item", "wid", "lab").write.parquet(s"$srcDir/b2")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("item",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("wid",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lab",
        org.apache.spark.sql.types.StringType)))
    val q = Streams.eachFileBatch(spark, s"$srcDir/*/", s"$base/ckpt",
        schema) { (batch, _) =>
      graft.ops.Annotate.dsServe(model, batch, "item", "wid", "lab")
        .write.mode("append").parquet(s"$base/out")
    }
    q.awaitTermination(60000)
    val streamed = spark.read.parquet(s"$base/out")
      .as[(Long, String, Double)].collect()
      .map(r => r._1 -> (r._2, math.round(r._3 * 1e9))).toMap
    val batch = graft.ops.Annotate.dsServe(model,
        (b1 ++ b2).toDF("item", "wid", "lab"), "item", "wid", "lab")
      .as[(Long, String, Double)].collect()
      .map(r => r._1 -> (r._2, math.round(r._3 * 1e9))).toMap
    assert(streamed == batch)
    // the careful pair outvotes the lazy constant on the new items
    assert(streamed(100L)._1 == "c1" && streamed(101L)._1 == "c0")
  }
}
