package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.ops.{Relational, Similarity}

/** Scale-path behaviors: salted-join equivalence, IVF ANN recall,
  * partition pruning and bucketed joins (the physical-layout levers a
  * 100 TB deployment depends on). */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin equals the plain equi-join under heavy key skew") {
    val left = (1 to 1000).map(i => (if (i % 10 == 0) 7L else i.toLong, i))
      .toDF("k", "v")
    val right = (1 to 50).map(i => (i.toLong, s"r$i")).toDF("k", "name")
    val plain = left.join(right, "k").agg(count(lit(1)), sum("v")).head()
    val salted = Relational.saltedJoin(left, right, "k", salts = 8)
      .agg(count(lit(1)), sum("v")).head()
    assert(plain == salted)
  }

  test("IVF ANN recall on clustered data") {
    val rnd = new scala.util.Random(3)
    def jitter(base: Array[Double]): Seq[Double] =
      base.map(x => x + rnd.nextGaussian() * 0.01).toSeq
    val c1 = Array.fill(8)(1.0)
    val c2 = Array.tabulate(8)(i => if (i % 2 == 0) 1.0 else -1.0)
    val rows = (0L until 40L).map(i => (i, jitter(if (i < 20) c1 else c2)))
    val vecs = rows.toDF("id", "v")
    val centroids = Seq((0, c1.toSeq), (1, c2.toSeq)).toDF("centroid_id", "v")
    val exact = Similarity.knnJoin(vecs, vecs.withColumnRenamed("id", "cid"),
      "id", "cid", "v", k = 3).select("id", "cid").as[(Long, Long)].collect().toSet
    // an IVF search ranks only the probe's cell, and an exact neighbor
    // in that cell stays in the top k: recall is the share of exact
    // pairs whose two ends share a cell
    val cell = Similarity.ivfAssign(vecs, "v", centroids)
      .select("id", "centroid_id").as[(Long, Int)].collect().toMap
    val ivf = exact.filter { case (a, b) => cell(a) == cell(b) }
    val recall = ivf.size.toDouble / exact.size
    assert(recall > 0.95, s"recall $recall")
  }

  test("bloomAntiJoin equals the plain anti-join") {
    val big = (1L to 5000L).map(i => (i, s"v$i")).toDF("k", "v")
    val small = (1L to 5000L).filter(_ % 7 == 0).map(i => (i, "x")).toDF("k", "x")
    val plain = big.join(small.select("k"), Seq("k"), "left_anti")
      .select("k").as[Long].collect().toSet
    val bloomed = org.apache.spark.sql.graft.BloomOps
      .bloomAntiJoin(big, small, "k", "k", estimatedItems = 1000L)
      .select("k").as[Long].collect().toSet
    assert(bloomed == plain)
    assert(plain.size == 5000 - 5000 / 7)
  }

  test("approx_count_distinct stays within HLL++ error of the exact count") {
    val df = spark.range(100000)
      .select((col("id") % 7919).as("k"))
    // rsd is a ~1-sigma bound; assert at 3 sigma of an explicit 1% rsd
    val (approx, exact) = df
      .agg(approx_count_distinct(col("k"), 0.01), countDistinct("k"))
      .as[(Long, Long)].head()
    assert(exact == 7919L)
    assert(math.abs(approx - exact).toDouble / exact < 0.03,
      s"approx $approx vs exact $exact drifted past 3%")
  }

  test("seeded stratified sampleBy hits per-stratum rates") {
    val df = (1 to 20000).map(i => (i, if (i % 2 == 0) "a" else "b")).toDF("id", "s")
    val sampled = df.stat.sampleBy("s", Map("a" -> 0.5, "b" -> 0.1), seed = 42L)
      .groupBy("s").count().as[(String, Long)].collect().toMap
    assert(math.abs(sampled("a") / 10000.0 - 0.5) < 0.05)
    assert(math.abs(sampled("b") / 10000.0 - 0.1) < 0.05)
    // same seed -> identical sample (reproducible split)
    val again = df.stat.sampleBy("s", Map("a" -> 0.5, "b" -> 0.1), seed = 42L).count()
    assert(again == sampled.values.sum)
  }

  test("date-partitioned writes prune partitions under a date filter") {
    val dir = Files.createTempDirectory("part").toString + "/t"
    (1 to 100).map(i => (i, s"2024-01-${i % 4 + 1}"))
      .toDF("v", "day")
      .write.partitionBy("day").parquet(dir)
    val q = spark.read.parquet(dir).filter(col("day") === "2024-01-2")
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    // the partition predicate must reach the file index, not a row filter
    assert(scan.contains("PartitionFilters: [isnotnull(day"), scan)
    assert(q.count() == 25)
  }

  test("bucketed tables sort-merge join without an exchange") {
    // the in-memory catalog forgets tables between JVMs but the warehouse
    // directories persist — drop both metadata and physical locations
    spark.sql("DROP TABLE IF EXISTS bkt_a")
    spark.sql("DROP TABLE IF EXISTS bkt_b")
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    Seq("bkt_a", "bkt_b").foreach { t =>
      val d = new java.io.File(wh, t)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(): Unit
      }
      if (d.exists()) rm(d)
    }
    (1 to 1000).map(i => (i.toLong, i * 2)).toDF("k", "va")
      .write.bucketBy(4, "k").sortBy("k").saveAsTable("bkt_a")
    (1 to 1000).map(i => (i.toLong, i * 3)).toDF("k", "vb")
      .write.bucketBy(4, "k").sortBy("k").saveAsTable("bkt_b")
    val joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not reshuffle:\n$plan")
    assert(joined.count() == 1000)
  }

  test("AQE splits a skewed join partition at runtime (skew=true in the final plan)") {
    // the OTHER half of the skew pair (salting is j_salted_join): with
    // adaptive execution on, a sort-merge join whose shuffle output has
    // one dominant key is re-planned at runtime — the skewed partition
    // splits into sub-partitions joined against a replicated other side,
    // marked `skew=true` on the SMJ node. Thresholds are lowered to make
    // a test-sized skew register; production keys the same mechanism at
    // the 256 MB default. Conf restored after — the shared session must
    // not leak test thresholds into other suites.
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "24k")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8k")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // 95% of fact rows share one key; the dim side is uniform
      val facts = (0 until 60000)
        .map(i => (if (i % 20 == 0) i.toLong % 40 else 7L,
          s"payload_$i${"x" * 40}"))
        .toDF("k", "pay")
      val dims = (0L until 40L).map(i => (i, s"g$i")).toDF("k", "grp")
      val joined = facts.join(dims, "k")
      // materialize THIS DataFrame's own query execution (a count()
      // would build a separate plan and leave this one un-finalized)
      val n = joined.collect().length // AQE re-plans during execution
      assert(n == 60000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE should mark the skewed SMJ partition:\n$finalPlan")
    } finally saved.foreach { case (k, v) =>
      v match {
        case Some(x) => spark.conf.set(k, x)
        case None    => spark.conf.unset(k)
      }
    }
  }

  test("HLL sketch union over a partition equals sketching the whole, exactly") {
    import org.apache.spark.sql.functions._
    val df = (1 to 5000).map(i => (i % 7, (i * 2654435761L) % 1200))
      .toDF("g", "u")
    // merging per-group sketches is register-max: the union over ANY
    // partition of the rows must be bit-equivalent to one direct sketch
    val direct = df.agg(expr("hll_sketch_estimate(hll_sketch_agg(u, 12))"))
      .head().getLong(0)
    val merged = df.groupBy("g").agg(expr("hll_sketch_agg(u, 12)").as("sk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))"))
      .head().getLong(0)
    assert(merged == direct, s"union estimate $merged != direct $direct")
    val exact = df.select("u").distinct().count()
    assert(math.abs(merged - exact).toDouble / exact < 0.05,
      s"estimate $merged vs exact $exact outside 5%")
  }
}
