package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{AsOfJoinApi, AsOfJoinExec}
import graft.ops.Relational

/** Custom as-of join operator (AsOfJoinPlan/Strategy/Exec): semantics
  * equivalence with the union+window formulation, tie/missing-key edge
  * cases, and the physical-plan shape. */
class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def quotes = Seq(
    (1L, 10L, 1.0), (1L, 20L, 2.0), (1L, 30L, 3.0),
    (2L, 15L, 9.0),
    (4L, 100L, 7.0)).toDF("k", "t", "v")

  private def probes = Seq(
    (1L, 5L), (1L, 10L), (1L, 25L), (1L, 99L),
    (2L, 14L), (2L, 16L),
    (3L, 50L)).toDF("k", "t").withColumn("pid", monotonically_increasing_id())

  test("native as-of join: boundary, tie, and missing-key semantics") {
    val out = AsOfJoinApi.asOf(probes, quotes, Seq("k"), "t", "v", "qv")
      .select("k", "t", "qv").as[(Long, Long, Option[Double])]
      .collect().toSet
    assert(out == Set(
      (1L, 5L, None),        // before first quote
      (1L, 10L, Some(1.0)),  // tie: quote AT probe time counts
      (1L, 25L, Some(2.0)),  // step function between quotes
      (1L, 99L, Some(3.0)),  // after last quote
      (2L, 14L, None),
      (2L, 16L, Some(9.0)),
      (3L, 50L, None)))      // key with no quotes at all
  }

  test("native as-of join equals the union+window formulation on dense data") {
    val n = 5000
    val qs = spark.range(n).select(
      (col("id") % 37).as("k"),
      ((col("id") * 7919) % 10000).as("t"),
      (col("id") % 1000).cast("double").as("v"))
      // as-of value at duplicate (k, t) is order-dependent; dedupe to the
      // max v per (k, t) so both formulations see one quote per instant
      .groupBy("k", "t").agg(max("v").as("v"))
    val ps = spark.range(n).select(
      (col("id") % 41).as("k"),
      ((col("id") * 104729) % 10000).as("t"))
      .distinct()
    val native = AsOfJoinApi.asOf(ps, qs, Seq("k"), "t", "v", "qv")
      .select("k", "t", "qv").as[(Long, Long, Option[Double])].collect().toSet
    val window = Relational.asOfLookup(ps, qs, Seq("k"), "t", "v", "qv")
      .select("k", "t", "qv").as[(Long, Long, Option[Double])].collect().toSet
    assert(native == window)
    assert(native.nonEmpty)
  }

  test("physical plan is the custom exec with one exchange+sort per side") {
    val df = AsOfJoinApi.asOf(probes, quotes, Seq("k"), "t", "v", "qv")
    df.collect() // force final AQE plan
    // AQE prints final + initial plans; count operators in the final only
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("AsOfJoin"), plan)
    val nEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(nEx == 2, s"expected one hash exchange per side, got $nEx:\n$plan")
    // no Window/Union machinery — that is the formulation this replaces
    assert(!plan.contains("Window"), plan)
  }

  test("null keys match nothing on either side (SQL equi-join semantics)") {
    val q = Seq((Some(1L), 10L, 1.0), (None, 5L, 99.0), (None, 50L, 98.0))
      .toDF("k", "t", "v")
    val p = Seq((Some(1L), 20L), (None, 20L), (Some(2L), 20L))
      .toDF("k", "t")
    val expected = Set(
      (Some(1L), 20L, Some(1.0)),  // real key matches its quote
      (None, 20L, None),           // null probe key -> no match
      (Some(2L), 20L, None))       // key with only null-key quotes nearby
    val native = AsOfJoinApi.asOf(p, q, Seq("k"), "t", "v", "qv")
      .as[(Option[Long], Long, Option[Double])].collect().toSet
    assert(native == expected)
    // the window formulation agrees
    val window = Relational.asOfLookup(p, q, Seq("k"), "t", "v", "qv")
      .as[(Option[Long], Long, Option[Double])].collect().toSet
    assert(window == expected)
  }

  test("empty quotes side yields all-null values, preserving probes") {
    val out = AsOfJoinApi.asOf(probes, quotes.filter(col("k") < 0),
      Seq("k"), "t", "v", "qv")
    assert(out.count() == probes.count())
    assert(out.filter(col("qv").isNotNull).count() == 0)
  }

  test("null-time quotes match nothing and do not block later quotes") {
    // the null-time quote sorts FIRST within its key under the required
    // ordering: if retained instead of skipped it would (a) never be
    // consumed, blocking the real quote behind it (native), or (b) leak
    // its value into every probe (window). SQL says probe.t >= null is
    // never true, as does DuckDB ASOF JOIN.
    val q = Seq((1L, Some(10L), 1.0), (1L, None, 99.0), (2L, None, 98.0))
      .toDF("k", "t", "v")
    val p = Seq((1L, 15L), (1L, 5L), (2L, 15L)).toDF("k", "t")
    val expected = Set(
      (1L, 15L, Some(1.0)),  // real quote still reachable
      (1L, 5L, None),        // before the real quote
      (2L, 15L, None))       // key with only a null-time quote
    val native = AsOfJoinApi.asOf(p, q, Seq("k"), "t", "v", "qv")
      .as[(Long, Long, Option[Double])].collect().toSet
    assert(native == expected)
    val window = Relational.asOfLookup(p, q, Seq("k"), "t", "v", "qv")
      .as[(Long, Long, Option[Double])].collect().toSet
    assert(window == expected)
  }

  test("global (unkeyed) as-of: boundary, tie, and seed-across-partition") {
    val q = Seq((10L, 1.0), (20L, 2.0), (30L, 3.0)).toDF("t", "v")
    val p = Seq(5L, 10L, 25L, 99L).toDF("t")
      .withColumn("pid", monotonically_increasing_id())
    val out = AsOfJoinApi.asOf(p, q, Seq.empty, "t", "v", "qv")
      .select("t", "qv").as[(Long, Option[Double])].collect().toSet
    assert(out == Set(
      (5L, None), (10L, Some(1.0)), (25L, Some(2.0)), (99L, Some(3.0))))
  }

  test("global as-of equals a brute-force step function on dense data") {
    // enough rows that the RangePartitioner produces many partitions, so
    // the cross-partition seed hand-off is genuinely exercised
    val n = 20000
    val qs = spark.range(n).select(
      ((col("id") * 7919) % 100000).as("t"),
      col("id").cast("double").as("v"))
      .groupBy("t").agg(max("v").as("v"))
    val ps = spark.range(n).select(
      ((col("id") * 104729) % 100000).as("t")).distinct()
    val out = AsOfJoinApi.asOf(ps, qs, Seq.empty, "t", "v", "qv")
      .select("t", "qv").as[(Long, Option[Double])].collect()
    assert(out.length == ps.count())
    // brute force: sorted quotes, binary-search the step function
    val quoteArr = qs.as[(Long, Double)].collect().sortBy(_._1)
    val times = quoteArr.map(_._1)
    def stepAt(t: Long): Option[Double] = {
      var lo = 0; var hi = times.length // first index with time > t
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (times(mid) <= t) lo = mid + 1 else hi = mid
      }
      if (lo == 0) None else Some(quoteArr(lo - 1)._2)
    }
    out.foreach { case (t, qv) =>
      assert(qv == stepAt(t), s"probe t=$t: got $qv, want ${stepAt(t)}")
    }
  }

  test("asOfMulti carries several quote columns through one merge") {
    val q = Seq((1L, 10L, 1.0, "a"), (1L, 20L, 2.0, "b"), (2L, 15L, 9.0, "c"))
      .toDF("k", "t", "v", "tag")
    val p = Seq((1L, 15L), (1L, 25L), (2L, 10L), (3L, 99L)).toDF("k", "t")
    val multi = AsOfJoinApi.asOfMulti(p, q, Seq("k"), "t",
      Seq("v", "tag"), Seq("qv", "qtag"))
      .as[(Long, Long, Option[Double], Option[String])].collect().toSet
    assert(multi == Set(
      (1L, 15L, Some(1.0), Some("a")),
      (1L, 25L, Some(2.0), Some("b")),
      (2L, 10L, None, None),
      (3L, 99L, None, None)))
    // equals two single-value joins column-for-column
    val v1 = AsOfJoinApi.asOf(p, q, Seq("k"), "t", "v", "qv")
      .as[(Long, Long, Option[Double])].collect().toSet
    assert(multi.map { case (k, t, qv, _) => (k, t, qv) } == v1)
    // and through the global path
    val g = AsOfJoinApi.asOfMulti(p.drop("k"), q.drop("k"), Seq.empty, "t",
      Seq("v", "tag"), Seq("qv", "qtag"))
      .as[(Long, Option[Double], Option[String])].collect().toSet
    // keyless: ALL quotes form one step function, so t=15 sees the
    // (15, 9.0, "c") quote and the last quote overall is t=20
    assert(g == Set(
      (15L, Some(9.0), Some("c")), (25L, Some(2.0), Some("b")),
      (10L, Some(1.0), Some("a")), (99L, Some(2.0), Some("b"))))
  }

  test("global as-of: null probe times match nothing; null quotes dropped") {
    val q = Seq((Some(10L), 1.0), (None, 99.0)).toDF("t", "v")
    val p = Seq(Some(15L), None).toDF("t")
    val out = AsOfJoinApi.asOf(p, q, Seq.empty, "t", "v", "qv")
      .as[(Option[Long], Option[Double])].collect().toSet
    assert(out == Set(
      (Some(15L), Some(1.0)),
      (None, None)))
  }

  test("keyed as-of with AQE disabled (planner pre-collapses child stages)") {
    // Without AQE the planner collapses the codegen stages of the whole
    // plan in one pass, with the as-of node between its children's stages
    // and its parent's. Codegen fallback off so the failure mode is a
    // hard error, not a silent interpreted retry.
    // Inputs must be range-derived so a real codegen stage (WSCG over the
    // range+project) sits BELOW each child exchange — a local Seq.toDF
    // gives LocalTableScanExec, which the collapse rule never wraps.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val n = 2000
      val qs = spark.range(n).select(
        (col("id") % 23).as("k"),
        ((col("id") * 7919) % 5000).as("t"),
        (col("id") % 100).cast("double").as("v"))
        .groupBy("k", "t").agg(max("v").as("v"))
      val ps = spark.range(n).select(
        (col("id") % 29).as("k"),
        ((col("id") * 104729) % 5000).as("t")).distinct()
      val native = AsOfJoinApi.asOf(ps, qs, Seq("k"), "t", "v", "qv")
        .select("k", "t", "qv").as[(Long, Long, Option[Double])]
        .collect().toSet
      val window = Relational.asOfLookup(ps, qs, Seq("k"), "t", "v", "qv")
        .select("k", "t", "qv").as[(Long, Long, Option[Double])]
        .collect().toSet
      assert(native == window)
      assert(native.nonEmpty)
      // a buffering parent in the same stage survives too
      val sorted = AsOfJoinApi.asOf(probes, quotes, Seq("k"), "t", "v", "qv")
        .orderBy(col("qv").asc_nulls_first, col("k"), col("t"))
        .select("k", "t", "qv").as[(Long, Long, Option[Double])]
        .collect().toSeq
      assert(sorted.head == ((1L, 5L, None)))
      assert(sorted.last == ((2L, 16L, Some(9.0))))
    } finally {
      spark.conf.unset("spark.sql.adaptive.enabled")
      spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("codegen and interpreted as-of paths produce identical results") {
    def run(): Set[(Long, Long, Option[Double])] = {
      val n = 3000
      val qs = spark.range(n).select(
        (col("id") % 23).as("k"),
        ((col("id") * 7919) % 5000).as("t"),
        (col("id") % 100).cast("double").as("v"))
        .groupBy("k", "t").agg(max("v").as("v"))
      val ps = spark.range(n).select(
        (col("id") % 29).as("k"),
        ((col("id") * 104729) % 5000).as("t")).distinct()
      AsOfJoinApi.asOf(ps, qs, Seq("k"), "t", "v", "qv")
        .select("k", "t", "qv").as[(Long, Long, Option[Double])]
        .collect().toSet
    }
    val withCodegen = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val interpreted = try run()
    finally spark.conf.unset("spark.sql.codegen.wholeStage")
    assert(withCodegen == interpreted)
    assert(withCodegen.nonEmpty)
  }

  test("as-of output survives a buffering parent (sort) under codegen") {
    // needCopyResult contract: process() hands out a reused buffer; a
    // sort above the join in the same stage must see distinct rows
    val df = AsOfJoinApi.asOf(probes, quotes, Seq("k"), "t", "v", "qv")
      .orderBy(col("qv").asc_nulls_first, col("k"), col("t"))
      .select("k", "t", "qv")
    val rows = df.as[(Long, Long, Option[Double])].collect().toSeq
    assert(rows == Seq(
      (1L, 5L, None), (2L, 14L, None), (3L, 50L, None),
      (1L, 10L, Some(1.0)), (1L, 25L, Some(2.0)), (1L, 99L, Some(3.0)),
      (2L, 16L, Some(9.0))))
  }
}
