package cosmobench

import java.nio.file.{Files, Paths}
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Measure, Tables}
import graft.queries.Registry

/** Closed-loop registry workload: one client runs a fixed set of oracled
  * registry queries in passes, each pass in an order shuffled by the seed.
  *
  * Set-up (untimed): one cold pass writes every result to parquet, which
  * `run.py` compares with the DuckDB oracle. Each query's pin, (row
  * count, content hash), is taken from that saved result, so the pin is
  * the oracled answer. A second, warm pass, which also warms the JIT,
  * must reproduce the pin. The hash is the one `Measure.consume`
  * computes: the sum of `xxhash64(struct(all columns)) % 1000003`, which
  * does not depend on row order.
  *
  * Timed op: `Registry.byName(n)(spark, dir)` then `Measure.consume`,
  * checked against the pinned row count. After the timed window one more
  * untimed pass checks every query's full (rows, hash) pin, and a
  * mismatch there fails every timed sample of that query. */
object QueryLoad {

  /** 11 cheap queries, one per registry family (warm time about
    * 0.2-0.6 s each at sf0.01). */
  val interactive: Seq[String] = Seq(
    "p12_date_range", "r1_explode_arrays", "t_fingerprint", "sim_native_cosine",
    "s8_regex_extract", "p6_string_expr_filter", "pipe_shard_shuffle", "t_url_normalize",
    "t_c4_clean", "pipe_grpo_advantage", "t_worker_gold")

  /** (row count, order-insensitive content hash) — Measure.consume's hash. */
  def pin(df: DataFrame): (Long, Long) = {
    val r = df.select((xxhash64(struct(df.columns.map(col): _*)) % 1000003L).as("__h"))
      .agg(sum("__h"), count(lit(1))).collect()(0)
    (r.getLong(1), if (r.isNullAt(0)) 0L else r.getLong(0))
  }

  def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  def run(spark: SparkSession, rec: Recorder, a: Main.Args): Unit = {
    val names = interactive
    val fns = names.map(n => n -> Registry.byName(n)).toMap
    val tr = rec.tracer
    val compile0 = Tracer.compileNs
    val failedSetup = names.filterNot { n =>
      try {
        fns(n)(spark, a.data).coalesce(1).write.mode("overwrite")
          .parquet(s"${a.work}/results/$n")
        true
      } catch { case e: Exception => rec.check(s"setup:$n", ok = false, e.toString); false }
      finally Measure.releaseAll(spark)
    }.toSet
    // the pin is the saved (oracled) result's; the warm pass must match it
    val pins = names.filterNot(failedSetup).flatMap { n =>
      try {
        val saved = pin(spark.read.parquet(s"${a.work}/results/$n"))
        val warm = pin(fns(n)(spark, a.data))
        rec.check(s"pin:$n", warm == saved, s"saved=$saved warm=$warm")
        Some(n -> saved)
      } catch { case e: Exception => rec.check(s"pin:$n", ok = false, e.toString); None }
      finally Measure.releaseAll(spark)
    }.toMap
    val pinned = a.corruptPin.foldLeft(pins) { (m, n) =>
      m.updatedWith(n)(_.map { case (r, h) => (r, h + 1) })
    }
    rec.extra("setup_compile_s") = Json.num((Tracer.compileNs - compile0) / 1e9)
    Files.writeString(Paths.get(s"${a.work}/oracle_sql.json"), Json.obj(
      names.flatMap(n => Registry.oracleSql.get(n).map(n -> Json.str(_))): _*).render)

    rec.timedPasses(a.seconds) { (p, deadline) =>
      val order = new Random(a.seed * 1000003L + p).shuffle(names)
      val done = order.takeWhile { n =>
        if (System.nanoTime() >= deadline) false
        else {
          val t0 = System.nanoTime()
          val ok = try {
            val df = tr.span("query.build") {
              val df = fns(n)(spark, a.data)
              tr.notePhases(df)
              df
            }
            val rows = tr.span("query.consume")(Measure.consume(df))
            pinned.get(n).exists(_._1 == rows)
          } catch { case _: Exception => false }
          rec.ops += ((n, p, (System.nanoTime() - t0) / 1e9, ok))
          tr.span("release")(Measure.releaseAll(spark))
          true
        }
      }
      done.size == order.size
    }

    // Tables.apply runs inside the query fns, out of the harness's reach;
    // its per-call cost is timed here directly, outside the timed window
    if (a.trace) rec.extra("tables_call_s") = Json.num(median(Seq.fill(3) {
      val t0 = System.nanoTime()
      Tables.names.foreach(t => Tables(spark, a.data, t).schema)
      (System.nanoTime() - t0) / 1e9 / Tables.names.size
    }))

    // full (rows, hash) check of every query, outside the timed window
    names.foreach { n =>
      val got = try Some(pin(fns(n)(spark, a.data))) catch { case _: Exception => None }
      Measure.releaseAll(spark)
      rec.check(s"pin:$n", got.isDefined && pinned.get(n) == got,
        s"pinned=${pinned.get(n)} got=$got")
    }
  }
}
