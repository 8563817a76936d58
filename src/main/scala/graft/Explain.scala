package graft

import scala.util.control.NonFatal

/** Plan auditor: prints the formatted physical plan of selected queries
  * and flags the scale-critical properties — parquet filter pushdown,
  * column-pruned scans, broadcast joins. The plan is printed before it
  * runs, which under AQE is the initial plan: it has no whole-stage
  * codegen stages yet (those show in the executed plan after an action).
  * Usage: runMain graft.Explain [queryName ...] (default: headline set)
  */
object Explain {
  /** Exchange count above which a registered query's plan MUST carry a
    * note in [[heavyPlanNotes]] — the audit prints an UNDOCUMENTED
    * marker otherwise. */
  val heavyThreshold = 20

  /** Justifications for plans over [[heavyThreshold]] exchanges. Keep a
    * note here for each deliberately-deep composition; anything heavy
    * and unlisted is flagged by --audit-all. Entries whose plans have
    * since collapsed below the threshold are harmless (never printed). */
  val heavyPlanNotes: Map[String, String] = Map(
    "pipe_suffix_scrub" -> ("the suffix ladder's plan (see " +
      "dedup_suffix_spans) PLUS the scrub composition: the maximal " +
      "spans' covered-position union and the byte-exact rebuild join " +
      "add one explode and two doc-keyed joins on top of the ladder's. " +
      "Same persisted ladder levels; everything past level 0 " +
      "carries survivor-sized data, and the rebuild join ships " +
      "(id, covered-set) pairs, never span text"),
    "dedup_suffix_spans" -> ("the prefix-doubling ladder IS four " +
      "chained dedup operators: each of the 4 levels runs its own " +
      "hash explode → min/max-dup aggregate → join-back verify " +
      "(level results persisted so every exchange executes ONCE — " +
      "without the persisted levels the tree measured 8000+ nodes), " +
      "plus the containment anti-joins and the final union. Since r18 " +
      "level 0 explodes its window hashes natively off each doc row " +
      "(SpanHashes60 — no positions-to-tokens join) and the dup test " +
      "is one map-side-combinable min/max aggregate instead of the " +
      "two-phase countDistinct, which is the 41 → 30 exchange drop in the audit table. " +
      "Candidate volume shrinks geometrically past level 0, so most " +
      "remaining exchanges carry survivor-sized data, not corpus-sized"),
    "pipe_ppl_buckets_thresh" -> ("composes the full bigram-LM chain " +
      "with two consumers of the scored stream; the (lang, nll) stream " +
      "is persisted so neither branch replays the LM derivation — if " +
      "this row is printed, the persist stopped collapsing the plan"),
    "t_corpus_drift" -> ("the audit-expansion artifact of INLINE model " +
      "derivation (the pipe_moore_lewis class): the reference token " +
      "histogram is derived in-query for self-containment, and since " +
      "r15 its grand total is computed IN-PLAN (advisor r14 — the " +
      "former eager agg().head hid one full reference derivation from " +
      "this audit entirely), so the plan shows the reference subtree " +
      "once for the total and once for the distribution. Production " +
      "serves jsDrift from a STORED histogram (the shape " +
      "MergeStreamSpec's streaming JS drift case pins): both " +
      "consumers collapse to cheap store scans"))

  /** The headline plans printed when no query is named. */
  val defaultNames: Seq[String] = Seq("s1_scan_project", "q1_agg",
    "j1_broadcast_join", "p9_anti_join", "j11_asof_lookup",
    "w1_rolling_mean_7d", "dedup_minhash_md5")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = core.Session.build("graft-explain")
    if (args.headOption.contains("--audit-all")) {
      // one summary line per registered query: the shuffle/broadcast/scan
      // shape a reviewer needs to judge 100 TB readiness at a glance
      val heavy = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
      println("| query | exchanges | broadcasts | scans | pushed filters | full plan ok |")
      // separator spelled "| --- |" (leading "| " like every data row):
      // the r17 PLANS.md regeneration grepped table lines by "^| " and
      // the bare "|---|" form was the ONE line that didn't match — the
      // committed table lost its header separator and stopped rendering
      println("| --- | --- | --- | --- | --- | --- |")
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        try {
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          // tree nodes print as "Name (id)"; details as "(id) Name" —
          // match the tree form only, and dedupe by NODE ID: a cached
          // subtree (an operator's persist) is expanded verbatim under every
          // InMemoryTableScan that reads it, with the SAME ids — at
          // runtime it executes once, so occurrence-counting would
          // charge a persist-collapsed plan for the branches the
          // persist exists to eliminate
          def distinctIds(re: String): Int =
            re.r.findAllMatchIn(plan).map(_.group(1)).toSet.size
          // lookbehind: "BroadcastExchange (id)" must not also count as
          // an "Exchange (id)" — broadcasts are cheap fan-outs, not
          // shuffles, and double-counting them into nEx would trip the
          // heavyThreshold gate on broadcast-rich (healthy) plans
          val nEx = distinctIds("(?<!Broadcast)Exchange \\((\\d+)\\)")
          val nBc = distinctIds("BroadcastExchange \\((\\d+)\\)")
          val nScan = distinctIds("Scan parquet\\s+\\((\\d+)\\)")
          val pushed = "PushedFilters: \\[[^\\]]".r.findAllIn(plan).nonEmpty
          println(s"| $name | $nEx | $nBc | $nScan | $pushed | true |")
          if (nEx > heavyThreshold) heavy += name -> nEx
        } catch {
          case NonFatal(e) => println(s"| $name | - | - | - | - | ERROR ${e.getClass.getSimpleName} |")
        } finally {
          // a query that persists (e.g. the ppl-thresh scored stream)
          // must not leave cache entries that rewrite LATER rows' plans
          // into InMemoryTableScans, nor RDD blocks (CC checkpoints)
          // that pile up across the audit
          core.Measure.releaseAll(spark)
        }
      }
      // The audit REFUSES SILENCE on its heaviest plans: every row over
      // the exchange threshold must carry a justification, or the
      // section prints an UNDOCUMENTED marker that the round checklist
      // (and any grep for it) treats as a failure. Round-9 lesson: the
      // one row the hand-written notes skipped (sim_recall_eval, 156
      // exchanges) was exactly the one that most needed a note.
      println()
      println(s"## Heavy-plan notes (every query with > $heavyThreshold exchanges)")
      if (heavy.isEmpty)
        println(s"(none — no registered query exceeds $heavyThreshold exchanges)")
      else heavy.sortBy(-_._2).foreach { case (name, nEx) =>
        val note = heavyPlanNotes.getOrElse(name,
          "UNDOCUMENTED — add a justification to Explain.heavyPlanNotes")
        println(s"- **$name** ($nEx exchanges): $note")
      }
      spark.stop(); return
    }
    val names = if (args.nonEmpty) args.toSeq else defaultNames
    queries.Registry.resolve(names).foreach { q =>
      val name = q.name
      val df = q.fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(s"\n========== $name ==========")
      println(plan)
      val checks = Seq(
        "PushedFilters: [" -> plan.contains("PushedFilters: ["),
        "BroadcastHashJoin" -> plan.contains("BroadcastHashJoin"),
        "full-column scan (no ReadSchema prune)" -> !plan.contains("ReadSchema"))
      println(s"---- audit[$name]: " + checks.collect { case (k, true) => k }.mkString(" | "))
      // mirror the audit path: a persisting query (e.g. the ppl-thresh
      // scored stream) must not rewrite later queries' printed plans
      // into InMemoryTableScans
      core.Measure.releaseAll(spark)
    }
    spark.stop()
  }
}
