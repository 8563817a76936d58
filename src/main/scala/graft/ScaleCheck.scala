package graft

import scala.util.control.NonFatal

/** Scale diagnostic over the registry. For each name it runs the
  * registry query itself, `Registry.byName(n)(spark, dir)` consumed by
  * [[core.Measure.consume]], on two [[ScaleFixture]] points: one untimed
  * warm-up at xLo (codegen compile does not depend on scale), then one
  * timed run at xLo and one at xHi, releasing storage after every run.
  * It prints both times, both row counts and the time exponent
  * ln(tHi/tLo) / ln(xHi/xLo): about 1 is linear in the data, well above
  * 1 is the next cliff. A name that fails prints a FAILED line.
  *
  * Usage: runMain graft.ScaleFixture <sfDir> <root> <xLo> <xHi>
  *        runMain graft.ScaleCheck <root> <xLo> <xHi> [name …]
  * (names default to [[scaleSet]]). */
object ScaleCheck {

  /** The scale-sensitive registry queries: corpus-, vector- and
    * event-scale pipelines whose cost must stay near-linear in the data. */
  val scaleSet: Seq[String] = Seq(
    // ingest, monitors, relational
    "s8_sms_report_parse", "monitor_osm_shift",
    "j11_asof_native", "j11_asof_lookup", "j11_asof_multi", "j11_asof_global",
    "w1_rolling_mean_7d", "j_fuzzy_blocked", "pipe_schema_validate",
    // near-dup detection
    "dedup_embed_clusters", "dedup_ann_e2e", "dedup_ann_ivf_e2e",
    "dedup_minhash_md5", "dedup_cc_clusters", "dedup_suffix_spans",
    "dedup_span_ngrams", "dedup_incremental", "dedup_semantic", "dedup_cdc",
    "dedup_paragraphs", "dedup_winnow_pairs", "dedup_winnow_e2e",
    "dedup_winnow_gate",
    // vectors
    "pq_adc_topk_md5", "sim_pca_cov", "sim_recall_eval", "sim_sq8_topk",
    "sim_ivf_assign", "sim_sparse_cosine", "graph_pagerank",
    // text
    "t_lm_perplexity", "t_lm_interp", "t_lm_kneser_ney", "t_lm_scored_stored",
    "t_containment", "t_cms_counts", "t_bpe_train", "t_bm25_topk",
    "t_unigram_train", "t_wordpiece_corpus", "t_blocklist_scan",
    "t_cdc_bytes", "t_c4_clean", "t_domain_overlap", "t_corpus_drift",
    "t_classifier_train", "t_classifier_scored", "t_classifier_auc",
    "t_classifier_calibration", "t_classifier_retention",
    // curation pipelines, preference, annotation
    "pipe_curation", "pipe_shard_shuffle", "pipe_token_budget",
    "pipe_suffix_scrub", "pipe_oversample", "pipe_dsir_weights",
    "pipe_ppl_buckets_thresh", "pipe_pretrain_e2e", "pipe_web_e2e",
    "pipe_sft_assemble", "pipe_span_corrupt", "pipe_doremi_stored",
    "pipe_mix_order", "t_bt_fit", "pipe_best_of_n", "t_dawid_skene",
    "pipe_crowd_classifier")

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: ScaleCheck <fixtureRoot> <xLo> <xHi> [name …]")
    val root = args(0)
    val (xLo, xHi) = (args(1).toInt, args(2).toInt)
    require(xLo >= 1 && xHi > xLo, s"need 1 <= xLo < xHi, got $xLo, $xHi")
    val selected = queries.Registry.resolve(
      if (args.length > 3) args.drop(3).toSeq else scaleSet)
    val spark = core.Session.build("graft-scalecheck")

    def run(q: queries.Q, x: Int): (Double, Long) = {
      val t0 = System.nanoTime()
      try {
        val rows = core.Measure.consume(q.fn(spark, s"$root/x$x"))
        ((System.nanoTime() - t0) / 1e9, rows)
      } finally core.Measure.releaseAll(spark)
    }

    val wall0 = System.nanoTime()
    selected.foreach { q =>
      val name = q.name
      try {
        run(q, xLo)
        val (tLo, nLo) = run(q, xLo)
        val (tHi, nHi) = run(q, xHi)
        val exponent = math.log(tHi / tLo) / math.log(xHi.toDouble / xLo)
        println(f"[scale] $name%-26s x$xLo $tLo%7.2f s $nLo%9d rows   " +
          f"x$xHi $tHi%7.2f s $nHi%9d rows   exponent $exponent%5.2f")
      } catch {
        case NonFatal(e) =>
          println(f"[scale] $name%-26s FAILED ${e.getClass.getSimpleName}: " +
            s"${e.getMessage}".take(200))
      }
    }
    println(f"[scale] ${selected.size} names, x$xLo vs x$xHi, " +
      f"total wall ${(System.nanoTime() - wall0) / 1e9}%.1f s")
    spark.stop()
  }
}
