package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training and application (Sennrich,
  * Haddow & Birch, "Neural Machine Translation of Rare Words with
  * Subword Units"), Spark-shaped:
  *
  *  - Training never touches the corpus after ONE aggregate: the word
  *    vocabulary (distinct token + count) is corpus-cardinality-bounded
  *    and every merge round is a pair-count aggregate OVER THE
  *    VOCABULARY (pairs weighted by word count), so each of the
  *    `numMerges` rounds exchanges vocabulary-sized data — at 100 TB
  *    the corpus is read once and the iteration runs on a table that
  *    fits a fraction of one executor.
  *  - The chosen merge per round is a 1-row argmax (count desc, then
  *    pair lexicographic — fully deterministic), collected to the
  *    driver to become a literal in the next round's plan: the same
  *    bounded-driver-state pattern as the PCA power iteration.
  *  - Merge APPLICATION is a per-row fold (`aggregate` HOF) over the
  *    symbol array — canonical greedy left-to-right: a pair merges
  *    only where the accumulator's last symbol is `a` and the incoming
  *    symbol is `b`, so "a a a" under (a,a) gives [aa, a] exactly as
  *    the reference algorithm. Map-only, no shuffle, codegen-friendly.
  *
  * Symbols are characters plus the "&lt;/w&gt;" end-of-word marker.
  */
object Bpe {

  val EndOfWord = "</w>"

  /** Initial segmentation: characters + end-of-word marker. */
  def initialSymbols(word: Column): Column =
    concat(split(word, ""), array(lit(EndOfWord)))

  /** One greedy left-to-right merge pass of (a, b) → a+b over a symbol
    * array, as a fold: merged symbols are NEW symbols (no re-merge
    * within the pass), adjacent runs merge leftmost-first.
    *
    * r19: retained as the REFERENCE form — [[segment]] and [[train]]
    * now run the native fused loop (BpeMergeSeq, bit-identical, pinned
    * in NativeExprSpec): the fold ran one interpreted lambda per merge
    * per row and built a fresh array per SYMBOL per pass
    * (O(len²·merges) allocation), the dominant CPU of the BPE family
    * (t_bpe_encode 42–65 s summed task time at sf0.1). */
  def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, s) =>
      when(try_element_at(acc, lit(-1)) === lit(a) && s === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(s))))

  /** Apply an ordered merge list (the trained tokenizer) — one fused
    * native pass over the symbol array (see [[applyMerge]] r19 note). */
  def segment(word: Column, merges: Seq[(String, String)]): Column =
    if (merges.isEmpty) initialSymbols(word)
    else graft.functions.GraftExtensions
      .bpeMergeSeq(initialSymbols(word), merges)

  /** Word vocabulary with counts from a token column (one row per
    * token OCCURRENCE in `df`). The single corpus-sized aggregate. */
  def wordVocab(df: DataFrame, tokCol: String): DataFrame =
    df.groupBy(col(tokCol).as("word")).agg(count(lit(1)).as("wc"))

  /** Weighted adjacent-pair counts over a segmented vocabulary
    * (`word`, `wc`, `syms`). Vocabulary-sized in and out. */
  def pairCounts(vocab: DataFrame): DataFrame =
    vocab
      .select(col("wc"), explode(Text.bigrams(col("syms"))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("bb"))
      .agg(sum("wc").as("n"))

  /** Train `numMerges` BPE merges. Returns the ordered merge table
    * (rank, a, b, merged, n). Each round: pair-count aggregate →
    * 1-row deterministic argmax (collected: bounded driver state) →
    * fold the merge into the vocabulary segmentation. The vocabulary
    * DataFrame is re-derived lazily each round (vocabulary-sized
    * plans); rounds are short linear chains so no checkpointing is
    * needed at realistic merge counts. */
  def train(df: DataFrame, tokCol: String, numMerges: Int): Seq[(Int, String, String, String, Long)] = {
    // persist the vocabulary base: without it every round's pair-count
    // action would re-run the corpus-sized wordVocab aggregate through
    // the lazy chain — WITH it the corpus is read exactly once and the
    // rounds chain fold expressions over the (small) cached table
    graft.core.Measure.cachedFor(wordVocab(df, tokCol)
        .select(col("word"), col("wc"), initialSymbols(col("word")).as("syms"))) { base =>
      var vocab = base
      val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
      var rank = 1
      // jobs-bound: numMerges rounds x 1 job (the limit(1) pair-count
      // collect over the cached word vocab; the merge apply is a lazy
      // fold) + the one base-cache materialize
      while (rank <= numMerges) {
        val best = pairCounts(vocab)
          .orderBy(col("n").desc, col("a"), col("bb"))
          // collect-bound: limit(1) - the single best pair of this round
          .limit(1).collect()
        if (best.isEmpty) { rank = numMerges + 1 } // nothing left to merge
        else {
          val r = best(0)
          val (a, b, n) = (r.getString(0), r.getString(1), r.getLong(2))
          merges += ((rank, a, b, a + b, n))
          // re-fold ALL merges so far off the cached base in one native
          // pass (vs stacking one more interpreted fold per round onto
          // the previous column — by round 8 an 8-deep lambda chain)
          vocab = base.withColumn("syms",
            graft.functions.GraftExtensions.bpeMergeSeq(col("syms"),
              merges.toSeq.map(m => (m._2, m._3))))
          rank += 1
        }
      }
      merges.toSeq
    }
  }
}
