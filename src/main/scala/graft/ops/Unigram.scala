package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GraftExtensions

/** Unigram-LM (SentencePiece-style, Kudo 2018) tokenizer: seed vocabulary
  * from substring counts, Viterbi segmentation under piece costs, and
  * hard-EM (Viterbi-EM) training — the probabilistic counterpart of the
  * BPE trainer in [[Bpe]], Spark-shaped the same way:
  *
  *  - The corpus is touched by ONE aggregate (distinct word + count);
  *    everything downstream — substring counts, segmentation, EM
  *    re-counts — runs over the vocabulary-bounded word table, so each
  *    EM round exchanges vocabulary-sized data no matter the corpus size.
  *  - The piece-cost table (a few hundred rows, the tokenizer artifact)
  *    is collected per round as bounded driver state and re-enters the
  *    plan as a foldable map literal — the Bpe.train / PCA-power pattern.
  *  - Per-word segmentation is the native [[org.apache.spark.sql.graft
  *    .UnigramViterbi]] DP (O(len·maxPieceLen), hashed piece lookups) —
  *    map-only, no shuffle, inside whole-stage codegen.
  *
  * Hard EM (count only the BEST segmentation, re-estimate costs from
  * those counts) is the deterministic, oracle-friendly variant of the
  * full forward–backward E-step; the Viterbi corpus NLL is monotonically
  * non-increasing across rounds (pinned by UnigramSpec).
  */
object Unigram {

  /** Distinct words + occurrence counts: the one corpus-sized aggregate
    * (single-space tokenization, matching the oracle's string_split). */
  def wordCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(col(textCol), " ", -1)).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("c"))

  /** All substring occurrences up to `maxPieceLen`, weighted by word
    * count: (piece, n). Vocabulary-sized explode (words × len × L). */
  def substringCounts(words: DataFrame, maxPieceLen: Int = 6): DataFrame =
    words.select(col("c"), explode(flatten(transform(
        sequence(lit(1), length(col("word"))),
        s => transform(
          sequence(lit(1), least(lit(maxPieceLen), length(col("word")) - s + 1)),
          l => col("word").substr(s, l))))).as("piece"))
      .groupBy("piece").agg(sum("c").as("n"))

  /** Seed vocabulary: top-K substrings by weighted count (ties broken by
    * piece — deterministic) UNION all single characters, so every corpus
    * word stays coverable. */
  def seedVocab(words: DataFrame, maxPieceLen: Int = 6, topK: Int = 200): DataFrame = {
    val sub = substringCounts(words, maxPieceLen)
    sub.orderBy(col("n").desc, col("piece")).limit(topK)
      .unionByName(sub.filter(length(col("piece")) === 1))
      .distinct()
  }

  /** Piece costs −ln(n / Σn) from a (piece, n) vocabulary — collected:
    * the tokenizer artifact is a few-hundred-row table by construction
    * (bounded driver state, same contract as Bpe.train's merge list). */
  def pieceCosts(vocab: DataFrame): Map[String, Double] = {
    // collect-bound: vocabulary-sized (piece, n) tokenizer artifact (scaladoc above)
    val rows = vocab.select(col("piece"), col("n")).collect()
    val total = rows.map(_.getLong(1)).sum.toDouble
    rows.map(r => r.getString(0) -> -math.log(r.getLong(1) / total)).toMap
  }

  /** Viterbi-segment the word table under fixed piece costs: adds
    * `seg` = struct(pieces, nll), null when the word is uncoverable. */
  def segmented(words: DataFrame, costs: Map[String, Double],
                maxPieceLen: Int = 6): DataFrame =
    words.withColumn("seg",
      GraftExtensions.unigramViterbi(col("word"), typedLit(costs), maxPieceLen))

  /** Piece usage counts along best segmentations, with the coverage
    * floor: every single character of the word table keeps at least
    * count 1 even when no best path uses it, so no word can become
    * uncoverable in a later round. */
  private def emCounts(words: DataFrame, costs: Map[String, Double],
                       maxPieceLen: Int, topK: Int): DataFrame = {
    val used = segmented(words, costs, maxPieceLen)
      .filter(col("seg").isNotNull)
      .select(col("c"), explode(col("seg.pieces")).as("piece"))
      .groupBy("piece").agg(sum("c").as("n"))
    val top = used.orderBy(col("n").desc, col("piece")).limit(topK)
    val chars = words
      .select(explode(split(col("word"), "")).as("piece")).distinct()
      .join(used, Seq("piece"), "left")
      .select(col("piece"), coalesce(col("n"), lit(1L)).as("n"))
    top.unionByName(chars).distinct()
  }

  /** Corpus encode under fixed piece costs: per-document piece counts
    * and total NLL. The Viterbi DP runs over the DISTINCT-WORD table
    * only; per-word results broadcast-join back to the per-document
    * token stream (the Bpe corpus-encode pattern — the DP never touches
    * the corpus side, so corpus cost is one explode + one join on the
    * word key).
    *
    * UNCOVERABLE-WORD CONTRACT: a word no piece path covers (possible
    * only when `costs` was trained on a DIFFERENT corpus — the
    * single-char floor makes same-corpus words always coverable) is
    * DROPPED from the counts, the tokenizer-UNK convention: n_words /
    * n_pieces / nll cover encodable words only, and a document whose
    * words are all uncoverable emits no row. Budget accounting that
    * must see raw word counts should take them from the token stream
    * before encoding. */
  def encodeCorpus(df: DataFrame, idCol: String, textCol: String,
                   costs: Map[String, Double], maxPieceLen: Int = 6,
                   maxWordLen: Int = Int.MaxValue): DataFrame = {
    // maxWordLen guards pathological unbroken runs (minified JS, base64
    // blobs) whose DP cost is quadratic in length — a real curation cap,
    // and the hook that keeps the oracled query inside its SQL DP unroll
    val docWords = df.select(col(idCol),
        explode(split(col(textCol), " ", -1)).as("word"))
      .filter(col("word") =!= "" && length(col("word")) <= maxWordLen)
    val wordSeg = segmented(
        docWords.groupBy("word").agg(count(lit(1)).as("c")), costs, maxPieceLen)
      .filter(col("seg").isNotNull)
      .select(col("word"), size(col("seg.pieces")).as("word_pieces"),
        col("seg.nll").as("word_nll"))
    docWords.join(broadcast(wordSeg), Seq("word"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_words"),
        sum("word_pieces").cast("long").as("n_pieces"),
        round(sum(col("word_nll")), 4).as("nll"))
  }

  /** Hard-EM training: `rounds` Viterbi-segment → re-count → re-estimate
    * iterations from the seed vocabulary. Returns the final (piece, n,
    * cost) table, cost = −ln(n / Σn). `maxWordLen` caps trained words
    * (the pathological-run guard of [[encodeCorpus]], and the bound that
    * keeps the oracled registry query inside its SQL DP+backtrack
    * unroll — the t_unigram_viterbi convention). */
  def train(df: DataFrame, textCol: String, rounds: Int = 3,
            topK: Int = 200, maxPieceLen: Int = 6,
            maxWordLen: Int = Int.MaxValue): DataFrame = {
    val words0 = wordCounts(df, textCol)
    graft.core.Measure.cachedFor(if (maxWordLen == Int.MaxValue) words0
        else words0.filter(length(col("word")) <= maxWordLen)) { words =>
      var vocab = seedVocab(words, maxPieceLen, topK)
      var it = 0
      // jobs-bound: rounds x 1 job (the topK-bounded pieceCosts vocab
      // collect per EM round, over the cached word table)
      while (it < rounds) {
        vocab = emCounts(words, pieceCosts(vocab), maxPieceLen, topK)
        it += 1
      }
      // final costs as a column; the vocab is topK-bounded so the global
      // window is a single tiny partition (partitionBy literal: no
      // WindowExec warning, see round-9 hygiene rule)
      val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(0))
      vocab.withColumn("cost", -log(col("n") / sum("n").over(w)))
    }
  }
}
