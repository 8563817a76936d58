package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.{BigramHashes, BpeMergeSeq, CdcCuts, CosineSimilarity, DotProduct, EvalBarrier, IvfTopCells, Md5Prefix60, MdBandKeys, MdBucketMargin, MdDerivedMarginInt, SpanHashes60, MdMinHashSignature, NativeBridge, RegexpExtractGroups, ShingleArray, SimHash64, MultiMatch, TrigramHashes, UnicodeNormalize, UnigramViterbi, WinnowMinima, WordPieceEncode}

/** Registers the native expressions as SQL functions so every operator is
  * reachable from `spark.sql` (SURVEY.md §7.1 `sql/` surface). Install
  * either via `.withExtensions(new GraftExtensions)` at session build or
  * `GraftExtensions.register(spark)` on a live session. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.descriptors.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectPlannerStrategy(_ => org.apache.spark.sql.graft.AsOfJoinStrategy)
  }
}

object GraftExtensions {
  private def info(name: String, usage: String) =
    new ExpressionInfo("org.apache.spark.sql.graft", null, name, usage, "", "", "", "", "", "", "scala_udf")

  // A literal-only SQL argument must be foldable and non-null — anything
  // else is an AnalysisException at registration, not a runtime
  // ClassCastException/NPE deep in the builder.
  private def literalArg(e: Expression, fn: String, param: String): Any = {
    if (!e.foldable)
      org.apache.spark.sql.graft.AnalysisErrors
        .nonFoldableArgument(fn, param, e.dataType)
    val v = e.eval()
    if (v == null)
      org.apache.spark.sql.graft.AnalysisErrors.nullArgument(fn, param)
    v
  }

  val descriptors: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("cosine_sim",
      info("cosine_sim", "cosine_sim(a, b) - cosine similarity of two double arrays."),
      (args: Seq[Expression]) => CosineSimilarity(args.head, args(1))),
    ("dot_product",
      info("dot_product", "dot_product(a, b) - dot product of two double arrays."),
      (args: Seq[Expression]) => DotProduct(args.head, args(1))),
    ("simhash64",
      info("simhash64", "simhash64(hashes) - 64-bit SimHash of pre-hashed tokens."),
      (args: Seq[Expression]) => SimHash64(args.head)),
    ("regexp_extract_groups",
      info("regexp_extract_groups",
        "regexp_extract_groups(str, pattern) - all capture groups of one match as array<string>, null if no match."),
      (args: Seq[Expression]) => RegexpExtractGroups(args.head,
        literalArg(args(1), "regexp_extract_groups", "pattern").toString)),
    ("cdc_cuts",
      info("cdc_cuts",
        "cdc_cuts(str, window, divisor, min_size, max_size) - content-defined chunk end positions (rolling-hash boundaries) as array<int>."),
      (args: Seq[Expression]) => CdcCuts(args.head,
        literalArg(args(1), "cdc_cuts", "window").asInstanceOf[Number].intValue(),
        literalArg(args(2), "cdc_cuts", "divisor").asInstanceOf[Number].intValue(),
        literalArg(args(3), "cdc_cuts", "min_size").asInstanceOf[Number].intValue(),
        literalArg(args(4), "cdc_cuts", "max_size").asInstanceOf[Number].intValue())),
    ("unigram_viterbi",
      info("unigram_viterbi",
        "unigram_viterbi(word, piece_costs, max_piece_len) - min-cost unigram-LM segmentation as struct(pieces, nll); null if uncoverable."),
      (args: Seq[Expression]) => UnigramViterbi(args.head, args(1),
        literalArg(args(2), "unigram_viterbi", "max_piece_len")
          .asInstanceOf[Number].intValue())),
    ("wordpiece_encode",
      info("wordpiece_encode",
        "wordpiece_encode(word, vocab, max_piece_len) - greedy longest-match WordPiece pieces as array<string>; null if unsegmentable ([UNK])."),
      (args: Seq[Expression]) => WordPieceEncode(args.head, args(1),
        literalArg(args(2), "wordpiece_encode", "max_piece_len")
          .asInstanceOf[Number].intValue())),
    ("multi_match",
      info("multi_match",
        "multi_match(text, patterns) - distinct patterns occurring in text as substrings (Aho-Corasick single pass), in patterns order."),
      (args: Seq[Expression]) => MultiMatch(args.head, args(1))),
    ("winnow_minima",
      info("winnow_minima",
        "winnow_minima(str, k, w) - winnowing fingerprint set (Schleimer 2003): distinct sliding-window minima of rolling k-gram hashes, sorted, as array<bigint>."),
      (args: Seq[Expression]) => WinnowMinima(args.head,
        literalArg(args(1), "winnow_minima", "k").asInstanceOf[Number].intValue(),
        literalArg(args(2), "winnow_minima", "w").asInstanceOf[Number].intValue())),
    ("unicode_normalize",
      info("unicode_normalize",
        "unicode_normalize(str, form) - Unicode normalization (NFC/NFD/NFKC/NFKD, literal form)."),
      (args: Seq[Expression]) => UnicodeNormalize(args.head,
        literalArg(args(1), "unicode_normalize", "form").toString)),
    // the md5-family natives (r18) + n-gram/band keys (r19), registered
    // so the file's contract — every native expression reachable from
    // spark.sql — holds (advisor r18 item 1)
    ("md5_prefix60",
      info("md5_prefix60",
        "md5_prefix60(str) - 60-bit md5 prefix as bigint (the engine's portable hash)."),
      (args: Seq[Expression]) => Md5Prefix60(args.head)),
    ("span_hashes60",
      info("span_hashes60",
        "span_hashes60(toks, k) - positional k-token window md5-prefix hashes as array<struct<pos,h>>."),
      (args: Seq[Expression]) => SpanHashes60(args.head,
        literalArg(args(1), "span_hashes60", "k").asInstanceOf[Number].intValue())),
    ("md_minhash_signature",
      info("md_minhash_signature",
        "md_minhash_signature(shingles, n) - n-component md5-family MinHash signature as array<bigint>."),
      (args: Seq[Expression]) => {
        val n = literalArg(args(1), "md_minhash_signature", "n")
          .asInstanceOf[Number].intValue()
        if (n < 1) org.apache.spark.sql.graft.AnalysisErrors
          .nullArgument("md_minhash_signature", "n (must be >= 1)")
        MdMinHashSignature(args.head, n)
      }),
    ("md_bucket_margin",
      info("md_bucket_margin",
        "md_bucket_margin(toks, weights, skip_empty) - hashed-bag-of-words margin over a literal double-array weight table."),
      (args: Seq[Expression]) => {
        val w = literalArg(args(1), "md_bucket_margin", "weights")
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toDoubleArray().toSeq
        if (w.isEmpty) org.apache.spark.sql.graft.AnalysisErrors
          .nullArgument("md_bucket_margin", "weights (must be non-empty)")
        val skip = if (args.size > 2)
          literalArg(args(2), "md_bucket_margin", "skip_empty")
            .asInstanceOf[Boolean]
        else false
        MdBucketMargin(args.head, w, skip)
      }),
    ("md_derived_margin_int",
      info("md_derived_margin_int",
        "md_derived_margin_int(toks, buckets) - hash-derived integer classifier margin."),
      (args: Seq[Expression]) => {
        val b = literalArg(args(1), "md_derived_margin_int", "buckets")
          .asInstanceOf[Number].intValue()
        if (b < 1) org.apache.spark.sql.graft.AnalysisErrors
          .nullArgument("md_derived_margin_int", "buckets (must be >= 1)")
        MdDerivedMarginInt(args.head, b)
      }),
    ("bigram_hashes",
      info("bigram_hashes",
        "bigram_hashes(toks) - per-bigram xxhash64 LM keys as array<struct<h2,h2b,ha,hb>>."),
      (args: Seq[Expression]) => BigramHashes(args.head)),
    ("trigram_hashes",
      info("trigram_hashes",
        "trigram_hashes(toks) - per-trigram xxhash64 LM keys as array<struct<h3,h3b,hab,habb,hbc,hbcb,hb,hc>>."),
      (args: Seq[Expression]) => TrigramHashes(args.head)),
    ("md_band_keys",
      info("md_band_keys",
        "md_band_keys(signature, bands) - per-band md5 digest keys as array<struct<j,b1,b2>>."),
      (args: Seq[Expression]) => MdBandKeys(args.head,
        literalArg(args(1), "md_band_keys", "bands")
          .asInstanceOf[Number].intValue())),
    ("bpe_merge_seq",
      info("bpe_merge_seq",
        "bpe_merge_seq(syms, a_list, b_list) - ordered greedy BPE merges (parallel literal string arrays) applied in one fused pass."),
      (args: Seq[Expression]) => {
        def strs(i: Int, p: String): Seq[String] =
          literalArg(args(i), "bpe_merge_seq", p)
            .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
            .toObjectArray(org.apache.spark.sql.types.StringType)
            .map(_.toString).toSeq
        val (as, bs) = (strs(1, "a_list"), strs(2, "b_list"))
        if (as.isEmpty || as.size != bs.size)
          org.apache.spark.sql.graft.AnalysisErrors.nullArgument(
            "bpe_merge_seq", "a_list/b_list (non-empty, equal length)")
        BpeMergeSeq(args.head, as.zip(bs))
      }))

  /** Register on an existing session (tests, REPL). Functions go into the
    * session registry; the as-of join strategy into experimental
    * strategies (extensions proper only apply at session build). */
  def register(spark: SparkSession): Unit = {
    descriptors.foreach { case (name, inf, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(FunctionIdentifier(name), inf, builder)
    }
    val strategy = org.apache.spark.sql.graft.AsOfJoinStrategy
    if (!spark.experimental.extraStrategies.contains(strategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ strategy
  }

  /** Column-API access to the native expressions. */
  def cosineSim(a: Column, b: Column): Column =
    NativeBridge.column(CosineSimilarity(NativeBridge.expression(a), NativeBridge.expression(b)))
  def dotProduct(a: Column, b: Column): Column =
    NativeBridge.column(DotProduct(NativeBridge.expression(a), NativeBridge.expression(b)))
  def ivfTopCells(vec: Column, cids: Seq[Long], cents: Seq[Seq[Double]],
      nProbe: Int, simRound: Int): Column =
    NativeBridge.column(IvfTopCells(
      NativeBridge.expression(vec.cast("array<double>")),
      cids, cents, nProbe, simRound))
  def mdMinhashSignature(shingles: Column, numHashes: Int): Column =
    NativeBridge.column(MdMinHashSignature(NativeBridge.expression(shingles), numHashes))
  def md5Prefix60(s: Column): Column =
    NativeBridge.column(Md5Prefix60(NativeBridge.expression(s)))
  def spanHashes60(toks: Column, k: Int): Column =
    NativeBridge.column(SpanHashes60(NativeBridge.expression(toks), k))
  def mdBucketMargin(tokens: Column, weights: Seq[Double],
                     skipEmpty: Boolean = false): Column =
    NativeBridge.column(MdBucketMargin(NativeBridge.expression(tokens),
      weights, skipEmpty))
  def mdDerivedMarginInt(tokens: Column, buckets: Int): Column =
    NativeBridge.column(MdDerivedMarginInt(NativeBridge.expression(tokens), buckets))
  def simhash64(tokenHashes: Column): Column =
    NativeBridge.column(SimHash64(NativeBridge.expression(tokenHashes)))
  def shingles(tokens: Column, k: Int): Column =
    NativeBridge.column(ShingleArray(NativeBridge.expression(tokens), k))
  def regexpGroups(str: Column, pattern: String): Column =
    NativeBridge.column(RegexpExtractGroups(NativeBridge.expression(str), pattern))
  def cdcCuts(str: Column, window: Int, divisor: Int,
              minSize: Int, maxSize: Int): Column =
    NativeBridge.column(CdcCuts(NativeBridge.expression(str),
      window, divisor, minSize, maxSize))
  def unigramViterbi(word: Column, pieceCosts: Column, maxPieceLen: Int): Column =
    NativeBridge.column(UnigramViterbi(NativeBridge.expression(word),
      NativeBridge.expression(pieceCosts), maxPieceLen))
  def wordpieceEncode(word: Column, vocab: Column, maxPieceLen: Int): Column =
    NativeBridge.column(WordPieceEncode(NativeBridge.expression(word),
      NativeBridge.expression(vocab), maxPieceLen))
  def multiMatch(text: Column, patterns: Column): Column =
    NativeBridge.column(MultiMatch(NativeBridge.expression(text),
      NativeBridge.expression(patterns)))
  def winnowMinima(text: Column, k: Int, w: Int,
      wide: Boolean = false): Column =
    NativeBridge.column(WinnowMinima(NativeBridge.expression(text), k, w, wide))
  def unicodeNormalize(text: Column, form: String = "NFC"): Column =
    NativeBridge.column(UnicodeNormalize(NativeBridge.expression(text), form))
  def bigramHashes(toks: Column): Column =
    NativeBridge.column(BigramHashes(NativeBridge.expression(toks)))
  def trigramHashes(toks: Column): Column =
    NativeBridge.column(TrigramHashes(NativeBridge.expression(toks)))
  def mdBandKeys(signature: Column, bands: Int): Column =
    NativeBridge.column(MdBandKeys(NativeBridge.expression(signature), bands))
  def bpeMergeSeq(syms: Column, merges: Seq[(String, String)]): Column =
    NativeBridge.column(BpeMergeSeq(NativeBridge.expression(syms), merges))
  /** Pins evaluation order of side-effecting expressions (see
    * org.apache.spark.sql.graft.EvalBarrier). */
  def evalBarrier(c: Column): Column =
    NativeBridge.column(EvalBarrier(NativeBridge.expression(c)))
}
