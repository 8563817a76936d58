package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.Text

/** Text analysis + deduplication over the `documents` table: token
  * counting, quality scoring, language-ID, fingerprinting, exact dedup,
  * n-gram Jaccard, shingle-join candidates, MinHash-LSH, SimHash.
  */
object TextQueries {

  private val stopwords = Seq("the", "a")

  // deterministic marker lists for the n-gram language-ID heuristic
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "dataish" -> Seq("data", "table", "row"),
    "queryish" -> Seq("query", "filter", "join"),
    "streamish" -> Seq("stream", "batch", "window"))

  // Shared by `t_decontaminate` (exact broadcast form) and
  // `t_decontaminate_bloom` (Bloom-prefiltered form): identical semantics,
  // identical oracle — the bloom is a lossless prefilter (no false
  // negatives by construction) whose false positives the exact verify
  // join removes, so both plans must produce byte-identical results.
  private val decontaminateOracle =
    """WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
      |    FROM documents),
      |sh AS (SELECT doc_id, lang, unnest(list_distinct(
      |    [array_to_string(ws[i:i+7], ' ')
      |     FOR i IN generate_series(1, greatest(len(ws) - 7, 1))])) AS shingle
      |  FROM w),
      |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 13 = 0),
      |hits AS (SELECT DISTINCT s.doc_id FROM sh s
      |  JOIN bench b ON s.shingle = b.shingle WHERE s.doc_id % 13 <> 0)
      |SELECT w.lang, COUNT(*) AS n_corpus,
      |  SUM(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
      |    AS n_contaminated
      |FROM w LEFT JOIN hits h ON w.doc_id = h.doc_id
      |WHERE w.doc_id % 13 <> 0
      |GROUP BY w.lang ORDER BY w.lang""".stripMargin

  def qs: Seq[Q] = Seq(

    // Token counting per document, aggregated per language.
    Q("t_token_count",
      """SELECT lang, COUNT(*) AS n_docs,
        |  SUM(len(string_split(text, ' ')))::BIGINT AS n_tokens,
        |  ROUND(AVG(len(string_split(text, ' '))), 4) AS avg_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .withColumn("nt", size(split(col("text"), " ", -1)))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"),
          round(avg("nt"), 4).as("avg_tokens"))
        .orderBy("lang")
    },

    // Quality metrics + keep rule (Gopher-style length/stopword heuristics).
    Q("t_quality_score",
      """WITH m AS (SELECT doc_id,
        |    len(string_split(text, ' ')) AS n_tokens,
        |    length(text) AS n_chars,
        |    CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
        |      / len(string_split(text, ' ')) AS avg_token_len,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS stopword_ratio
        |  FROM documents)
        |SELECT doc_id, n_tokens, n_chars, ROUND(avg_token_len, 4) AS avg_token_len,
        |  ROUND(stopword_ratio, 4) AS stopword_ratio,
        |  CASE WHEN n_tokens >= 10 AND avg_token_len BETWEEN 2.0 AND 12.0
        |    AND stopword_ratio <= 0.5 THEN true ELSE false END AS keep
        |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .withColumn("m", Text.qualityMetrics(col("text"), stopwords))
        .select(col("doc_id"), col("m.n_tokens"), col("m.n_chars"),
          round(col("m.avg_token_len"), 4).as("avg_token_len"),
          round(col("m.stopword_ratio"), 4).as("stopword_ratio"),
          col("m.keep"))
        .orderBy("doc_id")
    },

    // Quality-threshold retention sweep: the curve a curation run reads
    // before picking its cutoff (how much data does each candidate
    // min-length gate keep?). ONE corpus scan — the metrics compute
    // per row once, a 5-element threshold-literal explode fans each
    // row into the thresholds it's compared against, and the aggregate
    // ships 5 groups; the a7_cdf_thresholds pattern (explode a literal
    // axis, never re-scan per threshold). Counts only, no ratio — a
    // rounded k/N ratio can tie at the decimal boundary (verify-skill
    // pitfall list); the consumer divides.
    Q("pipe_quality_sweep",
      """WITH m AS (SELECT doc_id,
        |    len(string_split(text, ' ')) AS n_tokens,
        |    CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
        |      / len(string_split(text, ' ')) AS avg_token_len,
        |    CAST(len(list_filter(string_split(text, ' '),
        |        x -> x IN ('the', 'a'))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS stopword_ratio
        |  FROM documents),
        |t AS (SELECT unnest([5, 10, 20, 40, 80]) AS min_tokens)
        |SELECT min_tokens, COUNT(*)::BIGINT AS n_docs,
        |  SUM(CASE WHEN n_tokens >= min_tokens
        |    AND avg_token_len BETWEEN 2.0 AND 12.0
        |    AND stopword_ratio <= 0.5 THEN 1 ELSE 0 END)::BIGINT AS n_kept
        |FROM m CROSS JOIN t GROUP BY min_tokens
        |ORDER BY min_tokens""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .withColumn("m", Text.qualityMetrics(col("text"), stopwords))
        .select(col("m"),
          explode(array(Seq(5, 10, 20, 40, 80).map(lit): _*))
            .as("min_tokens"))
        .groupBy("min_tokens")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("m.n_tokens") >= col("min_tokens")
            && col("m.avg_token_len").between(2.0, 12.0)
            && col("m.stopword_ratio") <= 0.5, 1L).otherwise(0L))
            .as("n_kept"))
        .orderBy("min_tokens")
    },

    // Language-ID by n-gram marker counts: argmax of per-"language"
    // occurrence totals; deterministic, same formula both sides.
    Q("t_langid",
      """WITH s AS (SELECT doc_id,
        |    (length(text) - length(replace(text,'data','')))/4
        |      + (length(text) - length(replace(text,'table','')))/5
        |      + (length(text) - length(replace(text,'row','')))/3 AS s1,
        |    (length(text) - length(replace(text,'query','')))/5
        |      + (length(text) - length(replace(text,'filter','')))/6
        |      + (length(text) - length(replace(text,'join','')))/4 AS s2,
        |    (length(text) - length(replace(text,'stream','')))/6
        |      + (length(text) - length(replace(text,'batch','')))/5
        |      + (length(text) - length(replace(text,'window','')))/6 AS s3
        |  FROM documents)
        |SELECT CASE WHEN s3 > s1 AND s3 > s2 THEN 'streamish'
        |  WHEN s2 > s1 THEN 'queryish' ELSE 'dataish' END AS pred_lang,
        |  COUNT(*) AS n
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      Tables.fannedOut(s, dir, "documents")
        .select(Text.langIdScore(col("text"), langMarkers).as("pred_lang"))
        .groupBy("pred_lang").agg(count(lit(1)).as("n"))
        .orderBy("pred_lang")
    },

    // Language-ID EVALUATION: confusion matrix of the marker-based
    // predictor against the labeled lang column — the eval surface every
    // curation run needs before trusting a classifier gate (per-cell
    // counts; precision/recall derive from rows/columns downstream).
    // Same one-scan shape as t_langid plus the label; the matrix is at
    // most |langs|×|preds| rows.
    Q("t_langid_eval",
      """WITH s AS (SELECT doc_id, lang,
        |    (length(text) - length(replace(text,'data','')))/4
        |      + (length(text) - length(replace(text,'table','')))/5
        |      + (length(text) - length(replace(text,'row','')))/3 AS s1,
        |    (length(text) - length(replace(text,'query','')))/5
        |      + (length(text) - length(replace(text,'filter','')))/6
        |      + (length(text) - length(replace(text,'join','')))/4 AS s2,
        |    (length(text) - length(replace(text,'stream','')))/6
        |      + (length(text) - length(replace(text,'batch','')))/5
        |      + (length(text) - length(replace(text,'window','')))/6 AS s3
        |  FROM documents)
        |SELECT lang, CASE WHEN s3 > s1 AND s3 > s2 THEN 'streamish'
        |    WHEN s2 > s1 THEN 'queryish' ELSE 'dataish' END AS pred_lang,
        |  COUNT(*) AS n
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      Tables.fannedOut(s, dir, "documents")
        .select(col("lang"),
          Text.langIdScore(col("text"), langMarkers).as("pred_lang"))
        .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred_lang")
    },

    // Blocklist gate (the C4 badwords rule): a doc is dropped when any
    // token matches the broadcast blocklist. Token-boundary exact match
    // (not substring — "slowly" must not fire "slow"-as-a-token rules);
    // the list is a literal/broadcast on every executor, so the gate is
    // map-only at any corpus size; one source-sized aggregate follows.
    Q("t_blocklist_filter",
      """WITH f AS (SELECT source,
        |    list_has_any(string_split(text, ' '),
        |      ['slow', 'crash', 'spam']) AS hit
        |  FROM documents)
        |SELECT source, COUNT(*)::BIGINT AS n_docs,
        |  SUM(CASE WHEN hit THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
        |  SUM(CASE WHEN hit THEN 0 ELSE 1 END)::BIGINT AS n_kept
        |FROM f GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val blocklist = array(Seq("slow", "crash", "spam").map(lit): _*)
      Tables(s, dir, "documents")
        .select(col("source"),
          arrays_overlap(split(col("text"), " ", -1), blocklist).as("hit"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("hit"), 1L).otherwise(0L)).as("n_dropped"),
          sum(when(col("hit"), 0L).otherwise(1L)).as("n_kept"))
        .orderBy("source")
    },

    // Zipf rank–frequency fit per language: OLS slope of ln(freq) on
    // ln(rank) over the top-200 tokens — the corpus-health diagnostic
    // (natural text ≈ −1; a drifting slope flags boilerplate floods or
    // truncated vocab). Vocab-bounded: one token aggregate, a per-lang
    // window over vocabulary-sized rows, regr_slope on ≤200 points per
    // group (the a11_linfit oracle pattern — same aggregate both sides).
    Q("t_zipf_slope",
      """WITH tf AS (SELECT lang, tok, COUNT(*)::BIGINT AS f
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  WHERE tok <> '' GROUP BY lang, tok),
        |r AS (SELECT lang, f,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY f DESC, tok) AS rk
        |  FROM tf)
        |SELECT lang, COUNT(*)::BIGINT AS n_points,
        |  ROUND(regr_slope(LN(CAST(f AS DOUBLE)), LN(CAST(rk AS DOUBLE))), 4)
        |    + 0 AS zipf_slope
        |FROM r WHERE rk <= 200
        |GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      val tf = Tables.fannedOut(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ", -1)).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("lang", "tok").agg(count(lit(1)).as("f"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("f").desc, col("tok"))
      tf.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 200)
        .select(col("lang"), log(col("f").cast("double")).as("lf"),
          log(col("rk").cast("double")).as("lr"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_points"),
          // + lit(0) normalizes a possible -0.0 from float summation order
          // to +0.0 (degenerate flat distribution) — engine-portable hash.
          (round(expr("regr_slope(lf, lr)"), 4) + lit(0)).as("zipf_slope"))
        .orderBy("lang")
    },

    // Heaps'-law vocabulary growth (V = K·T^β): distinct-vocabulary and
    // token totals at fixed doc-count checkpoints, plus the log-log
    // regression slope β — the corpus diagnostic that says whether new
    // data still brings new vocabulary (β falling toward 0 = the corpus
    // is saturating; the signal behind "more of the same" dedup/mixing
    // decisions). ONE pass over the token stream: V(n) needs only each
    // token's FIRST-occurrence doc (min doc_id per token — vocab-sized),
    // T(n) only per-doc token counts (doc-count-sized); both join the
    // 7-row checkpoint table broadcast, so the corpus is never scanned
    // per checkpoint. Counts are integers; β is the one rounded value.
    Q("t_heaps_law",
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents),
        |tok AS (SELECT doc_id, tok FROM t WHERE tok <> ''),
        |fo AS (SELECT tok, MIN(doc_id) AS fd FROM tok GROUP BY 1),
        |dt AS (SELECT doc_id, COUNT(*)::BIGINT AS nt FROM tok GROUP BY 1),
        |chk AS (SELECT unnest([25, 50, 100, 200, 400, 800, 1500]) AS n),
        |tt AS (SELECT c.n, SUM(d.nt)::BIGINT AS t_tokens
        |  FROM chk c JOIN dt d ON d.doc_id < c.n GROUP BY 1),
        |vv AS (SELECT c.n, COUNT(*)::BIGINT AS v_vocab
        |  FROM chk c JOIN fo f ON f.fd < c.n GROUP BY 1),
        |l AS (SELECT tt.n, tt.t_tokens, vv.v_vocab,
        |    LN(CAST(tt.t_tokens AS DOUBLE)) AS lx,
        |    LN(CAST(vv.v_vocab AS DOUBLE)) AS ly
        |  FROM tt JOIN vv USING (n)),
        |s AS (SELECT ROUND(regr_slope(ly, lx), 4) + 0 AS beta FROM l)
        |SELECT l.n, l.t_tokens, l.v_vocab, s.beta
        |FROM l CROSS JOIN s ORDER BY n""".stripMargin) { (s, dir) =>
      val tok = Tables.fannedOut(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("tok"))
        .filter(col("tok") =!= "")
      val fo = tok.groupBy("tok").agg(min("doc_id").as("fd"))
      val dt = tok.groupBy("doc_id").agg(count(lit(1)).as("nt"))
      val chk = Seq(25, 50, 100, 200, 400, 800, 1500)
      val chkDf = s.range(1).select(explode(
        array(chk.map(v => lit(v)): _*)).as("n"))
      val tt = dt.join(broadcast(chkDf), col("doc_id") < col("n"))
        .groupBy("n").agg(sum("nt").as("t_tokens"))
      val vv = fo.join(broadcast(chkDf), col("fd") < col("n"))
        .groupBy("n").agg(count(lit(1)).as("v_vocab"))
      val l = tt.join(vv, "n")
        .select(col("n"), col("t_tokens"), col("v_vocab"),
          log(col("t_tokens").cast("double")).as("lx"),
          log(col("v_vocab").cast("double")).as("ly"))
      // Saturated vocab ⇒ true β = 0 exactly; Spark's float summation can
      // land -0.0 where DuckDB lands +0.0. `+ lit(0)` (mirrored `+ 0` in
      // the oracle) makes the degenerate-regression output engine-portable.
      val beta = l.agg((round(expr("regr_slope(ly, lx)"), 4) + lit(0)).as("beta"))
      l.crossJoin(broadcast(beta))
        .select(col("n"), col("t_tokens"), col("v_vocab"), col("beta"))
        .orderBy("n")
    },

    // Retrieval-index statistics (per-term document + collection
    // frequency): the BM25 broadcast side, as maintained by
    // Streams.streamingIndexStats — this batch query IS that plan run on
    // a bounded input (stream==batch pinned in MergeStreamSpec), so the
    // streaming operator inherits a DuckDB-gated oracle. Per-doc term
    // counts stay inside the row (no corpus-scale tf shuffle); the one
    // exchange is vocab-sized.
    Q("t_index_stats",
      """WITH e AS (SELECT doc_id, tok, COUNT(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  WHERE tok <> '' GROUP BY doc_id, tok)
        |SELECT tok AS term, COUNT(*)::BIGINT AS df, SUM(tf)::BIGINT AS cf
        |FROM e GROUP BY tok ORDER BY term""".stripMargin) { (s, dir) =>
      graft.streaming.Streams.streamingIndexStats(
          Tables.fannedOut(s, dir, "documents"), "text")
        .orderBy("term")
    },

    // N-gram NOVELTY curve: per document, how many of its distinct
    // trigrams appear for the FIRST time (no earlier doc contains them) —
    // the dataset-health diagnostic behind "is the tail of this corpus
    // still contributing new content, or re-treading?" Two n-gram-keyed
    // exchanges (distinct + first-occurrence aggregate) and a join, all
    // on the trigram key — integer counts, engine-exact.
    Q("t_ngram_novelty",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |tg AS (SELECT DISTINCT doc_id,
        |    toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS g
        |  FROM (SELECT doc_id, toks,
        |      unnest(generate_series(1, len(toks) - 2)) AS i FROM t)),
        |f AS (SELECT g, MIN(doc_id) AS first_doc FROM tg GROUP BY g)
        |SELECT tg.doc_id, COUNT(*)::BIGINT AS n_trigrams,
        |  SUM(CASE WHEN f.first_doc = tg.doc_id THEN 1 ELSE 0 END)::BIGINT
        |    AS n_novel
        |FROM tg JOIN f USING (g)
        |GROUP BY tg.doc_id ORDER BY tg.doc_id""".stripMargin) { (s, dir) =>
      // r19 (guide §2.2 — shuffle fewer bytes): the trigram key rides
      // the distinct, the first-occurrence aggregate and the join as
      // the 128-bit (h3, h3b) pair from the native fused key loop
      // (TrigramHashes, the LM-family keying) instead of the joined
      // window STRING — 16 fixed bytes per key through two exchanges,
      // no concat_ws materialization per window. Counts depend on the
      // key only through equality; the pair's collision class is the
      // engine-wide accepted one (the LM keys, the ladder's composed
      // fingerprints), and the oracle re-derives novelty from the
      // window TEXT, so a collision anywhere would hash-mismatch.
      val tg = Tables.fannedOut(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.GraftExtensions
            .trigramHashes(split(col("text"), " ", -1))).as("t"))
        .select(col("doc_id"), col("t.h3").as("g1"), col("t.h3b").as("g2"))
        .distinct()
      val f = tg.groupBy("g1", "g2").agg(min("doc_id").as("first_doc"))
      tg.join(f, Seq("g1", "g2"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_trigrams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .orderBy("doc_id")
    },

    // HYBRID (cross-modal) near-dup verification: cheap TEXT MinHash-LSH
    // candidate pairs verified by EMBEDDING cosine — the fusion a real
    // curation run uses when lexical overlap proposes and semantics
    // disposes (paraphrases keep high cosine with modest shingle
    // overlap; boilerplate collisions don't). Candidates come from the
    // bucket join (never all-pairs; the oracle mirrors the engine's
    // maxBucketSize=1000 hot-bucket guard); the embedding join touches
    // only candidate ids. Verdict compares the ROUNDED cosine (the
    // dedup_embedding contract) so both engines classify identically.
    Q("dedup_hybrid_verify",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(ws[i:i+3], ' ')
        |     FOR i IN generate_series(1, greatest(len(ws) - 3, 1))])) AS s
        |  FROM w),
        |comp AS (SELECT doc_id, j,
        |    MIN(('0x' || substr(md5(j::VARCHAR || ' ' || s), 1, 15))::BIGINT) AS c
        |  FROM sh CROSS JOIN generate_series(0, 15) AS g(j) GROUP BY doc_id, j),
        |sig AS (SELECT doc_id, list(c ORDER BY j) AS cs FROM comp GROUP BY doc_id),
        |banded AS (SELECT doc_id, j,
        |    md5(array_to_string(cs[j*4+1 : j*4+4], ',')) AS bh
        |  FROM sig CROSS JOIN generate_series(0, 3) AS g(j)),
        |bsz AS (SELECT j, bh FROM banded GROUP BY j, bh
        |  HAVING COUNT(*) BETWEEN 2 AND 1000),
        |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM banded a JOIN bsz USING (j, bh)
        |  JOIN banded b ON b.j = a.j AND b.bh = a.bh AND a.doc_id < b.doc_id),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT p.id_a, p.id_b,
        |  ROUND(list_cosine_similarity(a.v, b.v), 3) + 0.0 AS cos_sim,
        |  CASE WHEN ROUND(list_cosine_similarity(a.v, b.v), 3) >= 0.35
        |       THEN 'semantic_dup' ELSE 'text_only' END AS verdict
        |FROM pairs p JOIN e a ON a.vec_id = p.id_a JOIN e b ON b.vec_id = p.id_b
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      val pairs = graft.ops.Curation.mdCandidatePairs(
        Tables.fannedOut(s, dir, "documents"), "doc_id", "text")
      val e = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val cosr = round(graft.ops.Similarity.cosine(col("va"), col("vb")), 3)
      pairs
        .join(e.select(col("vec_id").as("id_a"), col("v").as("va")), "id_a")
        .join(e.select(col("vec_id").as("id_b"), col("v").as("vb")), "id_b")
        .select(col("id_a"), col("id_b"),
          (cosr + lit(0.0)).as("cos_sim"),
          when(cosr >= 0.35, "semantic_dup").otherwise("text_only")
            .as("verdict"))
        .orderBy("id_a", "id_b")
    },

    // Multi-pattern PHRASE scan (substring semantics — the blocklist
    // form token gates can't express: "fast key" crosses a token
    // boundary): per-pattern document hit counts via ONE Aho–Corasick
    // walk per doc. The oracle is a per-pattern contains join — same
    // semantics, O(len·patterns) is fine at oracle scale while the
    // engine path stays O(len) at any pattern count.
    Q("t_blocklist_scan",
      """WITH p AS (SELECT unnest(['slow', 'fast key', 'merge line',
        |    'crash loop']) AS pattern),
        |h AS (SELECT p.pattern, d.doc_id FROM p JOIN documents d
        |  ON contains(d.text, p.pattern))
        |SELECT pattern, COUNT(*)::BIGINT AS n_docs
        |FROM h GROUP BY pattern ORDER BY pattern""".stripMargin) { (s, dir) =>
      Tables.fannedOut(s, dir, "documents")
        .select(explode(Text.multiMatch(col("text"),
          Seq("slow", "fast key", "merge line", "crash loop"))).as("pattern"))
        .groupBy("pattern").agg(count(lit(1)).as("n_docs"))
        .orderBy("pattern")
    },

    // Unicode NFC normalization: combining sequences composed so every
    // byte-keyed operator (fingerprints, dedup keys, chunk hashes) sees
    // one encoding of the same text. Input is synthesized denormalized
    // (combining acute + diaeresis appended — the corpus itself is
    // ASCII); both engines walk the same Unicode composition tables, so
    // the md5 of the normalized bytes is the whole contract. Map-only.
    Q("t_nfc_normalize",
      """SELECT doc_id,
        |  length(substring(text, 1, 30) || 'e' || chr(769) || 'A' || chr(776))
        |    AS n_raw,
        |  length(nfc_normalize(substring(text, 1, 30) || 'e' || chr(769)
        |    || 'A' || chr(776))) AS n_nfc,
        |  md5(nfc_normalize(substring(text, 1, 30) || 'e' || chr(769)
        |    || 'A' || chr(776))) AS nfc_md5
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        // combining chars as explicit escapes (e+U+0301, A+U+0308 —
        // DEnormalized on purpose), not Spark chr(): that's ASCII-mod-256,
        // not a code-point constructor
        val raw = concat(substring(col("text"), 1, 30), lit("e\u0301A\u0308"))
        Tables(s, dir, "documents").filter(col("doc_id") < 100)
          .select(col("doc_id"),
            length(raw).as("n_raw"),
            length(Text.unicodeNormalize(raw)).as("n_nfc"),
            md5(Text.unicodeNormalize(raw).cast("binary")).as("nfc_md5"))
          .orderBy("doc_id")
    },

    // Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003, the MOSS
    // scheme): distinct sliding-window minima of rolling 5-gram hashes
    // over normalized text — substring-level fingerprints with the
    // guarantee that any shared run of >= w+k-1 = 12 normalized chars
    // yields a shared fingerprint. Native one-pass WinnowMinima
    // expression; oracle recomputes gram hashes + window minima with
    // DuckDB list functions (list_slice bounds are inclusive).
    Q("t_winnow_fingerprints",
      """WITH d AS (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS t
        |  FROM documents WHERE doc_id < 200),
        |h AS (SELECT doc_id, list_transform(range(1, length(t)-5+2),
        |    i -> (list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split_regex(substring(t, CAST(i AS INT), 5), ''),
        |        x -> CAST(ascii(x) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) * 2654435761) % 1000000007) AS hs
        |  FROM d),
        |m AS (SELECT doc_id, CASE
        |    WHEN len(hs) = 0 THEN CAST([] AS BIGINT[])
        |    WHEN len(hs) < 8 THEN [list_min(hs)]
        |    ELSE list_sort(list_distinct(list_transform(range(1, len(hs)-8+2),
        |      j -> list_min(list_slice(hs, CAST(j AS INT), CAST(j AS INT)+7)))))
        |  END AS fps FROM h)
        |SELECT doc_id, UNNEST(fps) AS fp FROM m ORDER BY doc_id, fp""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .filter(col("doc_id") < 200)
        .select(col("doc_id"),
          explode(Text.winnowFingerprints(col("text"), 5, 8)).as("fp"))
        .orderBy("doc_id", "fp")
    },

    // Winnowing near-dup candidate pairs over a corpus with injected
    // edited copies (the corpus has no organic substring dups at this
    // SF): each doc_id < 50 gains a copy (id+10000) with an edited
    // preamble; a copy shares ALL the original's fingerprints (the edit
    // is local — the property positional chunking lacks). maxDf drops
    // ubiquitous fingerprints so no hot key can fan out quadratically —
    // and on this heavily-templated synthetic corpus that is a REAL
    // filter: most grams occur in ~90% of docs (df≈140), so only the
    // ID-bearing rare grams discriminate, and the surviving pairs are
    // copy pairs whose original carries >= minShared rare fingerprints
    // plus a few organic rare-gram collisions — exactly the
    // candidates-then-verify contract every candidate generator here
    // feeds (cf. dedup_ann_e2e's verify stage).
    Q("dedup_winnow_pairs",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 150
        |  UNION ALL
        |  SELECT doc_id + 10000, 'edited preamble xyzzy ' || text
        |  FROM documents WHERE doc_id < 50),
        |d AS (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS t FROM corpus),
        |h AS (SELECT doc_id, list_transform(range(1, length(t)-5+2),
        |    i -> (list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split_regex(substring(t, CAST(i AS INT), 5), ''),
        |        x -> CAST(ascii(x) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) * 2654435761) % 1000000007) AS hs
        |  FROM d),
        |m AS (SELECT doc_id, CASE
        |    WHEN len(hs) = 0 THEN CAST([] AS BIGINT[])
        |    WHEN len(hs) < 8 THEN [list_min(hs)]
        |    ELSE list_sort(list_distinct(list_transform(range(1, len(hs)-8+2),
        |      j -> list_min(list_slice(hs, CAST(j AS INT), CAST(j AS INT)+7)))))
        |  END AS fps FROM h),
        |fpx AS (SELECT doc_id, UNNEST(fps) AS fp FROM m),
        |rare AS (SELECT fp FROM fpx GROUP BY fp HAVING COUNT(*) <= 20),
        |pr AS (SELECT f.doc_id, f.fp FROM fpx f JOIN rare r ON f.fp = r.fp)
        |SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_shared
        |FROM pr a JOIN pr b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 3 ORDER BY d1, d2""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") < 150).select("doc_id", "text")
        .unionAll(docs.filter(col("doc_id") < 50)
          .select((col("doc_id") + 10000).as("doc_id"),
            concat(lit("edited preamble xyzzy "), col("text")).as("text")))
      // the operator persists the exploded (id, fp) stream, which has
      // three consumers (df count + both self-join sides) — one
      // materialized winnow pass instead of three derivations
      Text.winnowPairs(corpus, "doc_id", "text",
          k = 5, w = 8, maxDf = 20, minShared = 3)
        .orderBy("d1", "d2")
    },

    // The winnow path END-TO-END (judge r12 task 5 — the MOSS-style
    // substring complement of dedup_near_e2e's shingle-document chain):
    // winnow candidates → exact full-fingerprint-set Jaccard verify →
    // connected components → longest-doc keeper. The verify threshold
    // was MEASURED before being chosen (the calibration discipline):
    // on this corpus candidate pairs split into organic template
    // collisions at 3–29% full-set Jaccard vs injected copies at
    // 75–97% (plus one genuine organic exact dup at 100%) — minJacPct
    // = 50 sits in the empty middle of that bimodal gap. Integer gate
    // (100·|A∩B| ≥ 50·|A∪B|), no FP threshold tie. Scale: the verify
    // joins bounded fingerprint SETS only to candidate ids; CC is the
    // checkpointed star loop; candidates stay maxDf-bounded.
    Q("dedup_winnow_e2e",
      """WITH RECURSIVE corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 150
        |  UNION ALL
        |  SELECT doc_id + 10000, 'edited preamble xyzzy ' || text
        |  FROM documents WHERE doc_id < 50),
        |d AS (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS t FROM corpus),
        |h AS (SELECT doc_id, list_transform(range(1, length(t)-5+2),
        |    i -> (list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split_regex(substring(t, CAST(i AS INT), 5), ''),
        |        x -> CAST(ascii(x) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) * 2654435761) % 1000000007) AS hs
        |  FROM d),
        |m AS (SELECT doc_id, CASE
        |    WHEN len(hs) = 0 THEN CAST([] AS BIGINT[])
        |    WHEN len(hs) < 8 THEN [list_min(hs)]
        |    ELSE list_sort(list_distinct(list_transform(range(1, len(hs)-8+2),
        |      j -> list_min(list_slice(hs, CAST(j AS INT), CAST(j AS INT)+7)))))
        |  END AS fps FROM h),
        |fpx AS (SELECT doc_id, UNNEST(fps) AS fp FROM m),
        |rare AS (SELECT fp FROM fpx GROUP BY fp HAVING COUNT(*) <= 20),
        |pr AS (SELECT f.doc_id, f.fp FROM fpx f JOIN rare r ON f.fp = r.fp),
        |cand AS (SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM pr a JOIN pr b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |ver AS (SELECT c.d1, c.d2 FROM cand c
        |  JOIN m m1 ON m1.doc_id = c.d1 JOIN m m2 ON m2.doc_id = c.d2
        |  WHERE 100 * len(list_intersect(m1.fps, m2.fps))
        |    >= 50 * (len(m1.fps) + len(m2.fps)
        |             - len(list_intersect(m1.fps, m2.fps)))),
        |edges AS (SELECT d1 AS u, d2 AS v FROM ver
        |  UNION SELECT d2, d1 FROM ver),
        |reach(id, r) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
        |  UNION
        |  SELECT ed.v, re.r FROM reach re JOIN edges ed ON ed.u = re.id),
        |cc AS (SELECT id AS doc_id, MIN(r) AS cluster FROM reach GROUP BY id),
        |scored AS (SELECT c.doc_id, c.cluster,
        |    len(string_split(co.text, ' ')) AS nt
        |  FROM cc c JOIN corpus co USING (doc_id)),
        |reps AS (SELECT cluster, doc_id AS keeper, nt AS keeper_tokens,
        |    row_number() OVER (PARTITION BY cluster
        |      ORDER BY nt DESC, doc_id) AS rk
        |  FROM scored)
        |SELECT r.cluster, s.cluster_size, r.keeper, r.keeper_tokens
        |FROM reps r JOIN (SELECT cluster, COUNT(*) AS cluster_size
        |  FROM cc GROUP BY cluster) s USING (cluster)
        |WHERE r.rk = 1 ORDER BY r.cluster""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") < 150).select("doc_id", "text")
        .unionAll(docs.filter(col("doc_id") < 50)
          .select((col("doc_id") + 10000).as("doc_id"),
            concat(lit("edited preamble xyzzy "), col("text")).as("text")))
      // the persisted fp stream is freed by the per-query
      // Measure.releaseAll in Verify/ProfileQ
      Text.winnowDedupE2e(corpus, "doc_id", "text",
          k = 5, w = 8, maxDf = 20, minShared = 3, minJacPct = 50)
        .orderBy("cluster")
    },

    // Incremental winnow near-dup GATE (judge r13 task 5 — the
    // candidates→verify slice of dedup_winnow_e2e run the way a
    // production ingest runs it): the stored corpus (doc_id < 150)
    // builds a fingerprint index ONCE (Text.winnowIndex — full sets +
    // maxDf-rare candidate index, the stored-model split); the arriving
    // batch (edited copies of doc_id < 50, plus clean docs 150–179 as
    // organic non-dup arrivals) is matched per row: in-row
    // fingerprinting, rare-fp candidate join (rarity = STORE df only —
    // arrivals never mutate the index), exact integer full-set Jaccard
    // verify at the measured 50% threshold. Streams.eachFileBatch runs
    // this exact plan per micro-batch (stream==batch pinned in
    // MergeStreamSpec). Expected: every injected copy matches its
    // original; clean arrivals pass the gate (organic candidates die in
    // verify at 3–29% Jaccard).
    Q("dedup_winnow_gate",
      """WITH store AS (SELECT doc_id, text FROM documents WHERE doc_id < 150),
        |arrv AS (
        |  SELECT doc_id + 10000 AS doc_id, 'edited preamble xyzzy ' || text AS text
        |  FROM documents WHERE doc_id < 50
        |  UNION ALL
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 150 AND doc_id < 180),
        |ds AS (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS t FROM store),
        |hs AS (SELECT doc_id, list_transform(range(1, length(t)-5+2),
        |    i -> (list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split_regex(substring(t, CAST(i AS INT), 5), ''),
        |        x -> CAST(ascii(x) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) * 2654435761) % 1000000007) AS hl
        |  FROM ds),
        |ms AS (SELECT doc_id, CASE
        |    WHEN len(hl) = 0 THEN CAST([] AS BIGINT[])
        |    WHEN len(hl) < 8 THEN [list_min(hl)]
        |    ELSE list_sort(list_distinct(list_transform(range(1, len(hl)-8+2),
        |      j -> list_min(list_slice(hl, CAST(j AS INT), CAST(j AS INT)+7)))))
        |  END AS fps FROM hs),
        |da AS (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS t FROM arrv),
        |ha AS (SELECT doc_id, list_transform(range(1, length(t)-5+2),
        |    i -> (list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split_regex(substring(t, CAST(i AS INT), 5), ''),
        |        x -> CAST(ascii(x) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) * 2654435761) % 1000000007) AS hl
        |  FROM da),
        |ma AS (SELECT doc_id, CASE
        |    WHEN len(hl) = 0 THEN CAST([] AS BIGINT[])
        |    WHEN len(hl) < 8 THEN [list_min(hl)]
        |    ELSE list_sort(list_distinct(list_transform(range(1, len(hl)-8+2),
        |      j -> list_min(list_slice(hl, CAST(j AS INT), CAST(j AS INT)+7)))))
        |  END AS fps FROM ha),
        |sfx AS (SELECT doc_id, UNNEST(fps) AS fp FROM ms),
        |rare AS (SELECT fp FROM sfx GROUP BY fp HAVING COUNT(*) <= 20),
        |pr AS (SELECT f.doc_id, f.fp FROM sfx f JOIN rare r ON f.fp = r.fp),
        |aex AS (SELECT doc_id, UNNEST(fps) AS fp FROM ma),
        |cand AS (SELECT a.doc_id AS new_id, p.doc_id AS id,
        |    COUNT(*)::BIGINT AS n_shared
        |  FROM aex a JOIN pr p ON a.fp = p.fp
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |ver AS (SELECT c.new_id, c.id, c.n_shared,
        |    len(list_intersect(a.fps, s.fps)) AS n_inter,
        |    len(a.fps) + len(s.fps) - len(list_intersect(a.fps, s.fps)) AS n_union
        |  FROM cand c JOIN ma a ON a.doc_id = c.new_id
        |    JOIN ms s ON s.doc_id = c.id)
        |SELECT new_id, id AS dup_of, n_shared, n_inter, n_union
        |FROM ver WHERE 100 * n_inter >= 50 * n_union
        |ORDER BY new_id, dup_of""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val store = docs.filter(col("doc_id") < 150).select("doc_id", "text")
      val arrivals = docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 10000).as("doc_id"),
          concat(lit("edited preamble xyzzy "), col("text")).as("text"))
        .unionAll(docs.filter(col("doc_id") >= 150 && col("doc_id") < 180)
          .select("doc_id", "text"))
      val (sets, rare) = Text.winnowIndex(store, "doc_id", "text",
        k = 5, w = 8, maxDf = 20)
      Text.winnowGateFromIndex(arrivals, "doc_id", "text", sets, rare,
          k = 5, w = 8, minShared = 3, minJacPct = 50)
        .orderBy("new_id", "dup_of")
    },

    // MinHash-LSH S-curve calibration: empirical band-collision rate by
    // EXACT Jaccard decile, over a bounded calibration sample (120 docs
    // + 40 injected edited copies to populate the high-similarity tail
    // — the corpus has no organic near-dups at this SF). This is the
    // measurement that justifies a (bands, rows) choice before a corpus
    // run: the curve should be ~0 in low deciles and ~1 in high ones,
    // with the knee near (1/b)^(1/r). Every number is count-exact: the
    // Jaccard bucket is INTEGER arithmetic (i*10 div union, capped at
    // 9 — no FP floor tie can flip a decile), collisions are distinct
    // band-bucket pair counts, and only the final rate is rounded.
    // Scale shape: the all-pairs Jaccard is rows²-by-design ON THE
    // 160-DOC SAMPLE ONLY (calibration never touches the corpus; the
    // guard is the doc_id predicate) — the production dedup path stays
    // the banded bucket join this query exists to parameterize. The
    // shingle table feeds three consumers (both pair sides + the
    // signature pipeline), so it is persisted (released by the
    // per-query Measure.releaseAll).
    Q("dedup_lsh_scurve",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 120
        |  UNION ALL
        |  SELECT doc_id + 20000, 'edited copy intro ' || text
        |  FROM documents WHERE doc_id < 40),
        |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(ws[i:i+3], ' ')
        |     FOR i IN generate_series(1, greatest(len(ws) - 3, 1))])) AS s
        |  FROM w),
        |n AS (SELECT doc_id, COUNT(*)::BIGINT AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*)::BIGINT AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |comp AS (SELECT doc_id, j,
        |    MIN(('0x' || substr(md5(j::VARCHAR || ' ' || s), 1, 15))::BIGINT) AS c
        |  FROM sh CROSS JOIN generate_series(0, 15) AS g(j) GROUP BY doc_id, j),
        |sig AS (SELECT doc_id, list(c ORDER BY j) AS cs FROM comp GROUP BY doc_id),
        |banded AS (SELECT doc_id, j,
        |    md5(array_to_string(cs[j*4+1 : j*4+4], ',')) AS bh
        |  FROM sig CROSS JOIN generate_series(0, 3) AS g(j)),
        |coll AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2 FROM banded a
        |  JOIN banded b ON a.j = b.j AND a.bh = b.bh AND a.doc_id < b.doc_id),
        |pairs AS (SELECT na.doc_id AS d1, nb.doc_id AS d2,
        |    LEAST(9, (COALESCE(i.i, 0) * 10)
        |      // (na.n + nb.n - COALESCE(i.i, 0))) AS bucket,
        |    CASE WHEN c.d1 IS NULL THEN 0 ELSE 1 END AS hit
        |  FROM n na JOIN n nb ON na.doc_id < nb.doc_id
        |  LEFT JOIN inter i ON i.d1 = na.doc_id AND i.d2 = nb.doc_id
        |  LEFT JOIN coll c ON c.d1 = na.doc_id AND c.d2 = nb.doc_id)
        |SELECT bucket, COUNT(*)::BIGINT AS n_pairs,
        |  SUM(hit)::BIGINT AS n_collide,
        |  ROUND(CAST(SUM(hit) AS DOUBLE) / COUNT(*), 4) AS rate
        |FROM pairs GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") < 120).select("doc_id", "text")
        .unionByName(docs.filter(col("doc_id") < 40)
          .select((col("doc_id") + 20000).as("doc_id"),
            concat(lit("edited copy intro "), col("text")).as("text")))
      val sh = corpus
        .select(col("doc_id"), array_distinct(graft.functions.GraftExtensions
          .shingles(split(col("text"), " ", -1), 4)).as("sh"))
        .transform(graft.core.Measure.cacheOnce)
      // exact Jaccard over all sample pairs: array intersection on the
      // persisted shingle arrays (no exploded self-join re-derivation)
      val a = sh.select(col("doc_id").as("d1"), col("sh").as("sh1"))
      val b = sh.select(col("doc_id").as("d2"), col("sh").as("sh2"))
      val pairs = a.join(b, col("d1") < col("d2"))
        .select(col("d1"), col("d2"),
          size(array_intersect(col("sh1"), col("sh2"))).cast("long").as("i"),
          (size(col("sh1")) + size(col("sh2"))).cast("long").as("nn"))
        .select(col("d1"), col("d2"),
          least(lit(9L), expr("(i * 10) div (nn - i)")).as("bucket"))
      // 16 md5 minhash components -> 4 bands x 4 rows -> collision pairs
      val comps = (0 until 16).map { j =>
        aggregate(col("sh"), lit(Long.MaxValue), (acc, sgl) =>
          least(acc, conv(substring(md5(concat(lit(s"$j "), sgl)), 1, 15), 16, 10)
            .cast("long")))
      }
      val sig = sh.select(col("doc_id"), array(comps: _*).as("cs"))
      val banded = sig.select(col("doc_id"), posexplode(
          transform(sequence(lit(0), lit(3)), j =>
            md5(concat_ws(",", transform(slice(col("cs"), j * 4 + 1, lit(4)),
              c => c.cast("string")))))).as(Seq("j", "bh")))
        .transform(graft.core.Measure.cacheOnce)
      val coll = banded.select(col("j"), col("bh"), col("doc_id").as("d1"))
        .join(banded.select(col("j"), col("bh"), col("doc_id").as("d2")),
          Seq("j", "bh"))
        .filter(col("d1") < col("d2"))
        .select("d1", "d2").distinct()
        .withColumn("hit", lit(1L))
      pairs.join(coll, Seq("d1", "d2"), "left")
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_pairs"),
          sum(coalesce(col("hit"), lit(0L))).as("n_collide"),
          round(sum(coalesce(col("hit"), lit(0L))).cast("double") /
            count(lit(1)), 4).as("rate"))
        .orderBy("bucket")
    },

    // Document fingerprint (md5 of normalized text) — the exact-dedup key.
    Q("t_fingerprint",
      """SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text),
        |  '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },

    // Exact deduplication stats via fingerprint groupBy.
    Q("dedup_exact",
      """WITH f AS (SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp FROM documents)
        |SELECT COUNT(*) AS n_docs, COUNT(DISTINCT fp) AS n_distinct,
        |  COUNT(*) - COUNT(DISTINCT fp) AS n_exact_dups
        |FROM f""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .select(Text.fingerprint(col("text")).as("fp"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_distinct"),
          (count(lit(1)) - countDistinct(col("fp"))).as("n_exact_dups"))
    },

    // N-gram (word-set) Jaccard between adjacent doc pairs — the exact
    // similarity the MinHash estimate approximates.
    Q("t_ngram_jaccard",
      """WITH w AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  ROUND(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.ws, b.ws))), 4) AS jac
        |FROM w a JOIN w b ON b.doc_id = a.doc_id + 1
        |ORDER BY id_a""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ", -1).as("ws"))
      val a = d.select(col("doc_id").as("id_a"), col("ws").as("wa"))
      val b = d.select((col("doc_id") - 1).as("id_a"), col("doc_id").as("id_b"),
        col("ws").as("wb"))
      a.join(b, "id_a")
        .select(col("id_a"), col("id_b"),
          round(Text.jaccard(col("wa"), col("wb")), 4).as("jac"))
        .orderBy("id_a")
    },

    // Shingle-join near-dup candidates: docs sharing >= 3 distinct 8-gram
    // shingles. The inverted-index form of near-dup detection — the
    // exact counterpart MinHash-LSH approximates with fewer comparisons.
    Q("dedup_shingle_candidates",
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct([array_to_string(ws[i:i+7], ' ')
        |    FOR i IN generate_series(1, greatest(len(ws) - 7, 1))])) AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
        |FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 3 ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      // per-shingle doc lists + in-array combinations: one computation of
      // the shingle explode instead of two join-side copies; identical
      // result to the self-join formulation in the oracle
      val sh = Tables.fannedOut(s, dir, "documents")
        .select(col("doc_id"),
          explode(array_distinct(
            Text.wordShingles(split(col("text"), " ", -1), 8))).as("shingle"))
      val lists = sh.groupBy("shingle")
        .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
        .filter(size(col("ids")) > 1)
      val pairs = flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + 2, size(col("ids"))),
          y => struct(x.as("id_a"), y.as("id_b")))))
      lists.select(explode(pairs).as("p"))
        .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
        .orderBy("id_a", "id_b")
    },

    // SimHash candidate PAIRS with Hamming verification, fully oracled
    // via the portable md5 hash family: corpus + near-identical twins
    // (one appended token) → 60-bit simhash → 12-bit prefix buckets →
    // in-bucket pairs with hamming <= 8. The ONE registry certifier of
    // the whole SimHash dedup path since round 16: the oracle
    // re-derives the per-bit ±1 majority-vote signatures itself; the
    // xxhash64 SimHash family's Hamming properties are pinned in
    // TextSpec. Pairs form inside
    // buckets only — the bucket groupBy is the one shuffle, no
    // all-pairs at any scale.
    Q("dedup_simhash_pairs_md5",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 150
        |  UNION ALL
        |  SELECT doc_id + 10000, text || ' extra' FROM documents
        |  WHERE doc_id < 150),
        |tok AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |        FROM corpus)),
        |bits AS (SELECT doc_id, j,
        |    CASE WHEN SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) >= 0
        |      THEN (1::BIGINT << j) ELSE 0 END AS b
        |  FROM tok CROSS JOIN generate_series(0, 59) AS g(j)
        |  GROUP BY doc_id, j),
        |shs AS (SELECT doc_id, SUM(b)::BIGINT AS sh FROM bits GROUP BY doc_id),
        |b AS (SELECT doc_id, sh, sh >> 48 AS bucket FROM shs)
        |SELECT a.doc_id AS id_a, c.doc_id AS id_b,
        |  bit_count(xor(a.sh, c.sh)) AS ham
        |FROM b a JOIN b c ON a.bucket = c.bucket AND a.doc_id < c.doc_id
        |WHERE bit_count(xor(a.sh, c.sh)) <= 8
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      val base = Tables(s, dir, "documents")
        .filter(col("doc_id") < 150).select(col("doc_id"), col("text"))
      val twins = base.select((col("doc_id") + 10000).as("doc_id"),
        concat(col("text"), lit(" extra")).as("text"))
      val sigs = base.unionByName(twins)
        .select(col("doc_id"),
          transform(split(col("text"), " ", -1),
            t => conv(substring(md5(t), 1, 15), 16, 10).cast("long")).as("th"))
        .select(col("doc_id"),
          graft.functions.GraftExtensions.simhash64(col("th")).as("sh"))
        .withColumn("bucket", shiftrightunsigned(col("sh"), 48))
      // pairs within each bucket via in-array combinations (one shuffle,
      // no self-join recompute of the signature pipeline)
      val buckets = sigs.groupBy("bucket")
        .agg(sort_array(collect_list(struct(col("doc_id"), col("sh"))))
          .as("ms"))
        .filter(size(col("ms")) > 1)
      val pairFan = flatten(transform(col("ms"), (x, i) =>
        transform(slice(col("ms"), i + 2, size(col("ms"))), y =>
          struct(x.getField("doc_id").as("id_a"),
            y.getField("doc_id").as("id_b"),
            Text.hammingDistance(x.getField("sh"), y.getField("sh"))
              .as("ham")))))
      buckets.select(explode(pairFan).as("p"))
        .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
          col("p.ham").as("ham"))
        .filter(col("ham") <= 8)
        .orderBy("id_a", "id_b")
    },

    // MinHash with the portable md5 family: component j = min over
    // distinct 4-gram shingles of hash(j, shingle) — the operator's full
    // signature semantics (shingling included) hash-checked against SQL.
    Q("dedup_minhash_md5",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents WHERE doc_id < 100),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(ws[i:i+3], ' ')
        |     FOR i IN generate_series(1, greatest(len(ws) - 3, 1))])) AS s
        |  FROM w)
        |SELECT doc_id, j,
        |  MIN(('0x' || substr(md5(j::VARCHAR || ' ' || s), 1, 15))::BIGINT) AS comp
        |FROM sh CROSS JOIN generate_series(0, 15) AS g(j)
        |GROUP BY doc_id, j ORDER BY doc_id, j""".stripMargin) { (s, dir) =>
      val comps = (0 until 16).map { j =>
        aggregate(col("sh"), lit(Long.MaxValue), (acc, sgl) =>
          least(acc, conv(substring(md5(concat(lit(s"$j "), sgl)), 1, 15), 16, 10)
            .cast("long")))
      }
      Tables(s, dir, "documents")
        .filter(col("doc_id") < 100)
        // materialize the shingle array BEFORE the 16 aggregates (CSE rule)
        .select(col("doc_id"), array_distinct(graft.functions.GraftExtensions
          .shingles(split(col("text"), " ", -1), 4)).as("sh"))
        .select(col("doc_id"), posexplode(array(comps: _*)).as(Seq("j", "comp")))
        .orderBy("doc_id", "j")
    },

    // End-to-end corpus curation — the composed pipeline a training-data
    // run executes, as ONE query: quality gate (Gopher-style heuristics)
    // → exact dedup (min-doc_id keeper per fingerprint, among quality
    // survivors) → MinHash-LSH near-dup drop (16 md5 components, 4 bands
    // × 4 rows; a doc sharing any band bucket with a smaller quality
    // doc_id is dropped) → per-language attrition report. Every stage
    // must agree with the independent DuckDB twin for the hash to match:
    // langid argmax, quality cut, fingerprint keeper choice, shingling,
    // signature, banding, drop policy, and the conditional final counts.
    // Scale shape: per-doc expressions + one fp window + one band
    // groupBy + one anti-join-style flag join + one final agg — no
    // all-pairs anywhere (the LSH bucket join is the 100 TB dedup path).
    // The signature branch hangs off the QUALITY gate, not the exact-dedup
    // window: exact duplicates have identical signatures, so a dup group's
    // keeper is still the min of its own buckets and survives — and the
    // fingerprint window + langid then execute exactly once, keeping the
    // second pass over the corpus down to split + quality metrics +
    // signatures (the dominant cost regardless).
    Q("pipe_curation",
      """WITH m AS (SELECT doc_id,
        |    len(string_split(text, ' ')) AS nt,
        |    string_split(text, ' ') AS ws,
        |    CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
        |      / len(string_split(text, ' ')) AS atl,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS sr,
        |    md5(trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp,
        |    (length(text) - length(replace(text,'data','')))/4
        |      + (length(text) - length(replace(text,'table','')))/5
        |      + (length(text) - length(replace(text,'row','')))/3 AS s1,
        |    (length(text) - length(replace(text,'query','')))/5
        |      + (length(text) - length(replace(text,'filter','')))/6
        |      + (length(text) - length(replace(text,'join','')))/4 AS s2,
        |    (length(text) - length(replace(text,'stream','')))/6
        |      + (length(text) - length(replace(text,'batch','')))/5
        |      + (length(text) - length(replace(text,'window','')))/6 AS s3
        |  FROM documents),
        |base AS (SELECT doc_id, nt, ws, fp,
        |    CASE WHEN s3 > s1 AND s3 > s2 THEN 'streamish'
        |      WHEN s2 > s1 THEN 'queryish' ELSE 'dataish' END AS pred_lang,
        |    (nt >= 10 AND atl BETWEEN 2.0 AND 12.0 AND sr <= 0.5) AS q_keep
        |  FROM m),
        |ex AS (SELECT *, q_keep AND doc_id = MIN(CASE WHEN q_keep THEN doc_id END)
        |    OVER (PARTITION BY fp) AS keep_exact FROM base),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(ws[i:i+3], ' ')
        |     FOR i IN generate_series(1, greatest(len(ws) - 3, 1))])) AS s
        |  FROM base WHERE q_keep),
        |comp AS (SELECT doc_id, j,
        |    MIN(('0x' || substr(md5(j::VARCHAR || ' ' || s), 1, 15))::BIGINT) AS c
        |  FROM sh CROSS JOIN generate_series(0, 15) AS g(j) GROUP BY doc_id, j),
        |sig AS (SELECT doc_id, list(c ORDER BY j) AS cs FROM comp GROUP BY doc_id),
        |banded AS (SELECT doc_id, j,
        |    md5(array_to_string(cs[j*4+1 : j*4+4], ',')) AS bh
        |  FROM sig CROSS JOIN generate_series(0, 3) AS g(j)),
        |dropped AS (SELECT DISTINCT b.doc_id FROM banded b
        |  JOIN banded a ON a.j = b.j AND a.bh = b.bh AND a.doc_id < b.doc_id)
        |SELECT pred_lang, COUNT(*) AS n_raw,
        |  SUM(CASE WHEN q_keep THEN 1 ELSE 0 END)::BIGINT AS n_quality,
        |  SUM(CASE WHEN keep_exact THEN 1 ELSE 0 END)::BIGINT AS n_after_exact,
        |  SUM(CASE WHEN keep_exact AND d.doc_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_final,
        |  SUM(CASE WHEN keep_exact AND d.doc_id IS NULL THEN nt ELSE 0 END)::BIGINT AS sum_tokens_final
        |FROM ex LEFT JOIN dropped d ON ex.doc_id = d.doc_id
        |GROUP BY pred_lang ORDER BY pred_lang""".stripMargin) { (s, dir) =>
      graft.ops.Curation.report(graft.ops.Curation.flags(
        Tables.fannedOut(s, dir, "documents"), "doc_id", "text",
        stopwords, langMarkers, shingleK = 4, numHashes = 16, bands = 4))
    },

    // FLAGSHIP END-TO-END: raw corpus → packed training bins in ONE
    // oracled plan — the complete pretraining-data pipeline a user of
    // this engine actually runs. Quality gate → exact-dedup keeper →
    // MinHash-LSH near-dup drop (the pipe_curation chain) → bigram-LM
    // perplexity scoring TRAINED ON THE SURVIVORS → drop the worst
    // tercile (CCNet tail) → prefix-sum pack the kept docs into
    // 4096-token bins. Any drift in any stage shifts bin membership and
    // hash-mismatches. Scale notes: each stage is the already-audited
    // shape (flags: one fingerprint window + band groupBy; LM:
    // vocab-bounded model + hashed scoring join; pack: two-phase prefix
    // sum); the global tercile is the oracle-able exact form — at real
    // corpus scale the cut comes from approxQuantile thresholds, the
    // pipe_ppl_buckets note.
    Q("pipe_pretrain_e2e",
      """WITH m AS (SELECT doc_id,
        |    len(string_split(text, ' ')) AS nt,
        |    string_split(text, ' ') AS ws,
        |    CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
        |      / len(string_split(text, ' ')) AS atl,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS sr,
        |    md5(trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp
        |  FROM documents),
        |base AS (SELECT doc_id, nt, ws, fp,
        |    (nt >= 10 AND atl BETWEEN 2.0 AND 12.0 AND sr <= 0.5) AS q_keep
        |  FROM m),
        |ex AS (SELECT *, q_keep AND doc_id = MIN(CASE WHEN q_keep THEN doc_id END)
        |    OVER (PARTITION BY fp) AS keep_exact FROM base),
        |shg AS (SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(ws[i:i+3], ' ')
        |     FOR i IN generate_series(1, greatest(len(ws) - 3, 1))])) AS s
        |  FROM base WHERE q_keep),
        |comp AS (SELECT doc_id, j,
        |    MIN(('0x' || substr(md5(j::VARCHAR || ' ' || s), 1, 15))::BIGINT) AS c
        |  FROM shg CROSS JOIN generate_series(0, 15) AS g(j) GROUP BY doc_id, j),
        |sig AS (SELECT doc_id, list(c ORDER BY j) AS cs FROM comp GROUP BY doc_id),
        |banded AS (SELECT doc_id, j,
        |    md5(array_to_string(cs[j*4+1 : j*4+4], ',')) AS bh
        |  FROM sig CROSS JOIN generate_series(0, 3) AS g(j)),
        |dropped AS (SELECT DISTINCT b.doc_id FROM banded b
        |  JOIN banded a ON a.j = b.j AND a.bh = b.bh AND a.doc_id < b.doc_id),
        |surv AS (SELECT ex.doc_id, ex.nt FROM ex
        |  LEFT JOIN dropped d ON ex.doc_id = d.doc_id
        |  WHERE keep_exact AND d.doc_id IS NULL),
        |t AS (SELECT d.doc_id, string_split(d.text, ' ') AS toks
        |  FROM documents d JOIN surv USING (doc_id)),
        |bg AS (SELECT doc_id, toks[i] AS a, toks[i + 1] AS b2
        |  FROM (SELECT doc_id, toks,
        |      unnest(generate_series(1, len(toks) - 1)) AS i FROM t)),
        |dt AS (SELECT doc_id, a, b2, COUNT(*)::BIGINT AS n FROM bg
        |  GROUP BY 1, 2, 3),
        |c2 AS (SELECT a, b2, SUM(n)::BIGINT AS n2 FROM dt GROUP BY a, b2),
        |c1 AS (SELECT a, SUM(n2)::BIGINT AS n1 FROM c2 GROUP BY a),
        |vv AS (SELECT COUNT(DISTINCT tok) AS v FROM
        |  (SELECT a AS tok FROM c2 UNION SELECT b2 FROM c2)),
        |nl AS (SELECT dt.doc_id,
        |    ROUND(-(SUM(n * LN(CAST(c2.n2 + 1 AS DOUBLE)
        |      / (c1.n1 + (SELECT v FROM vv)))) / SUM(n)), 4) AS nll
        |  FROM dt JOIN c2 USING (a, b2) JOIN c1 USING (a)
        |  GROUP BY dt.doc_id),
        |kept AS (SELECT s.doc_id, s.nt FROM surv s JOIN nl USING (doc_id)
        |  QUALIFY NTILE(3) OVER (ORDER BY nl.nll, s.doc_id) <= 2),
        |cc AS (SELECT doc_id, nt,
        |    SUM(nt) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM kept),
        |bb AS (SELECT CAST(floor((cum - nt) / 4096.0) AS BIGINT) AS bin, nt
        |  FROM cc)
        |SELECT bin, COUNT(*)::BIGINT AS n_docs, SUM(nt)::BIGINT AS sum_tokens
        |FROM bb GROUP BY bin ORDER BY bin""".stripMargin) { (s, dir) =>
      val docs = Tables.fannedOut(s, dir, "documents")
      val flagged = graft.ops.Curation.flags(docs, "doc_id", "text",
        stopwords, langMarkers, shingleK = 4, numHashes = 16, bands = 4)
      val surv = flagged
        .filter(col("keep_exact") && col("is_dropped").isNull)
        .select("doc_id", "nt")
      val nll = Text.bigramNll(
        docs.join(surv.select("doc_id"), "doc_id"), "doc_id", "text")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(0)).orderBy(col("nll"), col("doc_id"))
      // localCheckpoint before the pack: prefixSum's two phases re-read
      // their input, and the upstream plan carries flags()' EvalBarrier
      // (deliberately nondeterministic to pin filter order) — the guard
      // demands a materialized input, which is also the right call at
      // scale (doc-count-sized rows, re-read twice)
      val kept = surv.join(nll.select("doc_id", "nll"), "doc_id")
        .withColumn("terc", ntile(3).over(w))
        .filter(col("terc") <= 2)
        .select("doc_id", "nt")
        .localCheckpoint()
      graft.ops.Relational.prefixSum(kept, "doc_id", "nt", "cum")
        .withColumn("bin",
          floor((col("cum") - col("nt")) / 4096.0).cast("long"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"), sum("nt").as("sum_tokens"))
        .orderBy("bin")
    },

    // Duplicate CLUSTERS from candidate pairs: connected components over
    // the shingle-candidate graph (alternating large-star/small-star,
    // O(log n) shuffle rounds — ops.Graph), labeled by the component's
    // min doc_id = the kept representative. The oracle recomputes the
    // same components with a recursive CTE (min reachable id), fully
    // independent of the star algorithm.
    Q("dedup_cc_clusters",
      """WITH RECURSIVE
        |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |  WHERE doc_id < 500),
        |sh AS (SELECT doc_id, unnest(list_distinct([array_to_string(ws[i:i+7], ' ')
        |    FOR i IN generate_series(1, greatest(len(ws) - 7, 1))])) AS shingle
        |  FROM w),
        |e AS (SELECT a.doc_id AS ua, b.doc_id AS vb FROM sh a JOIN sh b
        |  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |edges AS (SELECT ua AS u, vb AS v FROM e UNION SELECT vb, ua FROM e),
        |reach(id, r) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
        |  UNION
        |  SELECT ed.v, re.r FROM reach re JOIN edges ed ON ed.u = re.id),
        |comp AS (SELECT id AS doc_id, MIN(r) AS cluster FROM reach GROUP BY id)
        |SELECT c.doc_id, c.cluster, s.cluster_size,
        |  c.doc_id = c.cluster AS is_keeper
        |FROM comp c JOIN (SELECT cluster, COUNT(*) AS cluster_size
        |  FROM comp GROUP BY cluster) s USING (cluster)
        |ORDER BY c.doc_id""".stripMargin) { (s, dir) =>
      // bounded corpus slice (= the whole corpus at the correctness SFs,
      // so this query's cost stays flat on the scale fixture)
      val sh = Tables.fannedOut(s, dir, "documents")
        .filter(col("doc_id") < 500)
        .select(col("doc_id"),
          explode(array_distinct(
            Text.wordShingles(split(col("text"), " ", -1), 8))).as("shingle"))
      val lists = sh.groupBy("shingle")
        .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
        .filter(size(col("ids")) > 1)
      val pairFan = flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + 2, size(col("ids"))),
          y => struct(x.as("id_a"), y.as("id_b")))))
      val pairs = lists.select(explode(pairFan).as("p"))
        .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
      graft.ops.Graph.connectedComponents(pairs, "id_a", "id_b")
        .withColumn("cluster_size",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy("cluster")))
        .select(col("node").as("doc_id"), col("cluster"), col("cluster_size"),
          (col("node") === col("cluster")).as("is_keeper"))
        .orderBy("doc_id")
    },

    // Decontamination: flag corpus documents that share any 8-gram with a
    // held-out benchmark set (the GPT-3-style n-gram overlap rule). The
    // benchmark shingle set is tiny relative to the corpus, so the Spark
    // plan BROADCASTS it — the corpus-side scan never shuffles; at 100 TB
    // this is a map-only pass.
    // Per-BENCHMARK-ITEM contamination report — the eval-side
    // complement of t_decontaminate's corpus-side flags (the GPT-3/PaLM
    // appendix-style analysis: which eval items are burned, by how many
    // training docs, over how many discriminative n-grams). Corpus
    // gains injected leaked copies of bench items (id+20000, suffixed)
    // so the report has real volume to certify; the maxDf cut keeps
    // only DISCRIMINATIVE shingles — boilerplate n-grams carry no
    // contamination signal, and the cut is the shingle-join's skew
    // guard (≤ maxDf² fan-out per key at any corpus size, the
    // t_containment rationale).
    Q("t_decontaminate_report",
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
        |inj AS (SELECT doc_id + 20000 AS doc_id,
        |    text || ' leaked benchmark copy' AS text
        |  FROM base WHERE doc_id % 13 = 0 AND doc_id < 100),
        |allx AS (SELECT * FROM base UNION ALL SELECT * FROM inj),
        |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM allx),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(ws[i:i+7], ' ')
        |     FOR i IN generate_series(1, greatest(len(ws) - 7, 1))]))
        |    AS shingle FROM w),
        |rare AS (SELECT shingle FROM sh GROUP BY shingle
        |  HAVING COUNT(DISTINCT doc_id) <= 20),
        |pr AS (SELECT s.doc_id, s.shingle FROM sh s JOIN rare USING (shingle)),
        |b AS (SELECT doc_id AS bench_id, shingle FROM pr
        |  WHERE doc_id < 20000 AND doc_id % 13 = 0),
        |c AS (SELECT doc_id, shingle FROM pr
        |  WHERE doc_id >= 20000 OR doc_id % 13 <> 0)
        |SELECT b.bench_id, COUNT(DISTINCT c.doc_id) AS n_contaminating_docs,
        |  COUNT(DISTINCT shingle) AS n_shared_shingles
        |FROM b JOIN c USING (shingle)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val base = docs.filter(col("doc_id") < 300).select("doc_id", "text")
      val injected = base
        .filter(col("doc_id") % 13 === 0 && col("doc_id") < 100)
        .select((col("doc_id") + 20000).as("doc_id"),
          concat(col("text"), lit(" leaked benchmark copy")).as("text"))
      val sh = base.unionAll(injected)
        .select(col("doc_id"), explode(array_distinct(
          Text.wordShingles(split(col("text"), " ", -1), 8))).as("shingle"))
      val rare = sh.groupBy("shingle")
        .agg(countDistinct("doc_id").as("df"))
        .filter(col("df") <= 20).select("shingle")
      val pr = sh.join(rare, "shingle")
      val bench = pr.filter(col("doc_id") < 20000 && col("doc_id") % 13 === 0)
        .select(col("doc_id").as("bench_id"), col("shingle"))
      val corp = pr.filter(col("doc_id") >= 20000 || col("doc_id") % 13 =!= 0)
      bench.join(corp, "shingle")
        .groupBy("bench_id")
        .agg(countDistinct("doc_id").as("n_contaminating_docs"),
          countDistinct("shingle").as("n_shared_shingles"))
        .orderBy("bench_id")
    },

    Q("t_decontaminate", decontaminateOracle) { (s, dir) =>
      val docs = Tables.fannedOut(s, dir, "documents")
      val sh = docs.select(col("doc_id"), col("lang"),
        explode(array_distinct(
          Text.wordShingles(split(col("text"), " ", -1), 8))).as("shingle"))
      val bench = sh.filter(col("doc_id") % 13 === 0)
        .select(col("shingle")).distinct()
      val hits = sh.filter(col("doc_id") % 13 =!= 0)
        .join(broadcast(bench), "shingle")
        .select(col("doc_id")).distinct()
        .withColumn("hit", lit(1))
      // hits grows with corpus contamination — shuffle join, not broadcast
      docs.filter(col("doc_id") % 13 =!= 0)
        .join(hits, Seq("doc_id"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_corpus"),
          sum(coalesce(col("hit"), lit(0))).as("n_contaminated"))
        .orderBy("lang")
    },

    // Bloom-prefiltered decontamination — identical semantics (and oracle)
    // to `t_decontaminate`, the other scale regime: when the held-out
    // benchmark union outgrows a broadcastable shingle set (hundreds of
    // eval suites at 100 TB), ship a fixed-size Bloom filter (~256 KB
    // here) instead. The corpus-side scan stays map-only — the bloom test
    // is a codegen'd predicate on xxhash64 — and only bloom SURVIVORS
    // (true hits + the fp-rate ε) reach the exact-verify shuffle join
    // that removes false positives, so that shuffle is hit-sized, not
    // corpus-sized. No false negatives by construction → byte-identical
    // output to the exact form (TextSpec pins the survivor superset).
    Q("t_decontaminate_bloom", decontaminateOracle) { (s, dir) =>
      val docs = Tables.fannedOut(s, dir, "documents")
      val sh = docs.select(col("doc_id"), col("lang"),
        explode(array_distinct(
          Text.wordShingles(split(col("text"), " ", -1), 8))).as("shingle"))
      val bench = sh.filter(col("doc_id") % 13 === 0).select("shingle")
      val bloom = Text.bloomBytes(bench, "shingle",
        expectedItems = 1L << 18, numBits = 1L << 21)
      val survivors = sh.filter(col("doc_id") % 13 =!= 0)
        .filter(Text.bloomMightContain(bloom, col("shingle")))
      // exact verify drops bloom false positives. Join strategy stays the
      // optimizer's size-driven choice: broadcast at test scale, shuffle
      // when the bench union outgrows it — either way the probe side
      // arriving here is bloom-pruned to hits+ε, not the whole corpus
      val hits = survivors.join(bench.distinct(), "shingle")
        .select("doc_id").distinct().withColumn("hit", lit(1))
      docs.filter(col("doc_id") % 13 =!= 0)
        .join(hits, Seq("doc_id"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_corpus"),
          sum(coalesce(col("hit"), lit(0))).as("n_contaminated"))
        .orderBy("lang")
    },

    // TF-IDF: top-3 terms per document by tf·ln(N/df), deterministic
    // tie-break (score desc, term asc). Two shuffles — the df groupBy and
    // the per-doc top-k window — both on natural keys; document counts
    // broadcast as a scalar subquery, nothing collects to the driver.
    Q("t_tfidf",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM documents WHERE doc_id < 200),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        |n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tok),
        |scored AS (SELECT tf.doc_id, tf.term,
        |    ROUND(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 4) AS tfidf,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf * ln(CAST(n.n AS DOUBLE) / df.df) DESC, tf.term)
        |      AS rk
        |  FROM tf JOIN df USING (term) CROSS JOIN n)
        |SELECT doc_id, term, tfidf, rk FROM scored WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin) { (s, dir) =>
      // routed through ops.Text.tfidf, the reusable form
      Text.tfidf(Tables(s, dir, "documents").filter(col("doc_id") < 200),
          "doc_id", "text", topK = 3)
        .orderBy("doc_id", "rk")
    },

    // The composed near-dup path end-to-end, fully oracled: portable-md5
    // MinHash-LSH candidate pairs → connected components → best-member
    // representative (longest doc wins, ties to the smaller id) — the
    // "cluster then keep one" flow a production dedup run executes, with
    // the DuckDB twin recomputing pairs from the same hash family and
    // components via recursive reachability. Scale: bucket-joined pairs,
    // O(log n) CC rounds, one window for the keeper — no all-pairs.
    Q("dedup_near_e2e",
      """WITH RECURSIVE
        |w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents WHERE doc_id < 400),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(ws[i:i+3], ' ')
        |     FOR i IN generate_series(1, greatest(len(ws) - 3, 1))])) AS s
        |  FROM w),
        |comp AS (SELECT doc_id, j,
        |    MIN(('0x' || substr(md5(j::VARCHAR || ' ' || s), 1, 15))::BIGINT) AS c
        |  FROM sh CROSS JOIN generate_series(0, 15) AS g(j) GROUP BY doc_id, j),
        |sig AS (SELECT doc_id, list(c ORDER BY j) AS cs FROM comp GROUP BY doc_id),
        |banded AS (SELECT doc_id, j,
        |    md5(array_to_string(cs[j*4+1 : j*4+4], ',')) AS bh
        |  FROM sig CROSS JOIN generate_series(0, 3) AS g(j)),
        |pairs AS (SELECT DISTINCT a.doc_id AS ua, b.doc_id AS vb
        |  FROM banded a JOIN banded b ON a.j = b.j AND a.bh = b.bh
        |    AND a.doc_id < b.doc_id),
        |edges AS (SELECT ua AS u, vb AS v FROM pairs
        |  UNION SELECT vb, ua FROM pairs),
        |reach(id, r) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
        |  UNION
        |  SELECT ed.v, re.r FROM reach re JOIN edges ed ON ed.u = re.id),
        |cc AS (SELECT id AS doc_id, MIN(r) AS cluster FROM reach GROUP BY id),
        |scored AS (SELECT c.doc_id, c.cluster, len(w.ws) AS nt
        |  FROM cc c JOIN w USING (doc_id)),
        |reps AS (SELECT cluster, doc_id AS keeper, nt AS keeper_tokens,
        |    row_number() OVER (PARTITION BY cluster
        |      ORDER BY nt DESC, doc_id) AS rk
        |  FROM scored)
        |SELECT r.cluster, s.cluster_size, r.keeper, r.keeper_tokens
        |FROM reps r JOIN (SELECT cluster, COUNT(*) AS cluster_size
        |  FROM cc GROUP BY cluster) s USING (cluster)
        |WHERE r.rk = 1 ORDER BY r.cluster""".stripMargin) { (s, dir) =>
      val docs = Tables.fannedOut(s, dir, "documents")
        .filter(col("doc_id") < 400)
      val pairs = graft.ops.Curation.mdCandidatePairs(docs, "doc_id", "text",
        shingleK = 4, numHashes = 16, bands = 4)
      val labeled = graft.ops.Graph.connectedComponents(pairs, "id_a", "id_b")
      val scored = labeled
        .join(docs.select(col("doc_id").as("node"),
          size(split(col("text"), " ", -1)).as("nt")), "node")
      val sizes = labeled.groupBy("cluster")
        .agg(count(lit(1)).as("cluster_size"))
      graft.ops.Graph.representatives(scored, "node", "cluster", "nt")
        .join(sizes, "cluster")
        .select(col("cluster"), col("cluster_size"),
          col("node").as("keeper"), col("nt").as("keeper_tokens"))
        .orderBy("cluster")
    },

    // PII redaction (emails → long digit runs → IPs) over text with
    // deterministically injected PII; the oracle applies the identical
    // portable-regex chain, so the full scrub agrees byte-for-byte
    // (compared via md5). Per-row regexp chain — map-only at any scale.
    Q("t_redact_pii",
      """SELECT doc_id, md5(
        |  regexp_replace(regexp_replace(regexp_replace(
        |    text || ' mail u' || doc_id::VARCHAR || '@example.com ip 10.0.'
        |      || (doc_id % 256)::VARCHAR || '.7 acct '
        |      || (doc_id + 1000000)::VARCHAR,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
        |    '[0-9]{7,}', '<NUM>', 'g')) AS red_md5
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val injected = concat(col("text"),
        lit(" mail u"), col("doc_id").cast("string"),
        lit("@example.com ip 10.0."), (col("doc_id") % 256).cast("string"),
        lit(".7 acct "), (col("doc_id") + 1000000L).cast("string"))
      Tables(s, dir, "documents")
        .filter(col("doc_id") < 300)
        .select(col("doc_id"),
          md5(Text.redact(injected, Text.defaultPiiRules)).as("red_md5"))
        .orderBy("doc_id")
    },

    // Duplicate-n-gram repetition ratio (Gopher/FineWeb repetition rule):
    // the text is doubled so the metric has signal on the synthetic
    // corpus; ratio and the >0.2 drop flag must match the SQL twin.
    Q("t_repetition",
      """WITH w AS (SELECT doc_id,
        |    string_split(text || ' ' || text, ' ') AS ws
        |  FROM documents WHERE doc_id < 300),
        |sh AS (SELECT doc_id, [array_to_string(ws[i:i+2], ' ')
        |    FOR i IN generate_series(1, greatest(len(ws) - 2, 1))] AS sh
        |  FROM w)
        |SELECT doc_id, len(sh) AS n_shingles,
        |  ROUND(1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh), 4)
        |    AS rep_ratio,
        |  (1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh)) > 0.2
        |    AS repetitive
        |FROM sh ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val ws = split(concat_ws(" ", col("text"), col("text")), " ", -1)
      val sh = Text.wordShingles(ws, 3)
      Tables(s, dir, "documents")
        .filter(col("doc_id") < 300)
        .select(col("doc_id"), sh.as("sh"))
        .select(col("doc_id"), size(col("sh")).as("n_shingles"),
          round(Text.repetitionRatioOfShingles(col("sh")), 4).as("rep_ratio"),
          (Text.repetitionRatioOfShingles(col("sh")) > 0.2).as("repetitive"))
        .orderBy("doc_id")
    },

    // Sequence packing: bin documents (in doc_id order) into fixed
    // 4096-token training sequences by running token offset — the
    // pretraining packing step. The running total uses the DISTRIBUTED
    // two-phase prefix sum (Relational.prefixSum: range partition +
    // per-partition cumsum + tiny offset table), not a single-partition
    // global window; the oracle recomputes it with a plain SUM OVER.
    Q("pipe_seq_pack",
      """WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS nt
        |    FROM documents),
        |c AS (SELECT doc_id, nt,
        |    SUM(nt) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t),
        |b AS (SELECT CAST(floor((cum - nt) / 4096.0) AS BIGINT) AS bin, nt
        |  FROM c)
        |SELECT bin, COUNT(*) AS n_docs, SUM(nt)::BIGINT AS sum_tokens,
        |  ROUND(SUM(nt) / 4096.0, 4) AS fill
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir, "documents")
        .select(col("doc_id"), size(split(col("text"), " ", -1)).as("nt"))
      graft.ops.Relational.prefixSum(t, "doc_id", "nt", "cum")
        .withColumn("bin",
          floor((col("cum") - col("nt")) / 4096.0).cast("long"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"), sum("nt").as("sum_tokens"),
          round(sum("nt") / 4096.0, 4).as("fill"))
        .orderBy("bin")
    },

    // Packing ASSEMBLY — the materialization step pipe_seq_pack plans:
    // each 4096-token bin's documents concatenate (doc_id order, single
    // separator) into the actual training sequence, hash-pinned. The
    // one data movement is the groupBy(bin) shuffle of the text — the
    // write-side movement packing requires anyway — and per-group state
    // is bounded by the bin budget plus one overflowing document, so
    // the collect_list can never exceed ~a sequence length. The oracle
    // re-assembles with an ordered string_agg; md5 agreement pins
    // membership, order, and separators byte-exactly.
    Q("pipe_pack_assemble",
      """WITH t AS (SELECT doc_id, text,
        |    len(string_split(text, ' ')) AS nt FROM documents),
        |c AS (SELECT doc_id, text, nt,
        |    SUM(nt) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t),
        |b AS (SELECT CAST(floor((cum - nt) / 4096.0) AS BIGINT) AS bin,
        |    doc_id, text, nt FROM c)
        |SELECT bin, COUNT(*)::BIGINT AS n_docs, SUM(nt)::BIGINT AS sum_tokens,
        |  md5(string_agg(text, ' ' ORDER BY doc_id)) AS seq_md5
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          size(split(col("text"), " ", -1)).as("nt"))
      graft.ops.Relational.prefixSum(t, "doc_id", "nt", "cum")
        .withColumn("bin",
          floor((col("cum") - col("nt")) / 4096.0).cast("long"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"), sum("nt").as("sum_tokens"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("doc_id"), col("text")))),
            _.getField("text")), " ")).as("seq_md5"))
        .orderBy("bin")
    },

    // Needle-in-a-haystack eval-data generation (round 15): the
    // long-context retrieval eval is MADE from the corpus — documents
    // pack into 4096-token contexts (the pipe_pack_assemble bins), and
    // each context gets one needle fact ("The magic number is <hash>")
    // spliced at a hash-chosen DOC BOUNDARY (slot k of n_docs+1, so
    // depth 0 = context start, 1 = end — the axis NIAH evals sweep),
    // with the answer key emitted alongside. Per-bin state is bounded
    // by the token budget (the pack_assemble contract); the splice is
    // one array expression. depth_frac uses the tie-proof
    // floor(x·10⁴+0.5)/10⁴ form: k/n is a small-integer ratio that CAN
    // land an exact binary 5 at the 5th decimal (1/32 = 0.03125), the
    // known decimal-vs-binary rounding trap.
    Q("pipe_needle_eval",
      """WITH t AS (SELECT doc_id, text,
        |    len(string_split(text, ' ')) AS nt FROM documents),
        |c AS (SELECT doc_id, text, nt,
        |    SUM(nt) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t),
        |b AS (SELECT CAST(floor((cum - nt) / 4096.0) AS BIGINT) AS bin,
        |    doc_id, text, nt FROM c),
        |g AS (SELECT bin, COUNT(*)::BIGINT AS n_docs,
        |    SUM(nt)::BIGINT AS sum_tokens,
        |    list(text ORDER BY doc_id) AS ds FROM b GROUP BY bin),
        |h AS (SELECT bin, n_docs, sum_tokens, ds,
        |    ('0x' || substr(md5('ndl:' || bin::VARCHAR), 1, 15))::BIGINT
        |      % (n_docs + 1) AS k,
        |    ('0x' || substr(md5('key:' || bin::VARCHAR), 1, 15))::BIGINT
        |      % 100000 AS answer
        |  FROM g)
        |SELECT bin, n_docs, sum_tokens, k AS needle_pos,
        |  FLOOR(k / n_docs::DOUBLE * 10000.0 + 0.5) / 10000.0
        |    AS depth_frac,
        |  answer,
        |  md5(array_to_string(
        |    ds[1:k] || ['The magic number is ' || answer::VARCHAR]
        |      || ds[k+1:len(ds)], ' ')) AS seq_md5
        |FROM h ORDER BY bin""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          size(split(col("text"), " ", -1)).as("nt"))
      val binned = graft.ops.Relational.prefixSum(t, "doc_id", "nt", "cum")
        .withColumn("bin",
          floor((col("cum") - col("nt")) / 4096.0).cast("long"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"), sum("nt").as("sum_tokens"),
          transform(array_sort(
            collect_list(struct(col("doc_id"), col("text")))),
            _.getField("text")).as("ds"))
      val k = Text.portableHash(
        concat(lit("ndl:"), col("bin").cast("string"))) % (col("n_docs") + 1)
      val answer = Text.portableHash(
        concat(lit("key:"), col("bin").cast("string"))) % 100000
      binned
        .withColumn("needle_pos", k)
        .withColumn("answer", answer)
        .select(col("bin"), col("n_docs"), col("sum_tokens"),
          col("needle_pos"),
          (floor(col("needle_pos") / col("n_docs").cast("double")
            * 10000.0 + 0.5) / 10000.0).as("depth_frac"),
          col("answer"),
          md5(array_join(concat(
            slice(col("ds"), lit(1), col("needle_pos").cast("int")),
            array(concat(lit("The magic number is "),
              col("answer").cast("string"))),
            slice(col("ds"),
              (col("needle_pos") + 1).cast("int"),
              (size(col("ds")) - col("needle_pos")).cast("int"))),
            " ")).as("seq_md5"))
        .orderBy("bin")
    },

    // Content-defined chunking (rolling-hash boundaries, stateless form):
    // per-chunk rows with positions and content hashes. The oracle
    // recomputes the identical windowed Rabin–Karp fold per position
    // (O(n·window) in SQL — fine at oracle scale; the native expression
    // is the O(n) rolling form). Window 8, divisor 64 → ~64-char chunks.
    Q("t_cdc_chunks",
      """WITH c AS (SELECT doc_id, text,
        |    list_transform(string_split_regex(text, ''), x -> CAST(ascii(x) AS BIGINT)) AS cs
        |  FROM documents WHERE doc_id < 50),
        |b AS (SELECT doc_id, text, len(cs) AS n,
        |    [i FOR i IN generate_series(8, len(cs))
        |       IF list_reduce(list_prepend(CAST(0 AS BIGINT), cs[i-7:i]),
        |            (acc, ch) -> (acc * 31 + ch) % 1000000007) % 64 = 0] AS cuts
        |  FROM c),
        |e AS (SELECT doc_id, text,
        |    CASE WHEN len(cuts) > 0 AND cuts[-1] = n THEN cuts
        |         ELSE list_append(cuts, n) END AS ends
        |  FROM b WHERE n > 0),
        |x AS (SELECT doc_id, text, ends, unnest(generate_series(1, len(ends))) AS k FROM e)
        |SELECT doc_id, k AS chunk_idx,
        |  CASE WHEN k = 1 THEN 1 ELSE ends[k-1] + 1 END AS chunk_start,
        |  ends[k] - (CASE WHEN k = 1 THEN 1 ELSE ends[k-1] + 1 END) + 1 AS chunk_len,
        |  md5(substring(text,
        |    CAST(CASE WHEN k = 1 THEN 1 ELSE ends[k-1] + 1 END AS INTEGER),
        |    CAST(ends[k] - (CASE WHEN k = 1 THEN 1 ELSE ends[k-1] + 1 END) + 1 AS INTEGER))) AS chunk_md5
        |FROM x ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
      graft.ops.Text.cdcChunks(
          Tables(s, dir, "documents").filter(col("doc_id") < 50), "doc_id", "text")
        .orderBy("doc_id", "chunk_idx")
    },

    // Chunk-level dedup over the CDC chunks: the rsync/LBFS dedup index —
    // which content blocks repeat across the corpus, robust to insertions
    // that shift byte offsets (fixed-size blocks would miss every shifted
    // copy). Chunks shorter than the hash window carry no boundary signal
    // and are excluded from the index (standard practice). One map-only
    // chunking pass + one groupBy shuffle on chunk_md5.
    Q("dedup_cdc",
      """WITH c AS (SELECT doc_id, text,
        |    list_transform(string_split_regex(text, ''), x -> CAST(ascii(x) AS BIGINT)) AS cs
        |  FROM documents),
        |b AS (SELECT doc_id, text, len(cs) AS n,
        |    [i FOR i IN generate_series(8, len(cs))
        |       IF list_reduce(list_prepend(CAST(0 AS BIGINT), cs[i-7:i]),
        |            (acc, ch) -> (acc * 31 + ch) % 1000000007) % 64 = 0] AS cuts
        |  FROM c),
        |e AS (SELECT doc_id, text,
        |    CASE WHEN len(cuts) > 0 AND cuts[-1] = n THEN cuts
        |         ELSE list_append(cuts, n) END AS ends
        |  FROM b WHERE n > 0),
        |x AS (SELECT doc_id, text, ends, unnest(generate_series(1, len(ends))) AS k FROM e),
        |ch AS (SELECT doc_id,
        |    ends[k] - (CASE WHEN k = 1 THEN 1 ELSE ends[k-1] + 1 END) + 1 AS chunk_len,
        |    md5(substring(text,
        |      CAST(CASE WHEN k = 1 THEN 1 ELSE ends[k-1] + 1 END AS INTEGER),
        |      CAST(ends[k] - (CASE WHEN k = 1 THEN 1 ELSE ends[k-1] + 1 END) + 1 AS INTEGER))) AS chunk_md5
        |  FROM x)
        |SELECT chunk_md5, COUNT(*) AS n_occ, COUNT(DISTINCT doc_id) AS n_docs
        |FROM ch WHERE chunk_len >= 8
        |GROUP BY chunk_md5 HAVING COUNT(*) >= 2
        |ORDER BY n_occ DESC, chunk_md5 LIMIT 20""".stripMargin) { (s, dir) =>
      graft.ops.Text.cdcChunks(
          Tables.fannedOut(s, dir, "documents"), "doc_id", "text")
        .filter(col("chunk_len") >= 8)
        .groupBy("chunk_md5")
        .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n_occ") >= 2)
        .orderBy(col("n_occ").desc, col("chunk_md5"))
        .limit(20)
    },

    // Byte-level CDC over an opaque BINARY payload (the storage-system
    // form: LBFS/borg chunk raw bytes, never decoding). Payload here is
    // the UTF-8 encoding of text; the oracle restricts to all-ASCII docs
    // (octet_length == char length), where each byte IS the code point,
    // so the identical per-position fold + substring-md5 chain from
    // t_cdc_chunks is byte-exact. Multi-byte divergence (byte cuts !=
    // code-point cuts) is pinned in CdcSpec against a brute-force byte
    // loop. Map-only; chunk dedup downstream shuffles only (md5, len).
    Q("t_cdc_bytes",
      """WITH c AS (SELECT doc_id, text,
        |    list_transform(string_split_regex(text, ''), x -> CAST(ascii(x) AS BIGINT)) AS cs
        |  FROM documents
        |  WHERE doc_id < 120 AND length(text) = octet_length(encode(text))),
        |b AS (SELECT doc_id, text, len(cs) AS n,
        |    [i FOR i IN generate_series(8, len(cs))
        |       IF list_reduce(list_prepend(CAST(0 AS BIGINT), cs[i-7:i]),
        |            (acc, ch) -> (acc * 31 + ch) % 1000000007) % 64 = 0] AS cuts
        |  FROM c),
        |e AS (SELECT doc_id, text,
        |    CASE WHEN len(cuts) > 0 AND cuts[-1] = n THEN cuts
        |         ELSE list_append(cuts, n) END AS ends
        |  FROM b WHERE n > 0),
        |x AS (SELECT doc_id, text, ends, unnest(generate_series(1, len(ends))) AS k FROM e)
        |SELECT doc_id, k AS chunk_idx,
        |  CASE WHEN k = 1 THEN 1 ELSE ends[k-1] + 1 END AS chunk_start,
        |  ends[k] - (CASE WHEN k = 1 THEN 1 ELSE ends[k-1] + 1 END) + 1 AS chunk_len,
        |  md5(substring(text,
        |    CAST(CASE WHEN k = 1 THEN 1 ELSE ends[k-1] + 1 END AS INTEGER),
        |    CAST(ends[k] - (CASE WHEN k = 1 THEN 1 ELSE ends[k-1] + 1 END) + 1 AS INTEGER))) AS chunk_md5
        |FROM x ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
      graft.ops.Text.cdcChunksBinary(
          Tables(s, dir, "documents")
            .filter(col("doc_id") < 120 &&
              length(col("text")) === octet_length(col("text"))),
          "doc_id", "text")
        .orderBy("doc_id", "chunk_idx")
    },

    // Corpus drift monitor: Jensen–Shannon divergence between the token
    // distributions of two corpus slices, per language — the standard
    // health check that a new crawl batch (slice 1) still "speaks the
    // same language" as the reference corpus (slice 0). Add-one smoothing
    // over a min-count-bounded shared vocabulary. Shuffle profile is the
    // LM family's: one (lang, tok) count aggregate (map-side combined,
    // vocab-bounded output), a tiny per-lang total broadcast back —
    // corpus size only ever flows through the first combine.
    Q("t_token_drift",
      """WITH t AS (SELECT lang, doc_id % 2 AS slice,
        |    unnest(string_split(text, ' ')) AS tok FROM documents),
        |c AS (SELECT lang, tok,
        |    SUM(CASE WHEN slice = 0 THEN 1 ELSE 0 END)::BIGINT AS ca,
        |    SUM(CASE WHEN slice = 1 THEN 1 ELSE 0 END)::BIGINT AS cb
        |  FROM t GROUP BY 1, 2 HAVING ca + cb >= 5),
        |s AS (SELECT lang, SUM(ca)::BIGINT AS na, SUM(cb)::BIGINT AS nb,
        |    COUNT(*)::BIGINT AS v FROM c GROUP BY 1),
        |e AS (SELECT c.lang, s.na, s.nb, s.v,
        |    (c.ca + 1.0) / (s.na + s.v) AS p,
        |    (c.cb + 1.0) / (s.nb + s.v) AS q
        |  FROM c JOIN s USING (lang))
        |SELECT lang, ANY_VALUE(v) AS vocab, ANY_VALUE(na) AS n_a,
        |  ANY_VALUE(nb) AS n_b,
        |  ROUND(SUM(0.5 * p * ln(p / ((p + q) / 2))
        |          + 0.5 * q * ln(q / ((p + q) / 2))), 4) + 0 AS js_div
        |FROM e GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      val toks = Tables.fannedOut(s, dir, "documents")
        .select(col("lang"), (col("doc_id") % 2).as("slice"),
          explode(split(col("text"), " ", -1)).as("tok"))
      val c = toks.groupBy("lang", "tok")
        .agg(sum(when(col("slice") === 0, 1L).otherwise(0L)).as("ca"),
          sum(when(col("slice") === 1, 1L).otherwise(0L)).as("cb"))
        .filter(col("ca") + col("cb") >= 5)
      val tot = c.groupBy("lang")
        .agg(sum("ca").as("na"), sum("cb").as("nb"), count(lit(1)).as("v"))
      val e = c.join(broadcast(tot), "lang")
        .withColumn("p", (col("ca") + lit(1.0)) / (col("na") + col("v")))
        .withColumn("q", (col("cb") + lit(1.0)) / (col("nb") + col("v")))
      val m = (col("p") + col("q")) / 2
      e.groupBy("lang")
        .agg(first("v").as("vocab"), first("na").as("n_a"),
          first("nb").as("n_b"),
          (round(sum(lit(0.5) * col("p") * log(col("p") / m)
            + lit(0.5) * col("q") * log(col("q") / m)), 4) + lit(0))
            .as("js_div"))
        .orderBy("lang")
    },

    // Multimodal plumbing: opaque binary payload column + metadata derived
    // without decoding (byte length, md5 digest). The decode itself is
    // stubbed (no codecs in-container); the schema/partition path is real.
    Q("mm_binary_metadata",
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS digest
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .filter(col("doc_id") < 100)
        .withColumn("payload", col("text").cast("binary"))
        .select(col("doc_id"), octet_length(col("payload")).as("n_bytes"),
          md5(col("payload")).as("digest"))
        .orderBy("doc_id")
    })
}
