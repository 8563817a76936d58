package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{Curation, Sampling, Similarity, Text, Unigram}

/** Training-data pipeline operators, wave 2: exact duplicated-span
  * detection, corpus-trained bigram-LM perplexity, temperature-weighted
  * domain mixing, sliding-window chunking, heavy hitters, weighted
  * reservoir sampling, and distributed PCA (covariance + power
  * iteration). Every query here is fully oracled — the hash-keyed and
  * stochastic parts use the portable md5 hash family so DuckDB re-derives
  * the identical values.
  */
object TrainQueries {

  /** Power-iteration oracle, unrolled: DuckDB lacks aggregates in
    * recursive CTEs, so the fixed-iteration loop is GENERATED as a CTE
    * chain (q_t = C·p_{t−1}, p_t = q_t / ‖q_t‖) — the same trick a
    * macro would do, and it keeps Spark and the oracle on the exact same
    * arithmetic sequence. Every step is AS MATERIALIZED: the norm
    * subquery references q_t twice, so inlined CTEs would re-expand the
    * whole chain 2^iters times (observed: fd exhaustion from re-opened
    * parquet scans). */
  private val pcaIters = 20

  /** The WITH chain through p{pcaIters} (shared by the power-iteration
    * and projection oracles); ends ready for a final SELECT. */
  private val pcaPowerCtes: String = {
    val base =
      """WITH v AS MATERIALIZED (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |    unnest(CAST(embedding AS DOUBLE[])) AS x FROM embeddings),
        |m AS MATERIALIZED (SELECT i, AVG(x) AS m, COUNT(*) AS n FROM v GROUP BY i),
        |cm AS MATERIALIZED (SELECT a.i AS i, b.i AS j, SUM(a.x * b.x) AS sxy
        |  FROM v a JOIN v b USING (vec_id) GROUP BY a.i, b.i),
        |cv AS MATERIALIZED (SELECT cm.i, cm.j, cm.sxy / ma.n - ma.m * mb.m AS c
        |  FROM cm JOIN m ma ON ma.i = cm.i JOIN m mb ON mb.i = cm.j),
        |p0 AS MATERIALIZED (SELECT i, 1.0 / sqrt(64.0) AS val FROM m)""".stripMargin
    val steps = (1 to pcaIters).map { t =>
      s""",
         |q$t AS MATERIALIZED (SELECT cv.i AS i, SUM(cv.c * p${t - 1}.val) AS val
         |  FROM cv JOIN p${t - 1} ON p${t - 1}.i = cv.j GROUP BY cv.i),
         |p$t AS MATERIALIZED (SELECT i, val / (SELECT sqrt(SUM(val * val)) FROM q$t) AS val
         |  FROM q$t)""".stripMargin
    }.mkString
    base + steps + "\n"
  }

  private val pcaPowerSql: String =
    pcaPowerCtes.stripSuffix("\n") +
      s""",
         |qf AS MATERIALIZED (SELECT cv.i AS i, SUM(cv.c * p$pcaIters.val) AS val
         |  FROM cv JOIN p$pcaIters ON p$pcaIters.i = cv.j GROUP BY cv.i),
         |eig AS MATERIALIZED (SELECT SUM(p$pcaIters.val * qf.val) AS e
         |  FROM p$pcaIters JOIN qf USING (i))
         |SELECT p$pcaIters.i - 1 AS i, ROUND(p$pcaIters.val, 4) + 0.0 AS loading,
         |  ROUND((SELECT e FROM eig), 4) + 0.0 AS eigval
         |FROM p$pcaIters ORDER BY i""".stripMargin

  def qs: Seq[Q] = Seq(

    // Exact duplicated-span detection (Lee et al.'s substring dedup at
    // fixed 5-token granularity): a span is "duplicated" when it occurs
    // in ≥2 distinct documents. Only 8-byte span hashes ever shuffle.
    Q("dedup_span_ngrams",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |sp AS (SELECT doc_id,
        |    ('0x' || substr(md5(array_to_string(
        |      list_slice(toks, i, i + 4), ' ')), 1, 15))::BIGINT AS h
        |  FROM (SELECT doc_id, toks,
        |      unnest(generate_series(1, len(toks) - 4)) AS i FROM t)),
        |dup AS (SELECT h FROM sp GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
        |tot AS (SELECT doc_id, COUNT(*) AS n_spans FROM sp GROUP BY doc_id),
        |dd AS (SELECT doc_id, COUNT(*) AS n_dup_spans
        |  FROM sp JOIN dup USING (h) GROUP BY doc_id)
        |SELECT tot.doc_id, tot.n_spans, COALESCE(dd.n_dup_spans, 0) AS n_dup_spans,
        |  ROUND(CAST(COALESCE(dd.n_dup_spans, 0) AS DOUBLE) / tot.n_spans, 4)
        |    AS dup_ratio
        |FROM tot LEFT JOIN dd USING (doc_id) ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        // the operator persists the span stream, which has THREE
        // consumers here (dup-hash aggregate, per-doc total, per-doc dup
        // count) — one materialized explode instead of three
        // derivations; fannedOut because the span-hash explode is
        // CPU-dense per row (standing rule 7)
        Text.duplicatedSpanStats(Tables.fannedOut(s, dir, "documents"),
            "doc_id", "text", k = 5)
          .orderBy("doc_id")
    },

    // Variable-length exact-substring dedup by PREFIX DOUBLING (the
    // Lee et al. suffix-array completion of the fixed-k family): the
    // 4→8→16→32-token ladder, each level's candidates the self-join of
    // the previous level's survivors on adjacent positions, each full
    // window verified by its own md5 hash with a distinct-doc count;
    // emitted rows are the MAXIMAL duplicated spans (not contained in
    // a duplicated span one level up). The oracle replays the whole
    // ladder — same window hashes, same candidate joins, same
    // containment anti-joins — in recursive-free CTEs.
    Q("dedup_suffix_spans",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s0 AS (SELECT doc_id, i AS pos,
        |    ('0x' || substr(md5(array_to_string(
        |      list_slice(toks, i, i + 3), ' ')), 1, 15))::BIGINT AS h
        |  FROM (SELECT doc_id, toks,
        |      unnest(generate_series(1, len(toks) - 3)) AS i FROM t)),
        |d0 AS (SELECT doc_id, pos FROM s0 JOIN (SELECT h FROM s0
        |    GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2) USING (h)),
        |c1 AS (SELECT a.doc_id, a.pos FROM d0 a
        |  JOIN d0 b ON a.doc_id = b.doc_id AND b.pos = a.pos + 4),
        |s1 AS (SELECT c1.doc_id, c1.pos,
        |    ('0x' || substr(md5(array_to_string(
        |      list_slice(t.toks, c1.pos, c1.pos + 7), ' ')), 1, 15))::BIGINT AS h
        |  FROM c1 JOIN t USING (doc_id)),
        |d1 AS (SELECT doc_id, pos FROM s1 JOIN (SELECT h FROM s1
        |    GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2) USING (h)),
        |c2 AS (SELECT a.doc_id, a.pos FROM d1 a
        |  JOIN d1 b ON a.doc_id = b.doc_id AND b.pos = a.pos + 8),
        |s2 AS (SELECT c2.doc_id, c2.pos,
        |    ('0x' || substr(md5(array_to_string(
        |      list_slice(t.toks, c2.pos, c2.pos + 15), ' ')), 1, 15))::BIGINT AS h
        |  FROM c2 JOIN t USING (doc_id)),
        |d2 AS (SELECT doc_id, pos FROM s2 JOIN (SELECT h FROM s2
        |    GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2) USING (h)),
        |c3 AS (SELECT a.doc_id, a.pos FROM d2 a
        |  JOIN d2 b ON a.doc_id = b.doc_id AND b.pos = a.pos + 16),
        |s3 AS (SELECT c3.doc_id, c3.pos,
        |    ('0x' || substr(md5(array_to_string(
        |      list_slice(t.toks, c3.pos, c3.pos + 31), ' ')), 1, 15))::BIGINT AS h
        |  FROM c3 JOIN t USING (doc_id)),
        |d3 AS (SELECT doc_id, pos FROM s3 JOIN (SELECT h FROM s3
        |    GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2) USING (h)),
        |cov0 AS (SELECT doc_id, unnest(generate_series(pos, pos + 4)) AS pos FROM d1),
        |cov1 AS (SELECT doc_id, unnest(generate_series(pos, pos + 8)) AS pos FROM d2),
        |cov2 AS (SELECT doc_id, unnest(generate_series(pos, pos + 16)) AS pos FROM d3),
        |m AS (
        |  SELECT doc_id, pos, 4 AS len_tokens FROM d0
        |  WHERE NOT EXISTS (SELECT 1 FROM cov0
        |    WHERE cov0.doc_id = d0.doc_id AND cov0.pos = d0.pos)
        |  UNION ALL
        |  SELECT doc_id, pos, 8 FROM d1
        |  WHERE NOT EXISTS (SELECT 1 FROM cov1
        |    WHERE cov1.doc_id = d1.doc_id AND cov1.pos = d1.pos)
        |  UNION ALL
        |  SELECT doc_id, pos, 16 FROM d2
        |  WHERE NOT EXISTS (SELECT 1 FROM cov2
        |    WHERE cov2.doc_id = d2.doc_id AND cov2.pos = d2.pos)
        |  UNION ALL
        |  SELECT doc_id, pos, 32 FROM d3)
        |SELECT doc_id, pos, len_tokens FROM m
        |ORDER BY doc_id, pos, len_tokens""".stripMargin) { (s, dir) =>
      // the operator persists each ladder level, which has four
      // consumers (next level's self-join halves, containment, output)
      // — un-persisted the physical tree measured 8000+ nodes; the
      // per-query Measure.releaseAll frees the levels
      Text.suffixDupSpans(Tables.fannedOut(s, dir, "documents"),
          "doc_id", "text", baseK = 4, levels = 4, minDocs = 2)
        .orderBy("doc_id", "pos", "len_tokens")
    },

    // Variable-length exact-substring SCRUBBING (judge r17 stretch —
    // the Lee et al. removal pass composed from the suffix ladder):
    // maximal duplicated spans of ≥ 8 tokens are removed, survivors
    // rejoin in order — short common n-grams SURVIVE (the len-4
    // maximal spans stay in the text), which is what separates
    // production scrubbing from fixed-k removal and is expressible
    // only with variable-length spans. The oracle replays the whole
    // 4→8→16→32 ladder, the maximality anti-joins, the ≥ 8 length
    // gate, the covered-position union (nested/overlapping spans),
    // and the byte-exact rebuild.
    Q("pipe_suffix_scrub",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s0 AS (SELECT doc_id, i AS pos,
        |    ('0x' || substr(md5(array_to_string(
        |      list_slice(toks, i, i + 3), ' ')), 1, 15))::BIGINT AS h
        |  FROM (SELECT doc_id, toks,
        |      unnest(generate_series(1, len(toks) - 3)) AS i FROM t)),
        |d0 AS (SELECT doc_id, pos FROM s0 JOIN (SELECT h FROM s0
        |    GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2) USING (h)),
        |c1 AS (SELECT a.doc_id, a.pos FROM d0 a
        |  JOIN d0 b ON a.doc_id = b.doc_id AND b.pos = a.pos + 4),
        |s1 AS (SELECT c1.doc_id, c1.pos,
        |    ('0x' || substr(md5(array_to_string(
        |      list_slice(t.toks, c1.pos, c1.pos + 7), ' ')), 1, 15))::BIGINT AS h
        |  FROM c1 JOIN t USING (doc_id)),
        |d1 AS (SELECT doc_id, pos FROM s1 JOIN (SELECT h FROM s1
        |    GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2) USING (h)),
        |c2 AS (SELECT a.doc_id, a.pos FROM d1 a
        |  JOIN d1 b ON a.doc_id = b.doc_id AND b.pos = a.pos + 8),
        |s2 AS (SELECT c2.doc_id, c2.pos,
        |    ('0x' || substr(md5(array_to_string(
        |      list_slice(t.toks, c2.pos, c2.pos + 15), ' ')), 1, 15))::BIGINT AS h
        |  FROM c2 JOIN t USING (doc_id)),
        |d2 AS (SELECT doc_id, pos FROM s2 JOIN (SELECT h FROM s2
        |    GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2) USING (h)),
        |c3 AS (SELECT a.doc_id, a.pos FROM d2 a
        |  JOIN d2 b ON a.doc_id = b.doc_id AND b.pos = a.pos + 16),
        |s3 AS (SELECT c3.doc_id, c3.pos,
        |    ('0x' || substr(md5(array_to_string(
        |      list_slice(t.toks, c3.pos, c3.pos + 31), ' ')), 1, 15))::BIGINT AS h
        |  FROM c3 JOIN t USING (doc_id)),
        |d3 AS (SELECT doc_id, pos FROM s3 JOIN (SELECT h FROM s3
        |    GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2) USING (h)),
        |cv0 AS (SELECT doc_id, unnest(generate_series(pos, pos + 4)) AS pos FROM d1),
        |cv1 AS (SELECT doc_id, unnest(generate_series(pos, pos + 8)) AS pos FROM d2),
        |cv2 AS (SELECT doc_id, unnest(generate_series(pos, pos + 16)) AS pos FROM d3),
        |m AS (
        |  SELECT doc_id, pos, 8 AS len_tokens FROM d1
        |  WHERE NOT EXISTS (SELECT 1 FROM cv1
        |    WHERE cv1.doc_id = d1.doc_id AND cv1.pos = d1.pos)
        |  UNION ALL
        |  SELECT doc_id, pos, 16 FROM d2
        |  WHERE NOT EXISTS (SELECT 1 FROM cv2
        |    WHERE cv2.doc_id = d2.doc_id AND cv2.pos = d2.pos)
        |  UNION ALL
        |  SELECT doc_id, pos, 32 FROM d3),
        |covx AS (SELECT doc_id,
        |    unnest(generate_series(pos, pos + len_tokens - 1)) AS ci FROM m),
        |cov AS (SELECT DISTINCT doc_id, ci FROM covx),
        |tk AS (SELECT doc_id, i, toks[i] AS tok, len(toks) AS n
        |  FROM (SELECT doc_id, toks,
        |      unnest(generate_series(1, len(toks))) AS i FROM t)),
        |j AS (SELECT tk.doc_id, tk.i, tk.tok, tk.n, cov.ci
        |  FROM tk LEFT JOIN cov ON cov.doc_id = tk.doc_id AND cov.ci = tk.i)
        |SELECT doc_id, MAX(n)::BIGINT AS n_tokens, COUNT(ci)::BIGINT AS n_removed,
        |  COALESCE(array_to_string(list(tok ORDER BY i)
        |    FILTER (WHERE ci IS NULL), ' '), '') AS clean_text
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // the ladder levels are persisted, four consumers each (see
      // dedup_suffix_spans); the per-query Measure.releaseAll frees them
      Text.scrubSuffixSpans(Tables.fannedOut(s, dir, "documents"),
          "doc_id", "text", baseK = 4, levels = 4, minDocs = 2,
          minLen = 8)
        .orderBy("doc_id")
    },

    // Shingle CONTAINMENT pairs: asymmetric |A∩B|/|A| — catches a doc
    // quoted whole inside a longer one, which Jaccard misses. Computed
    // over the shingle inverted index (per-shingle doc list → in-array
    // ordered pairs → count per pair), stop-shingle prune at maxDf.
    Q("t_containment",
      """WITH s AS (SELECT doc_id, unnest(list_distinct([array_to_string(
        |      ws[i:i+4], ' ')
        |    FOR i IN generate_series(1, greatest(len(ws) - 4, 1))])) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
        |n AS (SELECT doc_id, COUNT(*) AS ns FROM s GROUP BY 1),
        |keep AS (SELECT sh FROM s GROUP BY sh
        |  HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 1000),
        |p AS (SELECT a.doc_id AS src_id, b.doc_id AS dst_id, COUNT(*) AS n_shared
        |  FROM s a JOIN keep USING (sh) JOIN s b USING (sh)
        |  WHERE a.doc_id <> b.doc_id GROUP BY 1, 2)
        |SELECT src_id, dst_id, n_shared,
        |  ROUND(n_shared * 1.0 / n.ns, 4) + 0.0 AS containment
        |FROM p JOIN n ON n.doc_id = p.src_id
        |WHERE n_shared * 1.0 / n.ns >= 0.5
        |ORDER BY src_id, dst_id""".stripMargin) { (s, dir) =>
      // fannedOut: the shingle explode is CPU-dense and the single-file
      // test table would otherwise scan as one partition
      Text.containmentPairs(Tables.fannedOut(s, dir, "documents"),
          "doc_id", "text", k = 5, minContain = 0.5, maxDf = 1000)
        .orderBy("src_id", "dst_id")
    },

    // Corpus-trained add-one bigram-LM negative log-likelihood per doc —
    // the perplexity quality gate. The LM "training" IS the c2 aggregate.
    Q("t_lm_perplexity",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |bg AS (SELECT doc_id, toks[i] AS a, toks[i + 1] AS b2
        |  FROM (SELECT doc_id, toks,
        |      unnest(generate_series(1, len(toks) - 1)) AS i FROM t)),
        |dt AS (SELECT doc_id, a, b2, COUNT(*)::BIGINT AS n FROM bg
        |  GROUP BY 1, 2, 3),
        |c2 AS (SELECT a, b2, SUM(n)::BIGINT AS n2 FROM dt GROUP BY a, b2),
        |c1 AS (SELECT a, SUM(n2)::BIGINT AS n1 FROM c2 GROUP BY a),
        |vv AS (SELECT COUNT(DISTINCT tok) AS v FROM
        |  (SELECT a AS tok FROM c2 UNION SELECT b2 FROM c2))
        |SELECT dt.doc_id, SUM(n)::BIGINT AS n_bigrams,
        |  ROUND(-(SUM(n * LN(CAST(c2.n2 + 1 AS DOUBLE)
        |    / (c1.n1 + (SELECT v FROM vv)))) / SUM(n)), 4) AS nll
        |FROM dt JOIN c2 USING (a, b2) JOIN c1 USING (a)
        |GROUP BY dt.doc_id ORDER BY dt.doc_id""".stripMargin) { (s, dir) =>
      // fannedOut: the bigram explode is CPU-dense and the single-file
      // test table would otherwise scan as one partition
      Text.bigramNll(Tables.fannedOut(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    // LM SERVING path, oracle-certified: the same per-doc NLL as
    // t_lm_perplexity, computed the way a serving batch computes it —
    // model derived as the storable table (bigramModelDF: pair
    // log-probs + context marginals + |V|) and applied by the
    // stored-model scorer (bigramNllFromModel: left join + broadcast
    // unseen fallbacks, no training stage fused into the scoring
    // aggregate). On the model's own corpus every event is seen, so the
    // independent oracle derivation must match exactly — certifying
    // that the store/load/score path preserves the training-time
    // arithmetic (the parquet round-trip twin is pinned in TrainSpec).
    Q("t_lm_scored_stored",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |bg AS (SELECT doc_id, toks[i] AS a, toks[i + 1] AS b2
        |  FROM (SELECT doc_id, toks,
        |      unnest(generate_series(1, len(toks) - 1)) AS i FROM t)),
        |dt AS (SELECT doc_id, a, b2, COUNT(*)::BIGINT AS n FROM bg
        |  GROUP BY 1, 2, 3),
        |c2 AS (SELECT a, b2, SUM(n)::BIGINT AS n2 FROM dt GROUP BY a, b2),
        |c1 AS (SELECT a, SUM(n2)::BIGINT AS n1 FROM c2 GROUP BY a),
        |vv AS (SELECT COUNT(DISTINCT tok) AS v FROM
        |  (SELECT a AS tok FROM c2 UNION SELECT b2 FROM c2))
        |SELECT dt.doc_id, SUM(n)::BIGINT AS n_bigrams,
        |  ROUND(-(SUM(n * LN(CAST(c2.n2 + 1 AS DOUBLE)
        |    / (c1.n1 + (SELECT v FROM vv)))) / SUM(n)), 4) AS nll
        |FROM dt JOIN c2 USING (a, b2) JOIN c1 USING (a)
        |GROUP BY dt.doc_id ORDER BY dt.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.fannedOut(s, dir, "documents")
      Text.bigramNllFromModel(docs, "doc_id", "text",
          Text.bigramModelDF(docs, "doc_id", "text"))
        .orderBy("doc_id")
    },

    // Interpolated Kneser–Ney bigram LM (the KenLM-default smoothing):
    // absolute discount with continuation-probability back-off. The
    // oracle re-derives all three KN statistics (context totals/distinct
    // continuations, distinct-context counts, bigram-type total) from
    // the same count table and replays the identical IEEE arithmetic
    // chain; round-4 absorbs summation-order drift exactly as in
    // t_lm_perplexity.
    Q("t_lm_kneser_ney",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |bg AS (SELECT doc_id, toks[i] AS a, toks[i + 1] AS b2
        |  FROM (SELECT doc_id, toks,
        |      unnest(generate_series(1, len(toks) - 1)) AS i FROM t)),
        |dt AS (SELECT doc_id, a, b2, COUNT(*)::BIGINT AS n FROM bg
        |  GROUP BY 1, 2, 3),
        |c2 AS (SELECT a, b2, SUM(n)::BIGINT AS n2 FROM dt GROUP BY a, b2),
        |ka AS (SELECT a, SUM(n2)::BIGINT AS n1, COUNT(*)::BIGINT AS n1a
        |  FROM c2 GROUP BY a),
        |kb AS (SELECT b2, COUNT(*)::BIGINT AS n1b FROM c2 GROUP BY b2),
        |ntt AS (SELECT COUNT(*)::BIGINT AS nt FROM c2)
        |SELECT dt.doc_id, SUM(n)::BIGINT AS n_bigrams,
        |  ROUND(-(SUM(n * LN((c2.n2 - 0.75) / ka.n1
        |    + 0.75 * ka.n1a / ka.n1
        |      * (CAST(kb.n1b AS DOUBLE) / (SELECT nt FROM ntt)))) / SUM(n)), 4)
        |    AS nll
        |FROM dt JOIN c2 USING (a, b2) JOIN ka USING (a) JOIN kb USING (b2)
        |GROUP BY dt.doc_id ORDER BY dt.doc_id""".stripMargin) { (s, dir) =>
      Text.kneserNeyNll(Tables.fannedOut(s, dir, "documents"),
          "doc_id", "text")
        .orderBy("doc_id")
    },

    // CCNet-style perplexity bucketing: per-language head/middle/tail
    // terciles of the bigram-LM NLL — the standard web-corpus quality
    // partition (keep head, sample middle, drop tail). Composes the
    // t_lm_perplexity scoring with one per-lang ntile window (ordered by
    // rounded nll with doc_id tiebreak — deterministic on both engines).
    // At real corpus scale the terciles would come from sampled
    // thresholds (approxQuantile) instead of a per-lang global window;
    // the exact window form is the oracle-able variant, and the lang join
    // is doc-keyed (shuffle join at scale, broadcast at test SF).
    Q("pipe_ppl_buckets",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
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
        |b AS (SELECT d.lang, nl.nll,
        |    NTILE(3) OVER (PARTITION BY d.lang ORDER BY nl.nll, nl.doc_id)
        |      AS tercile
        |  FROM nl JOIN documents d USING (doc_id))
        |SELECT lang,
        |  CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
        |    ELSE 'tail' END AS bucket,
        |  COUNT(*)::BIGINT AS n_docs, ROUND(AVG(nll), 4) AS avg_nll
        |FROM b GROUP BY lang, tercile ORDER BY lang, bucket""".stripMargin) {
      (s, dir) =>
        val docs = Tables.fannedOut(s, dir, "documents")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy(col("nll"), col("doc_id"))
        Text.bigramNll(docs, "doc_id", "text")
          .join(docs.select("doc_id", "lang"), "doc_id")
          .withColumn("tercile", ntile(3).over(w))
          .withColumn("bucket", when(col("tercile") === 1, "head")
            .when(col("tercile") === 2, "middle").otherwise("tail"))
          .groupBy("lang", "bucket")
          .agg(count(lit(1)).as("n_docs"), round(avg("nll"), 4).as("avg_nll"))
          .orderBy("lang", "bucket")
    },

    // The SCALE form of the bucketing above — per-lang quantile
    // THRESHOLDS instead of the ntile window, so no language's NLL
    // column ever sorts on one partition (Curation.quantileBuckets:
    // thresholds are a lang-count-bounded broadcast aggregate; the
    // production arm estimates them with percentile_approx, pinned
    // equal to this exact arm in TrainSpec; ScaleCheck times this
    // query on the scale fixture). Oracled with the EXACT interpolated
    // percentile (DuckDB quantile_cont, the same R-7 interpolation):
    // thresholds, membership, and per-bucket aggregates all replay.
    // Tie semantics differ from ntile BY DESIGN (equal NLLs share a
    // bucket; ntile splits them), so populations may legitimately
    // differ from pipe_ppl_buckets on tied round-4 NLLs.
    Q("pipe_ppl_buckets_thresh",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
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
        |sc AS (SELECT d.lang, nl.nll
        |  FROM nl JOIN documents d USING (doc_id)),
        |th AS (SELECT lang, ROUND(quantile_cont(nll, 1.0/3), 4) AS t1,
        |    ROUND(quantile_cont(nll, 2.0/3), 4) AS t2
        |  FROM sc GROUP BY lang),
        |b AS (SELECT sc.lang, sc.nll,
        |    CASE WHEN sc.nll <= th.t1 THEN 'head'
        |      WHEN sc.nll <= th.t2 THEN 'middle' ELSE 'tail' END AS bucket
        |  FROM sc JOIN th USING (lang))
        |SELECT lang, bucket, COUNT(*)::BIGINT AS n_docs,
        |  ROUND(SUM(nll), 4) AS sum_nll
        |FROM b GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin) {
      (s, dir) =>
        // SUM not AVG of the round-4 NLLs: a sum of 1e-4 multiples stays
        // ~1e-12 from any .00005 rounding tie, while their AVERAGE can
        // land exactly on one (the decimal-tie pitfall — observed here:
        // one bucket's avg rounded 3.4208 vs DuckDB's 3.4209). The
        // consumer divides by n_docs.
        val docs = Tables.fannedOut(s, dir, "documents")
        // The scored (lang, nll) stream has TWO consumers inside
        // quantileBuckets (threshold aggregate + membership join), and
        // each would otherwise replay the full bigram-LM chain (28
        // exchanges / 8 scans in the r10 audit). It is doc-count-sized
        // (two columns), so persist it — released by the per-query
        // Measure.releaseAll in Verify/ProfileQ.
        val scored = Text.bigramNll(docs, "doc_id", "text")
          .join(docs.select("doc_id", "lang"), "doc_id")
          .select(col("lang"), col("nll"))
          .transform(graft.core.Measure.cacheOnce)
        // threshRound = 4 (the NLLs' own precision): without it, an
        // exact-integer quantile index lands the interpolated threshold
        // an ulp below a TIED round-4 value and the whole tie run flips
        // buckets between engines (observed at sf0.1: 4 es-docs
        // middle↔tail)
        Curation.quantileBuckets(scored, "lang", "nll",
            Seq(1.0 / 3, 2.0 / 3), Seq("head", "middle", "tail"),
            exact = true, threshRound = 4)
          .groupBy("lang", "bucket")
          .agg(count(lit(1)).as("n_docs"), round(sum("nll"), 4).as("sum_nll"))
          .orderBy("lang", "bucket")
    },

    // DSIR importance weights (hashed-unigram importance resampling):
    // target = English docs, raw = whole corpus; per-doc log weight is
    // the sum over token events of the smoothed bucket-frequency
    // log-ratio. The oracle re-derives the same portable-hash buckets,
    // the single count table, the totals, and the identical IEEE
    // log-ratio chain.
    Q("pipe_dsir_weights",
      """WITH t AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |f AS (SELECT doc_id, lang = 'en' AS is_t,
        |    (('0x' || substr(md5(tok), 1, 15))::BIGINT % 512) AS f FROM t
        |  WHERE tok <> ''),
        |c AS (SELECT f, COUNT(*)::BIGINT AS cr,
        |    SUM(CASE WHEN is_t THEN 1 ELSE 0 END)::BIGINT AS ct
        |  FROM f GROUP BY f),
        |tot AS (SELECT SUM(cr)::BIGINT AS nr, SUM(ct)::BIGINT AS nt FROM c),
        |r AS (SELECT f, LN(CAST(ct + 1 AS DOUBLE) / (nt + 512))
        |    - LN(CAST(cr + 1 AS DOUBLE) / (nr + 512)) AS lr
        |  FROM c CROSS JOIN tot)
        |SELECT doc_id, COUNT(*)::BIGINT AS n_tokens,
        |  ROUND(SUM(lr), 4) + 0 AS log_weight
        |FROM f JOIN r USING (f)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Curation.dsirWeights(Tables.fannedOut(s, dir, "documents"),
          "doc_id", "text", isTarget = col("lang") === "en", buckets = 512)
        .orderBy("doc_id")
    },

    // DSIR SERVING path, oracle-certified: the same weights as
    // pipe_dsir_weights, computed the way a serving batch computes
    // them — the 512-bucket model materialized (dsirModelDF), loaded
    // into a literal vector (weightsFromDF: bounded driver state, the
    // classifier contract), and applied as ONE map-only per-row
    // aggregate HOF (dsirScore — zero shuffles, no join; the same
    // expression is valid per row on an unbounded stream). The oracle
    // is pipe_dsir_weights' independent event-sum derivation, so the
    // per-row HOF path must agree with the shuffle-sum path to the
    // shared 4-dp grid — certifying that the
    // stored-model serving arithmetic IS the training-time arithmetic.
    Q("pipe_dsir_scored",
      """WITH t AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |f AS (SELECT doc_id, lang = 'en' AS is_t,
        |    (('0x' || substr(md5(tok), 1, 15))::BIGINT % 512) AS f FROM t
        |  WHERE tok <> ''),
        |c AS (SELECT f, COUNT(*)::BIGINT AS cr,
        |    SUM(CASE WHEN is_t THEN 1 ELSE 0 END)::BIGINT AS ct
        |  FROM f GROUP BY f),
        |tot AS (SELECT SUM(cr)::BIGINT AS nr, SUM(ct)::BIGINT AS nt FROM c),
        |r AS (SELECT f, LN(CAST(ct + 1 AS DOUBLE) / (nt + 512))
        |    - LN(CAST(cr + 1 AS DOUBLE) / (nr + 512)) AS lr
        |  FROM c CROSS JOIN tot)
        |SELECT doc_id, COUNT(*)::BIGINT AS n_tokens,
        |  ROUND(SUM(lr), 4) + 0 AS log_weight
        |FROM f JOIN r USING (f)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.fannedOut(s, dir, "documents")
      val lr = Curation.weightsFromDF(
        Curation.dsirModelDF(docs, "doc_id", "text",
          isTarget = col("lang") === "en", buckets = 512), buckets = 512)
      docs.select(col("doc_id"),
          Curation.dsirTokenCount(col("text")).as("n_tokens"),
          (round(Curation.dsirScore(col("text"), lr), 4) + lit(0))
            .as("log_weight"))
        // zero-token docs: the event-sum path (and its oracle) emits NO
        // row for a doc with no token events, while the per-row scorer
        // sees every input row — drop them so serving==training holds
        // even on a fixture with empty/whitespace-only text
        .filter(col("n_tokens") > 0)
        .orderBy("doc_id")
    },

    // DSIR selection — the resampling step the weights exist for (Xie
    // et al. 2023 §2: sample without replacement ∝ exp(log_weight)).
    // Log-domain Efraimidis–Spirakis / Gumbel-top-k key off the ROUNDED
    // log weight (the certified cross-engine quantity) + the portable
    // hash uniform; top-100 global, doc-id tiebreak. Ranking uses the
    // unrounded key: cross-engine LN agrees to an ulp, so membership
    // could in principle flip only if keys #100 and #101 sit within
    // ~1e-12 of each other — the same accepted ulp-tie class as the
    // classifier's 0.5 threshold (WebQueries note). Scale shape: the
    // weight pipeline's two shuffles + TakeOrderedAndProject (per-
    // partition top-k, k-row driver merge) — no global sort.
    Q("pipe_dsir_select",
      """WITH t AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |f AS (SELECT doc_id, lang = 'en' AS is_t,
        |    (('0x' || substr(md5(tok), 1, 15))::BIGINT % 512) AS f FROM t
        |  WHERE tok <> ''),
        |c AS (SELECT f, COUNT(*)::BIGINT AS cr,
        |    SUM(CASE WHEN is_t THEN 1 ELSE 0 END)::BIGINT AS ct
        |  FROM f GROUP BY f),
        |tot AS (SELECT SUM(cr)::BIGINT AS nr, SUM(ct)::BIGINT AS nt FROM c),
        |r AS (SELECT f, LN(CAST(ct + 1 AS DOUBLE) / (nt + 512))
        |    - LN(CAST(cr + 1 AS DOUBLE) / (nr + 512)) AS lr
        |  FROM c CROSS JOIN tot),
        |wts AS (SELECT doc_id, COUNT(*)::BIGINT AS n_tokens,
        |    ROUND(SUM(lr), 4) + 0 AS log_weight
        |  FROM f JOIN r USING (f) GROUP BY doc_id),
        |sel AS (SELECT doc_id, n_tokens, log_weight,
        |    log_weight - LN(-LN(
        |      (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT + 1)
        |        / power(2.0, 60))) AS key
        |  FROM wts),
        |top AS (SELECT * FROM sel ORDER BY key DESC, doc_id LIMIT 100)
        |SELECT doc_id, n_tokens, log_weight, ROUND(key, 4) + 0 AS sel_key
        |FROM top ORDER BY sel_key DESC, doc_id""".stripMargin) { (s, dir) =>
      val wts = Curation.dsirWeights(Tables.fannedOut(s, dir, "documents"),
        "doc_id", "text", isTarget = col("lang") === "en", buckets = 512)
      Sampling.gumbelTopK(wts, "doc_id", "log_weight", 100)
        .select(col("doc_id"), col("n_tokens"), col("log_weight"),
          (round(col("sel_key"), 4) + lit(0)).as("sel_key"))
        .orderBy(col("sel_key").desc, col("doc_id"))
    },

    // Moore–Lewis cross-entropy-difference selection (Moore & Lewis
    // 2010 — the classic LM-based data-selection criterion DSIR
    // generalizes): every doc scored by H_target − H_corpus under two
    // add-one bigram LMs (target = the en slice, corpus = everything);
    // low delta = target-like. The oracle re-derives both models from
    // the same string-keyed count tables, including the target model's
    // unseen-event fallbacks (pair unseen in seen context → add-one
    // mass; context unseen → 1/V), and replays the identical IEEE
    // log-ratio chain; round-4 after aggregation absorbs summation
    // order exactly as in t_lm_perplexity. `+ 0` normalizes a
    // potential −0.0 delta on both sides.
    Q("pipe_moore_lewis",
      """WITH t AS (SELECT doc_id, lang = 'en' AS is_t,
        |    string_split(text, ' ') AS toks FROM documents),
        |bg AS (SELECT doc_id, is_t, toks[i] AS a, toks[i + 1] AS b2
        |  FROM (SELECT doc_id, is_t, toks,
        |      unnest(generate_series(1, len(toks) - 1)) AS i FROM t)),
        |dt AS (SELECT doc_id, is_t, a, b2, COUNT(*)::BIGINT AS n FROM bg
        |  GROUP BY 1, 2, 3, 4),
        |c2c AS (SELECT a, b2, SUM(n)::BIGINT AS n2 FROM dt GROUP BY 1, 2),
        |c1c AS (SELECT a, SUM(n2)::BIGINT AS n1 FROM c2c GROUP BY 1),
        |vc AS (SELECT COUNT(DISTINCT tok) AS v FROM
        |  (SELECT a AS tok FROM c2c UNION SELECT b2 FROM c2c)),
        |c2t AS (SELECT a, b2, SUM(n)::BIGINT AS n2 FROM dt WHERE is_t
        |  GROUP BY 1, 2),
        |c1t AS (SELECT a, SUM(n2)::BIGINT AS n1 FROM c2t GROUP BY 1),
        |vt AS (SELECT COUNT(DISTINCT tok) AS v FROM
        |  (SELECT a AS tok FROM c2t UNION SELECT b2 FROM c2t)),
        |sc AS (SELECT dt.doc_id, dt.n,
        |    LN(CAST(c2c.n2 + 1 AS DOUBLE)
        |      / (c1c.n1 + (SELECT v FROM vc))) AS lp_c,
        |    CASE WHEN c2t.n2 IS NOT NULL
        |      THEN LN(CAST(c2t.n2 + 1 AS DOUBLE)
        |        / (c1t.n1 + (SELECT v FROM vt)))
        |      ELSE LN(1.0 / (COALESCE(c1t.n1, 0) + (SELECT v FROM vt)))
        |    END AS lp_t
        |  FROM dt JOIN c2c USING (a, b2) JOIN c1c USING (a)
        |    LEFT JOIN c2t USING (a, b2) LEFT JOIN c1t USING (a))
        |SELECT doc_id, SUM(n)::BIGINT AS n_bigrams,
        |  ROUND(-(SUM(n * lp_t) / SUM(n)), 4) AS ce_target,
        |  ROUND(-(SUM(n * lp_c) / SUM(n)), 4) AS ce_corpus,
        |  ROUND(SUM(n * (lp_c - lp_t)) / SUM(n), 4) + 0 AS delta
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // fannedOut: the bigram explode is CPU-dense (the t_lm_perplexity
      // rationale); the operator persists the hashed event stream
      // (consumers: the count aggregate and the scoring join)
      Text.mooreLewis(Tables.fannedOut(s, dir, "documents"),
          "doc_id", "text", isTarget = col("lang") === "en")
        .select(col("doc_id"), col("n_bigrams"), col("ce_target"),
          col("ce_corpus"), (col("delta") + lit(0)).as("delta"))
        .orderBy("doc_id")
    },

    // Temperature-weighted domain mixture (α = 0.5 upsamples small
    // sources) with deterministic hash-based sampling at the computed
    // per-domain rates; budget 200 docs.
    Q("pipe_domain_mix",
      """WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
        |tw AS (SELECT SUM(sqrt(CAST(n_docs AS DOUBLE))) AS tw FROM c),
        |r AS (SELECT source, n_docs,
        |    sqrt(CAST(n_docs AS DOUBLE)) / (SELECT tw FROM tw) AS p,
        |    LEAST(1.0, 200.0 * (sqrt(CAST(n_docs AS DOUBLE)) / (SELECT tw FROM tw))
        |      / n_docs) AS rate
        |  FROM c),
        |smp AS (SELECT d.source, COUNT(*) AS n_sampled
        |  FROM documents d JOIN r USING (source)
        |  WHERE ((('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      + 1) / power(2.0, 60)) < r.rate
        |  GROUP BY d.source)
        |SELECT r.source, r.n_docs, ROUND(r.p, 6) AS p, ROUND(r.rate, 6) AS rate,
        |  COALESCE(smp.n_sampled, 0) AS n_sampled
        |FROM r LEFT JOIN smp USING (source) ORDER BY source""".stripMargin) {
      (s, dir) =>
        val docs = Tables(s, dir, "documents")
        val counts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
        val rates = Sampling.mixtureRates(counts, "n_docs", alpha = 0.5,
          budget = 200)
        val sampled = Sampling
          .mixtureSample(docs.select("source", "doc_id"), "source", "doc_id", rates)
          .groupBy("source").agg(count(lit(1)).as("n_sampled"))
        rates.join(sampled, Seq("source"), "left")
          .select(col("source"), col("n_docs"),
            round(col("p"), 6).as("p"), round(col("rate"), 6).as("rate"),
            coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
          .orderBy("source")
    },

    // Capacity-constrained water-filling allocation: target weights
    // w ∝ sqrt(cap) (the α=0.5 temperature convention of
    // pipe_domain_mix) against per-language token capacities, budget =
    // 85% of the corpus — high enough that small languages SATURATE
    // (take all they have) and their unmet share redistributes to the
    // rest at the closed-form water level λ. Integer-weight running
    // sums make every accumulation exact (no cross-engine float-order
    // risk); r/λ/alloc are pointwise double ops on identical inputs.
    Q("pipe_token_waterfill",
      """WITH c AS (SELECT lang, SUM(len(string_split(text, ' ')))::BIGINT
        |    AS cap FROM documents GROUP BY lang),
        |w AS (SELECT lang, cap, CAST(FLOOR(SQRT(CAST(cap AS DOUBLE))
        |    * 1000000 + 0.5) AS BIGINT) AS wi FROM c),
        |t AS (SELECT SUM(wi)::BIGINT AS s, SUM(cap)::BIGINT AS tcap FROM w),
        |r AS (SELECT w.lang, w.cap, w.wi, t.s,
        |    CAST(FLOOR(0.85 * CAST(t.tcap AS DOUBLE)) AS BIGINT) AS b,
        |    CAST(w.cap AS DOUBLE) * CAST(t.s AS DOUBLE)
        |      / CAST(w.wi AS DOUBLE) AS r
        |  FROM w CROSS JOIN t),
        |p AS (SELECT *,
        |    COALESCE(SUM(cap) OVER (ORDER BY r, lang
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_cap,
        |    COALESCE(SUM(wi) OVER (ORDER BY r, lang
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_w
        |  FROM r),
        |l AS (SELECT CAST(b - cum_cap AS DOUBLE) * CAST(s AS DOUBLE)
        |      / CAST(s - cum_w AS DOUBLE) AS lambda
        |  FROM p
        |  WHERE CAST(b - cum_cap AS DOUBLE) * CAST(s AS DOUBLE)
        |      / CAST(s - cum_w AS DOUBLE) <= r
        |  ORDER BY r, lang LIMIT 1)
        |SELECT r.lang, r.cap,
        |  ROUND(CAST(r.wi AS DOUBLE) / CAST(r.s AS DOUBLE), 6) AS w,
        |  ROUND(LEAST(CAST(r.cap AS DOUBLE),
        |    l.lambda * CAST(r.wi AS DOUBLE) / CAST(r.s AS DOUBLE)), 2)
        |    AS alloc,
        |  (r.r <= l.lambda) AS saturated
        |FROM r CROSS JOIN l ORDER BY lang""".stripMargin) { (s, dir) =>
      val caps = Tables(s, dir, "documents")
        .select(col("lang"), size(split(col("text"), " ", -1)).as("nt"))
        .groupBy("lang").agg(sum("nt").as("cap"))
        .withColumn("wi",
          floor(sqrt(col("cap").cast("double")) * 1e6 + 0.5).cast("long"))
      Sampling.waterFill(caps, "lang", "cap", "wi", budgetFrac = 0.85)
        .select(col("lang"), col("cap"), round(col("w"), 6).as("w"),
          round(col("alloc"), 2).as("alloc"), col("saturated"))
        .orderBy("lang")
    },

    // Data-constrained epoch allocation (Muennighoff et al. 2023):
    // budget = 70% of the 2-epoch capacity — MORE than the corpus's
    // unique tokens, so repeating is required and the small languages
    // SATURATE at the maxEpochs=2 repeat cap while en absorbs their
    // redistributed share fractionally. Equal weights (uniform mixing
    // with repeat caps); the allocation is reported raw and as
    // value-equivalent fresh tokens via the paper's fitted decay
    // (R* = 15.4). The oracle replays the waterFill λ chain on integer
    // running sums, then the same epochs/decay arithmetic on the
    // UNROUNDED allocation — rounding happens once, at the end, on
    // both sides (round-after-multiply absorbs last-ulp EXP libm
    // differences).
    Q("pipe_epoch_mix",
      """WITH c AS (SELECT lang, SUM(len(string_split(text, ' ')))::BIGINT
        |    AS u FROM documents GROUP BY lang),
        |w AS (SELECT lang, u, u * 2 AS cap,
        |    CAST(1000000 AS BIGINT) AS wi FROM c),
        |t AS (SELECT SUM(wi)::BIGINT AS s, SUM(cap)::BIGINT AS tcap FROM w),
        |r AS (SELECT w.lang, w.u, w.cap, w.wi, t.s,
        |    CAST(FLOOR(0.7 * CAST(t.tcap AS DOUBLE)) AS BIGINT) AS b,
        |    CAST(w.cap AS DOUBLE) * CAST(t.s AS DOUBLE)
        |      / CAST(w.wi AS DOUBLE) AS r
        |  FROM w CROSS JOIN t),
        |p AS (SELECT *,
        |    COALESCE(SUM(cap) OVER (ORDER BY r, lang
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_cap,
        |    COALESCE(SUM(wi) OVER (ORDER BY r, lang
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_w
        |  FROM r),
        |l AS (SELECT CAST(b - cum_cap AS DOUBLE) * CAST(s AS DOUBLE)
        |      / CAST(s - cum_w AS DOUBLE) AS lambda
        |  FROM p
        |  WHERE CAST(b - cum_cap AS DOUBLE) * CAST(s AS DOUBLE)
        |      / CAST(s - cum_w AS DOUBLE) <= r
        |  ORDER BY r, lang LIMIT 1),
        |a AS (SELECT r.lang, r.u, r.cap, r.r, l.lambda,
        |    LEAST(CAST(r.cap AS DOUBLE),
        |      l.lambda * CAST(r.wi AS DOUBLE) / CAST(r.s AS DOUBLE)) AS al
        |  FROM r CROSS JOIN l)
        |SELECT lang, u AS unique_tokens, cap, ROUND(al, 2) AS alloc,
        |  ROUND(al / CAST(u AS DOUBLE), 4) AS epochs,
        |  ROUND(CASE WHEN al / CAST(u AS DOUBLE) <= 1.0 THEN al
        |    ELSE CAST(u AS DOUBLE) * (1.0 + 15.4 * (1.0
        |      - EXP((1.0 - al / CAST(u AS DOUBLE)) / 15.4))) END, 2)
        |    AS effective_tokens,
        |  (r <= lambda) AS saturated
        |FROM a ORDER BY lang""".stripMargin) { (s, dir) =>
      val uniq = Tables(s, dir, "documents")
        .select(col("lang"), size(split(col("text"), " ", -1)).as("nt"))
        .groupBy("lang").agg(sum("nt").as("u"))
        .withColumn("wi", lit(1000000L))
      Sampling.epochMix(uniq, "lang", "u", "wi",
          maxEpochs = 2, budgetFrac = 0.7)
        .select(col("lang"), col("unique_tokens"), col("cap"),
          round(col("alloc"), 2).as("alloc"),
          round(col("epochs"), 4).as("epochs"),
          round(col("effective_tokens"), 2).as("effective_tokens"),
          col("saturated"))
        .orderBy("lang")
    },

    // Sliding-window chunking: 40-token windows, stride 30 (10-token
    // overlap) — the fixed-context pre-tokenization step.
    Q("pipe_chunk_overlap",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |x AS (SELECT doc_id, toks, len(toks) AS n,
        |    unnest(generate_series(0, CASE WHEN len(toks) <= 40 THEN 0
        |      ELSE (len(toks) - 40 + 29) // 30 END)) AS c
        |  FROM t)
        |SELECT doc_id, c AS chunk_id, LEAST(n - c * 30, 40) AS chunk_tokens,
        |  md5(array_to_string(list_slice(toks, c * 30 + 1, c * 30 + 40), ' '))
        |    AS chunk_md5
        |FROM x ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          explode(Text.chunkTokens(split(col("text"), " ", -1),
            window = 40, stride = 30)).as("c"))
        .select(col("doc_id"), col("c.chunk_id").as("chunk_id"),
          col("c.chunk_tokens").as("chunk_tokens"),
          md5(col("c.chunk_text")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    },

    // Corpus heavy hitters: exact token top-20 (deterministic
    // tie-break). One map-side-combinable aggregate + a 20-row limit.
    Q("t_heavy_hitters",
      """SELECT token, COUNT(*) AS n FROM
        |  (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin) {
      (s, dir) =>
        Tables(s, dir, "documents")
          .select(explode(split(col("text"), " ", -1)).as("token"))
          .groupBy("token").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("token")).limit(20)
    },

    // Weighted sample without replacement: Efraimidis–Spirakis top-3 per
    // language, weight = n_chars, deterministic via the md5 uniform.
    Q("ext_weighted_sample",
      """WITH k AS (SELECT lang, doc_id,
        |    LN(((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 1)
        |      / power(2.0, 60))) / n_chars AS es_key
        |  FROM documents),
        |r AS (SELECT lang, doc_id, es_key,
        |    row_number() OVER (PARTITION BY lang ORDER BY es_key DESC, doc_id)
        |      AS rk
        |  FROM k)
        |SELECT lang, doc_id, ROUND(es_key, 4) + 0.0 AS es_key, rk
        |FROM r WHERE rk <= 3 ORDER BY lang, rk""".stripMargin) { (s, dir) =>
      Sampling.weightedSample(Tables(s, dir, "documents"),
          "lang", "doc_id", "n_chars", k = 3)
        .select(col("lang"), col("doc_id"),
          // + 0.0 normalizes a rounded -0.0 (es_key is always negative,
          // so a near-zero key rounds to -0.0) — oracle applies the same
          (round(col("es_key"), 4) + lit(0.0)).as("es_key"), col("rk"))
        .orderBy("lang", "rk")
    },

    // Covariance matrix of the embedding column — ONE distributed pass,
    // d²-sized shuffle regardless of N (see Similarity.covarianceMatrix).
    Q("sim_pca_cov",
      """WITH v AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |    unnest(CAST(embedding AS DOUBLE[])) AS x FROM embeddings),
        |m AS (SELECT i, AVG(x) AS m, COUNT(*) AS n FROM v GROUP BY i),
        |c AS (SELECT a.i AS i, b.i AS j, SUM(a.x * b.x) AS sxy
        |  FROM v a JOIN v b USING (vec_id) GROUP BY a.i, b.i)
        |SELECT c.i - 1 AS i, c.j - 1 AS j,
        |  ROUND(c.sxy / ma.n - ma.m * mb.m, 6) + 0.0 AS cov
        |FROM c JOIN m ma ON ma.i = c.i JOIN m mb ON mb.i = c.j
        |ORDER BY i, j""".stripMargin) { (s, dir) =>
      // fannedOut: the d² outer-product fan-out is CPU-dense and the
      // single-file test table would otherwise scan as one partition
      Similarity.covarianceMatrix(Tables.fannedOut(s, dir, "embeddings"),
          "embedding", dim = 64)
        .select(col("i"), col("j"),
          // + 0.0: off-diagonal covariances are signed, a tiny negative
          // rounds to -0.0 — normalize exactly as the oracle does
          (round(col("cov"), 6) + lit(0.0)).as("cov"))
        .orderBy("i", "j")
    },


    // Top principal component by power iteration: the d×d covariance is
    // data-size-independent, so the iteration runs on collected driver
    // state (32 KB) — the distributed work is the single covariance pass.
    Q("sim_pca_power", pcaPowerSql) { (s, dir) =>
      val covRows = Similarity
        .covarianceMatrix(Tables.fannedOut(s, dir, "embeddings"),
          "embedding", dim = 64)
        // collect-bound: 64x64 covariance grid (32 KB)
        .collect()
      val c = Array.ofDim[Double](64, 64)
      covRows.foreach(r => c(r.getLong(0).toInt)(r.getLong(1).toInt) = r.getDouble(2))
      val (v, eig) = Similarity.powerIteration(c, pcaIters)
      // HALF_UP == both engines' ROUND; "+ 0.0" normalizes -0.0 (the
      // oracle applies the same) so near-zero loadings hash identically
      def r4(x: Double): Double =
        BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
      import s.implicits._
      v.zipWithIndex.toSeq.map { case (l, i) => (i, r4(l), r4(eig)) }
        .toDF("i", "loading", "eigval").orderBy("i")
    },

    // PCA projection: score every embedding on the top principal
    // component. The 100 TB shape: the loadings are 64 doubles of
    // driver state (from the data-size-independent covariance), so the
    // projection is a map-only broadcast dot product — zero shuffle over
    // the vector table. Both engines use their OWN full-precision
    // iterate (identical arithmetic sequence); agreement to 4 decimals
    // is the same stability contract sim_pca_power pins.
    Q("sim_pca_project",
      pcaPowerCtes +
        s"""SELECT v.vec_id, ROUND(SUM(p$pcaIters.val * v.x), 4) + 0.0 AS proj
           |FROM v JOIN p$pcaIters ON p$pcaIters.i = v.i
           |GROUP BY v.vec_id ORDER BY v.vec_id""".stripMargin) { (s, dir) =>
      val emb = Tables.fannedOut(s, dir, "embeddings")
      val covRows = Similarity
        // collect-bound: 64x64 covariance grid (32 KB)
        .covarianceMatrix(emb, "embedding", dim = 64).collect()
      val c = Array.ofDim[Double](64, 64)
      covRows.foreach(r => c(r.getLong(0).toInt)(r.getLong(1).toInt) = r.getDouble(2))
      val (v, _) = Similarity.powerIteration(c, pcaIters)
      val loadings = array(v.map(lit): _*)
      emb.select(col("vec_id"),
          (round(aggregate(
            zip_with(col("embedding").cast("array<double>"), loadings, _ * _),
            lit(0.0), _ + _), 4) + lit(0.0)).as("proj"))
        .orderBy("vec_id")
    },

    // Hashed linear quality classifier (the fastText-filter shape of
    // CCNet/fineweb): token → feature slot by portable hash, margin =
    // Σ slot weights (hash-derived integers standing in for trained
    // weights — same compute shape, oracle re-derives the whole model).
    // Map-only: one aggregate HOF per row, no shuffle at any scale.
    Q("t_quality_model",
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |f AS (SELECT doc_id, ('0x' || substr(md5('w' ||
        |      (('0x' || substr(md5(tok), 1, 15))::BIGINT % 1024)::VARCHAR),
        |      1, 15))::BIGINT % 2001 - 1000 AS wi
        |  FROM t),
        |s AS (SELECT doc_id, SUM(wi)::BIGINT AS margin_int,
        |    COUNT(*)::BIGINT AS nt FROM f GROUP BY doc_id)
        |SELECT doc_id, nt, margin_int,
        |  ROUND(1.0 / (1.0 + exp(-(margin_int / (1000.0 * nt)))), 4) + 0.0 AS prob
        |FROM s ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ", -1)).cast("long").as("nt"),
          Text.classifierMarginInt(split(col("text"), " ", -1), 1024)
            .as("margin_int"))
        .select(col("doc_id"), col("nt"), col("margin_int"),
          (round(Text.classifierProb(col("margin_int"), col("nt")), 4)
            + lit(0.0)).as("prob"))
        .orderBy("doc_id")
    },

    // Deterministic epoch shuffle into training shards: shard and
    // within-shard position from a content hash of (id, epoch seed).
    // The window-by-shard form is physically the write-side
    // repartition(shard) + sortWithinPartitions layout; at 100 TB
    // shards are file-sized (thousands), so nothing is hot.
    Q("pipe_shard_shuffle",
      """WITH h AS (SELECT doc_id,
        |    ('0x' || substr(md5(doc_id::VARCHAR || ':ep0'), 1, 15))::BIGINT AS h
        |  FROM documents)
        |SELECT doc_id, (h % 8)::INT AS shard,
        |  (ROW_NUMBER() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) - 1)::BIGINT
        |    AS pos
        |FROM h ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Sampling.shardShuffle(
          Tables(s, dir, "documents").select("doc_id"), "doc_id", 8, "ep0")
        .orderBy("doc_id")
    },

    // Token-budget selection: each source spends a fixed token budget on
    // its highest-margin docs (integer margins from the hashed
    // classifier → the ordering is engine-exact). One shuffle on the
    // domain key; running total via a domain-partitioned window.
    Q("pipe_token_budget",
      """WITH t AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |f AS (SELECT doc_id, source, ('0x' || substr(md5('w' ||
        |      (('0x' || substr(md5(tok), 1, 15))::BIGINT % 1024)::VARCHAR),
        |      1, 15))::BIGINT % 2001 - 1000 AS wi
        |  FROM t),
        |s AS (SELECT doc_id, source, SUM(wi)::BIGINT AS pri,
        |    COUNT(*)::BIGINT AS nt FROM f GROUP BY doc_id, source),
        |c AS (SELECT doc_id, source, nt, pri,
        |    SUM(nt) OVER (PARTITION BY source ORDER BY pri DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |      AS cum_tokens
        |  FROM s)
        |SELECT doc_id, source, nt, pri, cum_tokens FROM c
        |WHERE cum_tokens <= 600 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val base = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ", -1)).cast("long").as("nt"),
          Text.classifierMarginInt(split(col("text"), " ", -1), 1024).as("pri"))
      Sampling.tokenBudgetFilter(base, "source", "doc_id", "nt", "pri", 600L)
        .select("doc_id", "source", "nt", "pri", "cum_tokens")
        .orderBy("doc_id")
    },

    // Temperature-weighted oversampling WITH replacement: domain weight
    // min(sqrt(N_max/N_dom), 4), floor(w) copies + one more when the
    // content-hash uniform < frac(w) — E[copies] = w exactly, largest
    // domain emits exactly 1 copy, fully deterministic. The oracle
    // re-derives weights, uniforms, and the per-copy explode.
    Q("pipe_oversample",
      """WITH c AS (SELECT source, COUNT(*)::BIGINT AS n FROM documents
        |  GROUP BY 1),
        |m AS (SELECT MAX(n) AS mx FROM c),
        |w AS (SELECT source, LEAST(SQRT(mx * 1.0 / n), 4.0) AS w FROM c, m),
        |d AS (SELECT doc_id, documents.source, w.w,
        |    (('0x' || substr(md5(doc_id::VARCHAR || ':os0'), 1, 15))::BIGINT
        |      % 1000000) / 1000000.0 AS u
        |  FROM documents JOIN w USING (source)),
        |k AS (SELECT doc_id, source,
        |    (FLOOR(w) + CASE WHEN u < w - FLOOR(w) THEN 1 ELSE 0 END)::BIGINT
        |      AS n_copies FROM d)
        |SELECT doc_id, source, n_copies,
        |  unnest(generate_series(1, n_copies)) AS copy
        |FROM k ORDER BY doc_id, copy""".stripMargin) { (s, dir) =>
      Sampling.oversample(Tables(s, dir, "documents")
            .select("doc_id", "source"),
          "doc_id", "source", alpha = 0.5, maxCopies = 4.0, seed = "os0")
        .select("doc_id", "source", "n_copies", "copy")
        .orderBy("doc_id", "copy")
    },

    // Count-min sketch: 4×64 counter grid over the token stream, point
    // estimates for the exact top-10 tokens beside their true counts.
    // The sketch is depth·width rows REGARDLESS of corpus size — the
    // aggregate ships sketch-sized partials; estimates broadcast the
    // sketch. est ≥ exact always; the deliberately narrow width makes
    // the collision over-count visible. Oracle re-derives the grid and
    // every estimate from the same salted-md5 family.
    Q("t_cms_counts",
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |ex AS (SELECT tok, COUNT(*)::BIGINT AS n_exact FROM t GROUP BY tok),
        |top AS (SELECT tok, n_exact FROM ex
        |  ORDER BY n_exact DESC, tok LIMIT 10),
        |sl AS (SELECT tok, j,
        |    ('0x' || substr(md5('cms' || j::VARCHAR || ':' || tok), 1, 15))::BIGINT
        |      % 64 AS slot
        |  FROM t CROSS JOIN generate_series(0, 3) AS g(j)),
        |sk AS (SELECT j, slot, COUNT(*)::BIGINT AS c FROM sl GROUP BY 1, 2),
        |ts AS (SELECT top.tok, j,
        |    ('0x' || substr(md5('cms' || j::VARCHAR || ':' || tok), 1, 15))::BIGINT
        |      % 64 AS slot
        |  FROM top CROSS JOIN generate_series(0, 3) AS g(j)),
        |est AS (SELECT ts.tok, MIN(sk.c) AS cms_est
        |  FROM ts JOIN sk USING (j, slot) GROUP BY 1)
        |SELECT top.tok, top.n_exact, est.cms_est
        |FROM top JOIN est USING (tok) ORDER BY tok""".stripMargin) { (s, dir) =>
      import graft.ops.Sketches
      val toks = Tables(s, dir, "documents")
        .select(explode(split(col("text"), " ", -1)).as("tok"))
      val exact = toks.groupBy("tok").agg(count(lit(1)).as("n_exact"))
      val top = exact.orderBy(col("n_exact").desc, col("tok")).limit(10)
      val sketch = Sketches.cmsSketch(toks, "tok", depth = 4, width = 64)
      top.join(Sketches.cmsEstimate(top.select("tok"), "tok", sketch,
          depth = 4, width = 64), "tok")
        .select("tok", "n_exact", "cms_est")
        .orderBy("tok")
    },

    // BPE round-1 statistics: weighted adjacent symbol-pair counts over
    // the initial char+</w> segmentation, top 20 — the aggregate every
    // training round runs (vocabulary-sized from round 1 on; the corpus
    // is touched exactly once). Oracled by per-occurrence pair counts
    // (equal to vocab-weighted counts by construction).
    Q("t_bpe_pairs",
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |p0 AS (SELECT tok, unnest(generate_series(1, len(tok))) AS i FROM t),
        |p AS (SELECT tok[i] AS a,
        |    CASE WHEN i < len(tok) THEN tok[i+1] ELSE '</w>' END AS bb
        |  FROM p0),
        |c AS (SELECT a, bb, COUNT(*)::BIGINT AS n FROM p GROUP BY 1, 2)
        |SELECT a, bb, n FROM c ORDER BY n DESC, a, bb LIMIT 20""".stripMargin) {
      (s, dir) =>
        val vocab = graft.ops.Bpe.wordVocab(
            Tables(s, dir, "documents")
              .select(explode(split(col("text"), " ", -1)).as("tok"))
              .filter(length(col("tok")) >= 1),
            "tok")
          .select(col("word"), col("wc"),
            graft.ops.Bpe.initialSymbols(col("word")).as("syms"))
        graft.ops.Bpe.pairCounts(vocab)
          .orderBy(col("n").desc, col("a"), col("bb")).limit(20)
    },

    // Full BPE tokenizer training (8 merges) over the corpus: each round
    // is a vocabulary-sized pair-count aggregate + a 1-row deterministic
    // argmax (count desc, pair lexicographic) collected as bounded
    // driver state — the PCA-power-iteration pattern. VALUE-ORACLED
    // since round 11 (the unigram-trainer unrolled-round pattern): the
    // oracle unrolls all 8 merge rounds — see [[bpeTrainOracleSql]].
    // The trainer additionally keeps its TrainSpec pin against the
    // classic Sennrich example, and round-1 statistics are oracled
    // above (t_bpe_pairs).
    Q("t_bpe_train", bpeTrainOracleSql) { (s, dir) =>
      import s.implicits._
      val toks = Tables.fannedOut(s, dir, "documents")
        .select(explode(split(col("text"), " ", -1)).as("tok"))
        .filter(length(col("tok")) >= 1)
      graft.ops.Bpe.train(toks, "tok", numMerges = 8)
        .toDF("rank", "a", "b", "merged", "n")
        .orderBy("rank")
    },

    // Incremental (delta) dedup: the daily-ingest composition — src0 is
    // the arriving batch, everything else the standing corpus. Exact via
    // fingerprint lookup, near via LSH bucket join + Jaccard verify;
    // corpus work reduces to fingerprints + band hashes (precomputable
    // as a signature store at scale), so steady-state cost follows the
    // batch. Oracle re-derives both sides' signature chains.
    Q("dedup_incremental",
      """WITH newd AS (SELECT doc_id, text FROM documents WHERE source = 'src0'),
        |corp AS (SELECT doc_id, text FROM documents WHERE source <> 'src0'),
        |ex AS (SELECT DISTINCT n.doc_id
        |  FROM (SELECT doc_id, md5(trim(regexp_replace(regexp_replace(
        |      lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp
        |    FROM newd) n
        |  JOIN (SELECT DISTINCT md5(trim(regexp_replace(regexp_replace(
        |      lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp
        |    FROM corp) c ON n.fp = c.fp),
        |nws AS (SELECT doc_id, list_distinct([array_to_string(ws[i:i+3], ' ')
        |    FOR i IN generate_series(1, greatest(len(ws) - 3, 1))]) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM newd)),
        |cws AS (SELECT doc_id, list_distinct([array_to_string(ws[i:i+3], ' ')
        |    FOR i IN generate_series(1, greatest(len(ws) - 3, 1))]) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM corp)),
        |ncomp AS (SELECT doc_id, j,
        |    MIN(('0x' || substr(md5(j::VARCHAR || ' ' || s), 1, 15))::BIGINT) AS c
        |  FROM (SELECT doc_id, unnest(sh) AS s FROM nws)
        |  CROSS JOIN generate_series(0, 15) AS g(j) GROUP BY doc_id, j),
        |nsig AS (SELECT doc_id, list(c ORDER BY j) AS cs FROM ncomp
        |  GROUP BY doc_id),
        |nband AS (SELECT doc_id, j,
        |    md5(array_to_string(cs[j*4+1 : j*4+4], ',')) AS bh
        |  FROM nsig CROSS JOIN generate_series(0, 3) AS g(j)),
        |ccomp AS (SELECT doc_id, j,
        |    MIN(('0x' || substr(md5(j::VARCHAR || ' ' || s), 1, 15))::BIGINT) AS c
        |  FROM (SELECT doc_id, unnest(sh) AS s FROM cws)
        |  CROSS JOIN generate_series(0, 15) AS g(j) GROUP BY doc_id, j),
        |csig AS (SELECT doc_id, list(c ORDER BY j) AS cs FROM ccomp
        |  GROUP BY doc_id),
        |cband AS (SELECT doc_id, j,
        |    md5(array_to_string(cs[j*4+1 : j*4+4], ',')) AS bh
        |  FROM csig CROSS JOIN generate_series(0, 3) AS g(j)),
        |cand AS (SELECT DISTINCT n.doc_id AS nid, c.doc_id AS cid
        |  FROM nband n JOIN cband c ON n.j = c.j AND n.bh = c.bh),
        |near AS (SELECT DISTINCT cand.nid AS doc_id FROM cand
        |  JOIN nws ON nws.doc_id = cand.nid
        |  JOIN cws ON cws.doc_id = cand.cid
        |  WHERE CAST(len(list_intersect(nws.sh, cws.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(nws.sh, cws.sh))) >= 0.5)
        |SELECT n.doc_id,
        |  CASE WHEN ex.doc_id IS NOT NULL THEN 'exact_dup'
        |    WHEN near.doc_id IS NOT NULL THEN 'near_dup'
        |    ELSE 'kept' END AS status
        |FROM newd n
        |LEFT JOIN ex ON ex.doc_id = n.doc_id
        |LEFT JOIN near ON near.doc_id = n.doc_id
        |ORDER BY n.doc_id""".stripMargin) { (s, dir) =>
      // fannedOut (standing rule 7): the shingle+minhash derivation is
      // CPU-dense per-row and the single-file scan would single-thread
      // it; each side's shingle stream has two consumers (band hashes
      // + Jaccard verify) — the operator persists it, and the
      // per-query Measure.releaseAll frees it
      val docs = Tables.fannedOut(s, dir, "documents")
      Curation.incrementalDedup(
          docs.filter(col("source") === "src0").select("doc_id", "text"),
          docs.filter(col("source") =!= "src0").select("doc_id", "text"),
          "doc_id", "text", shingleK = 4, numHashes = 16, bands = 4,
          jaccardMin = 0.5)
        .orderBy("doc_id")
    },

    // Unigram-LM tokenizer, stage 1 — seed vocabulary: all substrings up
    // to 6 chars of the word vocabulary, weighted by word count, top 200
    // (ties by piece). One corpus aggregate + one vocabulary-sized
    // explode/aggregate.
    Q("t_unigram_seed",
      """WITH w AS (SELECT word, COUNT(*)::BIGINT AS c FROM
        |    (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE word <> '' GROUP BY word),
        |sub AS (SELECT unnest(flatten([[substring(word, s, l)
        |      FOR l IN generate_series(1, least(6, length(word) - s + 1))]
        |      FOR s IN generate_series(1, length(word))])) AS piece, c
        |  FROM w)
        |SELECT piece, SUM(c)::BIGINT AS n
        |FROM sub GROUP BY piece
        |ORDER BY n DESC, piece LIMIT 200""".stripMargin) { (s, dir) =>
      Unigram.substringCounts(
          Unigram.wordCounts(Tables(s, dir, "documents"), "text"))
        .orderBy(col("n").desc, col("piece")).limit(200)
    },

    // Unigram-LM tokenizer, stage 2 — Viterbi segmentation under the
    // seed-vocabulary costs (−ln n/Σn over top-200 ∪ single chars):
    // per-word minimum NLL. The engine path is the native UnigramViterbi
    // DP (O(len·L) per word, map-only); the oracle re-derives the vocab
    // and runs the SAME shortest path as an unrolled per-position min
    // (generated SQL below — words above the 8-position unroll are
    // excluded on both sides; none exist in this corpus, and the native
    // operator has no such cap). NLL is a path-ordered float sum on both
    // engines, rounded to 4 decimals.
    Q("t_unigram_viterbi", unigramViterbiOracleSql) { (s, dir) =>
      val words = Unigram.wordCounts(Tables(s, dir, "documents"), "text")
        .filter(length(col("word")) <= 8)
      val costs = Unigram.pieceCosts(Unigram.seedVocab(words))
      Unigram.segmented(words, costs)
        .filter(col("seg").isNotNull)
        .select(col("word"), round(col("seg.nll"), 4).as("nll"))
        .orderBy("word")
    },

    // Unigram-LM corpus encode under the (deterministic) seed costs:
    // per-document word count and total segmentation NLL. The DP runs
    // over DISTINCT words only; per-word results broadcast-join back to
    // the per-doc token stream (the Bpe corpus-encode shape — corpus
    // cost is one explode + one join). Same 8-char word cap as the DP
    // oracle on both sides; piece COUNTS (argmin path length) have no
    // SQL twin and are pinned in UnigramSpec instead.
    Q("t_unigram_encode", unigramEncodeOracleSql) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val words = Unigram.wordCounts(docs, "text")
        .filter(length(col("word")) <= 8)
      val costs = Unigram.pieceCosts(Unigram.seedVocab(words))
      Unigram.encodeCorpus(docs, "doc_id", "text", costs, maxWordLen = 8)
        .select(col("doc_id"), col("n_words"), col("nll"))
        .orderBy("doc_id")
    },

    // Unigram-LM tokenizer, stage 3 — full hard-EM training (3 Viterbi-EM
    // rounds from the seed): final piece table. Each round exchanges
    // vocabulary-sized data and collects the few-hundred-row cost table
    // as bounded driver state (Bpe.train pattern). VALUE-ORACLED since
    // round 10: the oracle unrolls all 3 EM rounds — per round, the
    // forward Viterbi DP (one CTE per position, the t_unigram_viterbi
    // pattern), an unrolled BACKTRACK recovering the argmin path (at
    // each cell the chosen arc is the argmin of p_s + cost with exact
    // ties to the longest piece — the expression's exact rule), the
    // weighted piece recount, top-200 + single-char floor, and cost
    // re-estimation. Words capped at 8 chars (the unroll bound, as in
    // the sibling DP oracles — hence maxWordLen = 8 here); the uncapped
    // trainer keeps its UnigramSpec invariant pins. Cross-engine FP:
    // costs are -ln of integer ratios (libm last-ulp drift), so argmin
    // choices could differ only on near-ties — which arise from
    // same-multiset segmentations and leave the COUNTS identical; the
    // integer counts re-sync both engines at every round boundary.
    Q("t_unigram_train", unigramTrainOracleSql) { (s, dir) =>
      Unigram.train(Tables(s, dir, "documents"), "text", rounds = 3,
          maxWordLen = 8)
        .select(col("piece"), col("n"), round(col("cost"), 4).as("cost"))
        .orderBy(col("n").desc, col("piece")).limit(50)
    },

    // WordPiece greedy longest-match encode (BERT tokenizer) over the
    // distinct-word table: per-word segmentation string + piece count.
    // Engine path = native greedy walk under the deterministic
    // position-aware vocabulary; oracle = the IDENTICAL greedy unrolled
    // one step per CTE (g1..g8 — each step consumes ≥1 char, words are
    // capped at 8 on both sides like the unigram DP oracle).
    Q("t_wordpiece_encode", wordpieceEncodeOracleSql) { (s, dir) =>
      val words = graft.ops.WordPiece
        .encodeWords(wordpieceWords(s, dir), wordpieceVocab(s, dir))
      // explicit [UNK] drop matching the oracle's semantics (its unrolled
      // greedy inner-joins on arcs, so an unsegmentable word vanishes):
      // vocab()'s single-char floor makes same-corpus [UNK] impossible
      // today, but the filter keeps the query correct if the vocab
      // policy or input ever changes instead of surfacing null rows the
      // oracle doesn't have
      words.filter(col("wp").isNotNull)
        .select(col("word"),
          array_join(col("wp"), " ").as("wp"),
          size(col("wp")).cast("long").as("n_pieces"))
        .orderBy("word")
    },

    // Tokenizer-aware sequence packing — the REAL packing pipeline:
    // pipe_seq_pack bins by whitespace tokens, but training sequences
    // are budgeted in TOKENIZER pieces, so this end-to-end composes the
    // WordPiece corpus encode (greedy over distinct words, broadcast
    // join back) with the two-phase distributed prefix sum into
    // 2048-piece bins. One corpus explode + vocab-sized segmenter work
    // + the prefix-sum exchange — no stage grows super-linearly.
    Q("pipe_tokenize_pack", wordpiecePackOracleSql) { (s, dir) =>
      val enc = graft.ops.WordPiece.encodeCorpus(
        Tables(s, dir, "documents"), "doc_id", "text",
        wordpieceVocab(s, dir), maxWordLen = wordpieceMaxLen)
      graft.ops.Relational.prefixSum(
          enc.select(col("doc_id"), col("n_pieces")), "doc_id", "n_pieces", "cum")
        .withColumn("bin",
          floor((col("cum") - col("n_pieces")) / 2048.0).cast("long"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"), sum("n_pieces").as("sum_pieces"))
        .orderBy("bin")
    },

    // WordPiece corpus encode: per-document word/piece counts (fertility
    // = ratio, consumer divides) — greedy over DISTINCT words, broadcast
    // join back to the token stream. Oracle reuses the unrolled-greedy
    // CTEs joined to the per-doc word events.
    Q("t_wordpiece_corpus", wordpieceCorpusOracleSql) { (s, dir) =>
      graft.ops.WordPiece.encodeCorpus(
          Tables(s, dir, "documents"), "doc_id", "text",
          wordpieceVocab(s, dir), maxWordLen = wordpieceMaxLen)
        .orderBy("doc_id")
    },

    // Tokenizer fertility — pieces per word by language, THE standard
    // metric for comparing tokenizers across languages (a fertility of 2
    // means the tokenizer splits the average word in two; high-fertility
    // languages pay more sequence length per sentence). Same greedy
    // WordPiece encode as t_wordpiece_corpus, grouped by lang instead of
    // doc — one distinct-word encode (vocab-bounded), broadcast back,
    // one lang-sized aggregate.
    Q("t_tokenizer_fertility", wordpieceFertilityOracleSql) { (s, dir) =>
      graft.ops.WordPiece.encodeCorpus(
          Tables(s, dir, "documents"), "lang", "text",
          wordpieceVocab(s, dir), maxWordLen = wordpieceMaxLen)
        .withColumn("fertility",
          round(col("n_pieces").cast("double") / col("n_words"), 4) + lit(0))
        .orderBy("lang")
    },

    // Tokenizer byte parity — UTF-8 bytes per piece by language and the
    // premium each language pays relative to the most byte-efficient
    // one (Petrov et al. 2023, "Language Model Tokenizers Introduce
    // Unfairness Between Languages": token-count disparities translate
    // directly into cost/latency/context disparities). Fertility
    // (above) measures pieces per WORD; this measures pieces per BYTE —
    // the metric that survives languages with different word lengths.
    // Same one-pass shape as fertility: distinct-word greedy encode
    // broadcast back onto the exploded word stream, one lang-sized
    // aggregate; the premium is a window max over the lang-count-sized
    // result. Byte counts use the same word cap as the encode so the
    // numerator and denominator cover identical text.
    Q("t_tokenizer_parity",
      wordpieceCtes +
        s""",
           |dw AS (SELECT lang, word FROM
           |    (SELECT lang, unnest(string_split(text, ' ')) AS word
           |     FROM documents)
           |  WHERE word <> '' AND length(word) <= $wordpieceMaxLen),
           |bl AS (SELECT dw.lang, COUNT(*)::BIGINT AS n_words,
           |    SUM(strlen(word))::BIGINT AS n_bytes,
           |    SUM(e.n_pieces)::BIGINT AS n_pieces
           |  FROM dw JOIN enc e USING (word) GROUP BY dw.lang),
           |bp AS (SELECT *, CAST(n_bytes AS DOUBLE) / n_pieces AS bpp
           |  FROM bl)
           |SELECT lang, n_words, n_bytes, n_pieces,
           |  ROUND(bpp, 4) + 0 AS bytes_per_piece,
           |  ROUND(MAX(bpp) OVER () / bpp, 4) + 0 AS parity_premium
           |FROM bp ORDER BY lang""".stripMargin) { (s, dir) =>
      val words = Tables(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ", -1)).as("word"))
        .filter(col("word") =!= "" && length(col("word")) <= wordpieceMaxLen)
      val enc = graft.ops.WordPiece
        .encodeWords(wordpieceWords(s, dir), wordpieceVocab(s, dir))
        .filter(col("wp").isNotNull)
        .select(col("word"), size(col("wp")).cast("long").as("n_pieces"))
      words.join(broadcast(enc), "word")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_words"),
          sum(octet_length(col("word"))).as("n_bytes"),
          sum("n_pieces").as("n_pieces"))
        .withColumn("bpp", col("n_bytes").cast("double") / col("n_pieces"))
        // bounded: lang-cardinality rows (post groupBy("lang"))
        .withColumn("bpp_best", max("bpp").over(
          org.apache.spark.sql.expressions.Window.partitionBy(lit(0))))
        .select(col("lang"), col("n_words"), col("n_bytes"), col("n_pieces"),
          (round(col("bpp"), 4) + lit(0)).as("bytes_per_piece"),
          (round(col("bpp_best") / col("bpp"), 4) + lit(0)).as("parity_premium"))
        .orderBy("lang")
    },

    // SFT conversation assembly (round 14): the chat-tuning data-prep
    // step — the event log becomes one role-tagged training document
    // per thread: turns ranked by (ts, event_id), HEAD-truncated to 64
    // turns BEFORE the collect (bounded per-group state — the
    // power-user thread cannot OOM the assembly), rendered
    // `<|role|> text`, newline-joined. md5 pins membership, order,
    // rendering, and separators byte-exactly; n_chars pins the
    // assembled length independently of the hash. The oracle replays
    // the rank/truncate/render/join chain with an ordered string_agg.
    Q("pipe_sft_assemble",
      """WITH r AS (SELECT user_id, ts, event_id, event_type, props,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rk
        |  FROM events),
        |t AS (SELECT user_id, rk,
        |    '<|' || event_type || '|> ' || props AS turn
        |  FROM r WHERE rk <= 64)
        |SELECT user_id AS thread_id, COUNT(*)::BIGINT AS n_turns,
        |  len(string_agg(turn, chr(10) ORDER BY rk))::BIGINT AS n_chars,
        |  md5(string_agg(turn, chr(10) ORDER BY rk)) AS convo_md5
        |FROM t GROUP BY user_id ORDER BY thread_id""".stripMargin) { (s, dir) =>
      Curation.sftAssemble(Tables(s, dir, "events"),
          "user_id", "ts", "event_id", "event_type", "props", maxTurns = 64)
        .select(col("thread_id"), col("n_turns"), col("n_chars"),
          md5(col("convo")).as("convo_md5"))
        .orderBy("thread_id")
    },

    // Cross-domain shingle overlap matrix (round 14): the data-mixing
    // diagnostic — directed containment |A∩B|/|A| and Jaccard over
    // distinct word 3-gram shingle sets per source domain. Per-shingle
    // state is the DOMAIN SET (bounded by the domain count), so no
    // maxDf guard is needed: the ubiquitous shingle that explodes a
    // doc-pair join contributes one bounded row here. Ratios use the
    // tie-proof floor(x·10⁴+0.5)/10⁴ form on BOTH sides (divide first,
    // then scale — operand order is part of the contract).
    Q("t_domain_overlap",
      """WITH sh AS (SELECT DISTINCT source AS d, shingle FROM (
        |    SELECT source, unnest(list_distinct(
        |        [array_to_string(ws[i:i+2], ' ')
        |         FOR i IN generate_series(1, greatest(len(ws) - 2, 1))]))
        |      AS shingle
        |    FROM (SELECT source, string_split(text, ' ') AS ws
        |          FROM documents))),
        |sz AS (SELECT d, COUNT(*)::BIGINT AS n FROM sh GROUP BY d),
        |ov AS (SELECT a.d AS src_a, b.d AS src_b, COUNT(*)::BIGINT AS n_inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.d <> b.d
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, sa.n AS n_a, sb.n AS n_b, n_inter,
        |  FLOOR(n_inter / sa.n * 10000.0 + 0.5) / 10000.0 AS containment,
        |  FLOOR(n_inter / (sa.n + sb.n - n_inter) * 10000.0 + 0.5) / 10000.0
        |    AS jaccard
        |FROM ov JOIN sz sa ON sa.d = src_a JOIN sz sb ON sb.d = src_b
        |ORDER BY src_a, src_b""".stripMargin) { (s, dir) =>
      // fannedOut: the per-row shingle HOF chain is the dominant cost
      // and the single-file scan would run it on one thread
      Text.domainOverlap(Tables.fannedOut(s, dir, "documents"),
          "source", "text", k = 3)
        .orderBy("src_a", "src_b")
    },

    // T5 span corruption (round 14, Raffel et al. 2020 §3.1.4) — the
    // deterministic block variant: a block of 3 tokens masks when the
    // portable content hash of (doc_id, block) lands in 1/7 (~14%
    // noise, mean span 3; adjacent masked blocks merge into longer
    // spans via gaps-and-islands), sentinels numbered positionally.
    // Inputs/targets pinned byte-exactly by md5; counts pin density
    // and span structure independently of the strings.
    Q("pipe_span_corrupt",
      """WITH tk AS (SELECT doc_id, unnest(ws) AS tok,
        |    generate_subscripts(ws, 1)::BIGINT - 1 AS pos
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
        |        FROM documents)),
        |b AS (SELECT doc_id, pos, tok, pos // 3 AS blk,
        |    (('0x' || substr(md5(doc_id::VARCHAR || ':' ||
        |        (pos // 3)::VARCHAR), 1, 15))::BIGINT % 7 = 0) AS masked
        |  FROM tk),
        |mb AS (SELECT DISTINCT doc_id, blk FROM b WHERE masked),
        |isl AS (SELECT doc_id, blk, blk - row_number()
        |    OVER (PARTITION BY doc_id ORDER BY blk) AS island FROM mb),
        |sen AS (SELECT doc_id, blk, dense_rank()
        |    OVER (PARTITION BY doc_id ORDER BY island) - 1 AS sent FROM isl),
        |t2 AS (SELECT b.doc_id, b.pos, b.tok, sen.sent,
        |    MIN(b.pos) OVER (PARTITION BY b.doc_id, sen.sent) AS fp
        |  FROM b LEFT JOIN sen ON sen.doc_id = b.doc_id AND sen.blk = b.blk),
        |t3 AS (SELECT doc_id, pos, sent,
        |    CASE WHEN sent IS NULL THEN tok
        |         WHEN pos = fp THEN '<extra_id_' || sent || '>' END AS ip,
        |    CASE WHEN sent IS NOT NULL THEN
        |      CASE WHEN pos = fp
        |           THEN '<extra_id_' || sent || '> ' || tok
        |           ELSE tok END END AS tp
        |  FROM t2)
        |SELECT doc_id, COUNT(*)::BIGINT AS n_tokens,
        |  SUM(CASE WHEN sent IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
        |    AS n_masked,
        |  (COALESCE(MAX(sent), -1) + 1)::BIGINT AS n_spans,
        |  md5(COALESCE(string_agg(ip, ' ' ORDER BY pos), '')) AS inputs_md5,
        |  md5(COALESCE(string_agg(tp, ' ' ORDER BY pos), '')) AS targets_md5
        |FROM t3 GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.ops.Corrupt.spanCorrupt(Tables(s, dir, "documents"),
          "doc_id", "text", blockLen = 3, maskOneInK = 7)
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_masked"),
          col("n_spans"), md5(col("inputs")).as("inputs_md5"),
          md5(col("targets")).as("targets_md5"))
        .orderBy("doc_id")
    },

    // DoReMi domain reweighting (round 14, Xie et al. 2023) — the
    // count-LM instantiation: per-domain excess loss = KL(P_d‖P_corpus)
    // over token distributions (the unigram-LM log-likelihood gap;
    // ≥ 0 by Gibbs, smoothing-free since domain tokens all carry corpus
    // mass), then 3 unrolled exponentiated-gradient rounds from uniform
    // and the paper's ε-uniform smoothing. ONE token pass; the EG
    // unroll runs on the domain-cardinality table.
    Q("pipe_doremi_weights",
      """WITH h AS (SELECT domain, token, COUNT(*)::BIGINT AS c FROM (
        |    SELECT source AS domain,
        |      unnest(string_split(text, ' ')) AS token FROM documents)
        |  WHERE token <> '' GROUP BY domain, token),
        |g AS (SELECT token, SUM(c)::BIGINT AS cg FROM h GROUP BY token),
        |nd AS (SELECT domain, SUM(c)::BIGINT AS ndc FROM h GROUP BY domain),
        |ng AS (SELECT SUM(c)::BIGINT AS ngc FROM h),
        |kl AS (SELECT h.domain, MIN(nd.ndc) AS n_tokens,
        |    SUM(h.c / nd.ndc::DOUBLE * log2((h.c / nd.ndc::DOUBLE)
        |      / (g.cg / (SELECT ngc FROM ng)::DOUBLE))) AS excess
        |  FROM h JOIN g USING (token) JOIN nd USING (domain)
        |  GROUP BY h.domain),
        |k AS (SELECT COUNT(*)::DOUBLE AS kk FROM kl),
        |a0 AS (SELECT domain, n_tokens, excess,
        |    1.0 / (SELECT kk FROM k) AS alpha FROM kl),
        |r1 AS (SELECT domain, n_tokens, excess,
        |    alpha * exp(excess) AS a FROM a0),
        |a1 AS (SELECT domain, n_tokens, excess,
        |    a / (SELECT SUM(a) FROM r1) AS alpha FROM r1),
        |r2 AS (SELECT domain, n_tokens, excess,
        |    alpha * exp(excess) AS a FROM a1),
        |a2 AS (SELECT domain, n_tokens, excess,
        |    a / (SELECT SUM(a) FROM r2) AS alpha FROM r2),
        |r3 AS (SELECT domain, n_tokens, excess,
        |    alpha * exp(excess) AS a FROM a2),
        |a3 AS (SELECT domain, n_tokens, excess,
        |    a / (SELECT SUM(a) FROM r3) AS alpha FROM r3)
        |SELECT domain AS source, n_tokens,
        |  ROUND(excess, 4) + 0 AS excess,
        |  ROUND(0.9 * alpha + 0.1 / (SELECT kk FROM k), 4) + 0 AS weight
        |FROM a3 ORDER BY source""".stripMargin) { (s, dir) =>
      Sampling.doremiWeights(Tables.fannedOut(s, dir, "documents"),
          "source", "text", eta = 1.0, eps = 0.1, iters = 3)
        .select(col("domain").as("source"), col("n_tokens"),
          (round(col("excess"), 4) + lit(0)).as("excess"),
          (round(col("weight"), 4) + lit(0)).as("weight"))
        .orderBy("source")
    },

    // DoReMi stored-model split (round 15, judge r14 task 3): the
    // (domain, hashed-bucket) histogram is the STORED model —
    // domains×512 rows regardless of corpus vocabulary (the dsirModelDF
    // bounded-histogram pattern; hashing preserves totals so n_tokens
    // is exact, the bucketed KL is the DSIR-style approximation). The
    // query builds the store the way production does: two ingest
    // batches' models APPENDED without re-aggregation (the winMatrix
    // additive pattern), then doremiFromModel re-aggregates on read
    // and refits — so the oracle certifies additive append + refit in
    // one artifact. Portable md5 hash ⇒ fully DuckDB-oracle-able.
    Q("pipe_doremi_stored",
      """WITH h AS (SELECT domain, bucket, COUNT(*)::BIGINT AS c FROM (
        |    SELECT source AS domain,
        |      ('0x' || substr(md5(token), 1, 15))::BIGINT % 512 AS bucket
        |    FROM (SELECT source,
        |        unnest(string_split(text, ' ')) AS token FROM documents)
        |    WHERE token <> '') GROUP BY domain, bucket),
        |g AS (SELECT bucket, SUM(c)::BIGINT AS cg FROM h GROUP BY bucket),
        |nd AS (SELECT domain, SUM(c)::BIGINT AS ndc FROM h GROUP BY domain),
        |ng AS (SELECT SUM(c)::BIGINT AS ngc FROM h),
        |kl AS (SELECT h.domain, MIN(nd.ndc) AS n_tokens,
        |    SUM(h.c / nd.ndc::DOUBLE * log2((h.c / nd.ndc::DOUBLE)
        |      / (g.cg / (SELECT ngc FROM ng)::DOUBLE))) AS excess
        |  FROM h JOIN g USING (bucket) JOIN nd USING (domain)
        |  GROUP BY h.domain),
        |k AS (SELECT COUNT(*)::DOUBLE AS kk FROM kl),
        |a0 AS (SELECT domain, n_tokens, excess,
        |    1.0 / (SELECT kk FROM k) AS alpha FROM kl),
        |r1 AS (SELECT domain, n_tokens, excess,
        |    alpha * exp(excess) AS a FROM a0),
        |a1 AS (SELECT domain, n_tokens, excess,
        |    a / (SELECT SUM(a) FROM r1) AS alpha FROM r1),
        |r2 AS (SELECT domain, n_tokens, excess,
        |    alpha * exp(excess) AS a FROM a1),
        |a2 AS (SELECT domain, n_tokens, excess,
        |    a / (SELECT SUM(a) FROM r2) AS alpha FROM r2),
        |r3 AS (SELECT domain, n_tokens, excess,
        |    alpha * exp(excess) AS a FROM a2),
        |a3 AS (SELECT domain, n_tokens, excess,
        |    a / (SELECT SUM(a) FROM r3) AS alpha FROM r3)
        |SELECT domain AS source, n_tokens,
        |  ROUND(excess, 4) + 0 AS excess,
        |  ROUND(0.9 * alpha + 0.1 / (SELECT kk FROM k), 4) + 0 AS weight
        |FROM a3 ORDER BY source""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      // two ingest batches, models built independently and APPENDED —
      // duplicate (domain, bucket) keys reach the fit un-aggregated
      val store = Sampling.doremiModelDF(
          docs.filter(col("doc_id") % 2 === 0), "source", "text")
        .unionAll(Sampling.doremiModelDF(
          docs.filter(col("doc_id") % 2 =!= 0), "source", "text"))
      Sampling.doremiFromModel(store, eta = 1.0, eps = 0.1, iters = 3)
        .select(col("domain").as("source"), col("n_tokens"),
          (round(col("excess"), 4) + lit(0)).as("excess"),
          (round(col("weight"), 4) + lit(0)).as("weight"))
        .orderBy("source")
    },

    // Stride-scheduled mixture interleave (round 15): per-domain
    // mixture weights become a DETERMINISTIC resumable global data
    // order — domain d's r-th doc (seeded-hash shuffle within domain)
    // trains at virtual time v = r / w_d, ascending v; prefix shares
    // track the weights within one stride, resume is a filter on v.
    // The Spark rank is the scale-safe two-phase bucketed form
    // (Sampling.seededDomainRank — never a per-domain window); the
    // oracle states the naive per-domain row_number it equals. Fixture
    // weights ∝ source index + 1 (normalized by Σ = 210), so v =
    // r·210/(i+1) — terminating decimals only, no 5th-decimal round
    // ties; exact v collisions across domains break by (source, id) in
    // both engines.
    Q("pipe_mix_order",
      """WITH w AS (SELECT source,
        |    (CAST(substr(source, 4) AS INT) + 1) / 210.0 AS wt
        |  FROM (SELECT DISTINCT source FROM documents)),
        |r AS (SELECT d.source, d.doc_id, row_number() OVER (
        |    PARTITION BY d.source ORDER BY
        |      ('0x' || substr(md5('ord:' || d.doc_id::VARCHAR), 1,
        |        15))::BIGINT, d.doc_id) AS mix_r
        |  FROM documents d)
        |SELECT r.source, r.doc_id, r.mix_r::BIGINT AS mix_r,
        |  ROUND(r.mix_r / w.wt, 4) + 0 AS mix_v
        |FROM r JOIN w USING (source)
        |ORDER BY mix_v, source, doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents").select("source", "doc_id")
      val w = docs.select(col("source")).distinct()
        .select(col("source"),
          ((substring(col("source"), 4, 10).cast("int") + 1) / 210.0)
            .as("wt"))
      Sampling.strideOrder(docs, "source", "doc_id", w, seed = "ord")
        .select(col("source"), col("doc_id"), col("mix_r"),
          (round(col("mix_v"), 4) + lit(0)).as("mix_v"))
        .orderBy("mix_v", "source", "doc_id")
    },

    // UL2 mixture of denoisers (round 14, Tay et al. 2022): docs route
    // by an independent content hash to R (span 3, 1/7 noise), X (span
    // 8, 1/2 noise — the extreme denoiser), or S (prefix-LM split),
    // each branch the already-certified operator at its config, tagged
    // [R]/[X]/[S] the way UL2 prepends mode tokens. The oracle
    // regenerates the full span chain per branch at that branch's
    // constants (the wordpieceCtes mechanical-generation pattern).
    Q("pipe_ul2_mix", ul2OracleSql) { (s, dir) =>
      graft.ops.Corrupt.ul2Mix(Tables(s, dir, "documents"),
          "doc_id", "text")
        .select(col("id").as("doc_id"), col("paradigm"), col("n_tokens"),
          col("n_masked"), col("n_spans"),
          md5(col("inputs")).as("inputs_md5"),
          md5(col("targets")).as("targets_md5"))
        .orderBy("doc_id")
    },

    // Fill-in-the-middle (round 14, Bavarian et al. 2022): two
    // hash-chosen cut points per doc (mod n+1, sorted), PSM rendering
    // `<fim_prefix> P <fim_suffix> S <fim_middle> M`, pinned
    // byte-exactly by md5 with the cuts exposed as integers. Degenerate
    // cuts (empty middle) are legal FIM data and kept.
    Q("pipe_fim",
      """WITH f AS (SELECT doc_id, string_split(text, ' ') AS ws,
        |    len(string_split(text, ' '))::BIGINT AS n,
        |    ('0x' || substr(md5(doc_id::VARCHAR || '#fim1'), 1, 15))::BIGINT
        |      % (len(string_split(text, ' ')) + 1) AS c1,
        |    ('0x' || substr(md5(doc_id::VARCHAR || '#fim2'), 1, 15))::BIGINT
        |      % (len(string_split(text, ' ')) + 1) AS c2
        |  FROM documents),
        |g AS (SELECT doc_id, ws, n, LEAST(c1, c2) AS a,
        |    GREATEST(c1, c2) AS b FROM f)
        |SELECT doc_id, n AS n_tokens, a AS cut_a, b AS cut_b,
        |  md5('<fim_prefix> ' ||
        |    COALESCE(array_to_string(ws[1:a], ' '), '') ||
        |    ' <fim_suffix> ' ||
        |    COALESCE(array_to_string(ws[b+1:n], ' '), '') ||
        |    ' <fim_middle> ' ||
        |    COALESCE(array_to_string(ws[a+1:b], ' '), '')) AS fim_md5
        |FROM g ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.ops.Corrupt.fimTransform(Tables(s, dir, "documents"),
          "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_tokens"), col("cut_a"),
          col("cut_b"), md5(col("fim")).as("fim_md5"))
        .orderBy("doc_id")
    }
  )

  /** Distinct corpus words under the oracle's unroll cap. */
  private def wordpieceWords(s: org.apache.spark.sql.SparkSession,
                             dir: String) =
    Unigram.wordCounts(Tables(s, dir, "documents"), "text")
      .filter(length(col("word")) <= wordpieceMaxLen)

  /** Collected deterministic WordPiece vocabulary (bounded driver
    * state). */
  private def wordpieceVocab(s: org.apache.spark.sql.SparkSession,
                             dir: String): Seq[String] =
    graft.ops.WordPiece.vocabPieces(wordpieceWords(s, dir))

  private val wordpieceMaxLen = 8

  /** Generated WITH-prefix for the WordPiece oracles: position-aware
    * piece counts → top-100 starts ∪ top-100 `##`-continuations ∪
    * single-char floor → arcs (vocab matches per 0-based position) → an
    * UNROLLED greedy walk, one CTE per step: at each cursor take
    * MAX(l) over matching arcs, append the piece, advance; finished
    * words carry forward. Mirrors unigramDpCtes' construction (the
    * mechanical-CTE generation pattern); ends in
    * `enc(word, seg, n_pieces)`. */
  /** One span-corruption CTE chain at (blockLen, maskOneInK) over the
    * docs matching `where` — the pipe_span_corrupt oracle chain,
    * generated per UL2 branch with unique CTE names (the wordpieceCtes
    * mechanical-generation pattern). Ends in `${p}_out(doc_id,
    * n_tokens, n_masked, n_spans, inputs_md5, targets_md5)`. */
  private def spanChainCtes(p: String, block: Int, k: Int,
                            where: String): String =
    s"""${p}_tk AS (SELECT doc_id, unnest(ws) AS tok,
       |    generate_subscripts(ws, 1)::BIGINT - 1 AS pos
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
       |        FROM documents WHERE $where)),
       |${p}_b AS (SELECT doc_id, pos, tok, pos // $block AS blk,
       |    (('0x' || substr(md5(doc_id::VARCHAR || ':' ||
       |        (pos // $block)::VARCHAR), 1, 15))::BIGINT % $k = 0)
       |      AS masked
       |  FROM ${p}_tk),
       |${p}_mb AS (SELECT DISTINCT doc_id, blk FROM ${p}_b WHERE masked),
       |${p}_isl AS (SELECT doc_id, blk, blk - row_number()
       |    OVER (PARTITION BY doc_id ORDER BY blk) AS island FROM ${p}_mb),
       |${p}_sen AS (SELECT doc_id, blk, dense_rank()
       |    OVER (PARTITION BY doc_id ORDER BY island) - 1 AS sent
       |  FROM ${p}_isl),
       |${p}_t2 AS (SELECT b.doc_id, b.pos, b.tok, s.sent,
       |    MIN(b.pos) OVER (PARTITION BY b.doc_id, s.sent) AS fp
       |  FROM ${p}_b b LEFT JOIN ${p}_sen s
       |    ON s.doc_id = b.doc_id AND s.blk = b.blk),
       |${p}_t3 AS (SELECT doc_id, pos, sent,
       |    CASE WHEN sent IS NULL THEN tok
       |         WHEN pos = fp THEN '<extra_id_' || sent || '>' END AS ip,
       |    CASE WHEN sent IS NOT NULL THEN
       |      CASE WHEN pos = fp
       |           THEN '<extra_id_' || sent || '> ' || tok
       |           ELSE tok END END AS tp
       |  FROM ${p}_t2),
       |${p}_out AS (SELECT doc_id, COUNT(*)::BIGINT AS n_tokens,
       |  SUM(CASE WHEN sent IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
       |    AS n_masked,
       |  (COALESCE(MAX(sent), -1) + 1)::BIGINT AS n_spans,
       |  md5(COALESCE(string_agg(ip, ' ' ORDER BY pos), '')) AS inputs_md5,
       |  md5(COALESCE(string_agg(tp, ' ' ORDER BY pos), '')) AS targets_md5
       |FROM ${p}_t3 GROUP BY doc_id)""".stripMargin

  private lazy val ul2OracleSql: String = {
    val route = "(('0x' || substr(md5(doc_id::VARCHAR || '#ul2'), 1, " +
      "15))::BIGINT % 3)"
    s"""WITH ${spanChainCtes("r", 3, 7, s"$route = 0")},
       |${spanChainCtes("x", 8, 2, s"$route = 1")},
       |s_f AS (SELECT doc_id, string_split(text, ' ') AS ws,
       |    len(string_split(text, ' '))::BIGINT AS n,
       |    ('0x' || substr(md5(doc_id::VARCHAR || '#plm'), 1, 15))::BIGINT
       |      % (len(string_split(text, ' ')) + 1) AS c
       |  FROM documents WHERE $route = 2),
       |s_out AS (SELECT doc_id, n AS n_tokens, (n - c)::BIGINT AS n_masked,
       |  (CASE WHEN c < n THEN 1 ELSE 0 END)::BIGINT AS n_spans,
       |  md5(COALESCE(array_to_string(ws[1:c], ' '), '')) AS inputs_md5,
       |  md5(COALESCE(array_to_string(ws[c+1:n], ' '), '')) AS targets_md5
       |  FROM s_f)
       |SELECT doc_id, paradigm, n_tokens, n_masked, n_spans, inputs_md5,
       |  targets_md5 FROM (
       |  SELECT doc_id, 'R' AS paradigm, * EXCLUDE (doc_id) FROM r_out
       |  UNION ALL SELECT doc_id, 'X', * EXCLUDE (doc_id) FROM x_out
       |  UNION ALL SELECT doc_id, 'S', * EXCLUDE (doc_id) FROM s_out)
       |ORDER BY doc_id""".stripMargin
  }

  private lazy val wordpieceCtes: String = {
    val maxLen = wordpieceMaxLen
    val steps = (1 to maxLen).map { k =>
      s"""g$k AS (
         |  SELECT word, s + l AS pos,
         |    CASE WHEN s = 0 THEN substring(word, 1, l)
         |         ELSE seg || ' ##' || substring(word, s + 1, l) END AS seg
         |  FROM (SELECT g.word, g.pos AS s, MAX(a.l) AS l, g.seg
         |        FROM g${k - 1} g JOIN arcs a ON a.word = g.word AND a.s = g.pos
         |        WHERE g.pos < length(g.word)
         |        GROUP BY g.word, g.pos, g.seg)
         |  UNION ALL
         |  SELECT word, pos, seg FROM g${k - 1} WHERE pos = length(word))""".stripMargin
    }.mkString(",\n")
    s"""WITH w AS (SELECT word, COUNT(*)::BIGINT AS c FROM
       |    (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE word <> '' AND length(word) <= $maxLen GROUP BY word),
       |pos_sub AS (SELECT w.word, w.c, t.s AS s, t.l AS l,
       |    CASE WHEN t.s = 1 THEN substring(w.word, t.s, t.l)
       |         ELSE '##' || substring(w.word, t.s, t.l) END AS piece
       |  FROM w, unnest(flatten([[{'s': s, 'l': l}
       |      FOR l IN generate_series(1, least(6, length(word) - s + 1))]
       |      FOR s IN generate_series(1, length(word))])) AS u(t)),
       |pc AS (SELECT piece, SUM(c)::BIGINT AS n FROM pos_sub GROUP BY piece),
       |vocab AS (SELECT DISTINCT piece FROM (
       |  SELECT piece FROM
       |    (SELECT piece FROM pc WHERE piece NOT LIKE '##%'
       |     ORDER BY n DESC, piece LIMIT 100)
       |  UNION ALL SELECT piece FROM
       |    (SELECT piece FROM pc WHERE piece LIKE '##%'
       |     ORDER BY n DESC, piece LIMIT 100)
       |  UNION ALL SELECT piece FROM pc
       |    WHERE (piece NOT LIKE '##%' AND length(piece) = 1)
       |       OR (piece LIKE '##%' AND length(piece) = 3))),
       |arcs AS (SELECT DISTINCT p.word, p.s - 1 AS s, p.l AS l
       |  FROM pos_sub p JOIN vocab v ON v.piece = p.piece),
       |g0 AS (SELECT word, 0 AS pos, '' AS seg FROM w),
       |$steps,
       |enc AS (SELECT word, seg,
       |    len(string_split(seg, ' '))::BIGINT AS n_pieces
       |  FROM g$maxLen WHERE pos = length(word))""".stripMargin
  }

  private lazy val wordpieceEncodeOracleSql: String =
    s"""$wordpieceCtes
       |SELECT word, seg AS wp, n_pieces FROM enc ORDER BY word""".stripMargin

  /** Tokenizer-aware packing oracle: per-doc piece totals off the shared
    * greedy CTEs, then the pipe_seq_pack cumulative-bin chain. */
  private lazy val wordpiecePackOracleSql: String =
    s"""$wordpieceCtes,
       |dw AS (SELECT doc_id, word FROM
       |    (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |     FROM documents)
       |  WHERE word <> '' AND length(word) <= $wordpieceMaxLen),
       |dp AS (SELECT dw.doc_id, SUM(e.n_pieces)::BIGINT AS np
       |  FROM dw JOIN enc e USING (word) GROUP BY dw.doc_id),
       |cc AS (SELECT doc_id, np,
       |    SUM(np) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM dp),
       |bb AS (SELECT CAST(floor((cum - np) / 2048.0) AS BIGINT) AS bin, np
       |  FROM cc)
       |SELECT bin, COUNT(*)::BIGINT AS n_docs, SUM(np)::BIGINT AS sum_pieces
       |FROM bb GROUP BY bin ORDER BY bin""".stripMargin

  private lazy val wordpieceCorpusOracleSql: String =
    s"""$wordpieceCtes,
       |dw AS (SELECT doc_id, word FROM
       |    (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |     FROM documents)
       |  WHERE word <> '' AND length(word) <= $wordpieceMaxLen)
       |SELECT dw.doc_id, COUNT(*)::BIGINT AS n_words,
       |  SUM(e.n_pieces)::BIGINT AS n_pieces
       |FROM dw JOIN enc e USING (word)
       |GROUP BY dw.doc_id ORDER BY dw.doc_id""".stripMargin

  /** Fertility oracle: the same greedy-encode CTE chain aggregated by
    * language instead of document. */
  private lazy val wordpieceFertilityOracleSql: String =
    s"""$wordpieceCtes,
       |dw AS (SELECT lang, word FROM
       |    (SELECT lang, unnest(string_split(text, ' ')) AS word
       |     FROM documents)
       |  WHERE word <> '' AND length(word) <= $wordpieceMaxLen)
       |SELECT dw.lang, COUNT(*)::BIGINT AS n_words,
       |  SUM(e.n_pieces)::BIGINT AS n_pieces,
       |  ROUND(CAST(SUM(e.n_pieces) AS DOUBLE) / COUNT(*), 4) + 0
       |    AS fertility
       |FROM dw JOIN enc e USING (word)
       |GROUP BY dw.lang ORDER BY dw.lang""".stripMargin

  /** Generated WITH-prefix shared by the unigram DP oracles: seed vocab
    * (same SQL as t_unigram_seed, word length capped at the DP unroll)
    * + arcs (piece matches at every start/len) + an UNROLLED Viterbi
    * shortest path — p_j = min over i of p_i + arc(i, j), one CTE per
    * position 1..8 — ending in `best(word, cost)` (unrounded).
    * Generated rather than hand-written because the 8 position CTEs are
    * mechanical; the construction mirrors graph_pagerank's lockstep
    * unrolling. */
  private val unigramMaxLen = 8
  private lazy val unigramDpCtes: String = {
    val maxLen = unigramMaxLen
    val L = 6
    val dp = (1 to maxLen).map { j =>
      val steps = (math.max(0, j - L) until j).map { i =>
        s"""SELECT a.word, p$i.cost + a.cost AS cand FROM arcs a
           |    JOIN p$i ON a.word = p$i.word AND a.s = $i AND a.e = $j""".stripMargin
      }.mkString("\n    UNION ALL ")
      s"""p$j AS (SELECT word, MIN(cand) AS cost FROM (
         |    $steps) GROUP BY word)""".stripMargin
    }.mkString(",\n")
    val best = (1 to maxLen)
      .map(j => s"SELECT word, cost FROM p$j WHERE length(word) = $j")
      .mkString("\n  UNION ALL ")
    s"""WITH w AS (SELECT word, COUNT(*)::BIGINT AS c FROM
       |    (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE word <> '' AND length(word) <= $maxLen GROUP BY word),
       |sub AS (SELECT unnest(flatten([[substring(word, s, l)
       |      FOR l IN generate_series(1, least($L, length(word) - s + 1))]
       |      FOR s IN generate_series(1, length(word))])) AS piece, c
       |  FROM w),
       |top AS (SELECT piece, SUM(c)::BIGINT AS n FROM sub GROUP BY piece
       |  ORDER BY n DESC, piece LIMIT 200),
       |vocab AS (SELECT piece, n FROM top
       |  UNION SELECT piece, SUM(c)::BIGINT AS n FROM sub
       |    WHERE length(piece) = 1 GROUP BY piece),
       |v AS (SELECT piece,
       |    -ln(CAST(n AS DOUBLE) / (SELECT SUM(n) FROM vocab)) AS cost
       |  FROM vocab),
       |arcs AS (SELECT w.word, t.s - 1 AS s, t.s - 1 + t.l AS e, v.cost
       |  FROM w, unnest(flatten([[{'s': s, 'l': l}
       |      FOR l IN generate_series(1, least($L, length(word) - s + 1))]
       |      FOR s IN generate_series(1, length(word))])) AS u(t)
       |  JOIN v ON v.piece = substring(w.word, t.s, t.l)),
       |p0 AS (SELECT word, 0.0 AS cost FROM w),
       |$dp,
       |best AS (
       |  $best)""".stripMargin
  }

  private lazy val unigramViterbiOracleSql: String =
    s"""$unigramDpCtes
       |SELECT word, ROUND(cost, 4) AS nll FROM best ORDER BY word""".stripMargin

  /** Generated 3-round hard-EM oracle for [[graft.ops.Unigram.train]]:
    * per round r (costs v{r−1} in), it emits — arcs with costs; the
    * forward DP q{r}_1..q{r}_8 (same construction as [[unigramDpCtes]]);
    * `pall` (position-indexed reachable costs); an unrolled BACKTRACK
    * ch{r}_1..ch{r}_8 where each step picks the argmin arc into the
    * current cell (ORDER BY p.cost + a.cost, a.s — exact ties to the
    * smallest start = longest piece, the UnigramViterbi rule) and steps
    * to its start; the weighted piece recount over the chosen arcs;
    * top-200 + the single-char floor (COALESCE 1); and re-estimated
    * costs. Final SELECT re-derives the round-3 cost column exactly as
    * train() does (window total over the final vocab). MATERIALIZED on
    * the multiply-referenced stages keeps DuckDB from inlining the
    * 8-level DP recursion exponentially. */
  private lazy val unigramTrainOracleSql: String = {
    val maxLen = unigramMaxLen
    val L = 6
    val rounds = 3
    def dpChain(r: Int): String = (1 to maxLen).map { j =>
      val steps = (math.max(0, j - L) until j).map { i =>
        s"""SELECT a.word, q${r}_$i.cost + a.cost AS cand FROM arcs$r a
           |    JOIN q${r}_$i ON a.word = q${r}_$i.word AND a.s = $i AND a.e = $j""".stripMargin
      }.mkString("\n    UNION ALL ")
      s"""q${r}_$j AS MATERIALIZED (SELECT word, MIN(cand) AS cost FROM (
         |    $steps) GROUP BY word)""".stripMargin
    }.mkString(",\n")
    def roundSql(r: Int, cIn: String): String = {
      val pall = (0 to maxLen)
        .map(j => s"SELECT $j AS pos, word, cost FROM q${r}_$j")
        .mkString("\n  UNION ALL ")
      val bt = (1 to maxLen).map { k =>
        val curDef =
          if (k == 1)
            s"""cur${r}_1 AS (SELECT word, pos AS e FROM pall$r
               |  WHERE pos = length(word) AND pos > 0)""".stripMargin
          else
            s"cur${r}_$k AS (SELECT word, s AS e FROM ch${r}_${k - 1} WHERE s > 0)"
        s"""$curDef,
           |ch${r}_$k AS MATERIALIZED (SELECT word, e, s, piece FROM (
           |    SELECT c.word, c.e, a.s, a.piece,
           |      ROW_NUMBER() OVER (PARTITION BY c.word
           |        ORDER BY p.cost + a.cost, a.s) AS rk
           |    FROM cur${r}_$k c JOIN arcs$r a ON a.word = c.word AND a.e = c.e
           |    JOIN pall$r p ON p.word = c.word AND p.pos = a.s) WHERE rk = 1)""".stripMargin
      }.mkString(",\n")
      val chosen = (1 to maxLen)
        .map(k => s"SELECT word, piece FROM ch${r}_$k")
        .mkString("\n    UNION ALL ")
      s"""arcs$r AS MATERIALIZED (SELECT w.word, t.s - 1 AS s, t.s - 1 + t.l AS e,
         |    substring(w.word, t.s, t.l) AS piece, v.cost
         |  FROM w, unnest(flatten([[{'s': s, 'l': l}
         |      FOR l IN generate_series(1, least($L, length(word) - s + 1))]
         |      FOR s IN generate_series(1, length(word))])) AS u(t)
         |  JOIN $cIn v ON v.piece = substring(w.word, t.s, t.l)),
         |q${r}_0 AS (SELECT word, 0.0 AS cost FROM w),
         |${dpChain(r)},
         |pall$r AS MATERIALIZED (
         |  $pall),
         |$bt,
         |used$r AS MATERIALIZED (SELECT u.piece, SUM(w.c)::BIGINT AS n FROM (
         |    $chosen) u
         |  JOIN w USING (word) GROUP BY u.piece),
         |top$r AS (SELECT piece, n FROM used$r ORDER BY n DESC, piece LIMIT 200),
         |vv$r AS MATERIALIZED (SELECT piece, n FROM top$r
         |  UNION SELECT s.piece, COALESCE(u.n, 1)::BIGINT AS n
         |    FROM (SELECT DISTINCT piece FROM sub WHERE length(piece) = 1) s
         |    LEFT JOIN used$r u USING (piece)),
         |v$r AS (SELECT piece,
         |    -ln(CAST(n AS DOUBLE) / (SELECT SUM(n) FROM vv$r)) AS cost
         |  FROM vv$r)""".stripMargin
    }
    val roundsSql = (1 to rounds)
      .map(r => roundSql(r, s"v${r - 1}")).mkString(",\n")
    s"""WITH w AS MATERIALIZED (SELECT word, COUNT(*)::BIGINT AS c FROM
       |    (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE word <> '' AND length(word) <= $maxLen GROUP BY word),
       |sub AS MATERIALIZED (SELECT unnest(flatten([[substring(word, s, l)
       |      FOR l IN generate_series(1, least($L, length(word) - s + 1))]
       |      FOR s IN generate_series(1, length(word))])) AS piece, c
       |  FROM w),
       |top0 AS (SELECT piece, SUM(c)::BIGINT AS n FROM sub GROUP BY piece
       |  ORDER BY n DESC, piece LIMIT 200),
       |vv0 AS (SELECT piece, n FROM top0
       |  UNION SELECT piece, SUM(c)::BIGINT AS n FROM sub
       |    WHERE length(piece) = 1 GROUP BY piece),
       |v0 AS (SELECT piece,
       |    -ln(CAST(n AS DOUBLE) / (SELECT SUM(n) FROM vv0)) AS cost
       |  FROM vv0),
       |$roundsSql
       |SELECT piece, n,
       |  ROUND(-ln(CAST(n AS DOUBLE) / (SELECT SUM(n) FROM vv$rounds)), 4) AS cost
       |FROM vv$rounds ORDER BY n DESC, piece LIMIT 50""".stripMargin
  }

  /** Generated 8-round oracle for [[graft.ops.Bpe.train]]: per round r
    * (segmented vocab v{r−1} in), it emits — the position explode e{r};
    * weighted adjacent-pair counts pc{r}; the 1-row argmax best{r}
    * (n desc, pair lexicographic — Bpe.train's exact ordering); and the
    * greedy left-to-right merge application rebuilding v{r}. The greedy
    * fold ("a a a" under (a,a) → [aa, a], leftmost-first, no re-merge)
    * unrolls to SQL via a parity argument: a merge CANDIDATE is a
    * position i with syms[i]=a ∧ syms[i+1]=b; two candidates can be
    * adjacent (i, i+1) only when a = b (the second needs syms[i+1]=a),
    * so within each maximal run of consecutive candidates the greedy
    * fold takes exactly the 1st, 3rd, 5th… — runs are identified by the
    * classic i − row_number() chain key and odd offsets are kept. A
    * taken position emits the merged symbol and consumes position i+1
    * (the LAG(taken) filter); everything else passes through, and the
    * new symbol list re-assembles ordered by position. Output = the
    * merge table (rank, a, b, merged, n), the engine's exact schema.
    * MATERIALIZED on each v{r}/e{r} stops DuckDB re-inlining the round
    * recursion. Early-stop degrade (advisor r11): if the corpus's pair
    * supply dries up before round 8, Bpe.train stops early and best{r}
    * goes empty — best{r} joins via LEFT JOIN ON TRUE (cand coalesced
    * FALSE), so v{r} degrades to v{r-1} instead of going empty and the
    * shared v8 the encode oracle reads stays the final segmentation on
    * BOTH engines; the merges union emits fewer than 8 rows on both. */
  private[queries] val bpeRounds = 8
  /** The shared CTE chain: word vocab `w`, initial segmentation `v0`,
    * then per round r: explode `e{r}`, pair counts `pc{r}`, argmax
    * `best{r}`, and the re-segmented vocab `v{r}` — `v8` is the FINAL
    * segmented vocabulary, reused by the encode oracle. */
  private lazy val bpeTrainCtes: String = {
    val rounds = bpeRounds
    def roundSql(r: Int): String =
      s"""e$r AS MATERIALIZED (SELECT word, wc, i, syms[i] AS s, syms[i + 1] AS nx,
         |    len(syms) AS m
         |  FROM v${r - 1}, unnest(generate_series(1, len(syms))) AS g(i)),
         |pc$r AS (SELECT s AS a, nx AS bb, SUM(wc)::BIGINT AS n
         |  FROM e$r WHERE i < m GROUP BY 1, 2),
         |best$r AS (SELECT a, bb, n FROM pc$r ORDER BY n DESC, a, bb LIMIT 1),
         |cd$r AS (SELECT e.word, e.wc, e.i, e.s,
         |    COALESCE(e.i < e.m AND e.s = b.a AND e.nx = b.bb, FALSE) AS cand
         |  FROM e$r e LEFT JOIN best$r b ON TRUE),
         |ck$r AS (SELECT *, i - ROW_NUMBER() OVER (PARTITION BY word, cand
         |    ORDER BY i) AS chain FROM cd$r),
         |tk$r AS (SELECT word, wc, i, s,
         |    cand AND (ROW_NUMBER() OVER (PARTITION BY word, cand, chain
         |      ORDER BY i) % 2 = 1) AS taken
         |  FROM ck$r),
         |nw$r AS (SELECT word, wc, i, s, taken,
         |    COALESCE(LAG(taken) OVER (PARTITION BY word ORDER BY i), FALSE)
         |      AS prev_taken
         |  FROM tk$r),
         |v$r AS MATERIALIZED (SELECT n.word, MIN(n.wc) AS wc,
         |    list(CASE WHEN n.taken THEN b.a || b.bb ELSE n.s END ORDER BY n.i)
         |      AS syms
         |  FROM nw$r n LEFT JOIN best$r b ON TRUE
         |  WHERE NOT n.prev_taken GROUP BY n.word)""".stripMargin
    s"""WITH w AS MATERIALIZED (SELECT word, COUNT(*)::BIGINT AS wc FROM
       |    (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE word <> '' GROUP BY word),
       |v0 AS MATERIALIZED (SELECT word, wc,
       |    list_append([word[i] FOR i IN generate_series(1, length(word))],
       |      '</w>') AS syms
       |  FROM w),
       |${(1 to rounds).map(roundSql).mkString(",\n")}""".stripMargin
  }

  private lazy val bpeTrainOracleSql: String = {
    val merges = (1 to bpeRounds)
      .map(r => s"SELECT $r AS rank, a, bb AS b, a || bb AS merged, n FROM best$r")
      .mkString("\n  UNION ALL ")
    s"""$bpeTrainCtes
       |SELECT rank, a, b, merged, n FROM (
       |  $merges) ORDER BY rank""".stripMargin
  }

  /** Encode oracle: the final segmented vocabulary v{bpeRounds} carries
    * each word's subword count (len(syms)); join it back to the per-doc
    * token stream and aggregate — the engine's exact vocab-join shape.
    * The ratio uses integer-exact round-half-up (×20000+n over 2n,
    * floored) on BOTH engines: a plain ROUND(double, 4) can tie at the
    * 5th decimal (ratio of integers) and DuckDB rounds decimal-aware
    * where Spark rounds the binary double — the known tie pitfall. */
  private[queries] lazy val bpeEncodeOracleSql: String =
    s"""$bpeTrainCtes,
       |dt AS (SELECT doc_id, word FROM
       |    (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |     FROM documents)
       |  WHERE word <> '')
       |SELECT dt.doc_id, COUNT(*)::BIGINT AS n_tokens,
       |  SUM(len(v$bpeRounds.syms))::BIGINT AS n_subwords,
       |  FLOOR((SUM(len(v$bpeRounds.syms)) * 20000 + COUNT(*))
       |    / (COUNT(*) * 2.0)) / 10000.0 AS subwords_per_token
       |FROM dt JOIN v$bpeRounds ON v$bpeRounds.word = dt.word
       |GROUP BY dt.doc_id ORDER BY dt.doc_id""".stripMargin

  /** Per-doc encode oracle: per-word best cost (unrounded) joined back
    * to the per-document token stream, summed and rounded once — the
    * same formulation as Unigram.encodeCorpus. */
  private lazy val unigramEncodeOracleSql: String =
    s"""$unigramDpCtes,
       |dw AS (SELECT doc_id, word FROM
       |    (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |     FROM documents)
       |  WHERE word <> '' AND length(word) <= $unigramMaxLen)
       |SELECT dw.doc_id, COUNT(*)::BIGINT AS n_words,
       |  ROUND(SUM(b.cost), 4) AS nll
       |FROM dw JOIN best b USING (word)
       |GROUP BY dw.doc_id ORDER BY dw.doc_id""".stripMargin
}
