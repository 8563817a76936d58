package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.Curation

/** Web-corpus curation operators from the published pipeline canon —
  * C4 line-level cleaning (Raffel et al. 2020), the Gopher document
  * quality rules (Rae et al. 2021), and corpus-wide exact paragraph
  * dedup (the Dolma/C4 boilerplate remover). The documents table is a
  * flat word stream, so each query derives a deterministic line
  * structure from `(doc_id, text)` — fixed words-per-line per doc,
  * hash-chosen terminal punctuation, bullet prefixes, and injected
  * code/lorem-ipsum/javascript boilerplate lines — identically in
  * Spark and in the DuckDB oracle (the `synthUrl` pattern), so every
  * rule fires on real structure and the comparison is byte-exact. */
object WebQueries {

  /** Deterministic line table `(doc_id, idx, line)` from the documents
    * word stream: `4 + doc_id % 4` words per line; per-line decoration
    * keyed by `(doc_id * 31 + idx * 7) % 10` — bullet prefix (m=0),
    * terminal `.` (m 1–5), `!` (6), `?` (7), ellipsis (8), bare line
    * (9); boilerplate overrides on the first three lines of every
    * 19th/23rd/17th doc (code-brace, lorem-ipsum, javascript). */
  private[graft] def synthLines(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), split(col("text"), " ", -1).as("toks"))
      .withColumn("w", (lit(4) + col("doc_id") % 4).cast("int"))
      .withColumn("n", size(col("toks")))
      .withColumn("idx",
        explode(sequence(lit(0),
          ((col("n") + col("w") - 1) / col("w")).cast("int") - 1)))
    val body = array_join(
      slice(col("toks"), col("idx") * col("w") + 1, col("w")), " ")
    val m = (col("doc_id") * 31 + col("idx") * 7) % 10
    base.select(col("doc_id"), col("idx").cast("long").as("idx"),
      when(col("idx") === 0 && col("doc_id") % 19 === 0,
          lit("function() { var x = 1; }"))
        .when(col("idx") === 1 && col("doc_id") % 23 === 0,
          lit("Lorem ipsum dolor sit amet."))
        .when(col("idx") === 2 && col("doc_id") % 17 === 0,
          lit("Please enable JavaScript to view this page."))
        .when(m === 0, concat(lit("- "), body))
        .when(m <= 5, concat(body, lit(".")))
        .when(m === 6, concat(body, lit("!")))
        .when(m === 7, concat(body, lit("?")))
        .when(m === 8, concat(body, lit("...")))
        .otherwise(body).as("line"))
  }

  /** DuckDB twin of [[synthLines]]: CTE chain ending in
    * `lines(doc_id, idx, line)`. `//` is DuckDB integer division (its
    * `/` is float); `list_slice` stop is inclusive, hence the LEAST. */
  private val linesCtes: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
      |    4 + doc_id % 4 AS w FROM documents),
      |ld AS (SELECT doc_id, toks, w, len(toks) AS n,
      |    unnest(generate_series(0, (len(toks) + w - 1) // w - 1)) AS idx
      |  FROM d),
      |lb AS (SELECT doc_id, idx,
      |    array_to_string(list_slice(toks, idx * w + 1,
      |      LEAST(idx * w + w, n)), ' ') AS body,
      |    (doc_id * 31 + idx * 7) % 10 AS m FROM ld),
      |lines AS (SELECT doc_id, idx,
      |    CASE WHEN idx = 0 AND doc_id % 19 = 0
      |        THEN 'function() { var x = 1; }'
      |      WHEN idx = 1 AND doc_id % 23 = 0
      |        THEN 'Lorem ipsum dolor sit amet.'
      |      WHEN idx = 2 AND doc_id % 17 = 0
      |        THEN 'Please enable JavaScript to view this page.'
      |      WHEN m = 0 THEN '- ' || body
      |      WHEN m <= 5 THEN body || '.'
      |      WHEN m = 6 THEN body || '!'
      |      WHEN m = 7 THEN body || '?'
      |      WHEN m = 8 THEN body || '...'
      |      ELSE body END AS line
      |  FROM lb)""".stripMargin

  /** The corpus-apt Gopher "required stopword" set (the published rule
    * is "≥ 2 distinct of 8 designated common words"; the designated set
    * must come from the corpus language — these are the high-frequency
    * words of the synthetic stream). */
  private val gopherStops =
    Seq("the", "a", "data", "table", "value", "row", "query", "line")

  /** DuckDB twin of the classifier trainer's unrolled GD rounds
    * (`Curation.trainTextClassifier`, 64 buckets, lr=5, 3 rounds,
    * weights rounded to 1e-6 per round — the cross-engine grid): CTE
    * chain ending in `w3(b, w)`. One generic round = doc-keyed scoring
    * aggregate → sigmoid → bucket-keyed gradient aggregate → rounded
    * weight update over the full bucket spine. */
  private val classifierCtes: String =
    """WITH tk AS (SELECT doc_id,
      |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
      |    len(string_split(text, ' '))::DOUBLE AS n,
      |    unnest(string_split(text, ' ')) AS t FROM documents),
      |f AS (SELECT doc_id, y, n,
      |    ('0x' || substr(md5(t), 1, 15))::BIGINT % 64 AS b,
      |    COUNT(*)::DOUBLE AS cnt
      |  FROM tk GROUP BY doc_id, y, n, b),
      |nd AS (SELECT COUNT(*)::DOUBLE AS nd FROM documents),
      |w0 AS (SELECT unnest(generate_series(0, 63))::BIGINT AS b, 0.0 AS w),
      |s1 AS (SELECT f.doc_id, any_value(f.y) AS y, SUM(w.w * f.cnt / f.n) AS s
      |  FROM f JOIN w0 w USING (b) GROUP BY f.doc_id),
      |p1 AS (SELECT doc_id, y, 1.0 / (1.0 + exp(-s)) AS p FROM s1),
      |g1 AS (SELECT f.b, SUM((p.p - f.y) * f.cnt / f.n) AS g
      |  FROM f JOIN p1 p USING (doc_id) GROUP BY f.b),
      |w1 AS (SELECT w0.b,
      |    ROUND(w0.w - 5.0 * COALESCE(g1.g, 0) / (SELECT nd FROM nd), 6) AS w
      |  FROM w0 LEFT JOIN g1 USING (b)),
      |s2 AS (SELECT f.doc_id, any_value(f.y) AS y, SUM(w.w * f.cnt / f.n) AS s
      |  FROM f JOIN w1 w USING (b) GROUP BY f.doc_id),
      |p2 AS (SELECT doc_id, y, 1.0 / (1.0 + exp(-s)) AS p FROM s2),
      |g2 AS (SELECT f.b, SUM((p.p - f.y) * f.cnt / f.n) AS g
      |  FROM f JOIN p2 p USING (doc_id) GROUP BY f.b),
      |w2 AS (SELECT w1.b,
      |    ROUND(w1.w - 5.0 * COALESCE(g2.g, 0) / (SELECT nd FROM nd), 6) AS w
      |  FROM w1 LEFT JOIN g2 USING (b)),
      |s3 AS (SELECT f.doc_id, any_value(f.y) AS y, SUM(w.w * f.cnt / f.n) AS s
      |  FROM f JOIN w2 w USING (b) GROUP BY f.doc_id),
      |p3 AS (SELECT doc_id, y, 1.0 / (1.0 + exp(-s)) AS p FROM s3),
      |g3 AS (SELECT f.b, SUM((p.p - f.y) * f.cnt / f.n) AS g
      |  FROM f JOIN p3 p USING (doc_id) GROUP BY f.b),
      |w3 AS (SELECT w2.b,
      |    ROUND(w2.w - 5.0 * COALESCE(g3.g, 0) / (SELECT nd FROM nd), 6) AS w
      |  FROM w2 LEFT JOIN g3 USING (b))""".stripMargin

  val qs: Seq[Q] = Seq(

    // GD-trained hashed-feature logistic quality classifier (the
    // FineWeb-Edu / DCLM learned-filter shape): final weight table
    // after 3 value-oracled full-batch rounds (target = lang 'en').
    Q("t_classifier_train",
      classifierCtes +
        """
          |SELECT b AS bucket, w FROM w3 ORDER BY bucket""".stripMargin) {
      (s, dir) =>
        Curation.trainTextClassifier(Tables(s, dir, "documents"),
            "doc_id", "text", col("lang") === "en", buckets = 64,
            rounds = 3, lr = 5.0)
          .orderBy("bucket")
    },

    // Train → map-only inference e2e: every doc scored by the trained
    // weights as a literal array (no join, no shuffle — the production
    // scoring plan); probability rounded to the cross-engine grid.
    // Accepted ulp-tie risk (advisor r11): Spark sums w[bucket(tok)]/n
    // in TOKEN order while the oracle sums bucket-grouped w*cnt/n —
    // different FP association feeding ROUND(p,4) and the unrounded
    // `p >= 0.5` pred, so a score within an ulp of a grid midpoint or
    // of 0.5 could diverge cross-engine. Unlike t_bpe_encode's integer
    // ratio there is no integer-exact rewrite of a float dot product;
    // the weights live on the 1e-6 grid (r6 per round) which keeps
    // per-term products far from midpoints on this corpus, and the
    // map-only token-order form IS the production plan being certified
    // — switching Spark to the oracle's grouped sum would un-certify
    // it. Documented rather than engineered away.
    Q("t_classifier_scored",
      classifierCtes +
        """,
          |sc AS (SELECT f.doc_id, any_value(f.y) AS y,
          |    SUM(w.w * f.cnt / f.n) AS s
          |  FROM f JOIN w3 w USING (b) GROUP BY f.doc_id)
          |SELECT doc_id, ROUND(1.0 / (1.0 + exp(-s)), 4) AS p,
          |  (1.0 / (1.0 + exp(-s)) >= 0.5) AS pred, y::BIGINT AS y
          |FROM sc ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val w = Curation.trainTextClassifier(docs, "doc_id", "text",
          col("lang") === "en", buckets = 64, rounds = 3, lr = 5.0)
        .orderBy("bucket").select("w")
        // collect-bound: 64 trained classifier weights
        .collect().map(_.getDouble(0)).toSeq
      // materialize the score once — Catalyst does not CSE expensive
      // aggregate HOFs across sibling expressions in one Project
      docs.select(col("doc_id"),
          Curation.classifierScore(col("text"), w).as("__p"),
          (col("lang") === "en").cast("long").as("y"))
        .select(col("doc_id"), round(col("__p"), 4).as("p"),
          (col("__p") >= 0.5).as("pred"), col("y"))
        .orderBy("doc_id")
    },

    // AUC of the trained classifier (tie-corrected Mann–Whitney on the
    // 1e-4 probability grid): the grid bound makes the score-level
    // ranking table ≤10001 rows at ANY corpus size, so the single
    // cumulative window is constant-cost (the vocab-bounded-window
    // contract); pair counting stays exact integer arithmetic until
    // the final division, so no cross-engine rounding is needed.
    Q("t_classifier_auc",
      classifierCtes +
        """,
          |sc AS (SELECT f.doc_id, any_value(f.y) AS y,
          |    SUM(w.w * f.cnt / f.n) AS s
          |  FROM f JOIN w3 w USING (b) GROUP BY f.doc_id),
          |pg AS (SELECT ROUND(1.0 / (1.0 + exp(-s)), 4) AS p, y FROM sc),
          |g AS (SELECT p,
          |    SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END)::BIGINT AS np,
          |    SUM(CASE WHEN y = 1.0 THEN 0 ELSE 1 END)::BIGINT AS nn
          |  FROM pg GROUP BY p),
          |c AS (SELECT p, np, nn,
          |    COALESCE(SUM(nn) OVER (ORDER BY p
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS cneg FROM g),
          |t AS (SELECT SUM(np * cneg)::DOUBLE AS hits,
          |    SUM(np * nn)::DOUBLE AS ties,
          |    (SELECT SUM(np) FROM g)::BIGINT AS tp,
          |    (SELECT SUM(nn) FROM g)::BIGINT AS tn FROM c)
          |SELECT (hits + 0.5 * ties) / (tp::DOUBLE * tn::DOUBLE) AS auc,
          |  tp AS n_pos, tn AS n_neg FROM t""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val w = Curation.trainTextClassifier(docs, "doc_id", "text",
          col("lang") === "en", buckets = 64, rounds = 3, lr = 5.0)
        .orderBy("bucket").select("w")
        // collect-bound: 64 trained classifier weights
        .collect().map(_.getDouble(0)).toSeq
      Curation.aucOnGrid(docs.select(
          round(Curation.classifierScore(col("text"), w), 4).as("p"),
          (col("lang") === "en").cast("int").as("y")), "p", "y")
    },

    // Calibration (reliability diagram) of the trained classifier:
    // decile buckets of predicted probability vs the empirical positive
    // rate — ONE map-side-combinable aggregate over the scored stream
    // (10 output rows at any corpus size). Rates are exact-integer
    // ratios; mean predicted p is a sum of 1e-4-grid values, rounded 6.
    Q("t_classifier_calibration",
      classifierCtes +
        """,
          |sc AS (SELECT f.doc_id, any_value(f.y) AS y,
          |    SUM(w.w * f.cnt / f.n) AS s
          |  FROM f JOIN w3 w USING (b) GROUP BY f.doc_id),
          |pg AS (SELECT ROUND(1.0 / (1.0 + exp(-s)), 4) AS p, y FROM sc),
          |bk AS (SELECT LEAST(CAST(TRUNC(p * 10) AS BIGINT), 9) AS bin,
          |    p, y FROM pg)
          |SELECT bin, COUNT(*)::BIGINT AS n,
          |  ROUND(AVG(p), 6) AS mean_p,
          |  SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*)
          |    AS pos_rate
          |FROM bk GROUP BY bin ORDER BY bin""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val w = Curation.trainTextClassifier(docs, "doc_id", "text",
          col("lang") === "en", buckets = 64, rounds = 3, lr = 5.0)
        .orderBy("bucket").select("w")
        // collect-bound: 64 trained classifier weights
        .collect().map(_.getDouble(0)).toSeq
      docs.select(
          round(Curation.classifierScore(col("text"), w), 4).as("p"),
          (col("lang") === "en").cast("int").as("y"))
        .withColumn("bin", least(floor(col("p") * 10).cast("long"), lit(9L)))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), round(avg("p"), 6).as("mean_p"),
          (sum(when(col("y") === 1, 1L).otherwise(0L)).cast("double") /
            count(lit(1))).as("pos_rate"))
        .orderBy("bin")
    },

    // Retention curve of the trained quality classifier — the
    // FineWeb-Edu "what survives at each score cut" diagnostic: explode
    // a 0.1..0.9 threshold grid over the scored stream (the
    // pipe_quality_sweep axis pattern) and, per cut, count survivors
    // and the label precision among them. One map-only score + a ×9
    // literal explode + one combinable 9-row aggregate — scale-free
    // beyond the scoring scan. Engine-exact comparisons: the 1e-4-grid
    // probability becomes an INTEGER pi = round(p*10000) on both
    // engines, thresholds compare as pi >= th*1000, and the two ratios
    // use the t_bpe_encode integer round-half-up (a plain ROUND of an
    // integer ratio can tie at the 5th decimal).
    Q("t_classifier_retention",
      classifierCtes +
        """,
          |sc AS (SELECT f.doc_id, any_value(f.y) AS y,
          |    SUM(w.w * f.cnt / f.n) AS s
          |  FROM f JOIN w3 w USING (b) GROUP BY f.doc_id),
          |pi AS (SELECT doc_id, y,
          |    CAST(ROUND(ROUND(1.0 / (1.0 + exp(-s)), 4) * 10000, 0)
          |      AS BIGINT) AS pi FROM sc),
          |t AS (SELECT unnest(generate_series(1, 9))::BIGINT AS th),
          |ag AS (SELECT th, COUNT(*)::BIGINT AS n_docs,
          |    SUM(CASE WHEN pi >= th * 1000 THEN 1 ELSE 0 END)::BIGINT
          |      AS n_kept,
          |    SUM(CASE WHEN pi >= th * 1000 AND y = 1.0 THEN 1 ELSE 0 END)
          |      ::BIGINT AS n_pos_kept
          |  FROM pi CROSS JOIN t GROUP BY th)
          |SELECT th, n_docs, n_kept, n_pos_kept,
          |  FLOOR((n_kept * 20000 + n_docs) / (n_docs * 2.0)) / 10000.0
          |    AS retention,
          |  CASE WHEN n_kept > 0 THEN
          |    FLOOR((n_pos_kept * 20000 + n_kept) / (n_kept * 2.0)) / 10000.0
          |  END AS kept_precision
          |FROM ag ORDER BY th""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val w = Curation.trainTextClassifier(docs, "doc_id", "text",
          col("lang") === "en", buckets = 64, rounds = 3, lr = 5.0)
        .orderBy("bucket").select("w")
        // collect-bound: 64 trained classifier weights
        .collect().map(_.getDouble(0)).toSeq
      docs.select(
          round(round(Curation.classifierScore(col("text"), w), 4) * 10000, 0)
            .cast("long").as("pi"),
          (col("lang") === "en").cast("int").as("y"))
        .select(col("pi"), col("y"),
          explode(sequence(lit(1L), lit(9L))).as("th"))
        .groupBy("th")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pi") >= col("th") * 1000, 1L).otherwise(0L))
            .as("n_kept"),
          sum(when(col("pi") >= col("th") * 1000 && col("y") === 1, 1L)
            .otherwise(0L)).as("n_pos_kept"))
        .select(col("th"), col("n_docs"), col("n_kept"), col("n_pos_kept"),
          (floor((col("n_kept") * 20000 + col("n_docs")) /
            (col("n_docs") * 2.0)) / 10000.0).as("retention"),
          when(col("n_kept") > 0,
            floor((col("n_pos_kept") * 20000 + col("n_kept")) /
              (col("n_kept") * 2.0)) / 10000.0).as("kept_precision"))
        .orderBy("th")
    },

    // HTML main-content extraction (the WARC->text front door): each
    // doc's lines wrap in <p> blocks inside a full page with script/
    // style/comment/nav chrome keyed off doc_id; the clean-text hash,
    // link density, and nav-page flag must match the oracle replaying
    // the identical RE2-safe replace chain.
    Q("t_html_extract",
      linesCtes +
        """,
          |pg AS (SELECT doc_id,
          |    '<html><head><title>d' || doc_id ||
          |    '</title><style>p{margin:0}</style></head><body>' ||
          |    CASE WHEN doc_id % 7 = 0 THEN
          |      '<script type="text/javascript">var x=1; if(x<2){x=3;}</script>'
          |      ELSE '' END ||
          |    '<!-- build 42 -->' ||
          |    '<div id="nav"><a href="/">home</a><a href="/about">about us</a></div>' ||
          |    CASE WHEN doc_id % 13 = 0 THEN '<p>short</p>'
          |      ELSE array_to_string(list('<p>' || line || '</p>' ORDER BY idx), '') END ||
          |    CASE WHEN doc_id % 11 = 0 THEN '<p>A &amp; B &lt;tag&gt;</p>'
          |      ELSE '' END ||
          |    '</body></html>' AS html
          |  FROM lines GROUP BY doc_id),
          |ex AS (SELECT doc_id, html,
          |    trim(regexp_replace(regexp_replace(regexp_replace(
          |      replace(replace(replace(replace(replace(replace(
          |      regexp_replace(regexp_replace(
          |      regexp_replace(regexp_replace(regexp_replace(html,
          |        '(?is)<!--.*?-->', ' ', 'g'),
          |        '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
          |        '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
          |        '(?i)</(p|div|li|h[1-6])>|<br ?/?>', chr(10), 'g'),
          |        '<[^>]*>', ' ', 'g'),
          |      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
          |      '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&'),
          |      '[ ' || chr(9) || ']+', ' ', 'g'),
          |      ' ?' || chr(10) || ' ?', chr(10), 'g'),
          |      chr(10) || '+', chr(10), 'g'), ' ' || chr(10)) AS clean
          |  FROM pg),
          |lden AS (SELECT doc_id,
          |    length(array_to_string(
          |      regexp_extract_all(html, '(?is)<a[^>]*>(.*?)</a>', 1), ''))
          |      AS a_len,
          |    length(clean) AS t_len, clean FROM ex)
          |SELECT doc_id, md5(clean) AS clean_md5, t_len::BIGINT AS n_chars,
          |  ROUND(CASE WHEN t_len > 0 THEN a_len::DOUBLE / t_len
          |    ELSE 1.0 END, 4) AS link_density,
          |  (CASE WHEN t_len > 0 THEN a_len::DOUBLE / t_len ELSE 1.0 END)
          |    > 0.3 AS is_nav
          |FROM lden ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val lines = synthLines(Tables.fannedOut(s, dir, "documents"))
      val body = array_join(transform(
        array_sort(collect_list(struct(col("idx"), col("line")))),
        x => concat(lit("<p>"), x.getField("line"), lit("</p>"))), "")
      val pages = lines.groupBy("doc_id").agg(concat(
          concat(lit("<html><head><title>d"),
            col("doc_id").cast("string"),
            lit("</title><style>p{margin:0}</style></head><body>")),
          when(col("doc_id") % 7 === 0, lit(
            "<script type=\"text/javascript\">var x=1; if(x<2){x=3;}</script>"))
            .otherwise(lit("")),
          lit("<!-- build 42 -->"),
          lit("<div id=\"nav\"><a href=\"/\">home</a>" +
            "<a href=\"/about\">about us</a></div>"),
          when(col("doc_id") % 13 === 0, lit("<p>short</p>")).otherwise(body),
          when(col("doc_id") % 11 === 0, lit("<p>A &amp; B &lt;tag&gt;</p>"))
            .otherwise(lit("")),
          lit("</body></html>")).as("html"))
      // materialize the extract chain once: __clean in its own Project
      // (CollapseProject refuses to duplicate the non-cheap chain), then
      // the link density reads length(__clean) via the overload instead
      // of re-running htmlExtract for the denominator (advisor r11)
      pages.select(col("doc_id"), col("html"),
          graft.ops.Text.htmlExtract(col("html")).as("__clean"))
        .select(col("doc_id"), col("__clean"),
          graft.ops.Text.htmlLinkDensity(col("html"), length(col("__clean")))
            .as("__ld"))
        .select(col("doc_id"), md5(col("__clean")).as("clean_md5"),
          length(col("__clean")).cast("long").as("n_chars"),
          round(col("__ld"), 4).as("link_density"),
          (col("__ld") > 0.3).as("is_nav"))
        .orderBy("doc_id")
    },

    // C4 cleaning (line keep rule + page-level drops): byte-exact
    // clean-text hash per kept page.
    Q("t_c4_clean",
      linesCtes +
        """,
          |lk AS (SELECT doc_id, idx, line,
          |    (regexp_matches(line, '[.!?]$')
          |      AND len(string_split(line, ' ')) >= 5
          |      AND NOT contains(lower(line), 'javascript')) AS keep_l,
          |    (contains(line, '{')
          |      OR contains(lower(line), 'lorem ipsum')) AS bad_l
          |  FROM lines),
          |ag AS (SELECT doc_id, COUNT(*)::BIGINT AS n_lines,
          |    SUM(CASE WHEN keep_l THEN 1 ELSE 0 END)::BIGINT AS n_kept,
          |    (MAX(CASE WHEN bad_l THEN 1 ELSE 0 END) = 0) AS page_ok,
          |    md5(COALESCE(array_to_string(
          |      list(line ORDER BY idx) FILTER (WHERE keep_l), chr(10)),
          |      '')) AS m5
          |  FROM lk GROUP BY doc_id)
          |SELECT doc_id, n_lines, n_kept, page_ok,
          |  (page_ok AND n_kept >= 3) AS kept,
          |  CASE WHEN page_ok AND n_kept >= 3 THEN m5 END AS clean_md5
          |FROM ag ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Curation.c4Clean(synthLines(Tables.fannedOut(s, dir, "documents")),
          "doc_id", "idx", "line")
        .orderBy("doc_id")
    },

    // Filter-agreement diagnostic: Cohen's κ between the two
    // independent quality gates (C4 page cleaning vs Gopher document
    // rules) over the shared line stream — the "are my filters
    // redundant or complementary" check run before stacking gates in a
    // curation pipeline (κ≈1 ⇒ the second gate adds nothing; κ≈0 ⇒
    // independent signals worth composing). One 2×2 contingency
    // aggregate over per-doc verdicts; κ = (p_o − p_e)/(1 − p_e) from
    // INTEGER cell counts, so every double op is pointwise-portable.
    Q("t_filter_agreement",
      linesCtes +
        """,
          |lk AS (SELECT doc_id, idx, line,
          |    (regexp_matches(line, '[.!?]$')
          |      AND len(string_split(line, ' ')) >= 5
          |      AND NOT contains(lower(line), 'javascript')) AS keep_l,
          |    (contains(line, '{')
          |      OR contains(lower(line), 'lorem ipsum')) AS bad_l
          |  FROM lines),
          |c4 AS (SELECT doc_id,
          |    (MAX(CASE WHEN bad_l THEN 1 ELSE 0 END) = 0 AND
          |     SUM(CASE WHEN keep_l THEN 1 ELSE 0 END) >= 3) AS c4_kept
          |  FROM lk GROUP BY doc_id),
          |ds AS (SELECT doc_id, len(toks)::BIGINT AS n_words,
          |    (length(text) - (len(toks) - 1))::DOUBLE / len(toks)
          |      AS mean_len,
          |    len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))::DOUBLE
          |      / len(toks) AS alpha_frac,
          |    len(list_filter(list_distinct(toks), t -> list_contains(
          |      ['the','a','data','table','value','row','query','line'], t)))
          |      ::BIGINT AS n_stop
          |  FROM (SELECT doc_id, text, string_split(text, ' ') AS toks
          |        FROM documents)),
          |ls AS (SELECT doc_id,
          |    AVG(CASE WHEN starts_with(line, '- ') THEN 1.0 ELSE 0.0 END)
          |      AS bullet_ratio,
          |    AVG(CASE WHEN ends_with(line, '...') THEN 1.0 ELSE 0.0 END)
          |      AS ellipsis_ratio
          |  FROM lines GROUP BY doc_id),
          |gp AS (SELECT doc_id,
          |    (n_words BETWEEN 50 AND 100000
          |      AND mean_len BETWEEN 3 AND 10
          |      AND bullet_ratio <= 0.9 AND ellipsis_ratio <= 0.3
          |      AND alpha_frac >= 0.8 AND n_stop >= 2) AS gopher_kept
          |  FROM ds JOIN ls USING (doc_id)),
          |ct AS (SELECT
          |    SUM(CASE WHEN c4_kept AND gopher_kept THEN 1 ELSE 0 END)
          |      ::BIGINT AS n11,
          |    SUM(CASE WHEN c4_kept AND NOT gopher_kept THEN 1 ELSE 0 END)
          |      ::BIGINT AS n10,
          |    SUM(CASE WHEN NOT c4_kept AND gopher_kept THEN 1 ELSE 0 END)
          |      ::BIGINT AS n01,
          |    SUM(CASE WHEN NOT c4_kept AND NOT gopher_kept THEN 1 ELSE 0
          |      END)::BIGINT AS n00,
          |    COUNT(*)::BIGINT AS n
          |  FROM c4 JOIN gp USING (doc_id)),
          |k AS (SELECT *,
          |    CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE) AS po,
          |    (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
          |     + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))
          |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe
          |  FROM ct)
          |SELECT n11, n10, n01, n00, ROUND(po, 4) AS po, ROUND(pe, 4) AS pe,
          |  ROUND(CASE WHEN pe = 1 THEN 1.0
          |    ELSE (po - pe) / (1 - pe) END, 4) AS kappa
          |FROM k""".stripMargin) { (s, dir) =>
      val lines = synthLines(Tables.fannedOut(s, dir, "documents"))
        .transform(graft.core.Measure.cacheOnce)
      val c4 = Curation.c4Clean(lines, "doc_id", "idx", "line")
        .select(col("doc_id"), col("kept").as("c4_kept"))
      val gp = Curation.gopherRules(Tables(s, dir, "documents"), lines,
          "doc_id", "text", "line", gopherStops)
        .select(col("doc_id"), col("keep").as("gopher_kept"))
      val ct = c4.join(gp, "doc_id").agg(
        sum(when(col("c4_kept") && col("gopher_kept"), 1L)
          .otherwise(0L)).as("n11"),
        sum(when(col("c4_kept") && !col("gopher_kept"), 1L)
          .otherwise(0L)).as("n10"),
        sum(when(!col("c4_kept") && col("gopher_kept"), 1L)
          .otherwise(0L)).as("n01"),
        sum(when(!col("c4_kept") && !col("gopher_kept"), 1L)
          .otherwise(0L)).as("n00"),
        count(lit(1)).as("n"))
      val po = (col("n11") + col("n00")).cast("double") / col("n").cast("double")
      val pe = ((col("n11") + col("n10")).cast("double") *
          (col("n11") + col("n01")).cast("double") +
        (col("n01") + col("n00")).cast("double") *
          (col("n10") + col("n00")).cast("double")) /
        (col("n").cast("double") * col("n").cast("double"))
      ct.withColumn("po", po).withColumn("pe", pe)
        .select(col("n11"), col("n10"), col("n01"), col("n00"),
          round(col("po"), 4).as("po"), round(col("pe"), 4).as("pe"),
          round(when(col("pe") === 1.0, 1.0)
            .otherwise((col("po") - col("pe")) / (lit(1.0) - col("pe"))), 4)
            .as("kappa"))
    },

    // Gopher quality rules: word-count band, mean-word-length band,
    // bullet/ellipsis line-ratio caps, alpha-word fraction, distinct
    // required-stopword minimum; per-rule metrics + conjunction.
    Q("t_gopher_rules",
      linesCtes +
        """,
          |ds AS (SELECT doc_id, len(toks)::BIGINT AS n_words,
          |    (length(text) - (len(toks) - 1))::DOUBLE / len(toks)
          |      AS mean_len,
          |    len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))::DOUBLE
          |      / len(toks) AS alpha_frac,
          |    len(list_filter(list_distinct(toks), t -> list_contains(
          |      ['the','a','data','table','value','row','query','line'], t)))
          |      ::BIGINT AS n_stop
          |  FROM (SELECT doc_id, text, string_split(text, ' ') AS toks
          |        FROM documents)),
          |ls AS (SELECT doc_id,
          |    AVG(CASE WHEN starts_with(line, '- ') THEN 1.0 ELSE 0.0 END)
          |      AS bullet_ratio,
          |    AVG(CASE WHEN ends_with(line, '...') THEN 1.0 ELSE 0.0 END)
          |      AS ellipsis_ratio
          |  FROM lines GROUP BY doc_id)
          |SELECT doc_id, n_words, ROUND(mean_len, 4) AS mean_len,
          |  ROUND(bullet_ratio, 4) AS bullet_ratio,
          |  ROUND(ellipsis_ratio, 4) AS ellipsis_ratio,
          |  ROUND(alpha_frac, 4) AS alpha_frac, n_stop,
          |  (n_words BETWEEN 50 AND 100000
          |    AND mean_len BETWEEN 3 AND 10
          |    AND bullet_ratio <= 0.9 AND ellipsis_ratio <= 0.3
          |    AND alpha_frac >= 0.8 AND n_stop >= 2) AS keep
          |FROM ds JOIN ls USING (doc_id) ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        val docs = Tables(s, dir, "documents")
        Curation.gopherRules(docs, synthLines(Tables.fannedOut(s, dir,
            "documents")), "doc_id", "text", "line", gopherStops)
          .orderBy("doc_id")
    },

    // THE composed web front door: C4 line/page cleaning + Gopher
    // document rules + corpus-wide paragraph dedup over ONE shared line
    // stream, joined into the final keep decision per doc — every
    // stage's verdict hash-checked through one DuckDB twin. The line
    // table feeds three consumers, so it persists for the query's
    // lifetime (released by the per-query release in Verify/ProfileQ).
    Q("pipe_web_e2e",
      linesCtes +
        """,
          |lk AS (SELECT doc_id, idx, line,
          |    (regexp_matches(line, '[.!?]$')
          |      AND len(string_split(line, ' ')) >= 5
          |      AND NOT contains(lower(line), 'javascript')) AS keep_l,
          |    (contains(line, '{')
          |      OR contains(lower(line), 'lorem ipsum')) AS bad_l
          |  FROM lines),
          |c4 AS (SELECT doc_id,
          |    (MAX(CASE WHEN bad_l THEN 1 ELSE 0 END) = 0 AND
          |     SUM(CASE WHEN keep_l THEN 1 ELSE 0 END) >= 3) AS c4_kept
          |  FROM lk GROUP BY doc_id),
          |ds AS (SELECT doc_id, len(toks)::BIGINT AS n_words,
          |    (length(text) - (len(toks) - 1))::DOUBLE / len(toks)
          |      AS mean_len,
          |    len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))::DOUBLE
          |      / len(toks) AS alpha_frac,
          |    len(list_filter(list_distinct(toks), t -> list_contains(
          |      ['the','a','data','table','value','row','query','line'], t)))
          |      ::BIGINT AS n_stop
          |  FROM (SELECT doc_id, text, string_split(text, ' ') AS toks
          |        FROM documents)),
          |ls AS (SELECT doc_id,
          |    AVG(CASE WHEN starts_with(line, '- ') THEN 1.0 ELSE 0.0 END)
          |      AS bullet_ratio,
          |    AVG(CASE WHEN ends_with(line, '...') THEN 1.0 ELSE 0.0 END)
          |      AS ellipsis_ratio
          |  FROM lines GROUP BY doc_id),
          |gp AS (SELECT doc_id,
          |    (n_words BETWEEN 50 AND 100000
          |      AND mean_len BETWEEN 3 AND 10
          |      AND bullet_ratio <= 0.9 AND ellipsis_ratio <= 0.3
          |      AND alpha_frac >= 0.8 AND n_stop >= 2) AS gopher_kept
          |  FROM ds JOIN ls USING (doc_id)),
          |lh AS (SELECT doc_id, idx, line,
          |    ('0x' || substr(md5(line), 1, 15))::BIGINT AS h FROM lines),
          |pf AS (SELECT doc_id, idx, line,
          |    (ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, idx) = 1)
          |      AS kept
          |  FROM lh),
          |pd AS (SELECT doc_id,
          |    SUM(CASE WHEN kept THEN 0 ELSE 1 END)::BIGINT AS n_dup_lines,
          |    md5(COALESCE(array_to_string(
          |      list(line ORDER BY idx) FILTER (WHERE kept), chr(10)), ''))
          |      AS dedup_md5
          |  FROM pf GROUP BY doc_id)
          |SELECT doc_id, c4_kept, gopher_kept, n_dup_lines,
          |  (c4_kept AND gopher_kept) AS final_keep,
          |  CASE WHEN c4_kept AND gopher_kept THEN dedup_md5 END AS out_md5
          |FROM c4 JOIN gp USING (doc_id) JOIN pd USING (doc_id)
          |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val lines = synthLines(Tables.fannedOut(s, dir, "documents"))
        .transform(graft.core.Measure.cacheOnce)
      val c4 = Curation.c4Clean(lines, "doc_id", "idx", "line")
        .select(col("doc_id"), col("kept").as("c4_kept"))
      val gp = Curation.gopherRules(Tables(s, dir, "documents"), lines,
          "doc_id", "text", "line", gopherStops)
        .select(col("doc_id"), col("keep").as("gopher_kept"))
      val pd = Curation.paragraphDedup(lines, "doc_id", "idx", "line")
        .select(col("doc_id"), col("n_dropped").as("n_dup_lines"),
          col("clean_md5").as("dedup_md5"))
      c4.join(gp, "doc_id").join(pd, "doc_id")
        .withColumn("final_keep", col("c4_kept") && col("gopher_kept"))
        .select(col("doc_id"), col("c4_kept"), col("gopher_kept"),
          col("n_dup_lines"), col("final_keep"),
          when(col("final_keep"), col("dedup_md5")).as("out_md5"))
        .orderBy("doc_id")
    },

    // Corpus-wide exact paragraph dedup: every distinct line keeps its
    // smallest (doc, idx) occurrence; boilerplate (the injected junk
    // lines, shared across ~5% of docs) collapses to one copy each.
    Q("dedup_paragraphs",
      linesCtes +
        """,
          |lh AS (SELECT doc_id, idx, line,
          |    ('0x' || substr(md5(line), 1, 15))::BIGINT AS h FROM lines),
          |f AS (SELECT doc_id, idx, line,
          |    (ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, idx) = 1)
          |      AS kept
          |  FROM lh)
          |SELECT doc_id, COUNT(*)::BIGINT AS n_lines,
          |  SUM(CASE WHEN kept THEN 0 ELSE 1 END)::BIGINT AS n_dropped,
          |  md5(COALESCE(array_to_string(
          |    list(line ORDER BY idx) FILTER (WHERE kept), chr(10)), ''))
          |    AS clean_md5
          |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Curation.paragraphDedup(synthLines(Tables.fannedOut(s, dir, "documents")),
          "doc_id", "idx", "line")
        .orderBy("doc_id")
    })
}
