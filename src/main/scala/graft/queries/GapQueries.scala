package graft.queries

import org.apache.spark.sql.functions._
import graft.core.{Coords, Tables}
import graft.ops.Relational

/** Coverage for the remaining SURVEY.md §2 operators: padded-key
  * reference joins (S4/J3), sibling joins with collision renames (J4/S5),
  * string-expression filters (P6), coordinate rotation (§2.8 math),
  * derived rate columns (W4).
  */
object GapQueries {

  def qs: Seq[Q] = Seq(

    // S4/J3 — reference-row lookup tolerant of padded string keys
    // (reference: cosmo/filesystem.py:117–149 compares bytes/str with
    // trailing-pad tolerance). Keys are rpad-ed on one side and joined
    // through rtrim normalization; the dimension side broadcasts.
    Q("j3_padded_key_lookup",
      """SELECT c.c_mktsegment, COUNT(*) AS n, CAST(SUM(n.n_regionkey) AS BIGINT) AS sum_region
        |FROM (SELECT *, rpad(c_mktsegment, 12, ' ') AS seg_padded FROM customer) c
        |JOIN nation n ON rtrim(c.seg_padded) != '' AND n.n_nationkey = c.c_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val c = Tables(s, dir, "customer")
        .withColumn("seg_padded", rpad(col("c_mktsegment"), 12, " "))
      val n = Tables(s, dir, "nation")
      c.filter(rtrim(col("seg_padded")) =!= "")
        .join(broadcast(n), col("n_nationkey") === col("c_nationkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), sum("n_regionkey").cast("long").as("sum_region"))
        .orderBy("c_mktsegment")
    },

    // J4/S5 — sibling-table join with prefix-renamed column collisions
    // (reference: cosmo/filesystem.py:84–91, 157–193: SPT header keys that
    // collide with the primary table get an 'spt_' prefix).
    Q("j4_sibling_prefix_rename",
      """SELECT o.o_orderkey, o.o_totalprice, spt.o_totalprice AS spt_o_totalprice
        |FROM orders o JOIN (SELECT o_orderkey, o_totalprice * 0.5 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 100 = 0) spt
        |ON o.o_orderkey = spt.o_orderkey
        |ORDER BY o.o_orderkey""".stripMargin) { (s, dir) =>
      val primary = Tables(s, dir, "orders")
      val sibling = primary.filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"), (col("o_totalprice") * 0.5).as("o_totalprice"))
      val collisions = sibling.columns.toSet.intersect(primary.columns.toSet) - "o_orderkey"
      val renamed = collisions.foldLeft(sibling)((d, c) =>
        d.withColumnRenamed(c, s"spt_$c"))
      primary.join(renamed, "o_orderkey")
        .select("o_orderkey", "o_totalprice", "spt_o_totalprice")
        .orderBy("o_orderkey")
    },

    // P6 — string-expression filters: regex contains / negated contains +
    // eval-style 0/1 flag (reference: dark_monitors.py:195–198
    // `np.where(eval(...))`; data_models.py:220 `~str.contains('ACQ|DARK')`).
    Q("p6_string_expr_filter",
      """SELECT CASE WHEN value > 150 OR user_id < 10 THEN 1 ELSE 0 END AS flag,
        |  COUNT(*) AS n
        |FROM events WHERE NOT regexp_matches(event_type, 'err|view')
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      Tables(s, dir, "events")
        .filter(!col("event_type").rlike("err|view"))
        .select(when(col("value") > 150 || col("user_id") < 10, 1).otherwise(0).as("flag"))
        .groupBy("flag").agg(count(lit(1)).as("n"))
        .orderBy("flag")
    },

    // §2.8 math — detector→V2/V3 rotation (reference:
    // cosmo/monitor_helpers.py:92–108; exercised by AcqImageV2V3Monitor).
    Q("fn_v2v3_rotation",
      """SELECT event_id,
        |  ROUND(value * COS(RADIANS(45.0)) + user_id * SIN(RADIANS(45.0)), 4) + 0 AS v2,
        |  ROUND(value * COS(RADIANS(45.0)) - user_id * SIN(RADIANS(45.0)), 4) + 0 AS v3
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      Tables(s, dir, "events")
        .select(col("event_id"),
          (round(Coords.v2(col("value"), col("user_id")), 4) + lit(0)).as("v2"),
          (round(Coords.v3(col("value"), col("user_id")), 4) + lit(0)).as("v3"))
        .orderBy("event_id")
    },

    // P9 via bloom pre-filter: same result as the plain anti-join (same
    // oracle as p9_anti_join) — definite non-members skip the shuffle.
    Q("p9_bloom_anti_join",
      """SELECT COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS sum_qty
        |FROM lineitem l WHERE NOT EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'F')""".stripMargin) { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      val o = Tables(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"))
      org.apache.spark.sql.graft.BloomOps
        .bloomAntiJoin(li, o, "l_orderkey", "o_orderkey", estimatedItems = 100000L)
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
    },

    // BPE-ish regex tokenization: word pieces + standalone punctuation
    // (the token-counting shape an LLM-data pipeline needs beyond
    // whitespace splitting).
    Q("t_regex_tokens",
      """SELECT lang,
        |  CAST(SUM(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\s]'))) AS BIGINT)
        |    AS n_pieces,
        |  CAST(MAX(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\s]'))) AS BIGINT)
        |    AS max_pieces
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .withColumn("np",
          size(regexp_extract_all(col("text"), lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0))))
        .groupBy("lang")
        .agg(sum("np").as("n_pieces"), max("np").cast("long").as("max_pieces"))
        .orderBy("lang")
    },

    // SQL-surface end-to-end: the same aggregation written as spark.sql
    // over registered views (ad-hoc query path, reference
    // docs/source/sms.rst:62–95).
    Q("sql_adhoc_surface",
      """SELECT l_returnflag, COUNT(*) AS n, ROUND(SUM(l_extendedprice), 2) AS sum_p
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      graft.sql.Views.register(s, dir)
      s.sql("""SELECT l_returnflag, COUNT(*) AS n,
               ROUND(SUM(l_extendedprice), 2) AS sum_p
               FROM lineitem GROUP BY 1 ORDER BY 1""")
    },

    // Skew-salted join equals the plain join (U-verified): hot-key
    // scatter with right-side replication.
    Q("j_salted_join",
      """SELECT c.c_mktsegment, COUNT(*) AS n, ROUND(SUM(o.o_totalprice), 2) AS sum_p
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      Relational.saltedJoin(
        Tables(s, dir, "orders").withColumnRenamed("o_custkey", "k"),
        Tables(s, dir, "customer").withColumnRenamed("c_custkey", "k"),
        "k", salts = 8)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("sum_p"))
        .orderBy("c_mktsegment")
    },


    // The EXACT k-means semantics above, hash-checked: md5 seeds (the
    // DuckDB-portable twin of xxhash64, same data-independent spread) and
    // 6-decimal-rounded argmax ranking on both engines so double ulp
    // noise can't flip an assignment. The oracle unrolls the 3 Lloyd
    // rounds as CTE stages — seeds → (assign → mean)×3 → final assign →
    // cell occupancy.
    Q("sim_kmeans_md5", kmeansMd5Oracle(k = 8, iters = 3)) { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val cents = graft.ops.Similarity.kmeansCentroids(
        e, "vec_id", "embedding", k = 8, iters = 3,
        seedHash = c => md5(c.cast("string")), simRound = 6)
      graft.ops.Similarity.ivfAssign(e, "embedding", cents, simRound = 6)
        .groupBy("centroid_id").agg(count(lit(1)).as("n"))
        .orderBy("centroid_id")
    },

    // The IVF cell-assignment MECHANISM oracled exactly: per-label mean
    // centroids, argmax-cosine assignment (ranking on the 6-decimal
    // rounded similarity so double ulp noise between engines can't flip
    // the argmax; ties break to the lower cell on both sides), cell
    // occupancy. The production-path variant above keeps the raw-double
    // ranking.
    Q("sim_ivf_assign",
      """WITH pos AS (SELECT vec_id, label,
        |    unnest(CAST(embedding AS DOUBLE[])) AS v,
        |    generate_subscripts(embedding, 1) AS pos FROM embeddings),
        |cent AS (SELECT label AS cl, pos, AVG(v) AS c FROM pos GROUP BY 1, 2),
        |sim AS (SELECT p.vec_id, c.cl,
        |    SUM(p.v * c.c) / (SQRT(SUM(p.v * p.v)) * SQRT(SUM(c.c * c.c))) AS s
        |  FROM pos p JOIN cent c USING (pos) GROUP BY 1, 2),
        |best AS (SELECT vec_id, cl FROM sim
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
        |    ORDER BY ROUND(s, 6) DESC, cl) = 1)
        |SELECT cl AS centroid_id, COUNT(*) AS n
        |FROM best GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val e = Tables(s, dir, "embeddings")
      val pos = e.select(col("vec_id"), col("label"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "v")))
      val cent = pos.groupBy(col("label").as("cl"), col("pos"))
        .agg(avg("v").as("c"))
      val sim = pos.join(broadcast(cent), Seq("pos"))
        .groupBy("vec_id", "cl")
        .agg((sum(col("v") * col("c")) /
          (sqrt(sum(col("v") * col("v"))) * sqrt(sum(col("c") * col("c"))))).as("s"))
      val w = Window.partitionBy("vec_id").orderBy(round(col("s"), 6).desc, col("cl"))
      sim.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .groupBy(col("cl").as("centroid_id")).agg(count(lit(1)).as("n"))
        .orderBy("centroid_id")
    },

    // W4 — derived rate columns (reference: osm_drift_monitors.py:35–40:
    // SHIFT/TIME drift rate, TIME + TSINCEOSM offset).
    Q("w4_drift_rates",
      """SELECT event_id,
        |  ROUND(value / (epoch_us(ts) / 1e6 - epoch_us(TIMESTAMP '2024-01-01') / 1e6 + 1), 6) + 0
        |    AS drift_rate,
        |  epoch_us(ts) + user_id * 1000000 AS t_offset_us
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      val tsec = unix_micros(col("ts")) / 1e6
      val t0 = unix_micros(lit("2024-01-01").cast("timestamp")) / 1e6
      Tables(s, dir, "events")
        .select(col("event_id"),
          (round(col("value") / (tsec - t0 + 1), 6) + lit(0)).as("drift_rate"),
          (unix_micros(col("ts")) + col("user_id") * 1000000L).as("t_offset_us"))
        .orderBy("event_id")
    })

  /** DuckDB oracle for [[graft.ops.Similarity.kmeansCentroids]] with md5
    * seeds; the shared CTE chain lives in [[OracleSql.kmeansMd5Ctes]]
    * (also the base of `dedup_semantic`'s oracle). */
  private def kmeansMd5Oracle(k: Int, iters: Int): String =
    OracleSql.kmeansMd5Ctes(k, iters) +
      """
        |SELECT cid AS centroid_id, COUNT(*) AS n FROM af
        |GROUP BY 1 ORDER BY 1""".stripMargin
}
