package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.Similarity

/** Similarity search over the `embeddings` table: exact cosine math with
  * a DuckDB oracle, brute-force k-NN join as the correctness baseline,
  * and LSH-bucketed ANN as the scale path.
  */
object SimilarityQueries {

  def qs: Seq[Q] = Seq(

    // Cosine similarity of every vector to vec_id 0, thresholded —
    // row-deterministic under fp jitter because similarity is rounded.
    Q("sim_cosine_vs_probe",
      """WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |    CAST(q.embedding AS DOUBLE[])), 3) AS sim
        |FROM embeddings e, q WHERE
        |  ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |    CAST(q.embedding AS DOUBLE[])), 3) >= 0.2
        |ORDER BY e.vec_id""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val probe = e.filter(col("vec_id") === 0).select(col("embedding").as("__q"))
      e.crossJoin(broadcast(probe))
        .withColumn("sim", round(Similarity.cosine(col("embedding"), col("__q")), 3))
        .filter(col("sim") >= 0.2)
        .select("vec_id", "sim")
        .orderBy("vec_id")
    },

    // Matryoshka (truncated-dimension) retrieval: search on a PREFIX of
    // the embedding — MRL-trained models put the most information in the
    // leading dims, so a 16-of-64-dim scan cuts the similarity pass 4×
    // (the coarse stage of coarse-to-fine retrieval; PQ/SQ8 compress
    // codes, this compresses DIMENSIONS). Cosine over the truncation ==
    // dot of the renormalized truncations, so the one native-cosine call
    // covers the renormalize-then-dot definition without a second pass.
    // Map-only against the broadcast truncated probe + TakeOrdered —
    // zero shuffles over the vector table at any scale.
    Q("sim_matryoshka_topk",
      """WITH t AS (SELECT vec_id,
        |    CAST(embedding[1:16] AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT v FROM t WHERE vec_id = 0)
        |SELECT t.vec_id,
        |  ROUND(list_cosine_similarity(t.v, (SELECT v FROM q)), 4) + 0 AS sim
        |FROM t WHERE t.vec_id <> 0
        |ORDER BY ROUND(list_cosine_similarity(t.v, (SELECT v FROM q)), 4)
        |  DESC, t.vec_id LIMIT 10""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
        .select(col("vec_id"),
          slice(col("embedding").cast("array<double>"), 1, 16).as("v"))
      val probe = e.filter(col("vec_id") === 0).select(col("v").as("__q"))
      e.filter(col("vec_id") =!= 0).crossJoin(broadcast(probe))
        .withColumn("sim",
          (round(Similarity.cosine(col("v"), col("__q")), 4) + lit(0.0))
            .as("sim"))
        .select("vec_id", "sim")
        .orderBy(col("sim").desc, col("vec_id")).limit(10)
    },

    // Brute-force k-NN join: top-3 neighbors for each probe (vec_id < 20)
    // over all candidates. Oracle uses DuckDB QUALIFY with identical
    // rounded-sim ordering.
    Q("sim_knn_join",
      """SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
        |  ROUND(list_cosine_similarity(CAST(p.embedding AS DOUBLE[]),
        |    CAST(c.embedding AS DOUBLE[])), 3) + 0 AS sim
        |FROM embeddings p JOIN embeddings c
        |  ON p.vec_id < 20 AND c.vec_id != p.vec_id
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY p.vec_id
        |  ORDER BY sim DESC, c.vec_id) <= 3
        |ORDER BY probe_id, sim DESC, cand_id""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      Similarity.knnJoin(
        e.filter(col("vec_id") < 20).select(col("vec_id"), col("embedding")),
        e.select(col("vec_id").as("cand_id"), col("embedding")),
        "vec_id", "cand_id", "embedding", k = 3)
        .withColumnRenamed("vec_id", "probe_id")
        .orderBy(col("probe_id"), col("sim").desc, col("cand_id"))
    },

    // Per-label centroid similarity: groupwise mean vector, then cosine of
    // each label centroid against the global centroid — exercises
    // element-wise array aggregation (vector avg) in pure SQL/columns.
    Q("sim_label_centroids",
      """WITH pos AS (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS v,
        |    generate_subscripts(embedding, 1) AS pos FROM embeddings),
        |cent AS (SELECT label, pos, AVG(v) AS c FROM pos GROUP BY 1, 2),
        |gc AS (SELECT pos, AVG(v) AS g FROM pos GROUP BY 1),
        |j AS (SELECT cent.label, SUM(c * g) AS dotp,
        |        SQRT(SUM(c * c)) AS nc, SQRT(SUM(g * g)) AS ng
        |      FROM cent JOIN gc USING (pos) GROUP BY 1)
        |SELECT label, ROUND(dotp / (nc * ng), 4) + 0 AS centroid_sim
        |FROM j ORDER BY label""".stripMargin) { (s, dir) =>
      val exploded = Tables(s, dir, "embeddings")
        .select(col("label"),
          posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "v")))
      val cent = exploded.groupBy("label", "pos").agg(avg("v").as("c"))
      val glob = exploded.groupBy("pos").agg(avg("v").as("g"))
      cent.join(broadcast(glob), "pos")
        .groupBy("label")
        .agg(sum(col("c") * col("g")).as("dotp"),
          sqrt(sum(col("c") * col("c"))).as("nc"),
          sqrt(sum(col("g") * col("g"))).as("ng"))
        .select(col("label"),
          (round(col("dotp") / (col("nc") * col("ng")), 4) + lit(0)).as("centroid_sim"))
        .orderBy("label")
    },

    // Native Catalyst cosine expression through the SQL surface: the
    // registered cosine_sim function (single-pass codegen loop) against
    // the same DuckDB oracle as the HOF version — proving the native
    // expression and the composed builtins agree end-to-end.
    Q("sim_native_cosine",
      """WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 1)
        |SELECT e.vec_id,
        |  ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |    CAST(q.embedding AS DOUBLE[])), 3) + 0 AS sim
        |FROM embeddings e, q WHERE
        |  ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |    CAST(q.embedding AS DOUBLE[])), 3) >= 0.25
        |ORDER BY e.vec_id""".stripMargin) { (s, dir) =>
      graft.functions.GraftExtensions.register(s)
      val e = Tables(s, dir, "embeddings")
      val probe = e.filter(col("vec_id") === 1)
        .select(col("embedding").cast("array<double>").as("__q"))
      e.crossJoin(broadcast(probe))
        .withColumn("sim",
          (round(expr("cosine_sim(CAST(embedding AS array<double>), __q)"), 3) + lit(0)))
        .filter(col("sim") >= 0.25)
        .select("vec_id", "sim")
        .orderBy("vec_id")
    },

    // Embedding-cosine near-duplicate pairs — the vector-space member of
    // Embedding near-dup CLUSTERS: label-blocked cosine candidate pairs fed
    // through connected components (ops.Graph) — the embedding-space
    // counterpart of dedup_cc_clusters, so near-dup groups found by ANY
    // similarity modality resolve to one keeper the same way. Oracle
    // recomputes pairs AND components (recursive reachability)
    // independently.
    Q("dedup_embed_clusters",
      """WITH RECURSIVE
        |e AS (SELECT a.vec_id AS ua, b.vec_id AS vb
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])), 3) >= 0.35),
        |edges AS (SELECT ua AS u, vb AS v FROM e UNION SELECT vb, ua FROM e),
        |reach(id, r) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
        |  UNION
        |  SELECT ed.v, re.r FROM reach re JOIN edges ed ON ed.u = re.id),
        |comp AS (SELECT id AS vec_id, MIN(r) AS cluster FROM reach GROUP BY id)
        |SELECT c.vec_id, c.cluster, s.cluster_size,
        |  c.vec_id = c.cluster AS is_keeper
        |FROM comp c JOIN (SELECT cluster, COUNT(*) AS cluster_size
        |  FROM comp GROUP BY cluster) s USING (cluster)
        |ORDER BY c.vec_id""".stripMargin) { (s, dir) =>
      // fannedOut: within-label pairwise cosine is CPU-dense and the
      // single-file test table would otherwise scan as one partition
      val e = Tables.fannedOut(s, dir, "embeddings")
        .select(col("label"), col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
      val a = e.select(col("label"), col("vec_id").as("id_a"), col("v").as("va"))
      val b = e.select(col("label"), col("vec_id").as("id_b"), col("v").as("vb"))
      val pairs = a.join(b, Seq("label"))
        .filter(col("id_a") < col("id_b"))
        .filter(round(Similarity.cosine(col("va"), col("vb")), 3) + lit(0) >= 0.35)
        .select("id_a", "id_b")
      graft.ops.Graph.connectedComponents(pairs, "id_a", "id_b")
        .withColumn("cluster_size",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy("cluster")))
        .select(col("node").as("vec_id"), col("cluster"), col("cluster_size"),
          (col("node") === col("cluster")).as("is_keeper"))
        .orderBy("vec_id")
    },

    // IVF index DRIFT monitor — the maintenance signal for a served ANN
    // index: train centroids on the t0 slice (even vec_ids), assign BOTH
    // slices, and compare per-cell populations. A t1 histogram diverging
    // from t0's says the data distribution moved and the index needs
    // retraining (the periodic-retrain contract of in-stream
    // Similarity.ivfAssign). Counts only — the consumer picks the
    // divergence metric. Oracle replays the md5-seeded Lloyd chain
    // trained on the SAME t0 subset, then the full assignment.
    Q("sim_ivf_drift",
      OracleSql.kmeansMd5Ctes(k = 8, iters = 3,
        trainWhere = "vec_id % 2 = 0") +
        """
          |SELECT af.cid AS centroid_id,
          |  SUM(CASE WHEN af.vec_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_t0,
          |  SUM(CASE WHEN af.vec_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_t1
          |FROM af GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      // NOT fannedOut: the dominant cost here is the Lloyd training
      // loop's iters+1 driver-synchronous jobs, and fanning a tiny
      // vector table to 32 partitions multiplies every training
      // stage's task-scheduling latency for no CPU win (measured:
      // construction 2.5 s fanned vs 1.0 s unfanned at sf0.1's 2k
      // vectors; at real scale the scan has enough splits and fanOut
      // is a no-op anyway — see ProfileQ + PERF.md round 11)
      val emb = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val cents = Similarity.kmeansCentroids(
        emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
        k = 8, iters = 3, seedHash = c => md5(c.cast("string")), simRound = 6)
      Similarity.ivfAssign(emb, "embedding", cents, simRound = 6)
        .groupBy("centroid_id")
        .agg(sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L)).as("n_t0"),
          sum(when(col("vec_id") % 2 === 1, 1L).otherwise(0L)).as("n_t1"))
        .orderBy("centroid_id")
    },

    // ANN RECALL EVALUATION — the measurement every approximate index
    // needs before it ships: IVF top-10 (candidates from the probe's
    // single nearest cell) scored against exact top-10 over all vectors,
    // per probe. n_overlap/n_exact IS recall@10; integer counts with the
    // round-6-then-rank contract make the comparison engine-exact. The
    // oracle replays the trained-cell chain, both rankings, and the
    // intersection independently.
    Q("sim_recall_eval",
      OracleSql.kmeansMd5Ctes(k = 8, iters = 3) +
        """,
          |pv AS (SELECT vec_id AS probe_id, pos, x FROM v WHERE vec_id < 5),
          |pa AS (SELECT vec_id AS probe_id, cid AS pcid FROM af WHERE vec_id < 5),
          |sim AS (SELECT pv.probe_id, v.vec_id,
          |    ROUND(SUM(pv.x*v.x)/(SQRT(SUM(pv.x*pv.x))*SQRT(SUM(v.x*v.x))), 6) AS s
          |  FROM pv JOIN v ON v.pos = pv.pos AND v.vec_id <> pv.probe_id
          |  GROUP BY 1, 2),
          |ex AS (SELECT probe_id, vec_id FROM sim
          |  QUALIFY ROW_NUMBER() OVER (PARTITION BY probe_id
          |    ORDER BY s DESC, vec_id) <= 10),
          |iv AS (SELECT s.probe_id, s.vec_id FROM sim s
          |  JOIN pa USING (probe_id)
          |  JOIN af ON af.vec_id = s.vec_id AND af.cid = pa.pcid
          |  QUALIFY ROW_NUMBER() OVER (PARTITION BY s.probe_id
          |    ORDER BY s.s DESC, s.vec_id) <= 10),
          |exn AS (SELECT probe_id, COUNT(*)::BIGINT AS n_exact FROM ex GROUP BY 1),
          |ivn AS (SELECT probe_id, COUNT(*)::BIGINT AS n_ivf FROM iv GROUP BY 1),
          |ov AS (SELECT ex.probe_id, COUNT(*)::BIGINT AS n_overlap
          |  FROM ex JOIN iv ON iv.probe_id = ex.probe_id AND iv.vec_id = ex.vec_id
          |  GROUP BY 1)
          |SELECT exn.probe_id, exn.n_exact,
          |  COALESCE(ivn.n_ivf, 0) AS n_ivf,
          |  COALESCE(ov.n_overlap, 0) AS n_overlap
          |FROM exn LEFT JOIN ivn USING (probe_id) LEFT JOIN ov USING (probe_id)
          |ORDER BY probe_id""".stripMargin) { (s, dir) =>
      // ONE pass over the similarity rows: the exact and the in-cell
      // rankings share the same (probe, s desc, id) window spec, so both
      // resolve inside a single WindowExec — row_number for the exact
      // rank, a running count of in-cell rows for the IVF rank (the rank
      // of an in-cell row AMONG in-cell rows is exactly how many in-cell
      // rows precede-or-equal it in the shared ordering). Membership and
      // overlap then reduce in one aggregate: scan → broadcast probes →
      // window (1 shuffle) → agg (1 shuffle), replacing the former
      // five-branch plan that replayed `sims` per branch (36 exchanges /
      // 8 scans even after centroid materialization; 156 before it).
      // NOT fannedOut — training-loop latency dominates, see sim_ivf_drift
      val emb = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
        k = 8, iters = 3, seedHash = c => md5(c.cast("string")), simRound = 6)
      val assigned = Similarity.ivfAssign(emb, "embedding", cents, simRound = 6)
      val probes = assigned.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("centroid_id").as("pcid"),
          col("embedding").as("pvec"))
      val sims = assigned.join(broadcast(probes),
          col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          (col("centroid_id") === col("pcid")).as("in_cell"),
          round(Similarity.cosine(col("embedding"), col("pvec")), 6).as("s"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("probe_id").orderBy(col("s").desc, col("vec_id"))
      val wRun = w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
      sims
        .withColumn("rk_ex", row_number().over(w))
        .withColumn("rk_iv",
          sum(when(col("in_cell"), 1L).otherwise(0L)).over(wRun))
        .select(col("probe_id"),
          (col("rk_ex") <= 10).as("is_ex"),
          (col("in_cell") && col("rk_iv") <= 10).as("is_iv"))
        .groupBy("probe_id")
        .agg(sum(when(col("is_ex"), 1L).otherwise(0L)).as("n_exact"),
          sum(when(col("is_iv"), 1L).otherwise(0L)).as("n_ivf"),
          sum(when(col("is_ex") && col("is_iv"), 1L).otherwise(0L)).as("n_overlap"))
        .orderBy("probe_id")
    },

    // IVF nProbe-RECALL SWEEP — the tuning curve an IVF deployment reads
    // before picking nProbe (the dense twin of dedup_lsh_scurve's
    // bands/rows S-curve): recall@10 at nProbe ∈ {1,2,4,8}, aggregated
    // over the probe set. Per probe, cells rank by round-6
    // probe-to-centroid cosine (cid ties); a candidate participates at
    // level p iff its cell ranks ≤ p. All four levels resolve in ONE
    // shared WindowExec: the exact rank is row_number, and each level's
    // in-candidate rank is a running count of rows whose cell-rank ≤ p
    // under the same (s desc, vec_id) ordering — the sim_recall_eval
    // single-pass trick, widened to a sweep. Integer counts, one final
    // rounded ratio.
    Q("sim_ivf_sweep",
      OracleSql.kmeansMd5Ctes(k = 8, iters = 3) +
        """,
          |pr AS (SELECT vec_id AS probe_id, cid, ROW_NUMBER() OVER (
          |    PARTITION BY vec_id ORDER BY ROUND(s,6) DESC, cid) AS crk
          |  FROM sf WHERE vec_id < 5),
          |pv AS (SELECT vec_id AS probe_id, pos, x FROM v WHERE vec_id < 5),
          |sim AS (SELECT pv.probe_id, v.vec_id,
          |    ROUND(SUM(pv.x*v.x)/(SQRT(SUM(pv.x*pv.x))*SQRT(SUM(v.x*v.x))), 6) AS s
          |  FROM pv JOIN v ON v.pos = pv.pos AND v.vec_id <> pv.probe_id
          |  GROUP BY 1, 2),
          |cand AS (SELECT s.probe_id, s.vec_id, s.s, pr.crk
          |  FROM sim s JOIN af ON af.vec_id = s.vec_id
          |  JOIN pr ON pr.probe_id = s.probe_id AND pr.cid = af.cid),
          |ps AS (SELECT unnest([1, 2, 4, 8]) AS np),
          |ex AS (SELECT probe_id, vec_id FROM sim
          |  QUALIFY ROW_NUMBER() OVER (PARTITION BY probe_id
          |    ORDER BY s DESC, vec_id) <= 10),
          |iv AS (SELECT c.probe_id, p.np, c.vec_id
          |  FROM cand c CROSS JOIN ps p WHERE c.crk <= p.np
          |  QUALIFY ROW_NUMBER() OVER (PARTITION BY c.probe_id, p.np
          |    ORDER BY c.s DESC, c.vec_id) <= 10),
          |exn AS (SELECT p.np, COUNT(*)::BIGINT AS n_exact
          |  FROM ex CROSS JOIN ps p GROUP BY 1),
          |ivn AS (SELECT np, COUNT(*)::BIGINT AS n_ivf FROM iv GROUP BY 1),
          |ov AS (SELECT iv.np, COUNT(*)::BIGINT AS n_overlap
          |  FROM iv JOIN ex ON ex.probe_id = iv.probe_id
          |    AND ex.vec_id = iv.vec_id GROUP BY 1)
          |SELECT exn.np, exn.n_exact, COALESCE(ivn.n_ivf, 0) AS n_ivf,
          |  COALESCE(ov.n_overlap, 0) AS n_overlap,
          |  ROUND(CAST(COALESCE(ov.n_overlap, 0) AS DOUBLE) / exn.n_exact, 4)
          |    AS recall
          |FROM exn LEFT JOIN ivn USING (np) LEFT JOIN ov USING (np)
          |ORDER BY np""".stripMargin) { (s, dir) =>
      // NOT fannedOut — training-loop latency dominates, see sim_ivf_drift
      val emb = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
        k = 8, iters = 3, seedHash = c => md5(c.cast("string")), simRound = 6)
      val assigned = Similarity.ivfAssign(emb, "embedding", cents, simRound = 6)
      val probes = assigned.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pvec"))
      // probe → cell ranking: 5 probes × k cells, broadcast both ways
      val wCell = org.apache.spark.sql.expressions.Window
        .partitionBy("probe_id")
        .orderBy(col("cs").desc, col("centroid_id"))
      val pcells = probes.crossJoin(broadcast(cents))
        .select(col("probe_id"), col("centroid_id"),
          round(Similarity.cosine(col("pvec"), col("embedding")), 6).as("cs"))
        .withColumn("crk", row_number().over(wCell))
        .select("probe_id", "centroid_id", "crk")
      val sims = assigned.join(broadcast(probes),
          col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"), col("centroid_id"),
          round(Similarity.cosine(col("embedding"), col("pvec")), 6).as("s"))
        .join(broadcast(pcells), Seq("probe_id", "centroid_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("probe_id").orderBy(col("s").desc, col("vec_id"))
      val wRun = w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
      val levels = Seq(1, 2, 4, 8)
      val ranked = levels.foldLeft(
          sims.withColumn("rk_ex", row_number().over(w))) { (d, p) =>
        d.withColumn(s"rk_iv_$p",
          sum(when(col("crk") <= p, 1L).otherwise(0L)).over(wRun))
      }
      ranked
        .select(col("probe_id"), (col("rk_ex") <= 10).as("is_ex"),
          explode(array(levels.map(p => struct(lit(p).as("np"),
            (col("crk") <= p && col(s"rk_iv_$p") <= 10).as("is_iv"))): _*))
            .as("l"))
        .groupBy(col("l.np").as("np"))
        .agg(sum(when(col("is_ex"), 1L).otherwise(0L)).as("n_exact"),
          sum(when(col("l.is_iv"), 1L).otherwise(0L)).as("n_ivf"),
          sum(when(col("is_ex") && col("l.is_iv"), 1L).otherwise(0L))
            .as("n_overlap"))
        .withColumn("recall",
          round(col("n_overlap").cast("double") / col("n_exact"), 4))
        .orderBy("np")
    },

    // SemDeDup-shape SEMANTIC dedup: deterministic k-means cells (the
    // exact md5-seeded chain sim_kmeans_md5 pins), then within each cell
    // drop every vector with a smaller-id neighbor at round-6 cosine >=
    // 0.35. Pairwise work happens only INSIDE a cell — the SemDeDup
    // contract that makes pair volume linear in N when k tracks corpus
    // size. The oracle replays seeds, 3 Lloyd rounds, the final
    // assignment, within-cell pairs, and the drop rule end to end.
    Q("dedup_semantic",
      OracleSql.kmeansMd5Ctes(k = 8, iters = 3) +
        """,
          |wp AS (SELECT a.vec_id AS ia, b.vec_id AS ib FROM af a
          |  JOIN af b ON a.cid = b.cid AND a.vec_id < b.vec_id),
          |cs AS (SELECT wp.ia, wp.ib,
          |    SUM(va.x*vb.x)/(SQRT(SUM(va.x*va.x))*SQRT(SUM(vb.x*vb.x))) AS s
          |  FROM wp JOIN v va ON va.vec_id = wp.ia
          |  JOIN v vb ON vb.vec_id = wp.ib AND vb.pos = va.pos GROUP BY 1, 2),
          |drp AS (SELECT DISTINCT ib FROM cs WHERE ROUND(s, 6) >= 0.35)
          |SELECT af.vec_id, af.cid AS centroid_id,
          |  CASE WHEN drp.ib IS NOT NULL THEN 'dropped' ELSE 'kept' END AS status
          |FROM af LEFT JOIN drp ON drp.ib = af.vec_id
          |ORDER BY af.vec_id""".stripMargin) { (s, dir) =>
      // NOT fannedOut — training-loop latency dominates, see sim_ivf_drift;
      // the within-cell self-join re-partitions on centroid_id anyway
      Similarity.semanticDedup(
          Tables(s, dir, "embeddings")
            .select(col("vec_id"),
              col("embedding").cast("array<double>").as("embedding")),
          "vec_id", "embedding", k = 8, iters = 3, tau = 0.35,
          seedHash = c => md5(c.cast("string")), simRound = 6)
        .orderBy("vec_id")
    },

    // End-to-end ANN near-dup: the 100 TB embedding-dedup composition.
    // Candidate pairs come from BANDED sign-LSH over the portable md5
    // plane family (2 bands × 4 bits — candidates meet only inside a
    // (band, bucket) equi-join, never all-pairs), are verified by exact
    // rounded cosine, clustered by connected components, and each
    // cluster keeps its most CENTRAL member (highest round-4 cosine to
    // the cluster mean, ties to the smallest vec_id) — the medoid-style
    // keeper policy of a real curation run. This replaces the
    // label-blocked brute-force pair source of `dedup_embed_clusters`
    // as the at-scale path: the oracle independently re-derives planes,
    // round-6 dot signs, band bucketing, the verified pair set,
    // recursive-CTE reachability, per-cluster centroids, and the
    // centrality ranking — drift anywhere in the chain hash-mismatches.
    Q("dedup_ann_e2e",
      """WITH RECURSIVE
        |v AS (SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
        |    generate_subscripts(embedding, 1) AS i FROM embeddings),
        |p AS (SELECT j, i,
        |    ('0x' || substr(md5(j::VARCHAR || '_' || i::VARCHAR), 1, 15))::BIGINT
        |      / 1152921504606846976.0 - 0.5 AS w
        |  FROM generate_series(0, 7) g(j) CROSS JOIN generate_series(1, 64) gi(i)),
        |d AS (SELECT vec_id, j, ROUND(SUM(x * w), 6) AS dot
        |  FROM v JOIN p USING (i) GROUP BY 1, 2),
        |bands AS (SELECT vec_id, j // 4 AS band,
        |    SUM((CASE WHEN dot >= 0 THEN 1 ELSE 0 END) << (j % 4))::BIGINT AS bucket
        |  FROM d GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.vec_id AS ua, b.vec_id AS vb
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
        |pairs AS (SELECT ua, vb FROM cand
        |  JOIN embeddings ea ON cand.ua = ea.vec_id
        |  JOIN embeddings eb ON cand.vb = eb.vec_id
        |  WHERE ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
        |    CAST(eb.embedding AS DOUBLE[])), 3) >= 0.35),
        |edges AS (SELECT ua AS u, vb AS v FROM pairs UNION SELECT vb, ua FROM pairs),
        |reach(id, r) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
        |  UNION
        |  SELECT ed.v, re.r FROM reach re JOIN edges ed ON ed.u = re.id),
        |cc AS (SELECT id AS vec_id, MIN(r) AS cluster FROM reach GROUP BY id),
        |mem AS (SELECT cc.cluster, cc.vec_id, v.x, v.i
        |  FROM cc JOIN v USING (vec_id)),
        |cent AS (SELECT cluster, i, AVG(x) AS c FROM mem GROUP BY 1, 2),
        |ctr AS (SELECT m.vec_id, m.cluster,
        |    ROUND(SUM(m.x * c.c) / (SQRT(SUM(m.x * m.x)) * SQRT(SUM(c.c * c.c))), 4)
        |      AS centrality
        |  FROM mem m JOIN cent c ON m.cluster = c.cluster AND m.i = c.i
        |  GROUP BY 1, 2),
        |reps AS (SELECT cluster, vec_id AS keeper, centrality AS keeper_centrality,
        |    row_number() OVER (PARTITION BY cluster
        |      ORDER BY centrality DESC, vec_id) AS rk
        |  FROM ctr)
        |SELECT r.cluster, s.cluster_size, r.keeper, r.keeper_centrality
        |FROM reps r JOIN (SELECT cluster, COUNT(*) AS cluster_size
        |  FROM cc GROUP BY cluster) s USING (cluster)
        |WHERE r.rk = 1 ORDER BY r.cluster""".stripMargin) { (s, dir) =>
      // NOT fanned out: this chain is stage-count-bound (banded join →
      // verify → iterative CC → centrality), not CPU-bound — a fan-out
      // repartition measurably slows it at test scale
      val e = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val planes = Similarity.portablePlanes(nBits = 8, dim = 64)
      val banded = e.select(col("vec_id"),
          explode(Similarity.lshBands(col("v"), planes, bandBits = 4,
            dotRound = 6)).as("bb"))
        .select(col("bb.band").as("band"), col("bb.bucket").as("bucket"),
          col("vec_id"))
      // candidates carry ids only through the bucket join + distinct; the
      // (few) survivors re-join the vector table by id for verification —
      // at scale the wide embedding column never rides through a shuffle
      // it doesn't need
      val cand = banded.select(col("band"), col("bucket"), col("vec_id").as("id_a"))
        .join(banded.select(col("band"), col("bucket"), col("vec_id").as("id_b")),
          Seq("band", "bucket"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
      Similarity.nearDupClusterReps(e, cand).orderBy("cluster")
    },

    // End-to-end ANN near-dup with IVF-CELL candidates (judge r17 top
    // task — the DATA-ADAPTIVE generator whose cost stays near-linear
    // where the bands recall rule pays bands×rows ≈ N^1.8): train
    // deterministic md5-seeded k-means cells, assign every vector to
    // its top-nProbe cells by the NATIVE fused ranking (the oracle
    // certifies the native expression end-to-end — any rank or rounding
    // drift hash-mismatches), and candidates meet only inside a shared
    // cell — a cell equi-join, never all-pairs. The verify→CC→keeper
    // tail is `nearDupClusterReps`, byte-identical to dedup_ann_e2e's.
    // The DuckDB oracle replays seeds, 3 Lloyd rounds, the round-6
    // top-2 cell ranking, the candidate join, round-3 cosine verify,
    // recursive-CTE reachability, per-cluster centroids, and the
    // centrality ranking. Production knobs come from
    // Similarity.ivfKnobsForScale (CONSTANT cell size k = ⌈N/100⌉,
    // constant nProbe — the √N rule measured slope 2.37 and was
    // rejected; see PERF.md r18); the fixture run pins k = 8 so the
    // Lloyd chain stays oracle-replayable.
    Q("dedup_ann_ivf_e2e",
      OracleSql.kmeansMd5Ctes(k = 8, iters = 3, recursive = true) +
        """,
          |afp AS (SELECT vec_id, cid FROM sf
          |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
          |    ORDER BY ROUND(s,6) DESC, cid) <= 2),
          |cand AS (SELECT DISTINCT a.vec_id AS ua, b.vec_id AS vb
          |  FROM afp a JOIN afp b
          |    ON a.cid = b.cid AND a.vec_id < b.vec_id),
          |pairs AS (SELECT ua, vb FROM cand
          |  JOIN embeddings ea ON cand.ua = ea.vec_id
          |  JOIN embeddings eb ON cand.vb = eb.vec_id
          |  WHERE ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
          |    CAST(eb.embedding AS DOUBLE[])), 3) >= 0.35),
          |edges AS (SELECT ua AS u, vb AS v FROM pairs UNION SELECT vb, ua FROM pairs),
          |reach(id, r) AS (
          |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
          |  UNION
          |  SELECT ed.v, re.r FROM reach re JOIN edges ed ON ed.u = re.id),
          |cc AS (SELECT id AS vec_id, MIN(r) AS cluster FROM reach GROUP BY id),
          |mem AS (SELECT cc.cluster, cc.vec_id, v.x, v.pos
          |  FROM cc JOIN v USING (vec_id)),
          |cent AS (SELECT cluster, pos, AVG(x) AS c FROM mem GROUP BY 1, 2),
          |ctr AS (SELECT m.vec_id, m.cluster,
          |    ROUND(SUM(m.x * c.c) / (SQRT(SUM(m.x * m.x)) * SQRT(SUM(c.c * c.c))), 4)
          |      AS centrality
          |  FROM mem m JOIN cent c ON m.cluster = c.cluster AND m.pos = c.pos
          |  GROUP BY 1, 2),
          |reps AS (SELECT cluster, vec_id AS keeper, centrality AS keeper_centrality,
          |    row_number() OVER (PARTITION BY cluster
          |      ORDER BY centrality DESC, vec_id) AS rk
          |  FROM ctr)
          |SELECT r.cluster, s.cluster_size, r.keeper, r.keeper_centrality
          |FROM reps r JOIN (SELECT cluster, COUNT(*) AS cluster_size
          |  FROM cc GROUP BY cluster) s USING (cluster)
          |WHERE r.rk = 1 ORDER BY r.cluster""".stripMargin) { (s, dir) =>
      // NOT fanned out: stage-count-bound like dedup_ann_e2e (train →
      // assign → cell join → verify → iterative CC), not CPU-bound
      val e = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val cents = Similarity.kmeansCentroids(e, "vec_id", "v",
        k = 8, iters = 3, seedHash = c => md5(c.cast("string")),
        simRound = 6)
      val assigned = Similarity.ivfAssign(e, "v", cents,
        nProbe = 2, simRound = 6)
        .select(col("centroid_id"), col("vec_id"))
      // candidates carry ids only through the cell join + distinct; the
      // (few) survivors re-join the vector table by id for verification
      val cand = assigned.select(col("centroid_id"), col("vec_id").as("id_a"))
        .join(assigned.select(col("centroid_id"), col("vec_id").as("id_b")),
          Seq("centroid_id"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
      Similarity.nearDupClusterReps(e, cand).orderBy("cluster")
    },


    // Sign-LSH bucket assignment with the PORTABLE md5 plane family
    // (entry (j,i) = md5("j_i") 60-bit prefix → (−0.5, 0.5), an exact
    // dyadic rational both engines compute identically): the oracle
    // re-derives planes, round-6 dot-product signs, and the bucket bit
    // packing — certifying the sign-LSH mechanism itself.
    Q("sim_lsh_buckets_md5",
      """WITH v AS (SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
        |    generate_subscripts(embedding, 1) AS i FROM embeddings),
        |p AS (SELECT j, i,
        |    ('0x' || substr(md5(j::VARCHAR || '_' || i::VARCHAR), 1, 15))::BIGINT
        |      / 1152921504606846976.0 - 0.5 AS w
        |  FROM generate_series(0, 7) g(j) CROSS JOIN generate_series(1, 64) gi(i)),
        |d AS (SELECT vec_id, j, ROUND(SUM(x * w), 6) AS dot
        |  FROM v JOIN p USING (i) GROUP BY 1, 2),
        |b AS (SELECT vec_id,
        |    SUM(CASE WHEN dot >= 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS bucket
        |  FROM d GROUP BY 1)
        |SELECT bucket, COUNT(*) AS n FROM b GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, dir) =>
      val planes = Similarity.portablePlanes(nBits = 8, dim = 64)
      Tables(s, dir, "embeddings")
        .select(Similarity.lshBucket(
          col("embedding").cast("array<double>"), planes, dotRound = 6).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    },

    // IVF-PQ residual encoding, hash-checked: vectors assign to per-label
    // mean centroids (the oracled IVF mechanism), PQ then encodes the
    // RESIDUAL v − centroid against md5-seeded codebooks — the standard
    // IVF-PQ composition, where residuals concentrate near zero and
    // quantize better than raw vectors. The oracle independently re-derives
    // centroid means, the round-6 cosine argmax assignment, residual
    // arithmetic, codebook slicing, and the round-6 L2 argmin.
    Q("pq_residual_codes_md5",
      """WITH pos AS (SELECT vec_id, label,
        |    unnest(CAST(embedding AS DOUBLE[])) AS x,
        |    generate_subscripts(embedding, 1) AS pos FROM embeddings),
        |cent AS (SELECT label AS cl, pos, AVG(x) AS c FROM pos GROUP BY 1, 2),
        |sim AS (SELECT p.vec_id, c.cl,
        |    SUM(p.x * c.c) / (SQRT(SUM(p.x * p.x)) * SQRT(SUM(c.c * c.c))) AS s
        |  FROM pos p JOIN cent c USING (pos) GROUP BY 1, 2),
        |best AS (SELECT vec_id, cl FROM sim
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
        |    ORDER BY ROUND(s, 6) DESC, cl) = 1),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |centL AS (SELECT cl, list(c ORDER BY pos) AS cv FROM cent GROUP BY cl),
        |res AS (SELECT e.vec_id, b.cl,
        |    [e.v[i] - cl2.cv[i] FOR i IN generate_series(1, 64)] AS r
        |  FROM e JOIN best b USING (vec_id) JOIN centL cl2 ON b.cl = cl2.cl),
        |seeds AS (SELECT r,
        |    ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS j
        |  FROM res
        |  QUALIFY ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) <= 8),
        |cb AS (SELECT CAST(j AS INT) AS j, CAST(g.m AS INT) AS m,
        |    r[g.m*16+1 : g.m*16+16] AS cv
        |  FROM seeds CROSS JOIN generate_series(0, 3) g(m)),
        |sub AS (SELECT vec_id, cl, CAST(g.m AS INT) AS m,
        |    r[g.m*16+1 : g.m*16+16] AS sv
        |  FROM res CROSS JOIN generate_series(0, 3) g(m) WHERE vec_id < 100),
        |d AS (SELECT vec_id, cl, s.m, c.j, ROUND(list_sum(
        |    [ (s.sv[i]-c.cv[i])*(s.sv[i]-c.cv[i])
        |      FOR i IN generate_series(1, 16) ]), 6) AS dist
        |  FROM sub s JOIN cb c ON s.m = c.m)
        |SELECT vec_id, CAST(cl AS INT) AS centroid_id, m, j AS code FROM d
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, m
        |  ORDER BY dist, j) = 1
        |ORDER BY vec_id, m""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
      val cents = e
        .select(col("label").as("centroid_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("centroid_id", "pos").agg(avg("x").as("x"))
        .groupBy("centroid_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("x")))).as("z"))
        .select(col("centroid_id"), transform(col("z"), _.getField("x")).as("v"))
      val res = graft.ops.Quantization.residuals(
        e.select(col("vec_id"), col("v")), "v", cents, simRound = 6)
      val cb = graft.ops.Quantization.seedCodebooks(
        res, "vec_id", "residual", m = 4, dim = 64, ksub = 8,
        seedHash = c => md5(c.cast("string")))
      graft.ops.Quantization.encode(
        res.filter(col("vec_id") < 100), "residual", cb, m = 4, dim = 64,
        distRound = 6)
        .select(col("vec_id"), col("centroid_id"),
          posexplode(col("codes")).as(Seq("m", "code")))
        .orderBy("vec_id", "m")
    },

    // ADC top-k over PQ codes, hash-checked: probes (vec_id < 3) rank the
    // encoded candidates (vec_id >= 3) by the table-lookup distance
    // sum_i table[i][codes[i]] — the oracle recomputes codes, per-probe
    // distance grids, and the summed ranking independently. The candidate
    // side of the Spark plan touches only (id, codes): 4 ints per row in
    // place of 64 floats, PQ's memory-bandwidth point at scale.
    Q("pq_adc_topk_md5",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |    FROM embeddings),
        |seeds AS (SELECT v,
        |    ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS j
        |  FROM e
        |  QUALIFY ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) <= 8),
        |cb AS (SELECT CAST(j AS INT) AS j, CAST(g.m AS INT) AS m,
        |    v[g.m*16+1 : g.m*16+16] AS cv
        |  FROM seeds CROSS JOIN generate_series(0, 3) g(m)),
        |sub AS (SELECT vec_id, CAST(g.m AS INT) AS m,
        |    v[g.m*16+1 : g.m*16+16] AS sv
        |  FROM e CROSS JOIN generate_series(0, 3) g(m)),
        |d AS (SELECT vec_id, s.m, c.j, ROUND(list_sum(
        |    [ (s.sv[i]-c.cv[i])*(s.sv[i]-c.cv[i])
        |      FOR i IN generate_series(1, 16) ]), 6) AS dist
        |  FROM sub s JOIN cb c ON s.m = c.m),
        |codes AS (SELECT vec_id, m, j FROM d WHERE vec_id >= 3
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, m
        |    ORDER BY dist, j) = 1),
        |pair AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
        |    ROUND(SUM(p.dist), 4) AS dist
        |  FROM d p JOIN codes c ON p.m = c.m AND p.j = c.j
        |  WHERE p.vec_id < 3 GROUP BY 1, 2)
        |SELECT probe_id, cand_id, dist FROM pair
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY probe_id
        |  ORDER BY dist, cand_id) <= 5
        |ORDER BY probe_id, dist, cand_id""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val cb = graft.ops.Quantization.seedCodebooks(
        e, "vec_id", "v", m = 4, dim = 64, ksub = 8,
        seedHash = c => md5(c.cast("string")))
      val encoded = graft.ops.Quantization.encode(
        e.filter(col("vec_id") >= 3), "v", cb, m = 4, dim = 64, distRound = 6)
        .select(col("vec_id").as("cand_id"), col("codes"))
      graft.ops.Quantization.adcTopK(
        encoded, cb, e.filter(col("vec_id") < 3)
          .select(col("vec_id").as("probe_id"), col("v")),
        "probe_id", "cand_id", "v", m = 4, dim = 64, k = 5,
        distRound = 6, totalRound = 4)
        .orderBy("probe_id", "dist", "cand_id")
    },

    // Margin-based pair mining (Artetxe & Schwenk ratio margin — the
    // LASER/CCMatrix bitext-mining criterion): even vec_ids play the
    // "source" side, odd the "target"; best-margin target per source,
    // where margin divides cosine by the mean of each side's top-4
    // neighborhood sims to cancel hubness. Sims rounded before ranking
    // (the knnJoin portability convention); both window passes partition
    // the same scored-pair stream by probe and by candidate. Candidates
    // with a non-positive denominator are excluded from the ranking
    // (margin undefined), mirroring the engine's degenerate guard.
    Q("sim_margin_mining",
      """WITH sc AS (SELECT a.vec_id AS probe_id, b.vec_id AS cand_id,
        |    ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])), 4) + 0 AS sim
        |  FROM embeddings a JOIN embeddings b
        |    ON a.vec_id % 2 = 0 AND a.vec_id < 40 AND b.vec_id % 2 = 1),
        |r AS (SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY probe_id
        |      ORDER BY sim DESC, cand_id) AS rna,
        |    ROW_NUMBER() OVER (PARTITION BY cand_id
        |      ORDER BY sim DESC, probe_id) AS rnb
        |  FROM sc),
        |m AS (SELECT *,
        |    AVG(CASE WHEN rna <= 4 THEN sim END)
        |      OVER (PARTITION BY probe_id) AS am,
        |    AVG(CASE WHEN rnb <= 4 THEN sim END)
        |      OVER (PARTITION BY cand_id) AS bm
        |  FROM r)
        |SELECT probe_id, cand_id, sim,
        |  ROUND(sim / ((am + bm) / 2), 4) + 0 AS margin
        |FROM m
        |WHERE (am + bm) / 2 > 0
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY probe_id
        |  ORDER BY sim / ((am + bm) / 2) DESC, cand_id) = 1
        |ORDER BY probe_id""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      Similarity.marginMining(
        e.filter(col("vec_id") % 2 === 0 && col("vec_id") < 40)
          .select(col("vec_id").as("probe_id"), col("embedding")),
        e.filter(col("vec_id") % 2 === 1)
          .select(col("vec_id").as("cand_id"), col("embedding")),
        "probe_id", "cand_id", "embedding", k = 4)
        .orderBy("probe_id")
    })
}
