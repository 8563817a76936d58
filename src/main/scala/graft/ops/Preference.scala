package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Preference-data (RLHF/DPO) pipeline operators: deterministic reward
  * proxy, preference-pair assembly, pairwise-game generation with a
  * Bradley–Terry strength fit, and the exact best-of-n reward estimator.
  *
  * Published canon: DPO pair construction (Rafailov et al. 2023),
  * Bradley–Terry MM fit (Hunter 2004, the chatbot-arena leaderboard
  * model), unbiased best-of-n estimation via order statistics (Nakano
  * et al. 2021, WebGPT appendix).
  *
  * Scale shape: the only quadratic stage is the within-prompt candidate
  * pair join — candidate pools are GENERATION-sized (tens of samples per
  * prompt), never corpus-sized, so the blow-up is n²·prompts with tiny n,
  * shuffled on the prompt key. Everything else is one groupBy per prompt
  * (map-side combinable) or an entity²-bounded matrix (entities = models
  * under comparison — tens), which is model-sized driver state exactly
  * like the k-means / IVF centroid LocalRelations.
  */
object Preference {

  /** Type-token ratio: distinct words over total words — the cheap
    * deterministic lexical-diversity reward proxy used by the fixture
    * queries (any per-candidate reward column works in its place). */
  def ttrReward(textCol: Column): Column = {
    val toks = split(textCol, " ", -1)
    size(array_distinct(toks)).cast("double") / size(toks).cast("double")
  }

  /** DPO preference-pair assembly: per prompt, chosen = highest-reward
    * candidate (ties → lowest id), rejected = lowest-reward candidate
    * (ties → highest id); prompts with fewer than two candidates or an
    * all-tied pool (margin 0) yield no pair — DPO training drops ties.
    * ONE aggregation per prompt (max_by/min_by on a lexicographic
    * struct), no self-join, no window.
    *
    * Output: (prompt, n_cand, chosen_id, rejected_id, margin) with the
    * raw double margin — callers round for hashing. */
  def prefPairs(df: DataFrame, promptCol: String, idCol: String,
                rewardCol: String): DataFrame = {
    val p = col(promptCol)
    // chosen maximizes (reward, -id); rejected minimizes the same key,
    // so reward ties break to the SMALLEST id for chosen and the
    // LARGEST id for rejected — both deterministic.
    val ord = struct(col(rewardCol), negate(col(idCol)))
    df.groupBy(p.as("prompt"))
      .agg(count(lit(1)).as("n_cand"),
        max_by(struct(col(idCol).as("id"), col(rewardCol).as("r")), ord)
          .as("c"),
        min_by(struct(col(idCol).as("id"), col(rewardCol).as("r")), ord)
          .as("rj"))
      .filter(col("n_cand") >= 2 && col("c.r") > col("rj.r"))
      .select(col("prompt"), col("n_cand"),
        col("c.id").as("chosen_id"), col("rj.id").as("rejected_id"),
        (col("c.r") - col("rj.r")).as("margin"))
  }

  /** Pairwise games within each prompt's candidate pool: every unordered
    * candidate pair from DIFFERENT entities with STRICTLY different
    * rewards becomes one game; the higher reward wins (exact reward ties
    * are dropped, not adjudicated — a coin-flip win would bias the fit).
    * Returns one row per game: (winner, loser).
    *
    * The self-join is keyed on the prompt, so its cost is
    * Σ_prompts n_p² with n_p = candidates per prompt — generation-sized,
    * never corpus-sized. */
  def pairwiseGames(df: DataFrame, promptCol: String, idCol: String,
                    entityCol: String, rewardCol: String): DataFrame = {
    // The two sides carry DISTINCT column names and join on the shared
    // key with the usingColumns form — structural disambiguation, so
    // the self-join can never fall into the ambiguous-attribute class
    // where a condition like `a.id < b.id` silently resolves both
    // sides to the same attribute.
    val a = df.select(col(promptCol).as("prompt"), col(idCol).as("a_id"),
      col(entityCol).as("a_entity"), col(rewardCol).as("a_r"))
    val b = df.select(col(promptCol).as("prompt"), col(idCol).as("b_id"),
      col(entityCol).as("b_entity"), col(rewardCol).as("b_r"))
    a.join(b, Seq("prompt"))
      .filter(col("a_id") < col("b_id") &&
        col("a_entity") =!= col("b_entity") && col("a_r") =!= col("b_r"))
      .select(
        when(col("a_r") > col("b_r"), col("a_entity"))
          .otherwise(col("b_entity")).as("winner"),
        when(col("a_r") > col("b_r"), col("b_entity"))
          .otherwise(col("a_entity")).as("loser"))
  }

  /** Bradley–Terry strength fit over a game log via Hunter (2004) MM
    * iterations, unrolled `iters` times from a uniform start:
    * π_i ← W_i / Σ_{j≠i} n_ij / (π_i + π_j), renormalized to Σπ = 1
    * each round (n_ij = games played between i and j, W_i = wins of i).
    *
    * The game log is aggregated DISTRIBUTED down to the entity² win
    * matrix; the matrix is then collected — entities are the models
    * under comparison (tens), so this is bounded model-sized driver
    * state, the same contract as the k-means centroid LocalRelation.
    * The MM arithmetic runs in sorted-entity order, so the fold is
    * deterministic. Entities that never played are absent from the
    * output.
    *
    * Output: (entity, wins, games, strength) ordered by strength desc,
    * entity asc — strength is the raw double; callers round. */
  def btLeaderboard(games: DataFrame, iters: Int = 3): DataFrame =
    btFromMatrix(winMatrix(games), iters)

  /** The entity² win matrix `(winner, loser, w)` — the STORED MODEL of
    * the preference fit. This is the only data-sized stage of the BT
    * chain (one map-side-combinable count over the game log), and the
    * count is ADDITIVE, so arriving game batches update a stored matrix
    * incrementally — this function runs unchanged on a streaming
    * DataFrame; the fit then serves from the store
    * via [[btFromMatrix]] without replaying a single game. */
  def winMatrix(games: DataFrame): DataFrame =
    games.groupBy("winner", "loser").agg(count(lit(1)).as("w"))

  /** Bradley–Terry fit from a stored [[winMatrix]] — the serving path:
    * production refits from the matrix (entity²-bounded, tens of
    * entities) at leaderboard-refresh cadence, never from the game
    * log. */
  def btFromMatrix(matrix: DataFrame, iters: Int = 3,
                   maxPairs: Int = 1 << 20): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = matrix.sparkSession
    import spark.implicits._
    // the model-size contract is enforced, not assumed: a caller who
    // keys games by a CORPUS-cardinality column (doc ids instead of
    // model names) must fail loudly before an unbounded collect lands
    // on the driver (the maxDf/maxBucketSize guard convention). The
    // limit caps what can ever be fetched; the require turns the
    // truncation into a loud error instead of a silently-partial fit.
    // Duplicate (winner, loser) keys are RE-AGGREGATED first (advisor
    // r14): a stored matrix accumulated by APPEND (winMatrix batches
    // unioned without re-aggregation — exactly what the additive
    // streaming update produces between compactions) would otherwise
    // collapse to last-row-wins in the toMap below, a silently wrong
    // fit. The groupBy is the same map-side-combinable count shape as
    // winMatrix itself; for a pre-aggregated matrix it is a no-op.
    val matRows: Array[(String, String, Long)] =
      matrix.groupBy("winner", "loser")
        .agg(sum(col("w").cast("long")).as("w"))
        .limit(maxPairs + 1)
        // collect-bound: limit(maxPairs+1) - entity^2 matrix or the require fails loudly
        .as[(String, String, Long)].collect()
    require(matRows.length <= maxPairs,
      s"win matrix exceeds maxPairs=$maxPairs rows — games are keyed " +
        "by a corpus-cardinality column, not model entities")
    val wins: Map[(String, String), Long] =
      matRows.map { case (w, l, n) => (w, l) -> n }.toMap
    val entities = wins.keysIterator.flatMap(k => Iterator(k._1, k._2))
      .toSeq.distinct.sorted
    val w: Map[String, Long] = entities.map(e =>
      e -> wins.collect { case ((`e`, _), n) => n }.sum).toMap
    val n: Map[(String, String), Long] = (for {
      i <- entities; j <- entities if i < j
      g = wins.getOrElse((i, j), 0L) + wins.getOrElse((j, i), 0L)
      if g > 0
    } yield (i, j) -> g).toMap
    def nOf(i: String, j: String): Long =
      if (i < j) n.getOrElse((i, j), 0L) else n.getOrElse((j, i), 0L)
    var pi: Map[String, Double] =
      entities.map(_ -> 1.0 / entities.size).toMap
    for (_ <- 1 to iters) {
      val raw = entities.map { i =>
        val denom = entities.foldLeft(0.0) { (acc, j) =>
          val g = nOf(i, j)
          if (j == i || g == 0L) acc else acc + g / (pi(i) + pi(j))
        }
        i -> (if (denom > 0) w(i) / denom else 0.0)
      }
      val s = raw.foldLeft(0.0)(_ + _._2)
      pi = raw.map { case (e, v) => e -> (if (s > 0) v / s else 0.0) }.toMap
    }
    val rows = entities.map { e =>
      val games = entities.foldLeft(0L)((acc, j) => acc + nOf(e, j))
      (e, w(e), games, pi(e))
    }
    rows.toDF("entity", "wins", "games", "strength")
      .orderBy(col("strength").desc, col("entity"))
  }

  /** Group-relative advantage (the GRPO estimator, Shao et al. 2024):
    * per prompt pool, advantage_i = (r_i − mean(pool)) / std(pool) with
    * the all-tied pool (std 0) scoring 0 for every member — the
    * value-model-free baseline RL post-training computes per sampled
    * group. The std is the POPULATION form written explicitly as
    * √(E[r²] − E[r]²) so an independent SQL oracle states the identical
    * arithmetic. One window over the prompt key — no join, no
    * self-join. Output: input rows + (mean, std, advantage) raw
    * doubles; callers round. */
  def grpoAdvantage(df: DataFrame, promptCol: String,
                    rewardCol: String): DataFrame = {
    val w = Window.partitionBy(col(promptCol))
    val r = col(rewardCol)
    val mean = avg(r).over(w)
    // E[r2] - E[r]2 cancels to a TINY NEGATIVE for all-tied pools whose
    // reward is not exactly representable (e.g. three 0.1s), and
    // sqrt(negative) is NaN here / an ERROR in ANSI engines — clamp at 0
    val std = sqrt(greatest(avg(r * r).over(w) - mean * mean, lit(0.0)))
    df.withColumn("mean", mean)
      .withColumn("std", std)
      .withColumn("advantage",
        when(col("std") > 0, (r - col("mean")) / col("std"))
          .otherwise(lit(0.0)))
  }

  /** Unbiased pass@k estimator per prompt (Chen et al. 2021, HumanEval
    * §2.1): with n samples of which c pass, pass@k = 1 − C(n−c,k)/C(n,k)
    * — computed as the ≤k-factor product Π_{j=0}^{k−1} (n−c−j)/(n−j)
    * (the numerically-stable form the paper itself recommends over
    * factorials), with k > n−c (some correct sample guaranteed in every
    * draw) short-circuiting to 1. Rows for k > n are omitted. One
    * aggregation per prompt + a constant k-list explode — no window, no
    * self-join. Output: (prompt, k, n, c, pass_at_k) raw double. */
  def passAtK(df: DataFrame, promptCol: String, correct: Column,
              ks: Seq[Int] = Seq(1, 2, 4)): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"ks must be >= 1, got $ks")
    // duplicates would emit duplicate (prompt, k) rows
    val ksd = ks.distinct
    val agg = df.groupBy(col(promptCol).as("prompt"))
      .agg(count(lit(1)).as("n"),
        sum(when(correct, 1L).otherwise(0L)).as("c"))
    agg.select(col("prompt"), col("n"), col("c"),
        explode(array(ksd.map(k => lit(k)): _*)).as("k"))
      .filter(col("k") <= col("n"))
      .withColumn("pass_at_k",
        when(col("c") > 0 && col("k") > col("n") - col("c"), lit(1.0))
          .otherwise(lit(1.0) - aggregate(sequence(lit(0), col("k") - 1),
            lit(1.0), (acc, j) =>
              acc * (col("n") - col("c") - j).cast("double") /
                (col("n") - j).cast("double"))))
      .select(col("prompt"), col("k"), col("n"), col("c"), col("pass_at_k"))
  }

  /** Exact best-of-n reward estimator per prompt (Nakano et al. 2021):
    * with the pool's rewards ranked ascending r_(1..N),
    * E[max of n uniform draws without replacement]
    *   = Σ_i r_(i) · (C(i,n) − C(i−1,n)) / C(N,n).
    * The binomial RATIO C(i,n)/C(N,n) = Π_{k=0}^{n−1} (i−k)/(N−k) is a
    * product of ≤ n small factors — no gamma functions, no overflow, and
    * the same left-to-right product is expressible in ANSI SQL. Rows for
    * n > N are omitted (the draw is impossible).
    *
    * Ranking ties break by id, which leaves the estimator exact: the
    * order statistic only needs a consistent total order over the pool.
    *
    * One window rank + one explode of the constant n-list + one groupBy
    * per prompt — no self-join. Output: (prompt, n, n_cand, bon) with
    * the raw double estimate; callers round. */
  def bestOfN(df: DataFrame, promptCol: String, idCol: String,
              rewardCol: String, ns: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), s"ns must be >= 1, got $ns")
    // duplicates would double-count through the explode -> sum chain
    val nsd = ns.distinct
    val p = col(promptCol)
    val wRank = Window.partitionBy(p).orderBy(col(rewardCol), col(idCol))
    val wN = Window.partitionBy(p)
    // cum(i, n) = P(max of n draws ranks <= i) · C(N,n) ratio — the
    // telescoping CDF; weight_i = cum(i) − cum(i−1)
    def cum(i: Column, nn: Column, bigN: Column): Column =
      when(i < nn, lit(0.0)).otherwise(
        aggregate(sequence(lit(0), nn - 1), lit(1.0),
          (acc, k) => acc * (i - k).cast("double") / (bigN - k).cast("double")))
    df.select(p.as("prompt"), col(rewardCol).as("r"),
        row_number().over(wRank).as("i"),
        count(lit(1)).over(wN).as("bigN"))
      .select(col("prompt"), col("r"), col("i"), col("bigN"),
        explode(array(nsd.map(n => lit(n)): _*)).as("n"))
      .filter(col("n") <= col("bigN"))
      .groupBy("prompt", "n")
      .agg(max("bigN").as("n_cand"),
        sum(col("r") * (cum(col("i"), col("n"), col("bigN")) -
          cum(col("i") - 1, col("n"), col("bigN")))).as("bon"))
      .select(col("prompt"), col("n"), col("n_cand"), col("bon"))
  }
}
