package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.ops.MergeOps

/** Streaming/incremental semantics (SURVEY.md §2.11). The reference has no
  * streaming runtime — its incrementality is "files on disk minus files in
  * DB" plus a version-guarded upsert (cosmo/data_models.py:62–77,
  * cosmo/sms/ingest_sms.py:154–198). Both are expressed here:
  *
  *  - batch-incremental: anti-join discovery + MERGE (the faithful core);
  *  - Structured Streaming: a file source feeding `foreachBatch` that runs
  *    the same MERGE — upsert-by-greater-version takes the place of
  *    watermark-based late-data handling.
  *
  * At scale the file source tracks processed files in the checkpoint (the
  * role the reference's DB file-list plays), and each micro-batch MERGE
  * shuffles only on the upsert key.
  *
  * A batch operator whose plan is valid on an unbounded input (a per-row
  * projection such as [[graft.ops.Similarity.ivfAssign]],
  * [[graft.ops.Text.cdcChunks]] or [[graft.ops.Corrupt.fimTransform]]; a
  * bounded-state aggregation such as [[graft.ops.Sketches.cmsSketch]],
  * [[graft.ops.Preference.winMatrix]], [[graft.ops.Sampling.doremiModelDF]]
  * or [[graft.ops.Annotate.goldCounts]]) is called directly on the
  * streaming DataFrame: it runs through the same Catalyst plan, and
  * MergeStreamSpec pins stream == batch for each. A batch operator whose
  * plan is not valid on a stream (per-item windows, per-group totals) runs
  * per micro-batch inside [[eachFileBatch]]. This object keeps only the
  * operators with a streaming plan of their own.
  */
object Streams {

  /** Batch-incremental discovery: candidate rows whose key is not yet in
    * the ingested set (reference: cosmo/data_models.py:62–77). */
  def discoverNew(candidates: DataFrame, ingested: DataFrame,
                  key: String): DataFrame =
    candidates.join(ingested.select(key).distinct(), Seq(key), "left_anti")

  /** The micro-batch loop over a parquet file source: files under
    * `sourceDir` not yet recorded in `checkpointDir` are read with
    * `schema`, and `f(batch, batchId)` runs once per micro-batch under
    * `Trigger.AvailableNow`, which drains the backlog and stops. The
    * checkpoint is what makes a restart resume after the last committed
    * batch, so `f` should be idempotent (a version-guarded MERGE, a
    * keyed TxLog commit, an append of a pure function of the batch).
    * AvailableNow otherwise drains the whole backlog as ONE batch;
    * `maxFilesPerTrigger` caps the files per micro-batch, which is how a
    * backfill still runs `f` once per file group. An `f` that calls an
    * operator which caches intermediates calls
    * [[graft.core.Measure.releaseAll]] after the batch's action. Returns
    * the running query (caller awaits/stops). */
  def eachFileBatch(spark: SparkSession, sourceDir: String,
                    checkpointDir: String, schema: StructType,
                    maxFilesPerTrigger: Option[Int] = None)(
                    f: (DataFrame, Long) => Unit): StreamingQuery = {
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.fold(reader)(n =>
        reader.option("maxFilesPerTrigger", n.toString))
      .parquet(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(f)
      .start()
  }

  /** Continuous ingest: [[eachFileBatch]] over `sourceDir`, MERGING each
    * micro-batch into `tableDir` with version-guarded upsert semantics
    * ([[graft.ops.MergeOps.mergeParquet]]); replayed batches are no-ops.
    * For a transactional table, pass [[graft.ops.TxLog.commitMerge]] to
    * [[eachFileBatch]] instead. */
  def incrementalIngest(spark: SparkSession, sourceDir: String,
                        tableDir: String, checkpointDir: String,
                        schema: StructType,
                        keys: Seq[String], versionCol: String): StreamingQuery =
    eachFileBatch(spark, sourceDir, checkpointDir, schema) { (batch, _) =>
      MergeOps.mergeParquet(spark, tableDir, batch, keys, versionCol)
    }

  /** Custom stateful sessionization via flatMapGroupsWithState: events
    * group into sessions closed after `gapSeconds` of event-time
    * inactivity per key. Emits one row per CLOSED session; the custom-
    * state route for semantics windowed aggregation can't express
    * (SURVEY.md §2.11 extension).
    *
    * Trailing sessions: by default an open session stays in state until a
    * later event closes it (and in batch execution is never emitted —
    * pinned by TypedApiSpec). With `flushAfterGap = true` a processing-
    * time timeout of `gapSeconds` is registered per key, so a streaming
    * query flushes a trailing session once the key sees no data for that
    * long. The trade-off is structural: ProcessingTimeTimeout makes the
    * micro-batch engine run batches continuously to check timers (so
    * `processAllAvailable()` never returns and idle cost is nonzero) —
    * which is why it is opt-in rather than the default. */
  def sessionize(events: org.apache.spark.sql.Dataset[(Long, Long, Double)],
                 gapSeconds: Long,
                 flushAfterGap: Boolean = false): org.apache.spark.sql.Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val timeoutConf =
      if (flushAfterGap) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        (user: Long, rows: Iterator[(Long, Long, Double)],
         state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            // no data for gapSeconds of wall-clock time: flush the open
            // trailing session and drop the state
            val flushed = state.getOption.map(s =>
              SessionOut(user, s.startSec, s.lastSec, s.n, s.sum))
            state.remove()
            flushed.iterator
          } else {
            val sorted = rows.toSeq.sortBy(_._2)
            var cur = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { case (_, tSec, v) =>
              cur match {
                case Some(s) if tSec - s.lastSec > gapSeconds =>
                  closed += SessionOut(user, s.startSec, s.lastSec, s.n, s.sum)
                  cur = Some(SessionState(tSec, tSec, 1L, v))
                case Some(s) =>
                  cur = Some(SessionState(s.startSec, tSec, s.n + 1, s.sum + v))
                case None =>
                  cur = Some(SessionState(tSec, tSec, 1L, v))
              }
            }
            cur match {
              case Some(s) =>
                state.update(s)
                if (flushAfterGap) state.setTimeoutDuration(gapSeconds * 1000L)
              case None => ()
            }
            closed.result().iterator
          }
        })
  }

  /** Sessionization on the transformWithState API (Spark 4 arbitrary
    * stateful processing v2, RocksDB-backed): same gap semantics as
    * [[sessionize]], but trailing sessions flush via EVENT-TIME timers —
    * when the watermark passes `last event + gap`, the timer fires and
    * the open session is emitted. Unlike the ProcessingTimeTimeout
    * variant this needs no wall-clock polling (batches run only when
    * data or watermark movement demands), and the flush is
    * deterministic in event time — the architecturally right answer to
    * the trailing-session problem.
    *
    * Input: (user, tSec, value) with `tSec` the event time in seconds.
    * Requires the RocksDB state-store provider (bundled with Spark). */
  def sessionizeTws(events: org.apache.spark.sql.Dataset[(Long, Long, Double)],
                    gapSeconds: Long): org.apache.spark.sql.Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.toDF("user", "tsec", "v")
      .withColumn("ts", timestamp_seconds(col("tsec")))
      .withWatermark("ts", "0 seconds")
      .as[(Long, Long, Double, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new SessionProcessor(gapSeconds),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Streaming exact-dedup of documents by content fingerprint with
    * BOUNDED state: `dropDuplicatesWithinWatermark` holds a fingerprint in
    * state only until the watermark passes its first arrival plus the
    * horizon, so state size tracks the dedup window, not corpus history —
    * the operational difference from plain `dropDuplicates` on a
    * continuous ingest (whose state grows with every distinct document
    * ever seen). A duplicate arriving inside the horizon is dropped; the
    * same text re-ingested after the horizon is treated as new — the
    * accepted trade-off, and the streaming counterpart of the batch
    * `dedup_exact` fingerprint groupBy. */
  def streamingDedupDocs(docs: DataFrame, tsCol: String, textCol: String,
                         horizon: String): DataFrame =
    docs.withColumn("fp", graft.ops.Text.fingerprint(col(textCol)))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming curation: the ingest-time slice of the batch
    * `pipe_curation` pipeline — quality gate (pure per-row predicate,
    * evaluated before anything stateful) then bounded-state fingerprint
    * dedup. Near-dup (LSH) removal stays batch/periodic by design: its
    * bucket aggregation needs cross-document state proportional to the
    * corpus, which is a compaction job, not a per-record stream decision.
    * Output rows carry the fingerprint for downstream idempotent MERGE. */
  def streamingCurate(docs: DataFrame, tsCol: String, textCol: String,
                      stopwords: Seq[String], horizon: String): DataFrame =
    streamingDedupDocs(
      docs.filter(graft.ops.Text.qualityMetrics(col(textCol), stopwords)
        .getField("keep")),
      tsCol, textCol, horizon)

  /** Streaming retrieval-index statistics maintenance: the BM25/TF-IDF
    * corpus statistics (per-term document frequency `df` and collection
    * frequency `cf`) kept current as documents stream in — the
    * index-side half of [[graft.ops.Retrieval.bm25TopK]], which
    * broadcast-joins exactly these numbers at query time. The design
    * constraint is Spark's single-stateful-op rule: per-document term
    * counts are computed STATELESSLY inside the arriving row (a doc's
    * tokens live in one value — `array_distinct` + a `filter` count per
    * distinct term, no shuffle), so the only stateful operator is ONE
    * `groupBy(term)` aggregation whose state is vocabulary-bounded
    * regardless of stream length. Each doc must arrive once (upstream
    * [[streamingDedupDocs]] contract); update-mode rows upsert into the
    * stats store. Stream-equals-batch is pinned in MergeStreamSpec. */
  def streamingIndexStats(docs: DataFrame, textCol: String): DataFrame = {
    val toks = split(col(textCol), " ", -1)
    docs.select(explode(transform(
        array_distinct(filter(toks, t => t =!= "")),
        t => struct(t.as("term"),
          size(filter(toks, x => x === t)).cast("long").as("tf"))))
        .as("e"))
      .select(col("e.term"), col("e.tf"))
      .groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("cf"))
  }

  /** Periodic near-dup COMPACTION over a TxLog-committed document store —
    * the batch half of streaming curation that [[streamingCurate]]'s
    * scaladoc promises: LSH near-dup removal needs cross-document state
    * proportional to the corpus, so it runs as a maintenance job over the
    * accumulated table, not per-record in the stream. One compaction =
    * MinHash-LSH candidate pairs → connected components → longest-doc
    * representative (the `dedup_near_e2e` policy), committed back through
    * the [[graft.ops.TxLog]] as a transactional whole-table rewrite:
    * concurrent stream micro-batches serialize against it via optimistic
    * concurrency, and a lost race recomputes flags over the winner's
    * rows — a keeper decision can never resurrect or drop a document that
    * a concurrent ingest added.
    *
    * The rewrite adds/overwrites two columns: `cluster` (null for
    * singleton documents, else the component's min doc id) and `is_kept`
    * (singletons true; within a cluster only the representative). Rows
    * themselves are never deleted — downstream consumers filter on
    * `is_kept`, and a later compaction can re-flag as new near-dups
    * arrive. Returns the committed version, or None if the store has no
    * commits yet. At scale every stage is the audited batch shape: banded
    * bucket join (never all-pairs), O(log n) star-contraction rounds, one
    * window per cluster for the representative. */
  def compactNearDups(spark: SparkSession, tableDir: String,
                      idCol: String, textCol: String,
                      shingleK: Int = 4, numHashes: Int = 16,
                      bands: Int = 4): Option[Long] =
    graft.ops.TxLog.commitRewrite(spark, tableDir) { snap =>
      val base = snap.drop("cluster", "is_kept")
      val pairs = graft.ops.Curation.mdCandidatePairs(
        base, idCol, textCol, shingleK, numHashes, bands)
      val labeled = graft.ops.Graph.connectedComponents(pairs, "id_a", "id_b")
      val scored = labeled.join(
        base.select(col(idCol).as("node"),
          size(split(col(textCol), " ", -1)).as("__nt")), "node")
      val keepers = graft.ops.Graph.representatives(scored, "node", "cluster", "__nt")
        .select(col("node").as(idCol), lit(true).as("__keep"))
      base
        .join(labeled.select(col("node").as(idCol), col("cluster")),
          Seq(idCol), "left")
        .join(keepers, Seq(idCol), "left")
        .withColumn("is_kept", coalesce(col("__keep"), col("cluster").isNull))
        .drop("__keep")
    }

  /** Streaming as-of lookup against a STATIC quote table — the streaming
    * form of the reference's step-wise telemetry lookup (W8/J11): each
    * probe resolves to the most recent quote at or before its time.
    *
    * Neither batch formulation survives a streaming plan (window
    * functions over rows and stream-static UNION are both unsupported),
    * so the streaming shape is: pack the static side ONCE into a sorted
    * `(t, v)` array per key, stream-static LEFT equi-join on the key
    * (supported, stateless), then a per-row HOF picks the last entry at
    * or before the probe time. No watermark, no state store; late or
    * replayed probes are safe because the answer depends only on the
    * probe's own timestamp and the static quotes.
    *
    * Scale: quotes-per-key must fit in one row — the telemetry shape
    * this lookup exists for (a bounded step function per mnemonic). The
    * packed side is aggregated once per (re)start and joined per batch;
    * Spark broadcasts it when small. Null-keyed/timed quotes are dropped
    * (match nothing); a null probe time yields null. Semantics pinned
    * equal to the batch window form in MergeStreamSpec for quotes
    * deduped per (key, time) — at DUPLICATE (key, time) quotes this
    * path deterministically picks the max value (struct sort breaks
    * time-ties by value) where the batch formulations are
    * order-dependent; dedupe the quote side first, as with every as-of
    * variant here. */
  def streamingAsOf(probeStream: DataFrame, quotes: DataFrame,
                    keys: Seq[String], timeCol: String,
                    quoteVal: String, outCol: String): DataFrame = {
    val packed = (keys :+ timeCol)
      .foldLeft(quotes)((d, k) => d.filter(col(k).isNotNull))
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(
        struct(col(timeCol).as("t"), col(quoteVal).as("v")))).as("__q"))
    probeStream.join(packed, keys, "left")
      // materialize the filtered hits once; referencing the HOF twice in
      // one projection would evaluate it twice per row
      .withColumn("__hits",
        filter(col("__q"), q => q.getField("t") <= col(timeCol)))
      .withColumn(outCol,
        get(col("__hits"), size(col("__hits")) - 1).getField("v"))
      .drop("__q", "__hits")
  }

  /** Event-time tumbling-window aggregation with a watermark — the
    * streaming form of the batch `w_tumbling_window` query; identical
    * results on bounded input. */
  def windowedCounts(events: DataFrame, tsCol: String, width: String,
                     watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_v"))
      .select(col("w.start").as("win_start"), col("event_type"),
        col("n"), col("sum_v"))

  /** Streaming quality-classifier scoring: score + gate documents as
    * they arrive with weights trained by a periodic batch
    * [[graft.ops.Curation.trainTextClassifier]] job (the learned
    * analogue of [[streamingCurate]]'s heuristic gate — the
    * ingest/compaction split every learned model here follows: the
    * stream applies, the batch trains). The batch scorer
    * [[graft.ops.Curation.classifierScore]] is a STATELESS per-row
    * aggregate HOF over a literal weight array — zero shuffles, no
    * state store, directly valid on an unbounded stream.
    * Append-mode rows carry `(p, keep)` for a downstream filter or
    * idempotent MERGE. Stream-equals-batch is pinned in
    * MergeStreamSpec. */
  def streamingClassifierScore(docs: DataFrame, textCol: String,
                               weights: Seq[Double],
                               threshold: Double = 0.5): DataFrame =
    docs
      .withColumn("p",
        graft.ops.Curation.classifierScore(col(textCol), weights))
      .withColumn("keep", col("p") >= threshold)

  /** Streaming DSIR importance scoring from stored bucket log-ratios
    * ([[graft.ops.Curation.dsirModelDF]] loaded via `weightsFromDF`) —
    * the importance-resampling twin of [[streamingClassifierScore]]:
    * the model is `buckets` literal doubles riding the closure, scoring
    * is one aggregate HOF per row — zero shuffles, no state store,
    * valid on an unbounded stream. Selection (Gumbel-top-k) stays a
    * periodic batch job over the accumulated scored store, the same
    * split as every learned model here: the stream applies, the batch
    * trains/selects. Stream==batch pinned in MergeStreamSpec. */
  def streamingDsirScore(docs: DataFrame, textCol: String,
                         logRatios: Seq[Double]): DataFrame =
    docs
      .withColumn("n_tokens", graft.ops.Curation.dsirTokenCount(col(textCol)))
      .withColumn("log_weight",
        round(graft.ops.Curation.dsirScore(col(textCol), logRatios), 4)
          + lit(0))

  /** Streaming categorical-domain monitoring: arriving rows whose
    * category value the STORED reference domain has never seen pass
    * through; known values drop — the TFDV unseen-category alarm as a
    * stateless stream-static broadcast anti-join (append mode, zero
    * state), the serve-side half of
    * [[graft.ops.Validation.numericProfile]]'s learned-reference split.
    * Row-level (not the batch aggregate [[graft.ops.Validation
    * .unseenCategories]] counts) so each offending row is actionable
    * the moment it arrives; stream==batch pinned in MergeStreamSpec. */
  def streamingUnseenRows(arriving: DataFrame, domain: DataFrame,
                          c: String): DataFrame =
    arriving.join(
      broadcast(domain.select(col(domain.columns.head).as(c))),
      Seq(c), "left_anti")

  /** Streaming winnow fingerprinting: each arriving doc carries its
    * fingerprint set (one fused O(n) pass, stateless — no state store,
    * valid unbounded). The serving shape: arrivals fingerprint
    * in-stream, the fingerprint→doc candidate index lives in the batch
    * layer ([[graft.ops.Text.winnowPairs]] over the accumulated store),
    * the same split of per-row assignment from corpus-wide structure as
    * in-stream [[graft.ops.Similarity.ivfAssign]]. Stream==batch pinned
    * in MergeStreamSpec. */
  def streamingWinnow(docs: DataFrame, textCol: String,
                      k: Int = 5, w: Int = 8): DataFrame =
    docs.withColumn("fps",
      graft.ops.Text.winnowFingerprints(col(textCol), k, w))
}

final case class SessionState(startSec: Long, lastSec: Long, n: Long, sum: Double)
final case class SessionOut(user: Long, startSec: Long, endSec: Long,
                            n: Long, sum: Double)

/** StatefulProcessor for [[Streams.sessionizeTws]]: ValueState holds the
  * open session; each batch re-registers one event-time timer at
  * `last event + gap`, whose expiry (watermark passage) flushes the
  * trailing session. */
class SessionProcessor(gapSeconds: Long)
  extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, (Long, Long, Double, java.sql.Timestamp), SessionOut] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues,
    ExpiredTimerInfo, ValueState, TTLConfig}
  import org.apache.spark.sql.Encoders

  @transient private var state: ValueState[SessionState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[SessionState]("session",
      Encoders.product[SessionState], TTLConfig.NONE)

  override def handleInputRows(
      user: Long,
      rows: Iterator[(Long, Long, Double, java.sql.Timestamp)],
      timerValues: TimerValues): Iterator[SessionOut] = {
    val sorted = rows.toSeq.sortBy(_._2)
    var cur = Option(state.get())
    val closed = Seq.newBuilder[SessionOut]
    sorted.foreach { case (_, tSec, v, _) =>
      cur match {
        case Some(s) if tSec - s.lastSec > gapSeconds =>
          closed += SessionOut(user, s.startSec, s.lastSec, s.n, s.sum)
          cur = Some(SessionState(tSec, tSec, 1L, v))
        case Some(s) =>
          cur = Some(SessionState(s.startSec, tSec, s.n + 1, s.sum + v))
        case None =>
          cur = Some(SessionState(tSec, tSec, 1L, v))
      }
    }
    cur.foreach { s =>
      state.update(s)
      // one live timer per key: the flush deadline moves with new data
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer((s.lastSec + gapSeconds + 1) * 1000L)
    }
    closed.result().iterator
  }

  override def handleExpiredTimer(
      user: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionOut] = {
    val s = state.get()
    if (s == null) Iterator.empty
    else {
      state.clear()
      Iterator.single(SessionOut(user, s.startSec, s.lastSec, s.n, s.sum))
    }
  }
}
