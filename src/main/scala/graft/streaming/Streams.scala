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
    * batch, so `f` should be idempotent (a version-guarded MERGE, an
    * append of a pure function of the batch). An `f` that calls an
    * operator which caches intermediates calls
    * [[graft.core.Measure.releaseAll]] after the batch's action. Returns
    * the running query (caller awaits/stops). */
  def eachFileBatch(spark: SparkSession, sourceDir: String,
                    checkpointDir: String, schema: StructType)(
                    f: (DataFrame, Long) => Unit): StreamingQuery =
    spark.readStream.schema(schema)
      .parquet(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(f)
      .start()

  /** Continuous ingest: [[eachFileBatch]] over `sourceDir`, MERGING each
    * micro-batch into `tableDir` with version-guarded upsert semantics
    * ([[graft.ops.MergeOps.mergeParquet]]); replayed batches are no-ops. */
  def incrementalIngest(spark: SparkSession, sourceDir: String,
                        tableDir: String, checkpointDir: String,
                        schema: StructType,
                        keys: Seq[String], versionCol: String): StreamingQuery =
    eachFileBatch(spark, sourceDir, checkpointDir, schema) { (batch, _) =>
      MergeOps.mergeParquet(spark, tableDir, batch, keys, versionCol)
    }

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
    * regardless of stream length. Each doc must arrive once (dedup
    * upstream); update-mode rows upsert into the stats store.
    * Stream-equals-batch is pinned in MergeStreamSpec. */
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
}
