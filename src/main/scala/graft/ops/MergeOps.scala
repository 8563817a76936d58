package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Version-guarded upsert semantics (reference: cosmo/sms/ingest_sms.py:
  * 154–198 — `INSERT ... ON CONFLICT UPDATE` guarded by
  * `EXCLUDED.VERSION > current`): last-writer-wins by version, target
  * kept on version ties. Plus a parquet MERGE writer that applies the
  * same semantics to a stored table (read-modify-atomic-swap — the plain-
  * parquet stand-in for Delta `MERGE WHEN MATCHED AND s.v > t.v`).
  */
object MergeOps {

  /** Pure upsert: one row per key from target ∪ source; source wins only
    * with a strictly greater version (reference ties keep the target).
    * Single shuffle on the key (window row_number). */
  def upsert(target: DataFrame, source: DataFrame, keys: Seq[String],
             versionCol: String): DataFrame =
    upsertTagged(target, source, keys, versionCol).drop("__src")

  /** As [[upsert]] but keeps the `__src` provenance column
    * (0 = target row survived, 1 = source row won). */
  def upsertTagged(target: DataFrame, source: DataFrame, keys: Seq[String],
                   versionCol: String): DataFrame = {
    val tagged = target.withColumn("__src", lit(0))
      .unionByName(source.withColumn("__src", lit(1)))
    // order: higher version first; on equal version the target (0) first
    Relational.latestByKey(
      tagged, keys, Seq(col(versionCol), -col("__src")))
  }

  /** MERGE into a parquet table dir: read current (absent → source only),
    * upsert, write to a temp dir, atomically swap. Idempotent re-runs
    * (same data, same versions) leave the table unchanged.
    *
    * On a real cluster this is Delta/Iceberg MERGE; the swap here gives
    * the same observable semantics for a single writer.
    *
    * `beforeSwap` runs after the merged table is written and before it
    * replaces the current one: a check of what the write consumed (SMS
    * ingest's per-file yield) that throws leaves the table as it was. */
  def mergeParquet(spark: SparkSession, tableDir: String, source: DataFrame,
                   keys: Seq[String], versionCol: String,
                   beforeSwap: () => Unit = () => ()): Unit = {
    val path = new java.io.File(tableDir)
    // Dedupe WITHIN the batch too: one micro-batch can deliver several
    // versions of the same key (e.g. a streaming AvailableNow catch-up).
    val deduped = Relational.latestByKey(source, keys, Seq(col(versionCol)))
    val merged =
      if (path.exists()) upsert(spark.read.parquet(tableDir), deduped, keys, versionCol)
      else deduped
    val tmp = tableDir + ".tmp-" + java.util.UUID.randomUUID().toString
    merged.write.mode(SaveMode.Overwrite).parquet(tmp)
    try beforeSwap()
    catch { case NonFatal(e) => delete(new java.io.File(tmp)); throw e }
    val bak = new java.io.File(tableDir + ".bak")
    if (bak.exists()) delete(bak)
    if (path.exists() && !path.renameTo(bak))
      throw new java.io.IOException(s"merge swap failed: cannot move $tableDir aside")
    if (!new java.io.File(tmp).renameTo(path)) {
      bak.renameTo(path) // restore
      throw new java.io.IOException(s"merge swap failed: cannot move $tmp into place")
    }
    delete(bak)
  }

  private def delete(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(delete)
    f.delete(): Unit
  }
}
