package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated star-schema tables (TESTDATA.md).
  *
  * Each table is a single parquet file under `dir`. At 100 TB scale these
  * would be partitioned directories; the API is identical
  * (`spark.read.parquet` over a path), so nothing here changes.
  *
  * Schema memo: Spark infers a parquet schema with a job
  * (`SchemaMergeUtils.mergeSchemasInParallel`), even for one file, so a
  * plain `spark.read.parquet` per call would charge every query one
  * scheduled job before it computes anything. Each path's inferred schema
  * is kept with a stamp of what inference read: the sorted (path, length,
  * mtime) listing of the table's files (one entry for a single file, every
  * file under a directory) and the session's parquet-inference settings.
  * A call whose stamp differs — a file added, removed or rewritten, or a
  * setting changed — infers again and replaces the entry, so there is one
  * entry per path. Only the schema is kept, never the DataFrame: every
  * call builds a fresh relation with fresh attribute ids, so two loads of
  * one table self-join on a real predicate.
  *
  * Timestamp normalization: the generator has shipped `events.ts` both as
  * parquet TIMESTAMP(NANOS) (which Spark's vectorized reader refuses with
  * [PARQUET_TYPE_ILLEGAL] — read as raw longs via
  * `spark.sql.legacy.parquet.nanosAsLong`, then integer-divide to micros;
  * double division would lose precision on ~1e18 nanosecond epochs) and as
  * TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark reads as
  * TIMESTAMP_NTZ and which `unix_micros`/interval arithmetic reject. The
  * session timezone is pinned to UTC everywhere in this engine, so casting
  * NTZ → TIMESTAMP is a semantic no-op and keeps results byte-identical to
  * the DuckDB oracle (which treats the same column as a plain timestamp).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val df = spark.read.schema(schemaOf(spark, path)).parquet(path)
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case LongType if f.name == "ts" =>
          d.withColumn(f.name, timestamp_micros(expr(s"${f.name} div 1000")))
        case TimestampNTZType =>
          d.withColumn(f.name, col(f.name).cast(TimestampType))
        case _ => d
      }
    }
  }

  // the settings that change what parquet schema inference returns
  private val inferenceConfs = Seq(
    "spark.sql.parquet.binaryAsString", "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong")

  private type Stamp = (Seq[Option[String]], Seq[(String, Long, Long)])
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (Stamp, StructType)]()

  /** The schema `spark.read.parquet(path)` infers, inferred only when the
    * path's stamp (see the object doc) differs from the memo's. */
  private[graft] def schemaOf(spark: SparkSession, path: String): StructType = {
    // listed before inference: a file that changes in between leaves an
    // entry whose stamp is already stale, which costs one more inference
    val p = new Path(path)
    val files = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listFiles(p, true)
    val listing = Vector.newBuilder[(String, Long, Long)]
    while (files.hasNext) {
      val f = files.next()
      listing += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    val stamp: Stamp =
      (inferenceConfs.map(spark.conf.getOption), listing.result().sorted)
    val memo = schemas.get(path)
    if (memo != null && memo._1 == stamp) memo._2
    else {
      val schema = spark.read.parquet(path).schema
      schemas.put(path, (stamp, schema))
      schema
    }
  }

  /** Number of scan splits a table yields: parquet files under the path
    * (each test table is one single-row-group file → 1). Feeds
    * `Relational.fanOut` so CPU-dense stages repartition only when the
    * source genuinely under-splits. Filesystem metadata only — no Spark
    * planning. */
  def splitCount(dir: String, name: String): Int = {
    val p = new java.io.File(s"$dir/$name.parquet")
    if (p.isDirectory)
      Option(p.listFiles()).map(_.count(_.getName.endsWith(".parquet"))).getOrElse(1).max(1)
    else 1
  }

  /** Load + fan out in one call for CPU-dense pipelines. */
  def fannedOut(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.ops.Relational.fanOut(apply(spark, dir, name), splitCount(dir, name))
}
