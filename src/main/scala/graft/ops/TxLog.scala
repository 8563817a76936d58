package graft.ops

import java.io.File
import java.nio.file.{Files, Paths, FileAlreadyExistsException}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Transactional commit log for parquet tables — the multi-writer upgrade
  * of [[MergeOps.mergeParquet]]'s single-writer swap (same protocol
  * family as Delta Lake's `_delta_log`).
  *
  * Layout: `tableDir/_graft_log/NNNNNNNNNN.commit` files, one per
  * committed version, whose CONTENT is the snapshot directory holding
  * that version's data (`tableDir/snap-N-<uuid>`). The commit claim is a
  * POSIX hard link (`Files.createLink`): link creation is atomic and
  * fails if the name exists, so exactly one writer wins each version and
  * the winning commit file carries its full content from birth — no
  * torn reads. Losers delete their snapshot and RETRY the merge on top
  * of the winner's state (optimistic concurrency).
  *
  * Readers resolve max committed version → snapshot dir → parquet; they
  * never see uncommitted data. Old snapshots are GC'd after commit,
  * keeping a small tail for readers in flight.
  *
  * Scope: correct on any filesystem with atomic link/create (local,
  * NFS, HDFS). Object stores need a CAS/locking service for the claim —
  * the same caveat Delta documents for S3 single-writer mode.
  */
object TxLog {
  private val keepSnapshots = 3

  private def logDir(tableDir: String) = new File(tableDir, "_graft_log")

  private def commits(tableDir: String): Seq[(Long, File)] = {
    val d = logDir(tableDir)
    if (!d.exists()) Seq.empty
    else d.listFiles((_, n) => n.endsWith(".commit")).toSeq
      .map(f => (f.getName.stripSuffix(".commit").toLong, f))
      .sortBy(_._1)
  }

  /** Highest committed (version, snapshotDir), if any. */
  def currentVersion(tableDir: String): Option[(Long, String)] =
    commits(tableDir).lastOption.map { case (v, f) =>
      (v, new String(Files.readAllBytes(f.toPath), "UTF-8").trim)
    }

  /** Committed view of the table; None before the first commit. */
  def read(spark: SparkSession, tableDir: String): Option[DataFrame] =
    currentVersion(tableDir).map { case (_, snap) => spark.read.parquet(snap) }

  /** Time travel: the table AS OF a committed version, if that version's
    * snapshot is still retained (GC keeps the trailing `keepSnapshots`
    * commits). None for unknown or GC'd versions. */
  def readVersion(spark: SparkSession, tableDir: String,
                  version: Long): Option[DataFrame] =
    commits(tableDir).find(_._1 == version).map { case (_, f) =>
      spark.read.parquet(
        new String(Files.readAllBytes(f.toPath), "UTF-8").trim)
    }

  /** Retained (version, snapshotDir) history, oldest first. */
  def history(tableDir: String): Seq[(Long, String)] =
    commits(tableDir).map { case (v, f) =>
      (v, new String(Files.readAllBytes(f.toPath), "UTF-8").trim)
    }

  /** Version-guarded MERGE with optimistic concurrency: merge `source`
    * into the latest committed snapshot, write a new snapshot, claim the
    * next version; on a lost race, retry against the winner's state.
    * Returns the committed version number. */
  def commitMerge(spark: SparkSession, tableDir: String, source: DataFrame,
                  keys: Seq[String], versionCol: String,
                  maxAttempts: Int = 20): Long = {
    val deduped = Relational.latestByKey(source, keys, Seq(col(versionCol)))
    var attempt = 0
    // jobs-bound: <= maxAttempts x 1 snapshot-write job (each retry
    // re-merges against the race winner's snapshot and writes once;
    // the atomic link claim is filesystem-side, no Spark job)
    while (attempt < maxAttempts) {
      attempt += 1
      val cur = currentVersion(tableDir)
      val merged = cur match {
        case Some((_, snap)) =>
          MergeOps.upsert(spark.read.parquet(snap), deduped, keys, versionCol)
        case None => deduped
      }
      val next = cur.map(_._1 + 1).getOrElse(0L)
      val snapDir = s"$tableDir/snap-$next-${java.util.UUID.randomUUID()}"
      merged.write.mode(SaveMode.Overwrite).parquet(snapDir)
      val d = logDir(tableDir)
      d.mkdirs()
      val tmp = new File(d, s".tmp-${java.util.UUID.randomUUID()}")
      Files.write(tmp.toPath, snapDir.getBytes("UTF-8"))
      val commitFile = new File(d, f"$next%010d.commit")
      try {
        Files.createLink(commitFile.toPath, tmp.toPath) // atomic claim
        Files.delete(tmp.toPath)
        gc(tableDir)
        return next
      } catch {
        case _: FileAlreadyExistsException =>
          // another writer committed this version first: drop our
          // snapshot and re-merge on top of theirs
          Files.delete(tmp.toPath)
          deleteRecursively(new File(snapDir))
      }
    }
    throw new IllegalStateException(
      s"merge into $tableDir lost $maxAttempts optimistic-concurrency races")
  }

  /** Transactional whole-table REWRITE: apply `f` to the current committed
    * snapshot and commit the result as the next version — the maintenance-
    * job counterpart of [[commitMerge]], for rewrites that recompute
    * derived columns over the FULL table (near-dup compaction flags)
    * rather than merging keyed rows. On a lost optimistic-concurrency race
    * the closure RE-RUNS against the winner's snapshot: the rewrite is
    * derived data, so recomputation is the only reconciliation that can't
    * lose a concurrent writer's rows. Returns None when the table has no
    * committed version yet (nothing to rewrite). */
  def commitRewrite(spark: SparkSession, tableDir: String,
                    maxAttempts: Int = 20,
                    afterWrite: (SparkSession, String) => Unit = (_, _) => ())
                   (f: DataFrame => DataFrame): Option[Long] =
    rewriteLoop(spark, tableDir, maxAttempts) { (s, _, snap) =>
      Some((f(s.read.parquet(snap)), afterWrite))
    }

  /** Core of the rewrite protocol. `plan` receives the (version,
    * snapshotDir) ACTUALLY being rewritten on each attempt — so a lost
    * race re-derives everything (coalesce targets, manifest columns)
    * from the winner's snapshot, never from the attempt that lost — and
    * returns None to no-op for that snapshot, or the rewritten frame
    * plus a sidecar builder to run against the new snapshot dir before
    * the commit claim (lost race ⇒ sidecars discarded with the
    * snapshot; won race ⇒ published atomically with it). */
  private def rewriteLoop(spark: SparkSession, tableDir: String,
                          maxAttempts: Int)
                         (plan: (SparkSession, Long, String) =>
                            Option[(DataFrame, (SparkSession, String) => Unit)])
      : Option[Long] = {
    var attempt = 0
    // jobs-bound: <= maxAttempts x 1 rewrite-write job (compact/Z-order
    // re-plans against the race winner's snapshot and writes once per
    // retry; the commit claim is filesystem-side)
    while (attempt < maxAttempts) {
      attempt += 1
      currentVersion(tableDir) match {
        case None => return None
        case Some((v, snap)) =>
          plan(spark, v, snap) match {
            case None => return None
            case Some((out, afterWrite)) =>
              val next = v + 1
              val snapDir =
                s"$tableDir/snap-$next-${java.util.UUID.randomUUID()}"
              out.write.mode(SaveMode.Overwrite).parquet(snapDir)
              afterWrite(spark, snapDir)
              val d = logDir(tableDir)
              d.mkdirs()
              val tmp = new File(d, s".tmp-${java.util.UUID.randomUUID()}")
              Files.write(tmp.toPath, snapDir.getBytes("UTF-8"))
              val commitFile = new File(d, f"$next%010d.commit")
              try {
                Files.createLink(commitFile.toPath, tmp.toPath) // atomic claim
                Files.delete(tmp.toPath)
                gc(tableDir)
                return Some(next)
              } catch {
                case _: FileAlreadyExistsException =>
                  Files.delete(tmp.toPath)
                  deleteRecursively(new File(snapDir))
              }
          }
      }
    }
    throw new IllegalStateException(
      s"rewrite of $tableDir lost $maxAttempts optimistic-concurrency races")
  }

  /** Parquet data files of the CURRENT committed snapshot, if any —
    * (count, total bytes). The compaction trigger reads this, never the
    * row data. */
  def snapshotFiles(tableDir: String): Option[(Int, Long)] =
    currentVersion(tableDir).map { case (_, snap) => snapshotFilesAt(snap) }

  private def snapshotFilesAt(snap: String): (Int, Long) = {
    val fs = Option(new File(snap).listFiles())
      .getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    (fs.length, fs.map(_.length()).sum)
  }

  /** Indexed columns recoverable from a snapshot's `_stats` manifest
    * (`min_<col>` fields), empty when the snapshot carries none. */
  private def manifestCols(spark: SparkSession, snap: String): Seq[String] = {
    val st = new File(snap, "_stats")
    if (!st.isDirectory) Seq.empty
    else spark.read.parquet(st.toString).schema.fieldNames
      .filter(_.startsWith("min_")).map(_.stripPrefix("min_")).toSeq
  }

  /** Transactional small-file compaction — the `OPTIMIZE` bin-pack
    * lever for this table format. Streaming appends and keyed merges
    * leave a long tail of small files; every subsequent scan then pays
    * per-file open/footer cost instead of sequential reads (the classic
    * 100 TB small-file death). This rewrites the current snapshot into
    * `ceil(bytes / targetFileBytes)` files via [[commitRewrite]]
    * (optimistic concurrency, blue/green snapshot — readers see old or
    * new, never partial) using `coalesce`: a NARROW merge of adjacent
    * input partitions, so bin-packing pays read+write but NO shuffle —
    * the same shape as Delta's bin-packing OPTIMIZE (Z-ordering is the
    * separate, shuffling rewrite: [[graft.ops.Layout.zorderBy]] under
    * [[commitRewrite]]). No-ops (returns None) when the table is absent
    * or already at/below the target file count. */
  def commitCompact(spark: SparkSession, tableDir: String,
                    targetFileBytes: Long = 128L * 1024 * 1024,
                    maxAttempts: Int = 20): Option[Long] = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    // everything below is derived from the snapshot each ATTEMPT is
    // rewriting — a lost race re-plans against the winner's snapshot
    // (its file count, its manifest columns), so a racing writer can't
    // leave this compaction packing to a stale target or rebuilding a
    // manifest for columns the winner dropped
    rewriteLoop(spark, tableDir, maxAttempts) { (s, _, snap) =>
      val (nFiles, bytes) = snapshotFilesAt(snap)
      val target = math.max(1L,
        (bytes + targetFileBytes - 1) / targetFileBytes).toInt
      if (nFiles <= target) None
      else {
        // a clustered snapshot carries a _stats manifest; compaction
        // must not silently drop the skip index — recover the indexed
        // columns from the manifest schema (min_<col> fields) and
        // rebuild it for the packed files (coalesce is narrow, so the
        // z-clustering itself survives the merge)
        val statsCols = manifestCols(s, snap)
        val after: (SparkSession, String) => Unit =
          if (statsCols.isEmpty) (_, _) => ()
          else (ss, snapDir) => Layout.writeFileStatsAt(
            ss, snapDir, s"$snapDir/_stats", statsCols)
        Some((s.read.parquet(snap).coalesce(target), after))
      }
    }
  }

  /** Transactional Z-ORDER rewrite with an in-snapshot zone-map
    * manifest — `OPTIMIZE ZORDER BY` for this table format, closing the
    * maintenance loop `commitMerge` (ingest) → [[commitCompact]]
    * (bin-pack) → commitCluster (cluster + skip-index). The rewrite
    * goes through [[commitRewrite]]'s optimistic-concurrency loop via
    * [[Layout.zorderBy]]; the per-file min/max manifest is then written
    * INTO the snapshot (`snap-N-uuid/_stats` — an `_`-prefixed subdir
    * is invisible to Spark's file index, exactly how Delta hides
    * `_delta_log`), so manifest and data flip atomically with the
    * commit claim and a concurrent reader can never pair new stats with
    * old files. Stats are built before the claim is attempted; a lost
    * race discards snapshot + stats together and re-clusters the
    * winner's state. Returns None when the table has no committed
    * version. */
  def commitCluster(spark: SparkSession, tableDir: String,
                    zcols: Seq[String], bits: Int = 8,
                    statsCols: Seq[String] = Nil, outPartitions: Int = 0,
                    maxAttempts: Int = 20): Option[Long] =
    commitRewrite(spark, tableDir, maxAttempts,
      afterWrite = (s, snapDir) => Layout.writeFileStatsAt(
        s, snapDir, s"$snapDir/_stats",
        if (statsCols.nonEmpty) statsCols else zcols)) {
      df => Layout.zorderBy(df, zcols, bits, outPartitions)
    }

  /** Manifest-pruned range scan of the CURRENT committed version: after
    * a [[commitCluster]], conjunctive range predicates resolve against
    * the snapshot's `_stats` manifest to a static file list BEFORE any
    * data file opens ([[Layout.prunedScanAt]]); on a snapshot without a
    * manifest (plain merge/compact commits) the same call degrades to a
    * full scan + filter — correct, just unpruned. None before the first
    * commit. */
  def prunedRead(spark: SparkSession, tableDir: String,
                 ranges: Seq[(String, Double, Double)]): Option[DataFrame] =
    currentVersion(tableDir).map { case (_, snap) =>
      if (new File(snap, "_stats").isDirectory)
        Layout.prunedScanAt(spark, snap, s"$snap/_stats", ranges)
      else
        spark.read.parquet(snap).filter(Layout.rangePredicate(ranges))
    }

  /** Drop snapshots no longer referenced by the trailing commits. */
  private def gc(tableDir: String): Unit = {
    val all = commits(tableDir)
    if (all.size > keepSnapshots) {
      val (old, keep) = all.splitAt(all.size - keepSnapshots)
      val live = keep.map { case (_, f) =>
        new String(Files.readAllBytes(f.toPath), "UTF-8").trim
      }.toSet
      old.foreach { case (_, f) =>
        val snap = new String(Files.readAllBytes(f.toPath), "UTF-8").trim
        if (!live.contains(snap)) deleteRecursively(new File(snap))
        Files.deleteIfExists(f.toPath): Unit
      }
    }
  }

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }
}
