package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.Merge

/** C15 — streaming upsert sink: a change stream merged into a keyed
  * parquet table via `foreachBatch` + the A16 copy-on-write MERGE.
  * This is the CDC-ingest endpoint of the lakehouse family — streams
  * land as upserts, not appends, so the table is always a current
  * snapshot (one row per key) instead of a log the reader must
  * re-deduplicate.
  *
  * Scale design: `foreachBatch` gives each micro-batch to the SAME
  * index-pruned merge the batch path uses — on a key-clustered layout
  * (A13/A14) a batch touching few key ranges rewrites few files, so
  * per-batch write cost tracks batch size, not table size. Within a
  * batch, the last change per key wins (max-tiebreak on the batch's
  * own order column), mirroring Delta/Iceberg MERGE semantics under
  * multiple updates to one key.
  */
object UpsertSink {

  /** Last change per key within a batch. The window orders by
    * `orderCol` DESC then by a hash of the full row, so two changes to
    * the same key that tie on `orderCol` still resolve to ONE
    * deterministic winner — without the tiebreak the landed table
    * state would vary run to run.
    */
  private def latestPerKey(batch: DataFrame, keyCols: Seq[String],
      orderCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    batch
      .withColumn("__rn", row_number().over(
        Window.partitionBy(keyCols.map(c => col(s"`$c`")): _*)
          .orderBy(col(orderCol).desc,
            xxhash64(batch.columns.toIndexedSeq.map(col): _*).asc)))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Marker scope = the query's CHECKPOINT identity. BatchIds are only
    * comparable within one checkpointed query lineage: a fresh query
    * (new or no checkpoint) restarts them at 0, so a marker keyed on
    * batchId alone would make it silently DROP its first batches on a
    * table some earlier query had written — permanent data loss, not
    * dedup. This is the appId half of the (appId, batchId) txn-marker
    * pattern of the reference table formats.
    */
  private[graft] def markerScope(checkpoint: Option[String]): Option[String] =
    checkpoint.map { c =>
      val abs = Paths.get(c).toAbsolutePath.normalize.toString
      java.security.MessageDigest.getInstance("MD5")
        .digest(abs.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    }

  private def lastBatchPath(path: String, scope: String) =
    Paths.get(path, "_graft_log", s"_last_batch_$scope")

  /** Highest batchId already merged into `path` by the query lineage
    * identified by `scope`, or -1. */
  def lastCommittedBatch(path: String, scope: String): Long = {
    val p = lastBatchPath(path, scope)
    if (Files.exists(p)) new String(Files.readAllBytes(p), "UTF-8").trim.toLong
    else -1L
  }

  private def recordBatch(path: String, scope: String, batchId: Long): Unit = {
    val dir = Paths.get(path, "_graft_log")
    Files.createDirectories(dir)
    val tmp = Files.createTempFile(dir, "batch", ".tmp")
    Files.write(tmp, batchId.toString.getBytes("UTF-8"))
    Files.move(tmp, lastBatchPath(path, scope),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** One micro-batch of the versioned sink, extracted so the replay
    * guard is testable without restarting a real streaming query:
    * commits a new table version unless `scope` marks the batch as
    * already merged by this same query lineage. An UNVERSIONED target
    * bootstraps from the first batch (v0 = the batch's last-per-key
    * state) — the `format("graft")` streaming sink needs a cold start.
    */
  private[graft] def mergeVersionedBatch(path: String, keyCol: String,
      orderCol: String, scope: Option[String], mor: Boolean = false)(
      batch: DataFrame, batchId: Long): Unit =
    mergeVersionedBatch(path, Seq(keyCol), orderCol, scope, mor)(
      batch, batchId)

  private[graft] def mergeVersionedBatch(path: String, keyCols: Seq[String],
      orderCol: String, scope: Option[String], mor: Boolean)(
      batch: DataFrame, batchId: Long): Unit = {
    val replayed = scope.exists(sc => batchId <= lastCommittedBatch(path, sc))
    if (replayed) return
    // materialize the deduped batch ONCE: the emptiness probe and the
    // merge each re-evaluated the batch plan — which for a change-feed
    // source is the whole per-version diff — per action. r16: the
    // emptiness count RIDES the checkpoint job (observe) instead of
    // being an action of its own on every micro-batch.
    val (latest, nonEmpty) = checkpointedWithCount(batch, keyCols, orderCol)
    if (nonEmpty) {
      // A51 (r9): with a checkpoint lineage the batch commits under a
      // manifest-carried txn mark — ATOMIC with the version, closing
      // the crash window the sidecar marker below leaves open (a crash
      // between commit and recordBatch used to re-commit an extra
      // version on replay; now the replayed merge no-ops in the log).
      // The sidecar stays as the cheap pre-check (no manifest read).
      val ss = batch.sparkSession
      val txn = scope.map(sc => (s"stream_$sc", batchId))
      if (graft.sources.Snapshots.currentVersion(path) < 0)
        graft.sources.Snapshots.appendVersioned(ss, path, latest, txn)
      else if (mor)
        graft.sources.Snapshots.mergeVersionedDV(ss, path, latest, keyCols, txn)
      else
        graft.sources.Snapshots.mergeVersioned(ss, path, latest, keyCols, txn)
      scope.foreach(recordBatch(path, _, batchId))
    }
  }

  /** The partitioned analog ([[startPartitioned]]'s batch body),
    * shared with the `format("graft")` streaming sink. */
  /** Returns the TOUCHED partition values (empty for a replayed or
    * empty batch) so the sink's auto-compaction can gate only the
    * partitions this batch actually wrote. */
  private[graft] def mergePartitionedBatch(path: String, keyCol: String,
      partCol: String, orderCol: String, scope: Option[String],
      mor: Boolean = false)(
      batch: DataFrame, batchId: Long): Seq[String] =
    mergePartitionedBatch(path, Seq(keyCol), partCol, orderCol, scope, mor)(
      batch, batchId)

  private[graft] def mergePartitionedBatch(path: String,
      keyCols: Seq[String], partCol: String, orderCol: String,
      scope: Option[String], mor: Boolean)(
      batch: DataFrame, batchId: Long): Seq[String] = {
    val replayed = scope.exists(sc => batchId <= lastCommittedBatch(path, sc))
    if (replayed) return Seq.empty
    // ONE evaluation of the deduped batch feeds the emptiness probe,
    // the touched-value collect and every per-partition slice — the
    // change-feed diff a graft-to-graft loop streams would otherwise
    // recompute per consumer. r16: the emptiness count rides the
    // checkpoint job (observe).
    val (latest, nonEmpty) = checkpointedWithCount(batch, keyCols, orderCol)
    if (nonEmpty) {
      val touched = graft.sources.PartitionedSnapshots.mergePartitioned(
        batch.sparkSession, path, latest, keyCols, partCol, mor)
      scope.foreach(sc => recordBatch(path, sc, batchId))
      touched.keys.toSeq
    } else Seq.empty
  }

  /** r16 — dedupe, checkpoint, and learn the batch's row count in ONE
    * action: the count observes the checkpoint job's own pass
    * (CollectMetrics), replacing the per-micro-batch `isEmpty` probe
    * the three sink shapes each paid as a separate job. */
  private def checkpointedWithCount(batch: DataFrame, keyCols: Seq[String],
      orderCol: String): (DataFrame, Boolean) = {
    import org.apache.spark.sql.functions._
    val obs = org.apache.spark.sql.Observation()
    val latest = latestPerKey(batch, keyCols, orderCol)
      .observe(obs, count(lit(1)).as("__n"))
      .localCheckpoint()
    val n = graft.sources.Snapshots.observedCounts(obs, Seq("__n"),
      () => Seq(latest.count()))
    (latest, n.head > 0L)
  }

  /** r13 (A83) — the HIDDEN-TRANSFORM analog of
    * [[mergePartitionedBatch]]: each micro-batch routes through
    * [[graft.sources.HiddenPartitions.merge]] (epoch-aware, the
    * transform decides the directory, `mor` commits DV-mark + append
    * per touched dir — zero rewrites per batch). The sink REQUIRES an
    * initialized hidden root: the transform is table metadata laid
    * down by `HiddenPartitions.init`/`evolve`, never by the stream
    * (there is no partitionBy — the layout is hidden by definition).
    * Replay guard: the checkpoint-scoped sidecar marker, exactly the
    * A26 partitioned contract (immediate re-delivery of the last batch
    * is also verbatim-safe under mor). Returns the touched DIRECTORIES
    * so auto-compaction gates only what this batch wrote. */
  private[graft] def mergeHiddenBatch(path: String, keyCols: Seq[String],
      orderCol: String, scope: Option[String], mor: Boolean)(
      batch: DataFrame, batchId: Long): Seq[String] = {
    val replayed = scope.exists(sc => batchId <= lastCommittedBatch(path, sc))
    if (replayed) return Seq.empty
    // one evaluation of the deduped batch (see mergePartitionedBatch)
    val (latest, nonEmpty) = checkpointedWithCount(batch, keyCols, orderCol)
    if (nonEmpty) {
      // the merge reports each touched label WITH its directory —
      // never re-parse labels here (a string transform VALUE can look
      // exactly like an `e<k>:<v>` label)
      val touched = graft.sources.HiddenPartitions.mergeTouchedDirs(
        batch.sparkSession, path, latest, keyCols, mor)
      scope.foreach(sc => recordBatch(path, sc, batchId))
      touched.values.map(_._1).toSeq.distinct
    } else Seq.empty
  }

  /** Start the merge sink. `orderCol` breaks ties when one key changes
    * several times inside a micro-batch (highest wins = latest change).
    * Pass `checkpoint` to make restarts resume instead of replay.
    */
  def start(changes: DataFrame, path: String, keyCol: String,
      orderCol: String, checkpoint: Option[String] = None): StreamingQuery = {
    val w = changes.writeStream.outputMode("append")
    checkpoint.foreach(c => w.option("checkpointLocation", c))
    w.foreachBatch { (batch: DataFrame, _: Long) =>
        val latest = latestPerKey(batch, Seq(keyCol), orderCol)
        if (!latest.isEmpty) {
          Merge.mergeInto(batch.sparkSession, path, latest, keyCol)
          ()
        }
      }
      .start()
  }

  /** C25 — versioned streaming upsert: the same CDC merge, but through
    * the A18 snapshot log ([[graft.sources.Snapshots.mergeVersioned]])
    * so every micro-batch commits a NEW TABLE VERSION. The table is
    * simultaneously a current snapshot (latest version) and a full
    * history (time travel to any batch boundary) — the
    * streaming-ingest + reproducible-training-set combination a 100 TB
    * pipeline needs: a training run pins the version it read, and
    * later ingest can't silently change it. Per-batch cost is still
    * index-pruned rewrite; history cost is bounded by `vacuum`.
    *
    * Exactly-once versions NEED a `checkpoint`: the sink records the
    * last merged batchId under a marker scoped to the checkpoint
    * identity (the (appId, batchId) txn-marker pattern of the
    * reference table formats) and skips any replayed batch ≤ it, so a
    * failure/restart of THAT query cannot commit duplicate versions —
    * while a different query (other/no checkpoint, batchIds restarting
    * at 0) is unaffected by the marker and can never lose its first
    * batches to it. The marker lands AFTER the version commit: a crash
    * between the two replays exactly one batch, which re-commits an
    * extra version with identical table content — duplicate-free
    * either way. Without a checkpoint there is no cross-run batch
    * lineage at all, so no guard applies and every run's batches
    * commit.
    */
  /** `mor = true` (r12): each micro-batch commits through the A75
    * MERGE-ON-READ upsert — matched keys DV-marked, the batch
    * appended, ZERO file rewrites — so minute-cadence ingest into a
    * huge key-clustered table costs O(batch) per commit instead of a
    * touched-file rewrite per batch; reads pay one DV anti join until
    * `reconcileDV` / OPTIMIZE folds (schedule one per N batches, the
    * Iceberg minor/major-compaction rhythm). Same exactly-once marks,
    * same change feed, same time-travel contract either way.
    */
  def startVersioned(changes: DataFrame, path: String, keyCol: String,
      orderCol: String, checkpoint: Option[String] = None,
      mor: Boolean = false): StreamingQuery = {
    val w = changes.writeStream.outputMode("append")
    checkpoint.foreach(c => w.option("checkpointLocation", c))
    val scope = markerScope(checkpoint)
    w.foreachBatch(mergeVersionedBatch(path, keyCol, orderCol, scope, mor) _)
      .start()
  }

  /** C25+A26 — versioned streaming upsert into a HIVE-PARTITIONED
    * table: each micro-batch routes by the partition column and
    * commits PER-PARTITION versions
    * ([[graft.sources.PartitionedSnapshots.mergePartitioned]]).
    * Partitions a batch does not touch keep their version — per-batch
    * cost tracks the touched partitions' changed files, writers to
    * different partitions never contend, and a consumer can pin ONE
    * partition's version (the backfill/training-set shape) without
    * freezing ingest into the others. New partition values appearing
    * mid-stream mint their partition on first contact. Same
    * checkpoint-scoped replay guard as [[startVersioned]]: the marker
    * lands after all touched partitions commit, so a crash mid-batch
    * replays a batch whose per-partition re-merges are
    * content-idempotent.
    */
  def startPartitioned(changes: DataFrame, path: String, keyCol: String,
      partCol: String, orderCol: String,
      checkpoint: Option[String] = None,
      mor: Boolean = false): StreamingQuery = {
    val w = changes.writeStream.outputMode("append")
    checkpoint.foreach(c => w.option("checkpointLocation", c))
    val scope = markerScope(checkpoint)
    w.foreachBatch { (batch: DataFrame, batchId: Long) =>
      mergePartitionedBatch(path, keyCol, partCol, orderCol, scope, mor)(
        batch, batchId): Unit
    }.start()
  }
}
