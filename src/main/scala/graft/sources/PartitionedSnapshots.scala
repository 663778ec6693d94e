package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName
import org.apache.spark.sql.functions._

/** A26 — HIVE-PARTITIONED versioned tables: the partition column routes
  * data into per-partition SNAPSHOT LOGS — one A18 log per
  * `part=<value>/` directory — which makes the partition the unit of
  * every maintenance operation, exactly as in Delta/Iceberg practice at
  * 100 TB:
  *
  *  - a partition-predicate read prunes whole partitions BEFORE any
  *    manifest (let alone data file) is opened — the coarsest and
  *    cheapest skipping level, above A15's per-file stats;
  *  - a keyed MERGE touches only the partitions its batch routes to;
  *    every other partition's log keeps its version untouched (no
  *    write amplification across partitions, and writers to DIFFERENT
  *    partitions never contend on a commit atom);
  *  - OPTIMIZE / OPTIMIZE ZORDER run per partition ([[Snapshots.compact]]
  *    / [[Snapshots.compactZOrder]] delegate directly) — re-clustering
  *    one hot partition does not rewrite the other 10 000;
  *  - time travel is per partition, which is what a backfill actually
  *    wants: re-reading yesterday's version of one day-partition, not
  *    of the whole table.
  *
  * The partition column itself is stored in the DIRECTORY NAME (hive
  * layout), not in the data files; reads restore it as a literal.
  * Demonstration contract: a STRING partition column of bounded
  * cardinality (the hive-partitioning assumption).
  *
  * This object also holds the ONE partition router both layouts share
  * ([[HiddenPartitions]] routes by a transform's value instead of a
  * column): [[initRouted]] and [[route]] take a routing-value column and
  * a value → dir function, and every writer and reader names a dir by
  * one rule — `<prefix><URL-encoded value>` ([[valueDir]] /
  * [[valuesUnder]]). A NULL routing value has no dir and is refused.
  */
object PartitionedSnapshots {

  /** The one value → dir naming rule of every partitioned root:
    * `<prefix><URL-encoded value>` — `part=` for hive dirs and
    * epoch-0 hidden dirs, `part.e<k>=` for later hidden epochs. */
  private[graft] def valueDir(path: String, prefix: String,
      value: String): String =
    Paths.get(path, prefix + java.net.URLEncoder.encode(value, "UTF-8")).toString

  /** The decoded values of the `<prefix>…` dirs under `path` — a
    * listing of the table root, never of data files. */
  private[graft] def valuesUnder(path: String, prefix: String): Seq[String] =
    if (!Files.isDirectory(Paths.get(path))) Seq.empty
    else Snapshots.listDir(Paths.get(path)).map(_.getFileName.toString)
      .filter(_.startsWith(prefix))
      .map(n => java.net.URLDecoder.decode(n.stripPrefix(prefix), "UTF-8"))
      .sorted

  /** A partition's table directory (for the connector's file index). */
  private[graft] def partitionDir(path: String, value: String): String =
    valueDir(path, "part=", value)

  /** Committed partition values, decoded from the directory names. */
  def partitions(path: String): Seq[String] = valuesUnder(path, "part=")

  // bucket-under-partition composition (A50 under A26 and A49, r14):
  // every partition's per-dir snapshot table is created with this
  // root-level bucket spec, and the per-table `#bucketspec` manifest
  // line then self-preserves through every later write
  // (Snapshots.stageData routes by it). This is the 100 TB design point
  // — date-partitioned + join-key-bucketed facts — so the A50 exchange
  // elimination reaches the flagship layout.
  private def bucketPath(path: String) = Paths.get(path, "_graft_part_bucket")

  /** The root's bucket-under-partition spec, if composed at init. */
  def bucketOf(path: String): Option[(String, Int)] = {
    val p = bucketPath(path)
    if (!Files.exists(p)) None
    else new String(Files.readAllBytes(p), "UTF-8").trim.split("\t") match {
      case Array(c, n) => Some((c, n.toInt))
      case _ => None
    }
  }

  /** Initialize: route `df` into per-partition directories (the
    * partition column leaves the data files and becomes the directory
    * name) and open a snapshot log in each. Returns the partition
    * values created. `bucketBy` composes A50 UNDER the partitions:
    * every partition's own snapshot table is hash-bucketed on the given
    * column, the spec recorded at the root, so a partition-pruned
    * co-bucketed join plans with ZERO exchange (the date-then-key fact
    * layout). NULL partition values refuse (see [[initRouted]]).
    */
  def init(spark: SparkSession, path: String, df: DataFrame,
      partCol: String, bucketBy: Option[(String, Int)] = None): Seq[String] = {
    require(partitions(path).isEmpty, s"$path already initialized")
    bucketBy.foreach { case (c, _) => require(c != partCol,
      s"graft: bucket column '$c' IS the partition column") }
    initRouted(spark, path, df, col(s"`$partCol`").cast("string"),
      partitionDir(path, _), Some(partCol), bucketBy)
  }

  private def refuseNull(value: Column): Nothing =
    throw new IllegalArgumentException(s"graft: NULL '$value' values " +
      "cannot route to a partition dir — filter them out or use a " +
      "default value")

  /** The router's init, shared by both layouts: route `df` by `value`
    * into the dirs `dirOf` names (`dropCol` leaves the data files) and
    * open a snapshot log in each. A NULL value refuses before any
    * partition dir is written. Returns the values created, sorted.
    *  - plain root: ONE distributed partitioned write into a staging
    *    dir, then each written dir MOVES to its router name (Spark's own
    *    path escaping never names a table dir) — no extra job;
    *  - bucketed root: one bucketed bootstrap per value (the value list
    *    is bounded by partition cardinality), the spec recorded first.
    */
  private[sources] def initRouted(spark: SparkSession, path: String,
      df: DataFrame, value: Column, dirOf: String => String,
      dropCol: Option[String], bucketBy: Option[(String, Int)]): Seq[String] = {
    bucketBy match {
      case Some((c, n)) =>
        require(df.columns.contains(c),
          s"graft: bucket column '$c' not in ${df.columns.mkString(", ")}")
        // one collect answers both the value list and the NULL refusal
        val vals = df.select(value).distinct().collect()
          .map(_.getString(0)).toIndexedSeq
        if (vals.contains(null)) refuseNull(value)
        recordBucketSpec(path, c, n)
        // per-value bucketed bootstraps write DISJOINT dirs — overlap
        Par.foreach(spark, vals) { v =>
          Snapshots.writeBucketedVersioned(spark, dirOf(v),
            df.filter(value === v).drop(dropCol.toSeq: _*), c, n)
          ()
        }
        vals.sorted
      case None =>
        // staged names are "v" + the URL-encoded value: ASCII only, and
        // NULL is the one value Spark writes as its default-partition
        // dir (it writes "" there too)
        val stage = Paths.get(path, "_graft_init_stage")
        val vals = try {
          df.withColumn("__v", concat(lit("v"), url_encode(value)))
            .drop(dropCol.toSeq: _*)
            .write.partitionBy("__v").parquet(stage.toString)
          val written = Snapshots.listDir(stage).filter(Files.isDirectory(_))
            .map(p => p -> unescapePathName(p.getFileName.toString.stripPrefix("__v=")))
          if (written.exists(!_._2.startsWith("v"))) refuseNull(value)
          written.map { case (p, n) =>
            val v = java.net.URLDecoder.decode(n.tail, "UTF-8")
            Files.move(p, Paths.get(dirOf(v)))
            v
          }.sorted
        } finally org.apache.commons.io.FileUtils.deleteDirectory(stage.toFile)
        // per-dir log bootstraps are independent — overlap them (Par)
        Par.foreach(spark, vals)(v => Snapshots.init(spark, dirOf(v)))
        vals
    }
  }

  /** r15 (the r14 verdict's item 4) — record the composed bucket spec
    * WITHOUT data: the `CREATE TABLE … PARTITIONED BY (col,
    * bucket(n, k))` SQL DDL path. Every partition value's FIRST
    * contact (mergePartitioned / the streaming sink) then bootstraps
    * bucketed, keeping the exchange-free whole-table claim. */
  def recordBucketSpec(path: String, c: String, n: Int): Unit = {
    require(partitions(path).isEmpty && bucketOf(path).isEmpty,
      s"$path already initialized")
    Files.createDirectories(Paths.get(path))
    Files.write(bucketPath(path), s"$c\t$n".getBytes("UTF-8"))
    ()
  }

  /** Read one partition at its CURRENT version (or `version`), the
    * partition column restored as a literal. */
  def readPartition(spark: SparkSession, path: String, partCol: String,
      value: String, version: Int = -1): DataFrame =
    Snapshots.read(spark, partitionDir(path, value), version)
      .withColumn(partCol, lit(value))

  /** Read the partitions whose VALUE passes `keep` — partition pruning
    * at the directory level: logs and files of pruned partitions are
    * never opened. Default: the full table. */
  def read(spark: SparkSession, path: String, partCol: String,
      keep: String => Boolean = _ => true): DataFrame = {
    val vals = partitions(path).filter(keep)
    require(vals.nonEmpty, s"no partition of $path passes the predicate")
    vals.map(readPartition(spark, path, partCol, _)).reduce(_.unionByName(_))
  }

  /** Keyed MERGE routed by partition: the batch is split by its
    * partition value and each slice merges into ITS partition's log
    * (A16 index-pruned copy-on-write + A25 CAS per partition).
    * Partitions the batch does not touch keep their version — and
    * concurrent merges into DIFFERENT partitions never contend.
    * The touched-value list rides the router's one aggregate over the
    * batch, bounded by partition cardinality (the hive assumption); a
    * NULL partition value refuses before any partition commits. Rows
    * may MOVE between partitions only via delete+insert, as in
    * hive-partitioned Delta: a batch row's partition value decides
    * where it lands.
    * Returns (value → new version) for the touched partitions.
    */
  def mergePartitioned(spark: SparkSession, path: String, updates: DataFrame,
      keyCol: String, partCol: String): Map[String, Int] =
    mergePartitioned(spark, path, updates, keyCol, partCol, mor = false)

  /** Composite-key form (r15): row identity within each partition is
    * the TUPLE of `keyCols` — see [[Snapshots.mergeVersioned]]. */
  def mergePartitioned(spark: SparkSession, path: String, updates: DataFrame,
      keyCols: Seq[String], partCol: String): Map[String, Int] =
    mergePartitionedTxn(spark, path, updates, keyCols, partCol,
      mor = false, None)

  /** Composite-key MoR form (r15). */
  def mergePartitioned(spark: SparkSession, path: String, updates: DataFrame,
      keyCols: Seq[String], partCol: String, mor: Boolean): Map[String, Int] =
    mergePartitionedTxn(spark, path, updates, keyCols, partCol, mor, None)

  /** `mor = true` (r12): each touched partition commits through the
    * A75 merge-on-read upsert — DV-mark + append inside the
    * partition's own log, zero file rewrites — so partitioned
    * streaming ingest costs O(batch slice) per partition commit. New
    * partition values still bootstrap identically (nothing to mark).
    * Safe against IMMEDIATE re-delivery of the LAST committed batch
    * even without a sidecar marker: that replay finds every key
    * verbatim and commits a no-op version. An OUT-OF-ORDER replay of
    * an OLDER batch would regress keys updated since — the streaming
    * sink's lastCommittedBatch guard forbids that; bare-API callers
    * who need general replay safety should route through the
    * checkpoint-scoped marker ([[graft.streaming.UpsertSink]]) or
    * [[Snapshots.mergeVersionedDV]] with a txn mark per partition. Fold
    * with [[reconcilePartition]] / [[compactPartition]] per partition.
    */
  def mergePartitioned(spark: SparkSession, path: String, updates: DataFrame,
      keyCol: String, partCol: String, mor: Boolean): Map[String, Int] =
    mergePartitionedTxn(spark, path, updates, Seq(keyCol), partCol, mor, None)

  /** r14 (the r13 verdict's item 7) — the A51 idempotent form: each
    * touched partition's commit carries the `(txnAppId, txnVersion)`
    * mark ATOMICALLY with its data (the mark rides the same manifest
    * CAS), so a replayed batch no-ops PER PARTITION — a crash that
    * committed some partitions and not others resumes exactly the
    * missing ones. Bare-API callers get exactly-once without the
    * streaming sink's checkpoint-scoped batch guard. New partition
    * values bootstrap WITH the mark (crash-idempotent, the
    * txn-marked appendVersioned shape); a bucketed root refuses a
    * txn-marked bootstrap of a NEW value (pre-create it), matching the
    * connector's refusal. */
  def mergePartitionedIdempotent(spark: SparkSession, path: String,
      updates: DataFrame, keyCol: String, partCol: String,
      txnAppId: String, txnVersion: Long,
      mor: Boolean = false): Map[String, Int] =
    mergePartitionedTxn(spark, path, updates, Seq(keyCol), partCol, mor,
      Some((txnAppId, txnVersion)))

  /** Composite-key form of [[mergePartitionedIdempotent]] (r15). */
  def mergePartitionedIdempotent(spark: SparkSession, path: String,
      updates: DataFrame, keyCols: Seq[String], partCol: String,
      txnAppId: String, txnVersion: Long,
      mor: Boolean): Map[String, Int] =
    mergePartitionedTxn(spark, path, updates, keyCols, partCol, mor,
      Some((txnAppId, txnVersion)))

  private def mergePartitionedTxn(spark: SparkSession, path: String,
      updates: DataFrame, keyCols: Seq[String], partCol: String, mor: Boolean,
      txn: Option[(String, Long)]): Map[String, Int] = {
    require(!keyCols.contains(partCol),
      s"graft: the partition column '$partCol' cannot be a merge key")
    route(spark, updates, col(s"`$partCol`").cast("string"),
      partitionDir(path, _), Some(partCol), bucketOf(path), keyCols, mor, txn)
      .map { case (v, (_, ver)) => v -> ver }
  }

  /** The router's merge, shared by both layouts. ONE aggregate over the
    * batch yields the touched values AND every slice's key summary
    * ([[Snapshots.partitionedKeySummaries]]); a NULL value, or a
    * txn-marked bootstrap under a bucketed root, refuses before any dir
    * commits. Each value's slice (minus `dropCol`) then commits into the
    * dir `dirOf` names: merged in place (copy-on-write, or merge-on-read
    * with `mor`) when that dir has a log, else bootstrapped — bucketed
    * under a bucketed root, WITH the `txn` mark when one is given
    * (crash-idempotent: a replay of a half-bootstrapped attempt adopts
    * or replaces its own staged files, never doubles them). The per-value commits write DISJOINT dirs, so they overlap
    * (guide §2.6): a batch's wall tracks its largest slice, not the
    * touched-dir count. Returns value → (dir, new version).
    */
  private[sources] def route(spark: SparkSession, updates: DataFrame,
      value: Column, dirOf: String => String, dropCol: Option[String],
      bucket: Option[(String, Int)], keyCols: Seq[String], mor: Boolean,
      txn: Option[(String, Long)]): Map[String, (String, Int)] = {
    val summaries = Snapshots.partitionedKeySummaries(updates, value,
      keyCols, updates.schema(keyCols.head).dataType)
    if (summaries.contains(null)) refuseNull(value)
    val fresh = summaries.keySet.filter(v => Snapshots.currentVersion(dirOf(v)) < 0)
    require(txn.isEmpty || bucket.isEmpty || fresh.isEmpty,
      "graft: a txn-marked merge cannot bootstrap NEW bucketed partition(s) " +
        s"${fresh.toSeq.sorted.mkString(", ")} — create them first (merge " +
        "without the mark), then merge idempotently")
    Par.map(spark, summaries.keys.toIndexedSeq.sorted) { v =>
      val slice = updates.filter(value === v).drop(dropCol.toSeq: _*)
      val dir = dirOf(v)
      val version =
        if (!fresh.contains(v))
          Snapshots.mergeVersionedOCC(spark, dir, slice, keyCols, maxRetries = 5,
            beforeCommit = () => (), txn, summaries.get(v), mor)
        else bucket match {
          case Some((c, n)) => Snapshots.writeBucketedVersioned(spark, dir, slice, c, n)
          case None => Snapshots.appendVersioned(spark, dir, slice, txn)
        }
      v -> (dir, version)
    }.toMap
  }

  /** A30 per partition: fold ONE partition's deletion vectors — the
    * maintenance unit of merge-on-read partitioned ingest. */
  def reconcilePartition(spark: SparkSession, path: String,
      value: String): Int =
    Snapshots.reconcileDV(spark, partitionDir(path, value))

  /** Per-partition OPTIMIZE (bin-packing) — the unit of maintenance. */
  def compactPartition(spark: SparkSession, path: String, value: String,
      targetBytes: Long = 128L << 20): Int =
    Snapshots.compact(spark, partitionDir(path, value), targetBytes)

  /** Per-partition OPTIMIZE ZORDER — re-cluster ONE partition. */
  def zorderPartition(spark: SparkSession, path: String, value: String,
      c1: String, c2: String, numFiles: Int): Int =
    Snapshots.compactZOrder(spark, partitionDir(path, value), c1, c2, numFiles)

  /** A39 per partition: re-cluster only ONE partition's unclustered
    * tail — the day-partition maintenance loop at 100 TB (each
    * partition carries its own clustering state in its own log). */
  def zorderIncrementalPartition(spark: SparkSession, path: String,
      value: String, targetBytes: Long = 128L << 20): Int =
    Snapshots.compactZOrderIncremental(spark, partitionDir(path, value),
      targetBytes)

  /** Current version per partition (the table's version VECTOR). */
  def versions(path: String): Map[String, Int] =
    partitions(path).map(v =>
      v -> Snapshots.currentVersion(partitionDir(path, v))).toMap
}
