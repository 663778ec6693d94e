package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.sources.{Refs, Snapshots}

class SnapshotsSpec extends GraftSuite {

  private def freshTable(): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_snap_spec").toString + "/t"
    (1L to 100L).map(k => (k, s"v$k", 0L)).toDF("k", "payload", "gen")
      .repartitionByRange(4, col("k")).write.parquet(dir)
    dir
  }

  test("init snapshots the current files as version 0") {
    val dir = freshTable()
    assert(Snapshots.init(spark, dir) == 0)
    assert(Snapshots.currentVersion(dir) == 0)
    assert(Snapshots.read(spark, dir).count() == 100)
  }

  test("mergeVersioned: every version stays readable, bit-exact") {
    import spark.implicits._
    val dir = freshTable()
    Snapshots.init(spark, dir)

    val up1 = Seq((5L, "UP5", 1L), (200L, "NEW200", 1L)).toDF("k", "payload", "gen")
    assert(Snapshots.mergeVersioned(spark, dir, up1, "k") == 1)
    val up2 = Seq((5L, "UP5b", 2L), (300L, "NEW300", 2L)).toDF("k", "payload", "gen")
    assert(Snapshots.mergeVersioned(spark, dir, up2, "k") == 2)

    def snap(v: Int): Map[Long, (String, Long)] =
      Snapshots.read(spark, dir, v).collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap

    val v0 = snap(0); val v1 = snap(1); val v2 = snap(2)
    assert(v0.size == 100 && v0(5L) == ("v5", 0L) && !v0.contains(200L))
    assert(v1.size == 101 && v1(5L) == ("UP5", 1L) && v1(200L) == ("NEW200", 1L))
    assert(v2.size == 102 && v2(5L) == ("UP5b", 2L) &&
      v2(200L) == ("NEW200", 1L) && v2(300L) == ("NEW300", 2L))
    // untouched keys identical across every version
    assert((v0.keySet - 5L).forall(k => v1(k) == v0(k) && v2(k) == v0(k)))
  }

  test("startVersioned: each micro-batch commits a time-travelable version") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = freshTable()
    Snapshots.init(spark, dir)

    val input = MemoryStream[(Long, String, Long)]
    val q = graft.streaming.UpsertSink.startVersioned(
      input.toDS().toDF("k", "payload", "gen"), dir, "k", "gen")
    try {
      input.addData((5L, "B1", 1L), (200L, "B1NEW", 1L))
      q.processAllAvailable()
      input.addData((5L, "B2", 2L), (5L, "B2LATE", 3L)) // same key twice: max gen wins
      q.processAllAvailable()
    } finally q.stop()

    assert(Snapshots.currentVersion(dir) == 2)
    def m(v: Int) = Snapshots.read(spark, dir, v).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(0)(5L) == "v5" && !m(0).contains(200L))
    assert(m(1)(5L) == "B1" && m(1)(200L) == "B1NEW")
    assert(m(2)(5L) == "B2LATE" && m(2)(200L) == "B1NEW" && m(2).size == 101)
  }

  test("startPartitioned: per-partition versions, untouched partitions frozen") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.sources.PartitionedSnapshots
    val dir = Files.createTempDirectory("graft_part_sink").toString + "/t"
    PartitionedSnapshots.init(spark, dir,
      (1L to 90L).map(k => (k, Seq("A", "B", "C")((k % 3).toInt), s"v$k", 0L))
        .toDF("k", "part", "payload", "gen"),
      "part")
    assert(PartitionedSnapshots.versions(dir) == Map("A" -> 0, "B" -> 0, "C" -> 0))

    val input = MemoryStream[(Long, String, String, Long)]
    val q = graft.streaming.UpsertSink.startPartitioned(
      input.toDS().toDF("k", "part", "payload", "gen"), dir, "k", "part", "gen")
    try {
      // batch 1 touches ONLY partition B (keys ≡ 1 mod 3)
      input.addData((4L, "B", "B1", 1L), (91L, "B", "B1NEW", 1L))
      q.processAllAvailable()
      assert(PartitionedSnapshots.versions(dir) == Map("A" -> 0, "B" -> 1, "C" -> 0))
      // batch 2: same key twice (max gen wins) + a brand-new partition
      input.addData((4L, "B", "B2", 2L), (4L, "B", "B2LATE", 3L),
        (500L, "D", "NEWD", 2L))
      q.processAllAvailable()
    } finally q.stop()

    val v = PartitionedSnapshots.versions(dir)
    assert(v("A") == 0 && v("C") == 0 && v("B") == 2 && v("D") == 0)
    def part(p: String, ver: Int = -1) =
      PartitionedSnapshots.readPartition(spark, dir, "part", p, ver)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(part("B")(4L) == "B2LATE" && part("B")(91L) == "B1NEW")
    assert(part("D") == Map(500L -> "NEWD"))
    // per-partition time travel: B's v1 has batch 1 only
    assert(part("B", 1)(4L) == "B1")
    assert(part("B", 0)(4L) == "v4" && !part("B", 0).contains(91L))
    // bystander partition content untouched
    assert(part("A").size == 30 && part("A")(3L) == "v3")
  }

  test("mergeVersioned retires superseded files under a relative table path") {
    import spark.implicits._
    // relative path: scan URIs (file:///abs, %-encoded) and manifest
    // entries would mismatch on raw string compare, silently keeping
    // BOTH old and new rows for an updated key
    val abs = Paths.get(freshTable())
    val rel = Paths.get("").toAbsolutePath.relativize(abs).toString
    Snapshots.init(spark, rel)
    val up = Seq((5L, "UP5", 1L)).toDF("k", "payload", "gen")
    Snapshots.mergeVersioned(spark, rel, up, "k")
    val rows = Snapshots.read(spark, rel).filter(col("k") === 5L).collect()
    assert(rows.length == 1, s"superseded file not retired: ${rows.toSeq}")
    assert(rows.head.getString(1) == "UP5")
    assert(Snapshots.read(spark, rel).count() == 100)
  }

  test("vacuum sweeps orphan data files no manifest references") {
    import spark.implicits._
    val dir = freshTable()
    Snapshots.init(spark, dir)
    // simulate a crash between staging and commit: a data file lands in
    // the table dir but no manifest ever references it
    val orphanDir = Files.createTempDirectory("graft_orphan").toString
    Seq((999L, "ORPHAN", 9L)).toDF("k", "payload", "gen")
      .coalesce(1).write.mode("overwrite").parquet(orphanDir)
    val part = Files.list(Paths.get(orphanDir)).iterator().asScala
      .find(_.toString.endsWith(".parquet")).get
    Files.copy(part, Paths.get(dir, "v1_crashed.parquet"))
    val swept = Snapshots.vacuum(dir, keepFrom = 0)
    assert(swept == 1, s"expected exactly the orphan swept, got $swept")
    assert(!Files.exists(Paths.get(dir, "v1_crashed.parquet")))
    assert(Snapshots.read(spark, dir).count() == 100) // live data untouched
  }

  test("versioned-sink replay guard: skips same-lineage replays, never poisons a new query") {
    import spark.implicits._
    val dir = freshTable()
    Snapshots.init(spark, dir)
    // guard exercised through the extracted per-batch hook (a
    // MemoryStream cannot restart from a checkpoint); scope = what
    // startVersioned derives from a checkpointLocation
    val ck1 = graft.streaming.UpsertSink.markerScope(Some("/tmp/ck1"))
    def run(scope: Option[String], payload: String, batchId: Long): Unit =
      graft.streaming.UpsertSink.mergeVersionedBatch(dir, "k", "gen", scope)(
        Seq((5L, payload, 1L)).toDF("k", "payload", "gen"), batchId)

    run(ck1, "B1", 0L)
    assert(Snapshots.currentVersion(dir) == 1)
    // crash-replay of the SAME checkpointed query: batch 0 again → skipped
    run(ck1, "B1", 0L)
    assert(Snapshots.currentVersion(dir) == 1,
      "replayed batch 0 committed a duplicate version")
    assert(graft.streaming.UpsertSink.lastCommittedBatch(dir, ck1.get) == 0L)
    // a DIFFERENT query lineage (new checkpoint) restarts batchIds at 0
    // with genuinely new data: the old marker must NOT swallow it
    val ck2 = graft.streaming.UpsertSink.markerScope(Some("/tmp/ck2"))
    run(ck2, "B2-new-query", 0L)
    assert(Snapshots.currentVersion(dir) == 2,
      "new query's first batch was silently dropped by a stale marker")
    // no checkpoint → no cross-run lineage → no guard: batches commit
    run(None, "B3-no-ck", 0L)
    assert(Snapshots.currentVersion(dir) == 3)
  }

  test("racing committers: every version id is won by exactly ONE commit") {
    val dir = freshTable()
    Snapshots.init(spark, dir)
    // 4 threads hammer the commit atom; with a silent-replace race
    // (check-then-rename) two racers can both "succeed" on one version
    // id, so successes would exceed distinct committed versions. The
    // hard-link publish makes the loser fail loudly instead —
    // conservation: commits_won + races_lost == attempts.
    val attempts = 25
    val lost = new java.util.concurrent.atomic.AtomicInteger
    val threads = (1 to 4).map(_ => new Thread(() =>
      (1 to attempts).foreach { _ =>
        try { Snapshots.commit(dir, Seq.empty); () }
        catch { case _: java.nio.file.FileAlreadyExistsException =>
          lost.incrementAndGet(); () }
      }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(Snapshots.currentVersion(dir) == 4 * attempts - lost.get,
      s"version ids double-won: ${4 * attempts - lost.get} successes but " +
        s"only ${Snapshots.currentVersion(dir)} committed versions")
    // and no stray tmp files survive a vacuum
    Snapshots.vacuum(dir, keepFrom = Snapshots.currentVersion(dir))
    val tmps = Files.list(Paths.get(dir, "_graft_log")).iterator().asScala
      .count(_.toString.endsWith(".tmp"))
    assert(tmps == 0)
  }

  test("change feed: inserts/updates/deletes from the manifest diff only") {
    import spark.implicits._
    val dir = freshTable()
    Snapshots.init(spark, dir)
    val up = Seq((5L, "UP5", 1L), (200L, "NEW200", 1L)).toDF("k", "payload", "gen")
    Snapshots.mergeVersioned(spark, dir, up, "k")

    val ch01 = Snapshots.changesBetween(spark, dir, 0, 1, "k").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ch01 == Map(5L -> "update", 200L -> "insert"),
      s"unexpected change set: $ch01")
    // no-op range and identical endpoints yield an empty feed
    assert(Snapshots.changesBetween(spark, dir, 1, 1, "k").isEmpty)

    // deletes: commit a manifest that drops one live file (an external
    // writer can shrink the live set; the feed must see it)
    val live = Snapshots.read(spark, dir, 1)
      .withColumn("f", org.apache.spark.sql.functions.input_file_name())
    val victim = live.filter(col("k") === 42L)
      .select("f").head.getString(0)
    val keptFiles = live.select("f").distinct().collect().map(_.getString(0))
      .filterNot(_ == victim) // both sides from input_file_name: same form
    Snapshots.commit(dir, keptFiles.toIndexedSeq)
    val ch12 = Snapshots.changesBetween(spark, dir, 1, 2, "k").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ch12.nonEmpty && ch12.values.forall(_ == "delete"))
    assert(ch12.contains(42L))
    // and the cumulative 0 -> 2 feed agrees key-by-key with a full
    // two-version diff semantics (42 was unchanged 0->1, so 0->2 = delete)
    val ch02 = Snapshots.changesBetween(spark, dir, 0, 2, "k").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ch02(42L) == "delete" && ch02(5L) == "update" && ch02(200L) == "insert")

    // delete-all: an EMPTY toV manifest must yield one delete per
    // surviving key, not an unresolvable empty schema
    Snapshots.commit(dir, Seq.empty)
    val chAll = Snapshots.changesBetween(spark, dir, 2, 3, "k").collect()
    assert(chAll.nonEmpty && chAll.forall(_.getString(1) == "delete"))
    assert(chAll.length == Snapshots.read(spark, dir, 2).count())
  }

  test("deleteVersioned: time-travelable delete whose change feed is exactly the removed keys") {
    val dir = freshTable()
    Snapshots.init(spark, dir)
    val v1 = Snapshots.deleteVersioned(spark, dir, col("k") <= 10L)
    assert(v1 == 1)
    // prior version keeps the deleted rows readable; new version lost
    // exactly the predicate band
    assert(Snapshots.read(spark, dir, 0).count() == 100)
    val after = Snapshots.read(spark, dir, 1).select("k").collect().map(_.getLong(0)).toSet
    assert(after == (11L to 100L).toSet)
    // the change feed reports precisely the deleted keys
    val ch = Snapshots.changesBetween(spark, dir, 0, 1, "k").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ch == (1L to 10L).map(_ -> "delete").toMap, s"feed: $ch")
  }

  test("compact: rewrite-only commit bin-packs small files, zero logical changes") {
    import spark.implicits._
    // 32 tiny files — the layout thousands of C25 micro-batch commits
    // converge on
    val dir = Files.createTempDirectory("graft_compact_spec").toString + "/t"
    (1L to 2000L).map(k => (k, s"v$k", 0L)).toDF("k", "payload", "gen")
      .repartition(32).write.parquet(dir)
    val v0 = Snapshots.init(spark, dir)
    val before = Snapshots.read(spark, dir, v0).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    val nSmall = 32
    val sizes = Files.list(Paths.get(dir)).iterator.asScala
      .filter(_.toString.endsWith(".parquet")).map(Files.size).toSeq
    assert(sizes.size == nSmall)

    // target sized so the packed set must land on ⌈Σsize/target⌉ files
    val total = sizes.sum
    val target = total / 4 + 1
    val expectBins = ((total + target - 1) / target).toInt
    val v1 = Snapshots.compact(spark, dir, targetBytes = target)
    assert(v1 == v0 + 1)

    // (a) live rows bit-identical across the compaction version
    val after = Snapshots.read(spark, dir, v1).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    assert(after == before)
    // (b) file count reduced to the bin-packed minimum
    val liveAfter = Snapshots.liveFiles(dir, v1)
    assert(liveAfter.size == expectBins, s"live=${liveAfter.size} want=$expectBins")
    // (c) a pure-layout commit produces NO logical changes
    assert(Snapshots.changesBetween(spark, dir, v0, v1, "k").count() == 0)
    // (d) time travel to the pre-compaction version still exact
    val pre = Snapshots.read(spark, dir, v0).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    assert(pre == before)

    // repeated compaction converges: packed files compress below the
    // pre-pack size estimate, so a second pass may pack further, but a
    // fixed point is reached and then calls are version no-ops
    val vFix = Iterator.iterate(v1)(v =>
      Snapshots.compact(spark, dir, targetBytes = target))
      .sliding(2).collectFirst { case Seq(a, b) if a == b => a }.get
    assert(Snapshots.compact(spark, dir, targetBytes = target) == vFix)
    assert(Snapshots.read(spark, dir, vFix).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq == before)

    // files ≥ target are left alone: recompact with a tiny target
    assert(Snapshots.compact(spark, dir, targetBytes = 1L) == vFix)

    // vacuum reclaims the superseded small files; latest still exact
    val reclaimed = Snapshots.vacuum(dir, keepFrom = vFix)
    assert(reclaimed >= nSmall)
    val postVac = Snapshots.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    assert(postVac == before)
  }

  test("manifest file stats: merge and pruned reads never touch (or even list) untouched files") {
    import spark.implicits._
    val dir = freshTable() // keys 1-100 over 4 range files, init records stats
    Snapshots.init(spark, dir)
    // the sharpest possible no-scan pin: REMOVE an untouched file from
    // disk. Any code path that lists or scans the full live set now
    // fails loudly; a manifest-stats path proceeds.
    val byFile = Snapshots.read(spark, dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("k").as("kmin"), max("k").as("kmax")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val victim = byFile.filter(_._2 > 50L).maxBy(_._2) // highest key range
    val victimPath = Paths.get(new java.net.URI(victim._1))
    val bak = Paths.get(victimPath.toString + ".bak")
    Files.move(victimPath, bak)
    try {
      // merge into the LOWEST key range: discovery via manifest stats,
      // rewrite touches only the intersecting file — succeeds although
      // an untouched live file is missing from disk
      val v1 = Snapshots.mergeVersioned(spark, dir,
        Seq((1L, "UP1", 9L)).toDF("k", "payload", "gen"), "k")
      // keyed delete: same contract
      val v2 = Snapshots.deleteVersionedKeys(spark, dir, Seq(2L).toDF("k"), "k")
      // pruned range read over low keys: file list from the manifest
      // alone, scan touches only the kept files
      val low = Snapshots.readPrunedRange(spark, dir, "k", 1L, 10L, v2)
      assert(low.count() == 9L) // keys 1..10 minus deleted 2
      assert(low.filter(col("k") === 1L).head().getString(1) == "UP1")
      assert(v1 == 1 && v2 == 2)
    } finally Files.move(bak, victimPath)
    // with the file back, the full table reflects the merge + delete
    val full = Snapshots.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(full.size == 99 && full(1L) == "UP1" && !full.contains(2L))
    // stats survive rename commits untouched (physical-name keyed)
    Snapshots.renameColumn(spark, dir, "payload", "doc")
    val v3 = Snapshots.currentVersion(dir)
    Files.move(victimPath, bak)
    try {
      Snapshots.mergeVersioned(spark, dir,
        Seq((3L, "UP3", 9L)).toDF("k", "doc", "gen"), "k")
      assert(Snapshots.readPrunedRange(spark, dir, "k", 3L, 3L)
        .head().getString(1) == "UP3")
    } finally Files.move(bak, victimPath)
    assert(Snapshots.currentVersion(dir) == v3 + 1)
  }

  test("r12 partitioned merge-on-read: per-partition DV merge, zero rewrites, reconcile unit") {
    import spark.implicits._
    import graft.sources.PartitionedSnapshots
    val dir = Files.createTempDirectory("graft_part_mor").toString + "/t"
    val df = (1L to 300L).map(k =>
      (k, Seq("A", "B", "C")((k % 3).toInt), s"v$k")).toDF("k", "part", "payload")
    PartitionedSnapshots.init(spark, dir, df, "part")
    val bDir = PartitionedSnapshots.partitionDir(dir, "B").toString
    val bFiles0 = Snapshots.liveFiles(bDir, 0).toSet
    // MoR merge: B updated + a NEW partition D bootstrapped
    val vs = PartitionedSnapshots.mergePartitioned(spark, dir,
      Seq((4L, "B", "UP4"), (301L, "B", "N301"), (500L, "D", "N500"))
        .toDF("k", "part", "payload"), "k", "part", mor = true)
    assert(vs == Map("B" -> 1, "D" -> 0))
    // B's bootstrap files are ALL still live; batch appended + one DV
    val bFiles1 = Snapshots.liveFiles(bDir, 1).toSet
    assert(bFiles0.subsetOf(bFiles1) && bFiles1.size > bFiles0.size)
    assert(Snapshots.dvFiles(bDir, 1).nonEmpty)
    // untouched partitions frozen; content exact
    assert(PartitionedSnapshots.versions(dir) ==
      Map("A" -> 0, "B" -> 1, "C" -> 0, "D" -> 0))
    val bMap = PartitionedSnapshots.readPartition(spark, dir, "part", "B")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(bMap(4L) == "UP4" && bMap(301L) == "N301" && bMap(7L) == "v7")
    // replay of the same batch no-ops content-wise (verbatim keys)
    PartitionedSnapshots.mergePartitioned(spark, dir,
      Seq((4L, "B", "UP4")).toDF("k", "part", "payload"), "k", "part",
      mor = true)
    assert(Snapshots.changesBetween(spark, bDir, 1, 2, "k").isEmpty)
    // per-partition reconcile folds only B's DVs
    PartitionedSnapshots.reconcilePartition(spark, dir, "B")
    assert(Snapshots.dvFiles(bDir,
      Snapshots.currentVersion(bDir)).isEmpty)
    val bAfter = PartitionedSnapshots.readPartition(spark, dir, "part", "B")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(bAfter == bMap)
  }

  test("partitioned table: partition-scoped merges/OPTIMIZE, pruned reads, per-partition time travel") {
    import spark.implicits._
    import graft.sources.PartitionedSnapshots
    val dir = Files.createTempDirectory("graft_part_spec").toString + "/t"
    val df = (1L to 300L).map(k =>
      (k, Seq("A", "B", "C")((k % 3).toInt), s"v$k")).toDF("k", "part", "payload")
    assert(PartitionedSnapshots.init(spark, dir, df, "part") == Seq("A", "B", "C"))
    assert(PartitionedSnapshots.versions(dir) == Map("A" -> 0, "B" -> 0, "C" -> 0))

    // a merge touching ONLY partition B: A and C keep version 0
    val vs = PartitionedSnapshots.mergePartitioned(spark, dir,
      Seq((4L, "B", "UP4"), (301L, "B", "NEW301")).toDF("k", "part", "payload"),
      "k", "part")
    assert(vs == Map("B" -> 1))
    assert(PartitionedSnapshots.versions(dir) == Map("A" -> 0, "B" -> 1, "C" -> 0))

    // pruned read opens ONLY partition B's files (directory-level
    // pruning — the physical contract)
    val bOnly = PartitionedSnapshots.read(spark, dir, "part", _ == "B")
    val files = bOnly.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(f =>
      f.contains("part=B") || f.contains("part%3DB")),
      s"pruned read touched foreign files: ${files.mkString(", ")}")
    val bMap = bOnly.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(bMap(4L) == "UP4" && bMap(301L) == "NEW301" && bMap(7L) == "v7")

    // full read = per-partition union with the column restored
    assert(PartitionedSnapshots.read(spark, dir, "part").count() == 301L)

    // a merge creating a NEW partition value
    PartitionedSnapshots.mergePartitioned(spark, dir,
      Seq((500L, "D", "NEW500")).toDF("k", "part", "payload"), "k", "part")
    assert(PartitionedSnapshots.partitions(dir) == Seq("A", "B", "C", "D"))
    assert(PartitionedSnapshots.readPartition(spark, dir, "part", "D").count() == 1L)

    // per-partition OPTIMIZE: only the target partition's version moves
    PartitionedSnapshots.compactPartition(spark, dir, "A", targetBytes = 1L << 20)
    val v2 = PartitionedSnapshots.versions(dir)
    assert(v2("B") == 1 && v2("C") == 0)

    // per-partition time travel: B's v0 still answers pre-merge
    val b0 = PartitionedSnapshots.readPartition(spark, dir, "part", "B", version = 0)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(b0(4L) == "v4" && !b0.contains(301L))
  }

  test("OPTIMIZE ZORDER: layout-only commit, prunes files on BOTH dimensions, time travel intact") {
    val dir = Files.createTempDirectory("graft_zorder_spec").toString + "/t"
    // two decorrelated uniform dimensions: a narrow range in EITHER
    // must prune most z-tiles after re-clustering
    spark.range(40000)
      .selectExpr("id AS k", "(id * 7919) % 40000 AS x", "id % 97 AS payload")
      .repartition(8).write.parquet(dir)
    Snapshots.init(spark, dir)
    val before = Snapshots.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq

    val v1 = Snapshots.compactZOrder(spark, dir, "k", "x", numFiles = 16)
    assert(v1 == 1)
    // (a) layout-only: the live row multiset is untouched
    assert(Snapshots.changesBetween(spark, dir, 0, v1, "k").count() == 0)
    val after = Snapshots.read(spark, dir, v1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(after == before)
    // (b) time travel to the pre-OPTIMIZE version reads bit-exact
    val pre = Snapshots.read(spark, dir, 0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(pre == before)
    // (c) a 2% range on EITHER z-ed dimension prunes to < half the
    // live files (16 z-tiles ≈ a 4×4 grid; a thin slab crosses one
    // row/column of tiles) and reads exactly the right rows
    for (c <- Seq("k", "x")) {
      val pruned = Snapshots.readPrunedRange(spark, dir, c, 0L, 799L)
      val nFiles = pruned.select(input_file_name()).distinct().count()
      assert(nFiles < 8, s"$c: range read touched $nFiles of 16 files")
      assert(pruned.count() == 800L, s"$c: pruned read lost rows")
    }
    // (d) vacuum past the optimize keeps the latest intact
    Snapshots.vacuum(dir, keepFrom = v1)
    assert(Snapshots.read(spark, dir).count() == 40000L)
  }

  test("N-column ZORDER: 3 dimensions all prune; state carries through incremental") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_zorder3_spec").toString + "/t"
    // three pairwise-decorrelated uniform dimensions
    spark.range(60000)
      .selectExpr("id AS k", "(id * 7919) % 60000 AS x",
        "(id * 104729) % 60000 AS y", "id % 97 AS payload")
      .repartition(8).write.parquet(dir)
    Snapshots.init(spark, dir)
    val before = Snapshots.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq

    val v1 = Snapshots.compactZOrderCols(spark, dir, Seq("k", "x", "y"), 64)
    assert(v1 == 1)
    // layout-only, bit-exact
    assert(Snapshots.changesBetween(spark, dir, 0, v1, "k").count() == 0)
    assert(Snapshots.read(spark, dir, v1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq == before)
    // a 2% slab on ANY of the three dimensions prunes (64 equal
    // z-ranges = a 4×4×4 octree grid; a thin slab crosses one plane
    // of ~16 tiles)
    for (c <- Seq("k", "x", "y")) {
      val pruned = Snapshots.readPrunedRange(spark, dir, c, 0L, 1199L)
      val nFiles = pruned.select(input_file_name()).distinct().count()
      assert(nFiles < 32, s"$c: range read touched $nFiles of 64 files")
      assert(pruned.count() == 1200L, s"$c: pruned read lost rows")
    }
    // the 3-column cluster state carries: a merge then INCREMENTAL
    // ZORDER re-clusters only the tail under the SAME three columns
    Snapshots.mergeVersioned(spark, dir,
      Seq((70000L, 1L, 2L, 3L)).toDF("k", "x", "y", "payload"), "k")
    val v3 = Snapshots.compactZOrderIncremental(spark, dir)
    assert(v3 == 3)
    assert(Snapshots.read(spark, dir, v3).count() == 60001L)
  }

  test("incremental ZORDER: re-clusters only the unclustered tail, clustered files untouched") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_zinc_spec").toString + "/t"
    spark.range(40000)
      .selectExpr("id AS k", "(id * 7919) % 40000 AS x", "id % 97 AS payload")
      .repartition(8).write.parquet(dir)
    Snapshots.init(spark, dir) // v0
    Snapshots.compactZOrder(spark, dir, "k", "x", numFiles = 16) // v1: full

    // with no tail, incremental is a clean no-op (no new version)
    assert(Snapshots.compactZOrderIncremental(spark, dir) == 1)

    // ingest: a merge whose copy-on-write outputs are the new tail
    val batch = spark.range(40000, 42000)
      .selectExpr("id AS k", "(id * 7919) % 40000 AS x", "id % 97 AS payload")
    Snapshots.mergeVersioned(spark, dir, batch.toDF(), "k") // v2
    val clusteredAtV2 = Snapshots.clusterFilesOf(dir, 2)
    val liveV2 = Snapshots.liveFiles(dir, 2).map(f => Snapshots.canonical(f): String).toSet
    assert(clusteredAtV2.nonEmpty && clusteredAtV2.subsetOf(liveV2))
    val tailSize = (liveV2 -- clusteredAtV2).size
    assert(tailSize > 0)

    val v3 = Snapshots.compactZOrderIncremental(spark, dir)
    assert(v3 == 3)
    // every clustered file of v2 survives UNTOUCHED into v3 (bytes
    // rewritten track the tail, not the table)
    val liveV3 = Snapshots.liveFiles(dir, 3).map(f => Snapshots.canonical(f): String).toSet
    assert(clusteredAtV2.subsetOf(liveV3))
    // the whole v3 live set is now the clustered set
    assert(Snapshots.clusterFilesOf(dir, 3) == liveV3)
    // layout-only: feed empty, row multiset intact
    assert(Snapshots.changesBetween(spark, dir, 2, 3, "k").isEmpty)
    assert(Snapshots.read(spark, dir).count() == 42000L)
    // pruning still answers exactly after the incremental pass
    val pruned = Snapshots.readPrunedRange(spark, dir, "k", 0L, 799L)
    assert(pruned.count() == 800L)

    // without a prior full ZORDER the incremental form refuses
    val fresh = freshTable()
    Snapshots.init(spark, fresh)
    intercept[IllegalArgumentException] {
      Snapshots.compactZOrderIncremental(spark, fresh)
    }
  }

  test("column mapping: rename/drop are metadata-only and every version keeps its own schema") {
    import spark.implicits._
    val dir = freshTable() // (k, payload, gen) × 100 over 4 files
    Snapshots.init(spark, dir) // v0
    def manifest(v: Int) = Snapshots.liveFiles(dir, v).toSet

    val v1 = Snapshots.renameColumn(spark, dir, "payload", "doc")
    val v2 = Snapshots.dropColumn(spark, dir, "gen")
    // metadata-only: zero data files moved by either commit
    assert(manifest(v1) == manifest(0) && manifest(v2) == manifest(0))
    // latest reads under the NEW logical names, values intact
    val cur = Snapshots.read(spark, dir)
    assert(cur.columns.toSeq == Seq("k", "doc"))
    assert(cur.filter(col("k") === 5L).head().getString(1) == "v5")
    // rename is not a change: the feed across both commits is empty
    assert(Snapshots.changesBetween(spark, dir, 0, v2, "k").count() == 0)

    // a MERGE under the new schema: the copy-on-write rewrite reads
    // old files through the mapping and stages under physical names
    val v3 = Snapshots.mergeVersioned(spark, dir,
      Seq((5L, "UP5"), (200L, "NEW200")).toDF("k", "doc"), "k")
    val m = Snapshots.read(spark, dir, v3).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m.size == 101 && m(5L) == "UP5" && m(200L) == "NEW200" && m(7L) == "v7")

    // time travel: v0 still answers under the OLD names and old values
    val v0df = Snapshots.read(spark, dir, 0)
    assert(v0df.columns.toSeq == Seq("k", "payload", "gen"))
    assert(v0df.filter(col("k") === 5L).head().getString(1) == "v5")
    assert(!v0df.columns.contains("doc"))

    // mapping chains: a SECOND rename of the same column still reads
    // the original physical bytes; delete under the mapped name works
    Snapshots.renameColumn(spark, dir, "doc", "text")
    Snapshots.deleteVersioned(spark, dir, col("text") === "UP5")
    val fin = Snapshots.read(spark, dir)
    assert(fin.columns.toSeq == Seq("k", "text"))
    assert(fin.count() == 100 && fin.filter(col("k") === 5L).count() == 0)
    assert(fin.filter(col("k") === 9L).head().getString(1) == "v9")

    // refused: rename to an existing name / drop a missing column
    intercept[IllegalArgumentException](
      Snapshots.renameColumn(spark, dir, "text", "k"))
    intercept[IllegalArgumentException](
      Snapshots.dropColumn(spark, dir, "payload"))
  }

  test("change-feed stream: bronze→silver chaining equals batch replay, restart-safe") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_feed_spec").toString
    val bronze = base + "/bronze"
    val silver = base + "/silver"
    val ckpt = base + "/ckpt"
    (1L to 100L).map(k => (k, s"v$k", 0L)).toDF("k", "payload", "gen")
      .repartitionByRange(4, col("k")).write.parquet(bronze)
    Snapshots.init(spark, bronze)

    def table(path: String): Map[Long, (String, Long)] =
      Snapshots.read(spark, path).collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap

    // initial attach: silver bootstraps from the full snapshot
    val feed = Snapshots.readChangesStream(spark, bronze, "k", ckpt)
    assert(feed.mirrorAvailable(silver) == 1)
    assert(table(silver) == table(bronze))

    // upstream commits 3 versions: update+insert, delete, update
    Snapshots.mergeVersioned(spark, bronze,
      Seq((5L, "UP5", 1L), (200L, "NEW200", 1L)).toDF("k", "payload", "gen"), "k")
    Snapshots.deleteVersioned(spark, bronze, col("k") === 7L || col("k") === 200L)
    Snapshots.mergeVersioned(spark, bronze,
      Seq((5L, "UP5b", 2L)).toDF("k", "payload", "gen"), "k")
    assert(feed.mirrorAvailable(silver) == 3)
    assert(table(silver) == table(bronze))
    assert(!table(silver).contains(7L) && !table(silver).contains(200L))
    assert(table(silver)(5L) == ("UP5b", 2L))

    // nothing new → zero batches, zero downstream commits
    val silverV = Snapshots.currentVersion(silver)
    assert(feed.mirrorAvailable(silver) == 0)
    assert(Snapshots.currentVersion(silver) == silverV)

    // restart: a NEW consumer on the SAME checkpoint resumes — it must
    // not re-deliver processed versions, and must pick up later ones
    val feed2 = Snapshots.readChangesStream(spark, bronze, "k", ckpt)
    assert(feed2.lastProcessed == Snapshots.currentVersion(bronze))
    Snapshots.mergeVersioned(spark, bronze,
      Seq((300L, "NEW300", 3L)).toDF("k", "payload", "gen"), "k")
    assert(feed2.mirrorAvailable(silver) == 1)
    assert(table(silver) == table(bronze))

    // a pure-layout upstream commit flows through as an EMPTY batch:
    // progress advances, downstream content untouched
    Snapshots.compact(spark, bronze, targetBytes = 1L << 30)
    val before = table(silver)
    feed2.mirrorAvailable(silver)
    assert(feed2.lastProcessed == Snapshots.currentVersion(bronze))
    assert(table(silver) == before)

    // silver equals a from-scratch batch replay of bronze's latest
    val replay = Snapshots.read(spark, bronze).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(table(silver) == replay)
  }

  test("mirror applies a 10k-key delete batch as an anti join, no literal key list") {
    import spark.implicits._
    // the mirror's delete path must carry the doomed keys as a
    // DATAFRAME (deleteVersionedKeys' broadcast anti join — plan size
    // O(1) in key count); the old collect+isin form put 10k literals
    // into one predicate and bloated analysis/codegen with batch size
    val base = Files.createTempDirectory("graft_feed_bigdel").toString
    val bronze = base + "/bronze"; val silver = base + "/silver"
    val ckpt = base + "/ckpt"
    spark.range(1L, 30001L)
      .selectExpr("id AS k", "concat('v', id) AS payload")
      .repartitionByRange(8, col("k")).write.parquet(bronze)
    Snapshots.init(spark, bronze)
    val feed = Snapshots.readChangesStream(spark, bronze, "k", ckpt)
    assert(feed.mirrorAvailable(silver) == 1)
    Snapshots.deleteVersioned(spark, bronze, col("k") % 3 === 0) // 10k keys
    assert(feed.mirrorAvailable(silver) == 1)
    assert(Snapshots.read(spark, silver).count() == 20000L)
    assert(Snapshots.read(spark, silver).filter(col("k") % 3 === 0).count() == 0L)
    // and the DataFrame-keyed delete API itself: physical minimality —
    // keys confined to one file's range rewrite only that file
    val dir = freshTable() // (k, payload, gen) × 100 over 4 range files
    Snapshots.init(spark, dir)
    val preFiles = Snapshots.read(spark, dir)
      .select(input_file_name().as("f")).distinct().collect().map(_.getString(0))
    val v1 = Snapshots.deleteVersionedKeys(spark, dir,
      Seq(1L, 2L).toDF("k"), "k")
    assert(Snapshots.read(spark, dir, v1).count() == 98L)
    val postFiles = Snapshots.read(spark, dir, v1)
      .select(input_file_name().as("f")).distinct().collect().map(_.getString(0))
    assert(preFiles.intersect(postFiles).length == preFiles.length - 1,
      "a 2-key delete in one file's range must rewrite exactly one file")
    // absent keys → no-op version, rows untouched
    val v2 = Snapshots.deleteVersionedKeys(spark, dir,
      Seq(999999L).toDF("k"), "k")
    assert(v2 == v1 + 1 && Snapshots.read(spark, dir, v2).count() == 98L)
  }

  test("schema evolution on write: widening merge, typed feed, exact time travel") {
    import spark.implicits._
    val dir = freshTable() // (k, payload, gen) × 100
    Snapshots.init(spark, dir) // v0
    assert(Snapshots.mergeVersioned(spark, dir,
      Seq((5L, "UP5", 1L)).toDF("k", "payload", "gen"), "k") == 1)

    // v2 WIDENS: the batch adds a double column. The commit must
    // record the widened schema; untouched old files null-fill on read.
    val wide = Seq((6L, "UP6", 2L, 9.5), (400L, "NEW400", 2L, 1.25))
      .toDF("k", "payload", "gen", "score")
    assert(Snapshots.mergeVersioned(spark, dir, wide, "k") == 2)
    // v3: post-widening update carrying the new column
    assert(Snapshots.mergeVersioned(spark, dir,
      Seq((7L, "UP7", 3L, 2.5)).toDF("k", "payload", "gen", "score"), "k") == 3)

    // pre-widening versions don't show the column at all
    assert(Snapshots.read(spark, dir, 0).columns.toSeq == Seq("k", "payload", "gen"))
    assert(Snapshots.read(spark, dir, 1).columns.toSeq == Seq("k", "payload", "gen"))
    // ...and their content is exactly the pre-widening state
    val v1 = Snapshots.read(spark, dir, 1).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(v1.size == 100 && v1(5L) == ("UP5", 1L) && !v1.contains(400L))

    // post-widening: typed double column, nulls where no file had it
    val v3df = Snapshots.read(spark, dir, 3)
    assert(v3df.schema("score").dataType ==
      org.apache.spark.sql.types.DoubleType)
    val v3 = v3df.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(v3.size == 101)
    assert(v3(6L) == Some(9.5) && v3(400L) == Some(1.25) && v3(7L) == Some(2.5))
    assert(v3(1L).isEmpty && v3(5L).isEmpty) // untouched + pre-widening update

    // the change feed across the widening stays typed: key 6 is an
    // update (null→9.5 on the new column), 400 an insert
    val feed = Snapshots.changesWithPayload(spark, dir, 1, 2, "k")
    assert(feed.schema("score").dataType ==
      org.apache.spark.sql.types.DoubleType)
    val ch = feed.collect().map(r => r.getLong(0) -> ((r.getString(1),
      if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    assert(ch(6L) == ("update", Some(9.5)) && ch(400L) == ("insert", Some(1.25)))

    // compaction across mixed physical schemas keeps the widened
    // column (null-fill, never silent drop)
    val v4 = Snapshots.compact(spark, dir, targetBytes = 1L << 30)
    assert(v4 == 4)
    val v4m = Snapshots.read(spark, dir, v4).collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(v4m == v3)
  }

  test("OCC: concurrent disjoint merges both land via rebase; key conflicts refuse") {
    import spark.implicits._
    val dir = freshTable() // keys 1-100 over 4 range-clustered files
    Snapshots.init(spark, dir)
    def table(): Map[Long, String] =
      Snapshots.read(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap

    // merge A stages from v0; before A's commit, a concurrent merge B
    // lands v1 (the beforeCommit seam makes the race deterministic).
    // A and B touch disjoint keys in disjoint files → A rebases to v2.
    val a = Seq((5L, "A5", 1L), (500L, "A500", 1L)).toDF("k", "payload", "gen")
    val b = Seq((80L, "B80", 1L), (600L, "B600", 1L)).toDF("k", "payload", "gen")
    var bV = -1
    val aV = Snapshots.mergeVersionedOCC(spark, dir, a, Seq("k"), maxRetries = 5,
      beforeCommit = () => { bV = Snapshots.mergeVersioned(spark, dir, b, "k") })
    assert(bV == 1 && aV == 2, s"bV=$bV aV=$aV")

    // both commits landed; the table equals either serial order
    val got = table()
    assert(got.size == 102)
    assert(got(5L) == "A5" && got(500L) == "A500")
    assert(got(80L) == "B80" && got(600L) == "B600")
    assert((1L to 100L).filterNot(k => k == 5L || k == 80L)
      .forall(k => got(k) == s"v$k"))
    // time travel: v1 holds B's changes only (A hadn't landed yet)
    val v1 = Snapshots.read(spark, dir, 1).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v1(80L) == "B80" && v1(600L) == "B600" &&
      v1(5L) == "v5" && !v1.contains(500L))

    // a genuine write-write conflict (same key) REFUSES instead of
    // silently losing the winner's update
    val c = Seq((5L, "C5", 2L)).toDF("k", "payload", "gen")
    val d = Seq((5L, "D5", 2L)).toDF("k", "payload", "gen")
    intercept[java.util.ConcurrentModificationException] {
      Snapshots.mergeVersionedOCC(spark, dir, c, Seq("k"), maxRetries = 5,
        beforeCommit = () => { Snapshots.mergeVersioned(spark, dir, d, "k") })
    }
    assert(table()(5L) == "D5") // the winner's commit is intact

    // conflict on a freshly INSERTED key (lives only in the winner's
    // new files, not in any file the loser touched) is also caught
    val e = Seq((700L, "E700", 3L)).toDF("k", "payload", "gen")
    val f = Seq((700L, "F700", 3L)).toDF("k", "payload", "gen")
    intercept[java.util.ConcurrentModificationException] {
      Snapshots.mergeVersionedOCC(spark, dir, e, Seq("k"), maxRetries = 5,
        beforeCommit = () => { Snapshots.mergeVersioned(spark, dir, f, "k") })
    }
    assert(table()(700L) == "F700")
  }

  test("OCC stress: 6 racing writers (merge/delete/compact), linear history, zero lost updates") {
    import spark.implicits._
    // every writer owns a disjoint key range; every publish goes
    // through the read-base CAS (commitNext / the merge rebase loop),
    // so no schedule may lose a landed update. Before the CAS fix,
    // delete/compact re-read the head at publish time and could bury a
    // concurrent winner's commit under a stale live set.
    val dir = Files.createTempDirectory("graft_occ_stress").toString + "/t"
    (1L to 400L).map(k => (k, s"v$k", 0L)).toDF("k", "payload", "gen")
      .repartitionByRange(8, col("k")).write.parquet(dir)
    Snapshots.init(spark, dir)

    // client retry contract for non-rebasing ops: losing the CAS (or a
    // merge hitting a file another writer re-laid-out) restages from
    // the NEW head — content-correct because each retry re-reads
    def retry[T](f: => T): T = {
      var out: Option[T] = None
      while (out.isEmpty) {
        try out = Some(f)
        catch {
          case _: java.nio.file.FileAlreadyExistsException => Thread.sleep(5)
          case _: java.util.ConcurrentModificationException => Thread.sleep(5)
        }
      }
      out.get
    }
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    def writer(name: String)(body: => Unit): Thread = {
      val t = new Thread(() =>
        try body catch { case e: Throwable => errs.add(e) }, name)
      t.start(); t
    }

    val writers =
      (0 until 4).map { t =>
        writer(s"merge-$t") {
          for (i <- 1 to 3) {
            val batch = (1 to 5).map(j => (t * 100L + j, s"T${t}M$i", i.toLong))
              .toDF("k", "payload", "gen")
            retry(Snapshots.mergeVersionedOCC(spark, dir, batch, Seq("k"),
              maxRetries = 50, beforeCommit = () => ()))
          }
        }
      } :+
        writer("delete") {
          for (i <- 0 until 3) {
            val lo = 380 + i * 7; val hi = lo + 6
            retry(Snapshots.deleteVersioned(spark, dir,
              col("k") >= lo && col("k") <= hi))
          }
        } :+
        writer("compact") {
          for (_ <- 0 until 2)
            retry(Snapshots.compact(spark, dir, targetBytes = 1L << 20))
        }
    writers.foreach(_.join())
    assert(errs.isEmpty, s"writer died: ${Option(errs.peek()).map(_.toString)}")

    // linear history: versions 0..head are gap-free and all readable
    val head = Snapshots.currentVersion(dir)
    (0 to head).foreach { v =>
      assert(Files.exists(Paths.get(dir, "_graft_log", f"v$v%06d.manifest")),
        s"gap at version $v of $head")
      Snapshots.read(spark, dir, v).count()
    }
    // zero lost updates: every writer's LAST write is in force
    val got = Snapshots.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    for (t <- 0 until 4; j <- 1 to 5)
      assert(got(t * 100L + j) == s"T${t}M3", s"lost merge: key ${t * 100 + j} = ${got(t * 100L + j)}")
    assert((380L to 400L).forall(!got.contains(_)), "lost delete")
    val untouched = (1L to 400L).toSet --
      (for (t <- 0 until 4; j <- 1 to 5) yield t * 100L + j) -- (380L to 400L)
    assert(untouched.forall(k => got(k) == s"v$k"), "bystander row corrupted")
    assert(got.size == 400 - 21)
  }

  test("log protocol refuses ill-defined operations instead of corrupting state") {
    val dir = freshTable()
    Snapshots.init(spark, dir)
    // double-init would fork the version history — rejected
    intercept[IllegalArgumentException](Snapshots.init(spark, dir))
    // reading a version that never existed is an error, not empty data
    intercept[IllegalArgumentException](Snapshots.read(spark, dir, 7))
    // vacuum beyond the committed range is rejected
    intercept[IllegalArgumentException](Snapshots.vacuum(dir, keepFrom = 3))
    // a manifest write NEVER overwrites a committed version: the commit
    // uses CREATE_NEW, so a racing duplicate version id fails the
    // filesystem op itself (the lost-update guard a real table format
    // implements with a CAS)
    val v0 = Paths.get(dir, "_graft_log", "v000000.manifest")
    intercept[java.nio.file.FileAlreadyExistsException] {
      Files.write(v0, "x".getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE_NEW)
    }
  }

  test("merge only rewrites key-range-intersecting files; vacuum reclaims the rest") {
    import spark.implicits._
    val dir = freshTable()
    Snapshots.init(spark, dir)
    val before = Files.list(Paths.get(dir)).iterator()
    val dataBefore = {
      var n = 0; while (before.hasNext) { if (before.next().toString.endsWith(".parquet")) n += 1 }; n
    }

    // update one key: only the one range-partitioned file covering it
    // is retired from the live set
    val up = Seq((7L, "UP7", 1L)).toDF("k", "payload", "gen")
    Snapshots.mergeVersioned(spark, dir, up, "k")
    val live0 = Snapshots.read(spark, dir, 0).withColumn("f", input_file_name())
      .select("f").distinct().count()
    val live1 = Snapshots.read(spark, dir, 1).withColumn("f", input_file_name())
      .select("f").distinct().count()
    assert(live0 == dataBefore) // v0 still reads its original files
    // v1 = (v0 files - 1 touched) + staged files
    assert(live1 >= dataBefore)

    val dropped = Snapshots.vacuum(dir, keepFrom = 1)
    assert(dropped >= 1) // at least the superseded file went away
    // latest still intact, old version gone
    assert(Snapshots.read(spark, dir).count() == 100)
    intercept[IllegalArgumentException](Snapshots.read(spark, dir, 0))
  }

  test("restore: rollback lands as a new commit, rolled-back versions stay travelable") {
    import spark.implicits._
    val dir = freshTable()
    Snapshots.init(spark, dir) // v0
    val up = Seq((5L, "UP5", 1L), (200L, "NEW200", 1L)).toDF("k", "payload", "gen")
    Snapshots.mergeVersioned(spark, dir, up, "k") // v1
    Snapshots.deleteVersioned(spark, dir, col("k") % 10 === 0) // v2
    assert(Snapshots.restore(dir, toV = 1) == 3)

    def snap(v: Int): Map[Long, String] =
      Snapshots.read(spark, dir, v).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    // head == v1 bit-exact: the delete un-done, the merge back in force
    assert(snap(3) == snap(1))
    // the rolled-back version is still there for forensics
    assert(!snap(2).contains(200L) && snap(2).size == snap(1).size - 11)
    // the feed across the restore commit is exactly the un-done rows:
    // the 11 deleted keys (5,15,…,95 and 200 survive: 200 % 10 == 0 —
    // count them from the data, not by hand)
    val feed = Snapshots.changesBetween(spark, dir, 2, 3, "k").collect()
    assert(feed.forall(_.getString(1) == "insert"))
    assert(feed.map(_.getLong(0)).sorted.toSeq ==
      snap(1).keySet.filter(_ % 10 == 0).toSeq.sorted)
    // restoring past the retention horizon refuses loudly
    Snapshots.vacuum(dir, keepFrom = 2)
    intercept[IllegalArgumentException](Snapshots.restore(dir, toV = 0))
  }

  test("shallow clone: zero-copy, divergent histories, vacuum never reclaims borrowed files") {
    import spark.implicits._
    val src = freshTable()
    Snapshots.init(spark, src) // src v0
    val dst = Files.createTempDirectory("graft_clone_spec").toString + "/t"
    assert(Snapshots.cloneShallow(src, dst) == 0)

    // zero-copy: the clone's directory holds NO data files, yet reads
    // the full source content through borrowed absolute references
    assert(!Files.list(Paths.get(dst)).iterator().asScala
      .exists(_.toString.endsWith(".parquet")))
    assert(Snapshots.read(spark, dst).count() == 100)

    // diverge the clone; the source must not observe it
    val up = Seq((7L, "CLONE7", 1L), (500L, "CLONE500", 1L)).toDF("k", "payload", "gen")
    Snapshots.mergeVersioned(spark, dst, up, "k") // clone v1
    assert(Snapshots.currentVersion(src) == 0)
    val srcMap = Snapshots.read(spark, src).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(srcMap(7L) == "v7" && !srcMap.contains(500L) && srcMap.size == 100)
    val cloneMap = Snapshots.read(spark, dst).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cloneMap(7L) == "CLONE7" && cloneMap(500L) == "CLONE500" &&
      cloneMap.size == 101)
    // the copy-on-write landed in the CLONE's directory
    assert(Files.list(Paths.get(dst)).iterator().asScala
      .exists(_.toString.endsWith(".parquet")))

    // the clone retired one borrowed file (the range file covering k=7);
    // vacuuming the clone's history must NOT delete it from the source
    val srcFilesBefore = Files.list(Paths.get(src)).iterator().asScala
      .count(_.toString.endsWith(".parquet"))
    Snapshots.vacuum(dst, keepFrom = 1)
    val srcFilesAfter = Files.list(Paths.get(src)).iterator().asScala
      .count(_.toString.endsWith(".parquet"))
    assert(srcFilesAfter == srcFilesBefore)
    assert(Snapshots.read(spark, src).count() == 100) // source intact
    assert(Snapshots.read(spark, dst).count() == 101) // clone intact

    // a clone of a historical version, and double-clone refusal
    intercept[IllegalArgumentException](Snapshots.cloneShallow(src, dst))
  }

  test("deep clone: share-nothing copy — survives source deletion, " +
      "keeps stats fidelity, materializes DV-carrying versions") {
    import spark.implicits._
    val src = freshTable()
    Snapshots.init(spark, src) // v0
    Snapshots.deleteVersioned(spark, src, col("k") % 9 === 4) // v1
    val want = Snapshots.read(spark, src).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val dst = Files.createTempDirectory("graft_dclone_spec").toString + "/t"
    assert(Snapshots.cloneDeep(src, dst) == 0)
    // the clone's directory holds its OWN data files
    assert(Files.list(Paths.get(dst)).iterator().asScala
      .exists(_.toString.endsWith(".parquet")))
    // THE pin: delete every live source file from disk — only a
    // physically independent copy still answers
    Snapshots.liveFiles(src, 1).foreach(f =>
      Files.delete(Paths.get(Snapshots.canonical(f))))
    val got = Snapshots.read(spark, dst).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == want)
    // stats fidelity: the remapped manifest lines still serve the
    // metadata-only aggregate — scan-free, even over the clone
    val se = graft.plans.GraftSessions.withExtensions(spark)
    val agg = se.read.format("graft").load(dst)
      .agg(count(lit(1)).as("n"), min("k").as("mn"), max("k").as("mx"))
    val scans = agg.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r }
    assert(scans.isEmpty, "deep clone must carry per-file stats")
    val r0 = agg.collect()(0)
    assert(r0.getLong(0) == want.size.toLong)
    // the clone evolves independently of the (now gone) source
    Snapshots.mergeVersioned(spark, dst,
      Seq((7L, "DEEP7", 1L)).toDF("k", "payload", "gen"), "k")
    assert(Snapshots.read(spark, dst).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap.apply(7L) == "DEEP7")
    // r13: a DV-carrying version deep-clones by MATERIALIZING the
    // touched files — the clone's v0 has no DV refs, shares no bytes
    // with the source, and the SOURCE keeps its DVs untouched
    val src2 = freshTable()
    Snapshots.init(spark, src2)
    Snapshots.deleteVersionedDV(spark, src2, col("k") % 7 === 3L) // v1
    Snapshots.mergeVersionedDV(spark, src2,
      Seq((5L, "DV5", 9L)).toDF("k", "payload", "gen"), "k") // v2
    val want2 = Snapshots.read(spark, src2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val dst2 = Files.createTempDirectory("graft_dclone_spec2").toString + "/t"
    assert(Snapshots.cloneDeep(src2, dst2) == 0)
    assert(Snapshots.dvFiles(dst2, 0).isEmpty,
      "a deep clone must not carry DV refs")
    // the source still has its DVs and serves unchanged
    assert(Snapshots.dvFiles(src2, 2).nonEmpty)
    assert(Snapshots.read(spark, src2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap == want2)
    // share-nothing: delete every live source file — clone answers,
    // dead rows stay dead, the DV'd update is in force
    Snapshots.liveFiles(src2, 2).foreach(f =>
      Files.delete(Paths.get(Snapshots.canonical(f))))
    val got2 = Snapshots.read(spark, dst2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got2 == want2)
    assert(!got2.contains(3L) && got2(5L) == "DV5")
    // manifest-only count is exact on the clone (fresh stats for the
    // materialized files)
    assert(Snapshots.rowCount(spark, dst2, 0) == Some(want2.size.toLong))
  }

  test("r12 MoR DML corners: CHECK refusal stages nothing, stat-less " +
      "columns prune nothing, bucketed MoR keeps the layout") {
    import spark.implicits._
    // A34 × A71: a violating MoR update refuses BEFORE staging — no
    // orphan DV/data files, version unchanged
    val dir = freshTable()
    Snapshots.init(spark, dir)
    val vCons = Snapshots.addConstraint(spark, dir, "gen_pos", "gen >= 0")
    val filesBefore = Files.list(Paths.get(dir)).iterator().asScala.size
    intercept[IllegalArgumentException] {
      Snapshots.updateVersionedDV(spark, dir, col("k") === 5L,
        Seq("gen" -> lit(-1L)))
    }
    assert(Snapshots.currentVersion(dir) == vCons)
    assert(Files.list(Paths.get(dir)).iterator().asScala.size == filesBefore,
      "a refused MoR update left staged files behind")
    intercept[IllegalArgumentException] {
      Snapshots.mergeVersionedDV(spark, dir,
        Seq((5L, "x", -2L)).toDF("k", "payload", "gen"), "k")
    }
    assert(Snapshots.currentVersion(dir) == vCons)

    // A76 conservativeness: a column added AFTER the data files have
    // stats (all-NULL on old files) must not mis-prune — the update
    // still lands on rows whose OTHER conjunct matches
    val vAdd = Snapshots.addColumn(spark, dir, "score",
      org.apache.spark.sql.types.DoubleType) // metadata-only
    val cands = Snapshots.candidateFiles(spark, dir, vAdd,
      col("score").isNull && col("k") === 7L)
    assert(cands.nonEmpty, "stat-less/null-only column over-pruned")
    Snapshots.updateVersionedDV(spark, dir,
      col("score").isNull && col("k") === 7L,
      Seq("score" -> lit(0.5)))
    val scored = Snapshots.read(spark, dir)
      .filter(col("score").isNotNull).collect()
    assert(scored.length == 1 && scored.head.getLong(0) == 7L)

    // A50 × A75: a bucketed table's MoR-appended files stay
    // bucket-tagged, and the bucket layout survives reconcile
    val bdir = Files.createTempDirectory("graft_mor_bucket").toString + "/t"
    Snapshots.writeBucketedVersioned(spark, bdir,
      (1L to 80L).map(k => (k, s"v$k")).toDF("k", "payload"), "k", 4)
    Snapshots.mergeVersionedDV(spark, bdir,
      Seq((3L, "U3"), (200L, "N200")).toDF("k", "payload"), "k")
    val staged = Snapshots.liveFiles(bdir, 1)
      .filterNot(Snapshots.liveFiles(bdir, 0).toSet)
    assert(staged.nonEmpty && staged.forall(f =>
      org.apache.spark.sql.GraftSqlBridge
        .bucketIdOf(Paths.get(f).getFileName.toString).isDefined),
      s"MoR-appended files lost the bucket tag: $staged")
    Snapshots.reconcileDV(spark, bdir)
    val rows = Snapshots.read(spark, bdir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows(3L) == "U3" && rows(200L) == "N200" && rows.size == 81)
  }

  test("r12 predicate DML prunes candidate files from manifest stats") {
    val dir = freshTable() // 4 range files over k = 1..100
    Snapshots.init(spark, dir)
    val all = Snapshots.liveFiles(dir, 0)
    val cands = Snapshots.candidateFiles(spark, dir, 0, col("k") >= 80L)
    assert(cands.nonEmpty && cands.size < all.size,
      s"k >= 80 should prune (got ${cands.size} of ${all.size})")
    // the file holding k=1 can never hold a k >= 80 match
    val lowFile = Snapshots.candidateFiles(spark, dir, 0, col("k") === 1L)
    assert(lowFile.size == 1 && !cands.contains(lowFile.head))

    // STRONG pin: stash the low file OFF DISK — only discovery that
    // never opens it can run; restore the identical bytes afterwards
    // so content checks still read the full table
    val victim = Paths.get(lowFile.head)
    val stash = Files.createTempFile("graft_stash", ".parquet")
    Files.move(victim, stash, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    try {
      Snapshots.updateVersioned(spark, dir, col("k") >= 80L,
        Seq("payload" -> concat(lit("u"), col("k")))) // v1 (CoW, pruned)
      Snapshots.deleteVersionedDV(spark, dir, col("k") === 95L) // v2
      Snapshots.updateVersionedDV(spark, dir, col("k") === 90L,
        Seq("gen" -> lit(7L))) // v3
      // a stats-provably-empty predicate commits a no-op version
      // without opening a single data file
      val v4 = Snapshots.deleteVersioned(spark, dir, col("k") > 1000L)
      assert(v4 == 4)
      assert(Snapshots.changesBetween(spark, dir, 3, 4, "k").isEmpty)
    } finally Files.move(stash, victim)
    val rows = Snapshots.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toList
    val byK = rows.map(r => r._1 -> r).toMap
    assert(!byK.contains(95L)) // DV delete landed
    assert(byK(90L) == ((90L, "u90", 7L))) // both updates landed
    assert(byK(85L)._2 == "u85" && byK(79L)._2 == "v79")
    assert(byK(1L) == ((1L, "v1", 0L))) // untouched low file intact
    assert(rows.size == 99)
  }

  test("A71 merge-on-read update: DV mark + append, zero rewrites, exact feed") {
    val dir = freshTable()
    Snapshots.init(spark, dir, changeDataFeed = true) // v0
    def dataFiles() = Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.endsWith(".parquet") && !n.contains("_dv") &&
        !n.contains("_cdf")).toSet

    val before = dataFiles()
    val v1 = Snapshots.updateVersionedDV(spark, dir, col("k") % 10 === 0,
      Seq("payload" -> concat(lit("up-"), col("k"))))
    assert(v1 == 1)
    // merge-on-read: every pre-update data file is STILL LIVE (nothing
    // rewritten); the post-images arrived as appended files + one DV
    val after = dataFiles()
    assert(before.subsetOf(after) && after.size > before.size)
    assert(Snapshots.dvFiles(dir, v1).nonEmpty)

    val rows = Snapshots.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.size == 100)
    assert((10L to 100L by 10L).forall(k => rows(k) == s"up-$k"))
    assert(rows(7L) == "v7")
    // time travel past the update
    assert(Snapshots.read(spark, dir, 0).collect()
      .map(_.getString(1)).forall(!_.startsWith("up-")))

    // stored CDF: one update_preimage + one update_postimage per
    // changed key, nothing else
    val cdf = Snapshots.changesCdf(spark, dir, 0, 1, "k").collect()
    val byType = cdf.groupBy(_.getString(1))
    assert(byType.keySet == Set("update_preimage", "update_postimage"))
    assert(byType("update_preimage").map(_.getLong(0)).toSet ==
      (10L to 100L by 10L).toSet)
    assert(byType("update_postimage")
      .map(r => r.getLong(0) -> r.getString(2)).toSet ==
      (10L to 100L by 10L).map(k => k -> s"up-$k").toSet)

    // a SET that changes nothing marks nothing: no-op version, empty
    // feed, no new DV entries
    val dvBytes = Snapshots.dvFiles(dir, v1).size
    val v2 = Snapshots.updateVersionedDV(spark, dir, col("k") === 3L,
      Seq("payload" -> col("payload")))
    assert(v2 == 2)
    assert(Snapshots.changesBetween(spark, dir, 1, 2, "k").isEmpty)
    assert(Snapshots.dvFiles(dir, v2).size == dvBytes)

    // a DV-dead row cannot be re-matched by a later MoR update
    Snapshots.deleteVersionedDV(spark, dir, col("k") === 20L) // v3
    Snapshots.updateVersionedDV(spark, dir, col("k") % 20 === 0,
      Seq("payload" -> lit("XX"))) // v4
    val live4 = Snapshots.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!live4.contains(20L))
    assert(live4(40L) == "XX" && live4(100L) == "XX")
    assert(live4(10L) == "up-10") // untouched by the %20 wave

    // reconcile folds DVs; content identical, refs gone
    val v5 = Snapshots.reconcileDV(spark, dir)
    assert(Snapshots.dvFiles(dir, v5).isEmpty)
    val live5 = Snapshots.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(live5 == live4)

    // A33: manifest-only row counts stay exact through MoR updates
    assert(Snapshots.rowCount(spark, dir, v1) == Some(100L))
    assert(Snapshots.rowCount(spark, dir, 4) == Some(99L))
  }

  test("A75 merge-on-read upsert: DV-mark + append, inserts, verbatim no-ops") {
    import spark.implicits._
    val dir = freshTable()
    Snapshots.init(spark, dir, changeDataFeed = true) // v0
    val before = Snapshots.liveFiles(dir, 0).toSet
    // batch: 2 real updates, 1 verbatim re-upsert, 2 inserts
    val batch = Seq(
      (10L, "UP10", 9L), (20L, "UP20", 9L), // updates
      (30L, "v30", 0L),                     // verbatim — must no-op
      (200L, "NEW200", 1L), (300L, "NEW300", 1L)).toDF("k", "payload", "gen")
    val v1 = Snapshots.mergeVersionedDV(spark, dir, batch, "k")
    assert(v1 == 1)
    // zero rewrites: every v0 file still live; batch appended; one DV
    val after = Snapshots.liveFiles(dir, 1).toSet
    assert(before.subsetOf(after) && after.size > before.size)
    assert(Snapshots.dvFiles(dir, 1).nonEmpty)
    val rows = Snapshots.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.size == 102)
    assert(rows(10L) == "UP10" && rows(20L) == "UP20")
    assert(rows(30L) == "v30" && rows(11L) == "v11")
    assert(rows(200L) == "NEW200" && rows(300L) == "NEW300")
    // stored CDF: exact contract, verbatim key absent
    val cdf = Snapshots.changesCdf(spark, dir, 0, 1, "k").collect()
    val byType = cdf.groupBy(_.getString(1)).view
      .mapValues(_.map(_.getLong(0)).toSet).toMap
    assert(byType("insert") == Set(200L, 300L))
    assert(byType("update_preimage") == Set(10L, 20L))
    assert(byType("update_postimage") == Set(10L, 20L))
    assert(!cdf.exists(_.getLong(0) == 30L))
    // manifest-only count stays exact: 100 + 2 inserts
    assert(Snapshots.rowCount(spark, dir, 1) == Some(102L))
    // schema evolution: a batch with a NEW column widens; old rows
    // null-fill; the DV machinery still applies
    val v2 = Snapshots.mergeVersionedDV(spark, dir,
      Seq((10L, "UP10b", 9L, 0.5)).toDF("k", "payload", "gen", "score"), "k")
    val now = Snapshots.read(spark, dir)
    assert(now.schema.fieldNames.contains("score"))
    assert(now.filter(col("score").isNotNull).count() == 1)
    assert(now.filter(col("k") === 10L).head().getString(1) == "UP10b")
    assert(now.count() == 102)
    // a pure-verbatim batch commits a no-op version with an empty feed
    val v3 = Snapshots.mergeVersionedDV(spark, dir,
      Seq((30L, "v30", 0L)).toDF("k", "payload", "gen"), "k")
    assert(v3 == 3)
    assert(Snapshots.changesBetween(spark, dir, 2, 3, "k").isEmpty)
    // reconcile folds everything; content identical
    val liveBefore = now.collect().map(r => r.getLong(0)).toSet
    val v4 = Snapshots.reconcileDV(spark, dir)
    assert(Snapshots.dvFiles(dir, v4).isEmpty)
    assert(Snapshots.read(spark, dir).collect()
      .map(_.getLong(0)).toSet == liveBefore)
  }

  test("deletion vectors: merge-on-read delete, zero data files written, exact feed") {
    val dir = freshTable()
    Snapshots.init(spark, dir) // v0
    def dataFiles() = Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.endsWith(".parquet") && !n.contains("_dv")).toSet

    val before = dataFiles()
    Snapshots.deleteVersionedDV(spark, dir, col("k") % 10 === 0) // v1
    // merge-on-read: the delete wrote POSITIONS, not rewritten files
    assert(dataFiles() == before)
    assert(Snapshots.read(spark, dir).count() == 90)
    assert(Snapshots.read(spark, dir, 0).count() == 100) // time travel past the DV

    Snapshots.deleteVersionedDV(spark, dir, col("k") % 7 === 0) // v2, accumulates
    val live2 = Snapshots.read(spark, dir).collect().map(_.getLong(0)).toSet
    assert(live2 == (1L to 100L).filterNot(k => k % 10 == 0 || k % 7 == 0).toSet)
    assert(Snapshots.read(spark, dir, 1).count() == 90) // v1 sees only ITS DV set

    // the feed sees merge-on-read deletes though no file changed
    val f01 = Snapshots.changesBetween(spark, dir, 0, 1, "k").collect()
    assert(f01.forall(_.getString(1) == "delete"))
    assert(f01.map(_.getLong(0)).toSet == (10L to 100L by 10L).toSet)
    val f12 = Snapshots.changesBetween(spark, dir, 1, 2, "k").collect()
    assert(f12.map(_.getLong(0)).toSet ==
      (1L to 100L).filter(k => k % 7 == 0 && k % 10 != 0).toSet)

    // copy-on-write through a DV'd file must NOT resurrect dead rows:
    // k=5 lives in the same range file as the dead k=7/10/14/20
    import spark.implicits._
    Snapshots.mergeVersioned(spark, dir,
      Seq((5L, "UP5", 9L)).toDF("k", "payload", "gen"), "k") // v3
    val live3 = Snapshots.read(spark, dir).collect().map(_.getLong(0)).toSet
    assert(live3 == live2)

    // reconcile folds DVs into plain files: same content, refs gone,
    // empty feed across the reconcile commit
    val v4 = Snapshots.reconcileDV(spark, dir)
    assert(v4 == 4)
    assert(Snapshots.dvFiles(dir, v4).isEmpty)
    assert(Snapshots.read(spark, dir).collect().map(_.getLong(0)).toSet == live2)
    assert(Snapshots.changesBetween(spark, dir, 3, 4, "k").isEmpty)

    // restore to the single-DV version: the feed across the restore
    // reports the %7 rows coming BACK as inserts (un-deleted via DV diff)
    val v5 = Snapshots.restore(dir, toV = 1)
    val back = Snapshots.changesBetween(spark, dir, 4, 5, "k").collect()
    val backIns = (1L to 100L).filter(k => k % 7 == 0 && k % 10 != 0).toSet
    assert(back.filter(_.getString(1) == "insert").map(_.getLong(0)).toSet == backIns)
    // ...and the v3 merge of k=5 is un-done too: one update back to "v5"
    assert(back.filter(_.getString(1) == "update").map(_.getLong(0)).toSeq == Seq(5L))
    assert(back.length == backIns.size + 1)
    assert(Snapshots.read(spark, dir, v5).count() == 90)

    // vacuum keeps the DV files retained versions still reference
    Snapshots.vacuum(dir, keepFrom = 5)
    assert(Snapshots.read(spark, dir).count() == 90)
  }

  test("keyed DV delete: stats-pruned position scan, pruned range reads exclude dead rows") {
    import spark.implicits._
    val dir = freshTable()
    Snapshots.init(spark, dir)
    val doomed = Seq(3L, 4L, 97L).toDF("k")
    Snapshots.deleteVersionedKeysDV(spark, dir, doomed, "k")
    assert(Snapshots.read(spark, dir).count() == 97)

    // the DV entries reference ONLY the two range files that can hold
    // the doomed keys (k∈1..25 and k∈76..100) — the stats pruning is
    // visible in the positions themselves
    val dvFiles = Snapshots.dvFiles(dir, 1)
    assert(dvFiles.nonEmpty)
    val dvTouched = spark.read.parquet(dvFiles: _*)
      .select("__dv_file").distinct().count()
    assert(dvTouched == 2, s"expected 2 files in the DV, got $dvTouched")

    // pruned range read applies the DV: k in [1,10] without 3 and 4
    val pruned = Snapshots.readPrunedRange(spark, dir, "k", 1L, 10L)
      .collect().map(_.getLong(0)).toSet
    assert(pruned == Set(1L, 2L, 5L, 6L, 7L, 8L, 9L, 10L))
  }

  test("OCC: merge racing a concurrent DV delete on the same file refuses, never resurrects") {
    import spark.implicits._
    val dir = freshTable()
    Snapshots.init(spark, dir)
    // merge updates k=5 (rewrites the file covering 1..25); mid-flight
    // a DV delete kills k=7 in that same file. Rebasing would publish
    // the pre-DV image of the file — refusal is the only sound outcome.
    val up = Seq((5L, "UP5", 1L)).toDF("k", "payload", "gen")
    // jobs the merge submits once the DV delete has landed: the clash
    // check reads the winner's DV descriptor, so none
    val sc = spark.sparkContext
    val after = s"occ-dv-${java.util.UUID.randomUUID()}"
    val jobsAfter = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == after)
          jobsAfter.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try intercept[java.util.ConcurrentModificationException] {
      Snapshots.mergeVersionedOCC(spark, dir, up, Seq("k"), maxRetries = 5,
        beforeCommit = () => {
          Snapshots.deleteVersionedDV(spark, dir, col("k") === 7L)
          sc.setJobGroup(after, after)
        })
    } finally {
      org.apache.spark.ListenerBusProbe.drain(sc)
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(jobsAfter.get == 0)
    // the DV delete won; the merge is absent; k=7 stays dead
    val m = Snapshots.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!m.contains(7L) && m(5L) == "v5" && m.size == 99)
  }

  test("stored change data: single-step feed reads changed ROWS — data files can be gone") {
    import spark.implicits._
    val dir = freshTable()
    Snapshots.init(spark, dir, changeDataFeed = true) // v0, property ON
    val up = Seq((5L, "UP5", 1L), (5000L, "NEW", 1L), (6L, "v6", 0L))
      .toDF("k", "payload", "gen") // k=6 is a VERBATIM upsert: must drop out
    Snapshots.mergeVersioned(spark, dir, up, "k") // v1
    Snapshots.deleteVersioned(spark, dir, col("k") % 50 === 0) // v2: kills 50,100,5000

    // ground truth from the manifest-diff path BEFORE any tampering:
    // both paths must agree bit-for-bit on every single-step window
    def viaDiff(f: Int, t: Int) = {
      // force the slow path by asking a multi-step window that ends at
      // the same commit is not possible for one step — instead rebuild
      // from the endpoint states directly
      val pre = Snapshots.read(spark, dir, f).collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
      val post = Snapshots.read(spark, dir, t).collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
      val ins = (post.keySet -- pre.keySet).map(k => (k, "insert", Some(post(k))))
      val del = (pre.keySet -- post.keySet).map(k => (k, "delete", None))
      val updd = (pre.keySet & post.keySet).filter(k => pre(k) != post(k))
        .map(k => (k, "update", Some(post(k))))
      (ins ++ del ++ updd).toSet
    }
    def viaFeed(f: Int, t: Int) =
      Snapshots.changesWithPayload(spark, dir, f, t, "k").collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) None else Some((r.getString(2), r.getLong(3))))).toSet
    Snapshots.deleteVersionedDV(spark, dir, col("k") % 7 === 0) // v3: DV path
    val want01 = viaDiff(0, 1); val want12 = viaDiff(1, 2)
    val want23 = viaDiff(2, 3)
    assert(viaFeed(0, 1) == want01 && want01.map(_._1) == Set(5L, 5000L))
    assert(viaFeed(1, 2) == want12 && want12.map(_._1) == Set(50L, 100L, 5000L))
    // the DV delete's combined dv/cdf file serves its feed window too
    assert(viaFeed(2, 3) == want23 && want23.forall(_._2 == "delete"))

    // THE PIN: physically delete every data file of v1's merge window
    // (pre-image AND post-image). The stored change data alone must
    // still serve the single-step feed exactly — proof the fast path
    // never opens a data file.
    val v0Files = Snapshots.read(spark, dir, 0).withColumn("f", input_file_name())
      .select("f").distinct().collect().map(_.getString(0))
    val v1Files = Snapshots.read(spark, dir, 1).withColumn("f", input_file_name())
      .select("f").distinct().collect().map(_.getString(0))
    (v0Files ++ v1Files).foreach { u =>
      Files.deleteIfExists(Paths.get(java.net.URI.create(u))) }
    assert(viaFeed(0, 1) == want01)
    assert(viaFeed(1, 2) == want12)
  }

  test("manifest row counts: count(*) without opening a data file, DV-aware") {
    import spark.implicits._
    val dir = freshTable()
    Snapshots.init(spark, dir) // v0: 100 rows
    Snapshots.mergeVersioned(spark, dir, // v1: +2 inserts, 1 update
      Seq((5L, "UP5", 1L), (200L, "N1", 1L), (300L, "N2", 1L))
        .toDF("k", "payload", "gen"), "k")
    Snapshots.deleteVersionedDV(spark, dir, col("k") % 10 === 0) // v2: −12 (10..100, 200, 300)
    Snapshots.deleteVersioned(spark, dir, col("k") === 5L) // v3: −1, copy-on-write

    def rc(v: Int) = Snapshots.rowCount(spark, dir, v)
    assert(rc(0).contains(100L))
    assert(rc(1).contains(102L))
    // every recorded count must equal the scan truth at every version
    (0 to 3).foreach { v =>
      assert(rc(v).contains(Snapshots.read(spark, dir, v).count()),
        s"manifest count diverges from scan at v$v")
    }

    // THE PIN: remove a LIVE data file from disk; the manifest count
    // still answers — no data file is opened
    val aLive = Snapshots.liveFiles(dir, 3).head
    Files.deleteIfExists(Paths.get(aLive))
    assert(rc(3).isDefined)

    // a clone inherits the counts through the carried stats
    val dst = Files.createTempDirectory("graft_rc_clone").toString + "/t"
    Snapshots.cloneShallow(dir, dst)
    assert(Snapshots.rowCount(spark, dst).contains(rc(3).get))
  }

  test("OCC: UPDATE racing a merge — merge always lands, update wins or loses loudly") {
    import spark.implicits._
    for (round <- 1 to 3) {
      val dir = freshTable()
      Snapshots.init(spark, dir)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      val start = new java.util.concurrent.CountDownLatch(1)
      val fUpd = Future {
        start.await()
        try { Snapshots.updateVersioned(spark, dir,
          col("k") <= 50L, Seq("gen" -> lit(7L))); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      }
      val fMerge = Future {
        start.await()
        Snapshots.mergeVersioned(spark, dir,
          Seq((200L + round, "M", 1L)).toDF("k", "payload", "gen"), "k")
      }
      start.countDown()
      val updLanded = Await.result(fUpd, 120.seconds)
      Await.result(fMerge, 120.seconds) // merge rebases; must not throw
      pool.shutdown()

      val head = Snapshots.read(spark, dir)
      // the merge's insert is ALWAYS present
      assert(head.filter(col("k") === (200L + round)).count() == 1)
      assert(head.count() == 101)
      val updatedRows = head.filter(col("k") <= 50L && col("gen") === 7L).count()
      if (updLanded) assert(updatedRows == 50, s"round $round: update landed but $updatedRows/50 rows show it")
      else assert(updatedRows == 0, s"round $round: update LOST the race yet $updatedRows rows changed")
      // gap-free readable history either way
      (0 to Snapshots.currentVersion(dir)).foreach { v =>
        Snapshots.read(spark, dir, v).count() }
    }
  }

  test("bloom index: point lookups skip files, ingest writers index their staged files") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_bloom_spec").toString + "/t"
    // k range-clusters the files; u is SCATTERED — exactly the column
    // z-order cannot help with and the bloom can
    spark.range(40000)
      .selectExpr("id AS k", "(id * 2654435761) % 1000003 AS u", "id % 97 AS gen")
      .repartitionByRange(8, col("k")).write.parquet(dir)
    Snapshots.init(spark, dir) // v0
    assert(Snapshots.addBloomIndex(spark, dir, "u") == 1)

    def lookupFiles(value: Long): (Long, Long) = {
      val res = Snapshots.readPointLookup(spark, dir, "u", value)
      (res.count(), res.select(input_file_name()).distinct().count())
    }
    // a present value: found, and (with ~1% fpp at 10 bits/row) almost
    // every other file is skipped
    val present = (123L * 2654435761L) % 1000003L
    val (n1, f1) = lookupFiles(present)
    assert(n1 >= 1)
    assert(f1 <= 3, s"bloom skipped nothing: $f1 of 8 files scanned")
    // an absent value: zero rows (usually zero files even open)
    assert(lookupFiles(999999937L)._1 == 0)

    // a merge under the property indexes its STAGED files: the new
    // value is immediately findable, and the index grew
    val refsBefore = Snapshots.bloomIdxFiles(dir, Snapshots.currentVersion(dir)).size
    Snapshots.mergeVersioned(spark, dir,
      Seq((50000L, 424243L, 1L)).toDF("k", "u", "gen"), "k") // v2
    assert(Snapshots.bloomIdxFiles(dir, 2).size > refsBefore)
    val hit = Snapshots.readPointLookup(spark, dir, "u", 424243L).collect()
    assert(hit.map(_.getLong(0)).toSeq == Seq(50000L))

    // a rewrite path (compact) leaves its outputs unindexed — lookups
    // stay EXACT (unindexed files are always kept); reindex restores
    // the skipping and nothing changes logically
    Snapshots.compact(spark, dir) // v3: packs the small files
    assert(Snapshots.readPointLookup(spark, dir, "u", present).count() == n1)
    val v4 = Snapshots.reindexBloom(spark, dir)
    assert(v4 == 4)
    assert(Snapshots.readPointLookup(spark, dir, "u", present).count() == n1)
    assert(Snapshots.readPointLookup(spark, dir, "u", 424243L).count() == 1)
    // reindex with nothing missing is a no-op
    assert(Snapshots.reindexBloom(spark, dir) == 4)
  }

  test("r15: the BATCHED IN-list point lookup equals the union of the " +
      "singles in ONE verdict job + one pruned read, and still prunes") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_bloom_in").toString + "/t"
    spark.range(40000)
      .selectExpr("id AS k", "(id * 2654435761) % 1000003 AS u", "id % 97 AS gen")
      .repartitionByRange(8, col("k")).write.parquet(dir)
    Snapshots.init(spark, dir)
    Snapshots.addBloomIndex(spark, dir, "u")
    val vals = Seq((123L * 2654435761L) % 1000003L,
      (456L * 2654435761L) % 1000003L, 999999937L) // two present + absent
    val batched = Snapshots.readPointLookupIn(spark, dir, "u", vals)
    val singles = vals.map(Snapshots.readPointLookup(spark, dir, "u", _))
      .reduce(_.unionByName(_))
    assert(batched.exceptAll(singles).isEmpty &&
      singles.exceptAll(batched).isEmpty)
    assert(batched.count() >= 2)
    assert(batched.select(input_file_name()).distinct().count() <
      Snapshots.liveFiles(dir, Snapshots.currentVersion(dir)).size,
      "the IN probe must still prune files")
  }

  test("appendVersioned: blind INSERT commits, widens, duplicates allowed, OCC-safe") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val dir = Files.createTempDirectory("graft_append_spec").toString + "/t"
    (1L to 50L).map(k => (k, s"v$k", 0L)).toDF("k", "payload", "gen")
      .repartitionByRange(2, col("k")).write.parquet(dir)
    Snapshots.init(spark, dir) // v0
    val before = Snapshots.liveFiles(dir, 0).map(Snapshots.canonical).toSet
    Snapshots.appendVersioned(spark, dir,
      Seq((100L, "a100", 1L)).toDF("k", "payload", "gen")) // v1
    assert(Snapshots.currentVersion(dir) == 1)
    assert(Snapshots.read(spark, dir).count() == 51)
    // append retires NOTHING — every v0 file stays live
    assert(before.subsetOf(
      Snapshots.liveFiles(dir, 1).map(Snapshots.canonical).toSet))
    // INSERT semantics: a duplicate key lands as a second row
    Snapshots.appendVersioned(spark, dir,
      Seq((100L, "dup", 2L)).toDF("k", "payload", "gen")) // v2
    assert(Snapshots.read(spark, dir).filter(col("k") === 100L).count() == 2)
    // widening append null-fills history, like the widening merge
    Snapshots.appendVersioned(spark, dir,
      Seq((200L, "w", 0L, 9L)).toDF("k", "payload", "gen", "extra")) // v3
    val head = Snapshots.read(spark, dir)
    assert(head.schema.fieldNames.contains("extra"))
    assert(head.filter(col("extra").isNotNull).count() == 1)

    // OCC: an append racing a keyed merge — appends commute with
    // everything, so BOTH must land whatever the commit order
    import java.util.concurrent.{CountDownLatch, Executors}
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(
        Executors.newFixedThreadPool(2))
    (1 to 3).foreach { round =>
      val start = new CountDownLatch(1)
      val fApp = Future {
        start.await()
        Snapshots.appendVersioned(spark, dir,
          Seq((1000L + round, "app", 5L, 0L))
            .toDF("k", "payload", "gen", "extra"))
      }
      val fMerge = Future {
        start.await()
        Snapshots.mergeVersioned(spark, dir,
          Seq((2000L + round, "mrg", 6L, 0L))
            .toDF("k", "payload", "gen", "extra"), "k")
      }
      start.countDown()
      Await.result(fApp, 120.seconds)
      Await.result(fMerge, 120.seconds)
      val now = Snapshots.read(spark, dir)
      assert(now.filter(col("k") === (1000L + round)).count() == 1,
        s"round $round: append lost the race")
      assert(now.filter(col("k") === (2000L + round)).count() == 1,
        s"round $round: merge lost the race")
      (0 to Snapshots.currentVersion(dir)).foreach { v =>
        Snapshots.read(spark, dir, v).count() } // gap-free history
    }

    // CHECK constraints gate the batch like every other writer
    Snapshots.addConstraint(spark, dir, "gen_nonneg", "gen >= 0")
    intercept[IllegalArgumentException] {
      Snapshots.appendVersioned(spark, dir,
        Seq((999L, "bad", -1L, 0L)).toDF("k", "payload", "gen", "extra"))
    }
  }

  test("multi-column bloom: two indexes prune independently, ingest feeds both") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_bloom_multi").toString + "/t"
    // u and w are BOTH scattered relative to the k-range layout — each
    // needs its own bloom; a probe on one must not consult the other
    spark.range(20000)
      .selectExpr("id AS k", "(id * 2654435761) % 1000003 AS u",
        "(id * 40503) % 99991 AS w")
      .repartitionByRange(8, col("k")).write.parquet(dir)
    Snapshots.init(spark, dir) // v0
    assert(Snapshots.addBloomIndex(spark, dir, "u") == 1)
    assert(Snapshots.addBloomIndex(spark, dir, "w") == 2)
    // re-adding an already-indexed column refuses
    intercept[IllegalArgumentException] {
      Snapshots.addBloomIndex(spark, dir, "u") }

    def lookupFiles(c: String, value: Long): (Long, Long) = {
      val res = Snapshots.readPointLookup(spark, dir, c, value)
      (res.count(), res.select(input_file_name()).distinct().count())
    }
    val uVal = (123L * 2654435761L) % 1000003L
    val wVal = (77L * 40503L) % 99991L
    val (un, uf) = lookupFiles("u", uVal)
    assert(un >= 1 && uf <= 3, s"u-probe: $un rows from $uf of 8 files")
    val (wn, wf) = lookupFiles("w", wVal)
    assert(wn >= 1 && wf <= 3, s"w-probe: $wn rows from $wf of 8 files")
    // absent on either column: empty
    assert(lookupFiles("u", 999999937L)._1 == 0)
    assert(lookupFiles("w", 999999937L)._1 == 0)

    // a merge indexes its staged files for BOTH columns
    Snapshots.mergeVersioned(spark, dir,
      Seq((50000L, 424243L, 525253L)).toDF("k", "u", "w"), "k") // v3
    assert(Snapshots.readPointLookup(spark, dir, "u", 424243L)
      .collect().map(_.getLong(0)).toSeq == Seq(50000L))
    assert(Snapshots.readPointLookup(spark, dir, "w", 525253L)
      .collect().map(_.getLong(0)).toSeq == Seq(50000L))

    // the connector's FileIndex consults the right bloom per conjunct
    def scanned(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
          sc.metrics("numFiles").value }.sum
    }
    val byU = spark.read.format("graft").load(dir).filter(col("u") === uVal)
    assert(scanned(byU) <= 4, "u-probe through the connector skipped nothing")
    val byW = spark.read.format("graft").load(dir).filter(col("w") === wVal)
    assert(scanned(byW) <= 4, "w-probe through the connector skipped nothing")
    // reindex after a compact restores entries for both columns
    Snapshots.compact(spark, dir) // v4
    val v5 = Snapshots.reindexBloom(spark, dir)
    assert(v5 == 5)
    assert(Snapshots.readPointLookup(spark, dir, "u", uVal).count() == un)
    assert(Snapshots.readPointLookup(spark, dir, "w", wVal).count() == wn)
  }

  test("bloom index refuses unkeyable and missing columns up front; " +
      "strings index hashed (r12)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_bloom_badcol").toString + "/t"
    Seq((1L, "a", 0.5), (2L, "b", 1.5)).toDF("k", "s", "d")
      .write.parquet(dir)
    Snapshots.init(spark, dir)
    // a double column has no stable integral key form: the property
    // would commit with a useless index and every later point lookup
    // silently degrades to a full scan — refuse instead
    intercept[IllegalArgumentException] {
      Snapshots.addBloomIndex(spark, dir, "d") }
    intercept[IllegalArgumentException] {
      Snapshots.addBloomIndex(spark, dir, "nope") }
    // the refusals committed nothing
    assert(Snapshots.currentVersion(dir) == 0)
    assert(Snapshots.bloomColsOf(dir, 0).isEmpty)
    // r12: STRING columns index the xxhash64 of the value
    val v1 = Snapshots.addBloomIndex(spark, dir, "s")
    assert(v1 == 1 && Snapshots.bloomColsOf(dir, 1).map(_._1) == Seq("s"))
    assert(Snapshots.readPointLookup(spark, dir, "s", "a").count() == 1)
    assert(Snapshots.readPointLookup(spark, dir, "s", "zz").count() == 0)
  }

  test("vacuum dry run plans without touching; time-based retention uses commit timestamps") {
    import spark.implicits._
    val dir = freshTable()
    Snapshots.init(spark, dir) // v0
    Snapshots.deleteVersioned(spark, dir, col("k") <= 10L) // v1
    Thread.sleep(20)
    val betweenV1V2 = System.currentTimeMillis()
    Thread.sleep(20)
    Snapshots.mergeVersioned(spark, dir,
      Seq((500L, "NEW", 1L)).toDF("k", "payload", "gen"), "k") // v2

    // dry run: lists the reclaim set, deletes NOTHING
    val plan = Snapshots.vacuumDryRun(dir, keepFrom = 2)
    assert(plan.nonEmpty)
    plan.foreach(f => assert(Files.exists(Paths.get(f)), s"dry run deleted $f"))
    assert(Snapshots.read(spark, dir, 0).count() == 100) // v0 intact

    // SQL dry-run form returns the same plan
    // (plain session lacks the parser; API-level equality suffices here)

    // the real vacuum reclaims exactly the planned files
    val reclaimed = Snapshots.vacuum(dir, keepFrom = 2)
    assert(reclaimed == plan.size)
    plan.foreach(f => assert(!Files.exists(Paths.get(f)), s"vacuum kept $f"))

    // time-based retention: a fresh history, cutoff between v1 and v2
    // resolves to keepFrom = 1 (v1 was in force then) — v0 dropped
    val dir2 = freshTable()
    Snapshots.init(spark, dir2) // v0
    Thread.sleep(20)
    Snapshots.deleteVersioned(spark, dir2, col("k") <= 5L) // v1
    Thread.sleep(20)
    val cut = System.currentTimeMillis()
    Thread.sleep(20)
    Snapshots.mergeVersioned(spark, dir2,
      Seq((600L, "X", 1L)).toDF("k", "payload", "gen"), "k") // v2
    Snapshots.vacuumBefore(dir2, cut)
    assert(!Snapshots.hasVersion(dir2, 0))
    assert(Snapshots.hasVersion(dir2, 1) && Snapshots.hasVersion(dir2, 2))
    assert(Snapshots.read(spark, dir2, 1).count() == 95)

    // a cutoff before the table existed is a safe no-op
    assert(Snapshots.vacuumBefore(dir2, 1L) == 0)
    assert(Snapshots.hasVersion(dir2, 1))
  }

  test("updateVersioned: copy-on-write SET over the pre-image, exact feed, time travel") {
    val dir = freshTable()
    Snapshots.init(spark, dir) // v0
    // SET expressions see the PRE-update row: payload derives from the
    // old payload, gen increments
    val v1 = Snapshots.updateVersioned(spark, dir, col("k") % 10 === 0,
      Seq("payload" -> concat(lit("u:"), col("payload")),
        "gen" -> (col("gen") + 1L)))
    assert(v1 == 1)
    val head = Snapshots.read(spark, dir)
    assert(head.count() == 100) // UPDATE never changes cardinality
    val updated = head.filter(col("k") % 10 === 0)
      .select("k", "payload", "gen").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(updated == (10L to 100L by 10L).map(k => (k, s"u:v$k", 1L)).toSet)
    assert(head.filter(col("k") % 10 =!= 0 && col("gen") =!= 0L).isEmpty)
    // time travel: v0 is bit-exact pre-update
    assert(Snapshots.read(spark, dir, 0).filter(col("k") === 10L)
      .select("payload").head().getString(0) == "v10")
    // the feed across the update is exactly the 10 changed keys
    val ch = Snapshots.changesBetween(spark, dir, 0, 1, "k").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ch == (10L to 100L by 10L).map(_ -> "update").toMap, s"feed: $ch")

    // copy-on-write is file-scoped: a single-key update rewrites ONE of
    // the four range files — three of v1's live files survive into v2
    val liveV1 = Snapshots.liveFiles(dir, 1).toSet
    Snapshots.updateVersioned(spark, dir, col("k") === 5L,
      Seq("payload" -> lit("five"))) // v2
    assert(Snapshots.liveFiles(dir, 2).toSet.intersect(liveV1).size == liveV1.size - 1)

    // a SET to the current value is a no-op the feed drops
    Snapshots.updateVersioned(spark, dir, col("k") === 5L,
      Seq("payload" -> lit("five"))) // v3: values unchanged
    assert(Snapshots.changesBetween(spark, dir, 2, 3, "k").isEmpty)

    // predicate matching nothing: clean no-op commit
    val v4 = Snapshots.updateVersioned(spark, dir, col("k") > 10000L,
      Seq("gen" -> lit(99L)))
    assert(v4 == 4 && Snapshots.changesBetween(spark, dir, 3, 4, "k").isEmpty)

    // unknown SET column refuses loudly
    intercept[IllegalArgumentException] {
      Snapshots.updateVersioned(spark, dir, col("k") === 1L,
        Seq("nope" -> lit(1)))
    }
  }

  test("updateVersioned: CHECK constraints on post-image, stored change data, DV rows stay dead") {
    import spark.implicits._
    val dir = freshTable()
    Snapshots.init(spark, dir, changeDataFeed = true) // v0, A31 ON
    // DV-delete k=20, then update the surrounding band: the dead row
    // must neither be updated nor resurrected by the rewrite
    Snapshots.deleteVersionedDV(spark, dir, col("k") === 20L) // v1
    Snapshots.updateVersioned(spark, dir,
      col("k") >= 15L && col("k") <= 25L, Seq("gen" -> lit(7L))) // v2
    val head = Snapshots.read(spark, dir)
    assert(head.count() == 99)
    assert(head.filter(col("k") === 20L).isEmpty)
    assert(head.filter(col("gen") === 7L).count() == 10) // 15..25 minus 20

    // the update commit recorded its change rows (A31): the
    // single-step feed serves the changed-ROWS path, and its content
    // matches the manifest-diff ground truth exactly
    assert(Snapshots.cdfRecorded(dir, 2))
    val ch = Snapshots.changesWithPayload(spark, dir, 1, 2, "k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSet
    assert(ch == ((15L to 25L).toSet - 20L).map(k => (k, "update", 7L)),
      s"feed: $ch")

    // a post-image violating a CHECK refuses before staging
    Snapshots.addConstraint(spark, dir, "gen_bound", "gen < 100") // v3
    val filesBefore = Files.list(Paths.get(dir)).iterator().asScala.size
    intercept[IllegalArgumentException] {
      Snapshots.updateVersioned(spark, dir, col("k") === 1L,
        Seq("gen" -> lit(100L)))
    }
    assert(Snapshots.currentVersion(dir) == 3)
    assert(Files.list(Paths.get(dir)).iterator().asScala.size == filesBefore)
  }

  test("CHECK constraints: write-time enforcement, carried by every commit, droppable") {
    import spark.implicits._
    val dir = freshTable()
    Snapshots.init(spark, dir) // v0

    // adding a constraint the existing rows violate refuses
    intercept[IllegalArgumentException] {
      Snapshots.addConstraint(spark, dir, "k_small", "k < 50")
    }
    assert(Snapshots.currentVersion(dir) == 0) // nothing committed

    Snapshots.addConstraint(spark, dir, "k_pos", "k > 0") // v1
    Snapshots.addConstraint(spark, dir, "payload_ok", "length(payload) >= 2") // v2

    // a violating batch refuses BEFORE staging: version unchanged and
    // no orphan parquet appears in the table dir
    val filesBefore = Files.list(Paths.get(dir)).iterator().asScala.size
    intercept[IllegalArgumentException] {
      Snapshots.mergeVersioned(spark, dir,
        Seq((-1L, "BAD", 1L)).toDF("k", "payload", "gen"), "k")
    }
    assert(Snapshots.currentVersion(dir) == 2)
    assert(Files.list(Paths.get(dir)).iterator().asScala.size == filesBefore)

    // a valid batch lands; the constraints survive that commit (carried)
    Snapshots.mergeVersioned(spark, dir,
      Seq((200L, "OK", 1L)).toDF("k", "payload", "gen"), "k") // v3
    intercept[IllegalArgumentException] {
      Snapshots.mergeVersioned(spark, dir,
        Seq((201L, "X", 1L)).toDF("k", "payload", "gen"), "k") // len 1 < 2
    }

    // NULL passes (ANSI CHECK): a batch missing `payload` null-fills it
    Snapshots.mergeVersioned(spark, dir,
      Seq((202L, 1L)).toDF("k", "gen"), "k") // v4

    // drop, then the formerly-violating batch is admitted
    Snapshots.dropConstraint(dir, "payload_ok") // v5
    Snapshots.mergeVersioned(spark, dir,
      Seq((201L, "X", 1L)).toDF("k", "payload", "gen"), "k") // v6
    // k_pos still in force
    intercept[IllegalArgumentException] {
      Snapshots.mergeVersioned(spark, dir,
        Seq((-2L, "BAD", 1L)).toDF("k", "payload", "gen"), "k")
    }
    assert(Snapshots.read(spark, dir).count() == 103)
  }

  test("delta-encoded log: long commit chain bit-exact, checkpoints bound chains") {
    import spark.implicits._
    val dir = freshTable()
    Snapshots.init(spark, dir) // v0: full by construction
    // 14 single-key merges: v1..v14. Each rewrites ~1 of 4 files, so
    // the diff beats the snapshot and the commit delta-encodes —
    // except v10, the forced checkpoint.
    (1 to 14).foreach { i =>
      Snapshots.mergeVersioned(spark, dir,
        Seq((i.toLong, s"GEN$i", i.toLong), (1000L + i, s"NEW$i", i.toLong))
          .toDF("k", "payload", "gen"), "k")
    }
    assert(Snapshots.currentVersion(dir) == 14)
    // encoding shape: small commits are deltas, the checkpoint is full
    assert(!Snapshots.isDeltaManifest(dir, 0))
    assert(!Snapshots.isDeltaManifest(dir, Snapshots.CheckpointEvery))
    assert((1 to 14).filterNot(_ == Snapshots.CheckpointEvery)
      .forall(Snapshots.isDeltaManifest(dir, _)),
      "single-file commits over a multi-file table should delta-encode")
    // every version reads exactly: key i carries GENi iff i <= v,
    // 1000+i present iff i <= v
    Seq(0, 1, 5, 9, 10, 11, 14).foreach { v =>
      val m = Snapshots.read(spark, dir, v).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(m.size == 100 + v, s"v$v size")
      (1 to 14).foreach { i =>
        assert(m(i.toLong) == (if (i <= v) s"GEN$i" else s"v$i"), s"v$v key $i")
        assert(m.contains(1000L + i) == (i <= v), s"v$v new-key $i")
      }
    }
    // metadata-only count(*) and the change feed work across the
    // delta/checkpoint boundary (stats + CDF lines ride the diff)
    assert(Snapshots.rowCount(spark, dir, 14).contains(114L))
    val feed = Snapshots.changesBetween(spark, dir, 9, 11, "k")
    val feedKeys = feed.select("k").collect().map(_.getLong(0)).toSet
    assert(Set(10L, 1010L, 11L, 1011L).subsetOf(feedKeys))
    // TIMESTAMP AS OF resolves through resolved ts lines (one per version)
    val t9 = Snapshots.commitTime(dir, 9).get
    assert(Snapshots.versionAsOfTime(dir, t9) == 9)
    // explicit CHECKPOINT: the head delta materializes in place —
    // content identical, chain length one, idempotent
    val headBefore = Snapshots.read(spark, dir, 14).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(Snapshots.isDeltaManifest(dir, 14))
    assert(Snapshots.checkpoint(dir))
    assert(!Snapshots.isDeltaManifest(dir, 14))
    assert(!Snapshots.checkpoint(dir)) // already full
    assert(Snapshots.read(spark, dir, 14).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq == headBefore)
  }

  test("vacuum materializes retained deltas whose base is dropped") {
    import spark.implicits._
    val dir = freshTable()
    Snapshots.init(spark, dir)
    (1 to 14).foreach { i =>
      Snapshots.mergeVersioned(spark, dir,
        Seq((i.toLong, s"GEN$i", i.toLong)).toDF("k", "payload", "gen"), "k")
    }
    // pin a mid-chain DELTA version; drop everything below v12
    assert(Snapshots.isDeltaManifest(dir, 6))
    Refs.tag(dir, "rel", 6)
    Snapshots.vacuum(dir, 12)
    // the pinned version and the retention floor were delta manifests
    // whose bases are gone: both must now be self-contained fulls
    assert(!Snapshots.isDeltaManifest(dir, 6))
    assert(!Snapshots.isDeltaManifest(dir, 12))
    // and still read exactly
    val m6 = Snapshots.read(spark, dir, 6).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m6.size == 100 && m6(3L) == "GEN3" && m6(7L) == "v7")
    Seq(12, 13, 14).foreach { v =>
      val m = Snapshots.read(spark, dir, v).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(m(v.toLong) == s"GEN$v", s"v$v")
      assert(m.size == 100)
    }
    // dropped history is gone; a second vacuum over the holes is clean
    assert(!Snapshots.hasVersion(dir, 5))
    Snapshots.vacuum(dir, 12)
    assert(Snapshots.read(spark, dir, 14).count() == 100)
  }

  test("r9: vacuum vs concurrent readers — every retained version resolves, zero failures") {
    import spark.implicits._
    // The writer/writer race is OCC's (A25); this pins the OTHER race
    // the r8 verdict flagged: a reader resolving a RETAINED version's
    // delta-manifest chain while vacuum (a) materializes retained
    // deltas whose base it is about to drop and (b) deletes the bases
    // and their data files. One MUTATOR thread interleaves merges and
    // vacuums (vacuum's documented single-writer contract: no merge in
    // flight DURING a vacuum — but readers are unconstrained); two
    // reader threads hammer versioned reads the whole time. The
    // retention contract is coordinated the way a real deployment does
    // it — vacuum never targets past a version a reader has already
    // leased — so any read failure for a version >= the vacuum floor
    // is a genuine resolution bug, not a scheduling artifact.
    val dir = Files.createTempDirectory("graft_vac_race").toString + "/t"
    (1L to 200L).map(k => (k, s"v$k")).toDF("k", "payload")
      .repartitionByRange(4, col("k")).write.parquet(dir)
    Snapshots.init(spark, dir)

    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val lock = new Object
    var floor = 0                           // next vacuum's minimum keepFrom
    val outstanding = scala.collection.mutable.Map[Int, Int]() // v -> leases
    @volatile var mutating = true

    def lease(): Int = lock.synchronized {
      val cur = Snapshots.currentVersion(dir)
      val v = floor + scala.util.Random.nextInt(cur - floor + 1)
      outstanding(v) = outstanding.getOrElse(v, 0) + 1
      v
    }
    def release(v: Int): Unit = lock.synchronized {
      val n = outstanding(v) - 1
      if (n == 0) outstanding.remove(v) else outstanding(v) = n
    }

    def thread(name: String)(body: => Unit): Thread = {
      val t = new Thread(() =>
        try body catch { case e: Throwable => errs.add(e) }, name)
      t.start(); t
    }

    // mutator: 28 delta commits (through 2+ checkpoint boundaries,
    // so vacuum has bases to drop AND retained deltas to materialize),
    // a lease-respecting vacuum every 4th commit
    val mutator = thread("mutator") {
      try {
        for (i <- 1 to 28) {
          val batch = (1 to 8).map(j => (((i * 7 + j) % 200 + 1).toLong, s"G$i"))
            .toDF("k", "payload")
          Snapshots.mergeVersioned(spark, dir, batch, "k")
          if (i % 4 == 0) {
            val target = lock.synchronized {
              val cur = Snapshots.currentVersion(dir)
              val cap = (outstanding.keys ++ Seq(cur - 1)).min
              val t = math.max(floor, math.min(cur - 1, cap))
              floor = t; t
            }
            if (target > 0) Snapshots.vacuum(dir, target)
          }
        }
      } finally mutating = false
    }
    val readers = (1 to 2).map { r =>
      thread(s"reader-$r") {
        while (mutating) {
          val v = lease()
          try {
            val n = Snapshots.read(spark, dir, v).count()
            assert(n == 200, s"v$v resolved to $n rows")
          } finally release(v)
        }
      }
    }
    mutator.join(180000); readers.foreach(_.join(180000))
    if (!errs.isEmpty) {
      errs.forEach(_.printStackTrace())
      fail(s"${errs.size} concurrent failures; first: ${errs.peek}")
    }
    assert(floor > 0, "vacuum never ran — the race was not exercised")
    // post-race: the floor version and the head still resolve exactly
    assert(Snapshots.read(spark, dir, Snapshots.currentVersion(dir)).count() == 200)
    assert(Snapshots.read(spark, dir, floor).count() == 200)
  }

  test("r13 dup-key refusal: mergeVersioned and mergeVersionedDV refuse " +
      "duplicate source keys (MERGE cardinality, both paths symmetric)") {
    import spark.implicits._
    val dir = freshTable()
    Snapshots.init(spark, dir)
    val dup = Seq((10L, "a", 1L), (10L, "b", 1L), (11L, "c", 1L))
      .toDF("k", "payload", "gen")
    val e1 = intercept[IllegalArgumentException] {
      Snapshots.mergeVersioned(spark, dir, dup, "k")
    }
    assert(e1.getMessage.contains("duplicate"))
    val e2 = intercept[IllegalArgumentException] {
      Snapshots.mergeVersionedDV(spark, dir, dup, "k")
    }
    assert(e2.getMessage.contains("duplicate"))
    // neither attempt committed a version or leaked staged files
    assert(Snapshots.currentVersion(dir) == 0)
    assert(Snapshots.strayFiles(dir).isEmpty)
    // a clean batch still merges on both paths afterwards
    assert(Snapshots.mergeVersioned(spark, dir,
      Seq((10L, "x", 1L)).toDF("k", "payload", "gen"), "k") == 1)
    assert(Snapshots.mergeVersionedDV(spark, dir,
      Seq((11L, "y", 1L)).toDF("k", "payload", "gen"), "k") == 2)
    assert(Snapshots.read(spark, dir).filter(col("k") === 10L)
      .head().getString(1) == "x")
  }

  test("r13 MoR batch materialized once: a non-deterministic source " +
      "commits mutually consistent appends, DV marks, and change rows") {
    import spark.implicits._
    val dir = freshTable()
    Snapshots.init(spark, dir, changeDataFeed = true) // v0
    // payload is random per evaluation: without the one-evaluation pin
    // the appended file, the DV pre-images, and the CDF rows could each
    // see a DIFFERENT payload for the same key
    val batch = (1L to 20L).toDF("k")
      .withColumn("payload", concat(lit("r"), rand().cast("string")))
      .withColumn("gen", lit(9L))
    val v1 = Snapshots.mergeVersionedDV(spark, dir, batch, "k")
    val live = Snapshots.read(spark, dir, v1)
      .filter(col("k") <= 20L).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(live.size == 20 && live.values.forall(_.startsWith("r")))
    // the CDF post-image must be EXACTLY the payload that landed live
    val cdf = Snapshots.changesCdf(spark, dir, 0, v1, "k")
      .filter(col("_change_type") === "update_postimage").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(cdf == live,
      "change-feed post-images diverged from the live rows — the batch was re-evaluated")
    // and the DV marks retired exactly the 20 pre-image rows: total
    // row count is unchanged (20 updates, 0 inserts)
    assert(Snapshots.rowCount(spark, dir, v1) == Some(100L))
    assert(Snapshots.read(spark, dir, v1).count() == 100L)
  }
}
