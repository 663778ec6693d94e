package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.sources.Snapshots
import graft.streaming.UpsertSink

/** A51 — idempotent writes (Delta's SetTransaction contract): a commit
  * tagged (txnAppId, txnVersion) no-ops when the mark is already
  * recorded, and the mark rides the SAME manifest CAS as the data. The
  * load-bearing pins: exact-replay no-op, per-app independence,
  * monotonic marks, the concurrent same-lineage race resolving to ONE
  * application, the bootstrap carrying the mark, and the streaming
  * sink's crash window (commit landed, sidecar marker lost) closing.
  */
class TxnSpec extends GraftSuite {

  private def tmp(): String =
    Files.createTempDirectory("graft_txnspec").toString

  private def ordersDf = Tables.orders(spark, sf)
    .select("o_orderkey", "o_custkey", "o_totalprice")

  private def wave(m: Int) = ordersDf
    .filter(col("o_orderkey") % 10 === m % 10)
    .withColumn("o_totalprice", col("o_totalprice") + m * 1000.0)

  test("replayed merge no-ops; marks are monotonic and per-app") {
    val p = tmp()
    Snapshots.overwriteVersioned(spark, p, ordersDf)
    val v1 = Snapshots.mergeVersioned(spark, p, wave(1),
      Seq("o_orderkey"), Some(("jobA", 1L)))
    assert(v1 == 1 && Snapshots.txnVersionOf(p, "jobA").contains(1L))
    // exact replay: no new version, no content change
    val before = graftSum(p)
    assert(Snapshots.mergeVersioned(spark, p, wave(1),
      Seq("o_orderkey"), Some(("jobA", 1L))) == v1)
    assert(Snapshots.currentVersion(p) == v1 && graftSum(p) == before)
    // next batch applies; a LATE lower version also no-ops
    val v2 = Snapshots.mergeVersioned(spark, p, wave(2),
      Seq("o_orderkey"), Some(("jobA", 2L)))
    assert(v2 == 2)
    assert(Snapshots.mergeVersioned(spark, p, wave(1),
      Seq("o_orderkey"), Some(("jobA", 1L))) == v2)
    // a DIFFERENT app with the same numbers is independent
    val v3 = Snapshots.mergeVersioned(spark, p, wave(3),
      Seq("o_orderkey"), Some(("jobB", 1L)))
    assert(v3 == 3 && Snapshots.txnVersionOf(p, "jobA").contains(2L) &&
      Snapshots.txnVersionOf(p, "jobB").contains(1L))
    // unrelated untagged commits carry the marks forward
    Snapshots.deleteVersioned(spark, p, col("o_orderkey") % 97 === 5)
    assert(Snapshots.txnVersionOf(p, "jobA").contains(2L))
  }

  private def graftSum(p: String): java.math.BigDecimal =
    spark.read.format("graft").load(p)
      .agg(sum(col("o_totalprice").cast("decimal(20,2)")))
      .head().getDecimal(0)

  test("concurrent same-lineage writers apply the batch exactly once") {
    val p = tmp()
    Snapshots.overwriteVersioned(spark, p, ordersDf)
    val batch = wave(4)
    // writer A stages, then — before A's commit — writer B lands the
    // SAME (app, ver): A's CAS loses, and the retry must see B's mark
    // and no-op instead of rebasing the batch in twice
    val vA = Snapshots.mergeVersionedOCC(spark, p, batch, Seq("o_orderkey"),
      maxRetries = 5,
      beforeCommit = () => {
        Snapshots.mergeVersioned(spark, p, batch, Seq("o_orderkey"),
          Some(("racer", 7L))); ()
      },
      txn = Some(("racer", 7L)))
    assert(vA == 1, s"A must adopt B's commit, got $vA")
    assert(Snapshots.currentVersion(p) == 1)
    assert(Snapshots.txnVersionOf(p, "racer").contains(7L))
    // the wave landed exactly once
    val expect = ordersDf
      .join(batch.select(col("o_orderkey").as("__k"),
        col("o_totalprice").as("__p")),
        col("o_orderkey") === col("__k"), "left_outer")
      .agg(sum(coalesce(col("__p"), col("o_totalprice"))
        .cast("decimal(20,2)"))).head().getDecimal(0)
    assert(graftSum(p) == expect)
  }

  test("idempotent append bootstraps v0 WITH the mark") {
    val p = tmp()
    val v0 = Snapshots.appendVersioned(spark, p,
      ordersDf.filter(col("o_orderkey") % 5 === 0), Some(("boot", 0L)))
    assert(v0 == 0 && Snapshots.txnVersionOf(p, "boot").contains(0L))
    // crash-replay of batch 0 against the now-existing table: no-op
    assert(Snapshots.appendVersioned(spark, p,
      ordersDf.filter(col("o_orderkey") % 5 === 0), Some(("boot", 0L))) == 0)
    assert(Snapshots.currentVersion(p) == 0)
    val n0 = spark.read.format("graft").load(p).count()
    val v1 = Snapshots.appendVersioned(spark, p,
      ordersDf.filter(col("o_orderkey") % 5 === 1), Some(("boot", 1L)))
    assert(v1 == 1)
    assert(spark.read.format("graft").load(p).count() ==
      n0 + ordersDf.filter(col("o_orderkey") % 5 === 1).count())
  }

  test("bootstrap crash window: a replayed v0 append deletes its own " +
      "orphans and adopts pre-existing user parquet") {
    val p = tmp()
    val batch = ordersDf.filter(col("o_orderkey") % 7 === 0)
    val user = ordersDf.filter(col("o_orderkey") % 7 === 1)
    // pre-existing PLAIN parquet in the dir = user data the bootstrap
    // ADOPTS (init semantics) — it must survive the orphan cleanup
    user.write.mode("append").parquet(p)
    // emulate attempt #1 dying between its data write and the v0
    // commit: its staged files (tagged with the mark's deterministic
    // prefix) are on disk, no manifest exists
    val scratch = tmp()
    batch.write.mode("overwrite").parquet(scratch)
    val tag = "txnb" + Integer.toHexString(("boot2" + "@" + 0L).##) + "_"
    val s = Files.list(Paths.get(scratch))
    try s.iterator().forEachRemaining { q =>
      val n = q.getFileName.toString
      if (n.endsWith(".parquet"))
        Files.copy(q, Paths.get(p).resolve(s"v0_$tag$n"))
    } finally s.close()
    // the replay: currentVersion is still <0, so the mark check cannot
    // help — the orphan cleanup must prevent the batch landing twice
    val v0 = Snapshots.appendVersioned(spark, p, batch,
      Some(("boot2", 0L)))
    assert(v0 == 0 && Snapshots.txnVersionOf(p, "boot2").contains(0L))
    val got = spark.read.format("graft").load(p).count()
    assert(got == batch.count() + user.count(),
      s"expected exactly one batch copy plus the adopted user rows, got $got")
    // post-commit replay: the mark no-ops as before
    assert(Snapshots.appendVersioned(spark, p, batch,
      Some(("boot2", 0L))) == 0)
    assert(spark.read.format("graft").load(p).count() == got)
  }

  test("r14 hidden root: mergeIdempotent — replays no-op per dir, a " +
      "moving row's delete+reroute lands exactly once, mor form too") {
    import spark.implicits._
    val root = tmp() + "/t"
    graft.sources.HiddenPartitions.init(spark, root,
      (1L to 200L).map(k => (k, k % 4, s"v$k")).toDF("k", "g", "payload"),
      graft.sources.ModTransform("g", 4))
    def dirVersions(): Map[String, Int] =
      graft.sources.HiddenPartitions.epochGroups(root).flatMap(_._3)
        .map { case (v, d) => v -> Snapshots.currentVersion(d) }.toMap
    // k=1 MOVES (g 1→3: delete in its old dir + reroute), k=10 stays
    val w1 = Seq((1L, 3L, "M1"), (10L, 2L, "U10")).toDF("k", "g", "payload")
    graft.sources.HiddenPartitions.mergeIdempotent(spark, root, w1, "k",
      "hidapp", 1L)
    val after1 = dirVersions()
    graft.sources.HiddenPartitions.mergeIdempotent(spark, root, w1, "k",
      "hidapp", 1L)
    assert(dirVersions() == after1, "a verbatim replay must no-op per dir")
    val rows = graft.sources.HiddenPartitions.read(spark, root)
      .select("k", "g", "payload").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.length == 200, "the moved key must not duplicate")
    assert(rows.filter(_._1 == 1L).toSeq == Seq((1L, 3L, "M1")))
    assert(rows.find(_._1 == 10L).contains((10L, 2L, "U10")))
    // an OLDER replay after a newer wave still no-ops (monotonic marks)
    val w2 = Seq((10L, 2L, "U10b")).toDF("k", "g", "payload")
    graft.sources.HiddenPartitions.mergeIdempotent(spark, root, w2, "k",
      "hidapp", 2L)
    val after2 = dirVersions()
    graft.sources.HiddenPartitions.mergeIdempotent(spark, root, w1, "k",
      "hidapp", 1L)
    assert(dirVersions() == after2, "an older (app, ver) must no-op")
    assert(graft.sources.HiddenPartitions.read(spark, root)
      .filter(col("k") === 10L).select("payload").head()
      .getString(0) == "U10b")
    // MoR form: DV-marked commit, replay no-ops, data exact
    val w3 = Seq((20L, 0L, "U20")).toDF("k", "g", "payload")
    graft.sources.HiddenPartitions.mergeIdempotent(spark, root, w3, "k",
      "hidapp", 3L, mor = true)
    val after3 = dirVersions()
    graft.sources.HiddenPartitions.mergeIdempotent(spark, root, w3, "k",
      "hidapp", 3L, mor = true)
    assert(dirVersions() == after3, "a replayed MoR wave must no-op")
    val now = graft.sources.HiddenPartitions.read(spark, root)
    assert(now.count() == 200)
    assert(now.filter(col("k") === 20L).select("payload").head()
      .getString(0) == "U20")
  }

  test("r14 partitioned root: mergePartitionedIdempotent — per-dir " +
      "replay no-op, the NEW partition bootstraps WITH the mark, mor") {
    import spark.implicits._
    val root = tmp() + "/t"
    graft.sources.PartitionedSnapshots.init(spark, root,
      (1L to 300L).map(k => (k, s"p${k % 3}", k * 1.0))
        .toDF("k", "part", "x"), "part")
    val w1 = Seq((1L, "p1", 111.0), (2L, "p2", 222.0), (500L, "pNEW", 5.0))
      .toDF("k", "part", "x")
    val r1 = graft.sources.PartitionedSnapshots.mergePartitionedIdempotent(
      spark, root, w1, "k", "part", "papp", 1L)
    assert(r1.keySet == Set("p1", "p2", "pNEW"))
    val vers = graft.sources.PartitionedSnapshots.versions(root)
    graft.sources.PartitionedSnapshots.mergePartitionedIdempotent(
      spark, root, w1, "k", "part", "papp", 1L)
    assert(graft.sources.PartitionedSnapshots.versions(root) == vers,
      "a verbatim replay must no-op per partition")
    // the bootstrap carried the mark on the NEW partition's v0
    val newDir = graft.sources.PartitionedSnapshots
      .partitionDir(root, "pNEW")
    assert(Snapshots.txnVersionOf(newDir, "papp").contains(1L))
    assert(Snapshots.read(spark, newDir).count() == 1)
    val p1 = graft.sources.PartitionedSnapshots
      .readPartition(spark, root, "part", "p1")
    assert(p1.filter(col("k") === 1L).select("x").head()
      .getDouble(0) == 111.0)
    // MoR form: DV commit with the mark, replay no-ops
    val w2 = Seq((1L, "p1", 999.0)).toDF("k", "part", "x")
    graft.sources.PartitionedSnapshots.mergePartitionedIdempotent(
      spark, root, w2, "k", "part", "papp", 2L, mor = true)
    val d1 = graft.sources.PartitionedSnapshots.partitionDir(root, "p1")
    assert(Snapshots.dvFiles(d1, Snapshots.currentVersion(d1)).nonEmpty)
    val vers2 = graft.sources.PartitionedSnapshots.versions(root)
    graft.sources.PartitionedSnapshots.mergePartitionedIdempotent(
      spark, root, w2, "k", "part", "papp", 2L, mor = true)
    assert(graft.sources.PartitionedSnapshots.versions(root) == vers2)
    assert(graft.sources.PartitionedSnapshots
      .readPartition(spark, root, "part", "p1")
      .filter(col("k") === 1L).select("x").head().getDouble(0) == 999.0)
  }

  test("r14: concurrent same-lineage hidden merges apply exactly once") {
    import spark.implicits._
    val root = tmp() + "/t"
    graft.sources.HiddenPartitions.init(spark, root,
      (1L to 100L).map(k => (k, s"v$k")).toDF("k", "payload"),
      graft.sources.ModTransform("k", 2))
    val before = graft.sources.HiddenPartitions.epochGroups(root)
      .flatMap(_._3).map { case (v, d) =>
        v -> Snapshots.currentVersion(d) }.toMap
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until 2).map { _ =>
      new Thread(() => try {
        val batch = Seq((2L, "X2"), (3L, "X3")).toDF("k", "payload")
        graft.sources.HiddenPartitions.mergeIdempotent(spark, root,
          batch, "k", "race", 5L)
        ()
      } catch { case t: Throwable => errs.add(t); () })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"racing merges must not fail: ${errs.peek()}")
    val after = graft.sources.HiddenPartitions.epochGroups(root)
      .flatMap(_._3).map { case (v, d) =>
        v -> Snapshots.currentVersion(d) }.toMap
    assert(after("0") == before("0") + 1 && after("1") == before("1") + 1,
      s"each touched dir must advance exactly once ($before -> $after)")
    val rows = graft.sources.HiddenPartitions.read(spark, root)
      .filter(col("k").isin(2L, 3L)).select("k", "payload").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(2L -> "X2", 3L -> "X3"))
    assert(graft.sources.HiddenPartitions.read(spark, root).count() == 100)
  }

  test("marks survive RESTORE (replays after a rollback still no-op)") {
    val p = tmp()
    Snapshots.overwriteVersioned(spark, p, ordersDf)
    Snapshots.mergeVersioned(spark, p, wave(1), Seq("o_orderkey"),
      Some(("jobR", 1L)))
    Snapshots.mergeVersioned(spark, p, wave(2), Seq("o_orderkey"),
      Some(("jobR", 2L)))
    val vr = Snapshots.restore(p, 1)
    assert(Snapshots.txnVersionOf(p, "jobR").contains(2L),
      "restore must not roll the txn watermark back")
    assert(Snapshots.mergeVersioned(spark, p, wave(2),
      Seq("o_orderkey"), Some(("jobR", 2L))) == vr)
  }

  test("writer options: a replayed append batch commits once; " +
      "txn refuses outside append mode") {
    val p = tmp()
    Snapshots.overwriteVersioned(spark, p, ordersDf)
    def write(): Unit = wave(6).write.format("graft").mode("append")
      .option("keyCol", "o_orderkey")
      .option("txnAppId", "etl").option("txnVersion", "42").save(p)
    write(); write()
    assert(Snapshots.currentVersion(p) == 1, "second write must no-op")
    val e = intercept[Exception] {
      wave(6).write.format("graft").mode("overwrite")
        .option("txnAppId", "etl").option("txnVersion", "43").save(p)
    }
    assert(e.getMessage.contains("append-mode"))
  }

  test("streaming sink: losing the sidecar marker after a commit no " +
      "longer replays the batch") {
    val p = tmp()
    val scope = Some("cafebabe0001")
    def batch0 = ordersDf.filter(col("o_orderkey") % 3 === 0)
      .withColumn("__seq", lit(1L))
    UpsertSink.mergeVersionedBatch(p, "o_orderkey", "__seq", scope)(
      batch0, 0L)
    assert(Snapshots.currentVersion(p) == 0)
    // simulate the crash window: the version committed but the sidecar
    // marker was never written
    val marker = Paths.get(p, "_graft_log", "_last_batch_cafebabe0001")
    assert(Files.exists(marker))
    Files.delete(marker)
    UpsertSink.mergeVersionedBatch(p, "o_orderkey", "__seq", scope)(
      batch0, 0L)
    assert(Snapshots.currentVersion(p) == 0,
      "manifest txn mark must catch the replay the lost sidecar missed")
    // and the lineage continues normally
    UpsertSink.mergeVersionedBatch(p, "o_orderkey", "__seq", scope)(
      ordersDf.filter(col("o_orderkey") % 3 === 1)
        .withColumn("__seq", lit(2L)), 1L)
    assert(Snapshots.currentVersion(p) == 1)
  }
}
