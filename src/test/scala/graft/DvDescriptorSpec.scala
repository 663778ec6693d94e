package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusProbe
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.plans.LakeDetailCommand
import graft.sources.{GraftStats, Snapshots}

/** A `#dv=` manifest line carries its sidecar's descriptor — the data
  * files it marks and their dead rows — so row counts, DESCRIBE DETAIL,
  * reconcile, deep clone, the change feed and the merge's DV-clash
  * check read it from the log. Lines written before descriptors (the
  * sidecar alone) are still answered, by reading just those sidecars.
  * Every result is checked against an in-memory model of the keys.
  */
class DvDescriptorSpec extends GraftSuite {

  /** Jobs submitted by `body` under a job group of its own, and the
    * records their tasks read. */
  private def costOf[A](body: => A): (A, Int, Long) = {
    val sc = spark.sparkContext
    val group = s"dv-desc-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val records = new AtomicLong
    def ours(p: java.util.Properties) =
      p != null && p.getProperty("spark.jobGroup.id") == group
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (ours(e.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (ours(e.properties)) stages.add(e.stageInfo.stageId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val a = body
      ListenerBusProbe.drain(sc)
      (a, jobs.get, records.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_dvdesc_$tag").toString + "/t"

  private def frame(ks: Seq[Long]): DataFrame = {
    import spark.implicits._
    ks.map(k => (k, s"v$k")).toDF("k", "payload")
  }

  private def keysOf(df: DataFrame): Set[Long] =
    df.select("k").collect().map(_.getLong(0)).toSet

  /** A table over `ks` in 4 files. */
  private def table(path: String, ks: Seq[Long]): Unit = {
    frame(ks).repartitionByRange(4, col("k")).write.parquet(path)
    Snapshots.init(spark, path)
  }

  private def dvDelete(path: String, ks: Seq[Long]): Int = {
    import spark.implicits._
    Snapshots.deleteVersionedKeysDV(spark, path, ks.toDF("k"), "k")
  }

  private def dvLines(path: String, v: Int): Seq[String] =
    Snapshots.manifestLines(path, v).filter(_.startsWith("#dv="))

  /** Rewrite every manifest of `path` into the format graft wrote before
    * descriptors: each `#dv=` line (whole or as a delta `+`/`-` entry)
    * names its sidecar alone. */
  private def stripDescriptors(path: String): Unit =
    Files.list(Paths.get(path, "_graft_log")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".manifest")).foreach { (m: Path) =>
        val lines = Files.readAllLines(m).asScala.map { l =>
          if (Seq("#dv=", "+#dv=", "-#dv=").exists(l.startsWith)) l.takeWhile(_ != '\t')
          else l
        }
        Files.write(m, lines.mkString("\n").getBytes("UTF-8"))
      }

  private def deleteTree(dir: String): Unit = {
    val walk = Files.walk(Paths.get(dir))
    try walk.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach { p => Files.deleteIfExists(p); () }
    finally walk.close()
  }

  test("a table re-created at a deleted table's path counts, adjusts and " +
      "reconciles from its own DVs") {
    val path = tmp("reborn")
    table(path, 0L until 200L)
    dvDelete(path, 0L until 20L)
    assert(GraftStats.dvAdjustedStats(spark, path, 1).flatMap(_.rowCount)
      .contains(BigInt(180)))
    deleteTree(path)
    table(path, 1000L until 1050L)
    assert(dvDelete(path, 1000L until 1005L) == 1)
    val model = (1005L until 1050L).toSet
    assert(Snapshots.rowCount(spark, path, 1).contains(model.size.toLong))
    assert(GraftStats.dvAdjustedStats(spark, path, 1).flatMap(_.rowCount)
      .contains(BigInt(model.size)))
    val v = Snapshots.reconcileDV(spark, path)
    assert(Snapshots.dvFiles(path, v).isEmpty)
    assert(keysOf(Snapshots.read(spark, path)) == model)
  }

  test("legacy and mixed #dv= lines count, describe, diff, clone and " +
      "reconcile like descriptors; only descriptor-less sidecars are read") {
    // legacy: v1's line stripped; mixed: v1 legacy plus v2 with a descriptor
    for (mixed <- Seq(false, true)) {
      val path = tmp(if (mixed) "mixed" else "legacy")
      table(path, 0L until 200L)
      dvDelete(path, (0L until 200L by 10L))
      stripDescriptors(path)
      val legacy = dvLines(path, 1)
      var model = (0L until 200L).toSet -- (0L until 200L by 10L)
      if (mixed) {
        dvDelete(path, (1L until 200L by 10L))
        model --= (1L until 200L by 10L)
      }
      val head = Snapshots.currentVersion(path)
      val fresh = dvLines(path, head).filterNot(legacy.contains)
      assert(legacy.nonEmpty && legacy.forall(!_.contains('\t')))
      assert(fresh.forall(_.contains('\t')) && fresh.nonEmpty == mixed)
      // the fallback reads the legacy sidecars' 20 rows and nothing else
      val legacyRows = 20L
      val (n, jobs, records) = costOf(Snapshots.rowCount(spark, path, head))
      assert(n.contains(model.size.toLong) && jobs == 1 && records == legacyRows,
        (n, jobs, records))
      val detail = LakeDetailCommand(path).run(spark).head
      assert(detail.getLong(3) == model.size.toLong)
      val feed = Snapshots.changesBetween(spark, path, 0, head, "k").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(feed == ((0L until 200L).toSet -- model).map(k => (k, "delete")))
      val clone = tmp("clone")
      Snapshots.cloneDeep(path, clone)
      assert(Snapshots.dvFiles(clone, 0).isEmpty)
      assert(keysOf(Snapshots.read(spark, clone)) == model)
      val v = Snapshots.reconcileDV(spark, path)
      assert(Snapshots.dvFiles(path, v).isEmpty)
      assert(keysOf(Snapshots.read(spark, path)) == model)
    }
  }

  test("a copy-on-write merge refuses to rebase over a concurrent legacy DV " +
      "delete of a file it rewrote") {
    val path = tmp("clash")
    table(path, 0L until 100L)
    intercept[java.util.ConcurrentModificationException] {
      Snapshots.mergeVersionedOCC(spark, path, frame(Seq(5L)), Seq("k"),
        maxRetries = 5, beforeCommit = () => {
          Snapshots.deleteVersionedDV(spark, path, col("k") === 7L)
          stripDescriptors(path)
        })
    }
    assert(dvLines(path, 1).forall(!_.contains('\t')))
    assert(keysOf(Snapshots.read(spark, path)) == (0L until 100L).toSet - 7L)
  }

  test("descriptors survive a CoW merge, addConstraint, restore and a " +
      "shallow clone; rowCount after them runs no job") {
    val path = tmp("carry")
    table(path, 0L until 200L)
    dvDelete(path, 0L until 200L by 7L)                          // v1
    val m1 = (0L until 200L).toSet -- (0L until 200L by 7L)
    Snapshots.mergeVersioned(spark, path, frame(Seq(3L, 300L)), "k") // v2
    val m2 = m1 + 300L
    Snapshots.addConstraint(spark, path, "k_nonneg", "k >= 0")    // v3
    Snapshots.restore(path, 1)                                    // v4
    val clone = tmp("shallow")
    Snapshots.cloneShallow(path, clone)
    for ((p, v, model) <- Seq((path, 2, m2), (path, 3, m2), (path, 4, m1),
        (clone, 0, m1))) {
      assert(dvLines(p, v).nonEmpty && dvLines(p, v).forall(_.contains('\t')), (p, v))
      val (n, jobs, _) = costOf(Snapshots.rowCount(spark, p, v))
      assert(n.contains(model.size.toLong) && jobs == 0, (p, v, n, jobs))
      assert(keysOf(Snapshots.read(spark, p, v)) == model, (p, v))
    }
  }
}
