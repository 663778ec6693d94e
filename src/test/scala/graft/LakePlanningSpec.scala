package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusProbe
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1}
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.graft.StreamingFrame
import org.apache.spark.sql.streaming.Trigger

import graft.sources.{GraftChangeSource, GraftPartitionedChangeSource, MergeWhen, PartitionedSnapshots, Snapshots}

/** Planning a lake read or a change-feed batch submits no Spark job:
  * graft's own files are read under schemas graft already holds (DV
  * sidecars, stored change files, staged files), and a streaming
  * source's `getBatch` hands back a lazy frame whose stages run inside
  * the micro-batch's first job. Jobs are counted with a `SparkListener`
  * under a job group of the step's own; every frame is then run and its
  * rows checked against an in-memory model.
  */
class LakePlanningSpec extends GraftSuite {

  /** Jobs submitted by `body` (and threads it starts) under a fresh job
    * group, and the input bytes their tasks read. */
  private def costOf[A](body: => A): (A, Int, Long) = {
    val sc = spark.sparkContext
    val group = s"lake-plan-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val bytes = new java.util.concurrent.atomic.AtomicLong
    def ours(p: java.util.Properties) =
      p != null && p.getProperty("spark.jobGroup.id") == group
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (ours(e.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (ours(e.properties)) stages.add(e.stageInfo.stageId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          bytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val a = body
      ListenerBusProbe.drain(sc)
      (a, jobs.get, bytes.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def jobsOf[A](body: => A): (A, Int) = {
    val (a, jobs, _) = costOf(body)
    (a, jobs)
  }

  /** The rows of a `getBatch` frame, read the way a sink reads them
    * (as a batch frame; the check that refuses a streaming leaf outside
    * `writeStream` is off while the rows are fetched). */
  private def rowsOfBatch(batch: DataFrame): DataFrame =
    withConf("spark.sql.streaming.unsupportedOperationCheck" -> "false") {
      val rows = StreamingFrame.toBatch(batch).collect()
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq), batch.schema)
    }

  /** k → (grp, payload, n): the table's live rows. */
  private type Model = Map[Long, (String, String, Long)]

  private def rowsOf(ks: Seq[Long], tag: String): Seq[(Long, String, String, Long)] =
    ks.map(k => (k, s"g${k % 2}", s"$tag$k", k * 10))

  private def frame(rows: Seq[(Long, String, String, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("k", "grp", "payload", "n")
  }

  private def asModel(df: DataFrame): Model =
    df.select("k", "grp", "payload", "n").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getLong(3)))).toMap

  private def upsert(m: Model, rows: Seq[(Long, String, String, Long)]): Model =
    m ++ rows.map { case (k, g, p, n) => k -> ((g, p, n)) }

  /** A change-data-enabled table over keys 0..199 in 4 files, then one
    * commit of each verb: v1 CoW merge, v2 MoR merge, v3 keyed delete,
    * v4 append, v5 compact. Returns the path and the model after each
    * version. */
  private def table(): (String, IndexedSeq[Model]) = {
    val path = Files.createTempDirectory("lake_plan").toString + "/t"
    val base = rowsOf(0L until 200L, "v")
    frame(base).repartition(4).write.parquet(path)
    Snapshots.init(spark, path, changeDataFeed = true)
    val m0: Model = upsert(Map.empty, base)
    val cow = rowsOf((0L until 20L) ++ (200L until 210L), "c")
    Snapshots.mergeVersioned(spark, path, frame(cow), "k")
    val m1 = upsert(m0, cow)
    val mor = rowsOf((50L until 200L by 15L) ++ (210L until 214L), "m")
    Snapshots.mergeVersionedDV(spark, path, frame(mor), "k")
    val m2 = upsert(m1, mor)
    val del = (100L until 110L) ++ Seq(5L, 65L)
    Snapshots.deleteVersionedKeys(spark, path, {
      import spark.implicits._; del.toDF("k") }, "k")
    val m3 = m2 -- del
    val app = rowsOf(300L until 320L, "a")
    Snapshots.appendVersioned(spark, path, frame(app))
    val m4 = upsert(m3, app)
    Snapshots.compact(spark, path, targetBytes = 1L << 20)
    assert(Snapshots.currentVersion(path) == 5)
    (path, IndexedSeq(m0, m1, m2, m3, m4, m4))
  }

  /** (k, change_type, payload) of a post-image feed step: deletes carry
    * no payload. */
  private def expectedFeed(before: Model, after: Model): Set[(Long, String, String)] =
    (before.keySet ++ after.keySet).flatMap { k =>
      (before.get(k), after.get(k)) match {
        case (None, Some(a)) => Some((k, "insert", a._2))
        case (Some(_), None) => Some((k, "delete", null))
        case (Some(b), Some(a)) if b != a => Some((k, "update", a._2))
        case _ => None
      }
    }

  private def feedRows(df: DataFrame): Set[(Long, String, String)] =
    df.select("k", "change_type", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

  /** `changesCdf` rows projected to the post-image feed's form. */
  private def cdfAsPostImage(df: DataFrame): Set[(Long, String, String)] =
    feedRows(df.filter(col("_change_type") =!= "update_preimage")
      .select(col("k"),
        when(col("_change_type") === "update_postimage", lit("update"))
          .otherwise(col("_change_type")).as("change_type"),
        when(col("_change_type") === "delete", lit(null).cast("string"))
          .otherwise(col("payload")).as("payload")))

  test("planning a DV read, a point lookup and single-step feeds submits no job") {
    val (path, models) = table()
    assert(Snapshots.dvFiles(path, 2).nonEmpty, "v2 should carry deletion vectors")
    val (atDv, readJobs) = jobsOf(Snapshots.read(spark, path, 2))
    assert(readJobs == 0)
    val keys = Seq[Any](1L, 5L, 65L, 80L, 212L)
    val (lookup, lookupJobs) = jobsOf(
      Snapshots.readPointLookupIn(spark, path, "k", keys, version = 3))
    assert(lookupJobs == 0)
    for (v <- 1 to 5) {
      val (payload, pJobs) = jobsOf(Snapshots.changesWithPayload(spark, path, v - 1, v, "k"))
      val (cdf, cJobs) = jobsOf(Snapshots.changesCdf(spark, path, v - 1, v, "k"))
      assert((pJobs, cJobs) == ((0, 0)), s"v$v")
      val want = expectedFeed(models(v - 1), models(v))
      assert(feedRows(payload) == want, s"v$v")
      assert(cdfAsPostImage(cdf) == want, s"v$v")
    }
    // the frames still read right
    assert(asModel(atDv) == models(2))
    assert(asModel(lookup) == models(3).filter { case (k, _) => keys.contains(k) })
  }

  test("getBatch of the flat and partitioned change sources submits no job") {
    val (path, models) = table()
    val flatSchema = spark.readStream.format("graft").option("keyCol", "k")
      .load(path).schema
    val src = new GraftChangeSource(spark, path, "k", flatSchema)
    val end = src.getOffset.get
    val start = src.deserializeOffset("1").asInstanceOf[OffsetV1]
    val (batch, jobs) = jobsOf(src.getBatch(Some(start), end))
    assert(jobs == 0)
    val (boot, bootJobs) = jobsOf(src.getBatch(None, end))
    assert(bootJobs == 0)
    val got = rowsOfBatch(batch).select("k", "change_type", "payload",
      "_commit_version").collect()
    val want = (2 to 5).flatMap(v =>
      expectedFeed(models(v - 1), models(v)).map { case (k, t, p) => (k, t, p, v) })
    assert(got.map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3)))
      .toSet == want.toSet)
    assert(rowsOfBatch(boot).count() ==
      models(0).size + (1 to 5).map(v => expectedFeed(models(v - 1), models(v)).size).sum)

    val root = Files.createTempDirectory("lake_plan_part").toString + "/p"
    PartitionedSnapshots.init(spark, root, frame(rowsOf(0L until 40L, "v")), "grp")
    val partSchema = spark.readStream.format("graft").option("keyCol", "k")
      .option("partitionCol", "grp").load(root).schema
    val psrc = new GraftPartitionedChangeSource(spark, root, "grp", "k", partSchema)
    val p0 = psrc.getOffset.get
    PartitionedSnapshots.mergePartitioned(spark, root,
      frame(rowsOf((0L until 10L) ++ (40L until 44L), "u")), "k", "grp")
    val p1 = psrc.getOffset.get
    val (pbatch, pJobs) = jobsOf(psrc.getBatch(Some(p0), p1))
    assert(pJobs == 0)
    val pgot = rowsOfBatch(pbatch).select("k", "change_type", "payload")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(pgot == ((0L until 10L).map(k => (k, "update", s"u$k")) ++
      (40L until 44L).map(k => (k, "insert", s"u$k"))).toSet)
  }

  test("one commit of each verb runs a pinned number of jobs") {
    val path = Files.createTempDirectory("lake_plan_jobs").toString + "/t"
    frame(rowsOf(0L until 200L, "v")).repartition(4).write.parquet(path)
    Snapshots.init(spark, path, changeDataFeed = true)
    import spark.implicits._
    val upsertAll = Seq("k", "grp", "payload", "n").map(c => c -> col(s"__src_$c"))
    val counts = Seq(
      "mergeVersioned" -> jobsOf(Snapshots.mergeVersioned(spark, path,
        frame(rowsOf((0L until 20L) ++ (200L until 210L), "c")), "k"))._2,
      "mergeVersionedDV" -> jobsOf(Snapshots.mergeVersionedDV(spark, path,
        frame(rowsOf((50L until 200L by 15L) ++ (210L until 214L), "m")), "k"))._2,
      "deleteVersionedKeys" -> jobsOf(Snapshots.deleteVersionedKeys(spark, path, {
        import spark.implicits._; Seq(100L, 101L, 102L, 5L).toDF("k") }, "k"))._2,
      "appendVersioned" -> jobsOf(Snapshots.appendVersioned(spark, path,
        frame(rowsOf(300L until 320L, "a"))))._2,
      "compact" -> jobsOf(Snapshots.compact(spark, path, targetBytes = 1L << 20))._2,
      "mergeVersionedClauses" -> jobsOf(Snapshots.mergeVersionedClauses(spark, path,
        frame(rowsOf((10L until 15L) ++ (220L until 222L), "q")), "k", Seq(
          MergeWhen.MatchedUpdate(None, Seq("payload" -> col("__src_payload"))),
          MergeWhen.NotMatchedInsert(None, upsertAll))))._2,
      "updateVersioned" -> jobsOf(Snapshots.updateVersioned(spark, path,
        col("k") < 5L, Seq("payload" -> lit("u"))))._2,
      "updateVersionedDV" -> jobsOf(Snapshots.updateVersionedDV(spark, path,
        col("k").between(20L, 25L), Seq("payload" -> lit("ud"))))._2,
      "deleteVersioned" -> jobsOf(Snapshots.deleteVersioned(spark, path,
        col("k") === 40L))._2,
      "deleteVersionedDV" -> jobsOf(Snapshots.deleteVersionedDV(spark, path,
        col("k") === 41L))._2,
      "deleteVersionedKeysDV" -> jobsOf(Snapshots.deleteVersionedKeysDV(spark, path,
        Seq(42L, 43L).toDF("k"), "k"))._2,
      "reconcileDV" -> jobsOf(Snapshots.reconcileDV(spark, path))._2,
      "mergeVersioned txn" -> jobsOf(Snapshots.mergeVersioned(spark, path,
        frame(rowsOf(60L until 65L, "t")), Seq("k"), Some(("app", 1L))))._2,
      "mergeVersionedDV txn" -> jobsOf(Snapshots.mergeVersionedDV(spark, path,
        frame(rowsOf(70L until 75L, "d")), Seq("k"), Some(("appd", 1L))))._2,
      "appendVersioned txn" -> jobsOf(Snapshots.appendVersioned(spark, path,
        frame(rowsOf(400L until 405L, "a")), Some(("appa", 1L))))._2,
      "txn replays" -> jobsOf {
        Snapshots.mergeVersioned(spark, path, frame(rowsOf(60L until 65L, "t")),
          Seq("k"), Some(("app", 1L)))
        Snapshots.mergeVersionedDV(spark, path, frame(rowsOf(70L until 75L, "d")),
          Seq("k"), Some(("appd", 1L)))
        Snapshots.appendVersioned(spark, path, frame(rowsOf(400L until 405L, "a")),
          Some(("appa", 1L)))
      }._2)
    assert(counts == Seq("mergeVersioned" -> 5, "mergeVersionedDV" -> 8,
      "deleteVersionedKeys" -> 7, "appendVersioned" -> 2, "compact" -> 2,
      "mergeVersionedClauses" -> 9, "updateVersioned" -> 5,
      "updateVersionedDV" -> 6, "deleteVersioned" -> 5,
      "deleteVersionedDV" -> 2, "deleteVersionedKeysDV" -> 4,
      "reconcileDV" -> 2, "mergeVersioned txn" -> 5,
      "mergeVersionedDV txn" -> 8, "appendVersioned txn" -> 2,
      "txn replays" -> 0), counts.mkString(", "))
    assert(Snapshots.currentVersion(path) == 15)
  }

  /** A table over keys 0..199 in 4 files; with `emptyFile`, v1 stages
    * one 0-row data file (an append of an empty batch). */
  private def keyedTable(emptyFile: Boolean): String = {
    val path = Files.createTempDirectory("lake_plan_keys").toString + "/t"
    frame(rowsOf(0L until 200L, "v")).repartition(4).write.parquet(path)
    Snapshots.init(spark, path)
    if (emptyFile) {
      Snapshots.appendVersioned(spark, path, frame(Nil))
      val v = Snapshots.currentVersion(path)
      assert(Snapshots.manifestLines(path, v)
        .count(l => l.startsWith("#filerows=") && l.endsWith("\t0")) == 1)
    }
    path
  }

  private def keys(ks: Seq[Long]): DataFrame = {
    import spark.implicits._
    ks.toDF("k")
  }

  test("a live 0-row file leaves key discovery on the manifest ranges") {
    val ups = rowsOf((0L until 20L) ++ (200L until 210L), "c")
    val del = Seq(100L, 101L, 102L, 5L)
    val costs = Seq(false, true).map { emptyFile =>
      val path = keyedTable(emptyFile)
      val (_, mJobs, mBytes) = costOf(Snapshots.mergeVersioned(spark, path, frame(ups), "k"))
      val (_, dJobs, dBytes) = costOf(Snapshots.deleteVersionedKeys(spark, path, keys(del), "k"))
      assert(asModel(Snapshots.read(spark, path)) ==
        upsert(upsert(Map.empty, rowsOf(0L until 200L, "v")), ups) -- del)
      (mJobs, mBytes, dJobs, dBytes)
    }
    // the same jobs reading the same bytes: no discovery scan of the
    // table's key column
    assert(costs(1) == costs(0), costs)
  }

  test("a merge and a key delete past the key budget take the distributed join") {
    val base = upsert(Map.empty, rowsOf(0L until 200L, "v"))
    val ups = rowsOf((0L until 20L) ++ (200L until 210L), "c")
    val del = Seq(100L, 101L, 102L, 5L, 150L)
    def run(maxCompares: String): (Int, Int, Int, Int) =
      withConf("spark.graft.merge.plannerTouched.maxCompares" -> maxCompares) {
        val path = keyedTable(emptyFile = false)
        val (_, cow) = jobsOf(Snapshots.mergeVersioned(spark, path, frame(ups), "k"))
        val (_, mor) = jobsOf(Snapshots.mergeVersionedDV(spark, path,
          frame(rowsOf(Seq(1L, 7L, 300L), "m")), "k"))
        val (_, delCow) = jobsOf(Snapshots.deleteVersionedKeys(spark, path, keys(del), "k"))
        val (_, delDv) = jobsOf(Snapshots.deleteVersionedKeysDV(spark, path,
          keys(Seq(2L, 3L, 8L)), "k"))
        val want = upsert(upsert(base, ups), rowsOf(Seq(1L, 7L, 300L), "m")) --
          del -- Seq(2L, 3L, 8L)
        assert(asModel(Snapshots.read(spark, path)) == want, maxCompares)
        // duplicate keys still refuse past the budget
        val dup = intercept[IllegalArgumentException](Snapshots.mergeVersioned(spark, path,
          frame(rowsOf(Seq(4L, 4L, 9L, 11L), "d")), "k"))
        assert(dup.getMessage.contains("duplicate"))
        (cow, mor, delCow, delDv)
      }
    val within = run("8000000")
    // 4 live files: a budget of 8 compares holds 2 keys per batch
    val past = run("8")
    Seq(within, past).foreach(c => assert(c.productIterator.forall(_ != 0)))
    assert(past.productIterator.zip(within.productIterator)
      .forall { case (p: Int, w: Int) => p > w }, (within, past))
  }

  /** A table over keys 0..199 in 4 files whose v1 is a MoR merge: its
    * path and v1's model. */
  private def dvTable(): (String, Model) = {
    val path = Files.createTempDirectory("lake_plan_count").toString + "/t"
    val base = rowsOf(0L until 200L, "v")
    frame(base).repartition(4).write.parquet(path)
    Snapshots.init(spark, path)
    val mor = rowsOf((50L until 200L by 15L) ++ (210L until 214L), "m")
    Snapshots.mergeVersionedDV(spark, path, frame(mor), "k")
    assert(Snapshots.dvFiles(path, 1).nonEmpty)
    (path, upsert(upsert(Map.empty, base), mor))
  }

  test("rowCount and DESCRIBE DETAIL on a DV version run no job") {
    val (path, model) = dvTable()
    val (n, jobs) = jobsOf(Snapshots.rowCount(spark, path, 1))
    assert(n.contains(model.size.toLong))
    assert(jobs == 0)
    val (detail, dJobs) = jobsOf(graft.plans.LakeDetailCommand(path).run(spark))
    assert(detail.head.getLong(3) == model.size.toLong)
    assert(dJobs == 0)
  }

  test("a deep clone of a DV version runs 2 jobs and lands the model") {
    val (path, model) = dvTable()
    val dst = Files.createTempDirectory("lake_plan_clone").toString + "/t"
    val (_, jobs) = jobsOf(Snapshots.cloneDeep(path, dst, 1))
    assert(Snapshots.dvFiles(dst, 0).isEmpty)
    assert(asModel(Snapshots.read(spark, dst)) == model)
    assert(jobs == 2)
  }

  test("a routed merge past the key budget lets each slice summarize itself") {
    // two partition dirs (grp g0, g1) of one file each; each batch routes
    // 15 keys to each dir, so a budget of 20 holds one slice's keys but
    // not the batch's 30 (value, key) pairs
    val base = rowsOf(0L until 200L, "v")
    val batch = (0L until 20L) ++ (200L until 210L)
    def routed(): String = {
      val path = Files.createTempDirectory("lake_plan_routed").toString + "/t"
      PartitionedSnapshots.init(spark, path, frame(base).coalesce(1), "grp")
      PartitionedSnapshots.partitions(path).foreach { g =>
        val d = PartitionedSnapshots.partitionDir(path, g)
        assert(Snapshots.liveFiles(d, Snapshots.currentVersion(d)).size == 1) }
      path
    }
    def run(maxCompares: String): (Int, Int) =
      withConf("spark.graft.merge.plannerTouched.maxCompares" -> maxCompares) {
        val counts = Seq(false, true).map { mor =>
          val path = routed()
          val rows = rowsOf(batch, if (mor) "m" else "c")
          val (_, jobs) = jobsOf(PartitionedSnapshots.mergePartitioned(spark, path,
            frame(rows), "k", "grp", mor))
          assert(asModel(PartitionedSnapshots.read(spark, path, "grp")) ==
            upsert(upsert(Map.empty, base), rows), (maxCompares, mor))
          // duplicate keys still refuse past the budget
          val dup = intercept[IllegalArgumentException](PartitionedSnapshots
            .mergePartitioned(spark, path, frame(rowsOf(Seq(4L, 4L, 9L, 11L), "d")),
              "k", "grp", mor))
          assert(dup.getMessage.contains("duplicate 'k' keys in the source"))
          jobs
        }
        (counts(0), counts(1))
      }
    val within = run("8000000")
    val past = run("20")
    assert(past._1 > within._1 && past._2 > within._2, (within, past))
  }

  test("a restarted AvailableNow drain lands the model; its re-init getBatch adds no job") {
    val (path, models) = table()
    val twin = Files.createTempDirectory("lake_plan_twin").toString + "/twin"
    val ckpt = Files.createTempDirectory("lake_plan_ckpt").toString
    val groups = new ConcurrentHashMap[String, AtomicInteger]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => groups.computeIfAbsent(g, _ => new AtomicInteger).incrementAndGet())
    }
    // the sink applies inserts and updates in commit order, never deletes
    var applied: Model = Map.empty
    def drain(): Int = {
      val q = spark.readStream.format("graft").option("keyCol", "k").load(path)
        .filter(col("change_type") =!= "delete")
        .drop("change_type")
        .writeStream.format("graft").option("keyCol", "k")
        .option("orderCol", "_commit_version")
        .option("checkpointLocation", ckpt).partitionBy("grp")
        .trigger(Trigger.AvailableNow()).start(twin)
      q.awaitTermination()
      ListenerBusProbe.drain(spark.sparkContext)
      Option(groups.get(q.runId.toString)).fold(0)(_.get)
    }
    def twinModel(): Model = asModel(spark.read.format("graft")
      .option("partitionCol", "grp").load(twin))
    spark.sparkContext.addSparkListener(listener)
    try {
      drain() // bootstrap: v0 as a snapshot, then v1..v5
      applied = models(0)
      for (v <- 1 to 5) applied = upsert(applied,
        (models(v).toSeq.filter { case (k, r) => models(v - 1).get(k) != Some(r) })
          .map { case (k, (g, p, n)) => (k, g, p, n) })
      assert(twinModel() == applied)
      // k new commits, drained by a restarted query
      val more = Seq(
        rowsOf(Seq(1L, 2L, 400L), "r"),
        rowsOf(Seq(2L, 401L), "s"))
      more.foreach(rs => Snapshots.mergeVersioned(spark, path, frame(rs), "k"))
      more.foreach(rs => applied = upsert(applied, rs))
      assert(drain() > 0)
      assert(twinModel() == applied)
      // a restart with nothing new runs only the re-init getBatch of the
      // last committed range: it submits no job
      assert(drain() == 0)
      assert(twinModel() == applied)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a stored change file that lacks a payload column, or update " +
      "pre-images, falls back to the manifest diff") {
    val (path, models) = table()
    val want = expectedFeed(models(0), models(1))
    def rewrite(v: Int, stats: Boolean = true)(f: DataFrame => DataFrame): Unit =
      Snapshots.cdfFilesOf(path, v).foreach { file =>
        val rows = f(spark.read.parquet(file)).collect()
        val schema = f(spark.read.parquet(file)).schema
        val tmp = Files.createTempDirectory("lake_plan_cdf").toString
        spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
          .write.mode(SaveMode.Overwrite)
          .option("parquet.column.statistics.enabled", stats.toString).parquet(tmp)
        val part = Files.list(Paths.get(tmp)).iterator.asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        Files.move(part, Paths.get(file), java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    // a legacy-style commit: 'update' rows without 'update_preimage'
    // companions — the CDF form needs the pre-images, so it falls back;
    // the post-image feed still serves from the stored rows
    rewrite(1)(_.filter(col("change_type") =!= "update_preimage"))
    assert(feedRows(Snapshots.changesWithPayload(spark, path, 0, 1, "k")) == want)
    def preImages(cdf: DataFrame): Set[(Long, String)] =
      cdf.filter(col("_change_type") === "update_preimage")
        .select("k", "payload").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val wantPre = want.collect { case (k, "update", _) => (k, models(0)(k)._2) }
    assert(wantPre.nonEmpty)
    val (cdf, cdfJobs) = jobsOf(Snapshots.changesCdf(spark, path, 0, 1, "k"))
    assert(cdfJobs == 0) // the footers' change_type statistics decide
    assert(cdfAsPostImage(cdf) == want)
    assert(preImages(cdf) == wantPre)
    // the same file without column statistics: one job decides
    rewrite(1, stats = false)(identity)
    val noStats = Snapshots.cdfFilesOf(path, 1).flatMap { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f), new org.apache.hadoop.conf.Configuration()))
      try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
        .filter(_.getPath.toDotString == "change_type")
        .map(c => c.getStatistics == null || !c.getStatistics.hasNonNullValue)
      finally r.close()
    }
    assert(noStats.nonEmpty && noStats.forall(identity))
    val (cdf2, cdf2Jobs) = jobsOf(Snapshots.changesCdf(spark, path, 0, 1, "k"))
    assert(cdf2Jobs == 1)
    assert(cdfAsPostImage(cdf2) == want)
    assert(preImages(cdf2) == wantPre)
    // a stored file without the payload column: both feeds fall back
    rewrite(1)(_.drop("payload"))
    assert(feedRows(Snapshots.changesWithPayload(spark, path, 0, 1, "k")) == want)
    assert(cdfAsPostImage(Snapshots.changesCdf(spark, path, 0, 1, "k")) == want)
    // DV-carrying versions still read, at and after the MoR commit
    assert(asModel(Snapshots.read(spark, path, 2)) == models(2))
    assert(asModel(Snapshots.read(spark, path, 3)) == models(3))
    assert(Snapshots.rowCount(spark, path, 3).contains(models(3).size.toLong))
  }
}
