package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusProbe
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.sources.{HiddenPartitions, PartitionedSnapshots, Snapshots, TruncateTransform}

/** The one partition router behind both partitioned layouts, driven
  * through each with the same steps: a hive root partitioned by `p`,
  * and a hidden root whose `truncate(p, 64)` is wider than every value,
  * so the value IS the directory. After every step each layout's dirs
  * (rows and versions) must equal an in-memory model of a table keyed
  * by (p, k). The values carry what a directory name has to encode:
  * a space, '+', '/', '%' and a non-ASCII letter.
  */
class PartitionRouterSpec extends GraftSuite {

  private case class Layout(name: String,
      init: (String, DataFrame, Option[(String, Int)]) => Seq[String],
      merge: (String, DataFrame, Boolean, Option[(String, Long)]) => Unit,
      dirOf: (String, String) => String,
      values: String => Seq[String])

  private lazy val hive = Layout("hive",
    (root, df, b) => PartitionedSnapshots.init(spark, root, df, "p", b),
    (root, df, mor, txn) => txn match {
      case None => PartitionedSnapshots.mergePartitioned(spark, root, df,
        Seq("k"), "p", mor)
      case Some((app, ver)) => PartitionedSnapshots.mergePartitionedIdempotent(
        spark, root, df, Seq("k"), "p", app, ver, mor)
    },
    PartitionedSnapshots.partitionDir,
    PartitionedSnapshots.partitions)

  // keyed on (k, p): the transform column is a key member, so the merge
  // is key-pure and a key's dir never changes — the hive semantics
  private lazy val hidden = Layout("hidden",
    (root, df, b) => HiddenPartitions.init(spark, root, df,
      TruncateTransform("p", 64), b),
    (root, df, mor, txn) => txn match {
      case None => HiddenPartitions.merge(spark, root, df, Seq("k", "p"), mor)
      case Some((app, ver)) => HiddenPartitions.mergeIdempotent(spark, root,
        df, Seq("k", "p"), app, ver, mor)
    },
    HiddenPartitions.epochDir(_, 0, _),
    HiddenPartitions.epochValues(_, 0))

  /** value → (version, rows (k, x)) */
  private type Model = Map[String, (Int, Map[String, Long])]

  private def frame(rows: (String, String, Long)*): DataFrame = {
    import spark.implicits._
    rows.toDF("k", "p", "x")
  }

  private def modelInit(rows: (String, String, Long)*): Model =
    rows.groupBy(_._2).map { case (p, rs) =>
      p -> ((0, rs.map(r => r._1 -> r._3).toMap)) }

  /** One committed merge: a touched value's dir gains a version, a new
    * value's dir starts at version 0. */
  private def modelMerge(m: Model, rows: (String, String, Long)*): Model =
    m ++ rows.groupBy(_._2).map { case (p, rs) =>
      val upd = rs.map(r => r._1 -> r._3).toMap
      p -> m.get(p).fold((0, upd)) { case (v, old) => (v + 1, old ++ upd) }
    }

  /** What the layout holds: every listed value's dir, its version and
    * rows. A row stored with its `p` must carry its dir's value. */
  private def observed(l: Layout, root: String): Model =
    l.values(root).map { v =>
      val d = l.dirOf(root, v)
      val rows = Snapshots.read(spark, d).collect()
      rows.foreach(r => if (r.schema.fieldNames.contains("p"))
        assert(r.getAs[String]("p") == v, s"row of '${r.getAs[String]("p")}' in the dir of '$v'"))
      v -> ((Snapshots.currentVersion(d),
        rows.map(r => r.getAs[String]("k") -> r.getAs[Long]("x")).toMap))
    }.toMap

  private def partDirs(root: String): Seq[String] =
    if (!Files.isDirectory(Paths.get(root))) Seq.empty
    else {
      val s = Files.list(Paths.get(root))
      try s.iterator.asScala.map(_.getFileName.toString)
        .filter(_.startsWith("part")).toList
      finally s.close()
    }

  private def newRoot(tag: String): String =
    Files.createTempDirectory(s"graft_router_$tag").toString + "/t"

  for (l <- Seq("hive", "hidden")) {
    def layout = if (l == "hive") hive else hidden

    test(s"$l: init, merge, txn replay and MoR merge track the model, " +
        "whatever characters the values carry") {
      val root = newRoot(l)
      val seed = Seq(("k1", "a b", 1L), ("k2", "a b", 2L), ("k1", "a+b", 3L),
        ("k1", "x/y", 4L), ("k1", "50%", 5L), ("k1", "é", 6L), ("k2", "é", 7L))
      assert(layout.init(root, frame(seed: _*), None) ==
        Seq("50%", "a b", "a+b", "x/y", "é"))
      var model = modelInit(seed: _*)
      assert(observed(layout, root) == model)
      assert(partDirs(root).size == model.size)

      // update existing keys, insert a new key, bootstrap two new values
      val wave = Seq(("k1", "a b", 10L), ("k2", "é", 70L), ("k9", "50%", 9L),
        ("k1", "c d", 11L), ("k1", "c+d", 12L))
      layout.merge(root, frame(wave: _*), false, None)
      model = modelMerge(model, wave: _*)
      assert(observed(layout, root) == model)

      // a txn-marked merge (existing + new value), then its replay: no-op
      val marked = Seq(("k1", "x/y", 40L), ("k5", "%2F", 55L))
      layout.merge(root, frame(marked: _*), false, Some(("router-app", 1L)))
      model = modelMerge(model, marked: _*)
      assert(observed(layout, root) == model)
      layout.merge(root, frame(marked: _*), false, Some(("router-app", 1L)))
      assert(observed(layout, root) == model)

      // merge-on-read: DV-mark + append in existing dirs, bootstrap new
      val mor = Seq(("k1", "a+b", 30L), ("k3", "c d", 13L), ("k5", "%2F", 56L),
        ("k1", "n/ew é", 99L))
      layout.merge(root, frame(mor: _*), true, None)
      model = modelMerge(model, mor: _*)
      assert(observed(layout, root) == model)
      assert(partDirs(root).size == model.size)
    }

    test(s"$l: a bucketed root bootstraps a new value bucketed") {
      val root = newRoot(s"${l}_bucketed")
      val seed = Seq(("k1", "a b", 1L), ("k2", "a b", 2L), ("k1", "a+b", 3L),
        ("k1", "é", 4L))
      assert(layout.init(root, frame(seed: _*), Some(("k", 2))) ==
        Seq("a b", "a+b", "é"))
      var model = modelInit(seed: _*)
      assert(observed(layout, root) == model)
      val wave = Seq(("k1", "a b", 10L), ("k1", "x/y", 11L), ("k2", "x/y", 12L))
      layout.merge(root, frame(wave: _*), false, None)
      model = modelMerge(model, wave: _*)
      assert(observed(layout, root) == model)
      model.keys.foreach { v =>
        val d = layout.dirOf(root, v)
        assert(Snapshots.bucketSpecOf(d, Snapshots.currentVersion(d))
          .contains(("k", 2)), s"dir of '$v' is not bucketed")
      }
    }

    test(s"$l: a NULL routing value refuses a merge before any dir commits") {
      val root = newRoot(s"${l}_null_merge")
      val seed = Seq(("k1", "a", 1L), ("k1", "b", 2L))
      layout.init(root, frame(seed: _*), None)
      val model = modelInit(seed: _*)
      val bad = frame(("k1", "a", 10L), ("k2", "new", 20L), ("k3", null, 30L))
      intercept[IllegalArgumentException](layout.merge(root, bad, false, None))
      intercept[IllegalArgumentException](layout.merge(root, bad, true, None))
      assert(observed(layout, root) == model)
      assert(partDirs(root).size == model.size)
    }

    test(s"$l: a NULL routing value refuses init before any partition dir " +
        "is written") {
      val rows = frame(("k1", "a", 1L), ("k2", null, 2L))
      for (bucketBy <- Seq(None, Some(("k", 2)))) {
        val root = newRoot(s"${l}_null_init")
        intercept[IllegalArgumentException](layout.init(root, rows, bucketBy))
        assert(layout.values(root).isEmpty)
        assert(partDirs(root).isEmpty)
      }
    }
  }

  /** Jobs submitted by `body`, counted under a job group of its own
    * (which the router's Par threads inherit). */
  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"router-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      body
      ListenerBusProbe.drain(sc)
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a key-pure hidden merge submits the hive router's jobs plus the " +
      "one null probe, however many dirs it touches") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_router_jobs").toString
    val vals = (1 to 8).map(i => s"v$i")
    // one row per dir in both roots: hive keys `id` within `p`; the
    // hidden key `k` is its own dir (truncate wider than every value)
    PartitionedSnapshots.init(spark, base + "/hive",
      vals.map(v => (v, v, 0L)).toDF("id", "p", "x"), "p")
    HiddenPartitions.init(spark, base + "/hidden",
      vals.map(v => (v, 0L)).toDF("k", "x"), TruncateTransform("k", 64))
    // batches read back from parquet, so every probe is a real job
    def pinned(df: DataFrame, name: String): DataFrame = {
      df.coalesce(1).write.parquet(s"$base/$name")
      spark.read.parquet(s"$base/$name")
    }
    for (n <- Seq(2, 6)) {
      val hiveBatch = pinned(
        vals.take(n).map(v => (v, v, n.toLong)).toDF("id", "p", "x"), s"hb$n")
      val hiddenBatch = pinned(
        vals.take(n).map(v => (v, n.toLong)).toDF("k", "x"), s"db$n")
      val hiveJobs = jobsOf(PartitionedSnapshots.mergePartitioned(spark,
        base + "/hive", hiveBatch, "id", "p"))
      val probeJobs = jobsOf(hiddenBatch.filter(col("k").isNull).isEmpty)
      val hiddenJobs = jobsOf(HiddenPartitions.merge(spark, base + "/hidden",
        hiddenBatch, "k"))
      assert(probeJobs == 1)
      assert(hiddenJobs == hiveJobs + probeJobs,
        s"$n dirs: hidden $hiddenJobs jobs vs hive $hiveJobs + probe $probeJobs")
    }
  }
}
