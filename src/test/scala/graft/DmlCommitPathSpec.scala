package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.sources.{PartitionedSnapshots, Snapshots}

/** The shared DML commit path: staging leaves nothing behind in the
  * temp directory, and txn marks are validated before anything is
  * staged, on every verb that takes one. */
class DmlCommitPathSpec extends GraftSuite {

  private def frame(ks: Seq[Long], tag: String): DataFrame = {
    import spark.implicits._
    ks.map(k => (k, s"g${k % 2}", s"$tag$k")).toDF("k", "grp", "payload")
  }

  private def keys(ks: Long*): DataFrame = frame(ks, "x").select("k")

  private def table(): String = {
    val path = Files.createTempDirectory("dml_path").toString + "/t"
    frame(0L until 100L, "v").repartition(2).write.parquet(path)
    Snapshots.init(spark, path, changeDataFeed = true)
    path
  }

  private def graftTemps(): Set[String] = {
    val s = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try s.iterator.asScala.map(_.getFileName.toString)
      .filter(_.startsWith("graft_")).toSet
    finally s.close()
  }

  private def listing(dir: String): Set[String] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator.asScala.map(_.toString).toSet finally s.close()
  }

  test("no commit leaves a staging dir behind") {
    val path = table()
    val before = graftTemps()
    Snapshots.mergeVersioned(spark, path,
      frame((0L until 10L) ++ (100L until 105L), "c"), "k")
    Snapshots.mergeVersionedDV(spark, path,
      frame((20L until 30L) ++ (105L until 108L), "m"), "k")
    Snapshots.deleteVersionedKeysDV(spark, path, keys(40L, 41L), "k")
    Snapshots.updateVersionedDV(spark, path, col("k").between(50L, 55L),
      Seq("payload" -> lit("u")))
    Snapshots.appendVersioned(spark, path, frame(200L until 210L, "a"))
    Snapshots.compact(spark, path, targetBytes = 1L << 20)
    Snapshots.addBloomIndex(spark, path, "k")
    assert(Snapshots.currentVersion(path) == 7)
    val left = graftTemps() -- before
    assert(left.isEmpty, s"staging dirs left behind: ${left.mkString(", ")}")
    val rows = Snapshots.read(spark, path).select("k", "payload").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = (0L until 100L).map(k => k -> s"v$k").toMap ++
      ((0L until 10L) ++ (100L until 105L)).map(k => k -> s"c$k") ++
      ((20L until 30L) ++ (105L until 108L)).map(k => k -> s"m$k") --
      Seq(40L, 41L) ++ (50L to 55L).map(_ -> "u") ++
      (200L until 210L).map(k => k -> s"a$k")
    assert(rows == want)
  }

  test("a txn app id with a tab or a newline refuses before anything is staged") {
    val path = table()
    val root = Files.createTempDirectory("dml_path_part").toString + "/p"
    PartitionedSnapshots.init(spark, root, frame(0L until 20L, "v"), "grp")
    val (head, files) = (Snapshots.currentVersion(path), listing(path))
    val (rootVersions, rootFiles) = (PartitionedSnapshots.versions(root), listing(root))
    for (app <- Seq("bad\tapp", "bad\napp")) {
      intercept[IllegalArgumentException](Snapshots.mergeVersionedDV(spark, path,
        frame(0L until 5L, "m"), Seq("k"), Some((app, 1L))))
      intercept[IllegalArgumentException](Snapshots.deleteVersionedKeysDV(spark,
        path, keys(1L, 2L), Seq("k"), Some((app, 1L))))
      intercept[IllegalArgumentException](
        PartitionedSnapshots.mergePartitionedIdempotent(spark, root,
          frame(0L until 5L, "m"), "k", "grp", app, 1L, mor = true))
    }
    assert(Snapshots.currentVersion(path) == head)
    assert(Snapshots.strayFiles(path).isEmpty)
    assert(listing(path) == files)
    assert(PartitionedSnapshots.versions(root) == rootVersions)
    assert(listing(root) == rootFiles)
  }
}
