package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusProbe
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col

import graft.operators.{Dedup, Similarity}
import graft.sources.Snapshots

/** The feed-driven index refresh records the corpus version it covers
  * in the index's own commit, so the watermark cannot lag the rows: a
  * refresh retried after its index commit has landed finds the window
  * applied and runs nothing. Indexes laid out before the mark existed
  * (rows committed without it, the version in a
  * `_graft_log/corpus_version` marker file) still serve and refresh. */
class IndexRefreshSpec extends GraftSuite {

  /** Jobs submitted by `body` under a fresh job group. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"index-refresh-${java.util.UUID.randomUUID()}"
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
      val a = body
      ListenerBusProbe.drain(sc)
      (a, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def marker(index: String) = Paths.get(index, "_graft_log", "corpus_version")

  private def vec(k: Long): Array[Float] =
    Array.tabulate(8)(i => math.sin(k * 37.0 + i * 11.0).toFloat)

  /** Runs `refresh` over a feed window, then puts the marker file back
    * as it was before (the state a crash right after the index commit
    * leaves behind) and retries: the retry must commit nothing and run
    * no Spark job. */
  private def retryAfterLandedCommit(index: String, refresh: () => Int): Unit = {
    val before = if (Files.exists(marker(index))) Some(Files.readAllBytes(marker(index))) else None
    val served = refresh()
    val landed = Snapshots.currentVersion(index)
    before match {
      case Some(b) => Files.write(marker(index), b)
      case None => Files.deleteIfExists(marker(index))
    }
    val (again, jobs) = jobsOf(refresh())
    assert(again == served)
    assert(Snapshots.currentVersion(index) == landed, "the retry committed the window again")
    assert(jobs == 0, s"the retry ran $jobs jobs")
    assert(!Files.exists(marker(index)), "a refresh wrote the corpus_version marker")
  }

  test("a refresh retried after its index commit landed commits nothing and runs no job") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_idx_retry").toString
    val vecs = s"$tmp/vc"
    (0L until 120L).map(k => (k, vec(k))).toDF("vec_id", "embedding")
      .repartition(2).write.parquet(vecs)
    Snapshots.init(spark, vecs)
    val ivf = s"$tmp/vi/t"
    assert(Similarity.refreshIvfIndex(spark, vecs, ivf) == 0)
    Snapshots.mergeVersioned(spark, vecs,
      Seq((20L, vec(20).reverse), (500L, vec(500))).toDF("vec_id", "embedding"), "vec_id")
    retryAfterLandedCommit(ivf, () => Similarity.refreshIvfIndex(spark, vecs, ivf))

    val docs = s"$tmp/dc"
    (1L to 60L).map(k => (k, s"alpha beta gamma delta token$k end"))
      .toDF("doc_id", "text").repartition(2).write.parquet(docs)
    Snapshots.init(spark, docs)
    val sig = s"$tmp/di/t"
    assert(Dedup.refreshSignatureIndex(spark, docs, sig) == 0)
    Snapshots.deleteVersioned(spark, docs, col("doc_id") % 7 === 0)
    retryAfterLandedCommit(sig, () => Dedup.refreshSignatureIndex(spark, docs, sig))
  }

  test("an index laid out before the mark probes its pinned pair and refreshes from its marker") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_idx_legacy").toString
    val corpus = s"$tmp/c"
    (0L until 64L).map(k => (k, vec(k))).toDF("vec_id", "embedding")
      .repartition(2).write.parquet(corpus)
    Snapshots.init(spark, corpus) // v0
    // the legacy layout: postings committed without a mark, the pinned
    // codebook beside them, the corpus binding, and the (corpus, index)
    // marker pair
    val built = s"$tmp/b/t"
    Similarity.refreshIvfIndex(spark, corpus, built)
    val index = s"$tmp/i/t"
    Snapshots.read(spark, built).write.parquet(index)
    Snapshots.init(spark, index)
    spark.read.parquet(built + "_centroids").write.parquet(index + "_centroids")
    Files.write(Paths.get(index, "_graft_log", "vector_meta"),
      s"$corpus\t16\tfalse".getBytes("UTF-8"))
    Files.write(marker(index), "0\t0".getBytes("UTF-8"))

    // the corpus moves on; the probe still serves the pair the marker pins
    Snapshots.mergeVersioned(spark, corpus,
      Seq((20L, vec(20).reverse)).toDF("vec_id", "embedding"), "vec_id") // v1
    val keys = Seq(20L, 21L, 22L)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val c0 = Snapshots.read(spark, corpus, 0).select("vec_id", "embedding")
    val probed = rows(Similarity.probeVectorIndex(spark, index, keys, 4))
    assert(probed.nonEmpty)
    assert(probed == rows(Similarity.ivfKnn(c0, c0.filter(col("vec_id").isin(keys: _*)), 4)))

    // the refresh applies the window since the marker's version as one
    // commit, bit-identical to a full rebuild over the corpus head
    val idxV0 = Snapshots.currentVersion(index)
    assert(Similarity.refreshVectorIndex(spark, index) == 1)
    assert(Snapshots.currentVersion(index) == idxV0 + 1)
    val rebuilt = s"$tmp/r/t"
    Similarity.refreshIvfIndex(spark, corpus, rebuilt)
    assert(rows(Snapshots.read(spark, index)) == rows(Snapshots.read(spark, rebuilt)))
    // nothing rewrote the marker; the mark now answers
    assert(new String(Files.readAllBytes(marker(index)), "UTF-8") == "0\t0")
    val c1 = Snapshots.read(spark, corpus, 1).select("vec_id", "embedding")
    assert(rows(Similarity.probeVectorIndex(spark, index, keys, 4)) ==
      rows(Similarity.ivfKnn(c1, c1.filter(col("vec_id").isin(keys: _*)), 4)))
    val (again, jobs) = jobsOf(Similarity.refreshVectorIndex(spark, index))
    assert(again == 1 && jobs == 0 && Snapshots.currentVersion(index) == idxV0 + 1)
  }
}
