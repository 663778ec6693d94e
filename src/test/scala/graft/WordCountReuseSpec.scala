package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusProbe
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.WordCount

/** `WordCount.fromTextFiles` scans, tokenizes, partially aggregates and
  * writes its shuffle at most once per returned frame: the first action
  * runs that map stage, every later action on the frame (or on a frame
  * derived from it) reads the same shuffle, and the call itself runs no
  * job. Counted with a `SparkListener` on the jobs and shuffle-map stages
  * each step submits under a job group of its own.
  */
class WordCountReuseSpec extends GraftSuite {

  private case class Sched(jobs: Int, mapStages: Int)

  /** Runs `body` under a fresh job group (inherited by threads it starts)
    * and counts the jobs and shuffle-map stages submitted in that group. */
  private def scheduled[A](body: => A): (A, Sched) = {
    val sc = spark.sparkContext
    val group = s"wc-reuse-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val mapStages = new AtomicInteger
    def mine(p: java.util.Properties) =
      p != null && p.getProperty("spark.jobGroup.id") == group
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (mine(e.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (mine(e.properties) && ListenerBusProbe.isShuffleMap(e.stageInfo)) mapStages.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val a = body
      ListenerBusProbe.drain(sc)
      (a, Sched(jobs.get, mapStages.get))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def corpus(lines: String*): (Path, Seq[String]) = {
    val dir = Files.createTempDirectory("wc_reuse")
    val files = lines.zipWithIndex.map { case (l, i) =>
      Files.write(dir.resolve(s"$i.txt"), (l + "\n").getBytes(UTF_8)).toString
    }
    (dir, files)
  }

  private def asMap(df: DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** word → count from a text sink's `word:count` part files. */
  private def readSink(dir: Path): Map[String, Long] =
    Files.walk(dir).iterator.asScala
      .filter(f => f.getFileName.toString.startsWith("part-"))
      .flatMap(f => Files.readAllLines(f, UTF_8).asScala)
      .map { l => val i = l.lastIndexOf(':'); l.substring(0, i) -> l.substring(i + 1).toLong }
      .toMap

  private val expected = Map("the" -> 3L, "cat" -> 2L, "sat" -> 1L, "on" -> 1L,
    "mat" -> 1L, "dog" -> 1L)

  test("one map stage serves both sinks and the top-k; the call itself runs no job") {
    val (dir, files) = corpus("the cat sat\non the mat", "the  dog\tcat")
    val (counts, build) = scheduled(WordCount.fromTextFiles(spark, files))
    assert(build == Sched(0, 0))

    val (_, parted) = scheduled(WordCount.writeCounts(counts, s"$dir/parted", 16))
    assert(parted.mapStages == 1, parted)
    val (_, combined) = scheduled(WordCount.writeCounts(counts, s"$dir/combined", 1))
    assert(combined == Sched(1, 0))
    val (top, topJobs) = scheduled(
      counts.orderBy(col("cnt").desc, col("word").asc).limit(2).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toSeq)
    assert(topJobs == Sched(1, 0))

    assert(readSink(dir.resolve("parted")) == expected)
    assert(readSink(dir.resolve("combined")) == expected)
    assert(top == Seq("the" -> 3L, "cat" -> 2L))
  }

  test("each fromTextFiles call runs its own map stage and sees rewritten files") {
    val (_, files) = corpus("the cat sat\non the mat", "the  dog\tcat")
    val (first, s1) = scheduled(asMap(WordCount.fromTextFiles(spark, files)))
    assert(first == expected)
    assert(s1.mapStages == 1, s1)
    val (again, s2) = scheduled(asMap(WordCount.fromTextFiles(spark, files)))
    assert(again == expected)
    assert(s2.mapStages == 1, s2)

    Files.write(Path.of(files(1)), "bird bird\n".getBytes(UTF_8))
    assert(asMap(WordCount.fromTextFiles(spark, files)) ==
      Map("the" -> 2L, "cat" -> 1L, "sat" -> 1L, "on" -> 1L, "mat" -> 1L, "bird" -> 2L))
  }

  test("two consumers started together from two threads share one map stage") {
    val (dir, files) = corpus("the cat sat\non the mat", "the  dog\tcat")
    val counts = WordCount.fromTextFiles(spark, files)
    val start = new CountDownLatch(1)
    val (results, s) = scheduled {
      // threads inherit the job group, so both consumers are counted
      val work = Seq(
        () => WordCount.writeCounts(counts, s"$dir/parted", 16),
        () => WordCount.writeCounts(counts, s"$dir/combined", 1))
      val failures = new ConcurrentLinkedQueue[Throwable]
      val threads = work.map { w =>
        val t = new Thread(() => {
          start.await()
          try w() catch { case e: Throwable => failures.add(e) }
        })
        t.start()
        t
      }
      start.countDown()
      threads.foreach(_.join(TimeUnit.MINUTES.toMillis(2)))
      (threads.exists(_.isAlive), failures.asScala.toSeq)
    }
    val (hung, failures) = results
    assert(!hung, "a consumer did not finish within 2 minutes")
    assert(failures.isEmpty, failures)
    assert(s.mapStages == 1, s)
    assert(readSink(dir.resolve("parted")) == expected)
    assert(readSink(dir.resolve("combined")) == expected)
  }
}
