package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.operators.WordCount

/** `wordcount`: the paper's own pipeline — map → djb2 hash-partition →
  * reduce — over several text files with a long-tailed Zipf vocabulary.
  * A pass is WordCount.fromTextFiles written to both reference sinks
  * (djb2-routed R=16 partitioned, combined R=1) plus the top-100 read. */
final class WordCountWorkload(seed: Long, dataDir: String) extends Workload {
  val name = "wordcount"
  val Files_ = 6
  val TokensPerFile = 150000
  val Vocab = 60000
  val WordsPerLine = 12
  val Reducers = 16
  val TopK = 100

  val dir = s"$dataDir/wordcount-s$seed-f$Files_-t$TokensPerFile-v$Vocab"
  def files: Seq[String] = (0 until Files_).map(f => f"$dir/part-$f%02d.txt")

  /** Exact word → count of the generated corpus. */
  lazy val expected: Map[String, Long] = generateCorpus(write = false)
  def totalTokens: Long = Files_.toLong * TokensPerFile

  def generate(spark: SparkSession): Unit = {
    val done = Paths.get(dir, "_DONE")
    if (!Files.exists(done)) {
      Files.createDirectories(Paths.get(dir))
      generateCorpus(write = true)
      Files.write(done, Array.emptyByteArray)
    }
    expected
  }

  /** Zipf(1.1) tokens, 12 per line; every 37th line carries extra
    * whitespace (leading space, doubled space, tab) that tokenization
    * must collapse. Returns the exact counts. */
  private def generateCorpus(write: Boolean): Map[String, Long] = {
    val words = Gen.vocabulary(seed, Vocab)
    val zipf = new Gen.Zipf(Vocab, 1.1)
    val counts = new Array[Long](Vocab)
    (0 until Files_).foreach { f =>
      val rnd = new java.util.Random(seed * 1000003L + f)
      val sb = new java.lang.StringBuilder(TokensPerFile * 8)
      var t = 0
      var line = 0
      while (t < TokensPerFile) {
        val n = math.min(WordsPerLine, TokensPerFile - t)
        val odd = line % 37 == 0
        if (odd) sb.append(' ')
        (0 until n).foreach { j =>
          val r = zipf.sample(rnd)
          counts(r) += 1
          if (j > 0) sb.append(if (odd && j == 3) "  " else if (odd && j == 5) "\t" else " ")
          sb.append(words(r))
        }
        sb.append('\n')
        t += n
        line += 1
      }
      if (write) Files.write(Paths.get(files(f)), sb.toString.getBytes(UTF_8))
    }
    words.indices.filter(counts(_) > 0).map(r => words(r) -> counts(r)).toMap
  }

  def instance(spark: SparkSession, i: Int, idir: String): Instance =
    new Instance {
      private val topk = mutable.Map.empty[Int, Seq[(String, Long)]]
      private def out(p: Int) = s"$idir/p$p"

      def init(rec: Recorder): Unit = ()

      /** Three passes: timed passes then run with the JIT near steady
        * state (one warm-up pass left them ~20% slower and noisier). */
      def warmup(rec: Recorder): Unit = Seq(-3, -2, -1).foreach { p =>
        pass(rec, p)
        Main.deleteTree(Paths.get(out(p)))
      }

      def pass(rec: Recorder, p: Int): Unit = {
        val counts = WordCount.fromTextFiles(spark, files)
        rec.op("sink_partitioned", "commit")(_ =>
          WordCount.writeCounts(counts, s"${out(p)}/partitioned", Reducers))
        rec.op("sink_combined", "commit")(_ =>
          WordCount.writeCounts(counts, s"${out(p)}/combined", 1))
        topk(p) = rec.op("topk", "read")(_ =>
          counts.orderBy(col("cnt").desc, col("word").asc).limit(TopK).collect()
            .map(r => r.getString(0) -> r.getLong(1)).toSeq)
      }

      def check(rec: Recorder, p: Int): Seq[String] = {
        val errs = mutable.ArrayBuffer.empty[String]
        val combined = readSink(Paths.get(s"${out(p)}/combined"))
        if (combined != expected)
          errs += s"pass $p: combined sink differs from the generator's counts"
        val parted = mutable.Map.empty[String, Long]
        listDirs(Paths.get(s"${out(p)}/partitioned")).foreach { d =>
          val pid = d.getFileName.toString.stripPrefix("pid=").toInt
          readSink(d).foreach { case (w, c) =>
            if (Gen.djb2Pid(w, Reducers) != pid)
              errs += s"pass $p: '$w' sits under pid=$pid, djb2 routes it to ${Gen.djb2Pid(w, Reducers)}"
            parted(w) = c
          }
        }
        if (parted.toMap != expected)
          errs += s"pass $p: partitioned sink differs from the generator's counts"
        val want = expected.toSeq.sortBy { case (w, c) => (-c, w) }.take(TopK)
        if (topk(p) != want) errs += s"pass $p: top-$TopK differs"
        Main.deleteTree(Paths.get(out(p)))
        errs.take(5).toSeq
      }

      def perLayer(rec: Recorder): Map[String, Double] = {
        val timed = rec.timed
        // map stages scan + tokenize + partially aggregate and write the
        // shuffle; the rest read it (reduce, sink write, top-k)
        def split(ops: Seq[OpSample]) = {
          val ss = ops.flatMap(rec.stagesOf)
          val (map, red) = ss.partition(s => s.inputBytes > 0 && s.shuffleRecords > 0)
          (map, red)
        }
        def secs(ss: Seq[SpanListener#StageRec]) =
          ss.map(s => (s.complete - s.submit) / 1000.0).sum
        val byPass = timed.groupBy(_.pass).values.toSeq.map(split)
        val scans = timed.map { o =>
          val (map, _) = split(Seq(o))
          map.map(_.shuffleRecords).sum.toDouble / totalTokens
        }
        Map(
          "operators.wc_map_s" -> Stats.median(byPass.map(x => secs(x._1))),
          "operators.wc_reduce_s" -> Stats.median(byPass.map(x => secs(x._2))),
          "operators.partial_agg_ratio" -> Stats.median(scans),
          "sources.sink_partitioned_s" -> Layers.opMedian(rec, "sink_partitioned")(_.wallS),
          "sources.sink_combined_s" -> Layers.opMedian(rec, "sink_combined")(_.wallS))
      }

      def nominalPassS = 2.0
      def minPasses = 4

      override def report: Seq[String] =
        Seq(s"corpus: $Files_ files, $totalTokens tokens, ${expected.size} distinct words")
    }

  private def listDirs(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.filter(Files.isDirectory(_)).toSeq.sortBy(_.toString)
    finally s.close()
  }

  /** word → count from a text sink's `word:count` part files. */
  private def readSink(p: Path): Map[String, Long] = {
    val s = Files.list(p)
    val parts = try s.iterator().asScala
      .filter(f => f.getFileName.toString.startsWith("part-")).toSeq
    finally s.close()
    parts.flatMap(f => Files.readAllLines(f, UTF_8).asScala).map { l =>
      val i = l.lastIndexOf(':')
      l.substring(0, i) -> l.substring(i + 1).toLong
    }.toMap
  }
}
