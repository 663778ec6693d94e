package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.operators.WordCount

/** Sink parity on a corpus built here, so it runs without the
  * reference's own files: ONE `fromTextFiles` result feeds the combined
  * sink, the R = 16 reducer sink and the top-k, and each equals counts
  * made in plain Scala. Tokens split on the reference's `istringstream`
  * whitespace (space, \t, \n, \u000B, \f, \r); U+00A0 is not whitespace
  * there nor in Java's `\s`, so it stays inside its word. Reducer ids are
  * replayed as the reference's unsigned 64-bit djb2 over signed UTF-8
  * bytes, mod 16.
  */
class WordCountSinkParitySpec extends GraftSuite {

  private val R = 16
  private val K = 25

  private def isSpace(c: Char): Boolean = " \t\n\u000B\f\r".indexOf(c) >= 0

  private def plainCounts(text: String): Map[String, Long] = {
    val counts = mutable.Map.empty[String, Long]
    val word = new StringBuilder
    def flush(): Unit = if (word.nonEmpty) {
      counts(word.toString) = counts.getOrElse(word.toString, 0L) + 1
      word.clear()
    }
    text.foreach(c => if (isSpace(c)) flush() else word += c)
    flush()
    counts.toMap
  }

  private def plainPid(word: String): Int = {
    var h = 5381L
    word.getBytes(UTF_8).foreach(b => h = h * 33L + b)
    java.lang.Long.remainderUnsigned(h, R.toLong).toInt
  }

  /** word → count from the `word:count` lines of a sink's part files
    * (a word may hold ':', so split on the last one). */
  private def readLines(dir: Path): Seq[(String, Long)] =
    Files.list(dir).iterator.asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(f => Files.readAllLines(f, UTF_8).asScala)
      .map { l => val i = l.lastIndexOf(':'); l.substring(0, i) -> l.substring(i + 1).toLong }

  /** Three files of varied separators over a vocabulary with non-ASCII
    * words, a word holding U+00A0 and one holding ':'. */
  private def writeCorpus(dir: Path): Seq[String] = {
    val vocab = Seq("étape", "naïve", "日本語", "𝄞clef", "Zürich", "a\u00A0b", "x:y", "ÅÄÖ") ++
      (0 until 300).map(i => s"w$i")
    val seps = Seq(" ", "  ", "\t", " \t ", "\u000B", "\f", "   \f\t")
    val rnd = new java.util.Random(20261017L)
    (0 until 3).map { f =>
      val sb = new StringBuilder
      (0 until 400).foreach { line =>
        if (line % 7 == 0) sb.append(seps(rnd.nextInt(seps.size)))
        (0 until 1 + rnd.nextInt(10)).foreach { j =>
          if (j > 0) sb.append(seps(rnd.nextInt(seps.size)))
          // a skewed draw toward the head (the special words), so counts
          // differ and the top-k is not all ties
          sb.append(vocab(math.min(rnd.nextInt(vocab.size), rnd.nextInt(vocab.size))))
        }
        if (line % 11 == 0) sb.append(seps(rnd.nextInt(seps.size)))
        sb.append('\n')
      }
      Files.writeString(dir.resolve(s"$f.txt"), sb.toString, UTF_8).toString
    }
  }

  test("combined, R=16 and top-k sinks from one fromTextFiles equal plain-Scala counts") {
    val dir = Files.createTempDirectory("wc_sink_parity")
    val files = writeCorpus(dir)
    val want = plainCounts(files.map(f => Files.readString(Path.of(f), UTF_8)).mkString("\n"))
    assert(want.contains("a\u00A0b") && want.contains("𝄞clef"))

    val counts = WordCount.fromTextFiles(spark, files)
    WordCount.writeCounts(counts, s"$dir/combined", numPartitions = 1)
    WordCount.writeCounts(counts, s"$dir/sharded", numPartitions = R)
    val top = counts.orderBy(col("cnt").desc, col("word").asc).limit(K).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq

    val combinedParts = Files.list(dir.resolve("combined")).iterator.asScala
      .count(_.getFileName.toString.startsWith("part-"))
    assert(combinedParts == 1, "the combined sink must be exactly one file")
    val combined = readLines(dir.resolve("combined"))
    assert(combined.size == want.size && combined.toMap == want)

    val pidDirs = Files.list(dir.resolve("sharded")).iterator.asScala.toSeq
      .filter(_.getFileName.toString.startsWith("pid="))
    val sharded = pidDirs.flatMap { d =>
      val pid = d.getFileName.toString.stripPrefix("pid=").toInt
      readLines(d).map { case (w, c) =>
        assert(plainPid(w) == pid, s"'$w' sits under pid=$pid, djb2 routes it to ${plainPid(w)}")
        w -> c
      }
    }
    assert(sharded.size == want.size && sharded.toMap == want)
    assert(pidDirs.size == R, "300+ words should reach every reducer")

    assert(top == want.toSeq.sortBy { case (w, c) => (-c, w) }.take(K))
  }
}
