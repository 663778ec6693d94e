package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

/** Seeded input generators shared by the workloads. */
object Gen {
  /** A few non-ASCII letters (2- and 3-byte UTF-8), so routing exercises
    * djb2's signed-byte fold. */
  private val Accents = Array("é", "ß", "ø", "ж", "λ", "ü", "中", "ñ")

  /** `n` distinct words, 2–9 letters, about 3% carrying a non-ASCII
    * letter. Index = Zipf rank. */
  def vocabulary(seed: Long, n: Int): Array[String] = {
    val rnd = new java.util.Random(seed * 7919L + 17)
    val seen = mutable.HashSet.empty[String]
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      val len = 2 + rnd.nextInt(8)
      val sb = new StringBuilder
      (0 until len).foreach(_ => sb.append(('a' + rnd.nextInt(26)).toChar))
      if (rnd.nextInt(100) < 3) sb.insert(rnd.nextInt(len), Accents(rnd.nextInt(Accents.length)))
      val w = sb.toString
      if (seen.add(w)) { out(i) = w; i += 1 }
    }
    out
  }

  /** Zipf(s) sampler over ranks 0 until n (rank 0 is the hottest). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val c = new Array[Double](n)
      var acc = 0.0
      var r = 0
      while (r < n) { acc += 1.0 / math.pow(r + 1, s); c(r) = acc; r += 1 }
      c.map(_ / acc)
    }
    def sample(rnd: java.util.Random): Int = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** The reference's reducer hash in plain Scala: 64-bit djb2 (h·33 + c)
    * over the word's UTF-8 bytes, each byte SIGNED (C `char`). */
  def djb2(word: String): Long = {
    var h = 5381L
    word.getBytes(UTF_8).foreach(b => h = h * 33 + b)
    h
  }

  /** The reducer a word routes to: unsigned 64-bit djb2 mod r. */
  def djb2Pid(word: String, r: Int): Int =
    java.lang.Long.remainderUnsigned(djb2(word), r.toLong).toInt
}
