package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr}

import graft.operators.WordCount
import graft.sources.Snapshots

/** The benchmark's self-tests: the percentile rule, the lake model (on
  * its own and against graft on a small table), the plain-Scala djb2
  * against graft.functions.djb2, and BENCHMARK.json against the metric
  * lists the code prints. Run: python3 perfbench/run.py --selftest */
object SelfTest {
  private var failures = 0
  private var passed = 0

  def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable =>
      System.err.println(s"  $name threw $e"); false }
    if (ok) passed += 1 else { failures += 1; System.err.println(s"FAIL $name") }
  }

  def near(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def percentileRule(): Unit = {
    check("median of a symmetric sample is its centre") {
      near(Stats.median(Seq(5, 1, 3)), 3) && near(Stats.median(Seq(4, 1, 3, 2)), 2.5)
    }
    check("median of two samples is their mean") { near(Stats.median(Seq(1, 2)), 1.5) }
    check("a constant sample has that value at every percentile") {
      Seq(10.0, 50.0, 75.0, 95.0).forall(p => near(Stats.percentile(Seq.fill(7)(2.5), p), 2.5))
    }
    check("p0 and p100 are min and max") {
      val xs = Seq(3.0, 9.0, 1.0)
      near(Stats.percentile(xs, 0), 1) && near(Stats.percentile(xs, 100), 9)
    }
    check("percentiles rise with p and stay within the sample") {
      val xs = Seq(0.4, 0.5, 1.2, 1.3, 1.5, 3.1, 0.45, 1.25)
      val ps = (5 to 95 by 5).map(p => Stats.percentile(xs, p))
      ps.zip(ps.tail).forall { case (a, b) => a <= b } && ps.forall(v => v >= 0.4 && v <= 3.1)
    }
    check("on a large uniform sample p75 is near the linear-interpolation p75") {
      val xs = (0 to 1000).map(_ / 1000.0)
      math.abs(Stats.percentile(xs, 75) - 0.75) < 0.005
    }
    check("a median between two op types moves less than under interpolation") {
      // six fast and six slow ops; the slowest fast op gets 20% slower
      def linear(xs: Seq[Double]) = { val s = xs.sorted; (s(5) + s(6)) / 2 }
      val before = Seq.fill(6)(1.0) ++ Seq.fill(6)(2.0)
      val after = Seq.fill(5)(1.0) ++ Seq(1.2) ++ Seq.fill(6)(2.0)
      def moved(f: Seq[Double] => Double) = (f(after) - f(before)) / f(before)
      moved(Stats.median) < moved(linear) / 2
    }
    check("40 samples: p75 has exactly 10 beyond") { Stats.tailPercentile(40).contains(75) }
    check("39 samples: p75 has fewer than 10 beyond, p70 is the tail") {
      Stats.tailPercentile(39).contains(70)
    }
    check("200 samples: p95") { Stats.tailPercentile(200).contains(95) }
    check("20 samples: only the median") { Stats.tailPercentile(20).contains(50) }
    check("19 samples: no tail percentile") { Stats.tailPercentile(19).isEmpty }
    check("every reported tail keeps >= 10 beyond") {
      (1 to 500).forall(n => Stats.tailPercentile(n).forall(p => Stats.beyond(n, p) >= 10))
    }
  }

  def img(q: Int, grp: String = "g0") = Img(grp, q, 100L * q, "n" + q)

  def lakeModel(): Unit = {
    val m = new LakeModel
    m.init((1L to 5L).map(k => k -> img(k.toInt)))
    val v0 = m.snapshot
    check("init is version 0") { m.version == 0 && m.live.size == 5 }
    m.merge(Seq(2L -> img(20), 6L -> img(6)))
    check("merge updates and inserts, new version") {
      m.version == 1 && m.live.get(2L) == img(20) && m.live.size == 6
    }
    m.delete(Seq(3L, 6L))
    check("delete removes keys") { m.version == 2 && !m.live.containsKey(3L) && m.live.size == 4 }
    m.append(Seq(7L -> img(7)))
    m.rewrite()
    check("rewrite keeps rows, adds a version") {
      m.version == 4 && m.fingerprintAt(4) == m.fingerprintAt(3)
    }
    check("fingerprints are per version") {
      m.fingerprintAt(0) == LakeModel.fingerprint(v0) && m.fingerprintAt(0) != m.fingerprintAt(1)
    }
    check("append of a live key is refused") {
      try { m.append(Seq(1L -> img(1))); false } catch { case _: IllegalArgumentException => true }
    }
    check("twin keeps deleted keys' last images, including keys born and deleted since") {
      m.twin.size == 7 && m.twin(3L) == img(3) && m.twin(6L) == img(6) && m.twin(2L) == img(20)
    }
    check("CDF counts are the window's net change") {
      // 2 updated, 3 deleted, 7 inserted; 6 inserted and deleted inside
      LakeModel.cdfCounts(v0, m.snapshot) ==
        Map("insert" -> 1L, "delete" -> 1L, "update_preimage" -> 1L, "update_postimage" -> 1L)
    }
    check("an empty window has no change rows") { LakeModel.cdfCounts(v0, v0).isEmpty }
  }

  /** The model against graft itself: the same ops on a small CDF table. */
  def lakeModelAgainstGraft(spark: SparkSession, dir: String): Unit = {
    val w = new LakeWorkload(1, dir)
    val path = s"$dir/t"
    val m = new LakeModel
    val rows = (1L to 50L).map(k => k -> img(k.toInt, s"g${k % 3}"))
    w.frame(spark, rows).coalesce(2).write.parquet(path)
    m.init(rows)
    Snapshots.init(spark, path, changeDataFeed = true)
    val before = m.snapshot
    val upd = Seq(2L -> img(200, "g2"), 60L -> img(60, "g0"))
    Snapshots.mergeVersioned(spark, path, w.frame(spark, upd), "k"); m.merge(upd)
    val mor = Seq(4L -> img(400, "g1"), 61L -> img(61, "g1"))
    Snapshots.mergeVersionedDV(spark, path, w.frame(spark, mor), "k"); m.merge(mor)
    import spark.implicits._
    Snapshots.deleteVersionedKeys(spark, path, Seq(5L, 60L).toDF("k"), "k"); m.delete(Seq(5L, 60L))
    val app = Seq(70L -> img(70, "g1"))
    Snapshots.appendVersioned(spark, path, w.frame(spark, app)); m.append(app)
    val cols = LakeModel.FingerprintSql.map(expr)
    def fp(v: Int) = {
      val r = Snapshots.read(spark, path, v).agg(cols.head, cols.tail: _*).head()
      Fingerprint(r.getLong(0), r.getLong(1), r.getLong(2))
    }
    check("graft's versions match the model's") {
      Snapshots.currentVersion(path) == m.version && (0 to m.version).forall(v => fp(v) == m.fingerprintAt(v))
    }
    check("graft's change feed counts match the model's net change") {
      Snapshots.changesCdf(spark, path, 0, m.version, "k").groupBy("_change_type").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap == LakeModel.cdfCounts(before, m.snapshot)
    }
  }

  def djb2(spark: SparkSession): Unit = {
    val words = Seq("", "a", "the", "word", "Zipf", "café", "straße", "naïve", "жук",
      "中文", "ÿ", "😀", "a b", "x" * 40)
    import spark.implicits._
    val df = words.toDF("w")
    val got = df.select(col("w"), graft.functions.djb2(col("w")),
      WordCount.djb2Pid(col("w"), 16), WordCount.djb2Pid(col("w"), 7)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    words.foreach { w =>
      check(s"djb2('$w') matches graft.functions.djb2") { got(w)._1 == Gen.djb2(w) }
      check(s"djb2 pid of '$w' mod 16 and mod 7 match WordCount.djb2Pid") {
        got(w)._2 == Gen.djb2Pid(w, 16) && got(w)._3 == Gen.djb2Pid(w, 7)
      }
    }
    check("djb2 folds signed bytes") { Gen.djb2("é") == (5381L * 33 + (-61)) * 33 + (-87) }
  }

  def benchmarkJson(): Unit = {
    val path = Paths.get("BENCHMARK.json")
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(path.toFile)
    def list(key: String) = tree.get(key).elements().asScala
      .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
    check("BENCHMARK.json end_to_end is the list Main prints") { list("end_to_end") == Main.EndToEnd }
    check("BENCHMARK.json per_layer is the list a traced run prints") { list("per_layer") == Layers.names }
    check("BENCHMARK.json workloads are the ones Main runs") {
      tree.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq ==
        Seq("wordcount", "lake_cdc", "curation")
    }
  }

  def main(args: Array[String]): Unit = {
    val cores = args.headOption.map(_.toInt).getOrElse(2)
    percentileRule()
    lakeModel()
    benchmarkJson()
    val dir = Files.createTempDirectory("perfbench-selftest").toString
    val spark = Main.session(math.min(cores, 2), dir)
    try {
      djb2(spark)
      lakeModelAgainstGraft(spark, dir)
    } finally {
      spark.stop()
      Main.deleteTree(Paths.get(dir))
    }
    System.err.println(s"selftest: $passed passed, $failures failed")
    println(s"""{"selftest_passed":$passed,"selftest_failed":$failures}""")
    if (failures > 0) sys.exit(1)
  }
}
