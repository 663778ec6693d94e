package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Similarity}
import graft.sources.Snapshots

/** `curation`: training-data preparation. A corpus of Zipf-vocabulary
  * documents with planted near-duplicate clusters goes through
  * Dedup.nearDupPairs and connectedComponents; a corpus of clustered
  * embeddings gets an IVF index (Similarity.createVectorIndex), probes,
  * a corpus update, an incremental refreshVectorIndex and more probes.
  * Each pass releases the dedup registries first and builds its own
  * index, so no pass is served from an earlier one's cache. */
final class CurationWorkload(seed: Long, dataDir: String) extends Workload {
  val name = "curation"
  val Docs = 1200
  val Clusters = 80
  val Vocab = 20000
  val Tau = 0.5
  val Vectors = 2400
  val Dim = 32
  val Centers = 24
  val Cells = 16
  val K = 10
  val ProbesPerPhase = 2
  val ProbeKeys = 4
  val UpdateRows = 200
  /** Floors: the pair join is exact, so every planted pair clear of the
    * threshold must be found; IVF with nprobe 4 of 16 cells is not. */
  val DedupRecallFloor = 1.0
  val KnnRecallFloor = 0.8

  val dir = s"$dataDir/curation-s$seed-d$Docs-c$Clusters-v$Vectors-x$Dim"
  def docsDir = s"$dir/docs"

  /** doc_id → text, and the planted pairs whose Jaccard clears Tau by a
    * margin (so rounding at the threshold cannot decide them). */
  lazy val (texts, planted): (Map[Long, String], Set[(Long, Long)]) = {
    val rnd = new java.util.Random(seed * 2862933555777941757L + 3)
    val words = Gen.vocabulary(seed + 101, Vocab)
    val zipf = new Gen.Zipf(Vocab, 1.0)
    def doc() = Array.fill(50 + rnd.nextInt(21))(words(zipf.sample(rnd)))
    val out = mutable.LinkedHashMap.empty[Long, String]
    val clusters = mutable.ArrayBuffer.empty[Seq[Long]]
    var id = 0L
    while (out.size < Docs) {
      val base = doc()
      val members = if (clusters.size < Clusters) 2 + rnd.nextInt(2) else 1
      val ids = (0 until members).map { m =>
        val d = base.clone()
        if (m > 0) (0 until 1 + rnd.nextInt(2)).foreach(_ =>
          d(rnd.nextInt(d.length)) = words(rnd.nextInt(Vocab)))
        out(id) = d.mkString(" ")
        id += 1
        id - 1
      }
      if (members > 1) clusters += ids
    }
    val t = out.toMap
    val pairs = for {
      c <- clusters.toSeq; a <- c; b <- c if a < b
      if jaccard(t(a), t(b)) >= Tau + 0.001
    } yield (a, b)
    (t, pairs.toSet)
  }

  def shingles(text: String): Set[String] =
    text.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  def jaccard(a: String, b: String): Double = {
    val (sa, sb) = (shingles(a), shingles(b))
    (sa intersect sb).size.toDouble / (sa union sb).size
  }

  private val centers: Array[Array[Double]] = {
    val rnd = new java.util.Random(seed * 3935559000370003845L + 5)
    Array.fill(Centers)(Array.fill(Dim)(rnd.nextGaussian()))
  }

  def vector(rnd: java.util.Random): Array[Float] = {
    val c = centers(rnd.nextInt(Centers))
    c.map(x => (x + 0.35 * rnd.nextGaussian()).toFloat)
  }

  lazy val initVectors: Map[Long, Array[Float]] = {
    val rnd = new java.util.Random(seed * 1442695040888963407L + 9)
    (0L until Vectors).map(i => i -> vector(rnd)).toMap
  }

  val vecSchema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  def vecFrame(spark: SparkSession, v: Iterable[(Long, Array[Float])]) =
    spark.createDataFrame(v.toSeq.sortBy(_._1).map { case (i, e) =>
      Row(i, e.toSeq) }.asJava, vecSchema)

  def generate(spark: SparkSession): Unit = {
    val done = Paths.get(dir, "_DONE")
    if (!Files.exists(done)) {
      Main.deleteTree(Paths.get(dir))
      spark.createDataFrame(texts.toSeq.sortBy(_._1).map { case (i, t) => Row(i, t) }.asJava,
        StructType(Seq(StructField("doc_id", LongType, nullable = false),
          StructField("text", StringType))))
        .coalesce(2).write.parquet(s"$docsDir/documents.parquet")
      vecFrame(spark, initVectors).coalesce(4).write.parquet(s"$dir/vectors")
      Files.write(done, Array.emptyByteArray)
    }
    planted
    initVectors
  }

  def instance(spark: SparkSession, i: Int, idir: String): Instance =
    new CurationInstance(spark, idir)

  /** One probe call: its keys, the corpus version and vectors it ran
    * against, and its (query, neighbour, cosine) rows. */
  final case class Probe(keys: Seq[Long], corpusV: Int, vecs: Map[Long, Array[Float]],
      rows: Seq[(Long, Long, Double)])
  final case class PassResult(pairs: Seq[(Long, Long)], comps: Map[Long, Long],
      probes: Seq[Probe])

  final class CurationInstance(spark: SparkSession, idir: String) extends Instance {
    val corpus = s"$idir/corpus"
    private var vecs = Map.empty[Long, Array[Float]]
    private val passResults = mutable.Map.empty[Int, PassResult]
    private val recalls = mutable.ArrayBuffer.empty[(Double, Double)] // (dedup, knn)
    private var lastPairs = Set.empty[(Long, Long)]

    def init(rec: Recorder): Unit = {
      Files.createDirectories(Paths.get(corpus))
      val src = Files.list(Paths.get(s"$dir/vectors"))
      try src.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .foreach(f => Files.copy(f, Paths.get(corpus).resolve(f.getFileName)))
      finally src.close()
      vecs ++= initVectors
      rec.op("init", "setup")(_ => Snapshots.init(spark, corpus))
    }

    def warmup(rec: Recorder): Unit = pass(rec, -1)

    def pass(rec: Recorder, p: Int): Unit = {
      val rnd = new java.util.Random(seed * 6364136223846793005L + 7919L * (p + 2))
      Dedup.unpersistShingleIndexes()
      val (pairs, comps) = rec.op("dedup", "batch") { _ =>
        val pairs = Dedup.nearDupPairs(spark, docsDir, Tau)
        val cc = Dedup.connectedComponents(pairs.select("doc_a", "doc_b"))
        (pairs.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq,
          cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      }
      val idx = s"$idir/index-p$p"
      rec.op("index_build", "commit")(_ =>
        Similarity.createVectorIndex(spark, corpus, idx, Cells))
      val probes = mutable.ArrayBuffer.empty[Probe]
      def probePhase(): Unit = (0 until ProbesPerPhase).foreach { _ =>
        val keys = Seq.fill(ProbeKeys)(rnd.nextInt(Vectors).toLong).distinct
        val v = Snapshots.currentVersion(corpus)
        val rows = rec.op("probe", "read")(_ =>
          Similarity.probeVectorIndex(spark, idx, keys, K).collect())
        probes += Probe(keys, v, vecs, rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq)
      }
      probePhase()
      val moved = (0 until UpdateRows).map(_ => rnd.nextInt(Vectors).toLong).distinct
        .map(i => i -> vector(rnd))
      val upd = vecFrame(spark, moved)
      rec.op("corpus_update", "commit")(_ =>
        Snapshots.mergeVersioned(spark, corpus, upd, "vec_id"))
      vecs ++= moved
      rec.op("index_refresh", "commit")(_ => Similarity.refreshVectorIndex(spark, idx))
      probePhase()
      passResults(p) = PassResult(pairs, comps, probes.toSeq)
    }

    def check(rec: Recorder, p: Int): Seq[String] = {
      val r = passResults.remove(p).get
      val errs = mutable.ArrayBuffer.empty[String]
      val bad = r.pairs.filter { case (a, b) =>
        BigDecimal(jaccard(texts(a), texts(b))).setScale(4, BigDecimal.RoundingMode.HALF_UP) < Tau }
      if (bad.nonEmpty) errs += s"pass $p: ${bad.size} reported pairs below Jaccard $Tau, e.g. ${bad.head}"
      val found = r.pairs.toSet
      val dedupRecall = planted.count(found.contains).toDouble / math.max(planted.size, 1)
      val split = r.pairs.filter { case (a, b) => r.comps.get(a) != r.comps.get(b) }
      if (split.nonEmpty) errs += s"pass $p: ${split.size} pairs straddle two components"
      // exact neighbours per served corpus version, one query each
      val exact = r.probes.groupBy(_.corpusV).flatMap { case (v, ps) =>
        val c = Snapshots.read(spark, corpus, v).select("vec_id", "embedding")
        val q = c.filter(col("vec_id").isin(ps.flatMap(_.keys).distinct: _*))
        Similarity.bruteForceKnn(c, q, K).collect()
          .groupBy(_.getLong(0)).map { case (k, rows) => (v, k) -> rows.map(_.getLong(1)).toSet }
      }
      val perQuery = r.probes.flatMap { pr =>
        pr.keys.map { k =>
          val got = pr.rows.filter(_._1 == k).map(_._2).toSet
          val want = exact.getOrElse((pr.corpusV, k), Set.empty[Long])
          if (want.isEmpty) 1.0 else (got intersect want).size.toDouble / want.size
        }
      }
      val knnRecall = perQuery.sum / math.max(perQuery.size, 1)
      // every reported similarity is the true cosine of the two vectors
      val wrongCos = r.probes.map { pr =>
        pr.rows.count { case (q, n, c) => math.abs(cosine(pr.vecs(q), pr.vecs(n)) - c) > 2e-4 }
      }.sum
      if (wrongCos > 0) errs += s"pass $p: $wrongCos probe similarities differ from the vectors'"
      recalls += ((dedupRecall, knnRecall))
      if (dedupRecall < DedupRecallFloor)
        errs += f"pass $p: dedup recall $dedupRecall%.4f below $DedupRecallFloor"
      if (knnRecall < KnnRecallFloor)
        errs += f"pass $p: knn recall $knnRecall%.4f below $KnnRecallFloor"
      lastPairs = found
      Main.deleteTree(Paths.get(s"$idir/index-p$p"))
      Main.deleteTree(Paths.get(s"$idir/index-p${p}_centroids"))
      errs.toSeq
    }

    private def cosine(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      BigDecimal(d / math.sqrt(na * nb)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }

    def perLayer(rec: Recorder): Map[String, Double] = {
      def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      def of(op: String) = rec.timed.filter(_.op == op)
      val indexJobs = rec.timed.filter(o => o.op == "index_build" || o.op == "index_refresh")
        .groupBy(_.pass).values.map(_.map(_.jobs).sum.toDouble).toSeq
      // LSH candidates of the same corpus, outside the timed window;
      // precision = candidates the exact join verified / candidates
      val candidates = Dedup.lshCandidates(graft.Tables.documents(spark, docsDir))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      Map(
        "operators.dedup_s" -> med(of("dedup").map(_.wallS)),
        "operators.dedup_jobs" -> med(of("dedup").map(_.jobs.toDouble)),
        "operators.lsh_precision" ->
          candidates.count(lastPairs.contains).toDouble / math.max(candidates.length, 1),
        "operators.index_build_s" -> med(of("index_build").map(_.wallS)),
        "operators.index_refresh_s" -> med(of("index_refresh").map(_.wallS)),
        "operators.index_jobs" -> med(indexJobs),
        "operators.probe_s" -> med(of("probe").map(_.wallS)),
        "operators.probe_jobs" -> med(of("probe").map(_.jobs.toDouble)),
        "operators.dedup_recall" -> med(recalls.map(_._1).toSeq),
        "operators.knn_recall" -> med(recalls.map(_._2).toSeq))
    }

    def nominalPassS = 8.0
    def minPasses = 2

    override def report: Seq[String] = Seq(
      s"corpus: $Docs docs, ${planted.size} planted pairs over Jaccard $Tau, $Vectors vectors",
      f"dedup_recall ${recalls.map(_._1).minOption.getOrElse(0.0)}%.4f ratio (min over passes, floor $DedupRecallFloor)",
      f"knn_recall   ${recalls.map(_._2).minOption.getOrElse(0.0)}%.4f ratio (min over passes, floor $KnnRecallFloor)")

    override def release(): Unit = Dedup.unpersistShingleIndexes()
  }
}
