package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.sources.{PartitionedSnapshots, Snapshots}

/** `lake_cdc`: one writer/reader client on a CDF-enabled keyed table.
  * Each round commits merge_cow, merge_mor, delete_keys, append and
  * compact (packing files under [[CompactTargetBytes]]), drains a graft
  * stream of the table's change feed into a twin partitioned by `grp`
  * (one copy-on-write upsert micro-batch per round), then runs the reads
  * scan_agg, time_travel, point_lookup and cdf_read. Every round mixes
  * batch shapes the same way: merge_cow upserts a key-clustered window,
  * merge_mor and delete_keys scattered keys. Plans depend on table state
  * (DV and change files present, or folded by compaction), so every
  * round, the warm-up included, ends with a compaction: each timed round
  * then starts from the same kind of state and runs the same jobs. */
final class LakeWorkload(seed: Long, dataDir: String) extends Workload {
  val name = "lake_cdc"
  val InitRows = 20000
  val InitFiles = 8
  val Groups = 2
  val MergeUpdates = 300
  val MergeInserts = 100
  val DeleteRows = 200
  val AppendRows = 300
  val Lookups = 8
  /** Well under the ~55 KB base files and well over appends (~7 KB):
    * small files get packed, base files stay, so the table keeps a
    * multi-file layout whose shape does not hinge on the seed. */
  val CompactTargetBytes: Long = 24L << 10

  val dir = s"$dataDir/lake-s$seed-n$InitRows-f$InitFiles-g$Groups"
  val schema: StructType = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("grp", StringType), StructField("qty", IntegerType),
    StructField("price", LongType), StructField("note", StringType)))

  private def img(rnd: java.util.Random, grp: String): Img = {
    val note = new String(Array.fill(8)(('a' + rnd.nextInt(26)).toChar))
    Img(grp, 1 + rnd.nextInt(1000), 100L + rnd.nextInt(1000000), note)
  }

  lazy val initRows: Seq[(Long, Img)] = {
    val rnd = new java.util.Random(seed * 6364136223846793005L + 1)
    (1L to InitRows).map(k => k -> img(rnd, s"g${rnd.nextInt(Groups)}"))
  }

  def frame(spark: SparkSession, rows: Seq[(Long, Img)]): DataFrame =
    spark.createDataFrame(rows.map { case (k, r) =>
      Row(k, r.grp, r.qty, r.price, r.note) }.asJava, schema)

  def generate(spark: SparkSession): Unit = {
    val done = Paths.get(dir, "_DONE")
    if (!Files.exists(done)) {
      Main.deleteTree(Paths.get(dir))
      frame(spark, initRows).repartitionByRange(InitFiles, col("k"))
        .write.parquet(s"$dir/init")
      Files.write(done, Array.emptyByteArray)
    }
  }

  def instance(spark: SparkSession, i: Int, idir: String): Instance =
    new LakeInstance(spark, idir)

  /** What one round's reads returned, checked after the round. */
  final case class RoundResult(vStart: Int, vEnd: Int, start: Map[Long, Img],
      scan: Map[String, Fingerprint], travel: Fingerprint,
      lookupKeys: Seq[Long], lookup: Map[Long, Img], cdf: Map[String, Long])

  final class LakeInstance(spark: SparkSession, idir: String) extends Instance {
    val path = s"$idir/t"
    val twin = s"$idir/twin"
    val ckpt = s"$idir/ckpt"
    val model = new LakeModel
    private val results = mutable.Map.empty[Int, RoundResult]
    private val writeAmp = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    private lazy val bytesPerRow: Double = Main.dirBytes(s"$dir/init").toDouble / InitRows

    def init(rec: Recorder): Unit = {
      Files.createDirectories(Paths.get(path))
      val src = Files.list(Paths.get(s"$dir/init"))
      try src.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .foreach(f => Files.copy(f, Paths.get(path).resolve(f.getFileName)))
      finally src.close()
      model.init(initRows)
      rec.op("init", "setup")(_ => Snapshots.init(spark, path, changeDataFeed = true))
    }

    /** The stream's first drain (the v0 snapshot bootstraps the twin),
      * then one full round. */
    def warmup(rec: Recorder): Unit = {
      rec.op("stream_drain", "setup")(drain)
      round(rec, -1)
    }

    def pass(rec: Recorder, i: Int): Unit = round(rec, i)

    private def drain(ctx: Recorder#Ctx): Unit = {
      val q = spark.readStream.format("graft").option("keyCol", "k").load(path)
        .filter(col("change_type") =!= "delete")
        .drop("change_type")
        .writeStream.format("graft").option("keyCol", "k")
        .option("orderCol", "_commit_version")
        .option("checkpointLocation", ckpt).partitionBy("grp")
        .trigger(Trigger.AvailableNow()).start(twin)
      ctx.groups += q.runId.toString
      q.awaitTermination()
    }

    /** Commit op: checks the returned version against the model's and,
      * in a traced run, records bytes added per batch byte. */
    private def commit(rec: Recorder, op: String, batchRows: Int)(
        body: => Int)(applyModel: => Int): Unit = {
      val before = if (rec.traced) Main.dirBytes(path) else 0L
      val liveBefore = if (rec.traced && op == "compact") liveBytes else 0L
      val v = rec.op(op, "commit")(_ => body)
      val want = if (op == "compact" && v == model.version) model.version else applyModel
      require(v == want, s"$op committed version $v, the model expects $want")
      if (rec.traced) {
        val added = (Main.dirBytes(path) - before).toDouble
        val base = if (op == "compact") (liveBefore - liveBytes + added).max(1.0)
          else batchRows * bytesPerRow
        writeAmp.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += added / base
      }
    }

    private def liveBytes: Long =
      Snapshots.liveFiles(path, Snapshots.currentVersion(path))
        .map(f => Files.size(Paths.get(f.stripPrefix("file:")))).sum

    private def round(rec: Recorder, i: Int): Unit = {
      val rnd = new java.util.Random(seed * 1000003L + 7919L * (i + 2))
      val vStart = model.version
      val start = model.snapshot

      val cow = upserts(rnd, clustered = true)
      val cowDf = frame(spark, cow)
      commit(rec, "merge_cow", cow.size)(
        Snapshots.mergeVersioned(spark, path, cowDf, "k"))(model.merge(cow))
      val mor = upserts(rnd, clustered = false)
      val morDf = frame(spark, mor)
      commit(rec, "merge_mor", mor.size)(
        Snapshots.mergeVersionedDV(spark, path, morDf, "k"))(model.merge(mor))
      val del = pickLive(rnd, DeleteRows, clustered = false)
      val delDf = spark.createDataFrame(del.map(k => Row(k)).asJava,
        StructType(Seq(StructField("k", LongType, nullable = false))))
      commit(rec, "delete_keys", del.size)(
        Snapshots.deleteVersionedKeys(spark, path, delDf, "k"))(model.delete(del))
      val app = fresh(rnd, AppendRows)
      val appDf = frame(spark, app)
      commit(rec, "append", app.size)(
        Snapshots.appendVersioned(spark, path, appDf))(model.append(app))
      commit(rec, "compact", 0)(
        Snapshots.compact(spark, path, CompactTargetBytes))(model.rewrite())
      rec.op("stream_drain", "commit")(drain)

      val vEnd = model.version
      val scan = rec.op("scan_agg", "read")(_ =>
        Snapshots.read(spark, path).groupBy("grp").agg(fpCols.head, fpCols.tail: _*)
          .collect())
      val travel = rec.op("time_travel", "read")(_ =>
        Snapshots.read(spark, path, vStart).agg(fpCols.head, fpCols.tail: _*).collect())
      val keys = pickLive(rnd, Lookups - 2, clustered = false) ++ del.take(2)
      val lookup = rec.op("point_lookup", "read")(_ =>
        Snapshots.readPointLookupIn(spark, path, "k", keys).collect())
      val cdf = rec.op("cdf_read", "read")(_ =>
        Snapshots.changesCdf(spark, path, vStart, vEnd, "k")
          .groupBy("_change_type").count().collect())

      results(i) = RoundResult(vStart, vEnd, start,
        scan.map(r => r.getString(0) -> fp(r, 1)).toMap, fp(travel.head, 0),
        keys, lookup.map(rowImg).toMap,
        cdf.map(r => r.getString(0) -> r.getLong(1)).toMap)
    }

    private def fpCols = LakeModel.FingerprintSql.map(expr)

    private def fp(r: Row, at: Int) =
      Fingerprint(r.getLong(at), r.getLong(at + 1), r.getLong(at + 2))

    private def rowImg(r: Row): (Long, Img) =
      r.getAs[Long]("k") -> Img(r.getAs[String]("grp"), r.getAs[Int]("qty"),
        r.getAs[Long]("price"), r.getAs[String]("note"))

    /** Live keys: a contiguous key window (clustered) or uniform draws. */
    private def pickLive(rnd: java.util.Random, n: Int, clustered: Boolean): Seq[Long] = {
      val lo = model.live.firstKey.longValue
      val hi = model.live.lastKey.longValue
      if (clustered) {
        val from = lo + (rnd.nextDouble() * (hi - lo)).toLong
        val it = (model.live.tailMap(from).keySet().asScala.iterator ++
          model.live.keySet().asScala.iterator).map(_.longValue)
        it.distinct.take(n).toSeq
      } else {
        val out = mutable.LinkedHashSet.empty[Long]
        while (out.size < n) {
          val k = model.live.ceilingKey(lo + (rnd.nextDouble() * (hi - lo)).toLong)
          if (k != null) out += k.longValue
        }
        out.toSeq
      }
    }

    private def fresh(rnd: java.util.Random, n: Int): Seq[(Long, Img)] =
      (0 until n).map { _ =>
        val k = model.nextKey
        model.nextKey += 1
        k -> img(rnd, s"g${rnd.nextInt(Groups)}")
      }

    /** Updates of live keys (every image changes; `grp` is kept) plus
      * inserts of new keys. */
    private def upserts(rnd: java.util.Random, clustered: Boolean): Seq[(Long, Img)] = {
      val upd = pickLive(rnd, MergeUpdates, clustered).map { k =>
        val old = model.live.get(k)
        var r = img(rnd, old.grp)
        while (r.qty == old.qty) r = img(rnd, old.grp)
        k -> r
      }
      upd ++ fresh(rnd, MergeInserts)
    }

    private def readFp(df: DataFrame): Fingerprint =
      fp(df.agg(fpCols.head, fpCols.tail: _*).collect().head, 0)

    def check(rec: Recorder, i: Int): Seq[String] = {
      val r = results.remove(i).get
      val errs = mutable.ArrayBuffer.empty[String]
      val head = model.liveRows.groupBy(_._2.grp).map { case (g, rows) =>
        g -> LakeModel.fingerprint(rows) }
      if (r.scan != head) errs += s"round $i: scan_agg ${r.scan} != model $head"
      if (r.travel != model.fingerprintAt(r.vStart))
        errs += s"round $i: time travel to v${r.vStart} differs from the model"
      val wantLookup = r.lookupKeys.flatMap(k => Option(model.live.get(k)).map(k -> _)).toMap
      if (r.lookup != wantLookup) errs += s"round $i: point lookup differs from the model"
      val wantCdf = LakeModel.cdfCounts(r.start, model.snapshot)
      if (r.cdf != wantCdf) errs += s"round $i: CDF counts ${r.cdf} != model $wantCdf"
      // every version this round touched, in one query
      val versions = (r.vStart + 1 to r.vEnd)
      val byV = versions.map(v => Snapshots.read(spark, path, v).withColumn("v", lit(v)))
        .reduce(_ unionByName _).groupBy("v").agg(fpCols.head, fpCols.tail: _*)
        .collect().map(row => row.getInt(0) -> fp(row, 1)).toMap
      versions.foreach { v =>
        if (!byV.get(v).contains(model.fingerprintAt(v)))
          errs += s"round $i: version $v ${byV.get(v)} != model ${model.fingerprintAt(v)}"
      }
      val twinFp = readFp(spark.read.format("graft").option("partitionCol", "grp").load(twin))
      if (twinFp != model.twinFingerprint)
        errs += s"round $i: twin $twinFp != model ${model.twinFingerprint}"
      errs.toSeq
    }

    override def finalCheck(rec: Recorder): Seq[String] = {
      val rows = Snapshots.read(spark, path).collect().map(rowImg).toMap
      if (rows == model.snapshot) Nil else Seq("final head differs from the model row by row")
    }

    def perLayer(rec: Recorder): Map[String, Double] = {
      def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      val m = rec.timed.map(o => o -> rec.metricsOf(o)).toMap
      def of(op: String) = rec.timed.filter(_.op == op)
      val commits = Layers.commitOps.flatMap { v =>
        val xs = of(v)
        Seq(s"sources.${v}_s" -> med(xs.map(_.wallS)),
          s"sources.${v}_jobs" -> med(xs.map(_.jobs.toDouble)),
          s"sources.${v}_tasks" -> med(xs.map(m(_).tasks.toDouble)),
          s"sources.${v}_driver_s" -> med(xs.map(m(_).driverSelfS)),
          s"sources.${v}_write_amp" -> med(writeAmp.getOrElse(v, Nil).toSeq))
      }
      val reads = Layers.readOps.flatMap { r =>
        val xs = of(r)
        Seq(s"sources.${r}_s" -> med(xs.map(_.wallS)),
          s"sources.${r}_jobs" -> med(xs.map(_.jobs.toDouble)),
          s"sources.${r}_mb_read" -> med(xs.map(m(_).inputMb)))
      }
      val drains = of("stream_drain")
      val head = Snapshots.currentVersion(path)
      val twinFiles = PartitionedSnapshots.partitions(twin).map { p =>
        val d = PartitionedSnapshots.partitionDir(twin, p)
        Snapshots.liveFiles(d, Snapshots.currentVersion(d)).size
      }.sum
      (commits ++ reads).toMap ++ Map(
        "streaming.drain_s" -> med(drains.map(_.wallS)),
        "streaming.drain_jobs" -> med(drains.map(_.jobs.toDouble)),
        "streaming.batches" -> med(drains.map(rec.batchMsOf(_).size.toDouble)),
        "streaming.batch_s" -> med(drains.flatMap(rec.batchMsOf).map(_ / 1000.0)),
        "sources.live_files" -> Snapshots.liveFiles(path, head).size.toDouble,
        "sources.dv_files" -> Snapshots.dvFiles(path, head).size.toDouble,
        "sources.log_mb" -> Main.dirBytes(s"$path/_graft_log") / 1e6,
        "sources.twin_live_files" -> twinFiles.toDouble)
    }

    def nominalPassS = 10.0
    def minPasses = 2

    override def report: Seq[String] = Seq(
      s"table: $InitRows initial rows, head v${model.version}, " +
        s"${model.live.size} live rows, twin ${model.twin.size} keys")
  }
}
