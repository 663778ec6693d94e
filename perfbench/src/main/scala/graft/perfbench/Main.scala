package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One workload's tables and client for one set-up instance. */
trait Instance {
  /** Table init: the part of set-up after session start. */
  def init(rec: Recorder): Unit
  /** Warm-up (JIT, and table state such as DV and change files, brought
    * to what every later pass sees); the last part of set-up. */
  def warmup(rec: Recorder): Unit
  /** One pass (or lake round) of the closed loop. */
  def pass(rec: Recorder, i: Int): Unit
  /** Correctness gate after pass `i`, outside the timed window:
    * one message per wrong result. */
  def check(rec: Recorder, i: Int): Seq[String]
  /** Gate at the end of the timed phase (recall floors, final state). */
  def finalCheck(rec: Recorder): Seq[String] = Nil
  /** Workload-specific per-layer metrics of a traced run. */
  def perLayer(rec: Recorder): Map[String, Double]
  /** Extra lines for the human-readable report. */
  def report: Seq[String] = Nil
  /** Nominal seconds of op time per pass: a run makes
    * max(minPasses, ceil(seconds / nominalPassS)) passes, a count fixed
    * by the arguments alone, so every run pools the same samples. */
  def nominalPassS: Double
  def minPasses: Int
  /** Release driver/executor state before the session stops. */
  def release(): Unit = ()
}

trait Workload {
  def name: String
  /** Seeded inputs, generated (or found cached) outside any timing. */
  def generate(spark: SparkSession): Unit
  def instance(spark: SparkSession, i: Int, dir: String): Instance
}

/** Usage: Main <workload> <seed> <seconds> <trace 0|1> <cores> <buildDir>
  *
  * Runs one workload in this JVM: set-up, which starts a session and
  * initialises the tables [[SetUps]] times (each on fresh directories;
  * the first session also generates the seeded inputs, untimed) and
  * then warms up the last instance;
  * a closed loop of passes with one client, as many as make about
  * `seconds` of op time (see [[Instance.nominalPassS]]), each followed
  * by its correctness gate outside the timed window. setup_s is
  * the median session-plus-init time plus the warm-up time. Prints a
  * report on stderr and one JSON line on stdout. */
object Main {
  /** BENCHMARK.json's `end_to_end` metrics, in order: (name, unit). */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "batch_s_p50" -> "s",
    "commit_s_p50" -> "s", "commit_s_p75" -> "s", "read_s_p50" -> "s",
    "read_s_p75" -> "s", "heap_live_mb" -> "MB")
  val SetUps = 3
  /** Start no pass after this much wall time, so a run ends well inside 180 s. */
  val WallCapS = 140.0

  def session(cores: Int, dir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workloadOf(name: String, seed: Long, dataDir: String): Workload = name match {
    case "wordcount" => new WordCountWorkload(seed, dataDir)
    case "lake_cdc" => new LakeWorkload(seed, dataDir)
    case "curation" => new CurationWorkload(seed, dataDir)
    case other => sys.error(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val Array(wName, seedS, secondsS, traceS, coresS, buildDir) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cores = coresS.toInt
    val runDir = s"$buildDir/runs/$wName-$seed-${ProcessHandle.current().pid()}"
    val wall0 = Clock.nowMs
    val w = workloadOf(wName, seed, s"$buildDir/data")
    try run(w, seed, seconds, traced, cores, runDir, s"$buildDir/traces", wall0)
    finally deleteTree(Paths.get(runDir))
  }

  private def run(w: Workload, seed: Long, seconds: Double, traced: Boolean,
      cores: Int, runDir: String, traceDir: String, wall0: Double): Unit = {
    val tSetup = Clock.nowMs
    var genS = 0.0
    val initS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var rec: Recorder = null
    var inst: Instance = null
    for (i <- 0 until SetUps) {
      val t0 = Clock.nowMs
      spark = session(cores, runDir)
      if (i == 0) { // input generation is not set-up: time it apart
        val g0 = Clock.nowMs
        w.generate(spark)
        genS = (Clock.nowMs - g0) / 1000.0
      }
      rec = new Recorder(spark, traced && i == SetUps - 1, cores)
      inst = w.instance(spark, i, s"$runDir/i$i")
      inst.init(rec)
      initS += (Clock.nowMs - t0) / 1000.0 - (if (i == 0) genS else 0.0)
      if (i < SetUps - 1) { inst.release(); spark.stop() }
    }
    val w0 = Clock.nowMs
    inst.warmup(rec)
    val warmS = (Clock.nowMs - w0) / 1000.0
    val setupS = Stats.median(initS.toSeq) + warmS

    rec.phase = "timed"
    val failures = ArrayBuffer.empty[String]
    val passes = math.max(inst.minPasses, math.ceil(seconds / inst.nominalPassS).toInt)
    var i = 0
    var checkS = 0.0
    val tTimed = Clock.nowMs
    while (failures.isEmpty && i < passes && (Clock.nowMs - wall0) / 1000.0 < WallCapS) {
      try rec.pass(i)(inst.pass(rec, i))
      catch { case e: Throwable =>
        failures += s"pass $i: ${e.getClass.getSimpleName}: ${e.getMessage}"
        e.printStackTrace()
      }
      val c0 = Clock.nowMs
      if (failures.isEmpty) failures ++= inst.check(rec, i)
      checkS += (Clock.nowMs - c0) / 1000.0
      i += 1
    }
    if (i < passes && failures.isEmpty)
      failures += s"wall cap ${WallCapS}s reached after $i of $passes passes"

    val heapMb = liveHeapMb(spark)

    if (failures.isEmpty) failures ++= inst.finalCheck(rec)
    failures ++= jobCountGate(rec)
    val timed = rec.timed
    val opFailures = timed.count(_.failed)

    val passS = timed.groupBy(_.pass).toSeq.sortBy(_._1).map(_._2.map(_.wallS).sum)
    val commits = timed.filter(_.kind == "commit").map(_.wallS)
    val reads = timed.filter(_.kind == "read").map(_.wallS)
    def pct(xs: Seq[Double], p: Double) = if (xs.isEmpty) 0.0 else Stats.percentile(xs, p)
    val measured = Map(
      "setup_s" -> (setupS, initS.size),
      "batch_s_p50" -> (pct(passS, 50), passS.size),
      "commit_s_p50" -> (pct(commits, 50), commits.size),
      "commit_s_p75" -> (pct(commits, 75), commits.size),
      "read_s_p50" -> (pct(reads, 50), reads.size),
      "read_s_p75" -> (pct(reads, 75), reads.size),
      "heap_live_mb" -> (heapMb, 1))
    val e2e = EndToEnd.map { case (n, u) => (n, measured(n)._1, u, measured(n)._2) }

    val attempted = math.max(1, timed.size)
    val failed = math.min(attempted, opFailures + failures.size)
    val err = System.err
    err.println(s"== perfbench ${w.name} seed=$seed cores=$cores " +
      s"trace=${if (traced) 1 else 0} passes=${passS.size} ops=${timed.size}")
    e2e.foreach { case (n, v, u, k) => err.println(f"  $n%-14s $v%12.4f $u%-3s n=$k") }
    err.println(f"  error_rate     ${failed.toDouble / attempted}%12.4f ratio " +
      s"($failed failed of $attempted)")
    Seq("commit" -> commits.size, "read" -> reads.size).foreach { case (k, n) =>
      err.println(s"  $k tail: highest percentile with >=${Stats.MinBeyond} " +
        s"beyond = ${Stats.tailPercentile(n).map("p" + _).getOrElse("none")} (n=$n)")
    }
    err.println(f"  setup: session+init ${initS.map(x => f"$x%.3f").mkString(" ")} s " +
      f"(median ${Stats.median(initS.toSeq)}%.3f), warm-up $warmS%.3f s")
    err.println(f"  wall: generate $genS%.1f s, set-up ${(tTimed - tSetup) / 1000 - genS}%.1f s, " +
      f"passes ${(Clock.nowMs - tTimed) / 1000 - checkS}%.1f s, checks $checkS%.1f s")
    inst.report.foreach(l => err.println("  " + l))
    err.println("  op medians: " + timed.groupBy(_.op).toSeq.sortBy(_._1).map { case (op, xs) =>
      f"$op ${Stats.median(xs.map(_.wallS))}%.3f s/${xs.head.jobs} jobs" }.mkString(", "))
    failures.foreach(f => err.println("  FAIL " + f))

    val metrics: Seq[(String, Double, String)] =
      if (!traced) e2e.map { case (n, v, u, _) => (n, v, u) }
      else {
        val layer = inst.perLayer(rec) ++ Layers.spark(rec)
        val m = Layers.names.map { case (n, u) => (n, layer.getOrElse(n, 0.0), u) }
        val extra = layer.keySet -- Layers.names.map(_._1)
        require(extra.isEmpty, s"per-layer metrics missing from the list: $extra")
        writeTrace(rec, traceDir, w.name, seed, layer, e2e)
        m
      }
    rec.stopListeners()
    inst.release()
    spark.stop()

    val body = metrics.map { case (n, v, u) =>
      s""""$n":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":{$body}}""")
  }

  /** Heap in use after full GCs, once it stops moving: Spark's
    * ContextCleaner releases broadcast and shuffle blocks only after a
    * GC has found their handles dead, so one GC is not enough. */
  def liveHeapMb(spark: SparkSession): Double = {
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
    def used() = { System.gc(); Thread.sleep(200); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    var prev = used()
    var cur = used()
    var n = 2
    while (n < 10 && math.abs(cur - prev) > (1L << 20)) { prev = cur; cur = used(); n += 1 }
    cur / 1e6
  }

  /** Fail loudly when an op type's job count moves between timed passes:
    * job counts are the currency the roadmap trusts over wall time. (The
    * workloads keep the table state every pass starts from the same.) */
  def jobCountGate(rec: Recorder): Seq[String] =
    rec.timed.groupBy(_.op).toSeq.sortBy(_._1).flatMap { case (op, xs) =>
      val counts = xs.sortBy(_.id).map(_.jobs)
      if (counts.distinct.size <= 1) Nil
      else Seq(s"job count of $op varies between timed passes: ${counts.mkString(",")}")
    }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def writeTrace(rec: Recorder, dir: String, w: String, seed: Long,
      layer: Map[String, Double], e2e: Seq[(String, Double, String, Int)]): Unit = {
    Files.createDirectories(Paths.get(dir))
    val stem = s"$dir/$w-seed$seed"
    Files.write(Paths.get(stem + ".spans.jsonl"),
      (rec.spanLines.mkString("\n") + "\n").getBytes("UTF-8"))
    val perOp = Layers.perOpTable(rec)
    val lines = ArrayBuffer.empty[String]
    lines += s"workload $w seed $seed (traced)"
    e2e.foreach { case (n, v, u, k) => lines += f"e2e   $n%-28s $v%12.4f $u n=$k" }
    layer.toSeq.sortBy(_._1).foreach { case (n, v) => lines += f"layer $n%-28s $v%12.4f" }
    lines ++= perOp
    Files.write(Paths.get(stem + ".summary.txt"),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    perOp.foreach(l => System.err.println("  " + l))
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      } finally s.close()
    }

  def dirBytes(p: String): Long = {
    val path = Paths.get(p)
    if (!Files.exists(path)) 0L
    else {
      val s = Files.walk(path)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      } finally s.close()
    }
  }
}
