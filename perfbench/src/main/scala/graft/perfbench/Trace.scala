package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One call into graft's public API made by the benchmark's client.
  * Times are epoch milliseconds (the clock Spark's listener events use). */
final case class OpSample(id: Int, op: String, kind: String, phase: String,
    pass: Int, startMs: Double, endMs: Double, jobs: Int,
    groups: Seq[String], failed: Boolean) {
  def wallS: Double = (endMs - startMs) / 1000.0
}

/** One pass (wordcount, curation) or round (lake_cdc) of the closed loop. */
final case class PassSample(phase: String, pass: Int, startMs: Double,
    endMs: Double) {
  def wallS: Double = (endMs - startMs) / 1000.0
}

/** What the Spark jobs attributed to one op did. */
final case class OpMetrics(jobs: Int, stages: Int, tasks: Int,
    taskRunS: Double, cpuS: Double, gcS: Double, shuffleMb: Double,
    shuffleRecords: Long, inputMb: Double, skew: Double, driverSelfS: Double)

object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  /** Epoch milliseconds at nanosecond resolution. */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Records jobs, stages and task totals from Spark's listener bus. Job
  * and stage spans are parented to the op whose job group started them. */
final class SpanListener extends SparkListener {
  final class JobRec(val id: Int, val group: String, val start: Long,
      val stageIds: Seq[Int]) {
    @volatile var end: Long = -1L
  }
  final class StageRec(val key: (Int, Int)) {
    @volatile var group: String = null
    var name = ""
    var submit = -1L
    var complete = -1L
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var shuffleBytes = 0L
    var shuffleRecords = 0L
    val taskMs = ArrayBuffer.empty[Long]
  }

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[(Int, Int), StageRec]()

  private def stage(id: Int, attempt: Int): StageRec =
    stages.computeIfAbsent((id, attempt), k => new StageRec(k))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    jobs.put(e.jobId, new JobRec(e.jobId, group, e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val s = stage(e.stageId, e.stageAttemptId)
      s.synchronized {
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.inputBytes += m.inputMetrics.bytesRead
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        s.taskMs += m.executorRunTime
      }
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
    s.group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    s.synchronized {
      s.name = i.name
      s.submit = i.submissionTime.getOrElse(-1L)
      s.complete = i.completionTime.getOrElse(-1L)
    }
  }

  def jobsOf(groups: Seq[String]): Seq[JobRec] =
    jobs.values.asScala.filter(j => j.group != null && groups.contains(j.group))
      .toSeq.sortBy(_.id)

  /** Stage attempts that ran tasks for `groups`. A stage reused from an
    * earlier op is skipped, not re-submitted, so it counts only once. */
  def stagesOf(groups: Seq[String]): Seq[StageRec] =
    stages.values.asScala.filter(s => s.group != null &&
      groups.contains(s.group) && s.tasks > 0).toSeq.sortBy(_.key)
}

/** Micro-batch durations of streaming queries, from progress events. */
final class ProgressListener extends StreamingQueryListener {
  val batchMs = new ConcurrentHashMap[String, ArrayBuffer[Long]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val buf = batchMs.computeIfAbsent(e.progress.runId.toString, _ => ArrayBuffer.empty)
    buf.synchronized(buf += e.progress.batchDuration)
  }
  def of(runIds: Seq[String]): Seq[Long] =
    runIds.flatMap(r => Option(batchMs.get(r)).map(b => b.synchronized(b.toList)).getOrElse(Nil))
}

/** The benchmark's client: times every call into graft, tags the Spark
  * jobs the call starts with a job group of its own, and counts them.
  * With `traced` it also registers the span listeners. */
final class Recorder(val spark: SparkSession, val traced: Boolean,
    val cores: Int) {
  private val sc = spark.sparkContext
  val ops = ArrayBuffer.empty[OpSample]
  val passes = ArrayBuffer.empty[PassSample]
  var phase = "setup"
  private var seq = 0
  private var curPass = -1

  val spans: Option[SpanListener] =
    if (traced) Some(new SpanListener) else None
  val progress: Option[ProgressListener] =
    if (traced) Some(new ProgressListener) else None
  spans.foreach(sc.addSparkListener)
  progress.foreach(spark.streams.addListener)

  /** Job groups an op owns besides its own (a streaming query's run id). */
  final class Ctx {
    val groups = ArrayBuffer.empty[String]
  }

  /** Time one call; `kind` is commit, read, batch or setup. */
  def op[T](name: String, kind: String)(body: Ctx => T): T = {
    seq += 1
    val group = s"pb-$phase-$seq"
    val ctx = new Ctx
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val t0 = Clock.nowMs
    var ok = false
    try {
      val r = body(ctx)
      ok = true
      r
    } finally {
      val t1 = Clock.nowMs
      sc.clearJobGroup()
      PerfbenchBridge.drainListenerBus(sc)
      val groups = group +: ctx.groups.toSeq
      val jobs = groups.map(g => sc.statusTracker.getJobIdsForGroup(g).length).sum
      ops += OpSample(seq, name, kind, phase, curPass, t0, t1, jobs, groups, !ok)
    }
  }

  def pass[T](i: Int)(body: => T): T = {
    curPass = i
    val t0 = Clock.nowMs
    try body finally passes += PassSample(phase, i, t0, Clock.nowMs)
  }

  def timed: Seq[OpSample] = ops.filter(_.phase == "timed").toSeq
  def timedPasses: Seq[PassSample] = passes.filter(_.phase == "timed").toSeq

  /** Per-op Spark metrics from the traced spans. */
  def metricsOf(o: OpSample): OpMetrics = {
    val l = spans.getOrElse(sys.error("metricsOf needs a traced run"))
    val js = l.jobsOf(o.groups)
    val ss = l.stagesOf(o.groups)
    val covered = {
      val iv = js.map(j => (math.max(j.start.toDouble, o.startMs),
        math.min((if (j.end < 0) o.endMs else j.end.toDouble), o.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0.0
      var curA = Double.NaN
      var curB = Double.NaN
      iv.foreach { case (a, b) =>
        if (curA.isNaN) { curA = a; curB = b }
        else if (a <= curB) curB = math.max(curB, b)
        else { total += curB - curA; curA = a; curB = b }
      }
      if (!curA.isNaN) total += curB - curA
      total
    }
    val skew = ss.filter(_.taskMs.size >= 2).map { s =>
      val med = Stats.median(s.taskMs.map(_.toDouble).toSeq)
      s.taskMs.max / math.max(med, 1.0)
    }.maxOption.getOrElse(1.0)
    OpMetrics(
      jobs = js.size,
      stages = ss.size,
      tasks = ss.map(_.tasks).sum,
      taskRunS = ss.map(_.runMs).sum / 1000.0,
      cpuS = ss.map(_.cpuNs).sum / 1e9,
      gcS = ss.map(_.gcMs).sum / 1000.0,
      shuffleMb = ss.map(_.shuffleBytes).sum / 1e6,
      shuffleRecords = ss.map(_.shuffleRecords).sum,
      inputMb = ss.map(_.inputBytes).sum / 1e6,
      skew = skew,
      driverSelfS = (o.endMs - o.startMs - covered) / 1000.0)
  }

  /** Stages of one op whose name matches, for operator-level splits. */
  def stagesOf(o: OpSample): Seq[SpanListener#StageRec] =
    spans.map(_.stagesOf(o.groups)).getOrElse(Nil)

  /** Stream micro-batch durations (ms) of an op's queries. */
  def batchMsOf(o: OpSample): Seq[Long] =
    progress.map(_.of(o.groups.drop(1))).getOrElse(Nil)

  /** Every span of the run — passes, ops, jobs, stages — as JSON lines:
    * name, kind, start, end (epoch ms), parent span id and op id. */
  def spanLines: Seq[String] = {
    val out = ArrayBuffer.empty[String]
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def line(id: String, name: String, kind: String, start: Double,
        end: Double, parent: String, op: Int, extra: String = ""): Unit =
      out += s"""{"id":${q(id)},"name":${q(name)},"kind":${q(kind)},""" +
        f""""start":$start%.3f,"end":$end%.3f,"parent":${if (parent == null) "null" else q(parent)},""" +
        s""""op":$op$extra}"""
    passes.foreach(p => line(s"p-${p.phase}-${p.pass}", s"${p.phase}.pass",
      "pass", p.startMs, p.endMs, null, -1))
    val l = spans
    ops.foreach { o =>
      val oid = s"o${o.id}"
      line(oid, o.op, "op", o.startMs, o.endMs,
        if (o.pass >= 0) s"p-${o.phase}-${o.pass}" else null, o.id,
        s""","phase":${q(o.phase)},"jobs":${o.jobs}""")
      l.foreach { sl =>
        val js = sl.jobsOf(o.groups)
        js.foreach { j =>
          line(s"j${j.id}", s"job ${j.id}", "job", j.start.toDouble,
            (if (j.end < 0) o.endMs else j.end.toDouble), oid, o.id)
        }
        // a stage's parent is the latest of the op's jobs that lists it
        sl.stagesOf(o.groups).filter(_.submit >= 0).foreach { s =>
          val parent = js.filter(_.stageIds.contains(s.key._1))
            .lastOption.map(j => s"j${j.id}").getOrElse(oid)
          line(s"s${s.key._1}.${s.key._2}", s.name, "stage", s.submit.toDouble,
            s.complete.toDouble, parent, o.id,
            s""","tasks":${s.tasks},"task_run_ms":${s.runMs}""")
        }
      }
    }
    out.toSeq
  }

  def stopListeners(): Unit = {
    spans.foreach(sc.removeSparkListener)
    progress.foreach(spark.streams.removeListener)
  }
}
