package graft.perfbench

/** The per-layer metric list (BENCHMARK.json's `per_layer`, in order)
  * and the Spark/driver metrics every workload shares. A traced run
  * prints every name; an op a workload does not run reads 0. */
object Layers {
  val commitOps = Seq("merge_cow", "merge_mor", "delete_keys", "append", "compact")
  val readOps = Seq("scan_agg", "time_travel", "point_lookup", "cdf_read")
  /** Every op type of every workload. */
  val opTypes: Seq[String] =
    Seq("sink_partitioned", "sink_combined", "topk") ++ commitOps ++
      Seq("stream_drain") ++ readOps ++
      Seq("dedup", "index_build", "corpus_update", "index_refresh", "probe")

  val names: Seq[(String, String)] =
    Seq("operators.wc_map_s" -> "s", "operators.wc_reduce_s" -> "s",
      "operators.partial_agg_ratio" -> "ratio",
      "sources.sink_partitioned_s" -> "s", "sources.sink_combined_s" -> "s") ++
    commitOps.flatMap(v => Seq(s"sources.${v}_s" -> "s",
      s"sources.${v}_jobs" -> "count", s"sources.${v}_tasks" -> "count",
      s"sources.${v}_driver_s" -> "s", s"sources.${v}_write_amp" -> "ratio")) ++
    Seq("streaming.drain_s" -> "s", "streaming.drain_jobs" -> "count",
      "streaming.batches" -> "count", "streaming.batch_s" -> "s") ++
    readOps.flatMap(r => Seq(s"sources.${r}_s" -> "s",
      s"sources.${r}_jobs" -> "count", s"sources.${r}_mb_read" -> "MB")) ++
    Seq("sources.live_files" -> "count", "sources.dv_files" -> "count",
      "sources.log_mb" -> "MB", "sources.twin_live_files" -> "count") ++
    Seq("operators.dedup_s" -> "s", "operators.dedup_jobs" -> "count",
      "operators.lsh_precision" -> "ratio", "operators.index_build_s" -> "s",
      "operators.index_refresh_s" -> "s", "operators.index_jobs" -> "count",
      "operators.probe_s" -> "s", "operators.probe_jobs" -> "count",
      "operators.dedup_recall" -> "ratio", "operators.knn_recall" -> "ratio") ++
    opTypes.flatMap(o => Seq(s"spark.$o.jobs" -> "count",
      s"spark.$o.stages" -> "count", s"spark.$o.tasks" -> "count")) ++
    Seq("spark.task_busy" -> "ratio", "spark.task_cpu_s" -> "s",
      "spark.gc_s" -> "s", "spark.shuffle_mb" -> "MB", "spark.input_mb" -> "MB",
      "spark.task_skew" -> "ratio", "driver.self_s" -> "s")

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Median over timed samples of op type `op` of `f`. */
  def opMedian(rec: Recorder, op: String)(f: OpSample => Double): Double =
    med(rec.timed.filter(_.op == op).map(f))

  /** spark.<op>.{jobs,stages,tasks} per op type, and the workload's
    * per-pass Spark and driver totals (medians over passes). */
  def spark(rec: Recorder): Map[String, Double] = {
    val timed = rec.timed
    val m = timed.map(o => o -> rec.metricsOf(o)).toMap
    val perOp = timed.map(_.op).distinct.flatMap { op =>
      val xs = timed.filter(_.op == op).map(m)
      Seq(s"spark.$op.jobs" -> med(xs.map(_.jobs.toDouble)),
        s"spark.$op.stages" -> med(xs.map(_.stages.toDouble)),
        s"spark.$op.tasks" -> med(xs.map(_.tasks.toDouble)))
    }
    val byPass = timed.groupBy(_.pass).values.toSeq
    def perPass(f: OpMetrics => Double) = med(byPass.map(_.map(o => f(m(o))).sum))
    val wall = timed.map(_.wallS).sum
    perOp.toMap ++ Map(
      "spark.task_busy" -> timed.map(o => m(o).taskRunS).sum / math.max(wall * rec.cores, 1e-9),
      "spark.task_cpu_s" -> perPass(_.cpuS),
      "spark.gc_s" -> perPass(_.gcS),
      "spark.shuffle_mb" -> perPass(_.shuffleMb),
      "spark.input_mb" -> perPass(_.inputMb),
      "spark.task_skew" -> med(byPass.map(_.map(o => m(o).skew).max)),
      "driver.self_s" -> perPass(_.driverSelfS))
  }

  /** One line per op type: medians of wall and of every Spark metric. */
  def perOpTable(rec: Recorder): Seq[String] = {
    val timed = rec.timed
    val header = f"${"op"}%-17s ${"n"}%4s ${"wall_s"}%8s ${"jobs"}%5s ${"stages"}%6s " +
      f"${"tasks"}%6s ${"busy"}%6s ${"cpu_s"}%7s ${"gc_s"}%6s ${"shufMB"}%7s " +
      f"${"inMB"}%7s ${"skew"}%6s ${"drv_s"}%7s"
    header +: timed.map(_.op).distinct.map { op =>
      val xs = timed.filter(_.op == op)
      val ms = xs.map(rec.metricsOf)
      def q(f: OpMetrics => Double) = med(ms.map(f))
      val wall = med(xs.map(_.wallS))
      val busy = med(xs.zip(ms).map { case (o, mm) => mm.taskRunS / math.max(o.wallS * rec.cores, 1e-9) })
      f"$op%-17s ${xs.size}%4d $wall%8.3f ${q(_.jobs)}%5.0f ${q(_.stages)}%6.0f " +
        f"${q(_.tasks)}%6.0f $busy%6.3f ${q(_.cpuS)}%7.3f ${q(_.gcS)}%6.3f " +
        f"${q(_.shuffleMb)}%7.2f ${q(_.inputMb)}%7.2f ${q(_.skew)}%6.2f ${q(_.driverSelfS)}%7.3f"
    }
  }
}
