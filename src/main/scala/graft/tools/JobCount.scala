// Scratch profiler: run named queries through the bench's noop-sink
// methodology and report wall seconds plus scheduler volume (jobs,
// stages, tasks) — at sf0.1 the inputs are ~15 MB, so most of a slow
// query's wall is fixed per-job/per-task overhead, and this attributes
// it. Usage: sbt "runMain graft.tools.JobCount q_lake_steady q_lake_bloom"
package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

object JobCount {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    // per-callsite job attribution (SPARK_GRAFT_JOBSITES=1): which code
    // paths submit the jobs — the fix target is the call site with the
    // most submissions, not the slowest single job
    val sites = new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]
    val siteDetail = sys.env.get("SPARK_GRAFT_JOBSITES").contains("1")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (siteDetail) {
          // SQL-execution jobs carry no callSite.short; the first graft
          // frame in the root stage's call-stack details attributes the
          // submitting code path instead
          val cs = j.stageInfos.headOption.map(_.details)
            .flatMap(_.split("\n").find(l =>
              l.contains("graft.") && !l.contains("graft.tools.")))
            .map(_.trim)
            .orElse(Option(j.properties)
              .flatMap(p => Option(p.getProperty("callSite.short"))))
            .getOrElse("?")
          sites.computeIfAbsent(cs, _ => new AtomicInteger(0)).incrementAndGet()
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
      }
    })
    // same neutral warmup as Bench
    try {
      import org.apache.spark.sql.functions._
      val li = spark.read.parquet(s"$d/lineitem.parquet")
      li.agg(avg("l_tax"), countDistinct("l_linestatus")).count()
      val o = spark.read.parquet(s"$d/orders.parquet")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderstatus").count().count()
    } catch { case _: Throwable => () }
    val sc = spark.sparkContext
    args.foreach { name =>
      // every event of the previous query delivered before the reset
      org.apache.spark.ListenerBusProbe.drain(sc)
      jobs.set(0); stages.set(0); tasks.set(0); sites.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, d)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      val stage = graft.sources.LakehouseQueries.drainStagingSeconds()
      graft.sources.LakehouseQueries.reclaim()
      org.apache.spark.ListenerBusProbe.drain(sc) // listener events are async
      println(f"[jobcount] $name%-28s wall=$dt%7.2f s  stage=$stage%6.2f s" +
        f"  jobs=${jobs.get}%4d stages=${stages.get}%5d tasks=${tasks.get}%6d")
      if (siteDetail) {
        import scala.jdk.CollectionConverters._
        sites.asScala.toSeq.sortBy(-_._2.get).take(30).foreach {
          case (cs, n) => println(f"[jobsite]   ${n.get}%5d  $cs")
        }
      }
    }
    spark.stop()
  }
}
