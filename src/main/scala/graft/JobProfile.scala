package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerJobEnd}

/** Per-job attribution profiler (measurement tooling, guide §1): runs
  * one query and prints every Spark job's call site, duration, and
  * task count — the evidence for job-floor work ("which call paths
  * launch the 423 jobs of q289"). Not part of the driver contract.
  *
  * Usage: runMain graft.JobProfile <query> [sfDir]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: JobProfile <query> [sfDir]"))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors()).toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val jobShuffle = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
    // (jobId, call site, seconds, tasks, t0, t1): the bare call site is
    // the rollup key, so the job's own start/end times ride separately
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Double, Int, Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(ev: SparkListenerJobStart): Unit = {
        // prefer the explicit phase label (JobLabel, guide §1.5); fall
        // back to the short call site
        val site = Option(ev.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(Option(ev.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?"))
        val nTasks = ev.stageInfos.map(_.numTasks).sum
        ev.stageInfos.foreach(si => stageJob.put(si.stageId, ev.jobId))
        jobs.put(ev.jobId, (s"$site tasks=$nTasks", ev.time))
      }
      override def onStageCompleted(
          ev: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        Option(stageJob.get(ev.stageInfo.stageId)).foreach { jid =>
          val m = ev.stageInfo.taskMetrics
          jobShuffle.merge(jid,
            (m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead),
            (a, b) => (a._1 + b._1, a._2 + b._2))
        }
      }
      override def onJobEnd(ev: SparkListenerJobEnd): Unit = {
        Option(jobs.remove(ev.jobId)).foreach { case (site, t0) =>
          val parts = site.split(" tasks=")
          out.add((ev.jobId, parts(0), (ev.time - t0) / 1000.0,
            parts.lift(1).map(_.toInt).getOrElse(-1), t0, ev.time))
        }
      }
    })
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    org.apache.spark.sql.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
    import scala.jdk.CollectionConverters._
    val rows = out.asScala.toSeq.sortBy(_._1)
    println(f"\n=== $name: ${rows.size} jobs, wall $wall%.2f s ===")
    rows.foreach { case (id, site, sec, tasks, t0, t1) =>
      val (sw, sr) = Option(jobShuffle.get(id)).getOrElse((0L, 0L))
      println(f"job $id%4d  $sec%7.3f s  tasks=$tasks%-4d  shW=${sw / 1e6}%9.2fMB shR=${sr / 1e6}%9.2fMB  $site t0=$t0 t1=$t1")
    }
    val bySite = rows.groupBy(_._2).map { case (s, rs) =>
      (s, rs.size, rs.map(_._3).sum)
    }.toSeq.sortBy(-_._3)
    println("\n--- by call site ---")
    bySite.foreach { case (s, n, sec) => println(f"$n%4d jobs  $sec%8.3f s  $s") }
    spark.stop()
  }
}
