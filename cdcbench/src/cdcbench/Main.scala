package cdcbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** JVM side of the CDC pipeline benchmark: runs one workload and writes
  * its raw measurements (spans, Spark jobs, streaming progress, table
  * counters, correctness checks) to one JSON file. `run.py` derives the
  * metrics from that file; nothing here computes a statistic.
  *
  * Usage: cdcbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --cores C --events FILE --preload N --preload-reps R --work DIR
  *   --out FILE [--rate EV_PER_S] [--single-core 1]
  */
object Main {
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("cdcbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String): String = opt.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val traced = need("trace") == "1"
    val work = need("work")
    val rec = new Recorder(traced)

    var spark = session(need("cores").toInt, work)
    val sessionReady = rec.now()
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val jobs = new JobTrace
    if (traced) {
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(jobs)
    }

    val lines = Files.readAllLines(Paths.get(need("events")), UTF_8).asScala.toIndexedSeq
    def newRun(s: SparkSession, r: Recorder, dir: String, reps: Int) =
      new Run(s, r, dir, lines, need("preload").toInt, need("seconds").toDouble,
        need("seed").toLong, opt.getOrElse("rate", "0").toDouble, reps)
    val run = newRun(spark, rec, work, need("preload-reps").toInt)
    val error =
      try {
        Workloads.run(workload, run)
        if (traced) Workloads.transformProbe(run)
        if (opt.get("single-core").contains("1")) {
          // single-core baseline of the same drain, in a fresh local[1]
          // session of this (already warm) JVM, untraced and ungated
          org.apache.spark.sql.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
          spark.stop()
          spark = session(1, s"$work/one")
          val one = newRun(spark, new Recorder(false), s"$work/one", 1)
          Workloads.backlog(one, gate = false)
          run.out("single_core") = Map("events" -> one.out("events"), "window" -> one.out("window"))
          run.attempted.addAndGet(one.attempted.get)
          run.failed.addAndGet(one.failed.get)
        }
        None
      } catch { case scala.util.control.NonFatal(e) =>
        e.printStackTrace()
        run.attempted.incrementAndGet(); run.failed.incrementAndGet()
        Some(e.toString)
      }
    if (!spark.sparkContext.isStopped)
      org.apache.spark.sql.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)

    val hwmKb = Files.readAllLines(Paths.get("/proc/self/status"), UTF_8).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong }
      .getOrElse(-1L)
    val result = Map(
      "workload" -> workload,
      "traced" -> traced,
      "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ready_ms" -> sessionReady,
      "error" -> error,
      "attempted" -> run.attempted.get,
      "failed" -> run.failed.get,
      "checks" -> run.checkRecords,
      "rss_hwm_kb" -> hwmKb,
      "spans" -> rec.spans.asScala.toSeq.map(s =>
        Map("name" -> s.name, "layer" -> s.layer, "start" -> s.start, "end" -> s.end) ++ s.attrs),
      "progress" -> progress.records,
      "jobs" -> jobs.jobRecords,
      "plans" -> jobs.planRecords) ++ run.out
    Files.write(Paths.get(need("out")), Json.write(result).getBytes(UTF_8))
    spark.stop()
    sys.exit(0)
  }
}
