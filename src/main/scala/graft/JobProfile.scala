package graft

/** Per-job attribution profiler (measurement tooling, guide §1): runs
  * one query and prints every Spark job's site (its `JobLabel`, else
  * its call site), duration, task count and shuffle bytes, then a
  * rollup by label ([[rollup]]) — the evidence for job-floor work
  * ("which call paths launch the 423 jobs of q289") — and the Janino
  * compiles and compile time of the run
  * (JVM-wide, see [[graft.core.Probe.compiles]]). Not part of the
  * driver contract.
  *
  * Usage: runMain graft.JobProfile <query> [sfDir]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: JobProfile <query> [sfDir]"))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.core.Session.local()
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
    val probe = graft.core.Probe(spark)
    val t0 = System.nanoTime()
    val result = fn(spark, sfDir)
    // the jobs that evaluate the returned frame
    graft.core.JobLabel(spark, "result")(result.write.format("noop").mode("overwrite").save())
    val wall = (System.nanoTime() - t0) / 1e9
    val jobs = probe.jobs.filter(_.end >= 0)
    val compiled = probe.compiles
    println(f"\n=== $name: ${jobs.size} jobs, wall $wall%.2f s, " +
      f"${compiled.count} Janino compiles in ${compiled.seconds}%.2f s ===")
    jobs.foreach { j =>
      println(f"job ${j.id}%4d  ${j.seconds}%7.3f s  tasks=${j.tasks}%-4d  " +
        f"shW=${j.shuffleWrite / 1e6}%9.2fMB shR=${j.shuffleRead / 1e6}%9.2fMB  ${j.site} t0=${j.start} t1=${j.end}")
    }
    println("\n--- by label ---")
    rollup(jobs).foreach { case (l, n, sec) => println(f"$n%4d jobs  $sec%8.3f s  $l") }
    spark.stop()
  }

  /** (label, jobs, seconds) per [[graft.core.Probe.Job.label]], slowest
    * first: every micro-batch of a stream rolls into one `stream` row.
    */
  def rollup(jobs: Seq[graft.core.Probe.Job]): Seq[(String, Int, Double)] =
    jobs.groupBy(_.label).map { case (l, js) => (l, js.size, js.map(_.seconds).sum) }
      .toSeq.sortBy(-_._3)
}
