package graft.core

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.graft.ListenerBridge

/** The one Spark-job measurement listener: one [[Probe.Job]] per job
  * started while it is attached. A stage's metrics accrue to the job
  * that ran it (a stage skipped because its shuffle exists adds
  * nothing). [[jobs]] drains the listener bus first, so no trailing
  * stage event is missed. It also counts Janino compiles over the same
  * window ([[compiles]]).
  */
final class Probe private (sc: SparkContext, tag: Option[String]) extends SparkListener {
  import Probe.{Compiles, Job}

  private val byId = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val compiles0 = Compiles.now()

  override def onJobStart(ev: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(ev.properties).flatMap(p => Option(p.getProperty(k)))
    if (tag.forall(t => prop(Probe.TagKey).contains(t))) {
      byId.put(ev.jobId, Job(ev.jobId, prop("spark.job.description").getOrElse(""),
        prop("callSite.short").getOrElse("?"), ev.time))
      ev.stageIds.foreach(stageJob.put(_, ev.jobId))
    }
  }

  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(ev.stageInfo.stageId)).foreach { id =>
      byId.computeIfPresent(id, (_, j) => {
        def sum(f: TaskMetrics => Long) = Option(ev.stageInfo.taskMetrics).fold(0L)(f)
        j.copy(tasks = j.tasks + ev.stageInfo.numTasks,
          shuffleWrite = j.shuffleWrite + sum(_.shuffleWriteMetrics.bytesWritten),
          shuffleRead = j.shuffleRead + sum(_.shuffleReadMetrics.totalBytesRead),
          spill = j.spill + sum(m => m.memoryBytesSpilled + m.diskBytesSpilled),
          recordsWritten = j.recordsWritten + sum(_.outputMetrics.recordsWritten))
      })
    }

  override def onJobEnd(ev: SparkListenerJobEnd): Unit =
    byId.computeIfPresent(ev.jobId, (_, j) => j.copy(end = ev.time))

  /** Every job recorded so far, by id. */
  def jobs: Seq[Job] = {
    ListenerBridge.waitUntilEmpty(sc)
    byId.values.asScala.toSeq.sortBy(_.id)
  }

  /** Generated classes Janino compiled since the probe attached, and
    * their compile time — a codegen cache hit compiles nothing. JVM-WIDE
    * (Spark's `CodegenMetrics` and `CodeGenerator.compileTime`), not per
    * thread or per tag: every session and thread of the JVM counts.
    */
  def compiles: Compiles = {
    val now = Compiles.now()
    Compiles(now.count - compiles0.count, now.seconds - compiles0.seconds)
  }

  def close(): Unit = sc.removeSparkListener(this)
}

object Probe {
  /** One Spark job: its `JobLabel` description ("" when unset), epoch-ms
    * `start`/`end` (-1 while running), the tasks of the stages it ran
    * and their summed metrics (`spill` = memory + disk).
    */
  final case class Job(id: Int, description: String, callSite: String, start: Long,
                       end: Long = -1L, tasks: Int = 0, shuffleWrite: Long = 0L,
                       shuffleRead: Long = 0L, spill: Long = 0L, recordsWritten: Long = 0L) {
    /** The phase: `merge:write /t` -> `merge:write`, a streaming batch
      * -> `stream`, no description -> `unlabelled`.
      */
    def label: String =
      if (description.contains("runId = ")) "stream"
      else if (description.trim.isEmpty) "unlabelled"
      else description.trim.split("\\s+").head

    /** The description, else the short call site. */
    def site: String = if (description.nonEmpty) description else callSite

    def seconds: Double = (end - start) / 1000.0
  }

  /** `count` Janino compiles taking `seconds` in total. */
  final case class Compiles(count: Long, seconds: Double)

  object Compiles {
    /** The JVM's totals since start. */
    def now(): Compiles = Compiles(CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime / 1e9)
  }

  private val TagKey = "graft.probe"

  /** Records every job the context starts until `close()`. */
  def apply(spark: SparkSession): Probe = attach(spark.sparkContext, None)

  /** Runs `body`; returns its result and the jobs this thread (or a
    * thread it started) launched meanwhile — no other thread's.
    */
  def during[T](spark: SparkSession)(body: => T): (T, Seq[Job]) = {
    val sc = spark.sparkContext
    val (tag, prev) = (java.util.UUID.randomUUID().toString, sc.getLocalProperty(TagKey))
    val probe = attach(sc, Some(tag))
    sc.setLocalProperty(TagKey, tag)
    try { val out = body; (out, probe.jobs) }
    finally { sc.setLocalProperty(TagKey, prev); probe.close() }
  }

  // drained first: events already queued belong to earlier jobs
  private def attach(sc: SparkContext, tag: Option[String]): Probe = {
    ListenerBridge.waitUntilEmpty(sc)
    val p = new Probe(sc, tag)
    sc.addSparkListener(p)
    p
  }
}
