package cdcbench

import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval on a benchmark timeline, in epoch milliseconds. */
final case class Span(name: String, layer: String, start: Double, end: Double,
                      attrs: Map[String, Any])

/** In-memory span recorder. Spans are kept until the run ends and are
  * written out with the rest of the raw measurements, never during the
  * measured window. `traced = false` records only the spans the
  * end-to-end metrics need (batch bodies, reads, publishes); the
  * per-layer spans around sink calls use [[traceSpan]].
  */
final class Recorder(val traced: Boolean) {
  private val nano0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis().toDouble

  /** Epoch ms with nanoTime resolution (Spark's listener events carry
    * currentTimeMillis stamps, so both live on one clock).
    */
  def now(): Double = ms0 + (System.nanoTime() - nano0) / 1e6

  val spans = new ConcurrentLinkedQueue[Span]()

  def span[T](name: String, layer: String, attrs: (String, Any)*)(body: => T): T = {
    val s = now()
    try body
    finally spans.add(Span(name, layer, s, now(), attrs.toMap))
  }

  def traceSpan[T](name: String, layer: String, attrs: (String, Any)*)(body: => T): T =
    if (traced) span(name, layer, attrs: _*)(body) else body
}

/** Spark jobs and planning phases, grouped by the `JobLabel` phase name
  * the program sets as the job description. Installed only in traced
  * runs.
  */
final class JobTrace extends SparkListener with QueryExecutionListener {
  private final class Job(val label: String, val start: Long) {
    @volatile var end: Long = -1L
    val tasks = new java.util.concurrent.atomic.AtomicLong(0)
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0)
    val spillBytes = new java.util.concurrent.atomic.AtomicLong(0)
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val plans = new ConcurrentLinkedQueue[(Long, Long)]()

  /** `merge:write /table/path` -> `merge:write`; streaming batch
    * descriptions (which carry the query run id) -> `stream`.
    */
  private def labelOf(p: Properties): String = {
    val d = Option(p).flatMap(x => Option(x.getProperty("spark.job.description"))).getOrElse("")
    if (d.contains("runId = ")) "stream"
    else if (d.trim.isEmpty) "unlabelled"
    else d.trim.split("\\s+").head
  }

  override def onJobStart(ev: SparkListenerJobStart): Unit = {
    jobs.put(ev.jobId, new Job(labelOf(ev.properties), ev.time))
    ev.stageIds.foreach(s => stageJob.put(s, ev.jobId))
  }

  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(ev.stageInfo.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
      val m = ev.stageInfo.taskMetrics
      j.tasks.addAndGet(ev.stageInfo.numTasks)
      if (m != null) {
        j.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        j.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }

  override def onJobEnd(ev: SparkListenerJobEnd): Unit =
    Option(jobs.get(ev.jobId)).foreach(_.end = ev.time)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.tracker.phases.values.foreach(p => plans.add((p.startTimeMs, p.endTimeMs)))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def jobRecords: Seq[Map[String, Any]] =
    jobs.asScala.toSeq.sortBy(_._1).collect { case (id, j) if j.end >= 0 =>
      Map("id" -> id, "label" -> j.label, "start" -> j.start, "end" -> j.end,
          "tasks" -> j.tasks.get, "shuffle_bytes" -> j.shuffleBytes.get,
          "spill_bytes" -> j.spillBytes.get)
    }

  def planRecords: Seq[Seq[Long]] = plans.asScala.toSeq.map { case (s, e) => Seq(s, e) }
}

/** Every `StreamingQueryProgress` of the run (the engine keeps only the
  * most recent ones); the freshness metric maps segments to batches
  * through their start/end offset sets.
  */
final class ProgressLog extends StreamingQueryListener {
  val all = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    all.add(e.progress); ()
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def records: Seq[Map[String, Any]] = all.asScala.toSeq.filter(_.sources.nonEmpty).map { p =>
    val src = p.sources.head
    def segs(json: String): Seq[Long] =
      if (json == null) Seq.empty
      else graft.streaming.FileBusSource.parseOffsetJson(json).toSeq.sorted
    Map(
      "batch" -> p.batchId,
      "ts" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "rows" -> p.numInputRows,
      "dur" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "start" -> segs(src.startOffset),
      "end" -> segs(src.endOffset),
      "metrics" -> src.metrics.asScala.toMap)
  }
}

/** Minimal JSON writer for the raw-measurement file. */
object Json {
  def write(v: Any): String = { val sb = new StringBuilder; emit(sb, v); sb.toString }

  private def emit(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => emit(sb, x)
    case b: Boolean => sb.append(b)
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
    case n: Number => sb.append(n.toString)
    case s: String =>
      sb.append('"')
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"')
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      m.iterator.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb.append(',')
        emit(sb, k.toString); sb.append(':'); emit(sb, x)
      }
      sb.append('}')
    case it: Iterable[_] =>
      sb.append('[')
      it.iterator.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); emit(sb, x) }
      sb.append(']')
    case other => emit(sb, other.toString)
  }
}
