package cdcbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Cdc
import graft.sink.Warehouse
import graft.streaming.{FileBus, FileBusSource}
import Pipeline.Tables

/** Inputs and shared state of one benchmark run. `lines` are the
  * generator's envelope lines; the first `preload` of them build the
  * table during set-up, the rest are the workload's own input.
  */
final class Run(val spark: SparkSession, val rec: Recorder, val work: String,
                val lines: IndexedSeq[String], val preload: Int,
                val seconds: Double, val seed: Long, val rate: Double,
                val preloadReps: Int) {
  val out = mutable.LinkedHashMap.empty[String, Any]
  private val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val attempted = new AtomicLong(0)
  val failed = new AtomicLong(0)

  /** Count one operation; a throw counts as a failure, not a crash. */
  def op[T](body: => T): Option[T] = {
    attempted.incrementAndGet()
    try Some(body)
    catch { case scala.util.control.NonFatal(e) =>
      failed.incrementAndGet()
      System.err.println(s"operation failed: $e")
      None
    }
  }

  /** One correctness check: an operation that fails unless it holds. */
  def check(name: String)(ok: => Boolean): Unit = {
    attempted.incrementAndGet()
    val holds =
      try ok
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"check $name threw: $e")
        false
      }
    if (!holds) failed.incrementAndGet()
    checks += Map("name" -> name, "ok" -> holds)
  }

  def checkRecords: Seq[Map[String, Any]] = checks.toSeq

  /** Resource counters read at the edges of the measured window: GC
    * time, this process's CPU time, and the host's steal and total CPU
    * ticks (`/proc/stat`), which show time the hypervisor gave to others.
    */
  def usage(): Map[String, Long] = {
    val mx = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
      .split("\\s+").drop(1).map(_.toLong)
    Map(
      "gc_ms" -> java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).filter(_ >= 0).sum,
      "process_cpu_ns" -> mx.getProcessCpuTime,
      "host_steal_ticks" -> (if (cpu.length > 7) cpu(7) else 0L),
      "host_ticks" -> cpu.sum)
  }

  def busBytes(): Map[String, Long] =
    Map("published" -> FileBus.bytesPublished.get, "consumed" -> FileBus.bytesConsumed.get)

  def sleepUntil(t: Double): Unit = {
    val ms = t - rec.now()
    if (ms > 0) Thread.sleep(ms.toLong, ((ms - ms.toLong) * 1e6).toInt)
  }
}

object Workloads {
  // cdc_steady: open loop, one segment every SteadySegEvents / rate s
  val SteadySegEvents = 20
  val SteadyWarmupS = 3.0

  // cdc_backlog: fixed segments, fixed admission bound per batch
  val BacklogSegEvents = 1000
  val BacklogSegsPerTrigger = 8
  /** Traced runs stop the drain after this many batches and restart it
    * from the checkpoint.
    */
  val BacklogStopAfter = 2

  // warehouse_reads
  val ReadWarmupS = 4.0
  val ReadKeys = 5
  val ReadPoints = 5
  val RangeWidth = 10
  val TopN = 10

  def run(name: String, r: Run): Unit = name match {
    case "cdc_steady"      => steady(r)
    case "cdc_backlog"     => backlog(r)
    case "warehouse_reads" => reads(r)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  // -------------------------------------------------------------- set-up

  /** Builds the preloaded table `r.preloadReps` times, each into a fresh
    * directory, keeps the last and records every build time: set-up time
    * is reported as their median, which is steadier than one build (the
    * first also warms the JVM).
    */
  def setupTables(r: Run): Tables = {
    val pre = r.lines.take(r.preload)
    val built = (1 to r.preloadReps).map { i =>
      val t = new Tables(r.spark, s"${r.work}/table-$i")
      val s = r.rec.now()
      Pipeline.apply(t, r.rec, Pipeline.linesFrame(r.spark, pre), -1L)
      (r.rec.now() - s, t)
    }
    built.init.foreach { case (_, t) => graft.core.TempDirs.deleteRecursively(t.dir) }
    r.out("preload_ms") = built.map(_._1)
    built.last._2
  }

  def startStream(r: Run, t: Tables, bus: String, ckpt: String,
                  availableNow: Boolean): StreamingQuery = {
    val src = r.spark.readStream.format("filebus")
      .option("path", bus).option("group", Pipeline.Group)
    val reader = if (availableNow)
      src.option("maxSegmentsPerTrigger", BacklogSegsPerTrigger.toString) else src
    val w = reader.load().writeStream
      .foreachBatch { (df: DataFrame, id: Long) =>
        r.rec.span("batch", "batch", "batch" -> id)(Pipeline.apply(t, r.rec, df, id))
        ()
      }
      .option("checkpointLocation", ckpt)
    (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start()
  }

  /** Stream-side checks and bookkeeping shared by both stream workloads. */
  def finishStream(r: Run, t: Tables, bus: String, ckpt: String,
                   queries: Seq[StreamingQuery], consumed: Seq[String]): Unit = {
    org.apache.spark.sql.graft.ListenerBridge.waitUntilEmpty(r.spark.sparkContext)
    val bodies = r.rec.spans.asScala.count(_.name == "batch")
    r.attempted.addAndGet(bodies)
    queries.flatMap(_.exception).foreach { e =>
      System.err.println(s"stream failed: $e")
      r.attempted.incrementAndGet(); r.failed.incrementAndGet()
    }
    FileBusSource.settleCommitted(ckpt, bus, Pipeline.Group)
    r.check("bus_depth_zero")(
      new FileBus(bus, 60000L, 3).depth(Pipeline.Group) == 0L)
    gate(r, t, consumed)
  }

  /** Untimed correctness gate: warehouse live state equals the batch LWW
    * oracle over the same envelopes, and the view equals a batch groupBy.
    */
  def gate(r: Run, t: Tables, consumed: Seq[String]): Unit = r.rec.span("gate", "gate") {
    val oracle = Pipeline.oracleLive(r.spark, consumed, s"${r.work}/oracle")
    val live = Pipeline.rowsOf(Pipeline.liveOf(t))
    r.check("warehouse_equals_lww_oracle")(Pipeline.same(live, Pipeline.rowsOf(oracle)))
    val allRows = r.spark.read.parquet(s"${r.work}/oracle")
    r.check("view_equals_groupby")(Pipeline.same(
      Pipeline.rowsOf(t.view.read()), Pipeline.rowsOf(Pipeline.oracleView(allRows))))
    tableStats(r, t, live.length)
  }

  def tableStats(r: Run, t: Tables, liveRows: Long): Unit = {
    val files = t.warehouse.bucketFiles()
    def du(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L) else f.length
    r.out("table") = Map(
      "versions" -> t.warehouse.versions().size,
      "files_per_bucket" -> files.values.map(_.size).toSeq,
      "disk_bytes" -> du(new java.io.File(t.warehouse.path)),
      "snapshot_bytes" -> files.values.flatten.map(_._2).sum,
      "live_rows" -> liveRows,
      "stats_from_footer" -> t.warehouse.statsFromFooter.get,
      "stats_from_scan" -> t.warehouse.statsFromScan.get,
      "probe_buckets_admitted" -> t.warehouse.probeBucketsAdmitted.get,
      "probe_buckets_total" -> t.warehouse.probeBucketsTotal.get)
  }

  // ---------------------------------------------------------- cdc_steady

  def steady(r: Run): Unit = {
    val t = setupTables(r)
    val busDir = s"${r.work}/bus"; val ckpt = s"${r.work}/ckpt"
    val bus = new FileBus(busDir, 60000L, 3)
    val segs = r.lines.drop(r.preload).grouped(SteadySegEvents).toIndexedSeq
    val periodMs = SteadySegEvents * 1000.0 / r.rate
    val bytes0 = r.busBytes()
    val q = startStream(r, t, busDir, ckpt, availableNow = false)
    val t0 = r.rec.now() + 100.0
    val w0 = t0 + SteadyWarmupS * 1000.0
    val w1 = w0 + r.seconds * 1000.0
    // (segment index, bus segment id) of every confirmed publish
    val published = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    val consumed = mutable.ArrayBuffer.empty[String] ++ r.lines.take(r.preload)
    val publisher = new Thread(() => {
      var i = 0
      while (i < segs.size && t0 + i * periodMs < w1) {
        val due = t0 + i * periodMs
        r.sleepUntil(due)
        val s = r.rec.now()
        r.op(bus.publishNext(segs(i))).foreach { id =>
          r.rec.spans.add(Span("publish", "bus", s, r.rec.now(),
            Map("seg" -> id, "due" -> due, "events" -> segs(i).size)))
          published.add((i, id))
        }
        i += 1
      }
    })
    publisher.setName("cdcbench-generator")
    publisher.start()
    r.sleepUntil(w0)
    val u0 = r.usage()
    r.sleepUntil(w1)
    val u1 = r.usage()
    publisher.join()
    // drain the tail: wait until a committed batch covers every segment
    val want = published.asScala.map(_._2).toSet
    val deadline = r.rec.now() + 60000.0
    def covered: Boolean = Option(q.lastProgress).exists(p =>
      p.sources.nonEmpty && p.sources.head.endOffset != null &&
        want.subsetOf(FileBusSource.parseOffsetJson(p.sources.head.endOffset)))
    while (!covered && q.isActive && r.rec.now() < deadline) Thread.sleep(20)
    val drained = covered
    q.stop()
    r.out("window") = Seq(w0, w1)
    r.out("usage") = Map("start" -> u0, "end" -> u1)
    r.out("bus_bytes") = Map("before" -> bytes0, "after" -> r.busBytes())
    r.check("tail_drained")(drained)
    published.asScala.foreach { case (i, _) => consumed ++= segs(i) }
    finishStream(r, t, busDir, ckpt, Seq(q), consumed.toSeq)
  }

  // --------------------------------------------------------- cdc_backlog

  def backlog(r: Run, gate: Boolean = true): Unit = {
    val t = setupTables(r)
    val busDir = s"${r.work}/bus"; val ckpt = s"${r.work}/ckpt"
    val bus = new FileBus(busDir, 60000L, 3)
    val backlog = r.lines.drop(r.preload)
    val bytes0 = r.busBytes()
    backlog.grouped(BacklogSegEvents).foreach { seg =>
      val s = r.rec.now()
      r.op(bus.publishNext(seg)).foreach(id =>
        r.rec.spans.add(Span("publish", "bus", s, r.rec.now(),
          Map("seg" -> id, "due" -> s, "events" -> seg.size))))
    }
    val u0 = r.usage()
    val s0 = r.rec.now()
    val queries =
      if (!r.rec.traced) {
        val q = startStream(r, t, busDir, ckpt, availableNow = true)
        q.awaitTermination()
        Seq(q)
      } else {
        // stop mid-drain, then resume from the checkpoint: the restarted
        // drain must converge to the same oracle
        val q1 = startStream(r, t, busDir, ckpt, availableNow = true)
        while (q1.isActive && r.rec.spans.asScala.count(_.name == "batch") < BacklogStopAfter)
          Thread.sleep(5)
        q1.stop()
        val q2 = startStream(r, t, busDir, ckpt, availableNow = true)
        q2.awaitTermination()
        Seq(q1, q2)
      }
    val s1 = r.rec.now()
    r.out("window") = Seq(s0, s1)
    r.out("usage") = Map("start" -> u0, "end" -> r.usage())
    r.out("bus_bytes") = Map("before" -> bytes0, "after" -> r.busBytes())
    r.out("events") = backlog.size
    if (gate) finishStream(r, t, busDir, ckpt, queries, r.lines)
  }

  // ----------------------------------------------------- warehouse_reads

  final case class ReadParams(keys: Seq[String], seqs: Seq[Long], lo: Int)

  def readOps(spark: SparkSession, t: Tables, p: ReadParams): Seq[(String, () => DataFrame)] =
    Seq(
      "analytics" -> (() => Cdc.videoAnalytics(Pipeline.liveOf(t))),
      "keys" -> (() => t.warehouse
        .readForKeys(spark.createDataset(p.keys)(Encoders.STRING).toDF("original_id"))
        .filter(col("original_id").isin(p.keys: _*))),
      "points" -> (() => t.warehouse.readPoints(Pipeline.BloomCol, p.seqs)),
      "range" -> (() => t.warehouse.readRange(Pipeline.StatsCol, p.lo, p.lo + RangeWidth)),
      "view" -> (() => Pipeline.topViews(t.view.read(), TopN)))

  /** The same answers computed from `read()` with plain filters. */
  def readOracles(t: Tables, p: ReadParams, liveOracle: DataFrame,
                  viewOracle: DataFrame): Map[String, DataFrame] = {
    val all = t.warehouse.read()
    Map(
      "analytics" -> Cdc.videoAnalytics(liveOracle),
      "keys" -> all.filter(col("original_id").isin(p.keys: _*)),
      "points" -> all.filter(col(Pipeline.BloomCol).isin(p.seqs: _*)),
      "range" -> all.filter(col(Pipeline.StatsCol).between(p.lo, p.lo + RangeWidth)),
      "view" -> Pipeline.topViews(viewOracle, TopN))
  }

  def reads(r: Run): Unit = {
    val t = setupTables(r)
    val pool = t.warehouse.read().select("original_id", Pipeline.BloomCol).collect()
      .map(row => (row.getString(0), row.getLong(1)))
    val rng = new java.util.Random(r.seed)
    def params(): ReadParams = ReadParams(
      Seq.fill(ReadKeys)(pool(rng.nextInt(pool.length))._1).distinct,
      Seq.fill(ReadPoints)(pool(rng.nextInt(pool.length))._2).distinct,
      rng.nextInt(3600 - RangeWidth))
    // untimed warm-up: read latency keeps falling for several seconds of
    // a fresh JVM while the JIT compiles the read paths
    val warm = r.rec.now() + ReadWarmupS * 1000.0
    while (r.rec.now() < warm)
      readOps(r.spark, t, params()).foreach { case (_, f) => f().collect() }
    val u0 = r.usage()
    val w0 = r.rec.now()
    val end = w0 + r.seconds * 1000.0
    while (r.rec.now() < end) {
      readOps(r.spark, t, params()).foreach { case (kind, f) =>
        r.rec.span("read", "read", "kind" -> kind)(r.op(f().collect()))
      }
    }
    val w1 = r.rec.now()
    r.out("window") = Seq(w0, w1)
    r.out("usage") = Map("start" -> u0, "end" -> r.usage())

    gate(r, t, r.lines)
    r.rec.span("gate", "gate") {
      val p = params()
      val oracle = r.spark.read.parquet(s"${r.work}/oracle")
      val want = readOracles(t, p, Warehouse.liveState(r.spark, s"${r.work}/oracle"),
        Pipeline.oracleView(oracle))
      readOps(r.spark, t, p).foreach { case (kind, f) =>
        r.check(s"read_$kind")(
          Pipeline.same(Pipeline.rowsOf(f()), Pipeline.rowsOf(want(kind)), tol = 1.5e-4))
      }
    }
  }

  // ------------------------------------------------------------- traced

  /** Transform-only throughput: the enrich/flatten/route plan over every
    * envelope of the run, read back from a bus and written to `noop`.
    */
  def transformProbe(r: Run): Unit = {
    val dir = s"${r.work}/transform-bus"
    val bus = new FileBus(dir, 60000L, 3)
    r.lines.grouped(BacklogSegEvents).foreach(bus.publishNext)
    val ms = (1 to 3).map { _ =>
      val s = r.rec.now()
      Pipeline.rows(r.spark.read.format("filebus").load(dir))
        .write.format("noop").mode("overwrite").save()
      r.rec.now() - s
    }
    r.out("transform") = Map("events" -> r.lines.size, "ms" -> ms)
  }
}
