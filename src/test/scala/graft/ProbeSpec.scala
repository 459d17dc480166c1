package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import graft.core.{JobLabel, Probe}

/** The one job probe ([[graft.core.Probe]]) and the one session
  * builder ([[graft.core.Session]]): the probe's per-job fields on a
  * fixed action, its compile counts, JobProfile's rollup, and a source
  * guard that keeps every other session builder and listener (and any
  * hand-rolled JDBC writer) out of the engine. The same guard keeps
  * `javax.imageio` inside `ext.JpegCodec` (and ExtSpec's progressive
  * fixture), and bans the `ImageIO` entry points that cache through
  * files in `java.io.tmpdir`, hide decode warnings or set JVM-global
  * state. And it keeps the sink's writer lock, commit and vacuum inside
  * `sink.TableManifest` (only `PipelineSpec` plants a lock file), the
  * Hadoop configuration copy inside its few owners, and the engine's
  * connected components inside `ext.Dedup`'s one kernel.
  */
class ProbeSpec extends SparkSpec {
  test("the probe records a two-job shuffle action under its JobLabel") {
    // a fresh conf scope: AQE runs the shuffle map stage as its own job
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    val (rows, jobs) = Probe.during(s) {
      JobLabel(s, "probe:count /pinned") {
        s.range(0, 1000, 1, 4).groupBy((col("id") % 10).as("g")).count().collect()
      }
    }
    assert(rows.length == 10)
    assert(jobs.size == 2, s"expected the map job and the result job: $jobs")
    assert(jobs.forall(j => j.label == "probe:count" && j.site == "probe:count /pinned"))
    assert(jobs.forall(j => j.end >= j.start && j.start > 0))
    val Seq(map, result) = jobs
    assert(map.tasks == 4 && result.tasks == 1, s"tasks: ${jobs.map(_.tasks)}")
    assert(map.shuffleWrite > 0 && result.shuffleWrite == 0, s"shuffle: $jobs")
    assert(result.shuffleRead > 0 && map.shuffleRead == 0, s"shuffle: $jobs")
  }

  test("the probe counts Janino compiles: a new plan compiles, its rerun hits the codegen cache") {
    // a literal no earlier plan inlined: its source is new to the cache
    val q = spark.range(0, 100, 1, 2).select((col("id") * System.nanoTime()).as("x"))
    def compiledBy(body: => Unit): Probe.Compiles = {
      val probe = Probe(spark)
      try { body; probe.compiles } finally probe.close()
    }
    val (first, again) = (compiledBy(q.collect()), compiledBy(q.collect()))
    assert(first.count >= 1 && first.seconds > 0, s"first run: $first")
    assert(again == Probe.Compiles(0, 0.0), s"rerun: $again")
  }

  test("JobProfile rolls jobs up by label: a stream's micro-batches share one row") {
    def batch(id: Int, n: Int) = Probe.Job(id, s"id = q\nrunId = r\nbatch = $n", "?", 0L, 1000L)
    def write(id: Int) = Probe.Job(id, s"merge:write /t$id", "?", 0L, 500L)
    assert(JobProfile.rollup(Seq(batch(0, 0), write(1), batch(2, 1), write(3))) ==
      Seq(("stream", 2, 2.0), ("merge:write", 2, 1.0)))
  }

  test("SparkSession.builder and addSparkListener live only in core.Session and core.Probe") {
    // cdcbench/ keeps its own session and listener and is not scanned
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    assert(roots.forall(Files.isDirectory(_)), s"run from the repo root: ${roots.head.toAbsolutePath}")
    val self = "ProbeSpec.scala"
    val allowed = Map(
      "SparkSession.builder()" -> Set("graft/core/Session.scala"),
      "addSparkListener" -> Set("graft/core/Probe.scala"),
      "waitUntilEmpty" -> Set("graft/core/Probe.scala", "sql/graft/ListenerBridge.scala"),
      // the warehouse hop is Spark's own format("jdbc") writer; spelt in
      // two parts so that a grep of src/ for the class finds no use at all
      "Driver" + "Manager" -> Set.empty[String],
      "javax.imageio" -> Set("graft/ext/JpegCodec.scala", "graft/ExtSpec.scala"),
      "ImageIO.read(" -> Set.empty[String],
      "ImageIO.write(" -> Set.empty[String],
      "createImageInputStream" -> Set.empty[String],
      "createImageOutputStream" -> Set.empty[String],
      "setUseCache" -> Set.empty[String],
      // every sink write is one TableManifest.write: the lock file, the
      // commit and the vacuum have no second home
      "withWriterLock" -> Set.empty[String],
      "\"_lock\"" -> Set("graft/sink/TableManifest.scala", "graft/PipelineSpec.scala"),
      "manifest.commit(" -> Set("graft/sink/TableManifest.scala"),
      "manifest.vacuum(" -> Set("graft/sink/TableManifest.scala"),
      "newHadoopConf()" -> Set("graft/sink/TableManifest.scala", "graft/queries/StreamGate.scala",
        "graft/StreamGateSpec.scala", "graft/SparkSpec.scala"))
    // one connected-components kernel, Dedup.contractiveComponents: its
    // star tier is called from nowhere else in the engine (specs use it
    // as the kernel's reference), and no second min-label loop returns
    val mainOnly = Map(
      "starComponents(" -> Set("graft/ext/Dedup.scala"),
      "connectedComponents(" -> Set.empty[String],
      "labelPropagateToFixpoint" -> Set.empty[String])
    def code(p: Path): Seq[String] = Files.readAllLines(p).asScala.toSeq
      .map(_.trim).filterNot(l => l.startsWith("*") || l.startsWith("/*") || l.startsWith("//"))
    val hits = for {
      root <- roots
      p <- Files.walk(root).iterator().asScala.toSeq.sortBy(_.toString)
      name = p.getFileName.toString
      if name.endsWith(".scala") && name != self
      line <- code(p)
      (needle, owners) <- allowed ++ (if (root == roots.head) mainOnly else Map.empty)
      if line.contains(needle) && !owners.exists(p.endsWith)
    } yield s"$p: $needle"
    assert(hits.isEmpty, s"machinery outside its one owner: ${hits.mkString("; ")}")
  }
}
