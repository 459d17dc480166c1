package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerBridge
import graft.sink.{AggSink, BucketBloom, MergeSink, TableManifest}

/** The manifest-resolved snapshot scan ([[TableManifest]] read path):
  * planning a sink read launches no Spark job, answers exactly what the
  * per-generation `spark.read.parquet` resolution answered, keeps the
  * plan properties that resolution had (value-equal file indexes,
  * file-length statistics), and fails loudly on generation schema
  * drift instead of reading missing columns as nulls. And its write
  * twin, the one generation writer: every write op's zone maps and
  * bloom sidecars equal those built from a plain `spark.read.parquet`
  * of the generation it wrote.
  */
class SinkScanSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir() = Files.createTempDirectory("graft_scan_").toString

  private def batch(from: Long, to: Long, upd: Long): DataFrame =
    spark.range(from, to).select(
      $"id".as("k"), lit(upd).as("upd"), ($"id" * 3).as("s"),
      ($"id" % 100).cast("double").as("v"), concat(lit("p"), $"id", lit(s"-$upd")).as("payload"))

  /** A table with several generations, outstanding deletion vectors and
    * a progressive migration in flight; returns the sink and a version
    * from before the deletes (for time travel).
    */
  private def busyTable(): (MergeSink, Long) = {
    val dir = freshDir() + "/t"
    val sink = new MergeSink(spark, dir, keys = Seq("k"), orderCols = Seq("upd"),
      nBuckets = 8, statsCols = Seq("v"), bloomCols = Seq("s"))
    sink.merge(batch(0, 240, 0))
    sink.merge(batch(0, 3, 1))
    sink.merge(batch(100, 102, 2))
    val past = sink.versions().max
    sink.deleteVector(Seq(5L, 9L, 150L).toDF("k"))
    sink.beginMigration(16)
    sink.migrateStep(3)
    sink.merge(batch(200, 204, 3))
    sink.deleteVector(Seq(201L).toDF("k"))
    assert(sink.manifest.migration().nonEmpty, "fixture: migration must be in flight")
    assert(sink.deleteVectors().nonEmpty, "fixture: deletion vectors must be outstanding")
    assert(sink.manifest.mapping().values.toSet.size >= 3, "fixture: need several generations")
    (sink, past)
  }

  /** The resolution this scan replaced: one `spark.read.parquet` per
    * generation over its bucket dirs, the first generation's inferred
    * schema forced onto the rest, unioned by name.
    */
  private def parquetResolution(root: String, m: Map[Int, String]): DataFrame = {
    val gens = m.groupBy(_._2).toSeq.map { case (gen, bm) =>
      val base = s"$root/$gen"
      (base, bm.keys.toSeq.sorted.map(b => s"$base/${MergeSink.BucketCol}=$b"))
    }
    val first = spark.read.option("basePath", gens.head._1).parquet(gens.head._2: _*)
    (first +: gens.tail.map { case (base, paths) =>
      spark.read.schema(first.schema).option("basePath", base).parquet(paths: _*)
    }).reduce(_ unionByName _)
  }

  /** `parquetResolution` minus the deletion-vector keys of `dv`. */
  private def parquetRead(root: String, m: Map[Int, String], dv: Map[Int, Seq[String]]): DataFrame = {
    val snap = parquetResolution(root, m).drop(MergeSink.BucketCol)
    val paths = dv.values.flatten.toSeq.distinct
    if (paths.isEmpty) snap
    else snap.join(spark.read.parquet(paths.map(p => s"$root/$p"): _*).select("k"), Seq("k"), "left_anti")
  }

  private def rows(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.map(col).toSeq: _*).collect().map(_.toSeq.mkString("|")).toSeq.sorted
  }

  /** Descriptions (JobLabel phases; "" when unlabelled) of the jobs
    * started by THIS thread while `body` runs (a thread-local job
    * property tags them, so other threads' jobs cannot leak in).
    */
  private def jobsDuring[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val tag = s"scan-spec-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(ev: SparkListenerJobStart): Unit =
        Option(ev.properties).filter(_.getProperty("graft.scanSpec") == tag).foreach { p =>
          jobs.add(Option(p.getProperty("spark.job.description")).getOrElse(""))
        }
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.scanSpec", tag)
    try {
      val out = body
      ListenerBridge.waitUntilEmpty(sc)
      (out, jobs.asScala.toSeq)
    } finally {
      sc.setLocalProperty("graft.scanSpec", null)
      sc.removeSparkListener(listener)
    }
  }

  test("building sink read frames launches zero Spark jobs, cold handle included") {
    val (sink, past) = busyTable()
    val view = new AggSink(spark, freshDir() + "/view", Seq("k"), Seq("v"), nBuckets = 4)
    view.merge(batch(0, 50, 0).select(($"k" % 7).as("k"), $"v".cast("long").as("v")), batchId = 0L)
    // a fresh handle on the same table: nothing listed or cached yet
    val cold = new MergeSink(spark, sink.path, keys = Seq("k"), orderCols = Seq("upd"),
      nBuckets = 8, statsCols = Seq("v"), bloomCols = Seq("s"))
    val coldView = new AggSink(spark, view.path, Seq("k"), Seq("v"), nBuckets = 4)
    for ((s, a) <- Seq((cold, coldView), (sink, view))) {
      val (frames, jobs) = jobsDuring(Seq(
        s.read(), s.readAt(past), s.readRange("v", 10.0, 20.0),
        s.readPoints("s", Seq(3L, 300L, 606L)), a.read()))
      assert(jobs.isEmpty, s"planning ${frames.size} sink reads launched ${jobs.size} Spark job(s)")
    }
    // and the frames still answer (the construction above ran no action)
    assert(cold.readPoints("s", Seq(3L, 300L, 606L)).count() == 3)
  }

  test("manifest scan answers what the per-generation parquet resolution answered") {
    val (sink, past) = busyTable()
    val root = sink.path
    val m = sink.manifest.mapping()
    val snap = sink.manifest.snapshot().get
    val old = parquetResolution(root, m)
    assert(snap.schema == old.schema, s"schema changed:\n${snap.schema.treeString}\nvs\n${old.schema.treeString}")
    assert(rows(snap) == rows(old))
    // a bucket subset, a historical version, and the DV-applied reads
    val some = m.keys.toSeq.sorted.take(3)
    assert(rows(sink.manifest.snapshot(Some(some)).get) == rows(parquetResolution(root, m.filter(e => some.contains(e._1)))))
    assert(rows(sink.manifest.snapshotAt(past).get) ==
      rows(parquetResolution(root, sink.manifest.mappingAt(past))))
    val live = parquetRead(root, m, sink.deleteVectors())
    assert(rows(sink.read()) == rows(live))
    assert(sink.read().filter($"k".isin(5L, 9L, 150L, 201L)).isEmpty, "DV keys must stay deleted")
    assert(rows(sink.readAt(past)) ==
      rows(parquetRead(root, sink.manifest.mappingAt(past), sink.manifest.dvAt(past))))
    assert(rows(sink.readRange("v", 10.0, 20.0)) == rows(live.filter($"v".between(10.0, 20.0))))
    val pts = Seq(3L, 9L, 300L, 603L, 606L)
    assert(rows(sink.readPoints("s", pts)) == rows(live.filter($"s".isin(pts: _*))))
  }

  test("two reads of one snapshot share an equal file index: ReuseExchange still fires") {
    val (sink, _) = busyTable()
    def rel(df: DataFrame) = df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation
    }.get.asInstanceOf[HadoopFsRelation]
    val (r1, r2) = (rel(sink.read()), rel(sink.read()))
    assert(r1.location == r2.location && r1.location.hashCode == r2.location.hashCode)
    assert(r1 == r2)
    // a different bucket subset is a different file set
    val one = sink.manifest.mapping().keys.min
    assert(rel(sink.manifest.snapshot(Some(Seq(one))).get).location != r1.location)
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // raw snapshots: no deletion-vector broadcast whose own reuse
      // could satisfy the assertion
      def snap() = sink.manifest.snapshot().get
      val a = snap().groupBy("k").agg(max("upd").as("m1"))
      val b = snap().groupBy("k").agg(max("upd").as("m2"))
      val p = a.join(b, "k").queryExecution.executedPlan.toString
      assert(p.contains("ReusedExchange"), s"self-join of two snapshot reads no longer reuses:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("scan statistics are the sum of the snapshot's file lengths") {
    val (sink, _) = busyTable()
    val snap = sink.manifest.snapshot().get
    val bytes = sink.bucketFiles().values.flatten.map(_._2).sum
    assert(snap.queryExecution.optimizedPlan.stats.sizeInBytes == BigInt(bytes))
    val old = parquetResolution(sink.path, sink.manifest.mapping())
    assert(old.queryExecution.optimizedPlan.stats.sizeInBytes == BigInt(bytes))
  }

  test("generation schema drift fails loudly, naming both generations") {
    val bc = MergeSink.BucketCol
    def table(a: DataFrame, b: DataFrame): (TableManifest, String, String) = {
      val dir = freshDir()
      val (g1, g2) = ("data/g-first", "data/g-second")
      a.write.parquet(s"$dir/$g1/$bc=0")
      b.write.parquet(s"$dir/$g2/$bc=1")
      val t = new TableManifest(spark, dir)
      t.commit(Map(0 -> g1, 1 -> g2))
      (t, g1, g2)
    }
    // a column present in one generation only: was silently NULL
    val (t1, g1, g2) = table(Seq((1L, "x")).toDF("k", "a"), Seq((2L, "y")).toDF("k", "b"))
    val e1 = intercept[IllegalStateException](t1.snapshot())
    assert(e1.getMessage.contains(g1) && e1.getMessage.contains(g2), e1.getMessage)
    assert(e1.getMessage.contains("schema drift"))
    // a type change of one column
    val (t2, _, _) = table(Seq((1, "x")).toDF("k", "a"), Seq((2L, "y")).toDF("k", "a"))
    intercept[IllegalStateException](t2.snapshot())
    // nullability alone is not drift; a subset read of one generation is fine
    val (t3, _, _) = table(spark.range(1).select($"id".as("k")),
      Seq(Option(2L)).toDF("k"))
    assert(t3.snapshot().get.count() == 2)
    assert(t1.snapshot(Some(Seq(0))).get.count() == 1)

    // end to end: a MergeSink batch with a renamed column lands in
    // buckets the table does not hold yet, so its commit succeeds —
    // and the read refuses instead of serving nulls
    val sink = new MergeSink(spark, freshDir() + "/t", Seq("k"), Seq("upd"),
      nBuckets = 4, rangeBucketWidth = Some(10L))
    sink.merge(Seq((1L, 0L, "x")).toDF("k", "upd", "a"))
    sink.merge(Seq((11L, 0L, "y")).toDF("k", "upd", "b"))
    val e = intercept[IllegalStateException](sink.read())
    assert(e.getMessage.contains("schema drift"), e.getMessage)
  }

  /** Zone maps and bloom sidecars (sidecar file bytes) of generation
    * `gen`'s buckets built from a plain `spark.read.parquet` of it —
    * the reference the writer must reproduce.
    */
  private def reference(root: String, gen: String, statsCols: Seq[String], bloomCols: Seq[String])
      : (Map[Int, TableManifest.Stats], Map[(Int, String), Seq[Byte]]) = {
    val bc = MergeSink.BucketCol
    val df = spark.read.parquet(s"$root/$gen")
    val aggs = statsCols.flatMap(c => Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
    val stats = df.groupBy(col(bc)).agg(aggs.head, aggs.tail: _*).collect().map { r =>
      r.getInt(0) -> statsCols.zipWithIndex.collect {
        case (c, i) if !r.isNullAt(1 + 2 * i) =>
          c -> TableManifest.ColStats(r.getDouble(1 + 2 * i), r.getDouble(2 + 2 * i))
      }.toMap
    }.toMap
    val blooms = bloomCols.flatMap { c =>
      df.filter(col(c).isNotNull).select(col(bc), xxhash64(col(c))).collect()
        .groupMap(_.getInt(0))(_.getLong(1)).map { case (b, hs) =>
          val bits = new Array[Byte](BucketBloom.DefaultBits / 8)
          hs.foreach(h => BucketBloom.add(bits, BucketBloom.DefaultHashes, h))
          val out = new java.io.ByteArrayOutputStream()
          val data = new java.io.DataOutputStream(out)
          data.writeInt(BucketBloom.DefaultHashes); data.write(bits); data.close()
          (b, c) -> out.toByteArray.toSeq
        }
    }.toMap
    (stats, blooms)
  }

  /** Parquet data files under `dir`, recursively (`_`- and `.`-led
    * names — sidecars, checksums, markers — skipped).
    */
  private def dataFiles(dir: String): Seq[java.nio.file.Path] =
    Files.walk(Paths.get(dir)).iterator().asScala.toSeq.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".") && n.endsWith(".parquet")
    }

  /** The files under `dirs` are the sink's file format: every column
    * chunk ZSTD, some DELTA_* encoding (v2 pages), and fewer bytes in
    * total than Spark's default write (SNAPPY, v1 pages) of the same
    * rows, dir by dir.
    */
  private def assertSinkFormat(what: String, dirs: Seq[String], partitioned: Boolean): Unit = {
    val files = dirs.flatMap(dataFiles)
    assert(files.nonEmpty, s"$what: no data files")
    val chunks = files.flatMap(f => parquetChunks(f.toString))
    assert(chunks.forall(_._1 == "ZSTD"), s"$what: codecs ${chunks.map(_._1).distinct}")
    assert(chunks.exists(_._2.exists(_.startsWith("DELTA_"))),
      s"$what: no DELTA_* encoding in ${chunks.flatMap(_._2).distinct}")
    val defaultFiles = dirs.flatMap { dir =>
      val ref = freshDir() + "/default"
      val w = spark.read.parquet(dir).write
      (if (partitioned) w.partitionBy(MergeSink.BucketCol) else w).parquet(ref)
      dataFiles(ref)
    }
    val (bytes, defaultBytes) = (files.map(Files.size).sum, defaultFiles.map(Files.size).sum)
    assert(bytes < defaultBytes, s"$what: $bytes bytes, Spark's default write $defaultBytes")
  }

  test("purging or compacting every row of a bloom-indexed table commits an empty snapshot") {
    val rows = Seq((1L, 0L, 1.0, true), (2L, 0L, 2.0, true)).toDF("k", "upd", "v", "gone")
    def table() = {
      val sink = new MergeSink(spark, freshDir() + "/t", Seq("k"), Seq("upd"),
        nBuckets = 4, bloomCols = Seq("v"))
      sink.merge(rows)
      sink
    }
    val purged = table()
    purged.purgeKeys(Seq(1L, 2L).toDF("k"))
    assert(purged.manifest.mapping().isEmpty, "the purge must commit a snapshot without the keys")
    assert(purged.versions() == Seq(purged.manifest.currentVersion()), "history must be destroyed")

    val compacted = table()
    val v0 = compacted.manifest.currentVersion()
    compacted.compact(dropDeleted = Some("gone"))
    assert(compacted.manifest.currentVersion() == v0 + 1 && compacted.manifest.mapping().isEmpty)
  }

  test("one generation writer: every write op's zone maps and bloom sidecars equal a plain parquet read's") {
    val statsCols = Seq("k", "v")
    val bloomCols = Seq("s", "v")
    val sink = new MergeSink(spark, freshDir() + "/t", keys = Seq("k"), orderCols = Seq("upd"),
      nBuckets = 8, statsCols = statsCols, bloomCols = bloomCols)
    sink.merge(batch(0, 240, 0))
    /** Runs one op and checks the generation it committed; returns the
      * op's job descriptions.
      */
    def check(op: String, carriesStats: Boolean = false)(body: => Unit): Seq[String] = {
      val (m0, st0) = (sink.manifest.mapping(), sink.manifest.stats())
      val (_, jobs) = jobsDuring(body)
      val m = sink.manifest.mapping()
      val gens = m.values.toSet -- m0.values
      assert(gens.size == 1, s"$op: expected one new generation, got $gens")
      val gen = gens.head
      val buckets = m.collect { case (b, g) if g == gen => b }.toSeq
      val (refStats, refBlooms) = reference(sink.path, gen, statsCols, bloomCols)
      assert(refStats.keySet == buckets.toSet, s"$op: mapped buckets are not the written ones")
      val committed = sink.manifest.stats().filter { case (b, _) => buckets.contains(b) }
      assert(committed == refStats, s"$op: zone maps differ from the parquet read's")
      if (carriesStats) assert(committed == st0.filter { case (b, _) => buckets.contains(b) })
      for (b <- buckets; c <- bloomCols) {
        val p = Paths.get(s"${sink.path}/$gen/${MergeSink.BucketCol}=$b/_bloom_$c")
        assert(refBlooms.get((b, c)) == Some(p).filter(Files.exists(_)).map(Files.readAllBytes(_).toSeq),
          s"$op: bloom sidecar of bucket $b column $c differs from the parquet read's")
      }
      assert(jobs.count(_.startsWith(s"$op:sidecars ")) == bloomCols.size,
        s"$op: sidecars must be one job per bloom column, got ${jobs.mkString("; ")}")
      assert(!jobs.exists(_.startsWith(s"$op:stats-scan")), s"$op: footer stats must not scan")
      assertSinkFormat(op, Seq(s"${sink.path}/$gen"), partitioned = true)
      jobs
    }
    val mergeJobs = check("merge")(sink.merge(batch(0, 3, 1)))
    assert(mergeJobs.forall(_.startsWith("merge:")), s"unlabelled merge job: ${mergeJobs.mkString("; ")}")
    check("stage")(sink.publishStaged(sink.stageMerge(batch(10, 14, 2))))
    check("stage")(assert(sink.mergeOptimistic(batch(20, 25, 3)) == 1))
    check("purge")(sink.purgeKeys(Seq(30L, 31L, 41L).toDF("k")))
    check("compact", carriesStats = true)(sink.compact(maxFilesPerBucket = 0))
    check("rebucket")(sink.rebucket(16))
    sink.beginMigration(4)
    check("migrate")(sink.migrateStep(5))
    assert(sink.statsFromScan.get() == 0 && sink.statsFromFooter.get() > 0)
    // deletion vectors share the format. One write task, so each vector
    // file holds its bucket's share of the keys: a file of one or two
    // keys is all footer, and there zstd's frame header makes it about
    // 1% larger than Spark's default
    sink.deleteVector((0L until 240L by 2).toDF("k").coalesce(1))
    assertSinkFormat("dv", sink.deleteVectors().values.flatten.toSeq.map(d => s"${sink.path}/$d"),
      partitioned = false)

    // the view's fold writes through the same writer, without sidecars
    // (500 groups: a bucket file of a couple of rows is all footer, and
    // there zstd's frame header makes it a few percent larger than
    // Spark's default — the size check needs rows)
    val view = new AggSink(spark, freshDir() + "/view", Seq("k"), Seq("v"), nBuckets = 4)
    val feed = batch(0, 2000, 0).select(($"k" % 500).as("k"), $"v".cast("long").as("v"))
    val (_, foldJobs) = jobsDuring(view.merge(feed, batchId = 0L))
    assert(foldJobs.exists(_.startsWith("fold:write ")) && !foldJobs.exists(_.contains(":sidecars")))
    assert(rows(view.read()) == rows(feed.groupBy("k").agg(sum("v").as("v"), count(lit(1)).as("n_rows"))))
    val gen = view.manifest.mapping().values.toSet
    assert(gen.size == 1 && view.manifest.mapping().keySet ==
      spark.read.parquet(s"${view.path}/${gen.head}").select(MergeSink.BucketCol).distinct()
        .collect().map(_.getInt(0)).toSet)
    assertSinkFormat("fold", Seq(s"${view.path}/${gen.head}"), partitioned = true)
  }

  test("deleteVector writes only the keys of buckets the table holds") {
    val sink = new MergeSink(spark, freshDir() + "/t", keys = Seq("k"), orderCols = Seq("upd"),
      nBuckets = 16)
    sink.merge(batch(0, 3, 0))
    assert(sink.manifest.mapping().size <= 3, "fixture: most buckets must be absent")
    val probe = (0L until 64L).toDF("k")
    val sc = spark.sparkContext
    val dvStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val written = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onJobStart(ev: SparkListenerJobStart): Unit =
        if (Option(ev.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
              .exists(_.startsWith("dv:write ")))
          ev.stageIds.foreach(dvStages.add)
      override def onTaskEnd(ev: SparkListenerTaskEnd): Unit =
        if (dvStages.contains(ev.stageId) && ev.taskMetrics != null)
          written.addAndGet(ev.taskMetrics.outputMetrics.recordsWritten)
    }
    sc.addSparkListener(listener)
    try {
      sink.deleteVector(probe)
      ListenerBridge.waitUntilEmpty(sc)
    } finally sc.removeSparkListener(listener)
    val dv = sink.deleteVectors()
    assert(dv.keySet.subsetOf(sink.manifest.mapping().keySet))
    // every probe row routed to a held bucket lands in that bucket's vector
    val routedToHeld = spark.read.parquet(dv.values.flatten.map(d => s"${sink.path}/$d").toSeq: _*).count()
    assert(routedToHeld > 0 && routedToHeld < probe.count())
    assert(written.get() == routedToHeld,
      s"dv:write wrote ${written.get()} rows, $routedToHeld route to held buckets")
    assert(sink.read().isEmpty, "every key of the table was probed")
  }
}
