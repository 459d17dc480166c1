package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.functions._
import graft.core.Probe
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
    assert(sink.manifest.current().migration.nonEmpty, "fixture: migration must be in flight")
    assert(sink.deleteVectors().nonEmpty, "fixture: deletion vectors must be outstanding")
    assert(sink.manifest.current().mapping.values.toSet.size >= 3, "fixture: need several generations")
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

  test("building sink read frames launches zero Spark jobs, cold handle included") {
    val (sink, past) = busyTable()
    val view = new AggSink(spark, freshDir() + "/view", Seq("k"), Seq("v"), nBuckets = 4)
    view.merge(batch(0, 50, 0).select(($"k" % 7).as("k"), $"v".cast("long").as("v")), batchId = 0L)
    // a fresh handle on the same table: nothing listed or cached yet
    val cold = new MergeSink(spark, sink.path, keys = Seq("k"), orderCols = Seq("upd"),
      nBuckets = 8, statsCols = Seq("v"), bloomCols = Seq("s"))
    val coldView = new AggSink(spark, view.path, Seq("k"), Seq("v"), nBuckets = 4)
    for ((s, a) <- Seq((cold, coldView), (sink, view))) {
      val (frames, jobs) = Probe.during(spark)(Seq(
        s.read(), s.readAt(past), s.readRange("v", 10.0, 20.0),
        s.readPoints("s", Seq(3L, 300L, 606L)), s.readForKeys(Seq(1L, 70L).toDF("k")), a.read()))
      assert(jobs.isEmpty, s"planning ${frames.size} sink reads launched ${jobs.size} Spark job(s)")
    }
    // and the frames still answer (the construction above ran no action)
    assert(cold.readPoints("s", Seq(3L, 300L, 606L)).count() == 3)
  }

  test("new per-call values reuse compiled code: a second read or fold compiles no class") {
    // no deletion vector and no migration: every bucket subset of a read
    // plans to the same shape
    val sink = new MergeSink(spark, freshDir() + "/t", keys = Seq("k"), orderCols = Seq("upd"),
      nBuckets = 8, statsCols = Seq("v"), bloomCols = Seq("s"))
    sink.merge(batch(0, 240, 0))
    val view = new AggSink(spark, freshDir() + "/view", Seq("k"), Seq("v"), nBuckets = 4)
    def viewBatch(i: Int) = batch(0, 50, i).select(($"k" % 7).as("k"), $"v".cast("long").as("v"))
    view.merge(viewBatch(0), batchId = 0L)
    val calls = Seq[(String, Int => Unit)](
      "readRange" -> (i => sink.readRange("v", 10.0 + i, 20.0 + 2 * i).collect()),
      "readPoints" -> (i => sink.readPoints("s", Seq(3L * i, 300L + 3 * i, 606L)).collect()),
      "readForKeys" -> (i => sink.readForKeys(Seq(1L + i, 70L).toDF("k")).collect()),
      "AggSink.merge" -> (i => view.merge(viewBatch(i), batchId = i.toLong)))
    for ((name, call) <- calls) {
      call(1)
      val probe = Probe(spark)
      val compiled = try { call(2); probe.compiles } finally probe.close()
      assert(compiled.count == 0, s"a second $name with new values compiled ${compiled.count} classes")
    }
    assert(view.lastBatchId == 2L)
  }

  test("readPoints on a non-BIGINT column answers read().where(c isin vs)") {
    // blooms on INT and DOUBLE columns hash those types, not the BIGINT probes
    val sink = new MergeSink(spark, freshDir() + "/t", keys = Seq("k"), orderCols = Seq("upd"),
      nBuckets = 8, bloomCols = Seq("i", "v"))
    sink.merge(batch(0, 240, 0).withColumn("i", ($"k" % 50).cast("int")))
    val vs = Seq(3L, 9L, 49L, 50L, 1000L)
    for (c <- Seq("i", "v")) {
      val got = rows(sink.readPoints(c, vs))
      assert(got.nonEmpty && got == rows(sink.read().where(col(c).isin(vs: _*))), s"readPoints on $c")
      assert(sink.bucketsForPoint(c, 3L).size == sink.bucketFileCounts().size, s"bucketsForPoint on $c")
    }
  }

  test("a local and a distributed frame route alike: same keyed read, same merged snapshot") {
    val (sink, _) = busyTable()
    val keys = Seq(1L, 5L, 70L, 150L, 203L)
    val local = keys.toDF("k")
    val distributed = spark.range(0, 240).where($"id".isin(keys: _*)).select($"id".as("k"))
    val (viaLocal, localJobs) = Probe.during(spark)(sink.readForKeys(local))
    val (viaDistributed, routeJobs) = Probe.during(spark)(sink.readForKeys(distributed))
    assert(localJobs.isEmpty && routeJobs.nonEmpty, "only the distributed probe runs a route job")
    assert(rows(viaLocal) == rows(viaDistributed))

    val rowsIn = batch(0, 60, 0).collect().toSeq
    val schema = batch(0, 1, 0).schema
    def merged(df: DataFrame): (MergeSink, Seq[String]) = {
      val t = new MergeSink(spark, freshDir() + "/t", keys = Seq("k"), orderCols = Seq("upd"),
        nBuckets = 8, statsCols = Seq("v"), bloomCols = Seq("s"))
      (t, Probe.during(spark)(t.merge(df))._2.map(_.label))
    }
    val (a, aJobs) = merged(spark.createDataFrame(rowsIn.asJava, schema))
    val (b, bJobs) = merged(spark.createDataFrame(spark.sparkContext.parallelize(rowsIn, 3), schema))
    assert(!aJobs.contains("merge:route") && bJobs.contains("merge:route"))
    val (sa, sb) = (a.manifest.current(), b.manifest.current())
    assert(sa.version == sb.version && sa.mapping.keySet == sb.mapping.keySet && sa.stats == sb.stats)
    assert(rows(a.read()) == rows(b.read()))
  }

  test("manifest scan answers what the per-generation parquet resolution answered") {
    val (sink, past) = busyTable()
    val root = sink.path
    val m = sink.manifest.current().mapping
    val snap = sink.manifest.scan(sink.manifest.current()).get
    val old = parquetResolution(root, m)
    assert(snap.schema == old.schema, s"schema changed:\n${snap.schema.treeString}\nvs\n${old.schema.treeString}")
    assert(rows(snap) == rows(old))
    // a bucket subset, a historical version, and the DV-applied reads
    val some = m.keys.toSeq.sorted.take(3)
    assert(rows(sink.manifest.scan(sink.manifest.current(), Some(some)).get) == rows(parquetResolution(root, m.filter(e => some.contains(e._1)))))
    assert(rows(sink.manifest.scan(sink.manifest.at(past)).get) ==
      rows(parquetResolution(root, sink.manifest.at(past).mapping)))
    val live = parquetRead(root, m, sink.deleteVectors())
    assert(rows(sink.read()) == rows(live))
    assert(sink.read().filter($"k".isin(5L, 9L, 150L, 201L)).isEmpty, "DV keys must stay deleted")
    assert(rows(sink.readAt(past)) ==
      rows(parquetRead(root, sink.manifest.at(past).mapping, sink.manifest.at(past).dv)))
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
    val one = sink.manifest.current().mapping.keys.min
    assert(rel(sink.manifest.scan(sink.manifest.current(), Some(Seq(one))).get).location != r1.location)
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // raw snapshots: no deletion-vector broadcast whose own reuse
      // could satisfy the assertion
      def snap() = sink.manifest.scan(sink.manifest.current()).get
      val a = snap().groupBy("k").agg(max("upd").as("m1"))
      val b = snap().groupBy("k").agg(max("upd").as("m2"))
      val p = a.join(b, "k").queryExecution.executedPlan.toString
      assert(p.contains("ReusedExchange"), s"self-join of two snapshot reads no longer reuses:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("scan statistics are the sum of the snapshot's file lengths") {
    val (sink, _) = busyTable()
    val snap = sink.manifest.scan(sink.manifest.current()).get
    val bytes = sink.bucketFiles().values.flatten.map(_._2).sum
    assert(snap.queryExecution.optimizedPlan.stats.sizeInBytes == BigInt(bytes))
    val old = parquetResolution(sink.path, sink.manifest.current().mapping)
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
      t.write("fixture")(_.commit(Map(0 -> g1, 1 -> g2)))
      (t, g1, g2)
    }
    // a column present in one generation only: was silently NULL
    val (t1, g1, g2) = table(Seq((1L, "x")).toDF("k", "a"), Seq((2L, "y")).toDF("k", "b"))
    val e1 = intercept[IllegalStateException](t1.scan(t1.current()))
    assert(e1.getMessage.contains(g1) && e1.getMessage.contains(g2), e1.getMessage)
    assert(e1.getMessage.contains("schema drift"))
    // a type change of one column
    val (t2, _, _) = table(Seq((1, "x")).toDF("k", "a"), Seq((2L, "y")).toDF("k", "a"))
    intercept[IllegalStateException](t2.scan(t2.current()))
    // nullability alone is not drift; a subset read of one generation is fine
    val (t3, _, _) = table(spark.range(1).select($"id".as("k")),
      Seq(Option(2L)).toDF("k"))
    assert(t3.scan(t3.current()).get.count() == 2)
    assert(t1.scan(t1.current(), Some(Seq(0))).get.count() == 1)

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
    assert(purged.manifest.current().mapping.isEmpty, "the purge must commit a snapshot without the keys")
    assert(purged.versions() == Seq(purged.manifest.current().version), "history must be destroyed")

    val compacted = table()
    val v0 = compacted.manifest.current().version
    compacted.compact(dropDeleted = Some("gone"))
    assert(compacted.manifest.current().version == v0 + 1 && compacted.manifest.current().mapping.isEmpty)
  }

  test("one generation writer: every write op's zone maps and bloom sidecars equal a plain parquet read's") {
    val statsCols = Seq("k", "v")
    val bloomCols = Seq("s", "v")
    val sink = new MergeSink(spark, freshDir() + "/t", keys = Seq("k"), orderCols = Seq("upd"),
      nBuckets = 8, statsCols = statsCols, bloomCols = bloomCols)
    sink.merge(batch(0, 240, 0))
    /** Runs one op and checks the generation it committed; returns the
      * op's job labels.
      */
    def check(op: String, carriesStats: Boolean = false)(body: => Unit): Seq[String] = {
      val (m0, st0) = (sink.manifest.current().mapping, sink.manifest.current().stats)
      val jobs = Probe.during(spark)(body)._2.map(_.label)
      val m = sink.manifest.current().mapping
      val gens = m.values.toSet -- m0.values
      assert(gens.size == 1, s"$op: expected one new generation, got $gens")
      val gen = gens.head
      val buckets = m.collect { case (b, g) if g == gen => b }.toSeq
      val (refStats, refBlooms) = reference(sink.path, gen, statsCols, bloomCols)
      assert(refStats.keySet == buckets.toSet, s"$op: mapped buckets are not the written ones")
      val committed = sink.manifest.current().stats.filter { case (b, _) => buckets.contains(b) }
      assert(committed == refStats, s"$op: zone maps differ from the parquet read's")
      if (carriesStats) assert(committed == st0.filter { case (b, _) => buckets.contains(b) })
      for (b <- buckets; c <- bloomCols) {
        val p = Paths.get(s"${sink.path}/$gen/${MergeSink.BucketCol}=$b/_bloom_$c")
        assert(refBlooms.get((b, c)) == Some(p).filter(Files.exists(_)).map(Files.readAllBytes(_).toSeq),
          s"$op: bloom sidecar of bucket $b column $c differs from the parquet read's")
      }
      assert(jobs.count(_ == s"$op:sidecars") == bloomCols.size,
        s"$op: sidecars must be one job per bloom column, got ${jobs.mkString("; ")}")
      assert(!jobs.contains(s"$op:stats-scan"), s"$op: footer stats must not scan")
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
    val foldJobs = Probe.during(spark)(view.merge(feed, batchId = 0L))._2.map(_.label)
    assert(foldJobs.contains("fold:write") && !foldJobs.exists(_.contains(":sidecars")))
    assert(rows(view.read()) == rows(feed.groupBy("k").agg(sum("v").as("v"), count(lit(1)).as("n_rows"))))
    val gen = view.manifest.current().mapping.values.toSet
    assert(gen.size == 1 && view.manifest.current().mapping.keySet ==
      spark.read.parquet(s"${view.path}/${gen.head}").select(MergeSink.BucketCol).distinct()
        .collect().map(_.getInt(0)).toSet)
    assertSinkFormat("fold", Seq(s"${view.path}/${gen.head}"), partitioned = true)
  }

  test("deleteVector writes only the keys of buckets the table holds") {
    val sink = new MergeSink(spark, freshDir() + "/t", keys = Seq("k"), orderCols = Seq("upd"),
      nBuckets = 16)
    sink.merge(batch(0, 3, 0))
    assert(sink.manifest.current().mapping.size <= 3, "fixture: most buckets must be absent")
    val probe = (0L until 64L).toDF("k")
    val written = Probe.during(spark)(sink.deleteVector(probe))._2
      .filter(_.label == "dv:write").map(_.recordsWritten).sum
    val dv = sink.deleteVectors()
    assert(dv.keySet.subsetOf(sink.manifest.current().mapping.keySet))
    // every probe row routed to a held bucket lands in that bucket's vector
    val routedToHeld = spark.read.parquet(dv.values.flatten.map(d => s"${sink.path}/$d").toSeq: _*).count()
    assert(routedToHeld > 0 && routedToHeld < probe.count())
    assert(written == routedToHeld, s"dv:write wrote $written rows, $routedToHeld route to held buckets")
    assert(sink.read().isEmpty, "every key of the table was probed")
  }

  /** Runs `body` with every `file:` FileSystem a fresh
    * [[ManifestOpenCounter]]; handles must be created inside `body`.
    */
  private def countingOpens[T](body: => T): T = {
    spark.conf.set("fs.file.impl", classOf[ManifestOpenCounter].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    try body
    finally {
      spark.conf.unset("fs.file.impl")
      spark.conf.unset("fs.file.impl.disable.cache")
    }
  }

  /** (`_MANIFEST` opens, opens per version file) during `body`. */
  private def opensDuring(body: => Unit): (Int, Map[String, Int]) = {
    ManifestOpenCounter.opens.clear()
    body
    val names = ManifestOpenCounter.opens.asScala.toSeq
    (names.count(_ == TableManifest.ManifestFile),
      names.filter(_.startsWith("v-")).groupBy(identity).map { case (n, ns) => n -> ns.size })
  }

  test("one manifest parse per operation: each read, merge and fold opens _MANIFEST once") {
    val (path, viewPath) = (freshDir() + "/t", freshDir() + "/view")
    def table() = new MergeSink(spark, path, keys = Seq("k"), orderCols = Seq("upd"),
      nBuckets = 16, statsCols = Seq("v"), bloomCols = Seq("s"))
    def viewOf() = new AggSink(spark, viewPath, Seq("k"), Seq("v"), nBuckets = 16)
    def viewBatch(i: Int) = batch(0, 200, i).select(($"k" % 37).as("k"), $"v".cast("long").as("v"))
    val (sink0, view0) = (table(), viewOf())
    (0 until 6).foreach { i =>
      sink0.merge(batch(i * 20L, i * 20L + 100, i))
      view0.merge(viewBatch(i), batchId = i.toLong)
    }
    sink0.deleteVector(Seq(3L, 50L).toDF("k"))
    countingOpens {
      val (sink, view) = (table(), viewOf())
      val reads = Seq[(String, () => DataFrame)](
        "read" -> (() => sink.read()),
        "readForKeys" -> (() => sink.readForKeys(Seq(1L, 70L).toDF("k"))),
        "readPoints" -> (() => sink.readPoints("s", Seq(3L, 300L, 606L))),
        "readRange" -> (() => sink.readRange("v", 10.0, 20.0)),
        "AggSink.read" -> (() => view.read()))
      for ((name, op) <- reads) {
        val (manifests, versionFiles) = opensDuring(op().collect())
        assert(manifests == 1 && versionFiles.isEmpty,
          s"$name opened _MANIFEST $manifests times and version files $versionFiles")
      }
      for ((name, op) <- Seq[(String, () => Unit)](
             "merge" -> (() => sink.merge(batch(500, 520, 9))),
             "fold" -> (() => view.merge(viewBatch(9), batchId = 9L)))) {
        val (manifests, versionFiles) = opensDuring(op())
        assert(manifests == 1, s"$name opened _MANIFEST $manifests times")
        assert(versionFiles.nonEmpty && versionFiles.values.forall(_ == 1),
          s"$name must parse each retained older version once: $versionFiles")
      }
      // published versions are immutable: the same handle never re-parses one
      val (_, again) = opensDuring(sink.merge(batch(600, 620, 10)))
      assert(again.isEmpty, s"a second merge on the handle re-opened version files $again")
    }
    assert(table().read().count() == 238 && viewOf().read().count() == 37)
  }

  test("_MANIFEST is read only by TableManifest.current(), and consistentRead stays gone") {
    val main = Paths.get("src/main/scala")
    assert(Files.isDirectory(main), s"run from the repo root: ${main.toAbsolutePath}")
    val sources = Files.walk(main).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> new String(Files.readAllBytes(p), "UTF-8"))
    val hits = sources.collect {
      case (n, text) if text.contains("consistentRead") => s"$n: consistentRead"
      case (n, text) if n != "TableManifest.scala" &&
        ("\\bManifestFile\\b".r.findFirstIn(text).nonEmpty || text.contains("\"_MANIFEST\"")) =>
        s"$n: names _MANIFEST"
    }
    assert(hits.isEmpty, s"manifest reads outside TableManifest.current(): ${hits.mkString("; ")}")
    val tm = sources.collectFirst { case ("TableManifest.scala", t) => t }.get
    val reads = "(readText|open)\\(manifestPath".r.findAllMatchIn(tm).map(_.start).toSeq
    val current = tm.indexOf("  def current(): Snapshot =")
    val next = tm.indexOf("\n  /**", current)
    assert(reads.size == 1 && current >= 0 && reads.head > current && reads.head < next,
      s"_MANIFEST must be parsed in exactly one place, current(): reads at $reads")
  }

  test("commits leave no manifest temp file or checksum beside _MANIFEST") {
    val sink = new MergeSink(spark, freshDir() + "/t", Seq("k"), Seq("upd"), nBuckets = 4)
    (0 until 4).foreach(i => sink.merge(batch(i * 10L, i * 10L + 20, i)))
    sink.deleteVector(Seq(1L).toDF("k"))
    assert(sink.versions().size == 5)
    def names = Files.list(Paths.get(sink.path)).iterator().asScala.map(_.getFileName.toString).toSeq
    assert(!names.exists(_.contains("_manifest.tmp")), s"left behind: ${names.sorted.mkString(", ")}")
    // the checksum an older commit left beside its temp body is reclaimed
    val orphan = Paths.get(sink.path, s"._manifest.tmp.${java.util.UUID.randomUUID()}.crc")
    Files.write(orphan, Array[Byte](1, 2, 3))
    sink.merge(batch(100, 110, 5))
    assert(!Files.exists(orphan), s"left behind: ${names.sorted.mkString(", ")}")
  }
}

/** A local FileSystem that records the name of every file opened
  * (test probe for manifest parses: `fs.file.impl` with
  * `fs.file.impl.disable.cache=true`).
  */
class ManifestOpenCounter extends org.apache.hadoop.fs.LocalFileSystem {
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    ManifestOpenCounter.opens.add(f.getName)
    super.open(f, bufferSize)
  }
}

object ManifestOpenCounter {
  val opens = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
