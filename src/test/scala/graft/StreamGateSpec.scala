package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.{StreamGate, StreamingQueries}

/** The streaming-gate harness: feed layout and mtime order, restartable
  * drains, the memory drain's session hygiene, the key-unique equality
  * witness, and the guard that keeps gate scaffolding inside it.
  */
class StreamGateSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Visible files of `dir` (name, mtime), sorted by name. */
  private def listing(dir: String): Seq[(String, Long)] = {
    val p = new Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(p).toSeq
      .map(f => (f.getPath.getName, f.getModificationTime))
      .filterNot { case (n, _) => n.startsWith(".") || n.startsWith("_") }
      .sortBy(_._1)
  }

  test("feed writes one file per slice, in slice order, with strictly increasing mtimes") {
    val dir = tmp("graft_feed_") + "/in"
    val df = spark.range(0, 100).select(col("id"), (col("id") % 5).as("k"))
    val in = StreamGate.feed(df, col("k"), 5, dir, "json")
    assert(in.files == 5)
    val files = listing(dir)
    assert(files.map(_._1.take(11)) == (0 until 5).map(i => f"slice-$i%05d"), files)
    val mtimes = files.map(_._2)
    assert(mtimes.zip(mtimes.tail).forall { case (a, b) => a < b }, s"mtimes $mtimes")
    files.zipWithIndex.foreach { case ((name, _), i) =>
      val ids = spark.read.schema(in.schema).json(s"$dir/$name")
        .select("id").as[Long].collect().toSet
      assert(ids == (0L until 100L).filter(_ % 5 == i).toSet, s"slice $i holds $ids")
    }
    assert(in.schema.fieldNames.toSeq == Seq("id", "k") && in.schema.forall(_.nullable))
  }

  test("feed throws on an empty slice when every slice is required, else skips it") {
    val df = spark.range(0, 30).select(col("id"))
    val lenient = StreamGate.feed(df, (col("id") % 3) * 2, 5, tmp("graft_feed_") + "/in")
    assert(lenient.files == 3)
    val e = intercept[IllegalArgumentException](StreamGate.feed(df, (col("id") % 3) * 2, 5,
      tmp("graft_feed_") + "/in", everySlice = true))
    assert(e.getMessage.contains("every one of 0..4"), e.getMessage)
  }

  test("a second drain on the same checkpoint reads only the files added since") {
    val base = tmp("graft_drain_")
    val (dir, ckpt) = (s"$base/in", s"$base/ckpt")
    val in = StreamGate.feed(spark.range(0, 30).toDF("id"), col("id") % 3, 3, dir, "json")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def run(): Unit = StreamGate.drain(in.stream(), ckpt) { (batch, bid) =>
      batch.select("id").as[Long].collect().foreach(id => seen.add((bid, id)))
    }
    run()
    import scala.jdk.CollectionConverters._
    val first = seen.asScala.toSeq
    assert(first.map(_._2).sorted == (0L until 30L))
    assert(first.map(_._1).distinct.size == 3, "one micro-batch per slice file")
    seen.clear()
    spark.range(100, 110).toDF("id").coalesce(1).write.mode("append").json(dir)
    StreamGate.stampBatchMtime(dir, 3)
    run()
    assert(seen.asScala.map(_._2).toSeq.sorted == (100L until 110L),
      "the restarted drain must read only the appended file")
  }

  test("drainToMemory leaves no temp view behind, and its frame keeps the rows") {
    def views = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    val before = views
    val out = StreamingQueries.q164StreamStaticJoin(spark, sfDir)
    assert(views == before, s"gate leaked temp views ${views -- before}")
    val twin = graft.core.Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .join(graft.core.Tables.customer(spark, sfDir), col("user_id") === col("c_custkey"))
      .join(graft.core.Tables.nation(spark, sfDir), col("c_nationkey") === col("n_nationkey"))
      .select(col("event_id"), col("user_id"), col("n_name").as("nation"),
        round(col("value") * 100).cast("long").as("cents"))
    assert(out.count() > 0)
    assert(StreamGate.bagEqual(out, twin, Seq("event_id")))
  }

  test("bagEqual rejects a changed value, a missing row and an extra row, and throws on a duplicated key") {
    val a = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, null, 3.0)).toDF("k", "s", "v")
    def eq(b: DataFrame) = StreamGate.bagEqual(a, b, Seq("k"))
    assert(eq(a.orderBy(col("k").desc).select("v", "k", "s")))
    assert(!eq(a.withColumn("v", when(col("k") === 2L, 2.5).otherwise(col("v")))))
    assert(!eq(a.withColumn("s", when(col("k") === 3L, "c").otherwise(col("s")))))
    assert(!eq(a.filter(col("k") =!= 2L)))
    assert(!eq(a.unionByName(Seq((4L, "d", 4.0)).toDF("k", "s", "v"))))
    val dup = a.unionByName(a.filter(col("k") === 1L))
    intercept[IllegalArgumentException](StreamGate.bagEqual(dup, dup, Seq("k")))
    intercept[IllegalArgumentException](eq(dup))
    // key-only frames compare by key presence alone
    val keys = a.select("k")
    assert(StreamGate.bagEqual(keys, keys, Seq("k")))
    assert(!StreamGate.bagEqual(keys, keys.filter(col("k") > 1L), Seq("k")))
  }

  test("bagEqual runs no more Spark jobs than the multiset witness it replaced") {
    val a = spark.range(0, 2000).select(col("id").as("k"), (col("id") * 3).as("v"))
    val b = a.orderBy(col("v").desc)
    val (multiset, oldJobs) = graft.core.Probe.during(spark) {
      val cs = a.columns.toSeq.map(col)
      a.withColumn("__side", lit(1L))
        .unionByName(b.select(cs: _*).withColumn("__side", lit(-1L)))
        .groupBy(cs: _*).agg(sum(col("__side")).as("__d"))
        .filter(col("__d") =!= 0L).isEmpty
    }
    val (keyed, newJobs) = graft.core.Probe.during(spark)(StreamGate.bagEqual(a, b, Seq("k")))
    assert(multiset && keyed)
    assert(newJobs.size <= oldJobs.size,
      s"bagEqual ran ${newJobs.size} jobs, the multiset witness ${oldJobs.size}")
  }

  test("gate scaffolding lives only in the StreamGate harness") {
    val dir = new java.io.File("src/main/scala/graft/queries")
    assert(dir.isDirectory, s"run from the repo root: ${dir.getAbsolutePath}")
    val banned = Seq("Trigger.AvailableNow()", "format(\"memory\")", "setLastModified")
    val hits = for {
      f <- dir.listFiles().toSeq.sortBy(_.getName)
      if f.getName.endsWith(".scala") && f.getName != "StreamGate.scala"
      text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      b <- banned if text.contains(b)
    } yield s"${f.getName}: $b"
    assert(hits.isEmpty, s"streaming scaffolding outside StreamGate: ${hits.mkString("; ")}")
  }
}
