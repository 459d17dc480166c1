package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.Workload
import graft.sink.Warehouse
import graft.ops.Cdc

/** Golden end-to-end replay (SURVEY.md §5.4): seeded CDC workload ->
  * warehouse sink -> LWW live state -> analytics, with determinism,
  * idempotent-replay, and invariant checks on the reference's own
  * schema.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir() = Files.createTempDirectory("graft_wh_").toString

  private lazy val env = Workload.cdcEnvelopes(spark, n = 300, nDocs = 40, seed = 42L)

  test("workload simulator is deterministic and honors the reference contract") {
    val a = Workload.cdcEnvelopes(spark, 300, 40, 42L).collect()
    val b = Workload.cdcEnvelopes(spark, 300, 40, 42L).collect()
    assert(a.toSeq == b.toSeq)
    val rows = env.cache()
    // 50/30/20-ish mix, data null exactly for deletes, invariant holds
    val mix = rows.groupBy("operation").count().as[(String, Long)].collect().toMap
    assert(mix.keySet == Set("insert", "update", "delete"))
    assert(mix("insert") > mix("update") && mix("update") > mix("delete"))
    assert(rows.filter($"operation" === "delete" && $"data".isNotNull).count() == 0)
    assert(rows.filter($"operation" =!= "delete" && $"data".isNull).count() == 0)
    assert(rows.filter($"data".isNotNull &&
      ($"data.watched_seconds" < 0 ||
       $"data.watched_seconds" > $"data.video_duration_seconds")).count() == 0)
  }

  test("end-to-end: sink -> live state matches direct batch LWW; analytics sane") {
    val dir = freshDir()
    Warehouse.append(Warehouse.toWarehouseRows(env), dir)
    val live = Warehouse.liveState(spark, dir)
    // live state == LWW computed directly on the in-flight rows
    val direct = Cdc.latestByKey(Warehouse.toWarehouseRows(env),
        Warehouse.DedupKeys, Warehouse.VersionCols)
      .filter(!$"is_deleted")
      .select($"original_id", $"ingestion_seq").as[(String, Long)].collect().toSet
    val fromSink = live.select($"original_id", $"ingestion_seq")
      .as[(String, Long)].collect().toSet
    assert(fromSink == direct && fromSink.nonEmpty)
    // one row per key, ratios in [0,1]
    assert(live.count() == live.select("original_id").distinct().count())
    val mm = live.agg(min($"watched_ratio"), max($"watched_ratio")).first()
    assert(mm.getDouble(0) >= 0.0 && mm.getDouble(1) <= 1.0)
    val analytics = Cdc.videoAnalytics(live)
    assert(analytics.count() > 0)
  }

  test("JDBC warehouse sink: parallel foreachPartition inserts; at-least-once replay resolved by read-side LWW") {
    // embedded Derby rides Spark's own classpath — a REAL JDBC target
    // (multi-connection, transactional), no network needed; the sends
    // are Spark's own format("jdbc") writer, one transaction per partition
    val url = "jdbc:derby:memory:graftwh;create=true"
    val rows = Warehouse.toWarehouseRows(env)
    def send(mode: String): Unit = rows.repartition(4).write.format("jdbc")
      .option("url", url).option("dbtable", "wh_rows").mode(mode).save()
    send("overwrite")
    // the reference's delivery contract: a replay (failed-task retry /
    // speculative double-send) APPENDS — duplicates are resolved at
    // read time by LWW, never by exactly-once machinery
    send("append")
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "wh_rows").load()
    assert(back.columns.toSeq == rows.columns.toSeq)
    assert(back.count() == 2 * rows.count(), "both sends must have landed")
    val live = Cdc.latestByKey(back, Warehouse.DedupKeys, Warehouse.VersionCols)
      .filter(!$"is_deleted")
      .select($"original_id", $"ingestion_seq").as[(String, Long)].collect().toSet
    val direct = Cdc.latestByKey(rows, Warehouse.DedupKeys, Warehouse.VersionCols)
      .filter(!$"is_deleted")
      .select($"original_id", $"ingestion_seq").as[(String, Long)].collect().toSet
    assert(live == direct && live.nonEmpty,
      "double-sent JDBC state must LWW-resolve to the single-send live state")
  }

  test("JDBC warehouse sink: a column with no JDBC type fails loudly and adds no row") {
    val url = "jdbc:derby:memory:graftwh_types;create=true"
    val rows = Warehouse.toWarehouseRows(env).limit(3)
    def count() = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "wh_rows").load().count()
    rows.write.format("jdbc").option("url", url).option("dbtable", "wh_rows")
      .mode("overwrite").save()
    assert(count() == 3)
    // same column names as the target, so only the type can fail
    val bad = rows.withColumn("ingestion_seq", struct($"ingestion_seq".as("id")))
    val e = intercept[Exception] {
      bad.write.format("jdbc").option("url", url).option("dbtable", "wh_rows")
        .mode("append").save()
    }
    assert(e.getMessage.contains("Can't get JDBC type for struct<id:bigint>"), e.getMessage)
    assert(count() == 3, "a rejected send must leave the target as it was")
  }

  test("replaying the same batch is idempotent under dynamic partition overwrite") {
    val dir = freshDir()
    val rows = Warehouse.toWarehouseRows(env)
    val mode = "spark.sql.sources.partitionOverwriteMode"
    Warehouse.append(rows, dir)
    val once = Warehouse.liveState(spark, dir)
      .select($"original_id", $"ingestion_seq").as[(String, Long)].collect().toSet
    // replay the identical batch with partition overwrite (backfill path)
    Warehouse.append(rows, dir, overwritePartitions = true)
    val twice = Warehouse.liveState(spark, dir)
      .select($"original_id", $"ingestion_seq").as[(String, Long)].collect().toSet
    assert(twice == once)
    // plain append (at-least-once duplicate) also converges via LWW
    Warehouse.append(rows, dir)
    val thrice = Warehouse.liveState(spark, dir)
      .select($"original_id", $"ingestion_seq").as[(String, Long)].collect().toSet
    assert(thrice == once)
    // the overwrite mode is the write's own option, not a session setting
    assert(spark.conf.get(mode) == spark.newSession().conf.get(mode))
    // the replay rewrites only its own day: an earlier day's partition survives it
    val days = freshDir()
    Warehouse.append(rows.withColumn("ingest_date", date_sub($"ingest_date", 1)), days)
    Warehouse.append(rows, days, overwritePartitions = true)
    assert(spark.read.parquet(days).groupBy("ingest_date").count().select("count").as[Long]
      .collect().toSeq == Seq(rows.count(), rows.count()))
  }

  test("P5 quarantine split: bad rows captured with reasons, nothing dropped") {
    import graft.ops.Quarantine
    val good = env
    val badOp = env.limit(3).withColumn("operation", lit("replace"))
    val noData = env.filter($"operation" === "insert").limit(2)
      .withColumn("data", lit(null).cast(env.schema("data").dataType))
    val all = good.unionByName(badOp).unionByName(noData)
    val (valid, bad) = Quarantine.split(all, Quarantine.envelopeValidity())
    assert(valid.count() + bad.count() == all.count())
    val reasons = bad.groupBy("quarantine_reason").count()
      .as[(String, Long)].collect().toMap
    assert(reasons == Map("unknown_operation" -> 3L, "missing_data" -> 2L))
  }

  test("MergeSink: micro-batched upsert equals whole-history LWW; only touched buckets rewritten") {
    import graft.sink.MergeSink
    val dir = freshDir() + "/state"
    val rows = Warehouse.toWarehouseRows(env).cache()
    val nBuckets = 8
    val sink = new MergeSink(spark, dir, Warehouse.DedupKeys, Warehouse.VersionCols, nBuckets)

    // three out-of-order batches with overlap (at-least-once duplicates):
    // batch boundaries must not matter because LWW is commutative +
    // associative + idempotent
    val b1 = rows.filter(pmod($"ingestion_seq", lit(3)) === 1)
    val b2 = rows.filter(pmod($"ingestion_seq", lit(3)) === 2)
      .unionByName(b1.limit(20)) // redelivered rows
    val b0 = rows.filter(pmod($"ingestion_seq", lit(3)) === 0)
    Seq(b1, b2, b0).foreach(sink.merge(_))

    val expected = Cdc.latestByKey(rows, Warehouse.DedupKeys, Warehouse.VersionCols)
      .select($"original_id", $"ingestion_seq").as[(String, Long)].collect().toSet
    def state() = sink.read().select($"original_id", $"ingestion_seq")
      .as[(String, Long)].collect().toSet
    assert(state() == expected && expected.nonEmpty)

    // snapshot every bucket's committed files (name, size, mtime)
    def snapshot(): Map[Int, Set[(String, Long, Long)]] =
      (0 until nBuckets).map { b =>
        b -> sink.bucketFiles().getOrElse(b, Seq.empty).toSet
      }.toMap
    val before = snapshot()
    assert(before.values.forall(_.nonEmpty), "40 keys must populate all 8 buckets")

    // a batch confined to ONE bucket: newer versions of that bucket's keys
    val target = 3
    val oneBucket = rows
      .filter(pmod(hash($"original_id"), lit(nBuckets)) === target)
      .withColumn("ingestion_seq", $"ingestion_seq" + 10000L)
    assert(oneBucket.count() > 0)
    sink.merge(oneBucket)
    val after = snapshot()
    (0 until nBuckets).filterNot(_ == target).foreach { b =>
      assert(after(b) == before(b), s"untouched bucket $b was rewritten")
    }
    assert(after(target) != before(target), "touched bucket must be rewritten")

    // replaying the same single-bucket batch is content-idempotent
    val s1 = state()
    sink.merge(oneBucket)
    assert(state() == s1)

    // empty batch: complete no-op, no files change anywhere
    val preEmpty = snapshot()
    sink.merge(rows.limit(0))
    assert(snapshot() == preEmpty)

    // the merge read prunes at the PATH level: a two-bucket resolve
    // lists only those buckets' files into the scan — stronger than a
    // PartitionFilters pushdown, the other buckets are never even
    // enumerated
    val inputs = sink.readBuckets(Seq(target, target + 1)).get.inputFiles
    assert(inputs.nonEmpty && inputs.forall(f =>
      f.contains(s"${MergeSink.BucketCol}=$target/") ||
      f.contains(s"${MergeSink.BucketCol}=${target + 1}/")),
      s"bucket read listed foreign files: ${inputs.take(5).mkString(", ")}")
  }

  test("AggSink folds batch partials to the whole-history aggregate; batch-id fence blocks replay") {
    import graft.sink.AggSink
    val dir = freshDir() + "/agg"
    val rows = Warehouse.toWarehouseRows(env)
      .filter(!$"is_deleted") // tombstones carry NULL measures
      .select($"device_type", $"watched_seconds".cast("long").as("w"))
      .cache()
    val sink = new AggSink(spark, dir, Seq("device_type"), Seq("w"), nBuckets = 4)
    val b = (0 until 3).map(i => rows.filter(pmod($"w", lit(3)) === i))
    b.foreach(df => sink.merge(df))
    val expected = rows.groupBy($"device_type")
      .agg(sum($"w").as("w"), count(lit(1)).as("n_rows"))
      .as[(String, Long, Long)].collect().toSet
    def state() = sink.read().select($"device_type", $"w", $"n_rows")
      .as[(String, Long, Long)].collect().toSet
    assert(state() == expected && expected.nonEmpty)

    // addition is not idempotent; the batch-id fence must make the
    // foreachBatch adapter effectively-once under replayed batch ids
    val feb = sink.forEachBatch
    feb(b(0).toDF(), 10L)
    val afterTen = state()
    assert(afterTen != expected, "batch 10 should have changed the aggregate")
    feb(b(0).toDF(), 10L) // replayed id: must be skipped
    assert(state() == afterTen, "replayed batch id was double-counted")
    assert(sink.lastBatchId == 10L)
  }

  test("deletion vectors: zero-rewrite delete, re-insert revival, compaction apply, vacuum liveness") {
    import graft.sink.MergeSink
    val dir = freshDir() + "/dv"
    val sink = new MergeSink(spark, dir, Seq("k"), Seq("upd"), nBuckets = 4)
    def state() = sink.read().select($"k", $"v").as[(Long, String)].collect().toSet
    sink.merge((1L to 20L).map(k => (k, s"v$k", 0L)).toDF("k", "v", "upd"))
    val vBefore = sink.versions().max
    val mapBefore = sink.manifest.current().mapping
    // merge-on-read delete of a scattered key set: no data file moves
    sink.deleteVector(Seq(3L, 7L, 11L, 19L).toDF("k"))
    assert(sink.manifest.current().mapping == mapBefore, "DV commit must not remap data buckets")
    assert(sink.deleteVectors().nonEmpty)
    assert(state().map(_._1) == (1L to 20L).toSet -- Set(3L, 7L, 11L, 19L))
    // time travel BEFORE the DV still shows the rows; at the DV it doesn't
    assert(sink.readAt(vBefore).select($"k").as[Long].collect().toSet == (1L to 20L).toSet)
    // a second DV accumulates; range of applicability is per-bucket
    sink.deleteVector(Seq(4L).toDF("k"))
    assert(state().map(_._1) == (1L to 20L).toSet -- Set(3L, 4L, 7L, 11L, 19L))
    // LWW re-insert of a deleted key: its bucket's rewrite consumes the
    // vector, so the NEW row survives while other deletes stay deleted
    sink.merge(Seq((7L, "v7new", 1L)).toDF("k", "v", "upd"))
    assert(state().contains((7L, "v7new")))
    assert(!state().map(_._1).contains(3L) && !state().map(_._1).contains(4L))
    // point/range entry paths see DVs too (they route through readBuckets)
    assert(sink.read().filter($"k" === 11L).isEmpty)
    // compaction applies every remaining vector physically
    val before = state()
    sink.compact(maxFilesPerBucket = 64)
    assert(sink.deleteVectors().isEmpty, "compact must consume all DVs")
    assert(state() == before, "physical apply must be content-invisible")
    // expiry + vacuum after consumption: stale DV gens are reclaimable,
    // content unchanged
    sink.expireVersions(1)
    assert(state() == before)
  }

  test("deletion vector crash-injection: a crash before the manifest rename publishes nothing") {
    import graft.sink.MergeSink
    val dir = freshDir() + "/dv_crash"
    val sink = new MergeSink(spark, dir, Seq("k"), Seq("upd"), nBuckets = 2)
    sink.merge(Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 0L)).toDF("k", "v", "upd"))
    def keys() = sink.read().select($"k").as[Long].collect().toSet
    sink.manifest.beforeCommit = () => throw new RuntimeException("injected crash")
    val e = intercept[RuntimeException](sink.deleteVector(Seq(2L).toDF("k")))
    assert(e.getMessage == "injected crash")
    assert(keys() == Set(1L, 2L, 3L),
      "a crashed DV commit must leave every row visible (files written, nothing published)")
    assert(sink.deleteVectors().isEmpty)
    // replay after restart: the delete lands exactly once
    sink.manifest.beforeCommit = () => ()
    sink.deleteVector(Seq(2L).toDF("k"))
    assert(keys() == Set(1L, 3L))
    // the next data commit's vacuum sweeps the crashed attempt's orphan
    // gen (it is referenced by no version's mapping and no version's DV)
    sink.merge(Seq((4L, "d", 1L)).toDF("k", "v", "upd"))
    assert(keys() == Set(1L, 3L, 4L))
  }

  test("deletion vector survives vacuum while outstanding (gen referenced only by the DV)") {
    import graft.sink.MergeSink
    val dir = freshDir() + "/dv2"
    val sink = new MergeSink(spark, dir, Seq("k"), Seq("upd"), nBuckets = 2)
    sink.merge(Seq((1L, "a", 0L), (2L, "b", 0L)).toDF("k", "v", "upd"))
    sink.deleteVector(Seq(2L).toDF("k"))
    // vacuum runs inside merge/compact; run it directly too — the DV's
    // generation dir is referenced by no bucket mapping, only by the DV
    sink.manifest.write("vacuum")(_.vacuum())
    assert(sink.read().select($"k").as[Long].collect().toSet == Set(1L))
    // a merge into the OTHER bucket must not disturb the outstanding DV
    sink.merge(Seq((1L, "a2", 1L)).toDF("k", "v", "upd"))
    assert(sink.read().select($"k").as[Long].collect().toSet == Set(1L))
  }

  test("a vacuum treats a stage that vanishes between its listing and its parse as dropped") {
    import graft.sink.MergeSink
    val dir = freshDir() + "/vanish"
    def table() = new MergeSink(spark, dir, Seq("k"), Seq("upd"), nBuckets = 2)
    val sink0 = table()
    sink0.merge(Seq((1L, 10L, 0L), (2L, 20L, 0L)).toDF("k", "v", "upd"))
    def gensOnDisk() = Option(new java.io.File(dir + "/data").listFiles()).toSeq.flatten
      .filter(_.isDirectory).map(_.getName).toSet
    val before = gensOnDisk()
    sink0.stageMerge(Seq((3L, 30L, 1L)).toDF("k", "v", "upd"))
    sink0.manifest.preStage(sink0.manifest.newGenDir())
    // every `_staged/` entry the vacuum opens is gone by then: a failed
    // publish dropped the stage, a stager finished and dropped its marker
    spark.conf.set("fs.file.impl", classOf[VanishingStages].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    try {
      val sink = table()
      VanishingStages.armed = true
      sink.manifest.write("vacuum")(_.vacuum())
      VanishingStages.armed = false
      assert(sink.stagedTokens().isEmpty && sink.manifest.pendingStages().isEmpty)
      assert(gensOnDisk() == before, "the dropped stage's generation must be swept")
      assert(sink.read().select($"k").as[Long].collect().toSet == Set(1L, 2L))
    } finally {
      VanishingStages.armed = false
      spark.conf.unset("fs.file.impl")
      spark.conf.unset("fs.file.impl.disable.cache")
    }
  }

  test("write-audit-publish: staged gens live through vacuum, swept on discard, crash-safe publish") {
    import graft.sink.MergeSink
    val dir = freshDir() + "/wap"
    val sink = new MergeSink(spark, dir, Seq("k"), Seq("upd"), nBuckets = 2)
    sink.merge(Seq((1L, 10L, 0L), (2L, 20L, 0L)).toDF("k", "v", "upd"))
    def state() = sink.read().select($"k", $"v").as[(Long, Long)].collect().toSet
    def gensOnDisk() = Option(new java.io.File(dir + "/data").listFiles()).toSeq.flatten
      .filter(_.isDirectory).map(_.getName).toSet
    val before = gensOnDisk()
    val t = sink.stageMerge(Seq((3L, 30L, 1L)).toDF("k", "v", "upd"))
    val stagedGens = gensOnDisk() -- before
    assert(stagedGens.nonEmpty)
    // vacuum (ridden by any maintenance) must NOT sweep a staged gen
    sink.manifest.write("vacuum")(_.vacuum())
    assert((gensOnDisk() -- before) == stagedGens, "staged generation must survive vacuum")
    assert(state() == Set((1L, 10L), (2L, 20L)), "staged rows invisible")
    // audit sees the candidate state
    assert(sink.readStaged(t).select($"k").as[Long].collect().toSet == Set(1L, 2L, 3L))
    // crash injected INSIDE publish (before the manifest rename):
    // nothing published, stage still outstanding, retry succeeds
    sink.manifest.beforeCommit = () => throw new RuntimeException("boom")
    intercept[RuntimeException](sink.publishStaged(t))
    sink.manifest.beforeCommit = () => ()
    assert(state() == Set((1L, 10L), (2L, 20L)))
    assert(sink.stagedTokens() == Seq(t), "crashed publish must leave the stage outstanding")
    sink.publishStaged(t)
    assert(state() == Set((1L, 10L), (2L, 20L), (3L, 30L)))
    assert(sink.stagedTokens().isEmpty)
    // discard path: the staged gen is swept from disk immediately
    val before2 = gensOnDisk()
    val t2 = sink.stageMerge(Seq((4L, 40L, 2L)).toDF("k", "v", "upd"))
    val staged2 = gensOnDisk() -- before2
    assert(staged2.nonEmpty)
    sink.discardStaged(t2)
    assert((gensOnDisk() -- before2).isEmpty, "discard must sweep the staged generation")
    assert(state() == Set((1L, 10L), (2L, 20L), (3L, 30L)))
    // double-publish / publish-after-discard fail loudly
    intercept[IllegalStateException](sink.publishStaged(t2))
  }

  test("AggSink retraction: fold to zero hides the key, keeps the fence, re-insert revives") {
    import graft.sink.AggSink
    val dir = freshDir() + "/retract"
    val sink = new AggSink(spark, dir, Seq("k"), Seq("w"), 2)
    def state() = sink.read().as[(String, Long, Long)].collect().toSet
    sink.merge(Seq(("a", 10L), ("a", 5L), ("b", 7L)).toDF("k", "w"), 0)
    assert(state() == Set(("a", 15L, 2L), ("b", 7L, 1L)))
    // retract ALL of a's contribution — a pre-aggregated negative partial
    sink.foldPartials(Seq(("a", -15L, -2L)).toDF("k", "w", "n_rows"), 1)
    assert(state() == Set(("b", 7L, 1L)), "zero-count key must leave the view")
    // the zero row still carries the bucket fence: a replayed retraction
    // is a no-op, NOT a second subtraction into negative state
    val v = sink.manifest.versions().size
    sink.foldPartials(Seq(("a", -15L, -2L)).toDF("k", "w", "n_rows"), 1)
    assert(sink.manifest.versions().size == v, "replayed retraction must be fenced out")
    assert(state() == Set(("b", 7L, 1L)))
    // a later insert revives the key from zero
    sink.merge(Seq(("a", 3L)).toDF("k", "w"), 2)
    assert(state() == Set(("a", 3L, 1L), ("b", 7L, 1L)))
  }

  test("AggSink.lastBatchId is -1 on an existing-but-empty state table") {
    // a committed snapshot can hold zero rows (retention sweep wrote an
    // empty bucket); max(fence) over it is NULL and must read as "no
    // batch applied", not throw. Built as a real manifested table so
    // the NULL-max branch (not the no-manifest branch) is what runs.
    val dir = freshDir() + "/state"
    val gen = "data/g-empty-fixture"
    spark.range(0).selectExpr("id AS k", "id AS v", "id AS n_rows",
        "id AS __applied_batch")
      .coalesce(1).write.parquet(s"$dir/$gen/__bucket=0")
    val t = new graft.sink.TableManifest(spark, dir)
    t.write("fixture")(_.commit(Map(0 -> gen)))
    val sink = new graft.sink.AggSink(spark, dir, Seq("k"), Seq("v"), 4)
    assert(sink.lastBatchId == -1L)
    // and a dir with NO manifest and no bucket dirs is simply absent
    val bare = freshDir() + "/bare"
    spark.range(0).selectExpr("id AS k", "id AS v", "id AS n_rows",
        "id AS __applied_batch").coalesce(1).write.parquet(bare)
    assert(new graft.sink.AggSink(spark, bare, Seq("k"), Seq("v"), 4).lastBatchId == -1L)
  }

  test("pre-manifest table layouts fail loudly and migrate losslessly") {
    import graft.sink.MergeSink
    val dir = freshDir() + "/legacy"
    val rows = Warehouse.toWarehouseRows(env).cache()
    // fabricate the round-3 layout: bucket dirs at the root, no manifest
    Cdc.latestByKey(rows, Warehouse.DedupKeys, Warehouse.VersionCols)
      .withColumn(MergeSink.BucketCol,
        pmod(hash($"original_id"), lit(8)))
      .write.partitionBy(MergeSink.BucketCol).parquet(dir)
    val expected = Cdc.latestByKey(rows, Warehouse.DedupKeys, Warehouse.VersionCols)
      .select($"original_id", $"ingestion_seq").as[(String, Long)].collect().toSet
    val sink = new MergeSink(spark, dir, Warehouse.DedupKeys, Warehouse.VersionCols, 8)
    // silent it is not: reading a legacy table as empty would orphan
    // every row, so resolution must throw until migration runs
    val e = intercept[IllegalStateException](sink.read())
    assert(e.getMessage.contains("migrateLegacy"))
    intercept[IllegalStateException](sink.merge(rows.limit(5)))
    sink.migrateLegacy()
    def state() = sink.read().select($"original_id", $"ingestion_seq")
      .as[(String, Long)].collect().toSet
    assert(state() == expected, "migration lost rows")
    // and the migrated table merges normally (bump the DOMINANT version
    // column — event_time leads VersionCols, a bare seq bump loses LWW);
    // the merge touches half the buckets, so the snapshot mixes the
    // fixture's default-format (SNAPPY) files with the sink's ZSTD ones
    val bumped = rows.filter(pmod(hash($"original_id"), lit(8)) < 4).limit(50)
      .withColumn("event_time", $"event_time" + expr("INTERVAL 1000 DAYS"))
      .withColumn("ingestion_seq", $"ingestion_seq" + 10000L)
    sink.merge(bumped)
    val merged = Cdc.latestByKey(rows.unionByName(bumped), Warehouse.DedupKeys, Warehouse.VersionCols)
      .select($"original_id", $"ingestion_seq").as[(String, Long)].collect().toSet
    assert(merged != expected && merged.size == expected.size)
    def codecs() = sink.read().inputFiles.toSeq.flatMap(parquetChunks).map(_._1).toSet
    assert(codecs() == Set("SNAPPY", "ZSTD"), "one snapshot must read both file formats")
    assert(state() == merged)
    // the rewrite re-encodes the legacy generation, content unchanged
    sink.compact(maxFilesPerBucket = 0)
    assert(codecs() == Set("ZSTD"))
    assert(state() == merged)
  }

  test("MergeSink compaction rewrites only oversized buckets, content intact") {
    import graft.sink.MergeSink
    val dir = freshDir() + "/state"
    val rows = Warehouse.toWarehouseRows(env).cache()
    val nBuckets = 2 // ~20 keys per bucket -> merges genuinely multi-task
    val sink = new MergeSink(spark, dir, Warehouse.DedupKeys, Warehouse.VersionCols, nBuckets)
    def files(b: Int): Set[(String, Long, Long)] =
      sink.bucketFiles().getOrElse(b, Seq.empty).toSet
    def state() = sink.read().select($"original_id", $"ingestion_seq")
      .as[(String, Long)].collect().toSet

    // AQE would coalesce these tiny merges to one task (one file);
    // disable coalescing so writes scatter like production-sized ones
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      sink.merge(rows)
      sink.compact(maxFilesPerBucket = 1) // baseline: one file everywhere
      assert((0 until nBuckets).forall(files(_).size == 1))
      // dirty ONLY bucket 0 with newer versions of its keys
      sink.merge(rows
        .filter(pmod(hash($"original_id"), lit(nBuckets)) === 0)
        .withColumn("ingestion_seq", $"ingestion_seq" + 10000L))
    } finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    assert(files(0).size > 1, "multi-task merge should scatter files over bucket 0")
    assert(files(1).size == 1)
    val cold = files(1)
    val preCompact = state()
    sink.compact(maxFilesPerBucket = 1)
    assert(files(0).size == 1, s"compaction left ${files(0).size} files")
    assert(files(1) == cold, "compaction must not touch buckets under the threshold")
    assert(state() == preCompact, "compaction changed content")
  }

  test("AggSink fence is atomic with the data: a partial commit replays per-bucket exactly-once") {
    import graft.sink.{AggSink, MergeSink}
    val dir = freshDir() + "/agg_crash"
    val nBuckets = 4
    val rows = Warehouse.toWarehouseRows(env)
      .filter(!$"is_deleted")
      .select($"device_type", $"watched_seconds".cast("long").as("w"))
      .cache()
    val sink = new AggSink(spark, dir, Seq("device_type"), Seq("w"), nBuckets)
    sink.merge(rows, batchId = 1L) // baseline state, fence 1 everywhere touched
    val baseline = sink.read().as[(String, Long, Long)].collect().toSet

    // batch 2 touches at least two buckets; CRASH INJECTION: only the
    // rows of ONE of those buckets commit (the dynamic partition
    // overwrite died after swapping one bucket directory) — exactly
    // the window the old external fence file could not survive
    val batch2 = rows.limit(200)
    val withBucket = batch2.withColumn("__b", pmod(hash($"device_type"), lit(nBuckets)))
    val buckets = withBucket.select($"__b").distinct().as[Int].collect().sorted
    assert(buckets.length >= 2, s"need >=2 touched buckets, got ${buckets.toSeq}")
    val committed = buckets.head
    sink.merge(withBucket.filter($"__b" === committed).drop("__b"), batchId = 2L)

    // restart replay of the FULL batch 2: the committed bucket must be
    // skipped (fence = 2), the others folded — no double count anywhere
    sink.merge(batch2, batchId = 2L)
    val expected = {
      val partial = batch2.groupBy($"device_type")
        .agg(sum($"w").as("w"), count(lit(1)).as("n_rows"))
        .as[(String, Long, Long)].collect().toSet
      val byKey = partial.map(t => t._1 -> t).toMap
      baseline.map { case (k, w, n) =>
        byKey.get(k).map { case (_, dw, dn) => (k, w + dw, n + dn) }.getOrElse((k, w, n))
      } ++ partial.filter(t => !baseline.exists(_._1 == t._1))
    }
    assert(sink.read().as[(String, Long, Long)].collect().toSet == expected,
      "partial-commit replay double-counted or lost a bucket")

    // and a clean full replay of an already-applied id is a no-op
    val s2 = sink.read().as[(String, Long, Long)].collect().toSet
    sink.merge(batch2, batchId = 2L)
    assert(sink.read().as[(String, Long, Long)].collect().toSet == s2)
    assert(sink.lastBatchId == 2L)
  }

  test("manifest commit: crash between data-file write and manifest swap loses nothing, double-reads nothing") {
    import graft.sink.{AggSink, MergeSink}
    val rows = Warehouse.toWarehouseRows(env).cache()

    // ---- MergeSink: the crashed commit must be invisible ----
    val dir = freshDir() + "/m_crash"
    val sink = new MergeSink(spark, dir, Warehouse.DedupKeys, Warehouse.VersionCols, 4)
    val even = rows.filter(pmod($"ingestion_seq", lit(2)) === 0)
    val odd = rows.filter(pmod($"ingestion_seq", lit(2)) === 1)
    sink.merge(even)
    def state() = sink.read().select($"original_id", $"ingestion_seq")
      .as[(String, Long)].collect().toSet
    val committed = state()

    sink.manifest.beforeCommit = () => throw new RuntimeException("injected crash")
    val e = intercept[RuntimeException](sink.merge(odd))
    assert(e.getMessage == "injected crash")
    assert(state() == committed,
      "a crash after the data write but before the manifest swap must leave the old snapshot intact")

    // replay after restart: converges to the whole-history LWW, and the
    // successful commit's vacuum sweeps the crashed attempt's orphans
    sink.manifest.beforeCommit = () => ()
    sink.merge(odd)
    val expected = Cdc.latestByKey(rows, Warehouse.DedupKeys, Warehouse.VersionCols)
      .select($"original_id", $"ingestion_seq").as[(String, Long)].collect().toSet
    assert(state() == expected)
    // vacuum keeps generations any RETAINED version references (time
    // travel) but must have swept the crashed attempt's orphan data
    def onDisk() = Option(new java.io.File(dir + "/data").listFiles()).toSeq.flatten
      .filter(_.isDirectory).map(d => s"data/${d.getName}").toSet
    val retained = (sink.manifest.versions().flatMap(v => sink.manifest.at(v).mapping.values)
      ++ sink.manifest.current().mapping.values).toSet
    assert(onDisk() == retained,
      s"vacuum left orphan generations: ${onDisk() -- retained}")
    // expiring history down to the current version frees the rest
    sink.expireVersions(1)
    assert(onDisk() == sink.manifest.current().mapping.values.toSet,
      s"expiry left superseded generations: ${onDisk() -- sink.manifest.current().mapping.values.toSet}")
    assert(state() == expected, "expiry must not touch the current snapshot")

    // ---- AggSink: addition is NOT idempotent — the crashed commit must
    // leave the fence unarmed so the replayed batch folds exactly once ----
    val adir = freshDir() + "/a_crash"
    val ar = rows.filter(!$"is_deleted")
      .select($"device_type", $"watched_seconds".cast("long").as("w"))
    val asink = new AggSink(spark, adir, Seq("device_type"), Seq("w"), 4)
    asink.merge(ar, batchId = 1L)
    def astate() = asink.read().as[(String, Long, Long)].collect().toSet
    val afterOne = astate()

    asink.manifest.beforeCommit = () => throw new RuntimeException("injected crash")
    intercept[RuntimeException](asink.merge(ar, batchId = 2L))
    assert(astate() == afterOne, "crashed fold became visible")
    assert(asink.lastBatchId == 1L, "fence advanced without a committed fold")

    asink.manifest.beforeCommit = () => ()
    asink.merge(ar, batchId = 2L) // restart replay: folds exactly once
    val expectedAgg = afterOne.map { case (k, w, n) => (k, 2 * w, 2 * n) }
    assert(astate() == expectedAgg, "replay after crash double-counted or lost rows")
    assert(asink.lastBatchId == 2L)
    asink.merge(ar, batchId = 2L) // and the armed fence blocks a re-replay
    assert(astate() == expectedAgg)
  }

  test("writer lock: concurrent merge/compact fails fast, breakLock overrides") {
    import graft.sink.{AggSink, MergeSink}
    val dir = freshDir() + "/locked"
    val rows = Warehouse.toWarehouseRows(env)
    val sink = new MergeSink(spark, dir, Warehouse.DedupKeys, Warehouse.VersionCols, 4)
    sink.merge(rows)
    assert(!new java.io.File(dir + "_lock").exists(), "lock must release after merge")
    sink.merge(rows.limit(5).withColumn("ingestion_seq", $"ingestion_seq" + 1000L))

    // another writer holds the lock (atomic create-exclusive): every
    // write entry point refuses, names the holder and changes nothing
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir + "_lock"),
      "merge pid=9999 epochMs=0")
    val before = sink.read().count()
    def manifestBytes(d: String) = Files.readAllBytes(java.nio.file.Paths.get(d, "_MANIFEST")).toSeq
    def refused(d: String, holder: String, writes: Seq[(String, () => Any)]): Unit = {
      val bytes = manifestBytes(d)
      for ((name, op) <- writes) {
        val e = intercept[MergeSink.ConcurrentWriterException](op())
        assert(e.getMessage.contains("locked") && e.getMessage.contains(holder),
          s"$name: error must name the holder: ${e.getMessage}")
        assert(manifestBytes(d) == bytes, s"$name changed _MANIFEST under another writer's lock")
      }
    }
    // staging commits nothing, so it needs no lock
    val stage = () => sink.stageMerge(rows.limit(3).withColumn("ingestion_seq", $"ingestion_seq" + 2000L))
    val (toPublish, toDiscard) = (stage(), stage())
    val keyRows = rows.select(Warehouse.DedupKeys.map(col): _*).limit(2)
    refused(dir, "pid=9999", Seq(
      "merge" -> (() => sink.merge(rows)),
      "publishStaged" -> (() => sink.publishStaged(toPublish)),
      "discardStaged" -> (() => sink.discardStaged(toDiscard)),
      "purgeKeys" -> (() => sink.purgeKeys(keyRows)),
      "deleteVector" -> (() => sink.deleteVector(keyRows)),
      "compact" -> (() => sink.compact()),
      "rebucket" -> (() => sink.rebucket(8)),
      "beginMigration" -> (() => sink.beginMigration(8)),
      "migrateStep" -> (() => sink.migrateStep(1)),
      "expireVersions" -> (() => sink.expireVersions(1)),
      "rollback" -> (() => sink.rollback(1L)),
      "mergeOptimistic" -> (() => sink.mergeOptimistic(rows.limit(5)))))
    // the refused publishes keep their stages; mergeOptimistic drops the
    // stage its refused publish leaves
    assert(sink.stagedTokens().toSet == Set(toPublish, toDiscard))
    assert(sink.read().count() == before, "locked-out writer must not mutate state")

    // operator override for a crashed holder
    sink.manifest.breakLock()
    sink.merge(rows)
    assert(!new java.io.File(dir + "_lock").exists())

    // AggSink honors the same contract
    val adir = freshDir() + "/agg_locked"
    val asink = new AggSink(spark, adir,
      Seq("device_type"), Seq("ws"), 4)
    val arows = rows.select($"device_type", $"watched_seconds".cast("long").as("ws"))
    asink.merge(arows, batchId = 0L)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(adir + "_lock"), "compact pid=1 epochMs=0")
    refused(adir, "compact pid=1 ", Seq(
      "AggSink.merge" -> (() => asink.merge(arows, batchId = 1L)),
      "AggSink.foldPartials" -> (() => asink.foldPartials(
        Seq(("tv", 5L, 1L)).toDF("device_type", "ws", "n_rows"), batchId = 1L)),
      "AggSink.expireVersions" -> (() => asink.expireVersions(1))))
    asink.manifest.breakLock()
  }

  test("writer-lock lease: a killed holder's stale lock breaks after TTL; a live holder is never broken") {
    import graft.sink.{MergeSink, TableManifest}
    val dir = freshDir() + "/leased"
    val rows = Warehouse.toWarehouseRows(env)
    val sink = new MergeSink(spark, dir, Warehouse.DedupKeys, Warehouse.VersionCols, 4)
    val b1 = rows.filter(pmod($"ingestion_seq", lit(2)) === 0)
    val b2 = rows.filter(pmod($"ingestion_seq", lit(2)) === 1)
    sink.merge(b1)
    def state() = sink.read().select($"original_id", $"ingestion_seq")
      .as[(String, Long)].collect().toSet

    val ttl0 = TableManifest.lockTtlMs
    TableManifest.lockTtlMs = 1500
    try {
      // a KILLED mid-merge holder: lock left behind (finally never ran),
      // heartbeat dead, mtime frozen in the past
      val lockPath = java.nio.file.Paths.get(dir + "_lock")
      java.nio.file.Files.writeString(lockPath, "merge pid=4242 epochMs=0 uuid=dead")
      java.nio.file.Files.setLastModifiedTime(lockPath,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 60000))
      // the second writer breaks the expired lease and commits normally —
      // no operator intervention, no torn state
      sink.merge(b2)
      assert(!java.nio.file.Files.exists(lockPath), "lease break must not leave the stale lock")
      assert(state() == Cdc.latestByKey(b1.unionByName(b2),
        Warehouse.DedupKeys, Warehouse.VersionCols)
        .select($"original_id", $"ingestion_seq").as[(String, Long)].collect().toSet)

      // a LIVE holder heartbeats the lease: a contender fails fast even
      // when the holder runs far longer than the TTL
      val entered = new java.util.concurrent.CountDownLatch(1)
      val release = new java.util.concurrent.CountDownLatch(1)
      val holder = new Thread(() =>
        sink.manifest.write("slow-merge") { _ =>
          entered.countDown()
          release.await()
        })
      holder.start()
      assert(entered.await(10, java.util.concurrent.TimeUnit.SECONDS))
      Thread.sleep(2 * TableManifest.lockTtlMs) // well past the TTL
      val before = state()
      val e = intercept[MergeSink.ConcurrentWriterException](sink.merge(b1))
      assert(e.getMessage.contains("slow-merge"), s"must name the live holder: ${e.getMessage}")
      assert(state() == before, "locked-out writer must not mutate state")
      release.countDown()
      holder.join(10000)
      // clean release: the contender proceeds immediately
      sink.merge(b1)
      assert(!java.nio.file.Files.exists(lockPath))
    } finally TableManifest.lockTtlMs = ttl0
  }

  test("tombstone wins when it is the latest record for a key") {
    val dir = freshDir()
    Warehouse.append(Warehouse.toWarehouseRows(env), dir)
    val all = Cdc.latestByKey(spark.read.parquet(dir),
      Warehouse.DedupKeys, Warehouse.VersionCols)
    val deletedKeys = all.filter($"is_deleted").select("original_id")
      .as[String].collect().toSet
    val liveKeys = Warehouse.liveState(spark, dir).select("original_id")
      .as[String].collect().toSet
    assert(deletedKeys.nonEmpty)
    assert(deletedKeys.intersect(liveKeys).isEmpty)
  }

  test("time travel: readAt resolves retained versions; crashed versions invisible; expiry frees history") {
    import graft.sink.MergeSink
    val dir = freshDir() + "/tt"
    val rows = Warehouse.toWarehouseRows(env).cache()
    val sink = new MergeSink(spark, dir, Warehouse.DedupKeys, Warehouse.VersionCols, 4)
    val slices = (0 until 3).map(i => rows.filter(pmod($"ingestion_seq", lit(3)) === i))
    slices.foreach(sink.merge(_))
    assert(sink.versions() == Seq(1L, 2L, 3L))
    def lww(df: org.apache.spark.sql.DataFrame) =
      Cdc.latestByKey(df, Warehouse.DedupKeys, Warehouse.VersionCols)
        .select($"original_id", $"ingestion_seq").as[(String, Long)].collect().toSet
    def stateAt(v: Long) = sink.readAt(v).select($"original_id", $"ingestion_seq")
      .as[(String, Long)].collect().toSet
    assert(stateAt(1) == lww(slices(0)))
    assert(stateAt(2) == lww(slices(0).unionByName(slices(1))))
    assert(stateAt(3) == lww(rows))

    // snapshot isolation: a version read is pinned to immutable
    // generations — a later commit cannot show through it
    val pinned = stateAt(2)
    sink.merge(rows.limit(30)
      .withColumn("event_time", $"event_time" + expr("INTERVAL 500 DAYS"))
      .withColumn("ingestion_seq", $"ingestion_seq" + 50000L))
    assert(sink.versions() == Seq(1L, 2L, 3L, 4L))
    assert(stateAt(2) == pinned, "a committed version must be immutable")

    // a crash before publish must not surface a new version
    sink.manifest.beforeCommit = () => throw new RuntimeException("boom")
    intercept[RuntimeException](sink.merge(rows.limit(10)
      .withColumn("ingestion_seq", $"ingestion_seq" + 90000L)))
    sink.manifest.beforeCommit = () => ()
    assert(sink.versions() == Seq(1L, 2L, 3L, 4L))
    assert(sink.manifest.current().version == 4L)

    // retention: keep the 2 newest; expired reads fail loudly, the
    // current snapshot is untouched
    sink.expireVersions(2)
    assert(sink.versions() == Seq(3L, 4L))
    val e = intercept[IllegalStateException](sink.readAt(2))
    assert(e.getMessage.contains("expired"))
    assert(stateAt(3) == lww(rows))
  }

  test("OCC: pending pre-registration shields a half-written generation from " +
       "a concurrent publisher's vacuum; give-up after maxAttempts; crash discards pending") {
    import graft.sink.MergeSink
    val dir = freshDir() + "/occ"
    val rows = Warehouse.toWarehouseRows(env).cache()
    val sink = new MergeSink(spark, dir, Warehouse.DedupKeys, Warehouse.VersionCols, 4)
    sink.merge(rows.limit(40))

    // a lock-free stager has pre-registered its gen and written half a file
    val gen = sink.manifest.newGenDir()
    val pending = sink.manifest.preStage(gen)
    val genPath = new java.io.File(s"$dir/$gen/__bucket=0")
    genPath.mkdirs()
    java.nio.file.Files.write(genPath.toPath.resolve("part-half.parquet"),
      "partial".getBytes)
    sink.manifest.write("vacuum")(_.vacuum())
    assert(genPath.exists, "vacuum must not sweep a pre-registered generation")
    sink.manifest.discardPending(pending)
    assert(!new java.io.File(s"$dir/$gen").exists,
      "discardPending reclaims the abandoned generation")
    assert(sink.manifest.pendingStages().isEmpty)

    // persistent contention: every attempt loses the race -> bounded give-up
    val e = intercept[IllegalStateException] {
      sink.mergeOptimistic(rows.limit(10), maxAttempts = 2, beforePublish = () =>
        sink.merge(rows.limit(5)
          .withColumn("ingestion_seq", $"ingestion_seq" + 70000L)))
    }
    assert(e.getMessage.contains("lost the commit race 2 times"))
    assert(sink.stagedTokens().isEmpty, "losing stages are discarded, not leaked")

    // a crashing stage discards its pending marker and generation
    intercept[Exception] {
      sink.stageMerge(rows.limit(5).drop("watched_ratio"))
    }
    assert(sink.manifest.pendingStages().isEmpty,
      "a failed lock-free stage must not leak its pre-registration")
  }

  test("OCC: a commit landing DURING the stage — after the base read, before the " +
       "O(data) write finalizes — trips the stale fence; no lost update") {
    import graft.sink.MergeSink
    val dir = freshDir() + "/toctou"
    val rows = Warehouse.toWarehouseRows(env).cache()
    val sink = new MergeSink(spark, dir, Warehouse.DedupKeys, Warehouse.VersionCols, 4)
    sink.merge(rows.limit(40)) // v1

    // an intervening writer's rows: fresh keys, recognizable
    val intervening = rows.limit(8)
      .withColumn("original_id", concat($"original_id", lit("-mid")))
      .withColumn("ingestion_seq", $"ingestion_seq" + 200000L)
    // inject exactly in the TOCTOU window: the stager has read its merge
    // base but not yet written/fenced — the window the beforePublish seam
    // (post-staging) cannot reach
    var injected = false
    sink.onStageBaseRead = () =>
      if (!injected) { injected = true; sink.merge(intervening) }
    val attempts = sink.mergeOptimistic(
      rows.limit(10).withColumn("ingestion_seq", $"ingestion_seq" + 90000L),
      maxAttempts = 3)
    sink.onStageBaseRead = () => ()
    assert(attempts == 2,
      "the first stage was computed against a replaced base and MUST lose; " +
        "the re-stage (which sees the intervening commit) wins")
    val midKeys = intervening.select($"original_id").as[String].collect().toSet
    val live = sink.read().select($"original_id").as[String].collect().toSet
    assert(midKeys.subsetOf(live),
      "rows committed during a concurrent stage must not be silently overwritten")
  }

  test("a failed lock-free stage sweeps nothing: a merge paused before its manifest rename " +
       "still publishes intact") {
    import graft.sink.MergeSink
    val dir = freshDir() + "/stage_race"
    val rows = Warehouse.toWarehouseRows(env).cache()
    val b1 = rows.filter(pmod($"ingestion_seq", lit(2)) === 0)
    val b2 = rows.filter(pmod($"ingestion_seq", lit(2)) === 1)
    val sink = new MergeSink(spark, dir, Warehouse.DedupKeys, Warehouse.VersionCols, 4)
    sink.merge(b1)
    val n = sink.versions().last
    def state(df: org.apache.spark.sql.DataFrame) =
      df.select($"original_id", $"ingestion_seq").as[(String, Long)].collect().toSet

    // the merge of b2 stops where its generation and v-<n+1> are
    // written but _MANIFEST is not yet renamed
    val paused = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    sink.manifest.beforeCommit = () => { paused.countDown(); release.await() }
    var failure: Option[Throwable] = None
    val merging = new Thread(() =>
      try sink.merge(b2) catch { case t: Throwable => failure = Some(t) })
    merging.start()
    try {
      assert(paused.await(120, java.util.concurrent.TimeUnit.SECONDS), "the merge never reached its commit")
      // meanwhile another writer stages lock-free a batch that throws
      // inside its write (the route job reads only the key columns)
      val stager = new MergeSink(spark, dir, Warehouse.DedupKeys, Warehouse.VersionCols, 4)
      val poisoned = rows.limit(5)
        .withColumn("watched_ratio", raise_error(lit("poisoned batch")).cast("double"))
      val e = intercept[Exception](stager.stageMerge(poisoned))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("poisoned batch")), e.toString)
      assert(stager.manifest.pendingStages().isEmpty, "a failed stage must drop its pre-registration")
    } finally release.countDown()
    merging.join(120000)
    sink.manifest.beforeCommit = () => ()
    assert(failure.isEmpty, s"the paused merge failed: $failure")
    val expected = state(Cdc.latestByKey(rows, Warehouse.DedupKeys, Warehouse.VersionCols))
    assert(state(sink.read()) == expected, "the stage's cleanup took the paused merge's files")
    assert(sink.versions().last == n + 1)
    assert(state(sink.readAt(n + 1)) == expected)
  }

  test("rollback: vacuum keeps restored generations live; expired targets fail loudly; " +
       "compaction after rollback preserves the restored state") {
    import graft.sink.MergeSink
    val dir = freshDir() + "/rb"
    val rows = Warehouse.toWarehouseRows(env).cache()
    val sink = new MergeSink(spark, dir, Warehouse.DedupKeys, Warehouse.VersionCols, 4)
    val slices = (0 until 3).map(i => rows.filter(pmod($"ingestion_seq", lit(3)) === i))
    slices.foreach(sink.merge(_)) // v1..v3
    def state(df: org.apache.spark.sql.DataFrame) =
      df.select($"original_id", $"ingestion_seq").as[(String, Long)].collect().toSet

    sink.rollback(1L) // v4
    assert(sink.versions() == Seq(1L, 2L, 3L, 4L))
    assert(state(sink.read()) == state(sink.readAt(1L)))

    // vacuum (runs inside merge) must keep v4's restored generations
    // even though v2/v3 wrote newer gens for the same buckets; the
    // forward merge is then a normal LWW step on the restored base
    sink.merge(slices(1)) // v5 + vacuum
    val expect01 = state(
      Cdc.latestByKey(slices(0).unionByName(slices(1)),
        Warehouse.DedupKeys, Warehouse.VersionCols)
        .select($"original_id", $"ingestion_seq"))
    assert(state(sink.read()) == expect01,
      "forward merge on the restored base is a normal LWW step")

    // compaction must not resurrect rolled-back-over (slice 2) data
    sink.compact(1)
    assert(state(sink.read()) == expect01)

    // rollback to an EXPIRED version fails loudly, table intact
    sink.expireVersions(2)
    val e = intercept[IllegalStateException](sink.rollback(1L))
    assert(e.getMessage.contains("expired"))
    // and a future/current target is rejected up front
    intercept[IllegalArgumentException](sink.rollback(sink.versions().max))
  }

  test("zone maps: range-bucketed sink prunes buckets at the metadata level; readRange equals full-scan filter") {
    import graft.sink.MergeSink
    val dir = freshDir() + "/zm"
    val df = spark.range(400).select(
      $"id".as("k"),
      ($"id" % 7).as("ver"),
      concat(lit("p"), $"id").as("payload"))
    val sink = new MergeSink(spark, dir, keys = Seq("k"), orderCols = Seq("ver"),
      nBuckets = 8, statsCols = Seq("k"), rangeBucketWidth = Some(50L))
    // two merges: zone maps must update for rewritten buckets and
    // carry over for untouched ones
    sink.merge(df.filter($"k" < 200))
    sink.merge(df.filter($"k" >= 200))

    // contiguous 50-wide key ranges per bucket -> a 60-wide predicate
    // range intersects at most 2 of the 8 buckets
    val bs = sink.bucketsForRange("k", 100.0, 159.0)
    assert(bs.nonEmpty && bs.size <= 2, s"zone maps failed to prune: $bs")
    val got = sink.readRange("k", 100.0, 159.0).select($"k", $"ver")
      .as[(Long, Long)].collect().toSet
    val want = sink.read().where($"k" >= 100 && $"k" <= 159).select($"k", $"ver")
      .as[(Long, Long)].collect().toSet
    assert(got == want && got.size == 60)

    // compaction is content-invariant: zone maps carry over unchanged
    sink.compact(maxFilesPerBucket = 1)
    assert(sink.bucketsForRange("k", 100.0, 159.0) == bs)
    assert(sink.readRange("k", 100.0, 159.0).count() == 60)

    // an out-of-domain range resolves ZERO buckets and still returns a
    // schema-correct empty frame
    assert(sink.bucketsForRange("k", 5000.0, 6000.0).isEmpty)
    assert(sink.readRange("k", 5000.0, 6000.0).isEmpty)
  }

  test("footer stats: commit-time zone maps from parquet footers equal the scan-computed aggregates, nulls included") {
    import graft.sink.MergeSink
    val dir = freshDir() + "/fstats"
    // v carries NULLs (every 5th row) and one bucket (k in [0,50)) that
    // is ALL-NULL for v — the two footer corners: partial nulls must
    // not disturb min/max, an all-null bucket-column records no stats
    val df = spark.range(400).select(
      $"id".as("k"),
      ($"id" % 7).as("ver"),
      when($"id" < 50, lit(null).cast("double"))
        .when($"id" % 5 === 0, lit(null).cast("double"))
        .otherwise($"id".cast("double") * 2.5).as("v"))
    val sink = new MergeSink(spark, dir, keys = Seq("k"), orderCols = Seq("ver"),
      nBuckets = 8, statsCols = Seq("k", "v"), rangeBucketWidth = Some(50L))
    sink.merge(df)
    // independent truth: per-bucket scan aggregates over the committed state
    val truth = sink.read()
      .groupBy((($"k" / 50).cast("int")).as("b"))
      .agg(min($"k").as("kmn"), max($"k").as("kmx"),
           min($"v").as("vmn"), max($"v").as("vmx"))
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(3)), Option(r.get(4)))).toMap
    truth.foreach { case (b, (kmn, kmx, vmn, vmx)) =>
      // zone-map pruning answers derive from the committed stats: a
      // point range at the bucket's k-min must resolve exactly it
      assert(sink.bucketsForRange("k", kmn.toDouble, kmn.toDouble) == Seq(b))
      vmn match {
        case Some(mn) =>
          assert(sink.bucketsForRange("v", mn.asInstanceOf[Double],
            mn.asInstanceOf[Double]).contains(b),
            s"bucket $b lost its v stats (footer path diverged from scan)")
        case None =>
          // all-null bucket: no stats recorded -> range reads must
          // still be correct (missing stats never prune)
          assert(sink.readRange("v", 0.0, 1e9).filter($"k" < 50).isEmpty)
      }
      vmx.foreach { mx =>
        assert(!sink.bucketsForRange("v", mx.asInstanceOf[Double] + 0.5, 1e18)
          .contains(b) || truth.exists(_._2._4.exists(_.asInstanceOf[Double] > mx.asInstanceOf[Double])),
          s"bucket $b's v max in footer stats exceeds the scan truth")
      }
    }
    // readRange equivalence over the null-bearing column end to end
    val got = sink.readRange("v", 100.0, 400.0).select($"k").as[Long].collect().toSet
    val want = sink.read().where($"v" >= 100.0 && $"v" <= 400.0)
      .select($"k").as[Long].collect().toSet
    assert(got == want && got.nonEmpty)
    // the stats above must have come from FOOTERS, not the fallback
    // scan — the point of the metadata path is skipping the re-read
    assert(sink.statsFromFooter.get() > 0 && sink.statsFromScan.get() == 0,
      s"footer stats path never fired: footer=${sink.statsFromFooter.get()} scan=${sink.statsFromScan.get()}")
  }

  test("footer stats: a decimal statsCol is footer-undecidable and falls back to the scan; zone maps stay in cast-to-double units") {
    import graft.sink.MergeSink
    val dir = freshDir() + "/fstats_dec"
    // amt is DECIMAL(10,2) — parquet stores it int64-backed with a
    // DECIMAL logical annotation whose footer min/max is the UNSCALED
    // value (100x the logical one). Recording that raw number would
    // make bucketsForRange silently prune buckets that hold matching
    // rows; the gate must route the whole generation to the scan path.
    val df = spark.range(400).select(
      $"id".as("k"), ($"id" % 7).as("ver"),
      ($"id" % 100).cast("decimal(10,2)").as("amt"))
    val sink = new MergeSink(spark, dir, keys = Seq("k"), orderCols = Seq("ver"),
      nBuckets = 8, statsCols = Seq("k", "amt"), rangeBucketWidth = Some(50L))
    sink.merge(df)
    assert(sink.statsFromScan.get() > 0 && sink.statsFromFooter.get() == 0,
      s"decimal statsCol must force the scan fallback: " +
        s"footer=${sink.statsFromFooter.get()} scan=${sink.statsFromScan.get()}")
    // scan-computed zone maps answer range reads in LOGICAL units and
    // still prune: bucket 0 holds k in [0,50) -> amt in [0,50); bucket 1
    // holds k in [50,100) -> amt in [50,100), outside [0,10]
    assert(sink.bucketsForRange("amt", 0.0, 10.0).size <
      sink.bucketFileCounts().size, "decimal zone maps must still prune")
    val got = sink.readRange("amt", 0.0, 10.0).select($"k").as[Long].collect().toSet
    val want = sink.read().where($"amt" >= 0.0 && $"amt" <= 10.0)
      .select($"k").as[Long].collect().toSet
    assert(got == want && got.nonEmpty,
      "readRange over a decimal statsCol diverged from the full-scan predicate")
  }

  test("bloom sidecars: secondary-id point lookup prunes buckets; readPoints equals full-scan isin; compaction rebuilds") {
    import graft.sink.MergeSink
    val dir = freshDir() + "/bloom"
    // pk k hash-buckets over 32; secondary `owner` (400 owners x 10
    // rows) correlates with NO bucket — the zone-map-blind case
    val df = spark.range(4000).select(
      $"id".as("k"), ($"id" % 400).as("owner"), ($"id" % 7).as("ver"),
      concat(lit("p"), $"id").as("payload"))
    val sink = new MergeSink(spark, dir, keys = Seq("k"), orderCols = Seq("ver"),
      nBuckets = 32, bloomCols = Seq("owner"))
    // two merges: sidecars must refresh for rewritten buckets and
    // stay valid for untouched ones
    sink.merge(df.filter($"k" < 2000))
    sink.merge(df.filter($"k" >= 2000))

    // an owner's 10 rows hash into <= 10 of the 32 buckets; the bloom
    // decision must admit a strict subset (plus at most a few false
    // positives — discharged below by the result equivalence)
    val probes = Seq(17L, 93L, 251L)
    probes.foreach { o =>
      val bs = sink.bucketsForPoint("owner", o)
      assert(bs.size <= 13, s"bloom failed to prune for owner $o: ${bs.size} buckets")
    }
    val got = sink.readPoints("owner", probes)
      .select($"k", $"owner").as[(Long, Long)].collect().toSet
    val want = sink.read().where($"owner".isin(probes: _*))
      .select($"k", $"owner").as[(Long, Long)].collect().toSet
    assert(got == want && got.size == 30)

    // a value absent from the table prunes (nearly) everything and
    // returns a schema-correct empty frame
    assert(sink.bucketsForPoint("owner", 999999L).size <= 3)
    assert(sink.readPoints("owner", Seq(999999L)).isEmpty)

    // compaction moves content to a fresh generation dir — sidecars
    // are generation-scoped and must be rebuilt, not lost
    sink.compact(maxFilesPerBucket = 1)
    assert(sink.bucketsForPoint("owner", 17L).size <= 13)
    assert(sink.readPoints("owner", probes).count() == 30)
  }

  test("compliance purge: bucket-pruned hard delete, emptied buckets vanish, stats refresh, history destroyed") {
    import graft.sink.MergeSink
    val dir = freshDir() + "/purge"
    val df = spark.range(400).select(
      $"id".as("k"), ($"id" % 7).as("ver"), concat(lit("p"), $"id").as("payload"))
    val sink = new MergeSink(spark, dir, keys = Seq("k"), orderCols = Seq("ver"),
      nBuckets = 8, statsCols = Seq("k"), rangeBucketWidth = Some(50L))
    sink.merge(df)
    sink.merge(df.filter($"k" < 100).withColumn("ver", $"ver" + 100))
    assert(sink.versions().size == 2)

    // purge ALL of bucket 3's keys (150..199) plus a slice of bucket 0
    sink.purgeKeys(df.filter(($"k" >= 150 && $"k" < 200) || $"k" < 5).select($"k"))
    assert(sink.versions().size == 1, "purge must destroy history")
    val keys = sink.read().select($"k").as[Long].collect().toSet
    assert(keys == ((5L until 150L) ++ (200L until 400L)).toSet)
    // a fully-purged bucket vanishes from the mapping instead of
    // pointing at a stale generation
    assert(!sink.bucketFileCounts().keySet.contains(3))
    // zone maps refreshed for the rewritten bucket: nothing resolves
    // the purged low range any more
    assert(sink.bucketsForRange("k", 0.0, 4.0).isEmpty, "stats not refreshed after purge")
    // erasure is physical: no parquet byte under the root has the keys
    val residual = spark.read.option("recursiveFileLookup", "true").parquet(dir + "/data")
      .filter(($"k" >= 150 && $"k" < 200) || $"k" < 5).count()
    assert(residual == 0, s"$residual purged rows still on disk")

    // purging a key the table never held is a safe no-op on content
    val before = sink.read().count()
    sink.purgeKeys(spark.range(1).select(lit(9999L).as("k")))
    assert(sink.read().count() == before)
    assert(sink.versions().size == 1)
  }

  test("change feed: insert/update/delete classification between versions; TTL eviction keeps history") {
    import graft.sink.MergeSink
    val dir = freshDir() + "/cdf"
    val df = spark.range(100).select(
      $"id".as("k"), lit(0L).as("ver"), concat(lit("p"), $"id").as("payload"))
    val sink = new MergeSink(spark, dir, keys = Seq("k"), orderCols = Seq("ver"), nBuckets = 8)
    sink.merge(df)                                              // v1: keys 0..99
    sink.merge(df.filter($"k" < 10)
      .withColumn("ver", lit(5L))
      .withColumn("payload", concat(lit("q"), $"k")))           // v2: 0..9 updated
    sink.merge(spark.range(100, 120).select(
      $"id".as("k"), lit(1L).as("ver"), concat(lit("p"), $"id").as("payload"))) // v3: inserts
    sink.purgeKeys(df.filter($"k" >= 90 && $"k" < 95).select($"k"),
      destroyHistory = false)                                   // v4: TTL eviction
    assert(sink.versions() == Seq(1L, 2L, 3L, 4L), "eviction must keep history")

    val ch = sink.changesBetween(1L, 4L)
      .select($"k", $"_change_type", $"ver").as[(Long, String, Option[Long])]
      .collect().toSet
    val expected =
      (0L until 10L).map(k => (k, "update", Some(5L))).toSet ++
      (100L until 120L).map(k => (k, "insert", Some(1L))).toSet ++
      (90L until 95L).map(k => (k, "delete", None: Option[Long])).toSet
    assert(ch == expected, s"diff mismatch: ${(ch -- expected).take(5)} / ${(expected -- ch).take(5)}")

    // adjacent-window diff sees only that window's commits
    val ch34 = sink.changesBetween(3L, 4L)
      .select($"k", $"_change_type").as[(Long, String)].collect().toSet
    assert(ch34 == (90L until 95L).map(k => (k, "delete")).toSet)

    // unchanged table diffs to empty
    sink.merge(df.filter($"k" === 50))                          // idempotent re-merge, v5
    assert(sink.changesBetween(4L, 5L).isEmpty)
  }

  test("progressive migration: stale handles route by the committed layout; purge and range reads work mid-migration") {
    import graft.sink.MergeSink
    val dir = freshDir() + "/state"
    val rows = Warehouse.toWarehouseRows(env).cache()
    def b(i: Int) = rows.filter(pmod($"ingestion_seq", lit(3)) === i)
    def lww(df: org.apache.spark.sql.DataFrame) =
      Cdc.latestByKey(df, Warehouse.DedupKeys, Warehouse.VersionCols)
        .select($"original_id", $"ingestion_seq").as[(String, Long)].collect().toSet
    val sink = new MergeSink(spark, dir, Warehouse.DedupKeys, Warehouse.VersionCols,
      nBuckets = 8, statsCols = Seq("ingestion_seq"))
    def state(s: MergeSink) = s.read().select($"original_id", $"ingestion_seq")
      .as[(String, Long)].collect().toSet

    sink.merge(b(0))
    sink.beginMigration(16)
    // a second migration cannot start while one is in flight
    intercept[IllegalArgumentException] { sink.beginMigration(32) }
    intercept[IllegalArgumentException] { sink.rebucket(32) }
    assert(sink.migrateStep(3) == 5)

    // THE STALE-HANDLE HAZARD, closed: a handle constructed with the
    // wrong bucket count (4 — matching neither layout) routes by the
    // manifest's committed layout state, so its merge lands every key
    // in the bucket the table's own routing owns
    val stale = new MergeSink(spark, dir, Warehouse.DedupKeys, Warehouse.VersionCols,
      nBuckets = 4, statsCols = Seq("ingestion_seq"))
    stale.merge(b(1))
    assert(state(stale) == lww(b(0).unionByName(b(1))))

    // zone-map range read mid-migration: same answer as the full-scan
    // filter even with live buckets spanning two layout generations
    val (lo, hi) = (5.0, 60.0)
    val viaRange = sink.readRange("ingestion_seq", lo, hi)
      .select($"original_id", $"ingestion_seq").as[(String, Long)].collect().toSet
    val viaScan = sink.read()
      .filter($"ingestion_seq" >= lo && $"ingestion_seq" <= hi)
      .select($"original_id", $"ingestion_seq").as[(String, Long)].collect().toSet
    assert(viaRange == viaScan)

    // compliance purge mid-migration: the key list spans migrated and
    // unmigrated buckets; routing prunes to exactly the right ones
    val victims = sink.read().select($"original_id").distinct().limit(5).cache()
    val victimSet = victims.as[String].collect().toSet
    assert(victimSet.size == 5)
    sink.purgeKeys(victims, destroyHistory = false)
    val afterPurge = state(sink)
    assert(afterPurge == lww(b(0).unionByName(b(1))).filterNot(r => victimSet(r._1)))
    assert(sink.layoutInfo._2.nonEmpty, "purge must carry the migration state forward")

    // finish the migration THROUGH the stale handle — layout is table
    // state, not handle state
    var remaining = stale.migrateStep(2)
    while (remaining > 0) remaining = stale.migrateStep(2)
    val (layout, migration) = stale.layoutInfo
    assert(migration.isEmpty && layout.gen == 1 && layout.n == 16)
    assert(sink.bucketFileCounts().keys.forall(_ >= MergeSink.LayoutStride))
    assert(state(sink) == afterPurge, "completing the migration changed content")

    // misuse fails loudly once no migration is in flight
    intercept[IllegalStateException] { stale.migrateStep(1) }

    // merges after promotion route by the new layout alone; a purged
    // key that reappears in a later batch re-enters with that batch's
    // rows only (purge deletes state, it is not a filter on the future)
    sink.merge(b(2))
    val expectedFinal = lww(
      b(0).unionByName(b(1)).filter(!$"original_id".isin(victimSet.toSeq: _*))
        .unionByName(b(2)))
    assert(state(sink) == expectedFinal)
  }

  test("snapshot pinning: a commit after a read took its snapshot stays out of that read") {
    import graft.sink.MergeSink
    val dir = freshDir()
    def handle() = new MergeSink(spark, dir, keys = Seq("id"), orderCols = Seq("upd"),
      nBuckets = 4, statsCols = Seq("id"), bloomCols = Seq("tag"))
    def batch(upd: Long, lo: Long, hi: Long) = spark.range(lo, hi)
      .select(col("id"), lit(upd).as("upd"), (col("id") * 100 + lit(upd)).as("tag"))
    val reader = handle()
    val writer = handle()
    reader.merge(batch(0L, 0L, 40L))
    // each racing commit rewrites every row (new upd, new tag), adds
    // keys, and deletes one key merge-on-read: a read mixing in any of
    // it differs from the pre-commit rows
    var upd = 0L
    def racingCommit(): Unit = {
      upd += 1
      writer.merge(batch(upd, 0L, 40L + upd))
      writer.deleteVector(Seq(upd).toDF("id"))
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    def pinned(name: String, read: MergeSink => org.apache.spark.sql.DataFrame): Unit = {
      val pre = rows(read(reader))
      var fired = 0
      reader.onReadSnapshot = () => { fired += 1; racingCommit() }
      val df = try read(reader) finally reader.onReadSnapshot = () => ()
      assert(fired == 1, s"$name: the read must take exactly one snapshot (took $fired)")
      assert(rows(df) == pre, s"$name: the racing commit leaked into a read planned before it")
      assert(rows(read(reader)) != pre, s"$name: a fresh read must see the racing commit")
    }
    pinned("read", _.read())
    pinned("readRange", _.readRange("id", 3.0, 30.0))
    val tags = rows(reader.read().select("tag")).toSeq.map(_.head.asInstanceOf[Long]).sorted.take(5)
    pinned("readPoints", _.readPoints("tag", tags))
    pinned("readForKeys", _.readForKeys(Seq(2L, 11L, 29L).toDF("id")))
  }
}

/** A `file:` FileSystem that, while armed, deletes each `_staged/`
  * entry just before opening it — a stage or pre-registration that
  * vanishes between a vacuum's listing and its parse (test probe:
  * `fs.file.impl` with `fs.file.impl.disable.cache=true`).
  */
class VanishingStages extends org.apache.hadoop.fs.LocalFileSystem {
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    if (VanishingStages.armed && f.getParent.getName == graft.sink.TableManifest.StagedDir) delete(f, false)
    super.open(f, bufferSize)
  }
}

object VanishingStages {
  @volatile var armed = false
}
