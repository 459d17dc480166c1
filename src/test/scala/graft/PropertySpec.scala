package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.streaming.CdcStream
import graft.streaming.CdcStream.ChangeEvent
import graft.ops.Cdc

/** Property-based invariants (SURVEY.md §5.2): ratio bounds under the
  * generator invariant, dedup idempotence, and order-insensitivity of
  * the final LWW state under shuffled at-least-once streams.
  *
  * Uses scalacheck Gen with fixed seeds directly (scalatestplus isn't
  * in the offline dependency set) — deterministic across runs.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val eventGen: Gen[ChangeEvent] = for {
    op <- Gen.oneOf("insert", "update", "delete")
    doc <- Gen.choose(0L, 50L)
    user <- Gen.choose(0L, 10L)
    ts <- Gen.choose(0L, 1000L)
    dur <- Gen.choose(0, 3600)
    w <- Gen.choose(0, dur.max(1)) // reference invariant: 0 <= w <= dur
  } yield ChangeEvent(op, doc, user, ts, w.toDouble, dur)

  private def sample(n: Int, seed: Long): List[ChangeEvent] =
    Gen.listOfN(n, eventGen).pureApply(Gen.Parameters.default, Seed(seed))

  test("SessionTimers equals batch sessionization under any time-ordered slicing") {
    // q173's mechanism fuzzed: random per-user event times, a random
    // number of TIME-ORDERED micro-batch slices (the feed contract),
    // random slice boundaries — the timer-driven streamed sessions
    // must equal the local gaps-and-islands fold exactly, for every
    // split. Covers: sessions spanning slice boundaries (state +
    // timer carry), multi-session batches (in-batch close), and
    // final-session close via sentinel-advanced watermark.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.streaming.Trigger
    val gapMs = 30L * 60000L
    val t0 = 1000000000000000L // epoch micros
    val evGen = for {
      u <- Gen.choose(0L, 5L)
      ts <- Gen.choose(0L, 6L * 3600L * 1000000L) // 6h span
      c <- Gen.choose(1L, 500L)
    } yield (u, t0 + ts, c)

    // transformWithState needs multi-column-family state -> RocksDB
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try for (seed <- 1 to 2) {
      val evs = Gen.listOfN(60, evGen)
        .pureApply(Gen.Parameters.default, Seed(seed.toLong))
      val nSlices = 2 + seed % 3
      val sorted = evs.sortBy(_._2)
      val per = math.max(1, sorted.size / nSlices)

      val base = java.nio.file.Files.createTempDirectory(s"graft_stp$seed").toString
      val inDir = new java.io.File(base, "in"); inDir.mkdirs()
      def writeSlice(rows: Seq[(Long, Long, Long)], i: Int): Unit = {
        val dest = new java.io.File(inDir, f"$i%02d.json")
        java.nio.file.Files.write(dest.toPath, rows.map { case (u, ts, c) =>
          s"""{"user_id":$u,"ts_us":$ts,"cents":$c}"""
        }.mkString("\n").getBytes)
        dest.setLastModified(60000L * (i + 1))
      }
      val slices = sorted.grouped(per).toSeq
      slices.zipWithIndex.foreach { case (sl, i) => writeSlice(sl, i) }
      val dayUs = 86400000000L
      writeSlice(Seq((-1L, t0 + 10 * dayUs, 0L)), slices.size)
      writeSlice(Seq((-2L, t0 + 20 * dayUs, 0L)), slices.size + 1)

      val wire = StructType(Seq(
        StructField("user_id", LongType), StructField("ts_us", LongType),
        StructField("cents", LongType)))
      val memName = s"stp_${seed}_" + java.lang.Long.toHexString(System.nanoTime())
      val q = spark.readStream.schema(wire)
        .option("maxFilesPerTrigger", "1").json(inDir.toString)
        .withColumn("ts", timestamp_micros($"ts_us"))
        .withWatermark("ts", "1 second")
        .select($"user_id", $"ts_us", $"cents")
        .as[(Long, Long, Long)]
        .groupByKey(_._1)
        .transformWithState(new graft.streaming.SessionTimers(gapMs),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          org.apache.spark.sql.streaming.OutputMode.Append())
        .toDF("user_id", "start_ms", "end_ms", "n_events", "sum_cents")
        .writeStream.format("memory").queryName(memName)
        .outputMode("append")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()

      val got = spark.table(memName).filter($"user_id" >= 0)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val expected = evs.groupBy(_._1).flatMap { case (u, es) =>
        val ts = es.sortBy(_._2)
        val sessions = ts.foldLeft(List.empty[List[(Long, Long, Long)]]) {
          case (acc, e) => acc match {
            case cur :: rest if e._2 - cur.head._2 < gapMs * 1000L =>
              (e :: cur) :: rest // cur.head is the session's LAST event
            case _ => List(e) :: acc
          }
        }
        sessions.map { sess =>
          val ms = sess.map(_._2)
          (u, ms.min / 1000L, ms.max / 1000L + gapMs,
            sess.size.toLong, sess.map(_._3).sum)
        }
      }.toSet
      assert(got == expected,
        s"seed $seed ($nSlices slices): streamed ${got.size} != batch ${expected.size}")
    } finally prevProv match {
      case Some(p) => spark.conf.set(provKey, p)
      case None    => spark.conf.unset(provKey)
    }
  }

  test("watched_ratio in [0,1] under the 0<=watched<=duration invariant") {
    (1 to 5).foreach { i =>
      val evs = sample(50, i.toLong)
      val ratios = spark.createDataset(evs)
        .select(Cdc.watchedRatio($"watched", $"duration").as("r"))
        .as[Double].collect()
      assert(ratios.forall(r => r >= 0.0 && r <= 1.0), s"seed $i violated bounds")
    }
  }

  private def stateOf(xs: Seq[ChangeEvent]): Set[(Long, Long, Long, String)] =
    Cdc.latestByKey(spark.createDataset(xs).toDF(),
        Seq("user_id"), Seq("ts_ms", "document_id"))
      .select($"user_id", $"document_id", $"ts_ms", $"operation")
      .as[(Long, Long, Long, String)].collect().toSet

  test("pivot inverts unpivot (reshape round-trip is lossless)") {
    import org.apache.spark.sql.functions._
    val base = graft.core.Tables.lineitem(spark, sfDir)
      .groupBy($"l_returnflag")
      .agg(sum($"l_quantity".cast("decimal(18,2)")).as("qty"),
           sum($"l_extendedprice".cast("decimal(18,2)")).as("price"))
    val melted = base.unpivot(Array(col("l_returnflag")),
      Array(col("qty"), col("price")), "measure", "value")
    val back = melted.groupBy($"l_returnflag")
      .pivot("measure", Seq("qty", "price")).agg(first($"value"))
    val a = base.select($"l_returnflag", $"qty", $"price")
      .collect().map(_.toSeq).toSet
    val b = back.select($"l_returnflag", $"qty", $"price")
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  test("grouping sets agree with their independently-computed groupings") {
    import org.apache.spark.sql.functions._
    val gs = SparkEntry.queries("q48_grouping_sets")(spark, sfDir)
    // () level = one row equal to the full-table aggregate
    val grand = gs.filter($"g_status" === 1 && $"g_prio" === 1)
      .select($"n").as[Long].collect().toSeq
    val direct = graft.core.Tables.orders(spark, sfDir).count()
    assert(grand == Seq(direct))
    // (status) level sums to the grand total
    val perStatus = gs.filter($"g_status" === 0 && $"g_prio" === 1)
      .agg(sum($"n")).first().getLong(0)
    assert(perStatus == direct)
  }

  test("latestByKey: idempotent, order-insensitive, duplicate-tolerant") {
    (1 to 5).foreach { i =>
      val evs = sample(40, 100L + i)
      val base = stateOf(evs)
      // redelivery + shuffle must not change the final state
      val redelivered = new scala.util.Random(i).shuffle(evs ++ evs.take(evs.size / 2))
      assert(stateOf(redelivered) == base, s"seed $i: not order/dup-insensitive")
      // idempotence: dedup(dedup(x)) == dedup(x)
      val once = Cdc.latestByKey(spark.createDataset(evs).toDF(),
        Seq("user_id"), Seq("ts_ms", "document_id"))
      val twice = Cdc.latestByKey(once, Seq("user_id"), Seq("ts_ms", "document_id"))
        .select($"user_id", $"document_id", $"ts_ms", $"operation")
        .as[(Long, Long, Long, String)].collect().toSet
      assert(twice == base, s"seed $i: not idempotent")
    }
  }

  test("MergeSink converges to the same state under ANY batch partitioning") {
    import graft.sink.MergeSink
    import org.apache.spark.sql.functions.col
    // property: for a random event stream and random micro-batch cut
    // points (with a redelivered overlap), the durable sink's final
    // state equals the whole-history LWW — the associativity/
    // commutativity/idempotence triple that makes at-least-once safe
    (1 to 3).foreach { i =>
      val evs = sample(60, 300L + i)
      val expected = stateOf(evs)
      val cutGen = Gen.listOfN(2, Gen.choose(1, evs.size - 1))
      val cuts = cutGen.pureApply(Gen.Parameters.default, Seed(400L + i))
        .distinct.sorted
      val slices = (0 +: cuts :+ evs.size).sliding(2)
        .map { case Seq(a, b) => evs.slice(a, b) }.filter(_.nonEmpty).toSeq
      val redelivered = slices :+ slices.head // replay the first batch last
      val dir = java.nio.file.Files.createTempDirectory("graft_prop_sink_").toString + "/t"
      val sink = new MergeSink(spark, dir, Seq("user_id"),
        Seq("ts_ms", "document_id"), nBuckets = 4)
      redelivered.foreach(b => sink.merge(spark.createDataset(b).toDF()))
      val got = sink.read()
        .select(col("user_id"), col("document_id"), col("ts_ms"), col("operation"))
        .as[(Long, Long, Long, String)].collect().toSet
      assert(got == expected, s"seed $i: sink state diverged from batch LWW")
    }
  }

  test("stream LWW state equals batch LWW state for any event sequence") {
    (1 to 3).foreach { i =>
      val evs = sample(30, 200L + i)
      val batch = stateOf(evs).map(t => t._1 -> t._2).toMap
      val streamed = CdcStream.latestByKeyStream(spark.createDataset(evs))
        .collect().map(s => s.user_id -> s.document_id).toMap
      assert(streamed == batch, s"seed $i: stream/batch divergence")
    }
  }

  test("AggSink: any random batch slicing folds to the one-shot aggregate") {
    import graft.sink.AggSink
    import org.apache.spark.sql.functions._
    (1 to 2).foreach { i =>
      val evs = sample(80, 600L + i)
      def proj(xs: Seq[ChangeEvent]) = spark.createDataset(xs)
        .select($"user_id".as("k"), $"duration".cast("long").as("v"))
      val expected = proj(evs).groupBy($"k")
        .agg(sum($"v").as("v"), count(lit(1)).as("n_rows"))
        .as[(Long, Long, Long)].collect().toSet
      // random slicing: cut points drawn from the seeded generator
      val cuts = Gen.listOfN(3, Gen.choose(1, evs.size - 1))
        .pureApply(Gen.Parameters.default, Seed(700L + i)).distinct.sorted
      val dir = java.nio.file.Files.createTempDirectory("graft_prop_agg_").toString + "/t"
      val sink = new AggSink(spark, dir, Seq("k"), Seq("v"), nBuckets = 4)
      (0 +: cuts :+ evs.size).sliding(2).foreach { case Seq(a, b) =>
        if (b > a) sink.merge(proj(evs.slice(a, b)))
      }
      val got = sink.read().as[(Long, Long, Long)].collect().toSet
      assert(got == expected, s"seed $i: sliced folds diverged from one-shot aggregate")
    }
  }

  test("MergeSink: compaction at random points never changes content") {
    import graft.sink.MergeSink
    import org.apache.spark.sql.functions._
    val evs = sample(60, 800L)
    val dir = java.nio.file.Files.createTempDirectory("graft_prop_cmp_").toString + "/t"
    val sink = new MergeSink(spark, dir, Seq("user_id"),
      Seq("ts_ms", "document_id"), nBuckets = 4)
    Seq(0, 20, 40, 60).sliding(2).zipWithIndex.foreach { case (Seq(a, b), idx) =>
      sink.merge(spark.createDataset(evs.slice(a, b)).toDF())
      if (idx % 2 == 0) {
        val before = sink.read().collect().map(_.toString).sorted.toSeq
        sink.compact(maxFilesPerBucket = 1)
        val after = sink.read().collect().map(_.toString).sorted.toSeq
        assert(after == before, s"compaction after slice $idx changed content")
      }
    }
    val expected = graft.ops.Cdc.latestByKey(
        spark.createDataset(evs).toDF(),
        Seq("user_id"), Seq("ts_ms", "document_id"))
      .select($"user_id", $"document_id").as[(Long, Long)].collect().toSet
    val got = sink.read().select($"user_id", $"document_id")
      .as[(Long, Long)].collect().toSet
    assert(got == expected, "interleaved merge/compact diverged from batch LWW")
  }

  test("large-star/small-star CC agrees with min-label on random graphs") {
    import graft.ext.Dedup
    (1 to 3).foreach { i =>
      val edgeGen = Gen.listOfN(40,
        Gen.zip(Gen.choose(0L, 25L), Gen.choose(0L, 25L)))
      val edges = edgeGen.pureApply(Gen.Parameters.default, Seed(500L + i))
        .filter { case (a, b) => a != b }
      val df = edges.toDF("id_a", "id_b")
      val star = ExtSpec.starLabels(df)
      assert(star == ExtSpec.unionFindLabels(df), s"seed $i: star/union-find divergence")
      // the kernel with its default budget, and with one contraction
      // round (the remainder escalates to the star tier)
      for (rounds <- Seq(4, 1)) {
        val minLabel = Dedup.contractiveComponents(df, contractRounds = rounds)
          .as[(Long, Long)].collect().toMap
        assert(star == minLabel, s"seed $i, $rounds contraction rounds: star/min-label divergence")
      }
      spark.catalog.clearCache()
    }
  }

  test("repetition metrics agree with a local multiset recomputation on random docs") {
    // random corpora over a 3-letter alphabet, lengths 1..8 — heavy on
    // the short-doc and high-repetition edges the big corpus never hits
    val tokGen = Gen.oneOf("a", "b", "c")
    val docGen = Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, tokGen))
    val corpus = Gen.listOfN(40, docGen).pureApply(Gen.Parameters.default, Seed(7L))
      .zipWithIndex.map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
    val got = graft.queries.ExtQueries.repetitionMetrics(
        corpus.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    corpus.foreach { case (id, text) =>
      val ts = text.split(" ").toSeq
      val bgs = ts.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
      val tgs = ts.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSeq
      val topBg = if (bgs.isEmpty) 0 else bgs.groupBy(identity).values.map(_.size).max
      val dupTg = tgs.groupBy(identity).values.filter(_.size > 1).map(_.size).sum
      val (n, dupU, topB, dupT) = got(id)
      assert(n == ts.size)
      assert(math.abs(dupU - (1.0 - ts.distinct.size.toDouble / ts.size)) < 1e-15)
      assert(math.abs(topB - topBg * 2.0 / ts.size) < 1e-15, s"doc '$text'")
      assert(math.abs(dupT - dupTg * 3.0 / ts.size) < 1e-15, s"doc '$text'")
    }
  }

  test("sample packing: token conservation, contiguous packs, straddler bound") {
    val out = graft.queries.ExtQueries.q122SamplePacking(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val total = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("sum(size(split(text, ' ')))").first().getLong(0)
    assert(out.map(_._3).sum == total, "packing lost or duplicated tokens")
    val ids = out.map(_._1).sorted
    assert(ids.head == 0L && ids.sameElements(0L until ids.size),
      "pack ids not contiguous from 0")
    // at most one doc can straddle each pack's trailing boundary
    out.foreach { case (pid, _, _, straddlers) =>
      assert(straddlers <= 1, s"pack $pid claims $straddlers straddlers") }
  }

  test("JPEG codec is total and exact under random fuzz (fixed seeds)") {
    import graft.ext.JpegCodec
    val rnd = new java.util.Random(42L)
    // 1. flat fills at random dims/values/profiles round-trip EXACTLY
    (1 to 40).foreach { _ =>
      val w = 1 + rnd.nextInt(40); val h = 1 + rnd.nextInt(40)
      val v = rnd.nextInt(256)
      val gray = rnd.nextBoolean(); val sub = !gray && rnd.nextBoolean()
      val rst = if (rnd.nextBoolean()) 1 + rnd.nextInt(3) else 0
      val dec = JpegCodec.decode(JpegCodec.encode(w, h,
        JpegCodec.flatRgb(w, h, v), subsample420 = sub, gray = gray,
        restartEvery = rst))
      assert(dec.exists { case (dw, dh, px) =>
        dw == w && dh == h && px.forall(b => (b & 0xff) == v)
      }, s"flat fuzz failed: w=$w h=$h v=$v gray=$gray sub=$sub rst=$rst")
    }
    // 2. arbitrary random pixel content (worst case for the DCT) stays
    // within the quant-1 rounding envelope at 4:4:4
    (1 to 10).foreach { i =>
      val w = 1 + rnd.nextInt(24); val h = 1 + rnd.nextInt(24)
      val px = new Array[Byte](w * h * 3); rnd.nextBytes(px)
      val dec = JpegCodec.decode(JpegCodec.encode(w, h, px, quantVal = 1))
      assert(dec.isDefined, s"noise image $i failed to decode")
      val (_, _, out) = dec.get
      val maxErr = px.indices.map(j => math.abs((px(j) & 0xff) - (out(j) & 0xff))).max
      assert(maxErr <= 8, s"noise round-trip error $maxErr at w=$w h=$h")
    }
    // 3. total-function contract: random bytes and truncations of a
    // valid stream must return None or Some, NEVER throw
    val valid = JpegCodec.encode(9, 7, JpegCodec.gradientRgb(9, 7, 3))
    (0 until valid.length by 7).foreach { n =>
      JpegCodec.decode(java.util.Arrays.copyOf(valid, n)) // must not throw
    }
    (1 to 200).foreach { _ =>
      val junk = new Array[Byte](rnd.nextInt(400))
      rnd.nextBytes(junk)
      JpegCodec.decode(junk) // must not throw
      // bias the fuzz toward the marker parser: valid SOI prefix
      if (junk.length >= 2) { junk(0) = 0xff.toByte; junk(1) = 0xd8.toByte }
      JpegCodec.decode(junk)
    }
    // 4. single random byte-flips inside a valid stream: total, and if
    // it still decodes, dims are the header's
    (1 to 100).foreach { _ =>
      val mut = valid.clone()
      mut(rnd.nextInt(mut.length)) = rnd.nextInt(256).toByte
      JpegCodec.decode(mut).foreach { case (w, h, px) =>
        assert(px.length == w * h * 3)
      }
    }
  }

  test("MisraGries keeps every item with count > n/k under any merge shape") {
    // The MG one-sided guarantee must survive DISTRIBUTED merging: for
    // random skewed streams, random partition counts, and random
    // partition boundaries, every item whose true count exceeds n/k
    // must appear in the merged sketch (the candidate set may hold
    // extras — that's the sketch's documented slack, discharged by
    // q198's exact-count witness join).
    import graft.functions.MisraGries
    val mg = MisraGries(8)
    val itemGen = Gen.frequency(
      (8, Gen.const("hot")), (4, Gen.const("warm")),
      (1, Gen.choose(0, 500).map("cold" + _)))
    (1 to 20).foreach { trial =>
      val xs = Gen.listOfN(2000, itemGen)
        .pureApply(Gen.Parameters.default, Seed(trial.toLong))
      val nParts = 1 + (trial % 7)
      val parts = xs.grouped(math.max(1, xs.size / nParts)).toSeq
      val merged = parts
        .map(p => p.foldLeft(mg.zero)(mg.reduce))
        .reduce(mg.merge)
      val out = mg.finish(merged).toSet
      val exact = xs.groupBy(identity).view.mapValues(_.size.toLong)
      val thresh = xs.size.toDouble / 8
      exact.filter(_._2 > thresh).keys.foreach { item =>
        assert(out.contains(item),
          s"trial $trial: guaranteed item $item (count ${exact(item)} > $thresh) missing from sketch")
      }
      assert(merged.size <= 8, s"trial $trial: sketch exceeded k counters")
    }
  }

  test("incremental CC equals batch CC for ANY edge-arrival order and slicing") {
    // q249's claim fuzzed: random graphs, random edge permutations,
    // random micro-batch boundaries — folding IncrementalCc.applyBatch
    // over the slices must converge to the one-shot batch CC labels
    // exactly. Covers multi-component absorption chains, label
    // lowering by late-arriving small ids, and intra-batch new-node
    // merges the three-scenario unit test can't enumerate.
    import graft.ext.{Dedup, IncrementalCc}
    (1 to 6).foreach { trial =>
      val edges = Gen.listOfN(12,
          for { a <- Gen.choose(0L, 15L); b <- Gen.choose(0L, 15L) if a != b }
            yield (math.min(a, b), math.max(a, b)))
        .pureApply(Gen.Parameters.default, Seed(900 + trial.toLong))
        .distinct
      val perm = new scala.util.Random(trial).shuffle(edges)
      val nSlices = 1 + (trial % 4)
      val slices = perm.grouped(math.max(1, perm.size / nSlices)).toSeq
      var labels = IncrementalCc.emptyLabels(spark).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      slices.foreach { sl =>
        val lab = labels.toSeq.toDF("id", "cluster_id")
        val ups = IncrementalCc.applyBatch(spark, lab, sl.toDF("id_a", "id_b"))
          .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id"))
        labels = labels ++ ups
      }
      val batch = Dedup.contractiveComponents(edges.toDF("id_a", "id_b"))
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
      assert(labels == batch,
        s"trial $trial: incremental $labels != batch $batch (order ${perm.take(5)}...)")
    }
  }

  test("winsorized/trimmed means: clamp and trim laws on random multisets") {
    // the q248 crossings fuzzed against a plain sorted-slice
    // recomputation: for random integer multisets (heavy ties by
    // construction), the histogram-crossing winsor/trim must equal
    // the brute form, and ordering laws must hold
    // (trimmed/winsorized means lie within [min, max] and winsor
    // equals plain mean when the clamp bounds are the extremes).
    (1 to 6).foreach { trial =>
      val xs = Gen.listOfN(40 + trial * 17, Gen.choose(-50L, 50L))
        .pureApply(Gen.Parameters.default, Seed(700 + trial.toLong))
      val df = xs.map(v => ("g", v)).toDF("event_type", "cents")
      // replicate the gate's arithmetic through a local brute
      val sorted = xs.sorted
      val n = sorted.length; val k = n / 20
      def pd(q: Int) = sorted(math.ceil(q * n / 20.0).toInt - 1)
      val (lo, hi) = (pd(1), pd(19))
      val winsor = sorted.map(v => math.max(lo, math.min(hi, v))).sum.toDouble / n
      val trimmed = sorted.slice(k, n - k)
      val tm = trimmed.sum.toDouble / trimmed.length
      assert(winsor >= sorted.head && winsor <= sorted.last)
      assert(tm >= sorted.head && tm <= sorted.last)
      // the histogram form (same expressions as q248, on the local df)
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val hist = df.groupBy($"event_type".as("g"), $"cents".as("v"))
        .agg(count(lit(1)).as("cnt"))
      val byVal = Window.partitionBy($"g").orderBy($"v".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.partitionBy($"g")
      val c = hist.withColumn("cum", sum($"cnt").over(byVal))
        .withColumn("n", sum($"cnt").over(all)).withColumn("k", expr("n div 20"))
      val b = c.groupBy($"g").agg(first($"n").as("n"), first($"k").as("k"),
        min(when($"cum" * 20 >= $"n", $"v")).as("lo"),
        min(when($"cum" * 20 >= $"n" * 19, $"v")).as("hi")).head()
      assert(b.getAs[Long]("lo") == lo && b.getAs[Long]("hi") == hi,
        s"trial $trial: crossing bounds (${b.getAs[Long]("lo")}, ${b.getAs[Long]("hi")}) != brute ($lo, $hi)")
    }
  }

  test("BPE merge counts are non-increasing across rounds") {
    // merging the argmax pair can only shrink other pairs' counts (new
    // pairs created by the merged symbol are bounded by its count), so
    // the selected count sequence must be monotonically non-increasing
    val cnts = graft.queries.ExtQueries.q118BpeMerges(spark, sfDir)
      .orderBy($"rank").collect().map(_.getLong(3)).toSeq
    assert(cnts.nonEmpty)
    cnts.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a, s"count increased across rounds: $cnts")
    case _ => ()
    }
  }
}
