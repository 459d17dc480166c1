package graft

import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.functions.VectorFunctions

/** Specs for the training-data extensions: dedup recall, similarity
  * correctness vs local math, text determinism, multimodal plumbing.
  */
class ExtSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet").cache()
  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()

  // ----------------------------------------------------------- dedup
  test("WeightedMean Aggregator: typed API and SQL udaf agree with the expression form") {
    import org.apache.spark.sql.functions.{col, expr, sum, udaf}
    import graft.functions.WeightedMean
    val rows = graft.ops.Cdc.enrichWatchedRatio(
        graft.sources.Workload.cdcEnvelopes(spark, n = 500, nDocs = 50, seed = 9L)
          .filter(col("data").isNotNull).select(col("document_id"), col("data.*")))
      .select(col("document_id"), col("watched_ratio"),
              col("video_duration_seconds").cast("double").as("w"))
    spark.udf.register("weighted_mean", udaf(WeightedMean))
    rows.createOrReplaceTempView("wm_in")
    val viaSql = spark.sql(
      """SELECT document_id, weighted_mean(watched_ratio, w) AS wm
        |FROM wm_in GROUP BY document_id""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val viaExpr = rows.groupBy(col("document_id"))
      .agg((sum(expr("watched_ratio * w")) / sum(col("w"))).as("wm"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(viaSql.keySet == viaExpr.keySet)
    viaSql.foreach { case (k, v) =>
      assert(math.abs(v - viaExpr(k)) < 1e-12, s"$k: $v vs ${viaExpr(k)}") }
    // zero-weight guard
    import spark.implicits._
    val z = Seq((0.5, 0.0), (0.9, 0.0)).toDF("watched_ratio", "w")
    z.createOrReplaceTempView("wm_zero")
    assert(spark.sql("SELECT weighted_mean(watched_ratio, w) FROM wm_zero")
      .first().getDouble(0) == 0.0)
  }

  test("payloadStats: exact entropy/distinct/run values on known payloads") {
    import graft.ext.Multimodal
    import graft.ext.Multimodal.{MediaRecord, PayloadStats}
    implicit val s = spark
    import s.implicits._
    val media = Seq(
      MediaRecord(1L, "image", Array.fill[Byte](64)(7)),            // constant
      MediaRecord(2L, "audio", Array[Byte](0, 1, 0, 1)),            // two symbols
      MediaRecord(3L, "video", (0 until 256).map(_.toByte).toArray) // uniform
    ).toDS()
    val out = Multimodal.payloadStats(media).collect()
      .map(p => p.doc_id -> p).toMap
    assert(out(1L) == PayloadStats(1L, "image", 64, 1, 0, 64))
    assert(out(2L) == PayloadStats(2L, "audio", 4, 2, 1000, 1))   // H = 1 bit
    assert(out(3L) == PayloadStats(3L, "video", 256, 256, 8000, 1)) // H = 8 bits
    // invariants over the synthesized corpus
    val corpus = Multimodal.mediaFromDocuments(
        graft.core.Tables.documents(spark, sfDir))
      .as[MediaRecord]
    val stats = Multimodal.payloadStats(corpus).collect()
    assert(stats.nonEmpty && stats.forall(p =>
      p.entropy_mbits >= 0 && p.entropy_mbits <= 8000 &&
      p.n_distinct <= math.min(256L, p.n_bytes) && p.max_run >= 1))
  }

  test("exactDedup keeps one row per duplicated text") {
    val withDups = docs.limit(50).unionAll(docs.limit(20)) // 20 exact dups
    assert(Dedup.exactDedup(withDups).count() == 50)
    val groups = Dedup.exactGroups(withDups)
    assert(groups.filter($"n_copies" === 2).count() == 20)
  }

  test("MinHash-LSH near-dups: full recall of brute-force Jaccard>=0.5 on sf0.001") {
    val brute = Dedup.bruteJaccardPairs(docs, idCap = 500, threshold = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashNearDups(docs, k = 12, bands = 4, threshold = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty, "fixture should contain near-dups")
    // LSH verifies with exact jaccard, so precision is 1 by construction;
    // recall on this fixture should be total (bands are generous at tau=0.5)
    assert(lsh == brute)
  }

  test("SimHash pairs: hamming computed correctly and bounded") {
    val pairs = Dedup.simhashNearPairs(Dedup.withSimhash(docs.limit(100)), maxHamming = 3)
    val sigs = Dedup.withSimhash(docs.limit(100))
      .select($"doc_id", $"simhash").as[(Long, Long)].collect().toMap
    pairs.select($"id_a", $"id_b", $"hamming").as[(Long, Long, Int)].collect().foreach {
      case (a, b, h) =>
        assert(h == java.lang.Long.bitCount(sigs(a) ^ sigs(b)) && h <= 3)
    }
  }

  // ------------------------------------------------------ similarity
  test("CosineSimilarity expression matches local double math") {
    val local = emb.select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().take(10)
    def cosLocal(x: Array[Float], y: Array[Float]): Double = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      for (i <- x.indices) {
        dot += x(i).toDouble * y(i).toDouble
        nx += x(i).toDouble * x(i).toDouble; ny += y(i).toDouble * y(i).toDouble
      }
      dot / (math.sqrt(nx) * math.sqrt(ny))
    }
    val a = emb.filter($"vec_id" < 10).select($"vec_id".as("ia"), $"embedding".as("ea"))
    val b = emb.filter($"vec_id" < 10).select($"vec_id".as("ib"), $"embedding".as("eb"))
    val got = a.crossJoin(b)
      .select($"ia", $"ib", VectorFunctions.cosineSim($"ea", $"eb").as("c"))
      .as[(Long, Long, Double)].collect()
    val byId = local.toMap
    got.foreach { case (ia, ib, c) =>
      assert(math.abs(c - cosLocal(byId(ia), byId(ib))) < 1e-12)
    }
  }

  test("knnBrute: self excluded, ranks deterministic, k respected") {
    val knn = Similarity.knnBrute(emb, nQueries = 5, k = 3).collect()
    assert(knn.length == 15)
    assert(!knn.exists(r => r.getLong(0) == r.getLong(2)))
    assert(knn.map(_.getInt(1)).toSet == Set(1, 2, 3))
  }

  test("annLsh: subset of corpus with sane recall vs brute force") {
    val ps = Similarity.planes(4, 64)
    val brute = Similarity.knnBrute(emb, 20, 1)
      .select($"qid", $"cid").as[(Long, Long)].collect().toMap
    val ann = Similarity.annLsh(emb, 20, 1, ps)
      .select($"qid", $"cid").as[(Long, Long)].collect().toMap
    // On UNCORRELATED random vectors (this fixture: max pairwise cosine
    // 0.48) single-bucket sign-LSH recall@1 is only ~0.16; multi-probe
    // (own + 4 hamming-1 buckets) lifts it substantially. Exactness of
    // the computation is q31's oracle; this asserts approximation
    // quality stays sane.
    val hits = ann.count { case (q, c) => brute.get(q).contains(c) }
    assert(ann.size == 20 && hits >= 8, s"recall@1 too low: $hits/${ann.size}")
  }

  test("LSH near-dup pairs (q99) == brute pairs (q32): 100% recall on planted corpus") {
    // the banded-LSH enumeration must reproduce the cross-join baseline
    // pair-for-pair — this is the same equivalence the q99 gate
    // hash-checks against the DuckDB brute oracle at sf0.01
    val brute = graft.queries.ExtQueries.q32EmbeddingNearDup(spark, sfDir)
      .select($"id_a", $"id_b", $"cos6").as[(Long, Long, Double)].collect().toSet
    val lsh = graft.queries.ExtQueries.q99EmbeddingNearDupLsh(spark, sfDir)
      .select($"id_a", $"id_b", $"cos6").as[(Long, Long, Double)].collect().toSet
    assert(brute.nonEmpty, "planted corpus produced no qualifying pairs")
    assert(lsh == brute,
      s"LSH missed ${(brute -- lsh).size} pairs / invented ${(lsh -- brute).size}")
  }

  test("IVF ANN (q37 shape): 4-probe recall@1 beats single-cell assignment") {
    val brute = Similarity.knnBrute(emb, 20, 1)
      .select($"qid", $"cid").as[(Long, Long)].collect().toMap
    val ivf = graft.queries.Extended.q37IvfAnn(spark, sfDir)
      .filter($"rank" === 1).select($"qid", $"cid").as[(Long, Long)].collect().toMap
    val hits = ivf.count { case (q, c) => brute.get(q).contains(c) }
    // probing 4 of 16 cells covers ~25% of the corpus chosen by
    // centroid proximity; recall@1 should comfortably beat that prior
    assert(ivf.size == 20 && hits >= 8, s"IVF recall@1 too low: $hits/${ivf.size}")
  }

  // ------------------------------------------------------------ text
  test("kmeansCentroids: bit-deterministic, assignment cost improves over init") {
    import graft.ext.Similarity
    import graft.functions.VectorFunctions.cosineSim
    val emb = graft.core.Tables.embeddings(spark, sfDir).filter($"vec_id" < 400)
    def train() = Similarity.kmeansCentroids(emb, "vec_id", "embedding", k = 8, iters = 3)
      .orderBy($"cent_idx").as[(Int, Seq[Float])].collect().toSeq
    val a = train()
    // exact equality across reruns: integer-moment means are
    // order-independent, so training is bit-reproducible
    assert(a == train(), "k-means training must be bit-deterministic")
    assert(a.size == 8 && a.map(_._1) == (0 until 8))

    // mean best-cosine under trained centroids must beat the k-seed
    // init (Lloyd's monotonicity, modulo the micro-unit quantization)
    def cost(cents: Seq[(Int, Seq[Float])]): Double = {
      val cdf = cents.toDF("cent_idx", "cent")
        .select($"cent_idx", $"cent".cast("array<float>").as("cent"))
      emb.crossJoin(broadcast(cdf))
        .groupBy($"vec_id")
        .agg(max(cosineSim($"embedding", $"cent")).as("best"))
        .agg(avg($"best")).first().getDouble(0)
    }
    val init = emb.orderBy($"vec_id".asc).limit(8)
      .select($"embedding").as[Seq[Float]].collect()
      .zipWithIndex.map { case (v, i) => (i, v) }.toSeq
    assert(cost(a) >= cost(init) - 1e-9,
      s"trained cost ${cost(a)} worse than init ${cost(init)}")
  }

  test("contractiveComponents: chains, stars, and disjoint clusters converge to min labels") {
    // component A: chain 1-2-3-4 (diameter 3); component B: star around
    // 10; component C: pair (20, 21); plus a redundant duplicate edge
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L),
                    (10L, 13L), (20L, 21L), (2L, 3L))
      .toDF("id_a", "id_b")
    val comp = Dedup.contractiveComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
                       10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
                       20L -> 20L, 21L -> 20L))
  }

  test("contractiveComponents: a path deeper than the contraction budget escalates to star rounds and still converges") {
    // path graph 0-1-2-...-40: a contraction round shortens a path by
    // one edge, so 5 rounds leave 35 edges and the remainder must
    // escalate (log-diameter) and label everything 0. A second
    // component checks the escalated path keeps components separate.
    val edges = ((0L until 40L).map(i => (i, i + 1)) ++
                 Seq((100L, 101L), (101L, 102L)))
      .toDF("id_a", "id_b")
    val comp = Dedup.contractiveComponents(edges, contractRounds = 5)
      .as[(Long, Long)].collect().toMap
    assert(comp.size == 44)
    assert((0L to 40L).forall(comp(_) == 0L))
    assert((100L to 102L).forall(comp(_) == 100L))
    spark.catalog.clearCache()
  }

  test("starComponents alone matches min-label on a mixed graph") {
    // (30,30): a self-loop-only node — the star tier canonicalizes
    // self-loops away and must add such nodes back as their own
    // singleton components, like the kernel
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L),
                    (10L, 13L), (20L, 21L), (2L, 3L), (30L, 30L)).toDF("id_a", "id_b")
    val star = ExtSpec.starLabels(edges)
    assert(star == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
                       10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
                       20L -> 20L, 21L -> 20L, 30L -> 30L))
    assert(star == Dedup.contractiveComponents(edges).as[(Long, Long)].collect().toMap)
    spark.catalog.clearCache()
  }

  test("contractiveComponents: equals starComponents and the driver union-find on cliques, deep paths, crossings, self-loops; cliques collapse in one round") {
    // the shapes that matter: copy-group CLIQUES (the dedup-dominant
    // case contraction exists for), a PATH deeper than the contraction
    // budget (forces the starComponents escalation), a bridge edge
    // CROSSING two cliques mid-contraction, a self-loop-only node, and
    // a plain pair
    val cliques = for {
      c <- 0L until 3L; members = (0L until 5L).map(c * 100 + 50 + _)
      i <- members; j <- members if i < j
    } yield (i, j)
    val path = (0L until 30L).map(i => (1000L + i, 1000L + i + 1))
    val edges = (cliques ++ path ++
      Seq((50L, 150L),          // bridge: clique 0 and clique 1 are ONE component
          (2000L, 2000L),       // self-loop singleton
          (3000L, 3001L)))
      .toDF("id_a", "id_b")
    val viaContraction = Dedup.contractiveComponents(edges, contractRounds = 3)
      .as[(Long, Long)].collect().toMap
    for ((name, ref) <- Seq("starComponents" -> ExtSpec.starLabels(edges),
                            "driver union-find" -> ExtSpec.unionFindLabels(edges)))
      assert(viaContraction == ref,
        s"kernel diverged from $name: ${(viaContraction.toSet diff ref.toSet).take(5)}")
    // semantic spot checks, independent of both references
    assert((0L until 10L).map(i => viaContraction(50L + (i / 5) * 100 + i % 5)).toSet == Set(50L),
      "bridged cliques must share the min label")
    assert((1000L to 1030L).forall(viaContraction(_) == 1000L), "escalated path mislabeled")
    assert(viaContraction(2000L) == 2000L && viaContraction(3000L) == 3000L)
    // geometric shrinkage where it is claimed: ONE round collapses a
    // clique-only graph to nothing (contractRounds = 1 must suffice —
    // no escalation means no starComponents fixed point was needed)
    val cliqueOnly = cliques.toDF("id_a", "id_b")
    val oneRound = Dedup.contractiveComponents(cliqueOnly, contractRounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(oneRound.values.toSet == Set(50L, 150L, 250L))
    assert(oneRound.size == 15)
    spark.catalog.clearCache()
  }

  test("nearDupComponents: exact-copy pre-collapse is bit-identical to the direct path, incl. isolated copy cliques and empty-shingle groups") {
    import graft.ext.Dedup
    // corpus shapes the collapse argument hinges on:
    //  - 4 exact copies of text A, near-dup to NOTHING else -> the
    //    rep gains no LSH edge; the self-clique re-add must label all
    //    4 with the min copy id
    //  - 3 exact copies of text B + a light edit of B -> component
    //    reached THROUGH the representative
    //  - 2 exact copies of a sub-3-token text: WordShingles clamps to
    //    the whole-suffix shingle, so even these carry a nonempty
    //    shingle set, verify at jaccard 1.0, and must form their own
    //    pair component through the collapse
    //  - unique unrelated docs -> absent both ways
    val textA = (1 to 40).map(i => s"alpha$i").mkString(" ")
    val textB = (1 to 40).map(i => s"beta$i").mkString(" ")
    val textB2 = textB + " beta41 beta42"
    val docs = (
      Seq(10L, 11L, 12L, 13L).map((_, textA)) ++
      Seq(20L, 21L, 22L).map((_, textB)) ++ Seq(23L -> textB2) ++
      Seq(30L, 31L).map((_, "just two")) ++
      Seq(40L -> (1 to 40).map(i => s"gamma$i").mkString(" "))
    ).toDF("doc_id", "text")
    val direct = Dedup.contractiveComponents(
        Dedup.minhashNearDups(docs, k = 12, bands = 4, threshold = 0.5))
      .as[(Long, Long)].collect().toMap
    spark.catalog.clearCache()
    val collapsed = Dedup.nearDupComponents(docs, k = 12, bands = 4, threshold = 0.5)
      .as[(Long, Long)].collect().toMap
    spark.catalog.clearCache()
    assert(collapsed == direct,
      s"pre-collapse diverged: ${(collapsed.toSet union direct.toSet) -- (collapsed.toSet intersect direct.toSet)}")
    // independent semantic checks (not just tier agreement)
    assert(Seq(10L, 11L, 12L, 13L).forall(collapsed.get(_).contains(10L)),
      "isolated copy clique must survive via the self-clique re-add")
    assert(Seq(20L, 21L, 22L, 23L).forall(collapsed.get(_).contains(20L)),
      "copy group + near-dup edit must fuse through the representative")
    assert(collapsed.get(30L).contains(30L) && collapsed.get(31L).contains(30L),
      "short-text copy pair must form its own component (clamped shingle)")
    assert(!collapsed.contains(40L), "singleton must stay absent")
  }

  test("codecs: BMP/PPM/WAV round-trip dimensions and pixels exactly") {
    import graft.ext.Multimodal._
    // BMP with a width whose 3-byte rows need padding (w=3 -> rowSize 12)
    val bmp = encodeBmp(3, 2, 129)
    val Some((bw, bh, bpx)) = decodeBmp(bmp)
    assert((bw, bh) == (3, 2) && bpx.length == 18)
    assert(bpx.forall(b => (b & 0xff) == 129), "pixel payload corrupted")
    // top-down BMP (negative height) decodes identically for solid fill
    val td = bmp.clone()
    java.nio.ByteBuffer.wrap(td).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(22, -2)
    assert(decodeBmp(td).map { case (w, h, px) => (w, h, px.toSeq) } ==
           Some((3, 2, bpx.toSeq)))
    // PPM with comments and multi-whitespace header
    val ppmBody = new Array[Byte](2 * 2 * 3); java.util.Arrays.fill(ppmBody, 77.toByte)
    val ppm = "P6\n# fixture\n2  2\n255\n".getBytes("US-ASCII") ++ ppmBody
    val Some((pw, ph, ppx)) = decodePpm(ppm)
    assert((pw, ph) == (2, 2) && ppx.forall(b => (b & 0xff) == 77))
    assert(decodePpm(encodePpm(5, 4, 200)).exists {
      case (w, h, px) => w == 5 && h == 4 && px.length == 60 &&
        px.forall(b => (b & 0xff) == 200)
    })
    // WAV header fields
    assert(decodeWav(encodeWav(44100, 100)) == Some((44100, 1, 16, 100L)))
    // corrupt/unknown payloads fall back to the stub, never throw
    val junk = "BM but not a bitmap".getBytes("US-ASCII")
    assert(decodeBmp(junk).isEmpty && decodePpm(junk).isEmpty && decodeWav(junk).isEmpty)
    assert(decodePayload("image", junk) ==
           decodePayloadStub("image", junk), "fallback must be the stub")
    val truncated = encodeBmp(10, 10, 5).take(60) // header ok, pixels missing
    assert(decodeBmp(truncated).isEmpty)
    val p6junk = "P6\n4 4\n255\n..".getBytes("US-ASCII") // short pixel payload
    assert(decodePpm(p6junk).isEmpty)
    // truncated WAV: header claims frames the payload doesn't carry —
    // must fail the decode like BMP/PPM, not report claimed frames
    val wavTrunc = encodeWav(44100, 100).dropRight(50)
    assert(decodeWav(wavTrunc).isEmpty)
    // PNG round-trip: real inflate + unfilter recovers every pixel
    assert(decodePng(encodePng(7, 5, 99)).exists {
      case (w, h, px) => w == 7 && h == 5 && px.length == 105 &&
        px.forall(b => (b & 0xff) == 99)
    })
    // non-zero row filters: hand-built 2x2 RGB whose row 0 uses Sub
    // (first pixel raw, second stored as +1 deltas) and row 1 uses Up
    // (zero deltas) — decoded rows must both be [10,20,30, 11,21,31]
    locally {
      import java.util.zip.{CRC32, Deflater}
      def chunk(tag: String, body: Array[Byte]): Array[Byte] = {
        val bb = java.nio.ByteBuffer.allocate(12 + body.length)
        bb.putInt(body.length).put(tag.getBytes("US-ASCII")).put(body)
        val crc = new CRC32(); crc.update(tag.getBytes("US-ASCII")); crc.update(body)
        bb.putInt(crc.getValue.toInt); bb.array()
      }
      val ihdr = java.nio.ByteBuffer.allocate(13)
      ihdr.putInt(2).putInt(2).put(8.toByte).put(2.toByte)
        .put(0.toByte).put(0.toByte).put(0.toByte)
      val raw = Array[Byte](1, 10, 20, 30, 1, 1, 1, /* Sub row */
                            2, 0, 0, 0, 0, 0, 0)    /* Up row  */
      val defl = new Deflater(); defl.setInput(raw); defl.finish()
      val z = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](256)
      while (!defl.finished()) z.write(tmp, 0, defl.deflate(tmp))
      defl.end()
      val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
      val png = sig ++ chunk("IHDR", ihdr.array()) ++
        chunk("IDAT", z.toByteArray) ++ chunk("IEND", Array.empty[Byte])
      val expectedRow = Array[Byte](10, 20, 30, 11, 21, 31)
      assert(decodePng(png).exists { case (w, h, px) =>
        w == 2 && h == 2 && px.sameElements(expectedRow ++ expectedRow)
      }, "Sub/Up unfilter math broken")
    }
    assert(decodePng(junk).isEmpty)
    assert(decodePng(encodePng(4, 4, 10).dropRight(20)).isEmpty, "truncated IDAT must fail")
    locally { // header claims 2x2 but the IDAT stream carries 3x3
      val over = encodePng(3, 3, 7)
      val bb = java.nio.ByteBuffer.wrap(over)
      bb.putInt(16, 2); bb.putInt(20, 2)
      assert(decodePng(over).isEmpty, "over-claiming IDAT must fail")
    }
    // JPEG header: SOF0 dims recovered; malformed/truncated fails
    assert(decodeJpegDims(encodeJpegHeader(640, 480)) == Some((640, 480)))
    assert(decodeJpegDims(junk).isEmpty)
    assert(decodeJpegDims(encodeJpegHeader(640, 480).take(6)).isEmpty)
    // crafted huge dimensions must FAIL, not integer-wrap into a bogus
    // small pixel count that "successfully" decodes
    val p6huge = "P6\n1431655766 1\n255\n..".getBytes("US-ASCII")
    assert(decodePpm(p6huge).isEmpty, "overflowing w*h*3 must not decode")
    val bmpHuge = encodeBmp(3, 2, 1)
    java.nio.ByteBuffer.wrap(bmpHuge).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(18, 1431655766) // width -> w*3 wraps negative
    assert(decodeBmp(bmpHuge).isEmpty, "overflowing BMP width must not decode")
  }

  test("baseline JPEG codec: exact flat round-trip, bounded gradient error, restarts, profile boundary") {
    import graft.ext.{JpegCodec, Multimodal}
    // flat fills round-trip EXACTLY (only DC coefficients survive the
    // FDCT; Cb=Cr=128 is a fixed point of the color convert) across
    // grayscale, 4:4:4, 4:2:0, and odd non-multiple-of-8 dims
    for {
      (w, h) <- Seq((8, 8), (7, 5), (17, 9), (24, 16), (3, 3))
      v <- Seq(0, 1, 127, 128, 200, 255)
      (gray, sub) <- Seq((true, false), (false, false), (false, true))
    } {
      val enc = JpegCodec.encode(w, h, JpegCodec.flatRgb(w, h, v),
        subsample420 = sub, gray = gray)
      val dec = JpegCodec.decode(enc)
      assert(dec.exists { case (dw, dh, px) =>
        dw == w && dh == h && px.length == w * h * 3 &&
          px.forall(b => (b & 0xff) == v)
      }, s"flat round-trip failed: w=$w h=$h v=$v gray=$gray sub420=$sub")
    }
    // gradient content exercises the AC Huffman path + inverse zigzag +
    // IDCT: with flat quant 1 the 4:4:4 round-trip error is pure DCT
    // rounding, bounded by a few counts per channel
    val (gw, gh) = (19, 13)
    val grad = JpegCodec.gradientRgb(gw, gh, 5)
    val decG = JpegCodec.decode(JpegCodec.encode(gw, gh, grad, quantVal = 1)).get
    assert(decG._1 == gw && decG._2 == gh)
    val maxErr = grad.indices.map(i => math.abs((grad(i) & 0xff) - (decG._3(i) & 0xff))).max
    assert(maxErr <= 4, s"4:4:4 quant-1 gradient error $maxErr exceeds DCT rounding bound")
    // restart markers: RST discipline (byte align, DC predictor reset)
    // must reproduce the no-restart decode bit-for-bit
    val plain = JpegCodec.decode(JpegCodec.encode(gw, gh, grad, quantVal = 1)).get
    val rst = JpegCodec.decode(
      JpegCodec.encode(gw, gh, grad, quantVal = 1, restartEvery = 1)).get
    assert(plain._3.sameElements(rst._3), "restart-marker stream decoded differently")
    // 4:2:0 on a WRAP-FREE smooth ramp: chroma is subsampled (lossy by
    // design), so the error bound is chroma slope x upsample distance
    // plus DCT noise — the mod-256 gradient above would put a 255->0
    // cliff inside a 2x2 chroma average and measure content, not codec
    val smooth = Array.tabulate(gw * gh * 3) { i =>
      val p = i / 3; ((p % gw) * 3 + (p / gw) * 2 + (i % 3) * 5).toByte
    }
    val dec420 = JpegCodec.decode(
      JpegCodec.encode(gw, gh, smooth, subsample420 = true, quantVal = 1)).get
    val err420 = smooth.indices.map(i => math.abs((smooth(i) & 0xff) - (dec420._3(i) & 0xff))).max
    assert(err420 <= 16, s"4:2:0 smooth-ramp error $err420 out of subsampling bound")
    // profile boundary + robustness: header-only stream has no scan
    // (full decode None, dims still parse); a baseline scan under a
    // patched SOF2 byte is a corrupt progressive stream and is refused;
    // junk and truncated scans refused, never thrown
    val hdrOnly = Multimodal.encodeJpegHeader(40, 30)
    assert(JpegCodec.decode(hdrOnly).isEmpty)
    assert(Multimodal.decodeJpegDims(hdrOnly) == Some((40, 30)))
    val baseline = JpegCodec.encode(16, 16, JpegCodec.flatRgb(16, 16, 77))
    val progressive = baseline.clone()
    // SOF0 marker byte (0xc0 after 0xff) -> 0xc2: find and patch it
    val sofAt = baseline.indices.dropWhile(i =>
      !((baseline(i) & 0xff) == 0xff && (baseline(i + 1) & 0xff) == 0xc0)).head
    progressive(sofAt + 1) = 0xc2.toByte
    assert(JpegCodec.decode(progressive).isEmpty,
      "a baseline scan under an SOF2 header is corrupt and must be refused")
    assert(Multimodal.decodeJpegDims(progressive) == Some((16, 16)),
      "header metadata must still read out-of-profile JPEGs")
    // a genuine progressive stream (SOF2, several scans) of a flat fill,
    // written by the JDK's own encoder, decodes exactly, also through
    // codecFeatures, where a header-only reader gives mean_px = -1
    val (pw, ph, pv) = (21, 13, 93)
    val realProgressive = {
      import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}
      val img = new java.awt.image.BufferedImage(pw, ph,
        java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      img.getRaster.setPixels(0, 0, pw, ph, Array.fill(pw * ph * 3)(pv))
      val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
      val param = writer.getDefaultWriteParam
      param.setProgressiveMode(ImageWriteParam.MODE_DEFAULT)
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new javax.imageio.stream.MemoryCacheImageOutputStream(bytes)
      try {
        writer.setOutput(out)
        writer.write(null, new IIOImage(img, null, null), param)
      } finally { writer.dispose(); out.close() }
      bytes.toByteArray
    }
    assert(realProgressive.indices.init.exists(i =>
      (realProgressive(i) & 0xff) == 0xff && (realProgressive(i + 1) & 0xff) == 0xc2),
      "fixture must carry an SOF2 marker")
    assert(JpegCodec.decode(realProgressive).exists { case (dw, dh, px) =>
      dw == pw && dh == ph && px.length == pw * ph * 3 && px.forall(b => (b & 0xff) == pv)
    }, "a real progressive JPEG of a flat fill must decode exactly")
    val progFeatures = Multimodal.codecFeatures(
      Seq(Multimodal.MediaRecord(1L, "image", realProgressive)).toDS())(spark).collect()
    assert(progFeatures.map(f => (f.width, f.height, f.mean_px)).toSeq ==
      Seq((pw.toLong, ph.toLong, pv.toLong)), "codecFeatures must read progressive pixels")
    assert(JpegCodec.decode("not a jpeg at all".getBytes("US-ASCII")).isEmpty)
    assert(JpegCodec.decode(baseline.dropRight(12)).isEmpty, "truncated scan must fail")
  }

  test("extractFeatures real-decodes container formats and stubs the rest, distributed") {
    import graft.ext.Multimodal
    import Multimodal._
    implicit val s = spark
    val media = spark.createDataset(Seq(
      MediaRecord(1L, "image", encodeBmp(7, 5, 10)),
      MediaRecord(2L, "audio", encodeWav(16000, 50)),
      MediaRecord(3L, "video", encodePpm(9, 3, 20)),
      MediaRecord(4L, "image", "not an image at all".getBytes("US-ASCII"))))
    val out = extractFeatures(media).collect().map(f => f.doc_id -> f).toMap
    assert((out(1L).width, out(1L).height, out(1L).n_frames) == (7L, 5L, 1L))
    assert(out(2L).sample_rate == 16000L)
    assert((out(3L).width, out(3L).height) == (9L, 3L))
    val stub = decodePayloadStub("image", "not an image at all".getBytes("US-ASCII"))
    assert((out(4L).width, out(4L).height) == (stub._1, stub._2), "unknown format -> stub")
  }

  test("pageRank fixed-point rounds match a hand-computed graph") {
    import graft.ext.Graph
    // 1 -> 3, 2 -> 3, 3 -> 1 : node 3 is the authority
    val edges = Seq((1L, 3L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val r1 = Graph.pageRank(edges, 1).as[(Long, Long)].collect().toMap
    // round 1: contributions are rank/outdeg = 1_000_000 each
    // r(3) = 150000 + 85*(1000000+1000000)/100 = 1_850_000
    // r(1) = 150000 + 85*1000000/100 = 1_000_000 ; r(2) = 150000 (no in-edges)
    assert(r1 == Map(1L -> 1000000L, 2L -> 150000L, 3L -> 1850000L))
    val r2 = Graph.pageRank(edges, 2).as[(Long, Long)].collect().toMap
    // round 2: r(3) = 150000 + 85*(1000000+150000)/100 = 1_127_500
    //          r(1) = 150000 + 85*1850000/100 = 1_722_500 ; r(2) = 150000
    assert(r2 == Map(1L -> 1722500L, 2L -> 150000L, 3L -> 1127500L))
  }

  test("pageRank large iteration budgets truncate lineage without leaking checkpoints") {
    import graft.ext.Graph
    val edges = Seq((1L, 3L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    // 17 rounds crosses two truncation points (rounds 8 and 16); values
    // must equal an untruncated reference loop, and superseded
    // checkpoint blocks must unpersist (the r2 persist-leak class)
    val before = spark.sparkContext.getPersistentRDDs.size
    val got = Graph.pageRank(edges, 17).as[(Long, Long)].collect().toMap
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 1,
      s"checkpoint blocks accumulated: $before -> $after")
    // reference: same recurrence, plain Scala longs
    var r = Map(1L -> 1000000L, 2L -> 1000000L, 3L -> 1000000L)
    (0 until 17).foreach { _ =>
      val in = Map(3L -> (r(1L) + r(2L)), 1L -> r(3L), 2L -> 0L)
      r = r.keys.map(k => k -> (150000L + 85L * in(k) / 100L)).toMap
    }
    assert(got == r, "truncated loop diverged from the plain recurrence")
  }

  test("langId precedence is deterministic and covers zero-score docs") {
    val out = Seq("xyzzy blorp", "the fast join", "el la de la")
      .toDF("text")
      .select(TextAnalysis.langId(TextAnalysis.tokens($"text")).as("p"))
      .as[String].collect().toSeq
    assert(out == Seq("und", "en", "es"))
  }

  test("shingles clamp on short texts") {
    val sh = Seq("a b").toDF("text")
      .select(TextAnalysis.shingles(TextAnalysis.tokens($"text"), 3).as("s"))
      .as[Seq[String]].first()
    assert(sh == Seq("a b"))
  }

  test("quality score stays in [0,1] on the corpus") {
    import TextAnalysis._
    val toks = tokens($"text")
    val q = docs.select(
      qualityScore(size(toks), digitTokenCount(toks), countIn(toks, Stopwords)).as("q"))
      .agg(min($"q"), max($"q")).first()
    assert(q.getDouble(0) >= 0.0 && q.getDouble(1) <= 1.0)
  }

  // ------------------------------------------------------ multimodal
  test("mapPartitions feature extraction agrees with the expression twin") {
    import Multimodal._
    val media = mediaFromDocuments(docs)
    val typed = media.as[MediaRecord]
    val viaPartitions = extractFeatures(typed, batchSize = 32)(spark)
      .collect().map(f => f.doc_id -> f).toMap
    val viaExpr = featuresExpr(media)
      .as[MediaFeatures].collect().map(f => f.doc_id -> f).toMap
    assert(viaPartitions.size == viaExpr.size)
    viaExpr.foreach { case (id, e) => assert(viaPartitions(id) == e) }
  }

  test("resizeNearest and frameSample: hand-checked positional reads") {
    import Multimodal._
    // 4x2 gradient, seed 0: pixel(x,y) = x*7 + y*13
    val Some((w, h, px)) = decodeBmp(encodeBmpGradient(4, 2, 0))
    assert(w == 4 && h == 2)
    // downsize to 2x1: out(x,0) = src(x*4/2, 0) = src(2x, 0) -> 0, 14
    val down = resizeNearest(w, h, px, 2, 1)
    assert((down(0) & 0xff) == 0 && (down(3) & 0xff) == 14)
    // upsize to 8x4 replicates: out(7,3) = src(7*4/8, 3*2/4) = src(3,1) = 34
    val up = resizeNearest(w, h, px, 8, 4)
    assert((up(((3 * 8) + 7) * 3) & 0xff) == 3 * 7 + 13)
    // a 70000x1 strip down to 40000x1: x * w passes Int.MaxValue, so
    // every source index must still match the positional formula
    val (sw, ow) = (70000, 40000)
    val strip = Array.tabulate(sw * 3)(i => (i / 3 % 251 + i % 3).toByte)
    val narrow = resizeNearest(sw, 1, strip, ow, 1)
    assert(narrow.length == ow * 3)
    (0 until ow).foreach { x =>
      val sx = (x.toLong * sw / ow).toInt
      assert((0 until 3).forall(c => narrow(3 * x + c) == strip(3 * sx + c)),
        s"wide strip: out($x) != src($sx)")
    }
    // WAV PCM roundtrip + every-3rd frame sampling (incl. negatives)
    val pcm = Array.tabulate[Short](10)(i => (i * 100 - 400).toShort)
    val Some(dec) = decodeWavSamples(encodeWavPcm(8000, pcm))
    assert(dec.toSeq == pcm.toSeq)
    assert(frameSample(dec, 3).toSeq == Seq[Short](-400, -100, 200, 500))
    // multi-data-chunk WAV: both decoders must agree the LAST backed
    // chunk is authoritative (sample extraction once read the first)
    val a = Array[Short](1, 2)
    val b = Array[Short](7, 8, 9, 10)
    val two = {
      val base = encodeWavPcm(8000, a)
      val extra = java.nio.ByteBuffer.allocate(8 + b.length * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      extra.put("data".getBytes("US-ASCII")).putInt(b.length * 2)
      b.foreach(extra.putShort)
      val out = base ++ extra.array()
      // patch the RIFF size to cover the appended chunk
      val bb = java.nio.ByteBuffer.wrap(out).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(4, out.length - 8)
      out
    }
    val Some((_, _, _, nf)) = decodeWav(two)
    assert(nf == b.length.toLong, s"decodeWav frames $nf")
    assert(decodeWavSamples(two).map(_.toSeq).contains(b.toSeq),
      "sample extraction disagreed with decodeWav on the authoritative chunk")
  }

  // ------------------------------------------- LM quality / repetition / PII
  test("bigram-LM scores are valid probabilities and rank a repeated doc above noise") {
    val rows = graft.queries.ExtQueries.q112BigramLm(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rows.size == docs.count())
    rows.values.foreach { case (n, p) =>
      assert(n >= 9, "documents have >=10 tokens -> >=9 bigrams")
      assert(p > 0.0 && p < 1.0, s"avg_p $p outside (0,1)")
    }
  }

  test("repetition metrics: hand-checked doc and corpus-wide invariants") {
    val out = graft.queries.ExtQueries.q113RepetitionRules(spark, sfDir)
    val m = out.agg(
      min($"dup_unigram_frac"), max($"dup_unigram_frac"),
      min($"top_bigram_frac"), max($"top_bigram_frac"),
      min($"dup_trigram_frac")).first()
    assert(m.getDouble(0) >= 0.0 && m.getDouble(1) < 1.0)
    assert(m.getDouble(2) > 0.0 && m.getDouble(2) <= 1.0) // most-frequent bigram occurs >=1
    assert(m.getDouble(4) >= 0.0)
    // hand-checked: "a b a b a b" -> 6 tokens, 2 distinct; bigram "a b" x3 of 5;
    // trigrams: "a b a" x2 + "b a b" x2 all duplicated -> 4*3/6 = 2.0 (overlap > 1)
    val row = Seq((99L, "a b a b a b")).toDF("doc_id", "text")
    val checked = graft.queries.ExtQueries.repetitionMetrics(row).first()
    assert(checked.getAs[Long]("n_tokens") == 6L)
    assert(math.abs(checked.getAs[Double]("dup_unigram_frac") - (1.0 - 2.0 / 6)) < 1e-15)
    assert(math.abs(checked.getAs[Double]("top_bigram_frac") - (3.0 * 2 / 6)) < 1e-15)
    assert(math.abs(checked.getAs[Double]("dup_trigram_frac") - (4.0 * 3 / 6)) < 1e-15)
    // 1- and 2-token docs must produce rows (zero fracs), not an ANSI
    // element_at crash — documented as working over ANY (doc_id, text)
    // frame and reused by q119's streaming micro-batches
    val short = graft.queries.ExtQueries.repetitionMetrics(
      Seq((1L, "solo"), (2L, "two tokens")).toDF("doc_id", "text"))
      .orderBy($"doc_id").collect()
    assert(short(0).getAs[Double]("top_bigram_frac") == 0.0)
    assert(short(0).getAs[Double]("dup_trigram_frac") == 0.0)
    assert(short(1).getAs[Double]("dup_trigram_frac") == 0.0)
  }

  test("label centroid agrees with the brute per-label mean; sketch rank guarantee holds") {
    // gate emits long format (label, n, dim_i, m); re-assemble per label
    val long = graft.queries.ExtQueries.q115LabelCentroids(spark, sfDir)
      .orderBy($"label", $"dim_i").collect()
    val cents = long.groupBy(_.getInt(0)).map { case (lbl, rows) =>
      lbl -> (rows.head.getLong(1), rows.map(_.getAs[Double]("m")).toSeq)
    }.toMap
    assert(long.length == cents.size * graft.queries.ExtQueries.CentroidDims)
    // brute twin for one label: collect its vectors and average locally
    val some = cents.keysIterator.min
    val vecs = emb.filter($"label" === some)
      .select($"embedding").collect().map(_.getSeq[Float](0).map(_.toDouble))
    assert(cents(some)._1 == vecs.length.toLong)
    val local = (0 until vecs.head.length).map(i => vecs.map(_(i)).sum / vecs.length)
    cents(some)._2.zip(local).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"$a vs $b") }
    // every quantile-sketch estimate honors its rank guarantee
    val notOk = graft.queries.ExtQueries.q116QuantileSketch(spark, sfDir)
      .filter(!$"est_ok").count()
    assert(notOk == 0L, s"$notOk sketch estimates broke the rank guarantee")
  }

  test("semantic dedup drops (almost) exactly the planted copies, keeper = original") {
    // planted copies sit at cosine ~0.998 to their original; background
    // pairs top out ~0.6 — so the dropped set must be planted copies
    // only, with the original as survivor. Cluster-local enumeration
    // may miss a copy whose argmax cell differs from its original's
    // (the SemDeDup recall trade) — bounded here, never inflated.
    val dropped = graft.queries.Extended.q117SemanticDedup(spark, sfDir).collect()
    assert(dropped.nonEmpty)
    dropped.foreach { r =>
      val (v, keeper) = (r.getLong(0), r.getLong(1))
      assert(v >= 100000L, s"dropped a non-copy vector $v")
      assert(keeper == v - 100000L, s"survivor for $v is $keeper, not its original")
      assert(r.getDouble(3) >= 0.99, "planted pair scored below its design cosine")
    }
    val planted = emb.filter($"vec_id" < 500 && $"vec_id" % 5 === 0).count()
    assert(dropped.length >= planted - math.max(2L, planted / 20),
      s"recall too low: ${dropped.length} of $planted planted copies caught")
  }

  test("BPE merge training: hand-checked merge sequence, consecutive + overlap semantics") {
    // corpus: "a b a b c" + "a b c d"
    //   round 1: (a,b) x3 -> "a_b a_b c" / "a_b c d"
    //   round 2: (a_b,c) x2 -> "a_b a_b_c" / "a_b_c d"
    //   round 3: tie at 1; (a_b, a_b_c) < (a_b_c, d) lexicographically
    val tiny = Seq((1L, "a b a b c"), (2L, "a b c d")).toDF("doc_id", "text")
    val m = graft.queries.ExtQueries.bpeMerges(tiny, 3)
      .orderBy($"rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m(0) == ((1, "a", "b", 3L)), s"round 1 was ${m(0)}")
    assert(m(1) == ((2, "a_b", "c", 2L)), s"round 2 was ${m(1)}")
    assert(m(2) == ((3, "a_b", "a_b_c", 1L)), s"round 3 was ${m(2)}")
    // tokens carrying quotes must not break the rewrite (lit-valued
    // merge columns, never spliced SQL), and a pair-less corpus must
    // return the merges found so far instead of NPEing
    val quoted = graft.queries.ExtQueries.bpeMerges(
      Seq((1L, "it's it's fine")).toDF("doc_id", "text"), 2)
      .orderBy($"rank").collect()
    assert(quoted.length == 2 && quoted(0).getString(1) == "it's")
    val solo = graft.queries.ExtQueries.bpeMerges(
      Seq((1L, "solo")).toDF("doc_id", "text"), 3)
    assert(solo.count() == 0L, "single-token corpus should learn zero merges")
    // overlap: 'a a a' merging (a,a) is greedy left-to-right -> a_a a
    val ov = graft.queries.ExtQueries.bpeMerges(
      Seq((1L, "a a a")).toDF("doc_id", "text"), 2)
      .orderBy($"rank").collect()
    assert(ov(0).getString(1) == "a" && ov(0).getString(2) == "a" &&
           ov(0).getLong(3) == 2L)
    // after greedy merge the corpus is "a_a a": the round-2 winner is
    // (a_a, a) x1 — proving the first merge consumed greedily
    assert(ov(1).getString(1) == "a_a" && ov(1).getString(2) == "a" &&
           ov(1).getLong(3) == 1L)
  }

  test("triangle counts: hand-checked graph, duplicates/direction/self-loops ignored") {
    import graft.ext.Graph
    // K4 on {1,2,3,4} (4 triangles, every node in 3) plus a pendant
    // node 5 (in none) — fed with duplicate edges, reversed direction,
    // and a self-loop, all of which must be ignored
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    val edges = (k4 ++ Seq((2L, 1L), (1L, 2L), (4L, 5L), (3L, 3L)))
      .toDF("a", "b")
    val got = Graph.triangleCounts(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), got.toString)
    // star + one chord: hub 0 connects to 1..5, chord (1,2) -> exactly
    // one triangle {0,1,2}; degree orientation must not double-count
    // through the hub
    val star = ((1L to 5L).map(i => (0L, i)) :+ (1L, 2L)).toDF("a", "b")
    val got2 = Graph.triangleCounts(star).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == Map(0L -> 1L, 1L -> 1L, 2L -> 1L), got2.toString)
  }

  test("contraction mapping: driver union-find equals the distributed CC tier, both cap sides") {
    import graft.ext.IncrementalCc
    // cliques, a path, a crossing component, and an isolated pair —
    // the shapes the CC equality suite uses
    val edges = Seq((5L, 3L), (3L, 1L), (9L, 8L), (2L, 7L), (7L, 1L),
      (10L, 11L), (11L, 12L), (12L, 10L)).toDF("la", "lb")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaDriver = asMap(IncrementalCc.contractionMapping(spark, edges))
    val viaDistributed = asMap(
      graft.ext.Dedup.contractiveComponents(edges, "la", "lb"))
    assert(viaDriver == viaDistributed,
      s"driver union-find diverged: $viaDriver vs $viaDistributed")
    assert(viaDriver == ExtSpec.starLabels(edges, "la", "lb"), "driver union-find diverged from starComponents")
    assert(viaDriver == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L, 7L -> 1L,
      8L -> 8L, 9L -> 8L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
    // over the cap the distributed tier must produce the same labels
    val viaCapped = asMap(IncrementalCc.contractionMapping(spark, edges, cap = 3))
    assert(viaCapped == viaDriver, "over-cap fallback diverged")
    // empty contraction: empty mapping, correct schema
    val empty = IncrementalCc.contractionMapping(spark, edges.filter(lit(false)))
    assert(empty.isEmpty && empty.columns.toSeq == Seq("old_lbl", "new_lbl"))
  }

  test("audio features: hand-checked energy/crossings/peak; undecodable payloads drop") {
    import graft.ext.Multimodal
    import Multimodal.MediaRecord
    implicit val s = spark
    // signal [3, -2, 0, -1]: sum_sq = 9+4+0+1 = 14; crossings at
    // 3->-2 and -2->0 and 0->-1 (sign(0) is non-negative) = 3; peak 3
    val media = Seq(
      MediaRecord(1L, "audio", Multimodal.encodeWavPcm(8000,
        Array[Short](3, -2, 0, -1))),
      MediaRecord(2L, "audio", "not audio".getBytes("US-ASCII"))).toDS()
    val out = Multimodal.audioFeatures(media).collect()
    assert(out.length == 1, "undecodable payload must drop, not fake features")
    val f = out.head
    assert(f.doc_id == 1L && f.sample_rate == 8000L && f.n_samples == 4L)
    assert(f.sum_sq == 14L, s"sum_sq ${f.sum_sq}")
    assert(f.zero_crossings == 3L, s"zc ${f.zero_crossings}")
    assert(f.peak == 3L, s"peak ${f.peak}")
  }

  test("BPE apply reproduces the training rewrite: order, greed, consecutive merges") {
    // applying the trained merges must yield the exact corpus the
    // training loop would have produced — rank order matters (merge 2
    // consumes merge 1's output), greed matters ('a a a' -> 'a_a a'),
    // consecutive occurrences all merge
    val corpus = Seq((1L, "a b a b c"), (2L, "a b c d"), (3L, "a a a"))
      .toDF("doc_id", "text")
    val applied = graft.queries.ExtQueries.bpeApply(
        corpus, Seq(("a", "b"), ("a_b", "c")))
      .orderBy($"doc_id").select($"text").as[String].collect()
    assert(applied(0) == "a_b a_b_c", s"doc 1 was '${applied(0)}'")
    assert(applied(1) == "a_b_c d", s"doc 2 was '${applied(1)}'")
    assert(applied(2) == "a a a", s"doc 3 untouched, was '${applied(2)}'")
    val greedy = graft.queries.ExtQueries.bpeApply(
        corpus.filter($"doc_id" === 3), Seq(("a", "a")))
      .select($"text").as[String].head()
    assert(greedy == "a_a a", s"greedy overlap was '$greedy'")
    // non-text columns ride through untouched
    val withExtra = graft.queries.ExtQueries.bpeApply(
      corpus.withColumn("n", org.apache.spark.sql.functions.length($"text")),
      Seq(("a", "b")))
    assert(withExtra.columns.toSet == Set("doc_id", "text", "n"))
  }

  test("leakage-safe split: planted cross-split duplicate still lands in ONE split") {
    // two ids sharing one text: an id-keyed 80/10/10 split could send
    // them to different splits; the content-hash split cannot
    val planted = Seq(
      (1L, "identical body"), (2L, "identical body"),
      (3L, "another body"), (4L, "third body x"), (5L, "fourth body y"))
      .toDF("doc_id", "text")
    val outs = graft.queries.ExtQueries.q121LeakageSafeSplit(spark, sfDir).collect()
    assert(outs.nonEmpty && outs.forall(_.getAs[Boolean]("leakage_free")))
    // and directly on the planted frame via the same split expression
    val viaCorpus = planted
      .withColumn("b", pmod(conv(substring(md5($"text".cast("binary")), 1, 7), 16, 10)
        .cast("long"), lit(100L)))
      .withColumn("split",
        when($"b" < 80, "train").when($"b" < 90, "val").otherwise("test"))
      .groupBy($"text").agg(countDistinct($"split").as("n"))
      .agg(max($"n")).first().getLong(0)
    assert(viaCorpus == 1L, "a content hash spanned two splits")
  }

  test("salted join returns exactly the plain join's rows; chunker covers every token") {
    import graft.ops.Skew
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .select($"event_type", $"event_id")
    val dim = ev.groupBy($"event_type").agg(min($"event_id").as("fe"))
    val plain = ev.join(dim, "event_type")
    val salted = Skew.saltedJoin(ev, dim, "event_type", salt = 8)
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
    // chunker tail invariant: the last chunk ends exactly at the last
    // token (max_chunk_id * stride + last_chunk_tokens == n_tokens)
    val bad = graft.queries.ExtQueries.q125ChunkOverlap(spark, sfDir)
      .groupBy($"doc_id")
      .agg(max($"chunk_id").as("k"),
           max(struct($"chunk_id", $"chunk_tokens")).as("last"))
      .join(docs.select($"doc_id",
        size(split($"text", " ")).cast("long").as("n")), "doc_id")
      .filter($"k" * graft.queries.ExtQueries.ChunkS +
              $"last.chunk_tokens" =!= $"n")
      .count()
    assert(bad == 0L, s"$bad docs have a chunk layout not ending at the last token")
  }

  test("FK audit counts exactly the injected orphans") {
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val child = Seq(1L, 1L, 2L, 99L, 98L).toDF("ck") // two orphans
    val row = graft.queries.ExtQueries.fkAudit("t", child, "ck", parent, "pk").first()
    assert(row.getLong(1) == 3L && row.getLong(2) == 5L && row.getLong(3) == 2L,
      s"audit row was $row")
  }

  test("hot bucket at 100x median frequency: stop-bucket cap bounds candidate volume in all three LSH tiers") {
    // Synthesized corpora are uniform, so the banded equi-joins never
    // see skew at gate scale — this plants ONE degenerate bucket at
    // 100x the median bucket size in each tier and asserts the
    // capBuckets guard keeps candidate volume at the background level
    // while the uncapped join blows up quadratically (the property the
    // guard exists for at 100 TB).

    // -- MinHash LSH band tier: 200 background buckets of 2 docs, one
    //    hot band value shared by 200 docs (100x the median size 2)
    val background = spark.range(400).select(
      $"id".as("doc_id"), lit(0).as("band"), ($"id" / 2).cast("long").as("k0"))
    val hot = spark.range(1000, 1200).select(
      $"id".as("doc_id"), lit(0).as("band"), lit(-1L).as("k0"))
    val bands = background.unionByName(hot)
    val uncapped = Dedup.lshCandidates(bands).count()
    val capped = Dedup.lshCandidates(bands, maxBucket = 20).count()
    assert(uncapped == 200L + 199L * 200L / 2,
      s"uncapped volume $uncapped != hot-bucket quadratic prediction")
    assert(capped == 200L, s"capped volume $capped != background pair count")

    // -- SimHash pigeonhole tier: 200 identical signatures (a hot
    //    (nib, nv) bucket in every block) on top of 200 spread ones.
    //    0x001001001001 replicates id into all four 12-bit blocks, so
    //    spread docs collide with nothing (every block value distinct)
    val spread = spark.range(1, 200).select($"id".as("doc_id"),
      ($"id" * 0x001001001001L).as("simhash"))
    val dupSigs = spark.range(2000, 2200).select(
      $"id".as("doc_id"), lit(0xABCDEFL).as("simhash"))
    val sigs = spread.unionByName(dupSigs)
    val unPairs = Dedup.simhashNearPairs(sigs, maxHamming = 3).count()
    val capPairs = Dedup.simhashNearPairs(sigs, maxHamming = 3, maxBucket = 20).count()
    assert(unPairs == 199L * 200L / 2, s"uncapped simhash pairs $unPairs != hot-bucket prediction")
    assert(capPairs == 0L, s"capped simhash pairs $capPairs still include the degenerate bucket")

    // -- sign-LSH embedding tier: background buckets of 2 identical
    //    vectors; one (t, bk) bucket holding 200 copies of the same
    //    embedding (the "dense region / zero vector" degeneracy)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
      StructField("t", IntegerType), StructField("bk", LongType)))
    val bg = (0L until 400L).map(i =>
      Row(i, Seq(1.0f, (i / 2).toFloat), 0, i / 2))
    val dense = (5000L until 5200L).map(i => Row(i, Seq(0.5f, 0.5f), 0, -1L))
    val index = spark.createDataFrame(
      spark.sparkContext.parallelize(bg ++ dense, 4), schema)
    val unEmb = Similarity.nearDupFromIndex(index, threshold = 0.99).count()
    val capEmb = Similarity.nearDupFromIndex(index, threshold = 0.99, maxBucket = 20).count()
    assert(unEmb == 200L + 199L * 200L / 2, s"uncapped embedding pairs $unEmb")
    assert(capEmb == 200L, s"capped embedding pairs $capEmb != background pair count")
  }

  test("PII redaction removes every email/IPv4/phone it counted") {
    val out = graft.queries.ExtQueries.q114PiiRedact(spark, sfDir).cache()
    try {
      val n = out.count()
      assert(n == spark.read.parquet(s"$sfDir/customer.parquet").count())
      // every synthesized contact row carries exactly one of each PII kind
      val counts = out.agg(min($"n_email"), max($"n_email"), min($"n_ip"),
        max($"n_ip"), min($"n_phone"), max($"n_phone")).first()
      (0 until 6).foreach(i => assert(counts.getLong(i) == 1L, s"field $i"))
      // and the redacted text contains placeholders, never residual PII
      val bad = out.filter(
        !$"redacted".contains("<EMAIL>") || !$"redacted".contains("<IP>") ||
        !$"redacted".contains("<PHONE>") ||
        $"redacted".rlike("[a-z0-9]+@[a-z]+\\.[a-z]+") ||
        $"redacted".rlike("\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}") ||
        $"redacted".rlike("\\d{3}-\\d{4}")).count()
      assert(bad == 0L, s"$bad rows kept un-redacted PII")
    } finally out.unpersist()
  }
}

object ExtSpec {
  import org.apache.spark.sql.DataFrame

  /** The connected-components kernel's two independent references over
    * an undirected edge frame: the large-star/small-star tier alone...
    */
  def starLabels(edges: DataFrame, a: String = "id_a", b: String = "id_b"): Map[Long, Long] = {
    val sym = edges.select(col(a).as("src"), col(b).as("dst"))
      .unionByName(edges.select(col(b).as("src"), col(a).as("dst")))
    asMap(Dedup.starComponents(sym))
  }

  /** ...and IncrementalCc's driver union-find (under its size cap). */
  def unionFindLabels(edges: DataFrame, a: String = "id_a", b: String = "id_b"): Map[Long, Long] =
    asMap(graft.ext.IncrementalCc.contractionMapping(edges.sparkSession,
      edges.select(col(a).as("la"), col(b).as("lb"))))

  private def asMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
}
