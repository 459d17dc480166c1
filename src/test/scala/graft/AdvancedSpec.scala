package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

/** Locks for the advanced-tier gates: the data assumptions q204's
  * witness column leans on, q206's one-scan banding, q207's index-side
  * plan shape, and the fixpoint semantics of the convergence-promoted
  * graph queries (q208 on hand substrates, q209's k-core peel).
  */
class AdvancedSpec extends SparkSpec {
  import spark.implicits._

  private def executed(df: DataFrame): String = {
    df.collect()
    df.queryExecution.explainString(FormattedMode)
  }

  test("q204 data assumptions: tracked capacity covers all buckets, no tie spans rank 20") {
    // tracked_ok == the oracle's constant TRUE requires (a) every
    // distinct floor(value) bucket fits in maxItemsTracked=4096 (then
    // the sketch's counts are exact), and (b) at most 20 items count
    // at-or-above the exact rank-10 count (then no exact-top-10 item
    // can be pushed off the sketch's 20-entry list by tie ordering).
    val items = graft.core.Tables.events(spark, sfDir)
      .filter(col("value").isNotNull)
      .select(floor(col("value")).cast("long").cast("string").as("item"))
    val counts = items.groupBy(col("item")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("item").asc).collect()
    assert(counts.length <= 4096,
      s"${counts.length} distinct buckets exceed approx_top_k's tracked capacity")
    val rank10 = counts(math.min(9, counts.length - 1)).getLong(1)
    val atOrAbove = counts.count(_.getLong(1) >= rank10)
    assert(atOrAbove <= 20,
      s"$atOrAbove items tie at-or-above the rank-10 count — the top-20 list could drop one")
  }

  test("q206 bands both self-join sides from one cached session frame") {
    val p = executed(SparkEntry.queries("q206_interval_overlap_join")(spark, sfDir))
    val inMem = "InMemoryTableScan".r.findAllIn(p).size
    assert(inMem >= 3,
      s"expected >=3 cached session-frame reads (band side a, band side b, final join), saw $inMem")
    spark.catalog.clearCache()
  }

  test("q207 index tables are hash-agg over broadcast metadata — no cartesian, no corpus sort") {
    val p = executed(SparkEntry.queries("q207_ivf_pq")(spark, sfDir))
    assert(!p.contains("CartesianProduct"), "corpus-side cartesian product")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "centroid/codebook/probe frames are not broadcast")
    assert(p.contains("HashAggregate"), "packed-long argmin lost its hash aggregate")
    // corpus-side encode/assign must never sort; the only Sorts belong
    // to the |Q|-bounded probe and final rankings (partitioned by qid)
    assert(!p.contains("Sort [vid"), "PQ encode path sorts the corpus")
    assert(!p.contains("Sort [cid"), "IVF assign path sorts the corpus")
  }

  test("q206 hot-band guard: salted flash-crowd band matches the unsalted result exactly") {
    // 60 users all overlapping one hour (one band far over a threshold
    // of 16) plus a calm disjoint tail — the hot path must fire AND
    // produce the identical pair set the cold path produces.
    val crowd = (1L to 60L).map(u => (u, u * 1000000L, 100000L + u, 3600000000L - u))
    val calm = (61L to 80L).map(u =>
      (u, u * 1000000L, u * 50L * 3600000000L, u * 50L * 3600000000L + 1000L))
    val sess = (crowd ++ calm).toDF("user_id", "sid", "st", "en")
    def run(threshold: Long) = graft.queries.AdvancedQueries
      .bandedOverlapCounts(sess, bandUs = 3600000000L, hotThreshold = threshold, S = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val salted = run(threshold = 16)    // crowd band is hot -> salted path
    val plain = run(threshold = 1000000) // nothing hot -> plain path
    assert(salted == plain, "salted hot-band result diverges from plain join")
    assert(salted((1L * 1000000L)) == 59L, "crowd member should overlap the 59 others")
    assert(salted((61L * 1000000L)) == 0L, "calm session should overlap nobody")
    sess.unpersist()
    spark.catalog.clearCache()
  }

  test("q210 residual IVF-PQ keeps the q207 index shape — no cartesian, no corpus sort") {
    val p = executed(SparkEntry.queries("q210_ivf_pq_residual")(spark, sfDir))
    assert(!p.contains("CartesianProduct"), "corpus-side cartesian product")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "centroid/codebook/ADC frames are not broadcast")
    assert(p.contains("HashAggregate"), "packed-long argmin lost its hash aggregate")
    assert(!p.contains("Sort [vid"), "residual encode path sorts the corpus")
    assert(!p.contains("Sort [cid"), "IVF assign path sorts the corpus")
  }

  /** q208 over a hand-written substrate: each order's (part, brand)
    * lines, written as the lineitem and part tables it reads.
    */
  private def q208On(orders: Seq[(Long, Seq[(Long, String)])]): Map[Long, Long] = {
    val dir = java.nio.file.Files.createTempDirectory("graft_q208_").toString
    orders.flatMap { case (o, lines) => lines.map { case (p, _) => (o, p) } }
      .toDF("l_orderkey", "l_partkey").write.parquet(s"$dir/lineitem.parquet")
    orders.flatMap(_._2).distinct.toDF("p_partkey", "p_brand")
      .write.parquet(s"$dir/part.parquet")
    SparkEntry.queries("q208_label_prop_fixpoint")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("label propagation converges past any bounded prefix on a hand chain graph") {
    // path 1-2-...-10 (order i buys parts i and i+1): the min label
    // needs 9 propagation rounds to reach the far end, and each
    // contraction round shortens a path by one edge, so the kernel's
    // 4-round budget escalates to the star tier — q208 must still label
    // every part 1
    val out = q208On((1L to 9L).map(i => i -> Seq(i -> "B1", (i + 1) -> "B1")))
    assert(out == (1L to 10L).map(_ -> 1L).toMap, s"fixpoint labels wrong: $out")
  }

  test("q208 labels bridged cliques, pairs and edgeless parts with their component min") {
    // two 4-part same-brand orders (cliques) bridged through part 7, a
    // pair of another brand, a part bought alone, and a part co-bought
    // with clique A but of another brand (no same-brand edge): both of
    // the last two are edgeless and label themselves
    val cliqueA = (1L to 4L).map(_ -> "B1") :+ (30L -> "B4")
    val cliqueB = (10L to 13L).map(_ -> "B1")
    val out = q208On(Seq(
      100L -> cliqueA, 101L -> cliqueB,
      102L -> Seq(4L -> "B1", 7L -> "B1"), 103L -> Seq(7L -> "B1", 10L -> "B1"),
      104L -> Seq(20L -> "B3", 21L -> "B3"),
      105L -> Seq(99L -> "B1")))
    val bridged = ((1L to 4L) ++ Seq(7L) ++ (10L to 13L)).map(_ -> 1L)
    assert(out == (bridged ++ Seq(20L -> 20L, 21L -> 20L, 30L -> 30L, 99L -> 99L)).toMap,
      s"q208 labels wrong: $out")
  }

  test("k-core peeling: early-exit stability, full peel, and cap prefix on hand graphs") {
    // chain of 6 at k=2 peels endpoint pairs round by round to empty
    val chain = (1L to 5L).flatMap(i => Seq((i, i + 1), (i + 1, i))).toDF("src", "dst")
    assert(graft.ext.Graph.kCorePeel(chain, k = 2, maxRounds = 12).count() == 0L,
      "chain should peel to empty at k=2")
    // a 4-cycle at k=2 is already stable: nothing may drop
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    assert(graft.ext.Graph.kCorePeel(cyc, k = 2, maxRounds = 12).count() == 8L,
      "stable cycle must survive unchanged")
    // capped run stops at the same prefix a fixed-round replay would
    val after1 = graft.ext.Graph.kCorePeel(chain, k = 2, maxRounds = 1).count()
    assert(after1 == 6L, s"one peel round of the 6-chain should leave 6 directed edges, saw $after1")
  }

  test("PqEncodeCodes: packed argmin semantics pinned — snap, tie-break, fold order") {
    import graft.functions.PqEncodeCodes
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    // 1 subspace, dim 2, 3 centroids; vector equidistant from cents 1
    // and 2 -> the (dist, idx) tie-break must pick the LOWER index
    val cb = Array[Float](
      0f, 0f,   // cent 0: dist = 2.0
      2f, 0f,   // cent 1: dist = 2.0  (tie with cent 2)
      0f, 2f)   // cent 2: dist = 2.0 - same distance, higher idx
    val emb = new GenericArrayData(Array[Float](1f, 1f))
    val codes = PqEncodeCodes.computeCodes(emb, cb, nSub = 1, subDim = 2, nCents = 3)
    assert(codes.toLongArray().toSeq === Seq(0L), "equidistant tie must go to the lowest index")
    // strictly nearer centroid wins regardless of position
    val cb2 = Array[Float](5f, 5f, 1.25f, 0.75f, 0f, 0f)
    val codes2 = PqEncodeCodes.computeCodes(emb, cb2, 1, 2, 3)
    assert(codes2.toLongArray().toSeq === Seq(1L))
    // snap semantics == the replaced column chain's round(round(d,6)*1e6,0):
    // a distance differing only past the 6th decimal must TIE (same
    // snapped micros), and the tie then resolves by index
    val eps = 1e-9f
    val cb3 = Array[Float](2f + eps, 0f, 2f, 0f)
    val codes3 = PqEncodeCodes.computeCodes(emb, cb3, 1, 2, 2)
    assert(codes3.toLongArray().toSeq === Seq(0L),
      "sub-micro distance difference must snap equal and resolve by index")
    // multi-subspace: codes are per-subspace independent argmins
    val cb4 = Array[Float](
      0f, 0f, 9f, 9f,   // cent 0: best in subspace 0
      9f, 9f, 0f, 0f)   // cent 1: best in subspace 1
    val emb4 = new GenericArrayData(Array[Float](0.1f, 0.1f, 0.2f, 0.2f))
    val codes4 = PqEncodeCodes.computeCodes(emb4, cb4, nSub = 2, subDim = 2, nCents = 2)
    assert(codes4.toLongArray().toSeq === Seq(0L, 1L))
  }

  test("PqEncodeCodes corners pinned: NULL embedding -> NULL codes (posexplode drops); short embedding fails fast") {
    import org.apache.spark.sql.functions._
    // 2 cents x (1 subspace x 2 dims)
    val cb = Array[Float](0f, 0f, 1f, 1f)
    def codesCol = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.PqEncodeCodes(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("embedding")),
        cb, nSub = 1, subDim = 2, nCents = 2))
    val df = Seq(
      (1L, Some(Seq(0.9f, 0.9f))),
      (2L, None: Option[Seq[Float]])
    ).toDF("vec_id", "embedding")
    // expression level: NULL in -> NULL array out (never a fabricated code)
    val byId = df.select(col("vec_id"), codesCol.as("codes")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
    assert(byId(1L) === Seq(1L), "non-null vector must encode normally beside a NULL row")
    assert(byId(2L) == null, "NULL embedding must carry a NULL code array")
    // q205-path shape: posexplode DROPS the NULL row — the documented
    // (and deliberate) caller behavior, pinned so it can't change silently
    val exploded = df.select(col("vec_id"), posexplode(codesCol)).collect().map(_.getLong(0))
    assert(exploded.toSeq === Seq(1L), "posexplode must drop the NULL-embedding row only")
    // a SHORT embedding is corrupt input: loud error naming the shape,
    // never an unsafe-buffer over-read or silent null distances
    val ex = intercept[Throwable] {
      Seq((3L, Seq(0.5f))).toDF("vec_id", "embedding").select(codesCol).collect()
    }
    val msgs = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null).take(8)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("PqEncodeCodes") && msgs.contains("need >="),
      s"short embedding must fail fast with the shape in the message, saw: $msgs")
  }

  test("pqEncode (native) == the replaced crossJoin + packed-min formulation, row for row") {
    import org.apache.spark.sql.functions._
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val cents = graft.queries.AdvancedQueries.pqCodebook(spark, emb)
    val native = graft.queries.AdvancedQueries.pqEncode(emb, cents)
    // the pre-round-13 formulation, inlined as the reference
    val m = lit(16L)
    val sub = (v: org.apache.spark.sql.Column, c: org.apache.spark.sql.Column,
               sCol: org.apache.spark.sql.Column) =>
      aggregate(
        zip_with(slice(v, (sCol - 1) * 8 + 1, lit(8)), slice(c, (sCol - 1) * 8 + 1, lit(8)),
          (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
        lit(0.0), (acc, x) => acc + x)
    val dist6i = round(round(sub(col("embedding"), col("ce"), col("s")), 6) * 1e6, 0).cast("long")
    val ref = emb.select(col("vec_id").as("vid"), col("embedding"))
      .crossJoin(broadcast(cents))
      .withColumn("packed", dist6i * m + col("cent_idx"))
      .groupBy(col("vid"), col("s")).agg(min(col("packed")).as("p"))
      .select(col("vid"), col("s"), pmod(col("p"), m).as("cent_idx"))
    assert(native.exceptAll(ref).isEmpty && ref.exceptAll(native).isEmpty,
      "native encoder must be row-identical to the replaced formulation")
  }
}
