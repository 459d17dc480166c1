package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Round-6 batch: attribution, frequent-items sketch, bounded label
  * propagation, and weighted sampling — each oracle-gated and shaped
  * for the 1000-executor case.
  */
object AdvancedQueries {

  // ---------------------------------------------------------------- q197
  /** LINEAR MULTI-TOUCH attribution: each purchase's value is credited
    * across the user's click/view touches in the trailing 24 h,
    * proportionally by touch-type share (the multi-touch complement of
    * q154's last-touch). The touch counts come from one RANGE-framed
    * window pass over the per-user timeline — never a purchases x
    * touches range join, which re-materializes the fan-out the frame
    * already bounds. One shuffle (by user), frame state is O(window
    * content), and the emitted credit is an exact IEEE quotient of
    * integer-valued terms (cents * n_t < 2^53), identical cross-engine.
    */
  def q197MultiTouchAttribution(s: SparkSession, d: String): DataFrame = {
    val dayUs = 86400000000L
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("value"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-dayUs, 0L)
    val counted = ev
      .withColumn("n_click", sum(when(col("event_type") === "click", 1L).otherwise(0L)).over(w))
      .withColumn("n_view",  sum(when(col("event_type") === "view",  1L).otherwise(0L)).over(w))
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .withColumn("n_touch", col("n_click") + col("n_view"))
      .filter(col("n_touch") > 0)
    counted
      .select(col("event_id"), col("user_id"), col("cents"), col("n_touch"),
        expr("stack(2, 'click', n_click, 'view', n_view) AS (touch_type, n_t)"))
      .filter(col("n_t") > 0)
      .select(col("event_id"), col("user_id"), col("touch_type"), col("n_t"),
        ((col("cents") * col("n_t")).cast("double") / col("n_touch")).as("credit"))
  }

  val q197Sql: String =
    """WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us, value FROM events),
      |c AS (SELECT event_id, user_id, event_type, value,
      |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) OVER w AS n_click,
      |    sum(CASE WHEN event_type = 'view'  THEN 1 ELSE 0 END) OVER w AS n_view
      |  FROM ev
      |  WINDOW w AS (PARTITION BY user_id ORDER BY us
      |    RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)),
      |p AS (SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT) AS cents,
      |    n_click, n_view, n_click + n_view AS n_touch
      |  FROM c WHERE event_type = 'purchase' AND value IS NOT NULL
      |    AND n_click + n_view > 0),
      |u AS (SELECT event_id, user_id, cents, n_touch, 'click' AS touch_type, n_click AS n_t FROM p
      |  UNION ALL
      |  SELECT event_id, user_id, cents, n_touch, 'view', n_view FROM p)
      |SELECT event_id, user_id, touch_type, CAST(n_t AS BIGINT) AS n_t,
      |  CAST(cents * n_t AS DOUBLE) / n_touch AS credit
      |FROM u WHERE n_t > 0""".stripMargin

  // ---------------------------------------------------------------- q198
  /** FREQUENT ITEMS via a Misra-Gries summary
    * ([[graft.functions.MisraGries]]) — deterministic heavy hitters
    * with a one-sided guarantee: every item with true count > n/k is
    * in the k-counter sketch. The sketch is a mergeable Aggregator
    * (map-side combine carries <= k counters per partition, never the
    * item stream), next to the randomized count-min estimates (q52/
    * q108) and the bounded top-k by value (q128).
    *
    * Witness discipline (SEMANTICS.md): the candidate SET beyond the
    * guarantee is merge-order-dependent, so the gate emits the
    * EXACT frequent items (count > n/64 from an exact aggregate) plus
    * the in-band boolean "item is in the sketch", which the guarantee
    * forces TRUE — a sketch that lost a guaranteed item fails the
    * hash. Items are floor(value) buckets — naturally skewed enough
    * that several buckets clear the n/64 bar on the synthetic data.
    */
  def q198FrequentItems(s: SparkSession, d: String): DataFrame = {
    val k = 64
    val items = Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(floor(col("value")).cast("long").cast("string").as("item"))
    val mg = udaf(graft.functions.MisraGries(k))
    val sketch = items.agg(mg(col("item")).as("cands")) // 1 row, <= k entries
    val totals = items.agg(count(lit(1)).as("n_total")) // 1 row
    items.groupBy(col("item")).agg(count(lit(1)).as("n_item"))
      .crossJoin(broadcast(totals))
      .filter(col("n_item") > col("n_total") / lit(k.toDouble))
      .crossJoin(broadcast(sketch))
      .select(col("item"), col("n_item"),
        array_contains(col("cands"), col("item")).as("in_sketch"))
  }

  val q198Sql: String =
    """WITH i AS (SELECT CAST(CAST(floor(value) AS BIGINT) AS VARCHAR) AS item
      |    FROM events WHERE value IS NOT NULL),
      |t AS (SELECT count(*) AS n_total FROM i)
      |SELECT item, CAST(count(*) AS BIGINT) AS n_item, TRUE AS in_sketch
      |FROM i, t GROUP BY item, n_total
      |HAVING count(*) > n_total / 64.0""".stripMargin

  // ---------------------------------------------------------------- q199
  /** BOUNDED LABEL PROPAGATION over the co-purchase graph: 3
    * synchronous min-label rounds (label := min(own, neighbors')) from
    * identity labels — the community-seeding primitive between a
    * single groupBy (no structure) and full connected components
    * (q71's log-diameter star escalation). Each round is one shuffle
    * join (edges x labels) plus a min-aggregate; 3 rounds means the
    * plan stays O(1) deep without lineage checkpoints. Fixed round
    * count is what makes the semantics SQL-expressible — the oracle
    * is the same 3 chained joins — and is the honest contract at
    * 100 TB: rounds, not convergence, bound the cost (full closure is
    * q71's job).
    */
  def q199LabelPropagation(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey").cast("long").as("p"))
      .distinct()
    val e = li.as("x").join(li.as("y"), "l_orderkey")
      .select(col("x.p").as("src"), col("y.p").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    var labels = li.select(col("p").as("vx")).distinct()
      .withColumn("lbl", col("vx"))
    for (_ <- 1 to 3) {
      val nbr = e.join(labels, e("src") === labels("vx"))
        .groupBy(col("dst")).agg(min(col("lbl")).as("nl"))
      labels = labels.join(nbr, labels("vx") === nbr("dst"), "left")
        .select(labels("vx"),
          least(col("lbl"), coalesce(col("nl"), col("lbl"))).as("lbl"))
    }
    labels.select(col("vx").as("part"), col("lbl").as("community"))
  }

  val q199Sql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey, CAST(l_partkey AS BIGINT) AS p FROM lineitem),
      |e AS (SELECT DISTINCT a.p AS src, b.p AS dst
      |  FROM li a JOIN li b USING (l_orderkey) WHERE a.p <> b.p),
      |v AS (SELECT DISTINCT p AS vx FROM li),
      |l0 AS (SELECT vx, vx AS lbl FROM v),
      |n1 AS (SELECT e.dst AS vx, min(x.lbl) AS nl FROM e JOIN l0 x ON e.src = x.vx GROUP BY e.dst),
      |l1 AS (SELECT l.vx, least(l.lbl, coalesce(n1.nl, l.lbl)) AS lbl FROM l0 l LEFT JOIN n1 USING (vx)),
      |n2 AS (SELECT e.dst AS vx, min(x.lbl) AS nl FROM e JOIN l1 x ON e.src = x.vx GROUP BY e.dst),
      |l2 AS (SELECT l.vx, least(l.lbl, coalesce(n2.nl, l.lbl)) AS lbl FROM l1 l LEFT JOIN n2 USING (vx)),
      |n3 AS (SELECT e.dst AS vx, min(x.lbl) AS nl FROM e JOIN l2 x ON e.src = x.vx GROUP BY e.dst),
      |l3 AS (SELECT l.vx, least(l.lbl, coalesce(n3.nl, l.lbl)) AS lbl FROM l2 l LEFT JOIN n3 USING (vx))
      |SELECT vx AS part, lbl AS community FROM l3""".stripMargin

  // ---------------------------------------------------------------- q200
  /** WEIGHTED SAMPLING WITHOUT REPLACEMENT (Efraimidis-Spirakis A-ES):
    * per language, the top-10 documents by priority u^(1/w), where w
    * is the document's char count and u is a deterministic md5-derived
    * uniform (the q121 hash-draw idiom: first 13 md5 hex digits / 2^52
    * — 52 bits, exact in double on both engines). A-ES turns weighted
    * sampling into a plain top-k: the priority is a per-row expression
    * (zero shuffles), and the selection runs through the bounded top-k
    * Aggregator (q128) — map-side combine carries <= 10 (priority, id)
    * pairs per partition per language, never the corpus, which is the
    * 100 TB path a row_number() window (full shuffle + sort of every
    * row) cannot take. Cross-engine pow() agrees far inside the
    * harness tolerance: adjacent priorities differ by >= ~1e-6 while
    * libm/JDK pow disagree at <= 1 ulp (~1e-16).
    */
  def q200WeightedSample(s: SparkSession, d: String): DataFrame = {
    val twoTo52 = 4503599627370496.0 // 16^13
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .filter(col("n_chars") > 0)
    val u = conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
      .cast("double") / lit(twoTo52)
    val scored = base.withColumn("priority",
      pow(u, lit(1.0) / col("n_chars").cast("double")))
    val topk = udaf(graft.functions.TopK(10))
    val top = scored.groupBy(col("lang"))
      .agg(topk(col("priority"), col("doc_id")).as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rk"),
        col("col._2").as("doc_id"))
    top.join(base.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .select(col("lang"), col("rk"), col("doc_id"), col("n_chars"))
  }

  val q200Sql: String =
    """WITH b AS (SELECT doc_id, lang, n_chars,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
      |      / 4503599627370496.0 AS u
      |  FROM documents WHERE n_chars > 0),
      |r AS (SELECT doc_id, lang, n_chars,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY pow(u, 1.0 / n_chars) DESC, doc_id) AS rk
      |  FROM b)
      |SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id, n_chars
      |FROM r WHERE rk <= 10""".stripMargin

  // ---------------------------------------------------------------- q201
  /** BOUNDED K-CORE PEELING (3 rounds, K=16) over the word-adjacency
    * graph (tokens that appear consecutively in a document): each
    * round drops vertices whose degree in the surviving subgraph is
    * < K, then restricts edges to survivors — the cohesion filter
    * between raw degree (one agg) and full k-core decomposition
    * (data-dependent round count). The word graph is the right
    * substrate: Zipfian degrees peel gently into a stable hub core,
    * where the near-regular co-purchase graph collapses all-or-nothing
    * under any interesting K. Each round is one degree aggregate + two
    * semi-join-shaped edge restrictions; 3 fixed rounds keeps the plan
    * O(1) deep and the semantics SQL-chainable (q199's fixed-round
    * contract). At 100 TB the same loop runs to fixpoint with lineage
    * checkpoints per round (q71's escalation discipline); bounded
    * rounds are the gate-able prefix of that loop. Output is
    * operational and engine-agnostic: post-round-3 edge-set degrees.
    */
  def q201KCorePeeling(s: SparkSession, d: String): DataFrame = {
    val K = 16
    val bg = Tables.documents(s, d)
      .select(split(col("text"), " ").as("ts"))
      .select(explode(expr(
        """zip_with(slice(ts, 1, greatest(size(ts) - 1, 0)),
          |         slice(ts, 2, greatest(size(ts) - 1, 0)),
          |         (x, y) -> struct(x AS a, y AS b))""".stripMargin)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("a") =!= col("b"))
    var e = bg.select(col("a").as("src"), col("b").as("dst"))
      .union(bg.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
    for (_ <- 1 to 3) {
      val alive = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= K).select(col("src").as("v"))
      e = e.join(alive.select(col("v").as("src")), "src")
           .join(alive.select(col("v").as("dst")), "dst")
           .select(col("src"), col("dst"))
    }
    e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("token"), col("deg"))
  }

  val q201Sql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |bg AS (SELECT unnest(list_transform(generate_series(1, len(ts) - 1),
      |    i -> [ts[i], ts[i+1]])) AS pr FROM t),
      |e0 AS (SELECT DISTINCT pr[1] AS src, pr[2] AS dst FROM bg WHERE pr[1] <> pr[2]
      |  UNION SELECT DISTINCT pr[2], pr[1] FROM bg WHERE pr[1] <> pr[2]),
      |a1 AS (SELECT src AS v FROM e0 GROUP BY src HAVING count(*) >= 16),
      |e1 AS (SELECT e.src, e.dst FROM e0 e JOIN a1 x ON e.src = x.v JOIN a1 y ON e.dst = y.v),
      |a2 AS (SELECT src AS v FROM e1 GROUP BY src HAVING count(*) >= 16),
      |e2 AS (SELECT e.src, e.dst FROM e1 e JOIN a2 x ON e.src = x.v JOIN a2 y ON e.dst = y.v),
      |a3 AS (SELECT src AS v FROM e2 GROUP BY src HAVING count(*) >= 16),
      |e3 AS (SELECT e.src, e.dst FROM e2 e JOIN a3 x ON e.src = x.v JOIN a3 y ON e.dst = y.v)
      |SELECT src AS token, CAST(count(*) AS BIGINT) AS deg
      |FROM e3 GROUP BY src""".stripMargin

  // ---------------------------------------------------------------- q203
  /** SPARSE RANDOM PROJECTION (Johnson-Lindenstrauss, Achlioptas +-1
    * signs): 64-dim embeddings down to 16 dims via p_j = sum_i s_ij *
    * v_i / sqrt(16), where the sign matrix s_ij is derived from md5
    * parity of "i_j" — deterministic, seedless, and recomputable by
    * ANY engine, which is what makes the projection itself (not just a
    * witness) the gate. The 16x64 sign matrix is computed once on the
    * driver (metadata scale — the broadcast-literal discipline of the
    * k-means centroids) and folded into per-row zip_with/aggregate
    * expressions: the projection is a single codegen'd map over the
    * scan, zero shuffles, zero joins. Long-format output (q115's
    * melt): the explode is over the 16 PROJECTED dims, never the input
    * fact.
    */
  val JlOutDims = 16
  val JlInDims = 64

  /** Same formula both engines: +1 if the first md5 hex digit of
    * "i_j" is even, else -1. */
  private def jlSign(i: Int, j: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"${i}_$j".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    if (Integer.parseInt(hex.substring(0, 1), 16) % 2 == 0) 1.0 else -1.0
  }

  def q203RandomProjection(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val projected = (1 to JlOutDims).map { j =>
      val signs = array((1 to JlInDims).map(i => lit(jlSign(i, j))): _*)
      (aggregate(zip_with(col("v"), signs, (x, sg) => x * sg),
        lit(0.0), (acc, x) => acc + x) / lit(4.0)).as(s"p_$j")
    }
    emb.select(col("vec_id") +: projected: _*)
      .select(col("vec_id"),
        posexplode(array((1 to JlOutDims).map(j => col(s"p_$j")): _*)))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("dim_j"),
        col("col").as("p"))
  }

  /** The fold is pinned ascending-i on BOTH engines: Spark's
    * aggregate() is a left fold, and the twin uses list_reduce (also a
    * left fold) over the per-row dim list — an unnest + hash-agg
    * sum() would accumulate in morsel order and could differ at the
    * last ulp, exactly at rounding boundaries. */
  val q203Sql: String =
    s"""SELECT vec_id, CAST(j AS BIGINT) AS dim_j,
       |  list_reduce(list_transform(generate_series(1, $JlInDims),
       |    i -> (CASE WHEN ('0x' || substr(md5(CAST(i AS VARCHAR) || '_' || CAST(j AS VARCHAR)), 1, 1))::INT % 2 = 0
       |          THEN 1.0 ELSE -1.0 END) * CAST(embedding[i] AS DOUBLE)),
       |    (x, y) -> x + y) / 4.0 AS p
       |FROM embeddings, unnest(generate_series(1, $JlOutDims)) t(j)""".stripMargin

  // ---------------------------------------------------------------- q204
  /** NATIVE approx_top_k (Spark 4.1's DataSketches frequent-items
    * aggregate) — completes the native sketch surface next to HLL
    * (q39), count-min (q52/q108), quantile (q116), and the custom MG
    * Aggregator (q198). Witness discipline: the sketch's top list is
    * engine-specific, so the gate ranks by the EXACT counts (count
    * DESC, item ASC — deterministic) and emits, per exact-top-10 item,
    * the in-band boolean that the sketch tracked it within a 1%-of-n
    * error bound. At the gate's cardinalities the sketch is exact; the
    * bound is the honest contract for open-vocabulary streams where
    * compaction kicks in.
    */
  def q204ApproxTopK(s: SparkSession, d: String): DataFrame = {
    val items = Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(floor(col("value")).cast("long").cast("string").as("item"))
    // maxItemsTracked widened to 4096 (default is 2*k=40): floor(value)
    // buckets on the shipped data number in the dozens, so every bucket
    // is tracked EXACTLY and tracked_ok can only diverge from the
    // oracle's constant TRUE if >20 items tie at-or-above the exact
    // rank-10 count — a data assumption AdvancedSpec pins explicitly.
    val est = items.agg(expr("approx_top_k(item, 20, 4096)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("item"), col("e.count").as("est"))
    val exact = items.groupBy(col("item")).agg(count(lit(1)).as("n_item"))
    val totals = items.agg(count(lit(1)).as("n_total"))
    // top-10 selection via orderBy+limit — plans as TakeOrderedAndProject
    // (per-partition top-10, merged on the driver), never a global sort
    // of all distinct items; the rank window then runs over the
    // 10-row result (bounded input — the q37 probe-set precedent)
    val top10 = exact.orderBy(col("n_item").desc, col("item").asc).limit(10)
    val w = Window.orderBy(col("n_item").desc, col("item").asc)
    top10
      .withColumn("rk", row_number().over(w).cast("long"))
      .join(est, Seq("item"), "left")
      .crossJoin(broadcast(totals))
      .select(col("item"), col("rk"), col("n_item"),
        (col("est").isNotNull &&
          abs(col("est") - col("n_item")) <= col("n_total") / lit(100.0)).as("tracked_ok"))
  }

  val q204Sql: String =
    """WITH i AS (SELECT CAST(CAST(floor(value) AS BIGINT) AS VARCHAR) AS item
      |    FROM events WHERE value IS NOT NULL),
      |x AS (SELECT item, count(*) AS n_item FROM i GROUP BY item),
      |r AS (SELECT item, n_item,
      |    row_number() OVER (ORDER BY n_item DESC, item) AS rk FROM x)
      |SELECT item, CAST(rk AS BIGINT) AS rk, CAST(n_item AS BIGINT) AS n_item,
      |  TRUE AS tracked_ok
      |FROM r WHERE rk <= 10""".stripMargin

  // ---------------------------------------------------------------- q205
  /** PRODUCT QUANTIZATION ANN (PQ-flat with asymmetric distance): the
    * 64-dim embedding splits into 8 subspaces of 8 dims; each subspace
    * has a 16-entry codebook, so a vector compresses to 8 code bytes
    * (64x smaller than float32); queries score candidates by ADC —
    * summing 8 precomputed query-to-centroid subdistances instead of
    * 64-dim float math. q37's determinism trick makes the ORACLE exact
    * rather than witness-weak: codebooks are data-derived (stride-25
    * vec_ids), so DuckDB recomputes encode + ADC + ranking bit-for-bit
    * (identical IEEE op order: ascending-i fold per subspace, round-6 +
    * id tie-break at every argmin/rank — the q37 discipline).
    *
    * Scale shape: encoding is one crossJoin against a BROADCAST
    * 128-row codebook + packed-long argmin inside HashAggregate (the
    * q37 pack — no sort, no window over the corpus); ADC joins the
    * 8-row-per-vector code table against a broadcast query-distance
    * table on (subspace, code) — shuffle-free compute, ONE shuffle for
    * the per-(query, candidate) sum. At 100 TB, PQ composes with the
    * IVF cells (q37/q75): probe only in-cell codes (IVF-PQ) — the gate
    * pins the PQ half of that pipeline.
    */
  val PqSubspaces = 8
  val PqSubDim = 8
  val PqCents = 16

  // 8-dim subvector L2^2, ascending-i fold — DuckDB list_reduce twin
  // runs the identical op order, so the doubles agree bit-for-bit
  private def pqSubDist(v: org.apache.spark.sql.Column, c: org.apache.spark.sql.Column,
                        sCol: org.apache.spark.sql.Column) =
    aggregate(
      zip_with(slice(v, (sCol - 1) * PqSubDim + 1, lit(PqSubDim)),
               slice(c, (sCol - 1) * PqSubDim + 1, lit(PqSubDim)),
        (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, x) => acc + x)

  /** PQ codebook frame: (cent_idx, ce) x subspace s — 128 rows of
    * broadcast metadata, data-derived (stride-25 vec_ids) so ANY
    * engine recomputes it exactly. Shared with the incremental PQ
    * index gate (q211, StreamingQueries). */
  private[graft] def pqCodebook(s: SparkSession, emb: DataFrame): DataFrame = {
    val subs = s.range(1, PqSubspaces + 1).select(col("id").cast("int").as("s"))
    emb.filter(col("vec_id") % 25 === 0 && col("vec_id") < (25 * PqCents))
      .select(expr("vec_id div 25").as("cent_idx"), col("embedding").as("ce"))
      .crossJoin(subs)
  }

  /** Corpus PQ codes (vid, s, cent_idx): argmin per subspace via the
    * native codegen encoder [[graft.functions.PqEncodeCodes]] against
    * the plan-embedded codebook — one row per vector in, nSub codes
    * out, no join, no aggregate, no shuffle (round 13; the previous
    * broadcast-crossJoin + packed-min HashAggregate materialized
    * nCents x nSub = 128 lambda-evaluated rows per vector and was the
    * scale probe's dominant cost at sf10). The codebook is index
    * METADATA (PqCents x dim floats = 4 KB), collected once per call —
    * at 100 TB it is trained once and versioned with the index, so
    * baking it into the plan is the production shape, not a shortcut.
    * Distance accumulation order, the round-6 snap, and the
    * (distance, idx) tie-break are replicated bit-exactly (scaladoc of
    * the expression); every consumer gate (q205/q207/q210/q211) stays
    * on its unchanged one-shot oracle.
    */
  private[graft] def pqEncode(emb: DataFrame, cents: DataFrame): DataFrame = {
    val cb: Array[Float] = cents.select(col("cent_idx"), col("ce")).distinct()
      .collect()
      .sortBy(_.getLong(0))
      .flatMap(_.getSeq[Float](1))
    require(cb.length == PqCents * PqSubspaces * PqSubDim,
      s"codebook resolved ${cb.length} floats, expected full ${PqCents}x${PqSubspaces * PqSubDim}")
    val codes = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.PqEncodeCodes(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("embedding")),
        cb, PqSubspaces, PqSubDim, PqCents))
    emb.select(col("vec_id").as("vid"), posexplode(codes))
      .select(col("vid"), (col("pos") + 1).cast("int").as("s"),
              col("col").as("cent_idx"))
  }

  /** ADC lookup table (qid, s, cent_idx, qd6i): |Q| x 8 x 16 rows —
    * broadcast metadata. The per-subspace distance is snapped to
    * INTEGER micros before any summation: accumulation order is
    * shuffle-dependent (and DuckDB's hash-agg order is its own), so a
    * double sum would break the exact-oracle contract exactly at
    * rounding boundaries; integer addition is order-free everywhere. */
  private def pqQueryDists(emb: DataFrame, cents: DataFrame): DataFrame =
    emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .crossJoin(broadcast(cents))
      .withColumn("qd6i",
        round(round(pqSubDist(col("qe"), col("ce"), col("s")), 6) * 1e6, 0).cast("long"))
      .select(col("qid"), col("s"), col("cent_idx"), col("qd6i"))

  def q205ProductQuantization(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cents = pqCodebook(s, emb)
    val codes = pqEncode(emb, cents)
    val qd = pqQueryDists(emb, cents)
    val w = Window.partitionBy(col("qid")).orderBy(col("adist6").asc, col("cid").asc)
    codes.join(broadcast(qd), Seq("s", "cent_idx"))
      .filter(col("vid") =!= col("qid"))
      .groupBy(col("qid"), col("vid"))
      .agg(sum(col("qd6i")).as("a6i"))
      .withColumn("adist6", col("a6i") / lit(1e6))
      .select(col("qid"), col("vid").as("cid"), col("adist6"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("rank"), col("cid"), col("adist6"))
  }

  val q205Sql: String =
    s"""WITH sub AS (SELECT unnest(generate_series(1, $PqSubspaces)) AS s),
       |cents AS (SELECT CAST(vec_id // 25 AS BIGINT) AS cent_idx, embedding AS ce
       |  FROM embeddings WHERE vec_id % 25 = 0 AND vec_id < ${25 * PqCents}),
       |encd AS (SELECT e.vec_id AS vid, sub.s, c.cent_idx,
       |    list_reduce(list_transform(generate_series(1, $PqSubDim),
       |      i -> (CAST(e.embedding[(sub.s - 1) * $PqSubDim + i] AS DOUBLE)
       |            - CAST(c.ce[(sub.s - 1) * $PqSubDim + i] AS DOUBLE))
       |         * (CAST(e.embedding[(sub.s - 1) * $PqSubDim + i] AS DOUBLE)
       |            - CAST(c.ce[(sub.s - 1) * $PqSubDim + i] AS DOUBLE))),
       |      (x, y) -> x + y) AS dist
       |  FROM embeddings e, sub, cents c),
       |enc AS (SELECT vid, s, cent_idx FROM (
       |    SELECT vid, s, cent_idx,
       |      row_number() OVER (PARTITION BY vid, s ORDER BY round(dist, 6), cent_idx) AS rn
       |    FROM encd) WHERE rn = 1),
       |qd AS (SELECT e.vec_id AS qid, sub.s, c.cent_idx,
       |    CAST(round(round(list_reduce(list_transform(generate_series(1, $PqSubDim),
       |      i -> (CAST(e.embedding[(sub.s - 1) * $PqSubDim + i] AS DOUBLE)
       |            - CAST(c.ce[(sub.s - 1) * $PqSubDim + i] AS DOUBLE))
       |         * (CAST(e.embedding[(sub.s - 1) * $PqSubDim + i] AS DOUBLE)
       |            - CAST(c.ce[(sub.s - 1) * $PqSubDim + i] AS DOUBLE))),
       |      (x, y) -> x + y), 6) * 1e6) AS BIGINT) AS qd6i
       |  FROM embeddings e, sub, cents c WHERE e.vec_id < 20),
       |adc AS (SELECT qd.qid, enc.vid, CAST(sum(qd.qd6i) AS BIGINT) AS a6i
       |  FROM enc JOIN qd ON enc.s = qd.s AND enc.cent_idx = qd.cent_idx
       |  WHERE enc.vid <> qd.qid GROUP BY qd.qid, enc.vid)
       |SELECT qid, CAST(rk AS BIGINT) AS rank, vid AS cid, a6i / 1e6 AS adist6
       |FROM (SELECT qid, vid, a6i,
       |    row_number() OVER (PARTITION BY qid ORDER BY a6i, vid) AS rk
       |  FROM adc)
       |WHERE rk <= 3""".stripMargin

  // ---------------------------------------------------------------- q206
  /** INTERVAL-OVERLAP JOIN (intervals x intervals — the shape point-
    * in-range as-of joins (q36/q60) and grid epsilon joins (q156)
    * don't cover): per-user activity sessions (4h-gap islands) joined
    * against every OTHER user's overlapping session, emitted as a
    * per-session concurrency count. The scale path is TEMPORAL
    * BANDING: each interval explodes to the 6h bands it spans
    * (span-bounded — sessions are gap-bounded, so bands-per-interval
    * is small), the join runs as a band EQUI-join, and each
    * overlapping pair is counted exactly once by pinning it to the
    * band of the later interval start (floor(max(st1,st2)/B) lies in
    * both intervals' band ranges whenever they overlap). A plain
    * interval theta join is quadratic-per-time-region; banding makes
    * the work proportional to sum of per-band concurrency^2 — the
    * calendar/genomics interval-join discipline. Band arithmetic uses
    * integral div (epoch-micros magnitudes exceed 2^53 — the q134
    * lesson).
    */
  def q206IntervalOverlapJoin(s: SparkSession, d: String): DataFrame = {
    val gapUs = 4L * 3600000000L
    // 1h bands, not 6h: candidate volume is sum of per-band
    // concurrency^2, and on burst-heavy data narrower bands cut the
    // quadratic term faster than they grow the linear band-row term
    // (measured at sf1: 5.2e9 candidates at 6h vs 2.3e9 at 1h; below
    // 1h the band-row growth wins and volume rises again). The band
    // width is internal — the pair-once pinning argument holds for
    // any width.
    val bandUs = 3600000000L
    val ev = Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
    val wLag = Window.partitionBy(col("user_id")).orderBy(col("us"))
    // Materialized ONCE: the session frame feeds BOTH self-join sides
    // and the final left join — unpersisted, the events scan + per-user
    // window ran three times (the round-6 verdict's measured hot spot:
    // it doubles the heaviest phase of the repo's most expensive sf1
    // query). persist() over localCheckpoint because Bench/Verify's
    // spark.catalog.clearCache() reclaims CacheManager entries between
    // runs; checkpoint blocks it cannot see would accumulate across a
    // min-of-3. The band explode is recomputed from the cached frame —
    // it is a per-row map, not worth caching at 8x the row count.
    val sess = ev
      .withColumn("brk",
        when(col("us") - lag(col("us"), 1).over(wLag) > gapUs, 1L).otherwise(0L))
      .withColumn("isl", sum(col("brk")).over(
        wLag.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("isl"))
      .agg(min(col("us")).as("st"), max(col("us")).as("en"))
      .withColumn("sid", col("user_id") * lit(1000000L) + col("isl"))
      .persist()
    // EAGER fill pins the join strategy: lazily-filled, the cached
    // session frame's size estimate depends on WHICH AQE stage
    // materializes it first (the hot-band aggregate racing the join's
    // own shuffle stages), and the band join flipped bimodally between
    // a statically-planned broadcast (3.0 MB shuffle) and a shuffled
    // join (22.6 MB) run-to-run — the round-10 unadjudicated volume
    // flag, reproduced solo 3x (22.57/3.01/22.57). Materializing first
    // means planning always sees ACTUAL cached stats: consistently
    // broadcast at gate scale, consistently shuffled at 100 TB where
    // the session frame is large — per-scale deterministic either way.
    sess.count()
    bandedOverlapCounts(sess, bandUs, hotThreshold = 4096L, S = 8)
  }

  /** Banded interval-overlap concurrency counts over a session frame
    * (`user_id`, `sid`, `st`, `en` — epoch micros): per session, the
    * number of OTHER users' sessions overlapping it. Exposed so the
    * adaptive guard can be stress-tested on synthetic flash-crowd
    * frames (AdvancedSpec) at thresholds the shipped data never hits.
    *
    * ADAPTIVE hot-band guard: per-band join work is concurrency², and
    * a flash-crowd band otherwise lands in ONE task. But salting is
    * not free — the b side replicates S× through the shuffle — and an
    * UNCONDITIONAL salt taxes every band for a skew that usually
    * isn't there (measured at sf1, min-of-3: static 8-way salt 31.6 s,
    * unsalted 12.4 s, this adaptive form 5.4 s — the round-6 shape
    * with its triple recompute was 25.9 s). So the guard is
    * data-driven and declarative: bands whose row count exceeds
    * `hotThreshold` (>16M pair-candidates for one task at 4096) are
    * collected into a BROADCAST frame — bounded by total/threshold
    * rows, so always broadcastable — and ONLY rows in those bands
    * salt S ways (a side by sid hash, b side replicated to all S
    * salts). Cold bands keep salt = 0 on both sides: bit-identical to
    * the plain join, no fan-out. Each (a, b) pair still meets exactly
    * once, at a's salt. No driver-side action: the hot set rides the
    * plan as a broadcast, so the guard costs one small aggregate over
    * the cached session frame when the data is calm, and kicks in
    * automatically when it isn't.
    */
  def bandedOverlapCounts(sess: DataFrame, bandUs: Long,
                          hotThreshold: Long, S: Int): DataFrame = {
    def bandOf(c: org.apache.spark.sql.Column) =
      call_function("div", c, lit(bandUs))
    val bands = sess.withColumn("band",
      explode(sequence(bandOf(col("st")), bandOf(col("en")))))
    val bandStats = bands.groupBy(col("band")).agg(count(lit(1)).as("n"))
    val hot = bandStats
      .filter(col("n") > hotThreshold)
      .select(col("band"), lit(true).as("is_hot"))
    // MEASURED broadcast gate (round-10 q206 volume-flag adjudication):
    // at gate scale AQE ALWAYS ends this join broadcast (final plan
    // fingerprint identical across runs), but whether the SMJ's
    // band-salt shuffles get WRITTEN before the conversion is a stage
    // race — shuffle volume flipped bimodally 3.0/22.6 MB, solo-
    // reproduced 3x. Deciding the build side here, from the same
    // band-count aggregate the hot guard already needs, makes the
    // choice deterministic per data: the b side (salt-replicated rows
    // = total + (S-1) x hot rows) broadcasts iff its estimate fits the
    // default 10 MB broadcast budget, and a 100 TB session frame blows
    // the budget and keeps the shuffled band equi-join. Driver sees
    // two LONGs — an aggregate, not a collect of data.
    val row0 = bandStats.agg(
      coalesce(sum(col("n")), lit(0L)),
      coalesce(sum(when(col("n") > hotThreshold, col("n"))), lit(0L))).first()
    val bRows = row0.getLong(0) + (S - 1).toLong * row0.getLong(1)
    val broadcastB = bRows * 64L < 10L * 1024 * 1024
    val a = bands.select(col("sid").as("a_sid"), col("user_id").as("a_uid"),
      col("st").as("a_st"), col("en").as("a_en"), col("band"))
      .join(broadcast(hot), Seq("band"), "left")
      .withColumn("salt",
        when(col("is_hot"), pmod(hash(col("a_sid")), lit(S))).otherwise(lit(0)))
      .drop("is_hot")
    val b0 = bands.select(col("sid").as("b_sid"), col("user_id").as("b_uid"),
      col("st").as("b_st"), col("en").as("b_en"), col("band"))
      .join(broadcast(hot), Seq("band"), "left")
      .withColumn("salt", explode(
        when(col("is_hot"), sequence(lit(0), lit(S - 1))).otherwise(array(lit(0)))))
      .drop("is_hot")
    val b = if (broadcastB) broadcast(b0) else b0
    val overlaps = a.join(b, Seq("band", "salt"))
      .filter(col("a_uid") =!= col("b_uid") &&
        col("a_st") <= col("b_en") && col("b_st") <= col("a_en") &&
        col("band") === bandOf(greatest(col("a_st"), col("b_st"))))
      .groupBy(col("a_sid")).agg(count(lit(1)).as("n"))
    sess.join(overlaps, sess("sid") === overlaps("a_sid"), "left")
      .select(col("sid"), coalesce(col("n"), lit(0L)).as("n_concurrent"))
  }

  val q206Sql: String =
    """WITH ev AS (SELECT user_id, epoch_us(ts) AS us FROM events),
      |o AS (SELECT user_id, us, CASE WHEN us - lag(us) OVER
      |    (PARTITION BY user_id ORDER BY us) > 14400000000 THEN 1 ELSE 0 END AS brk
      |  FROM ev),
      |i AS (SELECT user_id, us, sum(brk) OVER (PARTITION BY user_id ORDER BY us
      |    ROWS UNBOUNDED PRECEDING) AS isl FROM o),
      |sess AS (SELECT user_id, CAST(user_id * 1000000 + isl AS BIGINT) AS sid,
      |    min(us) AS st, max(us) AS en
      |  FROM i GROUP BY user_id, isl)
      |SELECT s.sid, CAST(count(t.sid) AS BIGINT) AS n_concurrent
      |FROM sess s LEFT JOIN sess t
      |  ON s.user_id <> t.user_id AND s.st <= t.en AND t.st <= s.en
      |GROUP BY s.sid""".stripMargin

  // ---------------------------------------------------------------- q207
  /** IVF-PQ ANN — the declared 100 TB scale path, composed end-to-end:
    * the coarse IVF level (q37's 16 stride-25 centroids + packed-argmax
    * cell assign, [[Extended.ivfAssignCells]]) restricts each query to
    * its nprobe=4 best cells, and within those cells candidates are
    * scored by PQ asymmetric distance (q205's broadcast codebooks +
    * integer-micro ADC) — never by raw 64-dim float math, and never
    * against the full corpus.
    *
    * Scale shape: both index tables — cells(cid, cent_id) and
    * codes(vid, s, cent_idx) — are hash-agg products of broadcast
    * crossJoins (one shuffle each, no window/sort over the corpus; at
    * 100 TB they'd be precomputed, bucketed by cent_id). The probe set
    * is |Q| x nprobe rows, broadcast; candidate selection is a
    * broadcast equi-join against cells, so corpus-side work after
    * indexing is proportional to the probed cells' content, not the
    * corpus (nprobe/nlist of it). The ADC table is |Q| x 8 x 16
    * broadcast metadata; the single corpus-scale shuffle joins
    * candidates to their 8 code rows, then integer-sums per (query,
    * candidate).
    *
    * Oracle exactness: both levels reuse their parents' determinism
    * tricks — data-derived IVF centroids ranked by round(cos, 6) with
    * cent_id tie-break (q37), data-derived PQ codebooks with round-6
    * integer-micro subdistances and order-free integer ADC sums (q205)
    * — so DuckDB replays cell assign + encode + probe + ADC + ranking
    * bit-for-bit.
    */
  val IvfPqNprobe = 4

  def q207IvfPq(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    // coarse level: q37's centroid frame + argmax cell assignment
    val ivfCents = emb.filter(col("vec_id") % 25 === 0 && col("vec_id") < 400)
      .select(expr("vec_id div 25").as("cent_idx"),
              col("vec_id").as("cent_id"), col("embedding").as("cent"))
    val cells = Extended.ivfAssignCells(
        emb.select(col("vec_id").as("cid"), col("embedding").as("ce")),
        ivfCents, nCents = 16)
      .select(col("cid"), col("cent_id"))
    // probe assignment: |Q| x 16 rows, window bounded by the query set
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("cent_cos").desc, col("cent_id").asc)
    val probes = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .crossJoin(broadcast(ivfCents))
      .withColumn("cent_cos",
        round(graft.functions.VectorFunctions.cosineSim(col("qe"), col("cent")), 6))
      .withColumn("crank", row_number().over(wProbe))
      .filter(col("crank") <= IvfPqNprobe)
      .select(col("qid"), col("cent_id"))
    // fine level: q205's codebooks, corpus codes, ADC table
    val cents = pqCodebook(s, emb)
    val codes = pqEncode(emb, cents)
    val qd = pqQueryDists(emb, cents)
    // candidates = corpus vectors in a probed cell (broadcast equi-join)
    val cand = cells.join(broadcast(probes), Seq("cent_id"))
      .filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adist6").asc, col("cid").asc)
    cand.join(codes, cand("cid") === codes("vid"))
      .join(broadcast(qd), Seq("qid", "s", "cent_idx"))
      .groupBy(col("qid"), col("cid"))
      .agg(sum(col("qd6i")).as("a6i"))
      .withColumn("adist6", col("a6i") / lit(1e6))
      .select(col("qid"), col("cid"), col("adist6"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("rank"), col("cid"), col("adist6"))
  }

  val q207Sql: String = {
    val cosEC = graft.functions.VectorFunctions.cosineSqlDuck("e", "cent")
    s"""WITH icents AS (SELECT vec_id AS cent_id, embedding AS cent FROM embeddings
       |    WHERE vec_id % 25 = 0 AND vec_id < 400),
       |cells AS (SELECT cid, cent_id FROM (
       |    SELECT v.vec_id AS cid, c.cent_id,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY round($cosEC, 6) DESC, c.cent_id) AS crank
       |    FROM (SELECT vec_id, embedding, embedding AS e FROM embeddings) v, icents c)
       |  WHERE crank = 1),
       |probes AS (SELECT qid, cent_id FROM (
       |    SELECT v.vec_id AS qid, c.cent_id,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY round($cosEC, 6) DESC, c.cent_id) AS crank
       |    FROM (SELECT vec_id, embedding, embedding AS e FROM embeddings
       |          WHERE vec_id < 20) v, icents c)
       |  WHERE crank <= $IvfPqNprobe),
       |sub AS (SELECT unnest(generate_series(1, $PqSubspaces)) AS s),
       |pqc AS (SELECT CAST(vec_id // 25 AS BIGINT) AS cent_idx, embedding AS ce
       |  FROM embeddings WHERE vec_id % 25 = 0 AND vec_id < ${25 * PqCents}),
       |encd AS (SELECT e.vec_id AS vid, sub.s, c.cent_idx,
       |    list_reduce(list_transform(generate_series(1, $PqSubDim),
       |      i -> (CAST(e.embedding[(sub.s - 1) * $PqSubDim + i] AS DOUBLE)
       |            - CAST(c.ce[(sub.s - 1) * $PqSubDim + i] AS DOUBLE))
       |         * (CAST(e.embedding[(sub.s - 1) * $PqSubDim + i] AS DOUBLE)
       |            - CAST(c.ce[(sub.s - 1) * $PqSubDim + i] AS DOUBLE))),
       |      (x, y) -> x + y) AS dist
       |  FROM embeddings e, sub, pqc c),
       |enc AS (SELECT vid, s, cent_idx FROM (
       |    SELECT vid, s, cent_idx,
       |      row_number() OVER (PARTITION BY vid, s ORDER BY round(dist, 6), cent_idx) AS rn
       |    FROM encd) WHERE rn = 1),
       |qd AS (SELECT e.vec_id AS qid, sub.s, c.cent_idx,
       |    CAST(round(round(list_reduce(list_transform(generate_series(1, $PqSubDim),
       |      i -> (CAST(e.embedding[(sub.s - 1) * $PqSubDim + i] AS DOUBLE)
       |            - CAST(c.ce[(sub.s - 1) * $PqSubDim + i] AS DOUBLE))
       |         * (CAST(e.embedding[(sub.s - 1) * $PqSubDim + i] AS DOUBLE)
       |            - CAST(c.ce[(sub.s - 1) * $PqSubDim + i] AS DOUBLE))),
       |      (x, y) -> x + y), 6) * 1e6) AS BIGINT) AS qd6i
       |  FROM embeddings e, sub, pqc c WHERE e.vec_id < 20),
       |cand AS (SELECT p.qid, c.cid FROM probes p JOIN cells c USING (cent_id)
       |  WHERE c.cid <> p.qid),
       |adc AS (SELECT cand.qid, enc.vid AS cid, CAST(sum(qd.qd6i) AS BIGINT) AS a6i
       |  FROM cand JOIN enc ON enc.vid = cand.cid
       |    JOIN qd ON qd.qid = cand.qid AND qd.s = enc.s AND qd.cent_idx = enc.cent_idx
       |  GROUP BY cand.qid, enc.vid)
       |SELECT qid, CAST(rk AS BIGINT) AS rank, cid, a6i / 1e6 AS adist6
       |FROM (SELECT qid, cid, a6i,
       |    row_number() OVER (PARTITION BY qid ORDER BY a6i, cid) AS rk
       |  FROM adc)
       |WHERE rk <= 3""".stripMargin
  }

  // ---------------------------------------------------------------- q208
  /** LABEL PROPAGATION TO CONVERGENCE — the fixpoint promotion of
    * q199's fixed-3-round prefix. At the fixpoint of min-label
    * propagation over a symmetric graph every vertex carries its
    * component's min vertex id, so the engine computes exactly that
    * with the connected-components kernel ([[graft.ext.Dedup
    * .contractiveComponents]]: label contraction, escalating to
    * large/small-star on deep remainders). Substrate: the
    * BRAND-SCOPED co-purchase graph (parts co-purchased in one order
    * AND sharing p_brand) — component sizes are bounded by brand
    * part-count, which keeps the oracle's transitive closure
    * quadratic-in-component, not quadratic-in-corpus. Each order's
    * same-brand parts form a clique, which the kernel collapses to its
    * min in one round, so later rounds run on the small inter-clique
    * remainder. The closure-style oracle states the same result — min
    * over all reachable labels — with NO round replay, so the gate is
    * exact for ANY convergence round count. Parts with no same-brand
    * co-purchase are edgeless and label themselves.
    */
  def q208LabelPropFixpoint(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
    val pb = Tables.part(s, d).select(col("p_partkey"), col("p_brand"))
    val lib = li.join(pb, li("l_partkey") === pb("p_partkey"))
      .select(col("l_orderkey"), col("p_brand"), col("l_partkey").cast("long").as("p"))
      .distinct()
    // one row per unordered co-purchase pair; the kernel canonicalizes
    // and deduplicates edges itself
    val e = lib.as("x").join(lib.as("y"), Seq("l_orderkey", "p_brand"))
      .filter(col("x.p") < col("y.p"))
      .select(col("x.p").as("id_a"), col("y.p").as("id_b"))
    val comp = graft.ext.Dedup.contractiveComponents(e)
    lib.select(col("p").as("id")).distinct()
      .join(comp, Seq("id"), "left")
      .select(col("id").as("part"), coalesce(col("cluster_id"), col("id")).as("community"))
  }

  val q208Sql: String =
    """WITH RECURSIVE
      |lib AS (SELECT DISTINCT l.l_orderkey, p.p_brand, CAST(l.l_partkey AS BIGINT) AS p
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      |e AS MATERIALIZED (SELECT DISTINCT a.p AS src, b.p AS dst FROM lib a JOIN lib b
      |  ON a.l_orderkey = b.l_orderkey AND a.p_brand = b.p_brand WHERE a.p <> b.p),
      |r AS (
      |  SELECT p AS vx, p AS lbl FROM (SELECT DISTINCT p FROM lib)
      |  UNION
      |  SELECT e.dst AS vx, r.lbl FROM e JOIN r ON e.src = r.vx
      |)
      |SELECT vx AS part, CAST(min(lbl) AS BIGINT) AS community FROM r GROUP BY vx""".stripMargin

  // ---------------------------------------------------------------- q209
  /** K-CORE PEELING TO STABILITY — the fixpoint promotion of q201's
    * fixed-3-round prefix, via [[graft.ext.Graph.kCorePeel]] (early
    * exit the round nothing drops, lineage checkpoints, capped at 12).
    * Same word-adjacency substrate and K=16 as q201. The oracle replays
    * EXACTLY 12 peel rounds as a MATERIALIZED CTE chain; because
    * peeling is monotone and idempotent at the fixpoint, the capped
    * early-exit loop and the fixed-round replay agree for any data:
    * rounds after stability are no-ops on both engines, and past the
    * cap both stop at the same prefix. (The same trick cannot gate
    * q208 — label propagation has no engine-free fixed-round twin
    * cheaper than the closure — which is why that gate uses the
    * closure oracle instead.)
    */
  def q209KCoreFixpoint(s: SparkSession, d: String): DataFrame = {
    val bg = Tables.documents(s, d)
      .select(split(col("text"), " ").as("ts"))
      .select(explode(expr(
        """zip_with(slice(ts, 1, greatest(size(ts) - 1, 0)),
          |         slice(ts, 2, greatest(size(ts) - 1, 0)),
          |         (x, y) -> struct(x AS a, y AS b))""".stripMargin)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("a") =!= col("b"))
    val e0 = bg.select(col("a").as("src"), col("b").as("dst"))
      .union(bg.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
    graft.ext.Graph.kCorePeel(e0, k = 16, maxRounds = 12)
      .groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("token"), col("deg"))
  }

  val q209Sql: String = {
    val base =
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |bg AS (SELECT unnest(list_transform(generate_series(1, len(ts) - 1),
        |    i -> [ts[i], ts[i+1]])) AS pr FROM t),
        |e0 AS MATERIALIZED (SELECT DISTINCT pr[1] AS src, pr[2] AS dst FROM bg WHERE pr[1] <> pr[2]
        |  UNION SELECT DISTINCT pr[2], pr[1] FROM bg WHERE pr[1] <> pr[2])""".stripMargin
    // MATERIALIZED is load-bearing: e(i-1) is referenced twice per
    // round; inlined CTEs would re-expand the chain exponentially.
    val rounds = (1 to 12).map { i =>
      s"""a$i AS MATERIALIZED (SELECT src AS v FROM e${i - 1} GROUP BY src HAVING count(*) >= 16),
         |e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e JOIN a$i x ON e.src = x.v JOIN a$i y ON e.dst = y.v)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$rounds\nSELECT src AS token, CAST(count(*) AS BIGINT) AS deg FROM e12 GROUP BY src"
  }

  // ---------------------------------------------------------------- q210
  /** IVF-PQ with RESIDUAL encoding — the full FAISS-IVFADC shape that
    * q207 deliberately stopped short of: PQ quantizes r = v - c(v)
    * (the vector minus its assigned coarse centroid), which couples
    * the levels (PQ input depends on the IVF assignment) and is what
    * makes PQ codes accurate in practice — residuals are centered
    * near zero, so a 16-entry codebook covers them far better than it
    * covers raw vectors. Per probed cell the query forms its own
    * residual r_q = q - c_cell and a per-(cell, subspace, code) ADC
    * table (|Q| x nprobe x 8 x 16 rows — still broadcast metadata);
    * candidate restriction to probed cells falls out of the scoring
    * join's cent_id key, needing no separate semi-join.
    *
    * Determinism: residual subtraction is one exact-rounded double op
    * per element on both engines (float32 -> double casts are exact),
    * BEFORE the q205 discipline takes over (ascending-i fold, round-6
    * integer-micro snap, id tie-breaks). The residual codebook sample
    * uses the OFFSET stride vec_id % 25 == 7: the % 25 == 0 sample IS
    * the coarse centroid set, whose residuals are identically zero —
    * a degenerate codebook.
    *
    * Scale shape: identical to q207 (broadcast-metadata crossJoins +
    * hash-agg argmin; one corpus-scale scoring join keyed by
    * (cent_id, s, code)), plus one broadcast join to attach each
    * vector's centroid for the residual — the cells table is reused,
    * not recomputed, from the same assignment expression.
    */
  def q210IvfPqResidual(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val ivfCents = emb.filter(col("vec_id") % 25 === 0 && col("vec_id") < 400)
      .select(expr("vec_id div 25").as("cent_idx"),
              col("vec_id").as("cent_id"), col("embedding").as("cent"))
    val cells = Extended.ivfAssignCells(
        emb.select(col("vec_id").as("cid"), col("embedding").as("ce")),
        ivfCents, nCents = 16)
      .select(col("cid"), col("cent_id"))
    val centVecs = ivfCents.select(col("cent_id"), col("cent"))
    val resid = emb.select(col("vec_id"), col("embedding"))
      .join(cells, emb("vec_id") === cells("cid"))
      .join(broadcast(centVecs), Seq("cent_id"))
      .select(col("vec_id"), col("cent_id"),
        zip_with(col("embedding"), col("cent"),
          (x, y) => x.cast("double") - y.cast("double")).as("resv"))
    val subs = s.range(1, PqSubspaces + 1).select(col("id").cast("int").as("s"))
    val cb = resid
      .filter(col("vec_id") % 25 === 7 && col("vec_id") < (25 * PqCents + 7))
      .select(expr("(vec_id - 7) div 25").as("cent_idx"), col("resv").as("ce"))
      .crossJoin(subs)
    val m = lit(PqCents.toLong)
    val dist6i = round(round(pqSubDist(col("resv"), col("ce"), col("s")), 6) * 1e6, 0)
      .cast("long")
    val codes = resid.select(col("vec_id").as("vid"), col("cent_id"), col("resv"))
      .crossJoin(broadcast(cb))
      .withColumn("packed", dist6i * m + col("cent_idx"))
      .groupBy(col("vid"), col("cent_id"), col("s"))
      .agg(min(col("packed")).as("p"))
      .withColumn("code", pmod(col("p"), m))
      .select(col("vid"), col("cent_id"), col("s"), col("code"))
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("cent_cos").desc, col("cent_id").asc)
    val probes = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .crossJoin(broadcast(ivfCents))
      .withColumn("cent_cos",
        round(graft.functions.VectorFunctions.cosineSim(col("qe"), col("cent")), 6))
      .withColumn("crank", row_number().over(wProbe))
      .filter(col("crank") <= IvfPqNprobe)
      .select(col("qid"), col("cent_id"),
        zip_with(col("qe"), col("cent"),
          (x, y) => x.cast("double") - y.cast("double")).as("rq"))
    val qd = probes.crossJoin(broadcast(cb))
      .withColumn("qd6i",
        round(round(pqSubDist(col("rq"), col("ce"), col("s")), 6) * 1e6, 0).cast("long"))
      .select(col("qid"), col("cent_id"), col("s"), col("cent_idx").as("code"), col("qd6i"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adist6").asc, col("cid").asc)
    codes.join(broadcast(qd), Seq("cent_id", "s", "code"))
      .filter(col("vid") =!= col("qid"))
      .groupBy(col("qid"), col("vid"))
      .agg(sum(col("qd6i")).as("a6i"))
      .withColumn("adist6", col("a6i") / lit(1e6))
      .select(col("qid"), col("vid").as("cid"), col("adist6"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("rank"), col("cid"), col("adist6"))
  }

  val q210Sql: String = {
    val cosEC = graft.functions.VectorFunctions.cosineSqlDuck("e", "cent")
    def sq(arr: String) =
      s"""list_reduce(list_transform(generate_series(1, $PqSubDim),
         |      i -> ($arr[(sub.s - 1) * $PqSubDim + i] - c.ce[(sub.s - 1) * $PqSubDim + i])
         |         * ($arr[(sub.s - 1) * $PqSubDim + i] - c.ce[(sub.s - 1) * $PqSubDim + i])),
         |      (x, y) -> x + y)""".stripMargin
    s"""WITH icents AS (SELECT CAST(vec_id // 25 AS BIGINT) AS cent_idx, vec_id AS cent_id,
       |    embedding AS cent FROM embeddings WHERE vec_id % 25 = 0 AND vec_id < 400),
       |cells AS MATERIALIZED (SELECT cid, cent_id FROM (
       |    SELECT v.vec_id AS cid, c.cent_id,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY round($cosEC, 6) DESC, c.cent_id) AS crank
       |    FROM (SELECT vec_id, embedding, embedding AS e FROM embeddings) v, icents c)
       |  WHERE crank = 1),
       |resid AS MATERIALIZED (SELECT e.vec_id, cl.cent_id,
       |    list_transform(generate_series(1, ${PqSubspaces * PqSubDim}),
       |      i -> CAST(e.embedding[i] AS DOUBLE) - CAST(ic.cent[i] AS DOUBLE)) AS resv
       |  FROM embeddings e JOIN cells cl ON e.vec_id = cl.cid
       |    JOIN icents ic ON cl.cent_id = ic.cent_id),
       |sub AS (SELECT unnest(generate_series(1, $PqSubspaces)) AS s),
       |cb AS (SELECT CAST((vec_id - 7) // 25 AS BIGINT) AS cent_idx, resv AS ce
       |  FROM resid WHERE vec_id % 25 = 7 AND vec_id < ${25 * PqCents + 7}),
       |encd AS (SELECT r.vec_id AS vid, r.cent_id, sub.s, c.cent_idx,
       |    ${sq("r.resv")} AS dist
       |  FROM resid r, sub, cb c),
       |enc AS (SELECT vid, cent_id, s, cent_idx AS code FROM (
       |    SELECT vid, cent_id, s, cent_idx,
       |      row_number() OVER (PARTITION BY vid, s ORDER BY round(dist, 6), cent_idx) AS rn
       |    FROM encd) WHERE rn = 1),
       |probes AS (SELECT qid, cent_id, rq FROM (
       |    SELECT v.vec_id AS qid, c.cent_id,
       |      list_transform(generate_series(1, ${PqSubspaces * PqSubDim}),
       |        i -> CAST(v.embedding[i] AS DOUBLE) - CAST(c.cent[i] AS DOUBLE)) AS rq,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY round($cosEC, 6) DESC, c.cent_id) AS crank
       |    FROM (SELECT vec_id, embedding, embedding AS e FROM embeddings
       |          WHERE vec_id < 20) v, icents c)
       |  WHERE crank <= $IvfPqNprobe),
       |qd AS (SELECT p.qid, p.cent_id, sub.s, c.cent_idx AS code,
       |    CAST(round(round(${sq("p.rq")}, 6) * 1e6) AS BIGINT) AS qd6i
       |  FROM probes p, sub, cb c),
       |adc AS (SELECT qd.qid, enc.vid AS cid, CAST(sum(qd.qd6i) AS BIGINT) AS a6i
       |  FROM enc JOIN qd ON enc.cent_id = qd.cent_id AND enc.s = qd.s AND enc.code = qd.code
       |  WHERE enc.vid <> qd.qid GROUP BY qd.qid, enc.vid)
       |SELECT qid, CAST(rk AS BIGINT) AS rank, cid, a6i / 1e6 AS adist6
       |FROM (SELECT qid, cid, a6i,
       |    row_number() OVER (PARTITION BY qid ORDER BY a6i, cid) AS rk
       |  FROM adc)
       |WHERE rk <= 3""".stripMargin
  }

  val entries: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "q197_multitouch_attribution" -> (q197MultiTouchAttribution _, q197Sql),
    "q198_frequent_items" -> (q198FrequentItems _, q198Sql),
    "q199_label_propagation" -> (q199LabelPropagation _, q199Sql),
    "q200_weighted_sample" -> (q200WeightedSample _, q200Sql),
    "q201_kcore_peeling" -> (q201KCorePeeling _, q201Sql),
    "q203_random_projection" -> (q203RandomProjection _, q203Sql),
    "q204_approx_top_k" -> (q204ApproxTopK _, q204Sql),
    "q205_product_quantization" -> (q205ProductQuantization _, q205Sql),
    "q206_interval_overlap_join" -> (q206IntervalOverlapJoin _, q206Sql),
    "q207_ivf_pq" -> (q207IvfPq _, q207Sql),
    "q208_label_prop_fixpoint" -> (q208LabelPropFixpoint _, q208Sql),
    "q209_kcore_fixpoint" -> (q209KCoreFixpoint _, q209Sql),
    "q210_ivf_pq_residual" -> (q210IvfPqResidual _, q210Sql),
  )
}
