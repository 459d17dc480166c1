package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over edge frames — the authority-scoring side of
  * corpus curation (web-crawl pretraining pipelines weight documents
  * by link authority before sampling; the reference has no graph ops,
  * so this is a pure capability extension like Dedup/Similarity).
  *
  * Numerics discipline: ranks are FIXED-POINT LONGS (micro-units), all
  * updates are integer multiply/divide/sum — associative, commutative,
  * and therefore identical on any partitioning, any task order, and
  * any engine (the q73/q75 exact-arithmetic pattern). Floating-point
  * PageRank cannot promise a stable cross-engine hash.
  */
object Graph {

  /** Fixed-round power-iteration PageRank over a directed edge frame
    * (`src`, `dst`; parallel edges count as weight). Per round:
    *
    *   rank'(v) = 150000 + (85 * Σ_{(u,v)∈E} (rank(u) div outdeg(u))) div 100
    *
    * i.e. damping 0.85 with base 0.15, everything in micro-units
    * (initial rank 1_000_000 per node). One equi-join + one
    * map-side-combinable sum per round — the canonical distributed
    * PageRank shape; contribution traffic is O(|E|) rows of two longs.
    * Dangling-node mass leaks (no redistribution) — acceptable and
    * DOCUMENTED for authority ranking (ordering is what matters), and
    * it keeps the oracle replay exact.
    *
    * `iters` is a fixed round count, not a convergence test: authority
    * weighting needs a deterministic budget, and fixed rounds make the
    * whole computation replayable as chained SQL CTEs (see q88's
    * generated oracle).
    */
  def pageRank(edges: DataFrame, iters: Int): DataFrame = {
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val withDeg = edges.join(outdeg, "src")
    val nodes = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node"))).distinct()
    var ranks = nodes.withColumn("r", lit(1000000L))
    var freePrev: () => Unit = () => ()
    (0 until iters).foreach { i =>
      // SHUFFLE_HASH hints pin both per-round joins: the rank/in-sum
      // frames are node-sized — at 100 TB (billions of nodes) they
      // must shuffle-join, never broadcast, so the hint is the
      // scale-correct strategy stated explicitly. It also makes the
      // plan DETERMINISTIC: unhinted, AQE re-optimized each chained
      // stage against racy runtime-stat snapshots and flipped
      // individual rounds between broadcast and shuffle run-to-run —
      // the one exact-shape golden exemption of rounds 9-10.
      val contrib = withDeg.join(ranks.hint("shuffle_hash"),
          withDeg("src") === ranks("node"))
        .select(col("dst").as("node"), expr("r div outdeg").as("c"))
      val inSum = contrib.groupBy(col("node")).agg(sum(col("c")).as("s"))
      ranks = nodes.join(inSum.hint("shuffle_hash"), Seq("node"), "left")
        .select(col("node"),
          (lit(150000L) + expr("(85 * coalesce(s, 0L)) div 100")).as("r"))
      // `ranks` is referenced ONCE per round, so the Catalyst tree grows
      // linearly (unlike the CC loop's union+join doubling) — a handful
      // of rounds plans fine and stays auditable as one plan (PlanSpec
      // reads the per-round partial aggregates). Larger iteration
      // budgets still get lineage truncation, with superseded
      // checkpoints' blocks freed deterministically (see Lineage).
      if ((i + 1) % 8 == 0 && i != iters - 1) {
        val (ck, free) = Lineage.checkpoint(ranks)
        freePrev()
        freePrev = free
        ranks = ck
      }
    }
    ranks
  }

  /** Per-node TRIANGLE COUNTS over an undirected edge frame (`a`,
    * `b`; duplicates/self-loops/direction ignored) — the clustering
    * primitive behind community cohesion and spam-graph screens.
    *
    * Compact-forward with DEGREE ORDERING, the standard skew guard:
    * every edge is oriented from its lower-(degree, id) endpoint, so a
    * hub node's wedge fan-out is capped (out-degree after orientation
    * is O(sqrt(|E|)) for any graph) — wedge volume is
    * sum(outdeg^2) ~ O(|E|^1.5) worst case instead of the
    * sum(deg^2) blowup a hub causes under id-only orientation. The
    * pipeline is three hash equi-joins (orient, wedge self-join,
    * closure left-semi) and one aggregate — no neighborhood is ever
    * collected into a single row.
    *
    * Returns (node, n_triangles) for nodes in >= 1 triangle. The count
    * is orientation-independent, which is what lets an id-ordered SQL
    * oracle check a degree-ordered implementation.
    */
  def triangleCounts(edgesIn: DataFrame): DataFrame = {
    // the canonical edge set is read four times (degree pass, orient
    // join, closure side, bloom build) — materialize it once as an
    // eager localCheckpoint whose count (the bloom sizing input) rides
    // the materialization job. A persist() here instead measurably
    // DUPLICATED stages (InMemoryRelation broke in-plan exchange reuse:
    // 4x identical 7.5 MB exchanges in the profile); the checkpointed
    // LogicalRDD keeps downstream subtree dedup intact. Blocks escape
    // with the result (ContextCleaner's), like every loop output.
    val (und, undM, _) = Lineage.checkpointObserved(
      edgesIn.select(
          least(col("a"), col("b")).as("x"), greatest(col("a"), col("b")).as("y"))
        .filter(col("x") =!= col("y")).distinct(),
      count(lit(1)).as("n"))
    // WEDGE PRE-FILTER (optimization guide §3.2): the wedge frame is
    // O(sum outdeg^2) rows and the closure semi-join is its only
    // consumer, so every non-closing wedge shuffled to that join is
    // wasted wire — measured 383 of q143's 450 shuffle MB and the
    // dominant stage (8.3 s fetch+join of 12 s compute) at sf0.1. A
    // bloom sketch over the canonical edge set (~1 byte/edge, executor-
    // memory metadata like the IVF centroids) drops definitely-
    // non-closing wedges BEFORE the exchange; false positives are
    // discharged by the exact semi-join, false negatives are
    // impossible, so the result is bit-identical at any scale — and at
    // 100 TB the sketch (O(|E|) bits) broadcasts where the edge set
    // itself never could.
    val nEdges = undM("n").asInstanceOf[Long]
    val bloom = graft.functions.BloomFunctions.buildBloom(
      und.select(xxhash64(col("x"), col("y")).as("k")), "k",
      expectedItems = nEdges, fpp = 0.01)
    val deg = und.select(col("x").as("node"))
      .unionByName(und.select(col("y").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // orient by (deg, id): src = smaller endpoint under that order
    val oriented = und
      .join(deg.select(col("node").as("x"), col("deg").as("dx")), "x")
      .join(deg.select(col("node").as("y"), col("deg").as("dy")), "y")
      .select(
        when(col("dx") < col("dy") ||
             (col("dx") === col("dy") && col("x") < col("y")), col("x"))
          .otherwise(col("y")).as("src"),
        when(col("dx") < col("dy") ||
             (col("dx") === col("dy") && col("x") < col("y")), col("y"))
          .otherwise(col("x")).as("dst"),
        col("dx"), col("dy"))
    val o = oriented.select(col("src"), col("dst"))
    // wedges at a common source: unordered target pairs (u < v by id
    // keeps each wedge once), bloom-prefiltered before the exchange
    val l = o.select(col("src"), col("dst").as("u"))
    val r = o.select(col("src"), col("dst").as("v"))
    val wedges = l.join(r, "src").filter(col("u") < col("v"))
      .filter(graft.functions.BloomFunctions.mightContain(
        xxhash64(col("u"), col("v")), bloom))
    // closure: wedges emit u < v by id and `und` IS the canonical
    // (min, max) edge set, so it serves as the closure side directly —
    // half the rows of the old both-orientations union of `o`, same
    // matches
    val closure = und.select(col("x").as("u"), col("y").as("v"))
    val tris = wedges.join(closure, Seq("u", "v"), "left_semi")
    tris.select(explode(array(col("src"), col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
  }

  /** Bounded-round single-source shortest WEIGHTED paths over an
    * undirected edge frame (`a`, `b`, `w`: int) — Bellman-Ford in its
    * frontier-parallel form: each round relaxes every edge out of the
    * current distance frame (one equi-join), then min-combines with
    * the standing distances (one aggregate). After R rounds the frame
    * holds the exact shortest distance among paths of <= R edges —
    * the bounded-horizon contract the walk-enumeration oracle states
    * directly. State is one (node, dist) row per reached node; the
    * join touches O(reached-adjacent edges) per round; no transitive
    * closure, no per-node neighborhood collection.
    *
    * Rounds are lineage-checkpointed (plans stay O(1) deep) with
    * superseded blocks freed, the [[bfsHops]] discipline. Multi-edges
    * collapse to their min weight up front — fewer relaxation
    * candidates, same distances.
    */
  def ssspRounds(edgesIn: DataFrame, source: Long, rounds: Int): DataFrame = {
    val spark = edgesIn.sparkSession
    import spark.implicits._
    val edges = edgesIn.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .unionByName(edgesIn.select(col("b").as("src"), col("a").as("dst"), col("w")))
      .filter(col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w"))
    var dist = Seq((source, 0L)).toDF("node", "dist")
    var free: () => Unit = () => ()
    // convergence witness riding each round's checkpoint job
    // (checkpointObserved, round 15): distances only decrease and the
    // node set only grows, so an unchanged (count, sum) pair means the
    // relaxation reached its fixpoint — every later round is a no-op
    // on both engines (the bounded-horizon contract is preserved
    // exactly), so exit early instead of launching it.
    var prev: (Long, Any) = (-1L, null)
    var round = 1
    var stable = false
    while (round <= rounds && !stable) {
      val relaxed = dist.join(edges, dist("node") === edges("src"))
        .select(edges("dst").as("node"),
          (dist("dist") + edges("w").cast("long")).as("dist"))
      val (ck, m, freeCk) = Lineage.checkpointObserved(
        dist.unionByName(relaxed).groupBy(col("node")).agg(min(col("dist")).as("dist")),
        count(lit(1)).as("n"), sum(col("dist").cast("decimal(38,0)")).as("s"))
      free()
      free = freeCk
      dist = ck
      val cur = (m("n").asInstanceOf[Long], m("s"))
      stable = cur._1 == prev._1 && cur._2 == prev._2
      prev = cur
      round += 1
    }
    dist
  }

  /** K-core peeling TO STABILITY (capped at `maxRounds`) over a
    * SYMMETRIC edge frame (`src`, `dst` with both directions present,
    * so out-degree = degree): each round drops vertices whose
    * surviving degree is < k and restricts edges to survivors,
    * stopping as soon as a round removes nothing — or at the cap.
    * Peeling is monotone (the edge set only shrinks) and idempotent at
    * the fixpoint, so a fixed-`maxRounds` oracle replay equals this
    * early-exit loop EXACTLY: rounds after stability are no-ops on
    * both engines, and if stability needs more than the cap, both stop
    * at the same prefix. Rounds are lineage-checkpointed with
    * superseded blocks freed (the convergence count piggybacks on the
    * checkpoint materialization).
    *
    * Returns the stable (or capped) edge frame.
    */
  def kCorePeel(edgesIn: DataFrame, k: Int, maxRounds: Int): DataFrame = {
    // surviving-edge counts ride each round's checkpoint job
    // (checkpointObserved, round 15) — one job per peel round
    val witness = count(lit(1)).as("n")
    var (e, m0, free) = Lineage.checkpointObserved(
      edgesIn.select(col("src"), col("dst")), witness)
    var n = m0("n").asInstanceOf[Long]
    var stable = false
    var round = 0
    while (!stable && round < maxRounds) {
      round += 1
      val alive = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("v"))
      val (ckNext, mNext, freeNext) = Lineage.checkpointObserved(
        e.join(alive.select(col("v").as("src")), "src")
          .join(alive.select(col("v").as("dst")), "dst")
          .select(col("src"), col("dst")), witness)
      val nNext = mNext("n").asInstanceOf[Long]
      free()
      free = freeNext
      e = ckNext
      stable = nNext == n
      n = nNext
    }
    e
  }

  /** Bounded-depth BFS shortest hop counts from one source over an
    * undirected edge frame (`a`, `b`) — frontier-parallel, the
    * Pregel-shape traversal (one equi-join + one min-combine per
    * round), NOT a transitive-closure materialization: round h's
    * frontier is only the nodes FIRST reached at distance h (an
    * anti-join against the visited set drops re-reachings), so per
    * round the join touches O(frontier-adjacent edges) and state is
    * one (node, dist) row per visited node. The closure-style oracle
    * (recursive CTE enumerating every (node, d<=maxHops) walk
    * endpoint, then min(d)) is the quadratic anti-baseline the
    * frontier shape avoids; both agree because min over all walk
    * lengths IS the shortest distance.
    *
    * Both frontier and visited are lineage-checkpointed each round
    * (visited is referenced by the anti-join AND the final result, so
    * without truncation the plan doubles per round — the q71 CC
    * lesson), with superseded rounds' blocks freed deterministically.
    *
    * Returns (node, hops) for every node within `maxHops` of `source`
    * (source itself at 0).
    */
  def bfsHops(edgesIn: DataFrame, source: Long, maxHops: Int): DataFrame = {
    val spark = edgesIn.sparkSession
    import spark.implicits._
    val edges = edgesIn.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(edgesIn.select(col("b").as("src"), col("a").as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
    // `visited` is the LAZY UNION of the checkpointed per-hop frontiers
    // (round 15): the old form re-checkpointed the whole visited set
    // every round — an O(visited) copy plus a second job per hop that
    // bought nothing, since the frontiers ARE materialized and their
    // union is the same rows. Plan depth grows one leaf per hop
    // (bounded by maxHops); the frontier count rides the frontier
    // checkpoint (checkpointObserved) so an exhausted frontier exits
    // early — identical output, later rounds were provable no-ops.
    var visited = Seq((source, 0L)).toDF("node", "hops")
    var frontier = visited
    var h = 1
    var exhausted = false
    while (h <= maxHops && !exhausted) {
      val next = frontier.join(edges, frontier("node") === edges("src"))
        .select(edges("dst").as("node"))
        .distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("hops", lit(h.toLong))
      // frontier checkpoints escape via the returned union — their
      // blocks are the ContextCleaner's, exactly like any escaping frame
      val (ckNext, m, _) = Lineage.checkpointObserved(next, count(lit(1)).as("n"))
      frontier = ckNext
      visited = visited.unionByName(ckNext)
      exhausted = m("n").asInstanceOf[Long] == 0L
      h += 1
    }
    visited
  }
}
