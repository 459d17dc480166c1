package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication for training-data pipelines, scale-first:
  *
  *  - exact: hash-groupBy on content digest (map-side combine; at
  *    100 TB this shuffles one digest row per distinct doc, not text).
  *  - MinHash + LSH banding: per-doc signatures (linear scan), band
  *    keys, shuffle join on (band, key) — candidate pairs only, never
  *    an all-pairs product. Verification re-computes exact Jaccard on
  *    the (small) candidate set.
  *  - SimHash: 16-bit signature; near-pairs via pigeonhole on 4-bit
  *    nibbles (hamming <= 3 guarantees one equal nibble), again a
  *    shuffle join on a small key instead of a cross join.
  *  - brute-force n-gram Jaccard kept for oracle/recall checks on
  *    bounded id ranges.
  *
  * Hashing is md5 over shingle strings — portable to the DuckDB oracle
  * (identical hex output), unlike engine-specific hash().
  */
object Dedup {
  import TextAnalysis.{shingles, tokens}

  /** Exact-dup groups: content digest -> copy count + canonical id. */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_doc_id"))

  /** Exact dedup: one surviving row per identical text — the min-id
    * row (full-row min-struct tiebreak, so exact duplicate rows also
    * collapse). Single hash aggregate with map-side combine: each
    * executor reduces to one candidate per local digest before the
    * shuffle — no join back, no window sort.
    */
  def exactDedup(docs: DataFrame): DataFrame = {
    val payload = struct(col("doc_id") +: docs.columns.filterNot(_ == "doc_id").map(col).toSeq: _*)
    docs.groupBy(md5(col("text").cast("binary")).as("__fp"))
      .agg(min(payload).as("__keep"))
      .select(docs.columns.map(c => col(s"__keep.$c")).toSeq: _*)
  }

  /** MinHash permutation parameters (a_i odd, b_i) — spec-fixed
    * java.util.Random LCG, so stable across runs and embeddable in
    * oracle SQL.
    */
  val MinhashPrime = 1000000007L
  def minhashPerms(k: Int, seed: Long = 2024L): Seq[(Long, Long)] = {
    val r = new java.util.Random(seed)
    Seq.fill(k)((math.abs(r.nextInt()).toLong * 2 + 1, math.abs(r.nextInt()).toLong))
  }

  /** 28-bit integer shingle hash from the md5 prefix (one md5 per
    * shingle — hashing per (shingle x salt) was the q25 hotspot).
    * 28 bits keeps a_i * h + b_i < 2^63.
    */
  def shingleHash(s: Column): Column =
    conv(substring(md5(s.cast("binary")), 1, 7), 16, 10).cast("long")

  /** MinHash signature columns mh0..mh{k-1}: hash every shingle once,
    * then k affine permutations (a_i*h + b_i) mod p over the
    * materialized hash array — k cheap integer transforms instead of
    * k md5 passes.
    */
  def withMinhash(docs: DataFrame, k: Int): DataFrame =
    withMinhashFrom(docs.withColumn("__shs", shingles(tokens(col("text")), 3)), k)
      .drop("__shs")

  /** As withMinhash, over a frame that already carries a __shs shingle
    * column (lets callers persist/share the shingled frame).
    */
  def withMinhashFrom(shingled: DataFrame, k: Int): DataFrame = {
    val hs = transform(col("__shs"), shingleHash(_))
    minhashPerms(k).zipWithIndex.foldLeft(shingled.withColumn("__hs", hs)) {
      case (df, ((a, b), i)) =>
        df.withColumn(s"mh$i",
          array_min(transform(col("__hs"), h => (h * lit(a) + lit(b)) % lit(MinhashPrime))))
    }.drop("__hs")
  }

  /** LSH band keys: (doc_id, band, k0..k{r-1}) — the band's signature
    * tuple IS the join key (no re-hashing needed).
    */
  def lshBands(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandStructs = (0 until bands).map { b =>
      val cols = (0 until rowsPerBand).zipWithIndex.map { case (r, i) =>
        col(s"mh${b * rowsPerBand + r}").as(s"k$i")
      }
      struct(lit(b).as("band") +: cols: _*)
    }
    val keyCols = (0 until rowsPerBand).map(i => col(s"bk.k$i").as(s"k$i"))
    sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id") +: col("bk.band").as("band") +: keyCols: _*)
  }

  /** Stop-bucket guard for pair-enumeration self-joins — the df-cap
    * idiom (q86 contamination screen) generalized to any bucket key.
    * A bucket of size m contributes m*(m-1)/2 candidate pairs, so ONE
    * degenerate key at 100x the median bucket size costs 10000x the
    * median bucket's pairs and re-creates the all-pairs blowup the
    * banded join exists to avoid. Buckets larger than `cap` are
    * dropped wholesale before the self-join (size via one map-side-
    * combinable count, membership via left-semi — no window over the
    * corpus). Recall trade, documented: pairs whose ONLY collision is
    * a super-cap bucket are lost — in a dedup pipeline such buckets
    * are degenerate keys (empty shingle set, boilerplate band value,
    * all-zero embedding bucket) whose "pairs" are noise, and a pair of
    * genuine near-dups still collides in its other, non-degenerate
    * bands. Skew-robustness is property-tested in ExtSpec ("hot
    * bucket").
    */
  def capBuckets(df: DataFrame, keyCols: Seq[String], cap: Int): DataFrame = {
    require(cap > 1, s"bucket cap must exceed 1, got $cap")
    val ok = df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__bsz")).filter(col("__bsz") <= cap)
      .drop("__bsz")
    df.join(ok, keyCols, "left_semi")
  }

  /** Distinct candidate pairs (a < b) sharing any band bucket —
    * equi-join on (band, k0..): shuffles only small key rows.
    * `maxBucket` engages the [[capBuckets]] stop-bucket guard
    * (production path for skewed corpora); the default enumerates
    * every bucket.
    */
  def lshCandidates(bandsDf: DataFrame, maxBucket: Int = Int.MaxValue): DataFrame = {
    val keyCols = bandsDf.columns.filterNot(_ == "doc_id").toSeq
    val capped =
      if (maxBucket == Int.MaxValue) bandsDf
      else capBuckets(bandsDf, keyCols, maxBucket)
    val l = capped.withColumnRenamed("doc_id", "id_a")
    val r = capped.withColumnRenamed("doc_id", "id_b")
    l.join(r, keyCols).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Exact word-3-gram Jaccard between doc pairs (given as id columns),
    * emitted as a raw double (int/int division — bit-identical
    * cross-engine).
    */
  def withJaccard(pairs: DataFrame, docs: DataFrame): DataFrame =
    withJaccardFrom(pairs, docs.withColumn("__shs", shingles(tokens(col("text")), 3)))

  /** As withJaccard, over a frame already carrying __shs. */
  def withJaccardFrom(pairs: DataFrame, shingled: DataFrame): DataFrame = {
    val sh = shingled.select(col("doc_id"), col("__shs").as("sh"))
    val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    pairs.join(a, "id_a").join(b, "id_b")
      .withColumn("jaccard",
        graft.functions.JaccardFunctions.jaccardSim(col("sh_a"), col("sh_b")))
      .drop("sh_a", "sh_b")
  }

  /** Full MinHash-LSH near-dup pipeline: signatures -> bands ->
    * candidates -> exact-Jaccard verify >= threshold.
    *
    * Cache contract: the returned plan reads a persisted shingle frame
    * (shared by the signature pass and both verify sides); the CALLER
    * owns releasing it — `spark.catalog.clearCache()` once the result
    * is consumed, as Bench/Verify do per query. At 100 TB the shingle
    * frame is a materialized signatures TABLE, not an in-session cache.
    */
  def minhashNearDups(docs: DataFrame, k: Int, bands: Int, threshold: Double): DataFrame = {
    require(k % bands == 0, s"k=$k not divisible by bands=$bands")
    // Shingle sets are read three times (signatures + both verify
    // sides): persist the shingled frame once (prod: materialized
    // signature/shingle table). Only (doc_id, __shs) is reused — the
    // raw text never enters the cache or the verify joins.
    val shingled = docs
      .select(col("doc_id"), shingles(tokens(col("text")), 3).as("__shs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // eager fill: downstream branches (signatures + two verify sides)
    // would otherwise race to compute the same cached partitions
    // ("Block already exists" double-compute)
    shingled.count()
    val sigs = withMinhashFrom(shingled, k)
    val cands = lshCandidates(lshBands(sigs, bands, k / bands))
    withJaccardFrom(cands, shingled).filter(col("jaccard") >= threshold)
  }

  /** Near-dup COMPONENTS with EXACT-COPY PRE-COLLAPSE — the scale fix
    * for duplicate-dense corpora (the realistic 100 TB shape: crawl
    * snapshots carry c exact copies per document): identical texts
    * have identical shingle sets, so a c-copy group is a CLIQUE in the
    * near-dup graph and [[minhashNearDups]] materializes C(c,2)
    * candidate pairs for it — the measured superlinear term in the
    * sf10 scale probe (exponent 1.40 round 10). Collapsing each
    * exact-content group to ONE representative (its min doc_id)
    * BEFORE pair generation turns that into O(c) rows, and is
    * BIT-INVISIBLE to the result:
    *
    *  - within-group: identical nonempty shingle sets verify at
    *    jaccard 1.0 >= any threshold <= 1, so the group is connected
    *    through its representative regardless;
    *  - across groups: jaccard depends only on the shingle SETS, so an
    *    (a, b) edge exists iff the (rep_a, rep_b) edge exists — and
    *    LSH finds the rep pair iff it finds the member pair (identical
    *    signatures band identically);
    *  - labels: every rep is its group's min id, so min-reachable-rep
    *    = min-reachable-id over the full component;
    *  - a multi-copy group whose rep gains no LSH edge is STILL its
    *    own clique component (its members edge each other: identical
    *    signatures band together, identical sets verify at 1.0),
    *    re-added as a self-clique after CC. [[graft.functions
    *    .WordShingles]] clamps sub-n texts to a whole-suffix shingle,
    *    so shingle sets are never empty in practice; the nonempty
    *    guard below is defensive (a truly empty set would minhash to
    *    NULL, never band-join, and self-verify at NaN — no edges).
    *
    * Returns (id, cluster_id = min reachable doc_id) — the exact
    * [[contractiveComponents]]-over-[[minhashNearDups]] contract,
    * proven hash-identical by the unchanged q71 recursive-CTE oracle.
    */
  def nearDupComponents(docs: DataFrame, k: Int, bands: Int,
                        threshold: Double): DataFrame = {
    require(threshold <= 1.0, s"threshold $threshold > 1 would break the copy-clique argument")
    val withFp = docs.select(col("doc_id"),
      md5(col("text").cast("binary")).as("__fp"))
    // one row per distinct content: representative id + copy count +
    // whether the shingle set is nonempty (computed ONCE per group via
    // any member — texts are identical within a group)
    val groups = withFp.groupBy(col("__fp"))
      .agg(min(col("doc_id")).as("__rep"), count(lit(1)).as("__n"))
    val repDocs = docs.join(
        groups.select(col("__rep").as("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("text"))
    val pairs = minhashNearDups(repDocs, k, bands, threshold)
    val repCc = contractiveComponents(pairs) // (id, cluster_id) over reps
    // copy groups (n >= 2, nonempty shingles) whose rep got no LSH
    // edge: their members still edge each other — self-clique labeled
    // by the rep. Metadata-sized: one row per unmatched multi-copy rep.
    val selfCliques = repDocs
      .join(groups.filter(col("__n") >= 2).select(col("__rep").as("doc_id")),
        Seq("doc_id"), "left_semi")
      .join(repCc.select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
      .filter(size(shingles(tokens(col("text")), 3)) > 0)
      .select(col("doc_id").as("id"), col("doc_id").as("cluster_id"))
    val repLabels = repCc.unionByName(selfCliques)
    // expand membership: every member of a labeled rep's group takes
    // the rep's component label
    withFp.join(groups.select(col("__fp"), col("__rep")), "__fp")
      .join(repLabels, col("__rep") === repLabels("id"), "inner")
      .select(col("doc_id").as("id"), col("cluster_id"))
  }

  /** Connected components over near-dup pairs — THE connected-components
    * kernel of the engine: pair lists become DEDUP CLUSTERS (the step a
    * 100 TB pipeline actually acts on — keep one canonical doc per
    * component, drop the rest), and every other min-label caller
    * (q130's canonical pick, q208's co-purchase communities,
    * [[graft.ext.IncrementalCc]]'s over-cap contraction graph) runs it
    * too.
    *
    * LABEL CONTRACTION with geometric work shrinkage: each round every
    * label takes the min of its closed neighborhood, node labels
    * compose through that mapping, and the edge set CONTRACTS to the
    * distinct-label component graph — a dense near-dup cluster (the
    * planted-copy corpora that dominate dedup inputs are cliques per
    * copy group) collapses to its single min label in ONE round, so
    * round 2 runs on the tiny inter-cluster remainder, not the corpus.
    * Min-label propagation, by contrast, re-shuffles the full
    * O(|V| + |E|) frame every round for O(diameter) rounds.
    *
    * The min-of-neighborhood map only guarantees CONSTANT shrinkage on
    * adversarial path graphs (an id-sorted path loses one edge per
    * round), so once `contractRounds` rounds have failed to halve the
    * edge set the remainder escalates to [[starComponents]]
    * (O(log diameter) guaranteed; it throws at its own bound rather
    * than return partial labels) and the final mapping composes back.
    * Rounds that do halve it are not counted: they are the cheap ones
    * (two checkpoints on a shrinking graph, where a star round costs
    * more jobs), and there are at most log2 |E| of them. The edge
    * count each round's checkpoint already observes decides.
    * Labels are min-member ids at every step — the component min maps
    * to itself in every round, every other label strictly decreases.
    *
    * Returns (id, cluster_id = min reachable id) for every id named by
    * an edge — self-loop-only nodes label themselves; a vertex in no
    * edge is absent (singletons need no dedup action; callers that
    * need every vertex left-join and label it itself). Cache contract:
    * superseded rounds' checkpoint blocks are freed deterministically
    * (see [[Lineage]]); only the escaping frame is left to the
    * ContextCleaner.
    */
  def contractiveComponents(edges: DataFrame, idA: String = "id_a",
                            idB: String = "id_b", contractRounds: Int = 4): DataFrame = {
    // canonical undirected edges BETWEEN CURRENT LABELS (self-loops out).
    // The emptiness witness (count) rides each edge checkpoint's own
    // materialization job (checkpointObserved, round 15) — the loop no
    // longer pays a separate isEmpty job per round.
    val witness = count(lit(1)).as("n")
    // the input plan runs ONCE: its canonical edges, self-loops still
    // in, are checkpointed, and both the round-0 edge set and the id
    // set read that (callers hand in joins — q208's co-purchase
    // self-join, the LSH pair verification — not materialized frames)
    val (input, mIn, freeInput) = Lineage.checkpointObserved(
      edges.select(greatest(col(idA), col(idB)).as("a"),
                   least(col(idA), col(idB)).as("b")).distinct(),
      count(when(col("a") =!= col("b"), 1)).as("n"))
    var (e, freeE) = (input.filter(col("a") =!= col("b")), freeInput)
    // composed id -> current-label mapping over ALL ids seen in the
    // input (self-loop-only nodes stay their own singleton labels)
    var (labels, freeLabels) = Lineage.checkpoint(
      input.select(col("a").as("id")).unionByName(input.select(col("b").as("id")))
        .distinct().withColumn("cluster_id", col("id")))
    var n = mIn("n").asInstanceOf[Long]
    var slowRounds = 0
    while (n != 0L && slowRounds < contractRounds) {
      val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
      // m(l) = min(N(l) ∪ {l}) — one map-side-combinable aggregate over
      // the CURRENT (already contracted) edge set
      val m = sym.groupBy(col("a"))
        .agg(least(min(col("b")), col("a")).as("m"))
        .select(col("a").as("old"), col("m"))
      // compose: labels whose component already collapsed are absent
      // from m (no edges left) and keep themselves
      val (labelsN, freeLabelsN) = Lineage.checkpoint(
        labels.join(m, labels("cluster_id") === m("old"), "left")
          .select(col("id"), coalesce(col("m"), col("cluster_id")).as("cluster_id")))
      // contract: edges between distinct mapped labels form the next
      // (component) graph — within-star edges vanish here, which is
      // where the geometric shrinkage comes from
      val mA = m.select(col("old").as("a"), col("m").as("ma"))
      val mB = m.select(col("old").as("b"), col("m").as("mb"))
      val (eN, mEN, freeEN) = Lineage.checkpointObserved(
        e.join(mA, "a").join(mB, "b")
          .select(greatest(col("ma"), col("mb")).as("a"),
                  least(col("ma"), col("mb")).as("b"))
          .filter(col("a") =!= col("b")).distinct(), witness)
      freeLabels(); freeE()
      labels = labelsN; freeLabels = freeLabelsN
      e = eN; freeE = freeEN
      val nN = mEN("n").asInstanceOf[Long]
      if (2 * nN > n) slowRounds += 1
      n = nN
    }
    if (n == 0L) { freeE(); labels }
    else {
      // adversarially deep remainder: hand the (contracted, small)
      // label graph to the log-round tier and compose once more. The
      // composed result is CHECKPOINTED BEFORE the inputs are freed —
      // starComponents' output is lazy in our edge frame (its self-loop
      // recovery re-reads the symmetric input), so freeing first would
      // unpersist blocks the result still needs.
      val comp = starComponents(
        e.select(col("a").as("src"), col("b").as("dst"))
          .unionByName(e.select(col("b").as("src"), col("a").as("dst"))))
      val (out, _) = Lineage.checkpoint(
        labels.join(
            comp.select(col("id").as("old"), col("cluster_id").as("cid")),
            labels("cluster_id") === col("old"), "left")
          .select(labels("id"), coalesce(col("cid"), labels("cluster_id")).as("cluster_id")))
      freeE(); freeLabels()
      out // escapes to the caller — its blocks are the ContextCleaner's
    }
  }

  /** Alternating large-star/small-star connected components — the
    * log-diameter escalation for adversarially deep graphs (algorithm
    * from the public "Connected Components in MapReduce and Beyond"
    * literature). Each round is two rewrites of the edge multiset, both
    * expressed as groupBy-min + equi-join (map-side combinable, no
    * neighbor lists are ever collected, so a hub node never
    * materializes its adjacency in one place):
    *
    *  - large-star: every node attaches its strictly-larger neighbors
    *    to the minimum of its neighborhood (incl. itself);
    *  - small-star: every node attaches its smaller-or-equal neighbors
    *    (and itself) to that minimum.
    *
    * The edge set monotonically contracts toward a star per component
    * (every node pointing at the component min); rounds needed are
    * O(log diameter), so `maxRounds = 30` covers any graph that could
    * physically exist (diameter 2^30). If the fixed point is not
    * reached, this THROWS — partial labels are never returned.
    *
    * Returns (id, cluster_id), same contract as
    * [[contractiveComponents]], whose escalation tier this is (the
    * specs also run it alone, as the kernel's independent reference).
    * Per-round frames are eagerly localCheckpoint'ed: the Catalyst
    * tree would otherwise grow exponentially across rounds (each round
    * references the previous edge set three times); finished rounds'
    * blocks are freed deterministically per round (see [[Lineage]]).
    */
  def starComponents(symEdges: DataFrame, maxRounds: Int = 30): DataFrame = {
    // canonical down-pointing parent edges (src > dst), self-loops out.
    // Edge counts ride each checkpoint's materialization job
    // (checkpointObserved, round 15) — no separate count per round.
    val witness = count(lit(1)).as("n")
    var (e, mE, freeE) = Lineage.checkpointObserved(symEdges.select(
        greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct(), witness)
    var n = mE("n").asInstanceOf[Long]
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      // large-star over the symmetric view: m(u) = min(N(u) ∪ {u});
      // emit (v, m(u)) for every neighbor v > u — always down-pointing
      // because m(u) <= u < v.
      val sym = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      val minsL = sym.groupBy(col("src"))
        .agg(least(min(col("dst")), col("src")).as("m"))
      val (large, freeLarge) = Lineage.checkpoint(
        sym.join(minsL, "src").filter(col("dst") > col("src"))
          .select(col("dst").as("src"), col("m").as("dst"))
          .distinct())
      // small-star over the down-pointing large-star output:
      // m(u) = min(Γ⁻(u)); emit (u, m(u)) and (v, m(u)) for the other
      // small neighbors v ≠ m.
      val minsS = large.groupBy(col("src")).agg(min(col("dst")).as("m"))
      val joined = large.join(minsS, "src")
      val (next, mNext, freeNext) = Lineage.checkpointObserved(
        joined.select(col("src"), col("m").as("dst"))
          .unionByName(joined.filter(col("dst") =!= col("m"))
            .select(col("dst").as("src"), col("m").as("dst")))
          .filter(col("src") =!= col("dst"))
          .distinct(), witness)
      // exact fixed-point check: next ⊆ e with equal distinct counts ⇒
      // set equality; a fixed point of large∘small is a star forest.
      val nNext = mNext("n").asInstanceOf[Long]
      converged = nNext == n && next.except(e).isEmpty
      freeLarge() // next is materialized; the intermediate is dead
      freeE()     // the except() check above was the last read of e
      e = next
      freeE = freeNext
      n = nNext
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"starComponents did not reach a fixed point in $maxRounds rounds — refusing to return partial labels")
    // fixed point is a star forest: edges are (node, root); roots
    // appear only on the dst side and label themselves
    val roots = e.select(col("dst").as("id")).distinct()
      .join(e.select(col("src").as("id")), Seq("id"), "left_anti")
      .withColumn("cluster_id", col("id"))
    val labelled = e.select(col("src").as("id"), col("dst").as("cluster_id"))
      .unionByName(roots)
    // node-set parity with the contraction tier: nodes whose only edges
    // were self-loops vanished at canonicalization — they are their
    // own singleton components and must still be labelled
    val selfOnly = symEdges.select(col("src").as("id")).distinct()
      .join(labelled.select(col("id")), Seq("id"), "left_anti")
      .withColumn("cluster_id", col("id"))
    labelled.unionByName(selfOnly)
  }

  /** Brute-force Jaccard pairs over a bounded id range (oracle /
    * recall baseline — NOT the scale path).
    */
  def bruteJaccardPairs(docs: DataFrame, idCap: Long, threshold: Double): DataFrame = {
    val sub = docs.filter(col("doc_id") < idCap)
    val ids = sub.select(col("doc_id").as("id_a"))
      .crossJoin(sub.select(col("doc_id").as("id_b")))
      .filter(col("id_a") < col("id_b"))
    withJaccard(ids, sub).filter(col("jaccard") >= threshold)
  }

  /** Per-doc 48-bit SimHash signatures: token hashes materialized once,
    * then one pass of the codegen'd SimHash48 expression.
    */
  def withSimhash(docs: DataFrame): DataFrame =
    docs.withColumn("__th", transform(tokens(col("text")), TextAnalysis.tokenHashHex(_)))
      .withColumn("simhash", graft.functions.SimHashFunctions.simhash48(col("__th")))
      .drop("__th")

  /** SimHash near-pairs with hamming distance <= maxHamming (< 4):
    * pigeonhole on four 12-bit blocks — any pair within hamming 3
    * shares at least one unchanged block, so an equi-join on
    * (block_idx, block_value) finds all of them without a cross join.
    * 12-bit blocks keep random collisions at ~2.4e-4 per block, so the
    * candidate set stays near-linear in true near-dups at scale.
    *
    * Cache contract: the returned plan reads a persisted signature
    * frame (the self-join's two sides); the CALLER owns releasing it
    * (`spark.catalog.clearCache()` after consuming), as Bench/Verify
    * do per query.
    */
  def simhashNearPairs(sigsIn: DataFrame, maxHamming: Int,
                       maxBucket: Int = Int.MaxValue): DataFrame = {
    require(maxHamming < 4, "4-block pigeonhole covers hamming <= 3")
    // Self-join reads the signature subtree twice; persist converts
    // 2x hash compute into one materialization (prod: a signatures
    // table). ContextCleaner unpersists when the plan is GC'd.
    val sigs = sigsIn.select(col("doc_id"), col("simhash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sigs.count() // eager fill, no double-compute race (see minhashNearDups)
    val allNibbles = sigs.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(j =>
          struct(lit(j).as("nib"),
            shiftright(col("simhash"), 12 * j).bitwiseAND(lit(4095L)).as("nv"))): _*)).as("n"))
      .select(col("doc_id"), col("simhash"), col("n.nib"), col("n.nv"))
    // stop-bucket guard (see capBuckets): a boilerplate corpus puts
    // thousands of identical signatures in one (nib, nv) bucket
    val nibbles =
      if (maxBucket == Int.MaxValue) allNibbles
      else capBuckets(allNibbles, Seq("nib", "nv"), maxBucket)
    val l = nibbles.select(col("doc_id").as("id_a"), col("simhash").as("sh_a"), col("nib"), col("nv"))
    val r = nibbles.select(col("doc_id").as("id_b"), col("simhash").as("sh_b"), col("nib"), col("nv"))
    l.join(r, Seq("nib", "nv")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sh_a"), col("sh_b")).distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }
}
