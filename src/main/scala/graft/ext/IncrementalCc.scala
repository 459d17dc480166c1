package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** One batch step of incremental connected components (the q249
  * maintenance loop, exposed so the absorption paths can be
  * spec-tested on synthetic edge sequences).
  *
  * Contract: `labels` is the current (id, cluster_id) table holding
  * the min-member-id label invariant; `edges` is the batch's new
  * (id_a, id_b) pairs. Returns exactly the rows to UPSERT — new
  * nodes with their final labels plus every member of a component
  * absorbed into a smaller label. Cost is O(|edges| + members of
  * changed components); the label-contraction CC runs on a frame of
  * at most 2|edges| label nodes (component-cardinality metadata),
  * via the same kernel as the batch path
  * ([[Dedup.contractiveComponents]]). Applying the returned upserts
  * preserves the invariant, so any edge-arrival order converges to
  * the one-shot batch CC bit-for-bit.
  */
object IncrementalCc {

  def labelSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("cluster_id", LongType)))

  def emptyLabels(s: SparkSession): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], labelSchema)

  /** Contraction-graph size (edges) below which the per-batch label CC
    * runs as a DRIVER union-find instead of the distributed fixpoint.
    * The contraction graph is batch-METADATA-scale by the class
    * contract (at most 2|edges| label nodes), and the distributed CC
    * costs 6-10 sequential job launches per micro-batch for what is
    * typically a few hundred label edges — the same driver/distributed
    * threshold choice as broadcast joins and the absorbedProbeCap
    * probe list. 100k edges collect as ~1.6 MB; a batch whose
    * contraction exceeds the cap (corpus-scale backfill slices) takes
    * the distributed path unchanged.
    */
  val ContractionDriverCap = 100000

  /** The contraction CC's old_lbl -> new_lbl mapping, computed on the
    * driver (min-label union-find) when the contraction graph fits
    * [[ContractionDriverCap]], else by [[Dedup.contractiveComponents]].
    * The ONE bounded collect also answers emptiness, so callers no
    * longer pay a separate isEmpty probe job. Labels are identical to
    * the distributed tier's by construction: both emit, for every node
    * of the contraction graph, the minimum reachable node id
    * (ExtSpec "driver union-find" pins equality).
    */
  private[graft] def contractionMapping(s: SparkSession, contraction: DataFrame,
                                        cap: Int = ContractionDriverCap): DataFrame = {
    val sample = contraction.limit(cap + 1).collect()
    if (sample.isEmpty)
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("old_lbl", LongType), StructField("new_lbl", LongType))))
    else if (sample.length <= cap) {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      sample.foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        val (ra, rb) = (find(a), find(b))
        // min-label union: the smaller root stays the representative,
        // so every component's root IS its minimum member id
        if (ra != rb) {
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        } else parent.getOrElseUpdate(ra, ra)
      }
      val nodes = sample.iterator.flatMap(r => Iterator(r.getLong(0), r.getLong(1)))
        .toArray.distinct
      import s.implicits._
      nodes.toSeq.map(n => (n, find(n))).toDF("old_lbl", "new_lbl")
    } else
      Dedup.contractiveComponents(contraction, "la", "lb")
        .select(col("id").as("old_lbl"), col("cluster_id").as("new_lbl"))
  }

  def applyBatch(s: SparkSession, labels: DataFrame, edges: DataFrame): DataFrame = {
    val lab = labels.select(col("id"), col("cluster_id"))
    val eps = edges.select(col("id_a").as("id"))
      .unionByName(edges.select(col("id_b").as("id"))).distinct()
    val withLbl = eps.join(lab, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("lbl"))
      .localCheckpoint(true)
    val contraction = edges
      .join(withLbl.select(col("id").as("id_a"), col("lbl").as("la")), "id_a")
      .join(withLbl.select(col("id").as("id_b"), col("lbl").as("lb")), "id_b")
      .select(col("la"), col("lb")).filter(col("la") =!= col("lb"))
    val mapping = contractionMapping(s, contraction)
    val withFinal = withLbl
      .join(mapping, withLbl("lbl") === mapping("old_lbl"), "left")
      .select(col("id"), coalesce(col("new_lbl"), col("lbl")).as("cluster_id"))
    val newNodes = withFinal.join(lab.select(col("id")), Seq("id"), "left_anti")
    val absorbed = lab.as("l")
      .join(mapping.filter(col("new_lbl") =!= col("old_lbl")),
        col("l.cluster_id") === col("old_lbl"))
      .select(col("l.id").as("id"), col("new_lbl").as("cluster_id"))
    newNodes.unionByName(absorbed)
  }

  /** [[applyBatch]] against a MergeSink-BACKED labels table, with the
    * per-batch table touches pruned to the metadata the sink already
    * maintains — the q249 production shape. [[applyBatch]]'s frame
    * form scans the full labels table three times per batch (endpoint
    * lookup, new-node anti-join, absorbed-member sweep); at a fixed
    * gate batch count that is linear-total, but a production stream of
    * SMALL batches against a 100 TB labels table must not pay
    * O(corpus) per micro-batch. Here:
    *
    *  - endpoint lookup AND new-node anti-join read
    *    [[graft.sink.MergeSink!.readForKeys]] — only the buckets the
    *    batch's endpoint ids route to (a key present in the table is
    *    always inside its bucket, so the superset read keeps both
    *    joins exactly equivalent to the full-frame forms);
    *  - the absorbed-member sweep (keyed by CLUSTER_ID, not the bucket
    *    key) goes through the sink's cluster_id bloom sidecars
    *    ([[graft.sink.MergeSink!.readPoints]]) when the batch changed
    *    few labels (<= absorbedProbeCap, counted first — the measured
    *    gate discipline), falling back to the full-table join when a
    *    batch rewires more components than a point sweep should carry
    *    (driver probe lists are metadata, never data-scale).
    *
    * Equivalence to [[applyBatch]] is spec-enforced on synthetic
    * sequences through both the pruned and fallback paths; the sink
    * must be keyed ("id") and SHOULD name "cluster_id" in bloomCols
    * (missing sidecars never prune — the path stays correct, just
    * unpruned). Returns the same upsert rows as [[applyBatch]].
    *
    * SINGLE-WRITER ASSUMPTION: the step performs two independently
    * version-fenced reads (the readForKeys lookup/anti-join, then the
    * absorbed sweep) — each is internally consistent, but a concurrent
    * writer committing BETWEEN them would mix two table versions
    * inside one batch step. The caller must be the table's only
    * writer for the duration of the step (true of the foreachBatch
    * loop that owns the sink — merge's writer lock covers commits,
    * not this read-compute phase).
    */
  def applyBatchIndexed(s: SparkSession, sink: graft.sink.MergeSink,
                        edges: DataFrame,
                        absorbedProbeCap: Int = 10000): DataFrame = {
    if (sink.versions().isEmpty)
      return applyBatch(s, emptyLabels(s), edges)
    val eps = edges.select(col("id_a").as("id"))
      .unionByName(edges.select(col("id_b").as("id"))).distinct()
    val s2 = s // JobLabel takes the session; keep the param name free
    val lookup = sink.readForKeys(eps).select(col("id"), col("cluster_id"))
    val withLbl = graft.core.JobLabel(s2, "icc:lookup") {
      eps.join(lookup, Seq("id"), "left")
        .select(col("id"), coalesce(col("cluster_id"), col("id")).as("lbl"))
        .localCheckpoint(true)
    }
    val contraction = edges
      .join(withLbl.select(col("id").as("id_a"), col("lbl").as("la")), "id_a")
      .join(withLbl.select(col("id").as("id_b"), col("lbl").as("lb")), "id_b")
      .select(col("la"), col("lb")).filter(col("la") =!= col("lb"))
    val mapping = graft.core.JobLabel(s2, "icc:contract-cc") {
      contractionMapping(s, contraction)
    }
    val withFinal = withLbl
      .join(mapping, withLbl("lbl") === mapping("old_lbl"), "left")
      .select(col("id"), coalesce(col("new_lbl"), col("lbl")).as("cluster_id"))
    // anti-join against the touched-bucket read: an id present in the
    // table routes to a touched bucket, so absence from `lookup` IS
    // absence from the table
    val newNodes = withFinal.join(lookup.select(col("id")), Seq("id"), "left_anti")
    // `mapping` is the driver union-find's local frame or the CC
    // kernel's lineage-checkpointed output, so this filter and its bounded
    // collect are cheap scans of existing blocks (phase-profiled at
    // sf10: ~0.2 s/batch); persisting or re-checkpointing here would
    // only add corpus-scale disk passes.
    // ONE bounded collect decides the absorbed-sweep strategy AND
    // supplies the probe labels (round 15): the old count()-then-
    // collect() pair paid two job launches per batch for the same
    // metadata — collecting cap+1 rows answers "zero / probe-sized /
    // over cap" and yields the probe list in a single job.
    val changed = mapping.filter(col("new_lbl") =!= col("old_lbl"))
    val lblsCapped = graft.core.JobLabel(s2, "icc:changed") {
      changed.select(col("old_lbl")).limit(absorbedProbeCap + 1)
        .collect().map(_.getLong(0)).toSeq
    }
    val members =
      if (lblsCapped.isEmpty)
        lookup.filter(lit(false))
      else if (lblsCapped.size <= absorbedProbeCap) {
        // no residual isin: the equi-join below discharges the bloom's
        // false positives (readPoints' giant-isin form is for SMALL
        // probe sets)
        graft.core.JobLabel(s2, "icc:members") {
          sink.readBucketsForPoints("cluster_id", lblsCapped)
            .select(col("id"), col("cluster_id"))
        }
      } else sink.read().select(col("id"), col("cluster_id"))
    val absorbed = members.as("l")
      .join(changed, col("l.cluster_id") === col("old_lbl"))
      .select(col("l.id").as("id"), col("new_lbl").as("cluster_id"))
    newNodes.unionByName(absorbed)
  }
}
