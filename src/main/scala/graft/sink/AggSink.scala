package graft.sink

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.BoundValue

/** Incremental AGGREGATE maintenance — the materialized-view twin of
  * `MergeSink` (same hash-bucketed, partition-pruned table layout;
  * different merge algebra): where MergeSink keeps the LATEST row per
  * key, AggSink keeps commutative-monoid aggregates (sums + counts)
  * per key and FOLDS each micro-batch's partials in, so a 100 TB
  * events history never has to be re-scanned to refresh the analytics
  * table.
  *
  * Per batch: (1) the batch pre-aggregates to one partial row per key
  * (map-side combinable); (2) only the bucket partitions containing
  * those keys are read; (3) partials add to the stored aggregates —
  * sums of sums, counts of counts, all associative + commutative, so
  * any batch slicing converges to the whole-history aggregate; (4)
  * only touched buckets rewrite, into a fresh generation published by
  * one [[TableManifest]] commit.
  *
  * EXACTNESS: sum columns should be decimal or integral — float sums
  * depend on addition order across batches, exact types do not (the
  * same discipline as q73's integer moments). avg = sum/count at read.
  *
  * REPLAY SAFETY (addition is NOT idempotent): the applied-batch-id
  * fence is stored INSIDE the state table — every bucket rewrite
  * carries the writing batch's id in the `__applied_batch` column, so
  * fence and data publish in the SAME manifest commit; there is no
  * separate fence write and therefore no crash window between data
  * commit and fence commit. On re-delivery of batch B (restart
  * replay), each touched bucket is folded only if its stored fence is
  * < B: a crash leaves the snapshot either old (every bucket's fence
  * < B, refolded on replay) or new (fence = B, skipped) — per-bucket
  * exactly-once.
  * Structured Streaming's monotone batch ids + single-writer
  * discipline (every fold is one [[TableManifest.write]], under the
  * table handle's writer lock, as every MergeSink write is) make the
  * fence comparison sound: batch B is only ever re-delivered while no
  * batch > B has committed its offsets.
  *
  * Writes go through [[TableManifest]] snapshot commits (immutable
  * generation dirs + one atomic manifest rename), so a crash at any
  * point leaves either the old snapshot or the new one, never a
  * partial table; a replayed batch after a pre-commit crash folds
  * exactly once (PipelineSpec crash-injection tests cover both crash
  * sides).
  *
  * FOLD PARALLELISM: each fold is one `repartition(col(__bucket))`
  * exchange (see `fold`), so at most one non-empty task per
  * TOUCHED bucket does the aggregate — a batch touching 4 buckets
  * folds on at most 4 cores however many the cluster has. Size
  * `nBuckets` to at least the number of cores you want folding (and,
  * as for [[MergeSink]], so one bucket stays a few GB at scale).
  */
final class AggSink(
    spark: SparkSession,
    val path: String,
    keys: Seq[String],
    sumCols: Seq[String],
    nBuckets: Int = 64) {

  import TableManifest.BucketCol
  private val CountCol = "n_rows"
  private val FenceCol = "__applied_batch"

  private[graft] val manifest = new TableManifest(spark, path)

  private def bucketOf: Column = pmod(hash(keys.map(col): _*), lit(nBuckets))

  /** Pre-manifest table adoption — see [[MergeSink.migrateLegacy]]. */
  def migrateLegacy(): Unit = manifest.write("migrate")(_.migrateLegacy())

  /** Aggregate state as of retained version `v` (the manifest version
    * log is shared with MergeSink — every fold is a numbered snapshot).
    */
  def readAt(v: Long): DataFrame =
    visible(manifest.at(v), s"version $v at $path holds no buckets")

  /** Retention knob bounding version-log storage — see
    * [[graft.sink.TableManifest.Txn.expireVersions]].
    */
  def expireVersions(keepLast: Int): Unit = manifest.write("expire")(_.expireVersions(keepLast))

  /** Current aggregate state: keys ++ sumCols ++ n_rows. Keys whose
    * count has been RETRACTED to zero ([[foldPartials]]) are excluded:
    * their zero-count rows persist physically only to carry the
    * per-bucket replay fence (dropping them at fold time would lose
    * the fence with them, and a replayed retraction would then
    * re-apply into negative state). Insert-only views never hold a
    * zero row, so this filter is invisible to them.
    */
  def read(): DataFrame = visible(manifest.current(), s"no committed state at $path")

  /** Snapshot `s`'s live aggregate rows; throws `missing` when `s` maps
    * no bucket.
    */
  private def visible(s: TableManifest.Snapshot, missing: => String): DataFrame =
    manifest.scan(s).map(_.drop(BucketCol, FenceCol).filter(col(CountCol) =!= 0L))
      .getOrElse(throw new IllegalStateException(missing))

  /** Fold one micro-batch of RAW rows into the aggregate table.
    * `batchId` >= 0 arms the per-bucket fence (buckets that already
    * folded this id are left untouched — their files are not even
    * rewritten); -1 folds unconditionally (non-streaming use) while
    * carrying existing fences forward.
    */
  def merge(batch: DataFrame, batchId: Long = -1L): Unit =
    fold(batch.groupBy(keys.map(col): _*)
      .agg(sum(col(sumCols.head)).as(sumCols.head),
           (sumCols.tail.map(c => sum(col(c)).as(c)) :+
             count(lit(1)).cast("long").as(CountCol)): _*), batchId)

  /** RETRACTION fold (the delete half of the IVM algebra — Flink's
    * retract-stream analog): `partials` arrives PRE-AGGREGATED as
    * keys ++ sumCols ++ n_rows, with retractions carrying NEGATIVE
    * sums and negative n_rows. Addition is the same commutative monoid
    * fold as [[merge]] — negation makes it a group, so any interleave
    * of inserts and retractions converges to the surviving-row
    * aggregate. A key retracted to count zero disappears from
    * [[read]]; its zero row persists physically to keep the bucket's
    * replay fence (see read's doc — the q266 gate and PipelineSpec
    * prove replayed retractions are fenced no-ops, not
    * double-subtractions). Same fence, same atomic commit, same
    * bucket pruning as merge.
    */
  def foldPartials(partials: DataFrame, batchId: Long = -1L): Unit =
    fold(partials.select((keys ++ sumCols :+ CountCol).map(col): _*), batchId)

  /** One [[TableManifest.write]]: fold `partial0` (keys ++ sumCols ++
    * n_rows) into the touched buckets and commit them.
    */
  private def fold(partial0: DataFrame, batchId: Long): Unit = manifest.write("merge") { tx =>
    // the partial frame is consumed twice (touched-bucket discovery,
    // then the fold's write) and its upstream can be an arbitrarily
    // expensive plan (q274's per-wave feed join) — persist it so the
    // plan runs ONCE; the frame is pre-aggregated (one row per key x
    // batch), so the cache is partial-sized, not batch-sized. The
    // touched collect below materializes it eagerly.
    val partial = partial0.withColumn(BucketCol, bucketOf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val s = tx.base
      val touched = TableManifest.touchedBuckets(partial, col(BucketCol))
      if (touched.nonEmpty) {
        // Per-bucket applied fences ride the fold plan itself (round
        // 15): state rows KEEP their fence through the aggregate
        // (max(FenceCol) per key — every row of a committed bucket
        // carries the same fence, partial rows carry null), a window
        // over the bucket column (the same partitioning the
        // reclamation windows below already establish) yields each
        // bucket's applied fence, and the fold filter + the new fence
        // column derive from it — so the old separate fences-collect
        // job (a second read of the touched buckets) is gone. A bucket
        // new in this batch has no state row -> null fence -> -1 ->
        // foldable, exactly the old Map.getOrElse(-1) semantics.
        val partialIn = partial.withColumn(FenceCol, lit(null).cast("long"))
        val base = manifest.scan(s, Some(touched)) match {
          case Some(state) => state.unionByName(partialIn)
          case None        => partialIn
        }
        // fence-row reclamation: a key retracted to count zero exists
        // only to carry its bucket's replay fence — once the bucket
        // holds ANY nonzero row (which carries the same per-bucket
        // fence in this write), zero rows are dead state that would
        // otherwise grow with every key ever retracted. Keep zero rows
        // only in buckets that would otherwise lose their fence, and
        // then exactly one (deterministic: first in key order — keys
        // are unique post-aggregate). One window shuffle on the bucket
        // column, the same partitioning the write needs anyway.
        val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col(BucketCol))
        val wOrd = wAll.orderBy(keys.map(col): _*)
        val aggs = sumCols.map(c => sum(col(c)).as(c)) ++ Seq(
          sum(col(CountCol)).as(CountCol), max(col(FenceCol)).as("__f_key"))
        val applied = max(col("__f_key")).over(wAll)
        // fence travels WITH the data: same files, same atomic manifest
        // commit — never ahead of or behind the aggregate it certifies.
        // Unfenced merges (batchId = -1) carry prior fences forward;
        // an already-fenced bucket's rows are filtered out wholesale,
        // so its files are not even rewritten (the replay no-op). The
        // batch id is a bound value, not a literal, so the next batch
        // reuses this batch's compiled fold.
        //
        // ONE exchange serves the whole fold (round 16, guide §2.4):
        // the bucket column is functional on the keys, so grouping by
        // (bucket ++ keys) under an explicit hash(bucket) repartition
        // satisfies the aggregate's distribution AND both windows'
        // partitionBy(bucket) — the old shape exchanged once for the
        // agg (hash keys) and again for the windows (hash bucket). The
        // price: at most one non-empty task per touched bucket (class
        // doc, FOLD PARALLELISM).
        val bid = BoundValue.of(batchId)
        val w = manifest.writeGeneration("fold", base.repartition(col(BucketCol))
          .groupBy((col(BucketCol) +: keys.map(col)): _*)
          .agg(aggs.head, aggs.tail: _*)
          .withColumn("__f_bucket", coalesce(applied, lit(-1L)))
          .transform(df => if (batchId < 0) df else df.filter(col("__f_bucket") < bid))
          .withColumn("__nz",
            max(when(col(CountCol) =!= 0L, 1).otherwise(0)).over(wAll))
          .withColumn("__rk", row_number().over(wOrd))
          .filter(col(CountCol) =!= 0L || (col("__nz") === 0 && col("__rk") === 1))
          .withColumn(FenceCol, greatest(bid, col("__f_bucket")))
          .drop("__nz", "__rk", "__f_key", "__f_bucket"))
        // a fully-fenced (replayed) batch writes no bucket dir: no
        // commit, no version — the old fold-set-empty skip, now decided
        // by the write's own output
        if (w.buckets.nonEmpty) tx.commit(w.mapping)
      }
    } finally partial.unpersist()
  }

  /** foreachBatch adapter: the fence rides inside the state write, so
    * a crash at ANY point replays into a correct fold (see class doc).
    */
  def forEachBatch: (DataFrame, Long) => Unit =
    (batch, id) => merge(batch, id)

  /** Highest batch id folded into any bucket (-1 if none) — metadata
    * read over the fence column only.
    */
  def lastBatchId: Long =
    manifest.scan(manifest.current()) match {
      case None => -1L
      case Some(df) =>
        // max() over an existing-but-empty table is NULL, not an error
        val r = df.agg(max(col(FenceCol))).first()
        if (r.isNullAt(0)) -1L else r.getLong(0)
    }
}
