package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.LongType
import graft.functions.BoundValue
import graft.ops.Cdc

/** Durable keyed MERGE upsert sink — the production replacement for
  * `CdcStream.foreachBatchMerge`'s full-state rewrite, and the Spark
  * twin of the reference's warehouse upsert (consumer/DoFns/
  * load_data.py:52-60 `insert_rows` into the ClickHouse
  * ReplacingMergeTree of clickhouse/init.sql:22-24).
  *
  * The state table is parquet-partitioned on a bucket of the merge
  * keys, `__bucket = f(keys)`, where `f` is one of two layouts:
  *
  *  - HASH (default): `pmod(hash(keys), nBuckets)` — uniform spread,
  *    hot keys scattered; point lookups and merges prune by bucket.
  *  - RANGE (`rangeBucketWidth = Some(w)`): `pmod(keys.head div w,
  *    nBuckets)` — CONTIGUOUS key ranges share a bucket, so zone-map
  *    statistics on the key (below) become tight and RANGE predicates
  *    prune at the metadata level. The ClickHouse analog is ORDER BY
  *    key range granules; the trade is skew sensitivity (pick `w` so
  *    the key domain spreads across buckets).
  *
  * Each `merge(batch)`:
  *
  *   1. computes the batch's touched buckets (a `distinct` over the
  *      bucket expression — at most `nBuckets` small ints reach the
  *      driver; this IS the partition-pruning decision, metadata not
  *      data);
  *   2. reads ONLY those bucket partitions of the state table (the
  *      `isin` filter prunes at the parquet partition level — verified
  *      by PlanSpec's PartitionFilters audit);
  *   3. LWW-merges state + batch with `Cdc.latestByKey` (commutative,
  *      associative, idempotent — replaying a batch is a no-op on
  *      content);
  *   4. rewrites ONLY the touched buckets into a fresh generation dir
  *      and publishes via one atomic manifest commit (untouched bucket
  *      directories keep their files byte-for-byte — asserted in
  *      PipelineSpec).
  *
  * Cost per micro-batch is O(|touched state| + |batch|), not
  * O(|state|): with uniform key hashing a batch touching k distinct
  * keys reads at most min(k, nBuckets)/nBuckets of the table. At
  * 100 TB, size `nBuckets` so one bucket ≈ a few GB (e.g. 16k buckets
  * for 100 TB); hot-key skew spreads by hash, and the merge itself is
  * the same map-side-combine hash aggregate as the batch path.
  *
  * ZONE MAPS (`statsCols`): after each rewrite the sink records
  * per-bucket min/max of the named numeric columns in the manifest
  * (read from the freshly written files' parquet footers, or a
  * columnar scan of only those columns where a footer cannot decide).
  * [[readRange]] then resolves ONLY the buckets whose range can
  * intersect the predicate — Iceberg-style data skipping where files
  * outside the range are never even listed.
  * Stats are only selective when layout correlates with the column
  * (range bucketing on a key, or a time-ordered ingest on an
  * event-time column); under hash bucketing they are recorded but
  * typically span the full domain — documented, not hidden.
  *
  * Write atomicity is SNAPSHOT-grade via [[TableManifest]]: every
  * commit writes immutable files into a fresh generation dir and then
  * atomically renames a new manifest into place — a crash at any
  * point before the rename leaves the previous snapshot fully intact
  * (no more delete-before-rename partition-overwrite window), and a
  * crash after it is a complete commit. Combined with Structured
  * Streaming: the LWW merge is idempotent, so at-least-once
  * redelivery of a micro-batch after a crash converges to the same
  * state (StreamingSpec's checkpoint-restart case proves it); the
  * manifest makes each individual commit all-or-nothing
  * (PipelineSpec's crash-injection case proves that).
  *
  * TIME TRAVEL: every commit is a retained, numbered version
  * ([[TableManifest]] version log). [[readAt]] reads the table as of
  * any retained version — the audit/debug/reproducibility primitive a
  * training-data warehouse needs ("which exact state fed run N?").
  * [[expireVersions]] is the retention knob that bounds history
  * storage; expiry is what finally frees superseded generations.
  */
final class MergeSink(
    spark: SparkSession,
    val path: String,
    keys: Seq[String],
    orderCols: Seq[String],
    nBuckets: Int = 64,
    statsCols: Seq[String] = Seq.empty,
    rangeBucketWidth: Option[Long] = None,
    bloomCols: Seq[String] = Seq.empty,
    bloomBits: Int = BucketBloom.DefaultBits) {

  import MergeSink.{BucketCol, LayoutStride, MaxLayoutGen}
  import TableManifest.{Layout, Migration, Snapshot, Written}

  private[graft] val manifest = new TableManifest(spark, path)

  /** Gate/spec instrumentation: per-instance counters of sidecar-
    * pruned point probes ([[readBucketsForPoints]]) — probes made,
    * buckets admitted, buckets that existed at probe time. A gate that
    * claims its sweep pruned can REQUIRE admitted < total instead of
    * trusting the plan comment (per-instance, so concurrent queries'
    * probes on OTHER tables cannot contaminate the evidence).
    */
  val probeCount = new java.util.concurrent.atomic.AtomicLong(0)
  val probeBucketsAdmitted = new java.util.concurrent.atomic.AtomicLong(0)
  val probeBucketsTotal = new java.util.concurrent.atomic.AtomicLong(0)

  /** Commit-time stats provenance counters (round 15): how many
    * generations' zone maps came from parquet FOOTERS (O(files)
    * metadata) vs the fallback columnar re-scan — the spec pins that
    * the footer path actually fires, not just that stats are right.
    */
  val statsFromFooter: java.util.concurrent.atomic.AtomicLong = manifest.statsFromFooter
  val statsFromScan: java.util.concurrent.atomic.AtomicLong = manifest.statsFromScan

  /** LAYOUT IS MANIFEST-AUTHORITATIVE: the constructor's
    * nBuckets/rangeBucketWidth only name the layout a NEW table is
    * created with; once any commit has recorded a layout header, every
    * handle — including one constructed with stale parameters, or one
    * held from before a [[rebucket]]/[[beginMigration]] — routes by
    * the COMMITTED layout of the operation's snapshot. This closes the
    * silent-wrong-modulus hazard of handle-owned bucket arithmetic:
    * there is nothing on the handle left to go stale.
    */
  private def layoutOf(s: Snapshot): Layout =
    s.layout.getOrElse(Layout(0, nBuckets, rangeBucketWidth))

  private def logicalOf(l: Layout): Column = l.rangeWidth match {
    case Some(w) => pmod(expr(s"${keys.head} div $w"), lit(l.n.toLong)).cast("int")
    case None    => pmod(hash(keys.map(col): _*), lit(l.n))
  }

  /** Physical bucket id of layout `l`: generation-namespaced so two
    * layouts' buckets can coexist in one snapshot mid-migration
    * (gen 0 keeps bare ids — byte-compatible with every pre-layout
    * table).
    */
  private def physOf(l: Layout): Column =
    if (l.gen == 0) logicalOf(l)
    else (lit(l.gen * LayoutStride) + logicalOf(l)).cast("int")

  /** Migration-aware routing: a key whose OLD-layout bucket has been
    * migrated routes to its target-layout bucket; everything else
    * stays put. Deterministic per key at every committed version, so
    * the one-bucket-per-key LWW invariant holds THROUGHOUT a
    * progressive migration — that is the whole design. The migrated
    * set compiles to an InSet over at most `l.n` small ints (bucket
    * metadata, not data; at 16k buckets that is a 64 KB broadcast-free
    * hash probe inside codegen).
    */
  private def routing(l: Layout, mig: Option[Migration]): Column = mig match {
    case Some(Migration(target, done)) if done.nonEmpty =>
      when(logicalOf(l).isin(done.toSeq: _*), physOf(target)).otherwise(physOf(l))
    case _ => physOf(l)
  }

  private def bucketOf(s: Snapshot): Column = routing(layoutOf(s), s.migration)

  /** The layout state every data commit must carry forward (that of
    * the snapshot the writer planned from under the writer lock,
    * published in the same atomic commit as the data it routes).
    */
  private def layoutState(s: Snapshot): Option[(Layout, Option[Migration])] =
    Some((layoutOf(s), s.migration))

  /** Anti-join `df` against the outstanding DELETION VECTORS of the
    * requested buckets (None = all): DV parquet dirs hold key rows of
    * merge-on-read deletes ([[deleteVector]]); a key in a DV is
    * invisible until some rewrite of its bucket physically drops it
    * and consumes the vector. DVs are small by design (O(deleted
    * keys) per delete commit), so the key list broadcasts.
    */
  private def applyDv(df: DataFrame, dvm: Map[Int, Seq[String]],
                      buckets: Option[Seq[Int]]): DataFrame = {
    val rel = buckets match {
      case Some(bs) =>
        val s = bs.toSet // O(dv + requested), not O(dv × requested)
        dvm.filter { case (b, _) => s(b) }
      case None => dvm
    }
    val paths = rel.values.flatten.toSeq.distinct.sorted
    if (paths.isEmpty) df
    else {
      // ONE scan with an EXPLICIT schema: DV files hold exactly the key
      // columns, whose types `df` already knows, so no vector file's
      // footer is read to plan it
      val dvSchema = org.apache.spark.sql.types.StructType(
        df.schema.fields.filter(f => keys.contains(f.name)))
      val dvKeys = manifest.scanDirs(paths, dvSchema)
        .select(keys.map(col): _*).distinct()
      df.join(broadcast(dvKeys), keys, "left_anti")
    }
  }

  /** Snapshot `s`'s rows of `buckets` (None = all) with their deletion
    * vectors applied and the bucket column dropped — callers see the
    * logical schema they wrote. Resolution is path-level: other
    * buckets' files are never listed, let alone scanned. None when no
    * requested bucket is mapped.
    */
  private def scan(s: Snapshot, buckets: Option[Seq[Int]]): Option[DataFrame] =
    manifest.scan(s, buckets).map(df => applyDv(df.drop(BucketCol), s.dv, buckets))

  /** Every row of `s`; throws `missing` when `s` maps no bucket. */
  private def scanAll(s: Snapshot, missing: => String): DataFrame =
    scan(s, None).getOrElse(throw new IllegalStateException(missing))

  /** `s`'s rows of `buckets` — a schema-preserving empty frame (which
    * optimizes to zero scans) when none of them is mapped.
    */
  private def scanIn(s: Snapshot, buckets: Seq[Int]): DataFrame =
    scan(s, Some(buckets)).getOrElse(scanAll(s, s"no committed state at $path").filter(lit(false)))

  /** Test seam: fires right after a read takes its snapshot, BEFORE it
    * plans anything from it — where a racing commit must stay out of
    * the read. Production leaves it default.
    */
  private[graft] var onReadSnapshot: () => Unit = () => ()

  /** The snapshot a read plans from: the one taken at its call. */
  private def readSnapshot(): Snapshot = {
    val s = manifest.current()
    onReadSnapshot()
    s
  }

  /** Current committed state. Keys deleted merge-on-read
    * ([[deleteVector]]) are excluded. Serves the snapshot current at
    * the call: rows and deletion vectors come from that one snapshot.
    */
  def read(): DataFrame = scanAll(readSnapshot(), s"no committed state at $path")

  /** State as of retained version `v` — see class doc (TIME TRAVEL).
    * Applies the deletion vectors as of THAT version: a DV delete is a
    * real commit, so versions before it still show the rows.
    */
  def readAt(v: Long): DataFrame =
    scanAll(manifest.at(v), s"version $v at $path holds no buckets")

  /** Retained snapshot versions, ascending. */
  def versions(): Seq[Long] = manifest.versions()

  /** Retain only the `keepLast` most recent versions (min 1) and free
    * the generations only expired versions referenced.
    */
  def expireVersions(keepLast: Int): Unit = manifest.write("expire")(_.expireVersions(keepLast))

  /** Restore the table to `toVersion` as a new commit (Delta RESTORE /
    * Iceberg rollback) — metadata-only, history preserved; see
    * [[TableManifest.Txn.rollback]]. A rollback IS a write: it
    * serializes with concurrent merges, and its vacuum keeps every
    * generation a retained version references.
    */
  def rollback(toVersion: Long): Unit = manifest.write("rollback")(_.rollback(toVersion))

  /** Metadata-level data-skipping decision for `col` in `[lo, hi]` —
    * exposed for layout audits and tests.
    */
  def bucketsForRange(c: String, lo: Double, hi: Double): Seq[Int] =
    manifest.current().bucketsForRange(c, lo, hi)

  /** Rows with `c` in `[lo, hi]` (NULLs excluded), resolving ONLY the
    * buckets whose zone map can intersect the range — buckets outside
    * it are never listed, let alone scanned. Equivalent to
    * `read().where(c between lo and hi)` by the zone-map invariant;
    * PipelineSpec asserts both the equivalence and the pruning. The
    * bounds are bound values ([[BoundValue]]), so a new range reuses
    * the compiled filter; the price is that the range is not a parquet
    * pushed filter (SEMANTICS.md).
    */
  def readRange(c: String, lo: Double, hi: Double): DataFrame = {
    val s = readSnapshot()
    scanIn(s, s.bucketsForRange(c, lo, hi))
      .filter(col(c) >= BoundValue.of(lo) && col(c) <= BoundValue.of(hi))
  }

  /** Latest-per-key state restricted to the given buckets; resolution
    * is path-level — other buckets' files are never listed, let alone
    * scanned.
    */
  private[graft] def readBuckets(buckets: Seq[Int]): Option[DataFrame] =
    scan(readSnapshot(), Some(buckets))

  /** Latest-per-key state restricted to the buckets `probe`'s key rows
    * route to — the KEYED-LOOKUP read. `probe` must expose this sink's
    * key columns; resolution is the same committed-layout routing every
    * write uses, so a key present in the table is ALWAYS inside the
    * returned frame (the result is the full rows of the touched
    * buckets — a superset of the probe's matches, never a subset).
    * Cost: O(touched buckets), the point of maintaining a bucketed
    * table — a per-batch lookup against a 100 TB labels/index table
    * must not re-scan the table per micro-batch. Only the bucket IDS
    * are collected (O(buckets) metadata, the same discipline as
    * [[merge]]'s touched-bucket audit). Routing and data come from one
    * snapshot, so a rebucket or merge racing the lookup cannot route
    * by one layout over another's data.
    */
  def readForKeys(probe: DataFrame): DataFrame = {
    val s = readSnapshot()
    scanIn(s, route("read", probe, s))
  }

  /** One-time adoption of a table written by the pre-manifest code
    * (bucket dirs at the root, no `_MANIFEST`) — reads fail loudly on
    * such layouts instead of treating them as empty. File renames
    * only, no data rewrite; idempotent.
    */
  def migrateLegacy(): Unit = manifest.write("migrate")(_.migrateLegacy())

  /** Per-bucket parquet file counts of the committed snapshot — the
    * compaction-policy input, and what layout gates audit.
    */
  def bucketFileCounts(): Map[Int, Int] =
    bucketFiles().map { case (b, fl) => b -> fl.size }

  /** (fileName, size, mtime) per bucket — maintenance metadata. */
  def bucketFiles(): Map[Int, Seq[(String, Long, Long)]] = manifest.bucketFiles(manifest.current())

  /** Buckets that might hold `c = v` per the bloom sidecars — the
    * metadata-level point-lookup pruning decision. `c` must be a
    * BIGINT column named in `bloomCols` for pruning to bite; anything
    * else keeps every bucket (missing sidecars never prune).
    */
  def bucketsForPoint(c: String, v: Long): Seq[Int] =
    manifest.bucketsForPoints(manifest.current(), c, Seq(BucketBloom.hashLong(v)))

  /** Rows with `c` IN `vs`, resolving ONLY the buckets some probe's
    * bloom admits — the secondary-id point lookup ([[readRange]]'s
    * equality sibling). False positives are discharged by the residual
    * `isin` filter; false negatives cannot happen (the sidecar is
    * built from the committed files themselves). Equivalent to
    * `read().where(c isin vs)`; PipelineSpec asserts equivalence and
    * pruning. On a BIGINT `c` the residual is an `InSet`, which codegens
    * as a reference to its hash set (a new probe set reuses the
    * compiled filter) and still pushes down as a parquet `In`. Any
    * other type keeps the analyzer's `isin`: its coercion decides the
    * comparison type, and an INT `InSet` would codegen literal `switch`
    * cases anyway.
    */
  def readPoints(c: String, vs: Seq[Long]): DataFrame = {
    val df = readBucketsForPoints(c, vs)
    val bigint = df.schema.exists(f => f.name == c && f.dataType == LongType)
    df.filter(if (bigint) ColumnBridge.column(InSet(ColumnBridge.expression(col(c)), vs.toSet[Any]))
              else col(c).isin(vs: _*))
  }

  /** [[readPoints]] WITHOUT the residual `isin` filter: the rows of
    * every bucket some probe's bloom admits. For a caller that joins
    * the result on `c` anyway (the join discharges non-matches), the
    * residual filter is redundant — and an `isin` over a large probe
    * set is a degenerate expression (thousands of literals in one
    * predicate). Bloom probing is batched: one sidecar read per
    * bucket for the whole probe set ([[TableManifest.bucketsForPoints]]),
    * and admission and data come from one snapshot's generations.
    */
  def readBucketsForPoints(c: String, vs: Seq[Long]): DataFrame = {
    val s = readSnapshot()
    // empty probe set short-circuits to an empty frame BEFORE bloom
    // admission: "admitted if ANY probe might be contained" is
    // vacuously false for zero probes, but an unbloomed bucket's
    // missing-sidecar rule (forall on None) would admit it — an empty
    // probe list on an unbloomed table returned the ENTIRE table
    // (ADVICE r12; latent — callers guarded nChanged > 0)
    if (vs.isEmpty) scanIn(s, Nil)
    else {
      val bs = manifest.bucketsForPoints(s, c, vs.map(BucketBloom.hashLong))
      probeCount.incrementAndGet()
      probeBucketsAdmitted.addAndGet(bs.size)
      probeBucketsTotal.addAndGet(s.mapping.size)
      scanIn(s, bs)
    }
  }

  /** Upsert one batch. Empty batches commit nothing. One
    * [[TableManifest.write]]: a concurrent writer on the same table
    * fails fast instead of interleaving commits.
    *
    * `materializeBatch = true` runs the batch plan
    * ONCE (lazy localCheckpoint: the touched-bucket route collect is
    * the materializing action, the merge write scans the blocks, the
    * blocks are freed after the commit) — the right call when the
    * delta plan is expensive, e.g. it joins the sink's own state
    * (q287's postings delta: the route collect profiled as expensive
    * as the write). The default recomputes, which is CHEAPER for plain
    * projections of a source table: the route job then reads only the
    * pruned bucket column instead of materializing every column
    * (measured +17% on q258's projection-only merges when
    * materialization was unconditional).
    */
  def merge(batch: DataFrame, materializeBatch: Boolean = false): Unit = manifest.write("merge") { tx =>
    if (!materializeBatch) mergeInto(tx, batch)
    else {
      val (b, freeBatch) = graft.ext.Lineage.checkpointLazy(batch)
      try mergeInto(tx, b)
      finally freeBatch()
    }
  }

  private def mergeInto(tx: manifest.Txn, batch: DataFrame): Unit = {
    val s = tx.base
    val touched = route("merge", batch, s)
    if (touched.nonEmpty) {
      val w = write("merge", mergedWith(s, batch, touched))
      // all-or-nothing publish; crashed attempts' files stay invisible
      tx.commit(w.mapping, w.stats, layoutState = layoutState(s))
    }
  }

  /** Buckets `df`'s keys route to under `s`'s committed layout
    * (JobLabel `<op>:route`).
    */
  private def route(op: String, df: DataFrame, s: Snapshot): Seq[Int] =
    graft.core.JobLabel(spark, s"$op:route $path")(TableManifest.touchedBuckets(df, bucketOf(s)))

  /** `df` routed to its buckets under `s` and key-sorted within each
    * write task: parquet row-group min/max stats then let point lookups
    * and merge reads skip row groups.
    */
  private def keySorted(s: Snapshot, df: DataFrame): DataFrame =
    df.withColumn(BucketCol, bucketOf(s)).sortWithinPartitions(keys.map(col): _*)

  /** The LWW merge of `batch` into `s`'s state of its `touched`
    * buckets, ready for the write — what [[merge]] commits and
    * [[stageMerge]] stages.
    */
  private def mergedWith(s: Snapshot, batch: DataFrame, touched: Seq[Int]): DataFrame =
    keySorted(s, Cdc.latestByKey(scan(s, Some(touched)).fold(batch)(_.unionByName(batch)), keys, orderCols))

  /** One generation of this table through the manifest's writer, with
    * this table's zone-map and bloom columns.
    */
  private def write(op: String, df: DataFrame, gen: String = manifest.newGenDir()): Written =
    manifest.writeGeneration(op, df, statsCols, bloomCols, bloomBits, gen)

  /** foreachBatch adapter: `stream.writeStream.foreachBatch(sink.forEachBatch)`. */
  def forEachBatch: (DataFrame, Long) => Unit = (batch, _) => merge(batch)

  /** WRITE-AUDIT-PUBLISH, stage step (Iceberg WAP analog): compute the
    * merge EXACTLY like [[merge]] — same touched-bucket pruning, same
    * LWW, same sorted write, blooms, stats — but persist the result as
    * a STAGED snapshot no reader resolves. The returned token feeds an
    * audit ([[readStaged]]), then [[publishStaged]] (atomic, exactly
    * one new version) or [[discardStaged]] (staged generation swept).
    * The stage carries a base-version fence: publishing after ANY
    * intervening commit fails fast, because the staged LWW was
    * computed against state that commit replaced. This is the
    * bad-batch quarantine shape at 100 TB: an upstream feed suspected
    * of poison stages in, invariant checks run against the REAL merged
    * candidate state (not just the batch — cross-batch invariants
    * need the merge), and visibility is a rename, not a rewrite.
    *
    * Staging takes no lock: it commits nothing, every byte lands in
    * this stage's own fresh generation dir, and that generation is
    * pre-registered before the first byte, so no vacuum sweeps it
    * half-written ([[TableManifest.stage]]). ONE snapshot is both the
    * merge input and the `#base` fence; a fence read after the long
    * parquet write would let a concurrent commit land unseen and be
    * silently overwritten at publish.
    */
  def stageMerge(batch: DataFrame): String = manifest.stage { (s, gen) =>
    val touched = route("stage", batch, s)
    require(touched.nonEmpty, "stageMerge of an empty batch has nothing to audit")
    onStageBaseRead()
    write("stage", mergedWith(s, batch, touched), gen)
  }

  /** Test seam: fires right after the stage's base snapshot is read,
    * BEFORE the O(data) merge write — the window where a concurrent
    * commit must trip the stale fence, not be overwritten. Production
    * leaves it default.
    */
  private[graft] var onStageBaseRead: () => Unit = () => ()

  /** OPTIMISTIC CONCURRENCY — the Delta/Iceberg commit-retry loop,
    * replacing "hold the writer lock for the whole merge" with "hold
    * it only for the O(1) publish": stage LOCK-FREE (the O(data)
    * compute runs with zero mutual exclusion, so N writers overlap
    * their heavy work), then publish under the short critical
    * section; when an intervening commit moved the base — the staged
    * LWW was computed against replaced state — the stale stage is
    * discarded and the merge RE-STAGES against the new base. A publish
    * that fails for any other reason (another writer's lock, an I/O
    * error) drops its stage too and rethrows, so no attempt leaves a
    * stage behind ([[TableManifest.dropStaged]], lock-free).
    * Returns the attempt count that succeeded. `beforePublish` is a
    * test seam (contention injection); production leaves it default.
    */
  def mergeOptimistic(batch: DataFrame, maxAttempts: Int = 5,
                      beforePublish: () => Unit = () => ()): Int = {
    require(maxAttempts >= 1, "need at least one attempt")
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val token = stageMerge(batch)
      try { beforePublish(); publishStaged(token); return attempt }
      catch {
        case scala.util.control.NonFatal(e) =>
          manifest.dropStaged(token)
          if (!(e.isInstanceOf[IllegalStateException] && e.getMessage.contains("stale"))) throw e
          if (attempt >= maxAttempts)
            throw new IllegalStateException(
              s"mergeOptimistic lost the commit race $attempt times at $path — " +
                "live contention; raise maxAttempts or fall back to merge()", e)
      }
    }
    attempt // unreachable: the loop either returns or throws
  }

  /** The staged snapshot (state as it WOULD be after publish) — what
    * the audit step queries. DV application matches publish semantics:
    * staged rewritten buckets carry no vectors; untouched buckets keep
    * theirs.
    */
  def readStaged(token: String): DataFrame =
    scanAll(manifest.staged(token), s"stage $token resolves no buckets")

  /** Publish a staged merge atomically (one new version; fails fast if
    * the table committed past the stage's base version).
    */
  def publishStaged(token: String): Unit = manifest.write("publish")(_.publish(token))

  /** Reject a staged merge; its generation is swept immediately. */
  def discardStaged(token: String): Unit = manifest.write("discard")(_.discard(token))

  /** Outstanding stage tokens. */
  def stagedTokens(): Seq[String] = manifest.staged()

  /** CHANGE DATA FEED between two retained versions — the incremental-
    * consumption primitive (Delta CDF analog): downstream pipelines
    * read "what changed since the version I last processed" instead of
    * rescanning the table. A full-outer equi-join of the two snapshots
    * on the merge keys, classified per key:
    * `insert` (absent before), `delete` (absent after — purges),
    * `update` (present in both, any non-key column differs,
    * null-safely). Unchanged keys are dropped. Output: key columns +
    * `_change_type` + the AFTER values of the non-key columns (NULL
    * for deletes). Scale shape: both sides share the bucket layout and
    * the join keys ARE the merge keys, so the join co-partitions; cost
    * is O(|v1| + |v2|) with no row inflation.
    *
    * DV-ONLY FAST PATH: when the step's commits changed NO data bucket
    * (identical bucket->generation mapping — the [[deleteVector]]
    * shape), the only possible changes are deletes, and they are
    * exactly "rows alive at v1 whose key entered a NEW vector". The
    * feed then reads the new vectors (O(deleted) bytes), restricts to
    * their buckets' v1 state, and semi-joins — O(deleted keys +
    * touched-bucket rows), never two full snapshot reads. This is the
    * cost shape a continuously-deleting upstream demands at 100 TB
    * (q274's steady state): the general full-outer diff would pay
    * O(2 x table) per wave for an O(deleted)-sized answer.
    */
  def changesBetween(v1: Long, v2: Long): DataFrame = {
    require(v1 < v2, s"changesBetween needs v1 < v2, got ($v1, $v2)")
    val cur = manifest.current()
    val (s1, s2) = (manifest.at(v1, cur), manifest.at(v2, cur))
    val dvOnly = s1.mapping == s2.mapping && s1.dv.forall { case (b, ps) =>
      s2.dv.getOrElse(b, Seq.empty).startsWith(ps) }
    val newDv = if (!dvOnly) Seq.empty else s2.dv.toSeq.flatMap { case (b, ps) =>
      ps.drop(s1.dv.getOrElse(b, Seq.empty).size).map(b -> _) }
    if (dvOnly && newDv.nonEmpty) {
      val touched = newDv.map(_._1).distinct.sorted
      // alive-at-v1 rows of ONLY the vectored buckets (a key in a new
      // vector that an older vector already killed must NOT re-report)
      val alive = scan(s1, Some(touched))
        .getOrElse(throw new IllegalStateException(s"version $v1 missing at $path"))
      // one scan, explicit key schema — see [[applyDv]]
      val dvSchema = org.apache.spark.sql.types.StructType(
        alive.schema.fields.filter(f => keys.contains(f.name)))
      val newKeys = manifest.scanDirs(newDv.map(_._2), dvSchema)
        .select(keys.map(col): _*).distinct()
      // deletes carry NULL data columns (the general path's contract:
      // AFTER values, which for a delete do not exist)
      val nulled = alive.columns.filterNot(keys.contains).toSeq
        .map(c => lit(null).cast(alive.schema(c).dataType).as(c))
      return alive.join(broadcast(newKeys), keys, "left_semi")
        .withColumn("_change_type", lit("delete"))
        .select(keys.map(col) ++ (col("_change_type") +: nulled): _*)
    }
    val before = scanAll(s1, s"version $v1 at $path holds no buckets").withColumn("__in_b", lit(1))
    val afterRows = scanAll(s2, s"version $v2 at $path holds no buckets")
    val after = afterRows.withColumn("__in_a", lit(1))
    val dataCols = afterRows.columns.filterNot(keys.contains).toSeq
    val b = before.select(
      keys.map(col) ++ dataCols.map(c => col(c).as(s"__b_$c")) :+ col("__in_b"): _*)
    val joined = after.join(b, keys, "full_outer")
    val unchanged = dataCols.map(c => col(c) <=> col(s"__b_$c")).reduce(_ && _)
    joined
      .withColumn("_change_type",
        when(col("__in_b").isNull, lit("insert"))
          .when(col("__in_a").isNull, lit("delete"))
          .otherwise(lit("update")))
      .filter(col("__in_b").isNull || col("__in_a").isNull || !unchanged)
      .select(keys.map(col) ++ (col("_change_type") +: dataCols.map(col)): _*)
  }

  /** The purge rewrite frame: surviving rows of `s`'s touched buckets —
    * a broadcast ANTI-join against the key list (PlanSpec locks the
    * shape), reading only those buckets' files. Exposed for plan
    * audits; [[purgeKeys]] is the committing entry point.
    */
  private[graft] def purgeKeptFrame(keyList: DataFrame, rewrite: Seq[Int],
                                    s: Snapshot = manifest.current()): DataFrame =
    scan(s, Some(rewrite)).get.join(broadcast(keyList), keys, "left_anti")

  /** COMPLIANCE PURGE — hard-delete every row whose merge key appears
    * in `keyRows` (a frame of the key columns), then DESTROY history so
    * the data is physically unrecoverable (the GDPR / takedown-request
    * primitive; a tombstone merge only hides a key, and time travel
    * would happily resurrect it).
    *
    *   1. touched buckets come from `bucketOf` over the key list —
    *      metadata, same pruning decision as [[merge]]; keys hash (or
    *      range) to buckets deterministically, so NO other bucket can
    *      hold the key;
    *   2. ONLY those buckets rewrite, anti-joined against the
    *      (broadcast-small) key list — Delta/Iceberg DELETE rewrite
    *      semantics;
    *   3. the commit publishes atomically like any other, then
    *      `expireVersions(1)` drops every prior version: the old
    *      generations holding the purged rows are deleted, not merely
    *      dereferenced. (On object stores add the provider's billing /
    *      versioning purge on top; here deletion is deletion.)
    *
    * Cost: O(|buckets holding purged keys| + |key list|), not
    * O(|table|). The price of erasure is losing time travel across the
    * purge point — inherent, not incidental: retained history IS the
    * data you were asked to destroy.
    *
    * `destroyHistory = false` is the TTL-EVICTION variant (dropping
    * cold keys for cost, not compliance): the delete commits like any
    * other version, history and time travel survive (its vacuum keeps
    * what retained versions reference), and [[changesBetween]] across
    * the eviction reports the keys as `delete` rows — downstream
    * increments see them leave.
    */
  def purgeKeys(keyRows: DataFrame, destroyHistory: Boolean = true): Unit = manifest.write("purge") { tx =>
    val s = tx.base
    val keyList = keyRows.select(keys.map(col): _*).distinct()
    val rewrite = route("purge", keyList, s).filter(s.mapping.contains)
    if (rewrite.nonEmpty) {
      val w = write("purge", keySorted(s, purgeKeptFrame(keyList, rewrite, s)))
      // a bucket whose every row was purged vanishes from the mapping
      // (the write produced no dir for it) rather than keeping a stale gen
      tx.commit(w.mapping, w.stats, drop = rewrite, layoutState = layoutState(s))
    }
    // history carries the purged rows — for a compliance purge destroy
    // it even when no bucket matched (the request may target data
    // already purged upstream)
    if (destroyHistory) tx.expireVersions(1)
  }

  /** MERGE-ON-READ delete (Iceberg v2 delete-file / Delta deletion-
    * vector analog): record the keys as a per-bucket DELETION VECTOR
    * sidecar instead of rewriting any data bucket. [[purgeKeys]]'
    * copy-on-write rewrite costs O(|every bucket holding a deleted
    * key|) — for a scattered delete under hash layout that approaches
    * O(|table|) even when |keys| is tiny; this commit touches NO data
    * file, which is the only delete shape that stays cheap at 100 TB.
    *
    * Caller contract: sidecar bytes scale with the `keyRows` passed
    * in, duplicates included — the write does not de-duplicate (see
    * the body), so a caller holding repeated keys should pass
    * `keyRows.distinct()` to keep the vector O(|distinct keys|).
    * Readers de-duplicate, so duplicates cost bytes, never results.
    *
    * Semantics: every read path anti-joins the outstanding vectors
    * (reads, range/point lookups, time travel at the vector's
    * version, and the state that merges/compactions/migrations
    * rebuild from). The delete is logical until some rewrite of the
    * bucket materializes it: that rewrite reads DV-applied state and
    * its commit CONSUMES the bucket's vectors atomically
    * ([[TableManifest.commit]]'s consumption rule) — so a key
    * re-inserted by a LATER merge survives (the merge's own rewrite
    * dropped the vector), and [[compact]] treats DV-holding buckets
    * as rewrite candidates, making compaction the physical-apply
    * step. History keeps the deleted rows (versions before the DV
    * commit still show them) — for erasure obligations use
    * [[purgeKeys]], which is physical by contract.
    *
    * Vectors are written into a fresh generation dir (under
    * `dv_<bucket>` (NOT underscore-prefixed: `_`-led path segments are
    * hidden to Spark file discovery)) BEFORE the manifest rename, sharing the
    * data files' atomic-publish story; vacuum treats DV references as
    * liveness.
    */
  def deleteVector(keyRows: DataFrame): Unit = manifest.write("delete-vector") { tx =>
    // no write-side distinct (round 16): every DV consumer dedupes at
    // read ([[applyDv]] and [[changesBetween]]'s fast path both
    // `.distinct()` the vector keys), so the exchange a distinct plans
    // here bought nothing — duplicate probe rows merely repeat in the
    // sidecar bytes
    // only buckets that exist can hold rows to delete — a key routed
    // to an absent bucket has no row, and recording a vector for it
    // would wrongly delete a FUTURE insert of that key — so keys of
    // absent buckets are dropped before the write, not written and
    // then deleted
    val s = tx.base
    val held = s.mapping.keySet.toSeq
    val keyList = keyRows.select(keys.map(col): _*)
      .withColumn(BucketCol, bucketOf(s))
      .filter(col(BucketCol).isin(held: _*))
    val gen = manifest.newGenDir()
    // ONE distributed write; the touched-bucket set is discovered from
    // the write's own output dirs (round 16, guide §2.4: the previous
    // separate route collect was a second full pass over the key frame
    // purely to learn which buckets it was about to write). Per-bucket
    // renames then move the dirs out of the partition layout (DV dirs
    // must NOT look like `__bucket=` data dirs, and must NOT be
    // `_`-prefixed — Spark file discovery hides such segments).
    manifest.writeBuckets("dv", keyList, s"$gen/dvtmp")
    val fs = manifest.fs
    val dvtmp = new Path(s"$path/$gen/dvtmp")
    val touched = manifest.bucketDirs(dvtmp)
    if (touched.nonEmpty) {
      touched.foreach { b =>
        fs.rename(new Path(path, manifest.bucketDir(s"$gen/dvtmp", b)),
                  new Path(s"$path/$gen/dv_$b"))
      }
      fs.delete(dvtmp, true)
      val appended = s.dv ++ touched.map(b =>
        b -> (s.dv.getOrElse(b, Seq.empty) :+ s"$gen/dv_$b"))
      tx.commit(Map.empty, layoutState = layoutState(s), dvState = Some(appended))
    } else fs.delete(new Path(s"$path/$gen"), true)
  }

  /** Outstanding deletion vectors per bucket — maintenance metadata
    * (what [[compact]] will consume; layout gates audit this).
    */
  def deleteVectors(): Map[Int, Seq[String]] = manifest.current().dv

  /** Compact buckets that have accumulated more than
    * `maxFilesPerBucket` parquet files — the classic streaming-sink
    * pathology: every micro-batch writes at least one file per bucket
    * it touches, and scan cost eventually drowns in file-open overhead.
    * Rewrites ONLY oversized buckets (hot buckets compact often, cold
    * ones never), one file per bucket after the rewrite
    * (`repartition` on the bucket column -> one task per bucket).
    * Content is untouched — pure layout maintenance, safe to run
    * between merges on any schedule; zone maps carry over unchanged
    * for the same reason.
    *
    * `dropDeleted = Some(flag)` is the REORG PURGE variant (Delta's
    * `REORG TABLE ... APPLY (PURGE)` analog) for tables maintained
    * with soft-delete tombstones (q250's postings): buckets holding
    * any row with `flag = true` rewrite too, and flagged rows are
    * physically dropped from the new generation. Sound because every
    * generation's bucket file holds that bucket's FULL current state
    * (merges rewrite whole buckets), so a tombstone row IS its key's
    * present state: removing it equals the key being absent, which
    * future merges treat identically. Prior versions keep their
    * generations, so time travel across the compaction still shows
    * the tombstones until `expireVersions`. Tombstoned buckets are
    * found by a columnar scan of the one flag column; at 100 TB the
    * manifest would carry a per-bucket tombstone count (same decision
    * from pure metadata) — the rewrite itself is already
    * bucket-pruned either way. Zone maps carry over: dropped rows can
    * only NARROW a bucket's true min/max, so the retained (wider)
    * stats stay conservative-correct for pruning.
    */
  def compact(maxFilesPerBucket: Int = 4,
              dropDeleted: Option[String] = None): Unit = manifest.write("compact") { tx =>
    val s = tx.base
    val oversized = manifest.bucketFiles(s)
      .filter { case (_, fl) => fl.size > maxFilesPerBucket }
      .keys.toSet
    val tombstoned: Set[Int] = dropDeleted match {
      case None => Set.empty
      // NULL flag means LIVE on both sides of this operation: a NULL
      // never marks a bucket for rewrite here, and the keep-filter
      // below coalesces to false so NULL-flag rows survive the
      // rewrite — compact is layout maintenance and must never
      // hard-delete a row whose tombstone state is merely unknown.
      case Some(flag) => manifest.scan(s).fold(Set.empty[Int]) { df =>
        TableManifest.touchedBuckets(df.filter(coalesce(col(flag), lit(false))), col(BucketCol)).toSet
      }
    }
    // buckets with outstanding deletion vectors are compaction
    // candidates too: the rewrite is what applies a DV physically
    // and consumes it (commit's DV-consumption rule)
    val rewrite = (oversized ++ tombstoned ++ s.dv.keySet).toSeq.sorted
    if (rewrite.nonEmpty) {
      val base = applyDv(manifest.scan(s, Some(rewrite)).get, s.dv, Some(rewrite))
      // content rows are unchanged (minus dropped tombstones), so zone
      // maps carry over; sidecars are generation-scoped and rebuilt
      val w = manifest.writeGeneration("compact",
        dropDeleted.fold(base)(flag => base.filter(!coalesce(col(flag), lit(false))))
          .repartition(rewrite.length, col(BucketCol)),
        bloomCols = bloomCols, bloomBits = bloomBits)
      // a bucket whose every row was a tombstone vanishes from the
      // mapping (the write produced no dir for it)
      tx.commit(w.mapping, drop = rewrite.toSet -- w.buckets, layoutState = layoutState(s))
    }
  }

  private def nextLayout(s: Snapshot, newNBuckets: Int): Layout = {
    require(newNBuckets >= 1 && newNBuckets <= LayoutStride,
      s"newNBuckets must be in [1, $LayoutStride], got $newNBuckets")
    val l = layoutOf(s)
    require(l.gen + 1 <= MaxLayoutGen,
      s"layout generation ${l.gen + 1} exceeds $MaxLayoutGen at $path")
    require(s.migration.isEmpty,
      s"a migration to ${s.migration.get.target.n} buckets is already " +
        s"in flight at $path — finish it (migrateStep) before starting another")
    Layout(l.gen + 1, newNBuckets, l.rangeWidth)
  }

  /** BUCKET-LAYOUT EVOLUTION, one-shot (Iceberg partition-spec
    * evolution analog): rewrite the whole table into `newNBuckets`
    * hash/range buckets in ONE generation and publish atomically —
    * readers see either the old layout or the new, never a mix, and
    * the version log keeps prior layouts time-travelable. The
    * operational need: a table sized at creation for 1 TB (say 64
    * buckets) that has grown 100x merges ever-larger bucket rewrites
    * per batch; re-bucketing restores O(batch)-proportional merges
    * without downtime. Content is byte-invariant (pure layout, like
    * [[compact]]); zone maps and bloom sidecars are rebuilt for the
    * new buckets. The new layout commits IN the manifest, so every
    * handle — including this one — routes by it from the next call;
    * the returned handle is a convenience whose constructor parameters
    * match the new layout, not a correctness requirement.
    *
    * The monolithic rewrite stops the world for O(|table|) — at
    * 100 TB that is the wrong tool; [[beginMigration]] +
    * [[migrateStep]] is the same evolution as an incremental
    * background job with merges running throughout.
    */
  def rebucket(newNBuckets: Int): MergeSink = manifest.write("rebucket") { tx =>
    val s = tx.base
    val target = nextLayout(s, newNBuckets)
    scan(s, None) match {
      case None =>
        // empty table: the layout change is metadata-only but still a
        // real commit — a stale-parameter handle must see it
        tx.commit(Map.empty, layoutState = Some((target, None)))
      case Some(rows) =>
        val w = write("rebucket", rows
          .withColumn(BucketCol, physOf(target))
          .repartition(newNBuckets, col(BucketCol))
          .sortWithinPartitions(keys.map(col): _*))
        // FULL mapping replacement: every old bucket id retires with
        // this commit (prior versions still resolve them)
        tx.commit(w.mapping, w.stats, drop = s.mapping.keys, layoutState = Some((target, None)))
    }
    new MergeSink(spark, path, keys, orderCols, newNBuckets,
      statsCols, rangeBucketWidth, bloomCols, bloomBits)
  }

  /** PROGRESSIVE bucket-layout migration, step 1 of 2 (the actual
    * Iceberg partition-spec-evolution operational shape): declare the
    * target layout in a metadata-only commit; no data moves. From this
    * commit on, the manifest carries (old layout, target layout,
    * migrated-bucket set) and EVERY writer routes each key by its OLD
    * bucket's migration state — merges continue throughout the whole
    * migration, which [[migrateStep]] advances k old buckets at a
    * time. Readers are oblivious: a snapshot mid-migration is simply a
    * table whose physical buckets span two layout generations, each
    * key living in exactly one of them.
    */
  def beginMigration(newNBuckets: Int): Unit = manifest.write("begin-migration") { tx =>
    val s = tx.base
    val target = nextLayout(s, newNBuckets)
    tx.commit(Map.empty, layoutState = Some((layoutOf(s), Some(Migration(target, Set.empty)))))
  }

  /** PROGRESSIVE migration, step 2: rewrite the next `k` unmigrated
    * OLD-layout buckets into their target-layout buckets and commit —
    * data movement is O(k buckets + affected target buckets), never
    * O(|table|), so maintenance interleaves with live merges at any
    * cadence. Each step: (1) the k old buckets' rows re-route to
    * target physical ids; (2) target buckets that ALREADY hold rows
    * (from earlier steps, or merges that arrived for already-migrated
    * keys) are unioned in and rewritten whole — key sets are disjoint
    * by the routing invariant, so this is concatenation, not conflict
    * resolution; (3) one atomic commit retires the old buckets,
    * publishes the rewritten targets, and advances the migrated set.
    * A crash between steps leaves a valid mid-migration table; the
    * step is idempotent from the committed state. When the last old
    * bucket migrates, the SAME commit promotes the target to the
    * committed layout and clears the migration — [[rebucket]]'s final
    * state, reached without ever stopping the world.
    *
    * Returns the number of old buckets still unmigrated (0 = done).
    */
  def migrateStep(k: Int): Int = manifest.write("migrate-step") { tx =>
    require(k >= 1, s"migrateStep needs k >= 1, got $k")
    val s = tx.base
    val l = layoutOf(s)
    val mig = s.migration.getOrElse(throw new IllegalStateException(
      s"no migration in flight at $path — beginMigration first"))
    val todo = (0 until l.n).filterNot(mig.migrated)
    val pick = todo.take(k)
    val remaining = todo.size - pick.size
    val complete = remaining == 0
    val nextState: Option[(Layout, Option[Migration])] =
      if (complete) Some((mig.target, None))
      else Some((l, Some(Migration(mig.target, mig.migrated ++ pick))))
    val physPick = pick.map(b => if (l.gen == 0) b else l.gen * LayoutStride + b)
    val held = physPick.filter(s.mapping.contains)
    if (held.isEmpty) {
      // nothing stored under these old buckets: marking them migrated
      // is pure metadata (still a real commit — routing changes)
      tx.commit(Map.empty, layoutState = nextState)
    } else {
      val moving = scan(s, Some(held)).get
        .withColumn(BucketCol, physOf(mig.target))
      // which target buckets these keys land in: at most k * spread
      // small ints reach the driver — the same metadata-not-data
      // pruning decision merge() makes
      val targets = TableManifest.touchedBuckets(moving, col(BucketCol))
      val affected = targets.filter(s.mapping.contains)
      val out = manifest.scan(s, Some(affected))
          .map(df => applyDv(df, s.dv, Some(affected))) match {
        case Some(existing) => existing.unionByName(moving)
        case None           => moving
      }
      val w = write("migrate", out
        .repartition(math.max(targets.size, 1), col(BucketCol))
        .sortWithinPartitions(keys.map(col): _*))
      tx.commit(w.mapping, w.stats, drop = physPick, layoutState = nextState)
    }
    remaining
  }

  /** (current layout, in-flight migration) as committed — layout
    * audits and gates read this, never handle fields.
    */
  def layoutInfo: (Layout, Option[Migration]) = {
    val s = manifest.current()
    (layoutOf(s), s.migration)
  }
}

object MergeSink {
  /** Partition column of the state table layout. */
  val BucketCol: String = TableManifest.BucketCol

  /** Physical-bucket-id namespace width per layout generation:
    * `phys = gen * LayoutStride + logical` (gen 0 stays bare for
    * byte-compatibility with pre-layout tables). 2^20 logical buckets
    * per layout is ~100 GB/bucket headroom past 100 TB; generations
    * are capped so the physical id can never overflow Int.
    */
  val LayoutStride: Int = 1 << 20
  val MaxLayoutGen: Int = Int.MaxValue / LayoutStride - 1 // 2046

  /** Thrown when a second writer attempts to change a sink table while
    * another write holds its lock ([[TableManifest.write]]).
    */
  final class ConcurrentWriterException(msg: String)
    extends IllegalStateException(msg)
}
