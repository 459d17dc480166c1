package graft.sink

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, FileStatus, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.functions.{col, max, min, xxhash64}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField, StructType}
import graft.core.JobLabel

/** Snapshot-manifest commit protocol for the bucketed sink tables
  * (MergeSink / AggSink) — the atomic-commit layer that replaces
  * dynamic partition-directory overwrite.
  *
  * Why: Hadoop's partition overwrite deletes the old partition
  * directory before renaming the staged one in, so a crash inside that
  * window loses a bucket's directory entirely — the residual window
  * the round-3 docs called out honestly. The fix is the standard
  * table-format idea (Delta/Iceberg snapshot commits, re-expressed
  * minimally): data files are IMMUTABLE and uniquely named, and the
  * only mutable object is one small manifest file naming, per bucket,
  * the generation directory holding its current files.
  *
  * Layout:
  * {{{
  *   <root>/_MANIFEST                 # current snapshot (see format below)
  *   <root>/_versions/v-<n>          # immutable copy of snapshot n
  *   <root>/data/g-<uuid>/__bucket=N/part-*.zstd.parquet
  * }}}
  * Data files are ZSTD-compressed Parquet with v2 data pages (DELTA
  * encodings for integers and for prefix-sharing key-sorted strings):
  * about 37% fewer bytes per CDC warehouse row than Spark's default
  * SNAPPY v1 files, which every merge rewrites per touched bucket.
  * Generations written before that choice keep their SNAPPY files; a
  * snapshot reads both, and the next rewrite of a bucket (merge,
  * [[MergeSink.compact]]) re-encodes it.
  *
  * Manifest format (tab-separated, one header + one line per bucket):
  * {{{
  *   #version=<n>
  *   <bucket> \t <gen-dir> \t [col,min,max;col,min,max;…]
  * }}}
  * The optional third field carries per-bucket ZONE-MAP statistics
  * (min/max per declared stats column, doubles — exact for integral
  * values up to 2^53, which covers ids and epoch-micro timestamps).
  * Readers prune buckets whose range cannot satisfy a predicate
  * BEFORE any file is listed — the Iceberg manifest-stats idea at
  * bucket granularity. A bucket with no recorded stats for a column
  * is never pruned (correctness over optimism).
  *
  * Commit = write the new snapshot's data files into a FRESH
  * generation dir (never touching current files), write the snapshot
  * body to the immutable version file `_versions/v-<n>`, fully write
  * the new manifest to a temp name, then RENAME it onto `_MANIFEST` —
  * the atomic namespace operation (NIO ATOMIC_MOVE locally,
  * FileContext `Rename.OVERWRITE` on HDFS-like stores). A reader
  * therefore resolves the old snapshot or the new one, never a mix; a
  * writer crash at ANY point before the rename leaves the previous
  * snapshot untouched and only orphans unreferenced data files and an
  * unpublished `v-<n>` (both ignored by readers — a version file above
  * the published `#version` header does not exist as far as resolution
  * is concerned — and reclaimed by [[vacuum]] / the next commit, which
  * rewrites `v-<n>` from scratch).
  *
  * TIME TRAVEL: `_versions/v-<n>` files are retained across commits,
  * so [[at]] resolves any historical snapshot; generation dirs
  * referenced by ANY retained version survive [[vacuum]]. Retention is
  * bounded by [[Txn.expireVersions]] (Delta/Iceberg VACUUM-with-retention
  * semantics): expiring old versions is what finally frees their
  * superseded generation dirs. At 100 TB, version files stay tiny
  * (one line per bucket — metadata, not data), so the cost of history
  * is only the superseded data generations, which expiry reclaims.
  *
  * READ PATH: an operation parses the manifest ONCE, into an immutable
  * [[TableManifest.Snapshot]] ([[current]], or [[at]] for a retained
  * version), and plans everything from that one value: routing, zone-map
  * and bloom pruning, the scan ([[scan]]), the deletion vectors, the
  * commit base and the vacuum. No accessor re-reads `_MANIFEST`, so no
  * operation can mix two versions. The snapshot's
  * mapping names each bucket's generation dir; the handle lists each
  * (generation, bucket) dir once and reads each generation's data
  * schema once from one parquet footer, both cached for the handle's
  * life because generation dirs are immutable ([[vacuum]] evicts what
  * it deletes). The scan is one `HadoopFsRelation` over a
  * [[ManifestFileIndex]] of exactly the mapped buckets' files — no
  * per-read directory listing, no schema-inference job, no per-read
  * Hadoop configuration copy. Generations whose schemas disagree on a
  * field name or type fail the read loudly.
  *
  * WRITE PATH: every data commit of both sinks writes its generation
  * through [[writeGeneration]] — one partitioned write, one listing of
  * what it produced, then bloom sidecars and zone maps built from the
  * same listing and the same scan a read would use. The caller only
  * shapes the frame and decides whether the result commits or stages.
  * That write and the deletion-vector write both go through
  * [[writeBuckets]], the one place the file format is set; it is
  * fixed, not an option. Readers need nothing: the codec is recorded
  * per column chunk and footer statistics are unchanged.
  *
  * Concurrency: the writer lock belongs to this handle. [[write]] is the
  * one way to change the table: it takes the lock (`<root>_lock`, a
  * lease; see [[locked]]) through the handle's own configuration and
  * FileSystem, reads the current snapshot once and hands the body a
  * [[Txn]]. Commit, publish, discard, expiry, rollback and legacy
  * adoption exist only on that value, and the one vacuum runs at the
  * end of the write, still under the lock. So a writer's snapshot stays
  * current for its whole operation, [[Txn.commit]] publishes
  * `head.version + 1` without re-reading, and no sweep can race a
  * committer. A lock-free [[stage]] commits nothing and sweeps nothing;
  * its pre-registered generation is live to every vacuum. Readers never
  * lock; they race only the manifest rename, which is atomic: a read
  * serves the snapshot current at its call, and a commit landing while
  * its plan is built is simply not in it (the plan pins that snapshot's
  * immutable files; nothing retries). A long-running reader of an OLD
  * version races only [[Txn.expireVersions]] — production object stores
  * defer deletion by a retention horizon; here the writer lock plus
  * same-process readers make the window empty in this engine's usage.
  */
final class TableManifest(spark: SparkSession, val root: String) {
  import TableManifest.{BucketCol, ColStats, Layout, Migration, Snapshot, Stats, Written, canHeartbeat, lockTtlMs}

  // one configuration copy and one FileSystem handle per table handle,
  // shared by reads, commits and the writer lock: a fresh copy per call
  // was a fifth of a point read's main-thread time
  private lazy val conf = spark.sessionState.newHadoopConf()
  private val rootPath = new Path(root)
  private[sink] lazy val fs = rootPath.getFileSystem(conf)
  private val isLocal = rootPath.toUri.getScheme == null || rootPath.toUri.getScheme == "file"

  // Caches of immutable objects: a generation dir never changes once
  // written, so none of these can go stale; [[vacuum]] evicts the dirs
  // it deletes. Keys are root-relative dirs / generation dirs.
  private val listings = new ConcurrentHashMap[String, Seq[FileStatus]]()
  private val genSchemas = new ConcurrentHashMap[String, StructType]()
  private val blooms = new ConcurrentHashMap[(String, Int, String), Option[(Int, Array[Byte])]]()
  // Published versions this handle parsed or committed, for [[vacuum]]
  // only: a version file never changes once published, and vacuum
  // consults an entry only for a version its own listing still shows.
  // [[Txn.expireVersions]] evicts what it deletes.
  private val versionCache = new ConcurrentHashMap[Long, Snapshot]()
  private def manifestPath = new Path(root, TableManifest.ManifestFile)
  private def versionsDir = new Path(root, TableManifest.VersionsDir)
  private def versionPath(n: Long) = new Path(versionsDir, s"v-$n")

  private def exists: Boolean = fs.exists(manifestPath)

  /** A table written by the pre-manifest code has `__bucket=N` dirs
    * directly under the root and no `_MANIFEST`. Reading that as "no
    * committed state" would silently orphan every previously merged
    * row (and, for AggSink, disarm the replay fence) — so resolution
    * FAILS LOUDLY instead, and [[Txn.migrateLegacy]] performs the one-time
    * adoption: move the bucket dirs into a generation dir and commit a
    * manifest naming them.
    */
  private def legacyBuckets(): Seq[Int] = bucketDirs(rootPath)

  /** Bucket ids of the `__bucket=N` dirs directly under `dir` (none when
    * `dir` is absent) — the one place that naming is parsed.
    */
  private[sink] def bucketDirs(dir: Path): Seq[Int] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$BucketCol="))
      .map(_.getPath.getName.stripPrefix(s"$BucketCol=").toInt)
      .sorted

  /** Root-relative dir of one bucket of generation `gen`. */
  private[sink] def bucketDir(gen: String, b: Int): String = s"$gen/$BucketCol=$b"

  private def requireNotLegacy(): Unit = {
    val legacy = legacyBuckets()
    if (legacy.nonEmpty) throw new IllegalStateException(
      s"$root holds a pre-manifest table layout (${legacy.size} bucket dirs, " +
        "no _MANIFEST); refusing to read it as empty — run migrateLegacy() once")
  }

  private def readText(p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** [[readText]], or None when `p` is gone — a `_staged/` entry that a
    * lock-free stager or a failed publish deleted after it was listed.
    */
  private def readIfPresent(p: Path): Option[String] =
    try Some(readText(p)) catch { case _: java.io.FileNotFoundException => None }

  private def parseLayout(s: String): Layout = {
    val Array(g, n, w) = s.split(",", 3)
    Layout(g.toInt, n.toInt, if (w == "-") None else Some(w.toLong))
  }

  /** A body without a `#version` header predates the version log and
    * reads as version 1 with no history.
    */
  private def parse(text: String): Snapshot = {
    val lines = text.linesIterator.filter(_.nonEmpty).toSeq
    val (headers, dataLines) = lines.span(_.startsWith("#"))
    def header(k: String): Option[String] =
      headers.collectFirst { case h if h.startsWith(s"#$k=") => h.stripPrefix(s"#$k=") }
    val version = header("version").map(_.toLong).getOrElse(1L)
    val layout = header("layout").map(parseLayout)
    val migration = header("target").map(parseLayout).map { t =>
      val migrated = header("migrated").filter(_.nonEmpty)
        .map(_.split(",").map(_.toInt).toSet).getOrElse(Set.empty[Int])
      Migration(t, migrated)
    }
    val rows = dataLines.map { line =>
      val fields = line.split("\t", -1)
      val stats: Stats =
        if (fields.length < 3 || fields(2).isEmpty) Map.empty
        else fields(2).split(";").iterator.map { triple =>
          val Array(c, lo, hi) = triple.split(",", 3)
          c -> ColStats(lo.toDouble, hi.toDouble)
        }.toMap
      val dvs: Seq[String] =
        if (fields.length < 4 || fields(3).isEmpty) Seq.empty
        else fields(3).split(";").toSeq
      (fields(0).toInt, fields(1), stats, dvs)
    }
    Snapshot(version,
      rows.map(r => r._1 -> r._2).toMap,
      rows.map(r => r._1 -> r._3).toMap,
      rows.collect { case (b, _, _, d) if d.nonEmpty => b -> d }.toMap,
      layout, migration)
  }

  /** The published snapshot — the ONE read of `_MANIFEST`. Every
    * operation calls this once at its start and derives all its plans
    * from the value (see the class doc, READ PATH). A table never
    * committed is [[Snapshot.Empty]]; a pre-manifest layout throws.
    */
  def current(): Snapshot =
    try parse(readText(manifestPath))
    catch { case _: java.io.FileNotFoundException => requireNotLegacy(); Snapshot.Empty }

  /** Retained, published version `v` (time travel): one parse of its
    * immutable version file, checked against `cur`. Fails loudly on an
    * expired or never-published version.
    */
  def at(v: Long, cur: Snapshot = current()): Snapshot = {
    require(v >= 1 && v <= cur.version,
      s"version $v is not published at $root (current=${cur.version})")
    try parse(readText(versionPath(v)))
    catch {
      case _: java.io.FileNotFoundException => throw new IllegalStateException(
        s"version $v at $root has been expired (expireVersions) — retained: ${versions(cur).mkString(",")}")
    }
  }

  /** Retained, published versions of `cur`'s table, ascending. Version
    * files above the published `#version` are crashed-commit orphans,
    * not snapshots.
    */
  def versions(cur: Snapshot = current()): Seq[Long] =
    if (!fs.exists(versionsDir)) Seq.empty
    else fs.listStatus(versionsDir).toSeq
      .map(_.getPath.getName).filter(_.startsWith("v-"))
      .map(_.stripPrefix("v-").toLong)
      .filter(_ <= cur.version).sorted

  /** Fresh, never-reused generation dir for one commit's data files. */
  def newGenDir(): String = s"data/g-${java.util.UUID.randomUUID()}"

  /** Crash-injection seam for tests: runs right before the manifest
    * rename — the exact point "data files + version file written,
    * snapshot not yet published".
    */
  private[graft] var beforeCommit: () => Unit = () => ()

  private def renderLayout(l: Layout): String =
    s"${l.gen},${l.n},${l.rangeWidth.getOrElse("-")}"

  private def render(s: Snapshot): String = {
    val body = s.mapping.toSeq.sortBy(_._1).map { case (b, g) =>
      val st = s.stats.getOrElse(b, Map.empty)
        .toSeq.sortBy(_._1)
        .map { case (c, cs) => s"$c,${cs.min},${cs.max}" }.mkString(";")
      val d = s.dv.getOrElse(b, Seq.empty).mkString(";")
      if (d.isEmpty) s"$b\t$g\t$st" else s"$b\t$g\t$st\t$d"
    }.mkString("", "\n", "\n")
    val lh = s.layout.map(l => s"#layout=${renderLayout(l)}\n").getOrElse("")
    val mh = s.migration.map(mg =>
      s"#target=${renderLayout(mg.target)}\n#migrated=${mg.migrated.toSeq.sorted.mkString(",")}\n")
      .getOrElse("")
    s"#version=${s.version}\n$lh$mh$body"
  }

  /** The snapshot following `base` with mapping `m` (see [[Txn.commit]]
    * for the defaults): the value a commit publishes and [[stage]]
    * stages.
    */
  private def successor(base: Snapshot, m: Map[Int, String], stats: Map[Int, Stats],
                        layoutState: Option[(Layout, Option[Migration])],
                        dvState: Option[Map[Int, Seq[String]]]): Snapshot = {
    val (lay, mig) = layoutState.fold((base.layout, base.migration)) { case (l, mg) => (Some(l), mg) }
    val dv = dvState.getOrElse(base.dv.filter { case (b, _) => m.get(b) == base.mapping.get(b) })
    Snapshot(base.version + 1, m, stats, dv, lay, mig)
  }

  // ------------------------------------------------------------- writes

  /** THE way to change the table: take the writer lock ([[locked]]),
    * hand `body` a [[Txn]] over the snapshot current under it, and,
    * before the lock drops, vacuum once if the write changed the bucket
    * -> generation mapping, expired a version or discarded a stage. A
    * write that only appends deletion vectors or changes layout
    * metadata sweeps nothing; one whose body throws publishes nothing
    * further and sweeps nothing. `op` names the write in the lock file,
    * so a refused contender's error names the holder.
    */
  def write[T](op: String)(body: Txn => T): T = locked(op) {
    val tx = new Txn
    try {
      val out = body(tx)
      if (tx.sweep) vacuum(tx.head)
      out
    } finally tx.open = false
  }

  /** One [[write]]'s hold on the table, and the only holder of the
    * operations that change it. Valid only inside its write's body.
    */
  final class Txn private[TableManifest] () {
    private[TableManifest] var open = true
    private[TableManifest] var sweep = false
    private var last: Option[Snapshot] = None

    /** The snapshot current when the write took the lock: parsed once,
      * on first use, and kept current by the lock.
      */
    lazy val base: Snapshot = current()

    /** What this write last published, else [[base]]. */
    private[TableManifest] def head: Snapshot = last.getOrElse(base)

    private def live(): Unit =
      require(open, s"a transaction on $root was used after its write ended")

    private def publishNext(next: Snapshot, from: Snapshot): Snapshot = {
      live()
      commitExact(next)
      sweep ||= next.mapping != from.mapping
      last = Some(next)
      next
    }

    /** Publish the successor of [[head]] atomically (see class doc) and
      * return it: `head`'s mapping without the buckets in `drop`, plus
      * `put` (bucket -> generation dir); the per-bucket zone maps are
      * dropped and put alike (`stats`; omit for stat-less tables).
      * `layoutState`: None carries `head`'s layout headers forward
      * unchanged (stat-less and layout-less writers never think about
      * them); Some((layout, migration)) sets them exactly — how
      * [[MergeSink]] records layout evolution and migration progress in
      * the SAME atomic commit as the data it describes.
      * `dvState`: None applies the CONSUMPTION rule — a bucket keeps its
      * deletion vectors iff this commit maps it to the SAME generation
      * as `head` (an unchanged bucket's DVs still apply; a rewritten
      * bucket was rebuilt from a DV-applied read, so its DVs are
      * consumed and dropped in the same atomic commit). Every
      * data-rewriting caller gets correct DV semantics for free;
      * Some(dv) sets the map exactly (how [[MergeSink.deleteVector]]
      * appends new vectors).
      */
    def commit(put: Map[Int, String], stats: Map[Int, Stats] = Map.empty, drop: Iterable[Int] = Nil,
               layoutState: Option[(Layout, Option[Migration])] = None,
               dvState: Option[Map[Int, Seq[String]]] = None): Snapshot = {
      val h = head
      publishNext(successor(h, (h.mapping -- drop) ++ put, (h.stats -- drop) ++ stats, layoutState, dvState), h)
    }

    /** Restore the table to `toVersion`'s EXACT snapshot as a NEW
      * version — the Delta RESTORE / Iceberg rollback primitive.
      * Metadata-only and O(1): the rollback commit re-points at
      * `toVersion`'s generation dirs (mapping, zone maps, layout,
      * migration headers AND deletion vectors all restored verbatim,
      * including a None layout — a plain `commit` cannot clear headers,
      * rollback must). History is preserved: the rolled-back-over
      * versions stay time-travelable until [[expireVersions]], and
      * [[vacuum]] keeps their generations live for the same reason.
      * Forward writes continue normally on top of the restored state.
      */
    def rollback(toVersion: Long): Snapshot = {
      val h = head
      require(toVersion < h.version,
        s"rollback target $toVersion is not in the past (current=${h.version})")
      publishNext(at(toVersion, h).copy(version = h.version + 1), h)
    }

    /** WRITE-AUDIT-PUBLISH, publish step: commit the staged snapshot
      * atomically — the normal commit path, so history, time travel,
      * and crash atomicity are identical to a direct commit — and return
      * it. Fails fast when the table committed past the stage's `#base`
      * fence.
      */
    def publish(token: String): Snapshot = {
      val (fence, staged) = parseStaged(token)
      val h = head
      if (h.version != fence) throw new IllegalStateException(
        s"stage $token was computed against version $fence but the table is at ${h.version} — " +
          "the staged merge is stale; discard and re-stage")
      val next = publishNext(staged.copy(version = h.version + 1), h)
      fs.delete(stagedPath(token), false)
      next
    }

    /** WRITE-AUDIT-PUBLISH, reject step: drop the staged snapshot; this
      * write's vacuum sweeps generations only it referenced.
      */
    def discard(token: String): Unit = {
      live()
      fs.delete(stagedPath(token), false)
      sweep = true
    }

    /** Drop history: retain only the `keepLast` most recent versions of
      * [[head]] (minimum 1 — the current snapshot is always readable);
      * this write's vacuum then frees generation dirs only the expired
      * versions referenced. This is the retention knob that bounds
      * storage growth under continuous merging.
      */
    def expireVersions(keepLast: Int): Unit = {
      live()
      val h = head
      versions(h).filter(_ <= h.version - math.max(1, keepLast)).foreach { v =>
        fs.delete(versionPath(v), false)
        versionCache.remove(v)
      }
      sweep = true
    }

    /** One-time adoption of a pre-manifest table: bucket dirs move (file
      * renames, no data rewrite) into a fresh generation dir and a
      * manifest naming them is committed. Idempotent: a no-op when the
      * manifest already exists or no legacy dirs remain.
      */
    def migrateLegacy(): Unit =
      if (!exists) {
        val legacy = legacyBuckets()
        if (legacy.nonEmpty) {
          live()
          val gen = newGenDir()
          val genPath = new Path(root, gen)
          fs.mkdirs(genPath)
          legacy.foreach { b =>
            fs.rename(new Path(root, s"$BucketCol=$b"), new Path(genPath, s"$BucketCol=$b"))
          }
          val empty = Snapshot.Empty
          publishNext(successor(empty, legacy.map(_ -> gen).toMap, Map.empty, None, None), empty)
        }
      }

    /** Sweep at the end of this write even if it changed nothing. */
    def vacuum(): Unit = { live(); sweep = true }
  }

  /** Write `next` as version `next.version`, publish it, return it. */
  private def commitExact(next: Snapshot): Snapshot = {
    val text = render(next)
    val body = text.getBytes("UTF-8")
    // immutable history copy first (overwrite: a crashed prior attempt
    // at this same unpublished version is dead by single-writer rule)
    fs.mkdirs(versionsDir)
    val vout = fs.create(versionPath(next.version), true)
    try vout.write(body) finally vout.close()
    beforeCommit()
    val tmp = new Path(root, s"_manifest.tmp.${java.util.UUID.randomUUID()}")
    if (isLocal) {
      // the temp body is written through NIO, not the checksummed local
      // FileSystem: only the body moves, so a `.crc` sidecar written
      // beside it would be left behind by every commit
      val local = java.nio.file.Paths.get(tmp.toUri.getPath)
      java.nio.file.Files.write(local, body, java.nio.file.StandardOpenOption.CREATE_NEW)
      java.nio.file.Files.move(local,
        java.nio.file.Paths.get(manifestPath.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      val out = fs.create(tmp, false)
      try out.write(body) finally out.close()
      FileContext.getFileContext(rootPath.toUri, conf)
        .rename(tmp, manifestPath, Options.Rename.OVERWRITE)
    }
    versionCache.put(next.version, parse(text))
    next
  }

  // -------------------------------------------------------- writer lock

  private val lockPath = new Path(root + "_lock")

  /** SINGLE-WRITER contract, enforced: every [[write]] runs inside this.
    * Two interleaved writers could each rewrite a bucket from a stale
    * read and lose the other's rows, and a commit publishes
    * `head.version + 1` without re-reading. A create-exclusive lock
    * file (`<root>_lock`) makes the second writer FAIL FAST with the
    * holder's identity instead of corrupting state. Exclusive-create
    * atomicity is filesystem-specific, so the acquisition path picks
    * the primitive that IS atomic on each: local paths use NIO
    * `Files.createFile` (O_CREAT|O_EXCL); HDFS-like filesystems claim
    * by renaming a fully-written temp file (an atomic namespace
    * operation there). Genuine I/O errors are rethrown, never
    * misreported as contention. The reference delegates this to
    * ClickHouse's merge machinery; a transactional table format
    * (Delta/Iceberg) replaces this with optimistic commit protocols
    * without changing callers.
    *
    * CRASHED holders need no operator: the lock is a LEASE (see
    * [[TableManifest.lockTtlMs]]) — holders heartbeat its mtime, and a
    * contender that finds the heartbeat stale breaks the lock and
    * proceeds. The break is guarded against racing a FRESH holder: the
    * breaker RENAMES the lock aside (one atomic winner among concurrent
    * breakers), re-reads the renamed file, and only proceeds if it
    * holds exactly the stale owner it observed — anything else is
    * restored and reported as live contention. [[breakLock]] remains as
    * the manual override.
    */
  private def locked[T](op: String)(body: => T): T = {
    val lock = lockPath
    val owner = s"$op pid=${ProcessHandle.current().pid()} " +
      s"epochMs=${System.currentTimeMillis()} uuid=${java.util.UUID.randomUUID()}"

    def readLock(): Option[(String, Long)] =
      try {
        val st = fs.getFileStatus(lock)
        val in = fs.open(lock)
        val text = try scala.io.Source.fromInputStream(in).mkString.trim finally in.close()
        Some((text, st.getModificationTime))
      } catch { case _: java.io.IOException => None } // vanished or unreadable

    def contention(holder: String): Nothing =
      throw new MergeSink.ConcurrentWriterException(
        s"$root is locked by [$holder]; refusing concurrent $op " +
          s"(single-writer contract; lease expires ${lockTtlMs} ms after its " +
          "last heartbeat; breakLock() is the manual override)")

    /** One create-exclusive claim attempt; false = someone holds it. */
    def tryClaim(): Boolean =
      if (isLocal) {
        val p = java.nio.file.Paths.get(lock.toUri.getPath)
        if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
        try {
          java.nio.file.Files.write(p, owner.getBytes("UTF-8"),
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else {
        // rename is the atomic namespace op on HDFS-like stores, so the
        // CLAIM is the rename of a fully-written temp file — a contender
        // can never observe a claimed-but-empty lock (create-then-write
        // had that window). On S3-like object stores neither
        // create-exclusive nor rename is atomic: the lock is ADVISORY
        // there; a table format with a real commit protocol
        // (Delta/Iceberg — see class doc) is the production answer.
        val tmp = new Path(root + s"_lock.tmp.${java.util.UUID.randomUUID()}")
        val out = fs.create(tmp, false)
        out.write(owner.getBytes("UTF-8")); out.close()
        val claimed =
          try fs.rename(tmp, lock)
          catch {
            case e: java.io.IOException =>
              // the rename may have landed despite the error — if the lock
              // now carries OUR owner string we hold it; otherwise this is
              // a genuine I/O failure and must be rethrown, not
              // misreported as contention (class-doc contract)
              val ours = readLock().exists(_._1 == owner)
              if (!ours) { fs.delete(tmp, false); throw e }
              true
          }
        if (!claimed) fs.delete(tmp, false)
        else {
          // holder-side hygiene: sweep lock temp files from CRASHED
          // claimers (mtime-guarded so a live claimer mid-write is never
          // raced; a live one is about to fail on rename and delete its
          // own tmp anyway)
          try {
            val dir = lock.getParent
            val prefix = lock.getName + ".tmp."
            val cutoff = System.currentTimeMillis() - 10 * 60 * 1000
            fs.listStatus(dir).foreach { st =>
              if (st.getPath.getName.startsWith(prefix) &&
                  st.getModificationTime < cutoff)
                fs.delete(st.getPath, false)
            }
          } catch { case _: java.io.IOException => () } // best-effort
        }
        claimed
      }

    /** Break a lock whose heartbeat is stale. Atomic among concurrent
      * breakers (exactly one rename wins); guarded against a fresh
      * holder appearing between the staleness read and the rename by
      * re-reading the renamed file — if it is not the observed stale
      * owner, it is restored and treated as live. Returns true if the
      * stale lock is gone and a claim may be retried.
      */
    def breakStale(staleOwner: String): Boolean = {
      val aside = new Path(root + s"_lock.stale.${java.util.UUID.randomUUID()}")
      val renamed =
        try fs.rename(lock, aside)
        catch { case _: java.io.IOException => false }
      if (!renamed) true // another breaker won the rename; retry the claim
      else {
        val moved =
          try {
            val in = fs.open(aside)
            try scala.io.Source.fromInputStream(in).mkString.trim finally in.close()
          } catch { case _: java.io.IOException => "" }
        if (moved == staleOwner) { fs.delete(aside, false); true }
        else {
          // we grabbed a FRESH holder's lock — put it back and report
          // live contention (a release racing the restore leaves a
          // zombie lock that the TTL itself will break: self-healing)
          try fs.rename(aside, lock)
          catch { case _: java.io.IOException => fs.delete(aside, false) }
          false
        }
      }
    }

    // claim loop: exclusive-create; on contention, break only a lock
    // whose lease has expired. Bounded — never spins on live holders.
    var acquired = false
    var attempts = 0
    while (!acquired && attempts < 3) {
      attempts += 1
      acquired = tryClaim()
      if (!acquired) readLock() match {
        case None => () // holder released between claim and read; retry
        case Some((holder, mtime)) =>
          val age = System.currentTimeMillis() - mtime
          if (age <= lockTtlMs) contention(holder)
          // no heartbeat support on this FS → mtime age proves nothing
          // about liveness; advisory posture, never auto-break
          else if (!canHeartbeat(fs, lock)) contention(holder)
          else if (!breakStale(holder)) contention(holder)
      }
    }
    if (!acquired) contention(readLock().map(_._1).getOrElse("<unknown>"))

    // the lease heartbeat: refresh the lock's mtime every ttl/4 while
    // the body runs — a contender reading an mtime older than the TTL
    // can only be seeing a crashed (or frozen-past-the-lease) holder
    val hb: Option[Thread] =
      if (!canHeartbeat(fs, lock)) None // advisory posture: no lease on this FS
      else {
        val t = new Thread(() => {
          try {
            while (!Thread.interrupted()) {
              Thread.sleep(math.max(lockTtlMs / 4, 10))
              try fs.setTimes(lock, System.currentTimeMillis(), -1)
              // NonFatal (not just IOException): any one missed beat is
              // tolerated (TTL = 4 beats), but an uncaught throw would
              // kill the daemon silently and let a contender break a
              // LIVE holder after the TTL. NonFatal leaves interrupts
              // and JVM-fatal errors alone.
              catch { case scala.util.control.NonFatal(_) => () }
            }
          } catch { case _: InterruptedException => () }
        })
        t.setDaemon(true)
        t.setName(s"graft-lock-heartbeat-$op")
        t.start()
        Some(t)
      }
    try body finally { hb.foreach(_.interrupt()); fs.delete(lock, false) }
  }

  /** Operator override: remove a lock left by a crashed writer. */
  def breakLock(): Unit = fs.delete(lockPath, false)

  // ------------------------------------------------- staged snapshots

  private def stagedDir = new Path(root, TableManifest.StagedDir)
  private def stagedPath(token: String) = new Path(stagedDir, token)

  /** WRITE-AUDIT-PUBLISH, stage step, LOCK-FREE: `body` gets the current
    * snapshot and a fresh generation dir, writes the staged data there
    * and returns what it wrote; its successor of that snapshot is then
    * persisted under `_staged/<token>` WITHOUT publishing — no reader
    * resolves it, no version is consumed. The generation is
    * pre-registered ([[preStage]]) BEFORE `body` runs, so a concurrent
    * writer's vacuum never sweeps it half-written; the staged file
    * takes over that reference before the marker goes. A body that
    * throws drops the marker and its generation ([[discardPending]]).
    * The staged body carries a `#base=<version>` fence: [[Txn.publish]]
    * refuses when the table has committed past that version, because
    * the staged mapping was computed against state that no longer
    * exists (publishing it would silently drop the intervening commits'
    * rows from the staged buckets). The fence is the snapshot the body
    * READ, never one observed after the O(data) write. Staged
    * generations count as LIVE for [[vacuum]] until the stage is
    * published or [[Txn.discard]]ed.
    */
  private[sink] def stage(body: (Snapshot, String) => Written): String = {
    val base = current()
    val gen = newGenDir()
    val pending = preStage(gen)
    try {
      val w = body(base, gen)
      val next = successor(base, base.mapping ++ w.mapping, base.stats ++ w.stats, None, None)
      val token = s"s-${java.util.UUID.randomUUID()}"
      val out = fs.create(stagedPath(token), false)
      try out.write((s"#base=${base.version}\n" + render(next)).getBytes("UTF-8")) finally out.close()
      fs.delete(stagedPath(pending), false)
      token
    } catch {
      case scala.util.control.NonFatal(e) =>
        try discardPending(pending)
        catch { case scala.util.control.NonFatal(_) => () }
        throw e
    }
  }

  /** Outstanding stage tokens (audit/maintenance metadata). */
  def staged(): Seq[String] =
    if (!fs.exists(stagedDir)) Seq.empty
    else fs.listStatus(stagedDir).toSeq.map(_.getPath.getName).filter(_.startsWith("s-")).sorted

  /** Pre-register a generation a LOCK-FREE stager is about to write
    * (`_staged/p-<token>`, body = the gen name). Every [[vacuum]] counts
    * pre-registered generations fully live, closing the race where the
    * half-written generation of a stager is referenced by nothing yet.
    * Written BEFORE any data byte, so there is no unprotected window. A
    * crashed stager leaves its marker until [[discardPending]] — the
    * same manual-reclaim posture as an unaudited staged snapshot.
    */
  private[graft] def preStage(gen: String): String = {
    val token = s"p-${java.util.UUID.randomUUID()}"
    fs.mkdirs(stagedDir)
    val out = fs.create(stagedPath(token), false)
    try out.write(gen.getBytes("UTF-8")) finally out.close()
    token
  }

  /** Drop the staged snapshot `token` WITHOUT the writer lock — what a
    * failed publish does, whatever refused it. Only the staged file
    * goes: its generation is then referenced by nothing and the next
    * sweeping write reclaims it. Deleting the generation here, unlocked,
    * could take the files of a publish that committed before it threw.
    */
  private[sink] def dropStaged(token: String): Unit = fs.delete(stagedPath(token), false)

  /** Drop a pending pre-registration (failed or crashed stager): delete
    * the one generation its marker names, then the marker. No vacuum —
    * a stager holds no lock, and a sweep now could delete a concurrent
    * committer's written-but-unpublished files.
    */
  private[graft] def discardPending(pending: String): Unit = {
    val gen = readText(stagedPath(pending)).trim
    fs.delete(new Path(root, gen), true)
    evict(gen, None)
    fs.delete(stagedPath(pending), false)
  }

  /** Outstanding pre-registrations. */
  def pendingStages(): Seq[String] =
    if (!fs.exists(stagedDir)) Seq.empty
    else fs.listStatus(stagedDir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("p-")).sorted

  /** Generations of the outstanding pre-registrations; a marker whose
    * stager finished after the listing names nothing (its staged file,
    * written before the marker went, is listed after this).
    */
  private def pendingGens(): Set[String] =
    pendingStages().flatMap(t => readIfPresent(stagedPath(t))).map(_.trim).toSet

  /** The staged file `token` as (`#base` fence, snapshot); None once it
    * is published, discarded or dropped.
    */
  private def stagedIfPresent(token: String): Option[(Long, Snapshot)] =
    readIfPresent(stagedPath(token)).map { text =>
      val base = text.linesIterator.collectFirst {
        case l if l.startsWith("#base=") => l.stripPrefix("#base=").toLong
      }.getOrElse(throw new IllegalStateException(s"stage $token has no #base fence"))
      (base, parse(text))
    }

  private def parseStaged(token: String): (Long, Snapshot) =
    stagedIfPresent(token).getOrElse(throw new IllegalStateException(
      s"stage $token at $root does not exist (published or discarded?)"))

  /** The staged snapshot `token` — what the AUDIT step reads (through
    * [[scan]], like any snapshot).
    */
  def staged(token: String): Snapshot = parseStaged(token)._2

  /** Sweep everything no longer reachable at (generation, bucket)
    * granularity: a generation dir is shared by every bucket its
    * commit wrote, so whole-dir liveness is not enough — a bucket
    * subdir that NO retained version references any more (superseded
    * rewrite whose versions expired, or a purged bucket) must go even
    * while sibling buckets keep the dir alive. This is what makes
    * [[MergeSink.purgeKeys]]' erasure PHYSICAL: after history expiry
    * no parquet byte of a dereferenced bucket survives. Also sweeps
    * generation dirs referenced by nothing (crashed commits), version
    * files above the published version (crashed commits' history
    * copies), and stale `_manifest.tmp.*` files with their `.crc`
    * sidecars. `cur` is the current snapshot (what the write just
    * committed, or read); an older retained version file is parsed
    * once per handle, not once per vacuum. Runs only at the end of a
    * [[write]], under its lock, so no live committer's files can be
    * racing this sweep.
    */
  private def vacuum(cur: Snapshot): Unit = {
    // generations pre-registered by in-flight lock-free stagers are
    // fully live — their bucket layout is still being written. Listed
    // BEFORE the staged files: a stager writes its staged file, then
    // drops its marker, so one of the two listings sees its generation
    val pending = pendingGens()
    // every snapshot that still resolves data: the current one, each
    // older retained version, and each staged (write-audit-publish)
    // snapshot until it is published, discarded or dropped (a staged
    // file that vanishes between the listing and its parse was one of
    // these, so it keeps nothing live)
    val older = versions(cur).filter(_ < cur.version)
      .map(v => versionCache.computeIfAbsent(v, _ => at(v, cur)))
    val live = cur +: (older ++ staged().flatMap(stagedIfPresent).map(_._2))
    // gen -> buckets some live snapshot still resolves from it
    val dataRefs: Map[String, Set[Int]] = live.flatMap(_.mapping.toSeq)
      .groupMap { case (_, g) => g } { case (b, _) => b }
      .map { case (g, bs) => g -> bs.toSet }
    // deletion-vector dirs keep their generation alive too: a DV path
    // is `data/g-*/dv_<bucket>`, so its first two segments name the
    // gen; referenced-with-no-data-buckets keeps the dir but sweeps
    // nothing inside (DV subdirs are not `__bucket=` dirs)
    val dvGens: Set[String] = live.flatMap(_.dv.values.flatten)
      .map(_.split("/").take(2).mkString("/")).toSet
    val liveRefs: Map[String, Set[Int]] =
      dataRefs ++ (dvGens -- dataRefs.keySet).map(_ -> Set.empty[Int])
    val dataDir = new Path(root, "data")
    if (fs.exists(dataDir))
      fs.listStatus(dataDir).foreach { st =>
        val rel = s"data/${st.getPath.getName}"
        if (pending.contains(rel)) ()
        else liveRefs.get(rel) match {
          case None =>
            fs.delete(st.getPath, true)
            evict(rel, None)
          case Some(liveBuckets) =>
            bucketDirs(st.getPath).filterNot(liveBuckets).foreach { b =>
              fs.delete(new Path(root, bucketDir(rel, b)), true)
              evict(rel, Some(b))
            }
        }
      }
    if (fs.exists(versionsDir))
      fs.listStatus(versionsDir).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith("v-") && name.stripPrefix("v-").toLong > cur.version)
          fs.delete(st.getPath, false)
      }
    // listed raw: a checksummed FileSystem hides the `.crc` files, and
    // commits before the NIO temp write left `._manifest.tmp.*.crc`
    val raw = fs match { case c: ChecksumFileSystem => c.getRawFileSystem; case f => f }
    raw.listStatus(rootPath).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("_manifest.tmp.") || n.startsWith("._manifest.tmp.")) raw.delete(st.getPath, false)
    }
  }

  /** Drop the cached state of a deleted dir: one bucket of `gen`, or
    * (None) the whole generation. Runs after the delete, so a listing
    * racing the delete cannot re-insert a stale entry.
    */
  private def evict(gen: String, bucket: Option[Int]): Unit = bucket match {
    case Some(b) =>
      listings.remove(bucketDir(gen, b))
      blooms.keySet.removeIf { case (g, bb, _) => g == gen && bb == b }
    case None =>
      listings.keySet.removeIf(_.startsWith(s"$gen/"))
      blooms.keySet.removeIf(_._1 == gen)
      genSchemas.remove(gen)
  }

  /** Data files of one root-relative dir, listed once per handle.
    * Hidden names (`_`/`.`-led: bloom sidecars, checksums, markers) are
    * skipped, as Spark's own file listing skips them.
    */
  private def dataFiles(dir: String): Seq[FileStatus] =
    listings.computeIfAbsent(dir, d =>
      fs.listStatus(new Path(root, d)).toSeq
        .filter { st =>
          val n = st.getPath.getName
          st.isFile && !n.startsWith("_") && !n.startsWith(".")
        }
        .sortBy(_.getPath.getName))

  /** Generation `gen`'s data schema from ONE parquet footer among
    * `files` — Spark's row-metadata schema (parquet's own as fallback),
    * made nullable: exactly what Spark's parquet schema inference
    * yields, read in-process instead of by a schema-inference job.
    * `files` is listed only on a cache miss.
    */
  private def genSchema(gen: String, files: => Seq[FileStatus]): StructType =
    genSchemas.computeIfAbsent(gen, g => {
      import org.apache.parquet.format.converter.ParquetMetadataConverter
      import org.apache.parquet.hadoop.Footer
      import org.apache.parquet.hadoop.util.HadoopInputFile
      import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
      val probe = files.headOption.getOrElse(throw new IllegalStateException(
        s"generation $g at $root holds no data file to read its schema from"))
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(probe, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
      PlanBridge.asNullable(ParquetFileFormat.readSchemaFromFooter(
        new Footer(probe.getPath, footer), new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
    })

  /** Generations of one snapshot must agree on the set of field names
    * and on each field's type (nullability aside): forcing one
    * generation's schema onto another would read a missing column as
    * silent nulls.
    */
  private def requireSameSchema(g0: String, s0: StructType, g: String, s: StructType): Unit = {
    val (a, b) = (s0.fields.map(f => f.name -> f.dataType).toMap,
                  s.fields.map(f => f.name -> f.dataType).toMap)
    if (a != b) {
      def show(t: Option[DataType]) = t.fold("absent")(_.simpleString)
      val diff = (a.keySet ++ b.keySet).toSeq.sorted
        .filter(n => a.get(n) != b.get(n))
        .map(n => s"$n ${show(a.get(n))} vs ${show(b.get(n))}")
      throw new IllegalStateException(
        s"schema drift at $root: generations $g0 and $g disagree on " +
          s"${diff.mkString(", ")} — refusing to read one generation's schema over the other")
    }
  }

  private val bucketSchema = StructType(Seq(StructField(BucketCol, IntegerType, nullable = true)))

  /** One file scan over `dirs` (root-relative dir, partition values,
    * data files) — no listing, no inference: see the class doc.
    */
  private def fileScan(dirs: Seq[(String, InternalRow, Seq[FileStatus])],
                       dataSchema: StructType, partitionSchema: StructType): DataFrame = {
    val index = new ManifestFileIndex(
      dirs.map { case (d, v, files) => (v, fs.makeQualified(new Path(root, d)), files) },
      partitionSchema)
    PlanBridge.ofRows(spark, LogicalRelation(HadoopFsRelation(
      index, partitionSchema, dataSchema, None, new ParquetFileFormat(), Map.empty)(spark)))
  }

  private def resolve(m: Map[Int, String], buckets: Option[Seq[Int]]): Option[DataFrame] = {
    val sel = buckets match {
      case Some(bs) =>
        val keep = bs.toSet
        m.filter { case (b, _) => keep(b) }
      case None => m
    }
    if (sel.isEmpty) None
    else {
      val dirs = sel.toSeq.sortBy(_._1).map { case (b, gen) =>
        (gen, b, dataFiles(bucketDir(gen, b)))
      }
      val byGen = dirs.groupBy(_._1)
      val schemas = dirs.map(_._1).distinct.map(g => g -> genSchema(g, byGen(g).flatMap(_._3)))
      val (g0, s0) = schemas.head
      schemas.tail.foreach { case (g, s) => requireSameSchema(g0, s0, g, s) }
      Some(fileScan(dirs.map { case (gen, b, files) => (bucketDir(gen, b), InternalRow(b), files) },
        s0, bucketSchema))
    }
  }

  /** Rows of root-relative, unpartitioned dirs (deletion vectors) read
    * with `schema` — the same cached, listing-free scan as [[scan]].
    */
  def scanDirs(dirs: Seq[String], schema: StructType): DataFrame =
    fileScan(dirs.map(d => (d, InternalRow.empty, dataFiles(d))), schema, new StructType())

  /** Snapshot `s`'s rows with the `__bucket` partition column (deletion
    * vectors NOT applied: the owning sink applies `s.dv`). `buckets`
    * restricts resolution to those buckets' file sets — pruning at the
    * PATH level: other buckets' files are never even listed into the
    * scan. None = no mapped bucket for the request. Generation dirs are
    * immutable, so the frame stays `s` whatever commits after it.
    */
  def scan(s: Snapshot, buckets: Option[Seq[Int]] = None): Option[DataFrame] =
    resolve(s.mapping, buckets)

  // ------------------------------------------------- bloom sidecars

  /** Bloom sidecars live INSIDE the bucket's generation dir, prefixed
    * `_` so every Hadoop/Spark data scan ignores them. Generation dirs
    * are immutable and atomically published, so a sidecar written
    * before [[Txn.commit]] shares the data files' crash story exactly: an
    * unpublished generation's sidecars are orphans, a published one's
    * are guaranteed present and consistent with its rows.
    */
  private def bloomPath(gen: String, bucket: Int, c: String): Path =
    new Path(root, s"${bucketDir(gen, bucket)}/_bloom_$c")

  /** Sidecar format: 4-byte big-endian hash count, then the bitset. */
  private def writeBloom(gen: String, bucket: Int, c: String,
                 numHashes: Int, bits: Array[Byte]): Unit = {
    val out = fs.create(bloomPath(gen, bucket, c), true)
    try { out.writeInt(numHashes); out.write(bits) } finally out.close()
    blooms.remove((gen, bucket, c))
  }

  /** The bloom of (generation, bucket, column), if the writer recorded
    * one — (numHashes, bits). Sidecars of a published generation are
    * immutable, so each is read once per handle (absence included).
    */
  private def bloomIn(gen: String, bucket: Int, c: String): Option[(Int, Array[Byte])] =
    blooms.computeIfAbsent((gen, bucket, c), _ => {
      val p = bloomPath(gen, bucket, c)
      if (!fs.exists(p)) None
      else {
        val len = fs.getFileStatus(p).getLen.toInt - 4
        val in = fs.open(p)
        try {
          val k = in.readInt()
          val bits = new Array[Byte](len)
          in.readFully(bits)
          Some((k, bits))
        } finally in.close()
      }
    })

  /** Buckets of `s` that MIGHT hold a row with `c` hashing to one of
    * `hashes` — the metadata-level point-lookup decision (the zone
    * maps' equality sibling, for high-cardinality secondary ids where
    * min/max spans the domain and zone maps cannot prune). ONE sidecar
    * read per bucket for the whole probe set. A bucket is admitted if
    * ANY probe hash might be contained, or if it has no sidecar for `c`
    * (missing information never prunes). `hashes` are BIGINT hashes
    * ([[BucketBloom.hashLong]]) while a sidecar hashes the column's own
    * type, so a bucket whose generation does not type `c` as BIGINT is
    * admitted too. That type comes from the cached generation schema,
    * read only when the bloom would prune.
    */
  def bucketsForPoints(s: Snapshot, c: String, hashes: Seq[Long]): Seq[Int] =
    s.mapping.filter { case (b, gen) =>
      bloomIn(gen, b, c).forall { case (k, bits) =>
        hashes.exists(h => BucketBloom.mightContain(bits, k, h))
      } || !genSchema(gen, dataFiles(bucketDir(gen, b)))
        .exists(f => f.name == c && f.dataType == LongType)
    }.keys.toSeq.sorted

  /** Per-bucket (fileName, size, mtime) of snapshot `s` — the metadata
    * the compaction policy and layout audits read.
    */
  def bucketFiles(s: Snapshot): Map[Int, Seq[(String, Long, Long)]] =
    s.mapping.map { case (b, gen) =>
      b -> dataFiles(bucketDir(gen, b)).map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
    }

  // ------------------------------------------------- generation writer

  /** Where commit-time zone maps came from, per generation written:
    * parquet footers (driver-side metadata) or the fallback scan.
    */
  private[sink] val statsFromFooter = new AtomicLong(0)
  private[sink] val statsFromScan = new AtomicLong(0)

  /** Write `df` — which already carries `__bucket` and the caller's
    * sort or partitioning — into the fresh generation dir `gen`, and
    * build what its commit needs: the buckets it produced files for
    * (listed once, through the listing cache the next read uses), a
    * bloom sidecar per (bucket, `bloomCols` column) and the zone maps of
    * `statsCols`. Sidecars and stats are built from the generation's
    * manifest scan (footer schema, no inference job). Committing or
    * staging [[Written.mapping]] is the caller's; until then the
    * generation is an unreferenced orphan. A write that produced no
    * bucket builds nothing and leaves no dir. `op` names the JobLabel
    * phases `<op>:write`, `<op>:sidecars` and `<op>:stats-scan`.
    */
  private[sink] def writeGeneration(op: String, df: DataFrame,
                                    statsCols: Seq[String] = Nil,
                                    bloomCols: Seq[String] = Nil,
                                    bloomBits: Int = BucketBloom.DefaultBits,
                                    gen: String = newGenDir()): Written = {
    writeBuckets(op, df, gen)
    val buckets = bucketDirs(new Path(root, gen))
    if (buckets.isEmpty) {
      fs.delete(new Path(root, gen), true)
      Written(gen, Nil, Map.empty)
    } else {
      lazy val written = resolve(buckets.map(_ -> gen).toMap, None).get
      JobLabel(spark, s"$op:sidecars $root") {
        bloomCols.foreach(c => writeBlooms(gen, written, c, bloomBits))
      }
      val stats =
        if (statsCols.isEmpty) Map.empty[Int, Stats]
        else footerStats(gen, buckets, statsCols) match {
          case Some(m) => statsFromFooter.incrementAndGet(); m
          case None =>
            statsFromScan.incrementAndGet()
            JobLabel(spark, s"$op:stats-scan $root")(scanStats(written, statsCols))
        }
      Written(gen, buckets, stats)
    }
  }

  /** Every sink parquet write, generations and deletion vectors alike:
    * `df`, which carries `__bucket`, written `partitionBy(__bucket)`
    * into the root-relative dir `dir` under the JobLabel phase
    * `<op>:write`, in THE sink file format (see the class doc). ZSTD at
    * parquet's default level: level 9 saves under 1% more. v2 pages:
    * integer columns fall back from dictionary to DELTA_BINARY_PACKED
    * and strings to DELTA_BYTE_ARRAY, which shares the prefixes of
    * key-sorted neighbours, where v1 pages fall back to PLAIN.
    */
  private[sink] def writeBuckets(op: String, df: DataFrame, dir: String): Unit =
    JobLabel(spark, s"$op:write $root") {
      df.write.partitionBy(BucketCol)
        .option("compression", "zstd")
        .option("parquet.writer.version", "v2")
        .parquet(s"$root/$dir")
    }

  /** Bloom sidecars of column `c` for every bucket of a just-written
    * generation (see [[BucketBloom]]): ONE job, no shuffle — each task
    * sets bits in a per-bucket bitset of the rows it scans, and the
    * driver ORs the partials (OR is commutative and idempotent, so the
    * bytes equal a grouped aggregate's). Sidecars land inside the
    * generation dir before any commit names it, so they share the data
    * files' atomic-publish story.
    */
  private def writeBlooms(gen: String, written: DataFrame, c: String, bloomBits: Int): Unit = {
    require(bloomBits % 8 == 0 && bloomBits > 0, s"bloomBits must be a positive multiple of 8: $bloomBits")
    val k = BucketBloom.DefaultHashes
    written.filter(col(c).isNotNull)
      .select(col(BucketCol), xxhash64(col(c)))
      .as(Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong))
      .mapPartitions { rows =>
        val acc = scala.collection.mutable.HashMap.empty[Int, Array[Byte]]
        rows.foreach { case (b, h) =>
          BucketBloom.add(acc.getOrElseUpdate(b, new Array[Byte](bloomBits >> 3)), k, h)
        }
        acc.iterator
      }(Encoders.tuple(Encoders.scalaInt, Encoders.BINARY))
      .collect()
      .groupMapReduce(_._1)(_._2)(BucketBloom.or)
      .foreach { case (b, bits) => writeBloom(gen, b, c, k, bits) }
  }

  /** Zone-map stats from the just-written generation's PARQUET FOOTERS:
    * the writer sorted and wrote these files moments ago, and their
    * row-group statistics already hold exact per-column min/max for
    * numeric types — so the commit-time stats pass is O(files)
    * driver-side metadata instead of a columnar re-scan of the
    * generation. Returns None — falling back to [[scanStats]] — if ANY
    * (file, column) is undecidable: missing statistics, a non-numeric
    * physical type, or an unreadable footer. All-NULL columns record no
    * stats, exactly like the scan path (missing stats never prune).
    * Equivalence is spec-pinned (PipelineSpec "footer stats").
    */
  private def footerStats(gen: String, buckets: Seq[Int],
                          statsCols: Seq[String]): Option[Map[Int, Stats]] = try {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val out = buckets.map { b =>
      // (min, max) per stats column, folded over row groups
      val acc = scala.collection.mutable.Map.empty[String, (Double, Double)]
      dataFiles(bucketDir(gen, b)).foreach { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
        try {
          val md = reader.getFooter.getBlocks
          statsCols.foreach { c =>
            md.forEach { blk =>
              val colChunk = blk.getColumns.asScala
                .find(_.getPath.toDotString == c)
                .getOrElse(return None) // column missing: undecidable
              // Only PLAIN numeric physical types are decidable from
              // footers: a logical annotation over a numeric physical
              // (int32/int64-backed DECIMAL's unscaled value,
              // TIMESTAMP/TIME/DATE epochs) yields raw physical units
              // that diverge from the scan path's cast-to-double
              // semantics — wrong zone maps would silently prune
              // buckets holding matching rows. Such columns fall back
              // to the scan, which casts correctly.
              val pt = colChunk.getPrimitiveType
              import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
              val physOk = pt.getPrimitiveTypeName match {
                case INT32 | INT64 | FLOAT | DOUBLE => true
                case _                              => false
              }
              val annOk = pt.getLogicalTypeAnnotation match {
                case null => true
                case i: org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
                  i.isSigned // unsigned stats reinterpret as signed: undecidable
                case _ => false // DECIMAL / TIMESTAMP / TIME / DATE / ...
              }
              if (!physOk || !annOk) return None
              val st = colChunk.getStatistics
              if (st == null || !st.isNumNullsSet) return None
              if (st.hasNonNullValue) {
                val (mn, mx) = (st.genericGetMin, st.genericGetMax) match {
                  case (a: Number, bx: Number) => (a.doubleValue(), bx.doubleValue())
                  case _ => return None // non-numeric: undecidable
                }
                acc.get(c) match {
                  case Some((m0, m1)) => acc(c) = (math.min(m0, mn), math.max(m1, mx))
                  case None           => acc(c) = (mn, mx)
                }
              } else if (st.getNumNulls != blk.getRowCount) {
                return None // no value recorded but not all-null: undecidable
              }
            }
          }
        } finally reader.close()
      }
      b -> acc.toMap.map { case (c, (mn, mx)) => c -> ColStats(mn, mx) }
    }.toMap
    Some(out)
  } catch { case scala.util.control.NonFatal(_) => None }

  /** Per-bucket min/max of `statsCols` by a columnar scan of only those
    * columns — the fallback for footers [[footerStats]] cannot decide;
    * correctness never depends on footers. All-NULL columns record no
    * stats for that bucket (missing stats never prune).
    */
  private def scanStats(written: DataFrame, statsCols: Seq[String]): Map[Int, Stats] = {
    val aggs = statsCols.flatMap(c => Seq(
      min(col(c)).cast("double").as(s"__mn_$c"),
      max(col(c)).cast("double").as(s"__mx_$c")))
    written.groupBy(col(BucketCol))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        val b = r.getAs[Number](BucketCol).intValue()
        val st: Stats = statsCols.flatMap { c =>
          val mn = r.getAs[Any](s"__mn_$c"); val mx = r.getAs[Any](s"__mx_$c")
          if (mn == null || mx == null) None
          else Some(c -> ColStats(mn.asInstanceOf[Double], mx.asInstanceOf[Double]))
        }.toMap
        b -> st
      }.toMap
  }
}

object TableManifest {
  val ManifestFile = "_MANIFEST"
  val VersionsDir = "_versions"
  val StagedDir = "_staged"

  /** Partition column of every sink table's generation dirs. */
  val BucketCol = "__bucket"

  /** Lease TTL for the writer lock: a holder HEARTBEATS the lock's
    * mtime every ttl/4; a contender may break a lock whose mtime is
    * older than the TTL (no heartbeat for >= 4 missed intervals =
    * crashed holder), never a live one. Package-visible so specs can
    * shrink the lease; production default 60 s — far above any GC
    * pause, far below "page an operator". The classic lease caveat
    * applies and is accepted: a holder frozen LONGER than the TTL
    * (stop-the-world pause measured in minutes) could be broken while
    * still alive; the commit itself stays untorn either way because
    * publishing is one atomic manifest rename, so the failure mode is
    * a lost-update race identical to the pre-lock world — which is why
    * the TTL is 60 s and the heartbeat 15 s, not seconds. A
    * transactional table format's optimistic commit protocol
    * (Delta/Iceberg) is the production answer past that.
    */
  private[graft] var lockTtlMs: Long = 60000L

  /** Lease capability per filesystem: can this store refresh a file's
    * mtime (`setTimes`)? Without it a holder cannot heartbeat, so an
    * old mtime says NOTHING about holder liveness — the lock must
    * degrade to a pure advisory lock there (never auto-broken;
    * `breakLock` is the only override) instead of letting a
    * contender break a LIVE long-running writer after the TTL.
    * Probed once per filesystem URI with a throwaway file; transient
    * probe failures count as capable (individual missed beats are
    * already tolerated — TTL = 4 beats).
    */
  private val leaseCapable = new ConcurrentHashMap[java.net.URI, java.lang.Boolean]()

  private def canHeartbeat(fs: org.apache.hadoop.fs.FileSystem, lock: Path): Boolean =
    leaseCapable.computeIfAbsent(fs.getUri, _ => {
      val probe = new Path(lock.toString + s".probe.${java.util.UUID.randomUUID()}")
      try {
        val out = fs.create(probe, false); out.close()
        fs.setTimes(probe, System.currentTimeMillis(), -1)
        true
      } catch {
        case _: UnsupportedOperationException      => false
        case scala.util.control.NonFatal(_)        => true
      } finally {
        try fs.delete(probe, false)
        catch { case scala.util.control.NonFatal(_) => () }
      }
    })

  /** Inclusive min/max zone map of one column within one bucket.
    * Doubles: exact for integral values up to 2^53 (ids, epoch
    * micros); floating stats columns round-trip via Double.toString.
    */
  final case class ColStats(min: Double, max: Double)

  /** Column name -> zone map, for one bucket. */
  type Stats = Map[String, ColStats]

  /** A generation written by [[TableManifest.writeGeneration]]: its
    * root-relative dir, the buckets it produced files for, and their
    * zone maps.
    */
  private[sink] final case class Written(gen: String, buckets: Seq[Int], stats: Map[Int, Stats]) {
    def mapping: Map[Int, String] = buckets.map(_ -> gen).toMap
  }

  /** Distinct buckets `df`'s rows route to under `bucket` — at most
    * one small int per bucket reaches the driver: the touched-bucket
    * pruning decision every keyed write and read makes. A frame that
    * already sits on the driver (a local probe or batch: the optimizer
    * folds the bucket projection into a `LocalRelation`) is routed from
    * those rows, without a Spark job; anything else runs the distinct.
    */
  private[sink] def touchedBuckets(df: DataFrame, bucket: Column): Seq[Int] = {
    val ids = df.select(bucket.as(BucketCol)).distinct()
    val local = ids.queryExecution.optimizedPlan match {
      case Aggregate(_, _, l: LocalRelation, _) => Some(l)
      case l: LocalRelation => Some(l) // an empty frame
      case _ => None
    }
    local.fold(ids.collect().map(_.getInt(0)).toSeq)(_.data.map(_.getInt(0)).distinct)
  }

  /** One bucket-layout generation of a [[MergeSink]] table: `n`
    * hash (rangeWidth = None) or range buckets, living in the physical
    * bucket-id namespace `[gen * MergeSink.LayoutStride, ... + n)`.
    * Recording the layout IN the manifest (same atomic commit as the
    * data) is what makes stale handles harmless: every sink routes by
    * the committed layout, never by whatever its constructor said.
    */
  final case class Layout(gen: Int, n: Int, rangeWidth: Option[Long])

  /** Progressive-migration state: the layout being migrated TO and the
    * OLD-layout logical bucket ids whose keys already route to it.
    * Absent = no migration in flight.
    */
  final case class Migration(target: Layout, migrated: Set[Int])

  /** One table state, parsed from ONE manifest body (published, a
    * retained version, or staged): its version, bucket -> root-relative
    * generation dir, per-bucket zone maps (an empty map for a bucket
    * without stats), DELETION VECTORS — bucket -> root-relative parquet
    * dirs of key rows deleted merge-on-read, only for buckets holding
    * some; readers anti-join these keys, a rewrite of the bucket
    * consumes them — and the BUCKET-LAYOUT state: the committed layout
    * plus, while a progressive migration is in flight, the target
    * layout and the set of old-layout buckets already rewritten into
    * it. A body without the optional headers (pre-round-10 manifests)
    * reads as `layout = None`: the owning sink falls back to its
    * constructor parameters, which is exactly the pre-header behavior.
    *
    * Immutable: an operation takes one and derives every plan from it,
    * so nothing it plans can straddle a commit.
    */
  final case class Snapshot(
      version: Long,
      mapping: Map[Int, String],
      stats: Map[Int, Stats],
      dv: Map[Int, Seq[String]],
      layout: Option[Layout],
      migration: Option[Migration]) {

    /** Buckets whose zone map can intersect `[lo, hi]` on `col` — the
      * metadata-level data-skipping decision. Buckets without recorded
      * stats for `col` are kept (never prune on missing information).
      */
    def bucketsForRange(col: String, lo: Double, hi: Double): Seq[Int] =
      mapping.keys.filter { b =>
        stats.get(b).flatMap(_.get(col)).forall(cs => cs.max >= lo && cs.min <= hi)
      }.toSeq.sorted
  }

  object Snapshot {
    /** A table never committed: version 0, no bucket. */
    val Empty: Snapshot = Snapshot(0L, Map.empty, Map.empty, Map.empty, None, None)
  }
}
