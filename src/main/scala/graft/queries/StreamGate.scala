package graft.queries

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, DataType, StructField, StructType}

import graft.ops.Cdc
import graft.sink.MergeSink

/** The streaming-gate harness: the scaffolding every [[StreamingQueries]]
  * gate shares, so a gate states only its transform, its sink and its
  * witnesses. The gate discipline:
  *
  *  - SLICE FEED, MTIME ORDER. A gate's input is a directory holding one
  *    file per slice, written by [[feed]] in one Spark job.
  *    FileStreamSource orders files by modification time, then path, so
  *    slice i's file is stamped `1700000000000 + i * 60000` ms through
  *    the Hadoop FS API (which throws when a stamp fails): batch order is
  *    explicit, never a write-timing accident. Under
  *    maxFilesPerTrigger=1 each file is one micro-batch. The stream reads
  *    the written frame's own schema ([[Feed.stream]]).
  *  - SENTINEL WATERMARK FLUSH. Watermark-gated operators (append-mode
  *    windows, outer joins, event-time timers) emit only once the
  *    watermark passes a row's horizon. [[flushFeed]] (and
  *    [[watermarkFeed]] over equal event-time slices) appends two
  *    far-future sentinel slices: the first advances the watermark past
  *    every real row, the second forces one more batch in which the
  *    advanced watermark is applied and flushes all remaining state.
  *    Sentinel rows carry keys the gate filters from its output.
  *  - AVAILABLE-NOW DRAIN. [[drain]], [[drainTo]] and [[drainToMemory]]
  *    run a query under `Trigger.AvailableNow` on a caller-owned
  *    checkpoint and block until the backlog is consumed. A second call
  *    on the same checkpoint reads only what arrived since (the restart
  *    gates q283/q284 rely on it).
  *  - STATEFUL CONF LATCH. [[drainToMemory]] starts its query with the
  *    state partition count from [[StreamingQueries.StatePartitionsKey]]
  *    (default 8) and the RocksDB state store with changelog
  *    checkpointing, then restores the session conf: the running query
  *    keeps both for its lifetime.
  *
  * The witness is [[bagEqual]]; the CDC LWW fixture ([[cdcWire]],
  * [[cdcFlat]], [[lwwSink]], [[lastState]], [[lwwSql]]) is q66's
  * end-state shape shared by every gate that upserts the CDC history.
  */
object StreamGate {

  /** Partition column that carries a row's slice through [[feed]]. */
  val SliceCol = "__sl"

  private val DayUs = 86400000000L

  /** A slice feed on disk: `files` files of `format` under `dir`, holding
    * rows of `schema`.
    */
  final class Feed(s: SparkSession, dir: String, val files: Int,
                   val schema: StructType, format: String) {
    /** The feed as a file stream, `perTrigger` files per micro-batch. */
    def stream(perTrigger: Int = 1): DataFrame =
      s.readStream.schema(schema)
        .option("maxFilesPerTrigger", perTrigger.toString)
        .format(format).load(dir)
  }

  /** Write `df` as ONE `format` file per non-empty slice into `dir`
    * (slice = `sliceOf`, a deterministic long in [0, nSlices)), in a
    * single Spark job: one hash-repartitioned `partitionBy(slice)`
    * staging write (each slice value is owned by exactly one task, so
    * each slice dir holds one part file), then renames into `dir` in
    * slice order, each file stamped with its slice's mtime. Empty slices
    * write no file, so [[Feed.files]] is the expected micro-batch count;
    * with `everySlice` an empty slice throws instead, for gates whose
    * batch positions carry meaning. A frame that already holds
    * [[SliceCol]] passes `col(SliceCol)`.
    */
  def feed(df: DataFrame, sliceOf: Column, nSlices: Int, dir: String,
           format: String = "parquet", everySlice: Boolean = false): Feed = {
    val tagged = df.withColumn(SliceCol, sliceOf.cast("long"))
    val staging = new Path(dir.stripSuffix("/") + "__stage")
    tagged.repartition(nSlices, col(SliceCol))
      .write.partitionBy(SliceCol).format(format).save(staging.toString)
    // the write goes through Spark's Hadoop layer, so the listing and
    // moves resolve the same filesystem through the Hadoop FS API
    val fs = staging.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
    val slices =
      (if (fs.exists(staging)) fs.listStatus(staging).toSeq else Seq.empty)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(SliceCol + "="))
        .map(st => (st.getPath.getName.stripPrefix(SliceCol + "=").toLong, st.getPath))
        .sortBy(_._1)
    require(!everySlice || slices.map(_._1) == (0L until nSlices.toLong),
      s"feed $dir: slices ${slices.map(_._1)} hold rows, every one of 0..${nSlices - 1} must")
    fs.mkdirs(new Path(dir))
    slices.foreach { case (sl, sliceDir) =>
      val parts = fs.listStatus(sliceDir).toSeq.filter(f =>
        f.getPath.getName.startsWith("part-") && !f.getPath.getName.endsWith(".crc"))
      require(parts.length == 1,
        s"slice $sl wrote ${parts.length} files — one task must own each slice")
      val ext = parts.head.getPath.getName.dropWhile(_ != '.')
      val dst = new Path(dir, f"slice-$sl%05d$ext")
      require(fs.rename(parts.head.getPath, dst), s"cannot move slice file to $dst")
      stamp(fs, dst, sl)
    }
    fs.delete(staging, true)
    new Feed(df.sparkSession, dir, slices.size,
      nullable(tagged.drop(SliceCol).schema).asInstanceOf[StructType], format)
  }

  /** `ev`'s event-time span: (min, max) of its `ts_us`, one aggregate. */
  def span(ev: DataFrame): (Long, Long) = {
    val r = ev.agg(min(col("ts_us")), max(col("ts_us"))).first()
    (r.getLong(0), r.getLong(1))
  }

  /** Slice index of `ts_us` when [lo, hi] is cut into `n` equal
    * time-ordered slices: floor((ts_us - lo) / ((hi - lo) / n + 1)).
    */
  def timeSlice(lo: Long, hi: Long, n: Int): Column =
    call_function("div", col("ts_us") - lit(lo), lit((hi - lo) / n + 1))

  /** `ev` cut into `nSlices` equal event-time slices of its own span,
    * written in time order as a json [[feed]].
    */
  def eventTimeFeed(ev: DataFrame, nSlices: Int, dir: String): Feed = {
    val (lo, hi) = span(ev)
    feed(ev, timeSlice(lo, hi, nSlices), nSlices, dir, "json")
  }

  /** [[eventTimeFeed]]'s slices, every one required, followed by the two
    * [[flushFeed]] sentinel slices.
    */
  def watermarkFeed(ev: DataFrame, nSlices: Int, dir: String)(
      sentinel: (Int, Long) => DataFrame): Feed = {
    val (lo, hi) = span(ev)
    flushFeed(ev.withColumn(SliceCol, timeSlice(lo, hi, nSlices)), nSlices, hi, dir)(sentinel)
  }

  /** `sliced` (rows tagged [[SliceCol]] in [0, nSlices)) plus the two
    * watermark-flush slices — `sentinel(0, hi + 10 days)` as slice
    * nSlices, `sentinel(1, hi + 20 days)` as slice nSlices + 1 — written
    * as a json [[feed]] with every slice required.
    */
  def flushFeed(sliced: DataFrame, nSlices: Int, hi: Long, dir: String)(
      sentinel: (Int, Long) => DataFrame): Feed = {
    val flush = (0 to 1).map(k => sentinel(k, hi + (k + 1) * 10 * DayUs)
      .withColumn(SliceCol, lit((nSlices + k).toLong)))
    feed((sliced +: flush).reduce(_ unionByName _), col(SliceCol), nSlices + 2, dir,
      "json", everySlice = true)
  }

  /** Stamp every not-yet-stamped part file in `dir` with batch `batch`'s
    * mtime, for feeds appended one batch at a time. Batch `i`'s stamp is
    * below every later batch's and below "now", so files of earlier
    * batches (already below this stamp) are never touched.
    */
  private[graft] def stampBatchMtime(dir: String, batch: Int): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(SparkSession.active.sessionState.newHadoopConf())
    fs.listStatus(p).toSeq
      .filter(f => f.getPath.getName.startsWith("part-") &&
        f.getModificationTime > mtime(batch))
      .foreach(f => stamp(fs, f.getPath, batch))
  }

  private def mtime(batch: Long): Long = 1700000000000L + batch * 60000L

  // setTimes throws on failure: a silently missed stamp would leave
  // batch order to the filesystem
  private def stamp(fs: FileSystem, p: Path, batch: Long): Unit =
    fs.setTimes(p, mtime(batch), -1)

  /** `t` with every field and element nullable, like the hand-declared
    * wire schemas it replaces: a file source cannot promise non-null.
    */
  private def nullable(t: DataType): DataType = t match {
    case st: StructType => StructType(st.fields.map(f => StructField(f.name, nullable(f.dataType))))
    case at: ArrayType  => ArrayType(nullable(at.elementType))
    case other          => other
  }

  /** Run `w` to completion under AvailableNow on checkpoint `ckpt`. */
  def drainTo(w: DataStreamWriter[Row], ckpt: String): Unit =
    start(w, ckpt).awaitTermination()

  /** Drain `stream` through `batch` (foreachBatch) on checkpoint `ckpt`. */
  def drain(stream: DataFrame, ckpt: String)(batch: (DataFrame, Long) => Unit): Unit =
    drainTo(stream.writeStream.foreachBatch(batch), ckpt)

  /** Drain `stream` into a memory sink under the stateful conf latch and
    * return the sink's rows. The frame is resolved before the sink's
    * temp view is dropped, so it keeps the rows while the session holds
    * no reference to them.
    */
  def drainToMemory(stream: DataFrame, ckpt: String, outputMode: String = "append"): DataFrame = {
    val s = stream.sparkSession
    val view = "gate_" + java.util.UUID.randomUUID().toString.replace("-", "")
    latchStateful(s)(start(stream.writeStream.format("memory").queryName(view)
      .outputMode(outputMode), ckpt)).awaitTermination()
    val out = s.table(view)
    s.catalog.dropTempView(view)
    out
  }

  private def start(w: DataStreamWriter[Row], ckpt: String): StreamingQuery =
    w.option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()

  /** Session conf for STATEFUL streams, latched by the query at `start`
    * and restored right after:
    *
    *  - state partitions from [[StreamingQueries.StatePartitionsKey]]
    *    (default 8), not the session's batch default — partition count
    *    is fixed at the query's first batch, so 32 partitions x 4 stores
    *    x N batches of commit overhead would dominate these gates;
    *  - RocksDB state store provider — the default HDFS-backed store
    *    keeps every key on-heap, the one piece of the streaming tier
    *    that cannot hold at 100 TB key cardinality; RocksDB keeps
    *    working state on local disk with bounded memory, committing
    *    changelog deltas (not full snapshots) per micro-batch.
    */
  private def latchStateful(s: SparkSession)(query: => StreamingQuery): StreamingQuery = {
    val latched = Seq(
      "spark.sql.shuffle.partitions" -> {
        val v = s.conf.getOption(StreamingQueries.StatePartitionsKey)
          .getOrElse(StreamingQueries.StatePartitionsDefault.toString)
        require(v.matches("[1-9][0-9]*"),
          s"${StreamingQueries.StatePartitionsKey} must be a positive int, got '$v'")
        v
      },
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
    val prev = latched.map { case (k, _) => k -> s.conf.getOption(k) }
    latched.foreach { case (k, v) => s.conf.set(k, v) }
    try query
    finally prev.foreach {
      case (k, Some(p)) => s.conf.set(k, p)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** ONE-ACTION equality witness for frames unique on `keys`: true iff
    * `a` and `b` hold the same rows. Both sides are tagged and grouped
    * by key in one shuffle; a key is a mismatch unless each side holds
    * it once with equal values (min == max of the value struct), and the
    * worst mismatch is fetched by one top-1 collect. A key held twice on
    * either side throws: equality on a non-key-unique frame would need
    * bag semantics this witness does not check.
    */
  def bagEqual(a: DataFrame, b: DataFrame, keys: Seq[String]): Boolean = {
    val vals = a.columns.toSeq.filterNot(keys.contains)
    val v = if (vals.isEmpty) lit(0) else struct(vals.map(col): _*)
    def side(df: DataFrame, inA: Long) = df.select(keys.map(col) ++ Seq(
      v.as("__v"), lit(inA).as("__a"), lit(1L - inA).as("__b")): _*)
    val worst = side(a, 1L).unionByName(side(b, 0L))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__a")).as("__na"), sum(col("__b")).as("__nb"),
        min(col("__v")).as("__lo"), max(col("__v")).as("__hi"))
      .filter(col("__na") =!= 1L || col("__nb") =!= 1L || !(col("__lo") <=> col("__hi")))
      .select(greatest(col("__na"), col("__nb")).as("__n"))
      .orderBy(col("__n").desc).limit(1).collect()
    worst.headOption.foreach(r => require(r.getLong(0) <= 1L,
      s"bagEqual: a key ${keys.mkString("(", ", ", ")")} is held ${r.getLong(0)} times"))
    worst.isEmpty
  }

  /** The CDC envelope on the wire: q16's nested envelope with `ts` as
    * exact epoch micros `ts_us` (a JSON round-trip of a formatted
    * timestamp would truncate to millis and could flip LWW winners).
    */
  def cdcWire(s: SparkSession, d: String): DataFrame =
    CdcQueries.envelope(s, d).select(col("operation"), col("document_id"),
      col("user_id"), unix_micros(col("ts")).as("ts_us"), col("data"))

  /** [[cdcWire]] as 4 json slices (document_id % 4) -> 4 micro-batches. */
  def cdcFeed(s: SparkSession, d: String, dir: String): Feed =
    feed(cdcWire(s, d), pmod(col("document_id"), lit(4)), 4, dir, "json")

  /** q16's null-safe flatten + unrounded watched ratio of an envelope
    * frame, batch or stream.
    */
  def cdcFlat(envelope: DataFrame): DataFrame =
    Cdc.enrichWatchedRatio(Cdc.flattenEnvelope(envelope), "watched", "duration",
      rounded = false)

  /** The LWW user-state table: the latest event per user_id by
    * (ts_us, document_id).
    */
  def lwwSink(s: SparkSession, dir: String, nBuckets: Int = 16): MergeSink =
    new MergeSink(s, dir, keys = Seq("user_id"), orderCols = Seq("ts_us", "document_id"),
      nBuckets = nBuckets)

  /** q17's last-state projection of an LWW user-state frame; `extra`
    * columns ride after user_id.
    */
  def lastState(t: DataFrame, extra: Column*): DataFrame =
    t.select(Seq(col("user_id")) ++ extra ++ Seq(
      col("document_id").as("last_document_id"),
      col("operation").as("last_operation"),
      expr("ts_us div 1000").as("last_ms"),
      col("watched_ratio").as("last_ratio")): _*)

  /** The [[lastState]] oracle: q17's latest record per user over the
    * events rows passing `events` (a WHERE clause, or ""), keeping the
    * states passing `states` (an AND clause, or "").
    */
  def lwwSql(events: String = "", states: String = ""): String =
    s"""SELECT user_id, document_id AS last_document_id,
       |  operation AS last_operation, epoch_ms(ts) AS last_ms,
       |  (CASE WHEN coalesce(duration, 1) > 0
       |        THEN coalesce(watched, 0.0) / coalesce(duration, 1)
       |        ELSE 0.0 END) AS last_ratio
       |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
       |        ORDER BY ts DESC, document_id DESC) AS rn
       |      FROM (SELECT
       |        CASE WHEN event_type = 'signup' THEN 'insert'
       |             WHEN event_type = 'error' THEN 'delete'
       |             ELSE 'update' END AS operation,
       |        event_id AS document_id, user_id, ts,
       |        CASE WHEN event_type = 'error' THEN NULL ELSE value END AS watched,
       |        CASE WHEN event_type = 'error' THEN NULL
       |             ELSE CAST(json_extract_string(props, '$$.k') AS INT) END AS duration
       |      FROM events$events))
       |WHERE rn = 1$states""".stripMargin
}
