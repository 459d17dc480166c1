package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.Tables
import graft.ops.Cdc

/** The reference's CDC pipeline (enrich -> flatten -> route -> LWW
  * dedup -> soft-delete view -> analytics) exercised end-to-end over
  * the `events` table treated as a CDC fixture:
  *
  *   event_type signup -> insert, error -> delete (tombstone),
  *   click/view/purchase -> update; user_id is the entity key;
  *   value ~ watched_seconds, props.k ~ video_duration_seconds.
  *
  * This maps 1:1 onto the reference envelope {operation, document_id,
  * timestamp, data:{...}} with data = NULL for deletes
  * (producer/producer.py:57-62; delete at :61).
  */
object CdcQueries {

  /** Build the nested CDC envelope from the flat events fixture —
    * entity key at top level (like document_id in the reference),
    * payload nested under `data`, NULL for deletes.
    */
  def envelope(s: SparkSession, d: String): DataFrame = {
    val op = when(col("event_type") === "signup", lit("insert"))
      .when(col("event_type") === "error", lit("delete"))
      .otherwise(lit("update"))
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .select(
        op.as("operation"),
        col("event_id").as("document_id"),
        col("user_id"),
        col("ts"),
        when(col("event_type") =!= "error",
          struct(col("value").as("watched"),
                 col("k").as("duration"),
                 col("event_type").as("etype"))).as("data"))
  }

  /** Flattened + enriched upsert stream (P1 + P2 + P3). Unrounded ratio:
    * cross-engine round(x,4) diverges near half-boundaries, raw IEEE
    * division is bit-identical (library callers get the reference's
    * rounded form via Cdc.watchedRatio).
    */
  private def enriched(s: SparkSession, d: String): DataFrame =
    Cdc.enrichWatchedRatio(Cdc.flattenEnvelope(envelope(s, d)), "watched", "duration",
      rounded = false)

  private val envelopeSql: String =
    """SELECT
      |  CASE WHEN event_type = 'signup' THEN 'insert'
      |       WHEN event_type = 'error' THEN 'delete'
      |       ELSE 'update' END AS operation,
      |  event_id AS document_id, user_id, ts,
      |  CASE WHEN event_type = 'error' THEN NULL ELSE value END AS watched,
      |  CASE WHEN event_type = 'error' THEN NULL
      |       ELSE CAST(json_extract_string(props, '$.k') AS INT) END AS duration,
      |  CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS etype
      |FROM events""".stripMargin

  private val ratioSql: String =
    "(CASE WHEN coalesce(duration, 1) > 0 " +
      "THEN coalesce(watched, 0.0) / coalesce(duration, 1) ELSE 0.0 END)"

  // ---------------------------------------------------------------- q16
  /** P1+P2+P3: route to upserts, flatten the envelope, enrich with the
    * divide-by-zero-guarded watched ratio (duration 0 rows exist in the
    * fixture: props.k = 0).
    */
  def q16EnrichFlatten(s: SparkSession, d: String): DataFrame =
    Cdc.routeUpserts(enriched(s, d))
      .select(col("document_id"), col("user_id"), col("operation"),
              col("duration"), col("watched_ratio"))

  val q16Sql: String =
    s"""SELECT document_id, user_id, operation, duration,
       |  $ratioSql AS watched_ratio
       |FROM ($envelopeSql)
       |WHERE operation IN ('insert', 'update')""".stripMargin

  // ---------------------------------------------------------------- q17
  /** A1 LWW dedup: latest record per entity, deterministic (ts,
    * document_id) version order. Hash aggregate with map-side combine —
    * see Cdc.latestByKey scaling note.
    */
  def q17LatestByKey(s: SparkSession, d: String): DataFrame =
    Cdc.latestByKey(enriched(s, d), Seq("user_id"), Seq("ts", "document_id"))
      .select(col("user_id"), col("document_id").as("last_document_id"),
              col("operation").as("last_operation"),
              unix_millis(col("ts")).as("last_ms"),
              col("watched_ratio").as("last_ratio"))

  val q17Sql: String =
    s"""SELECT user_id, document_id AS last_document_id,
       |  operation AS last_operation, epoch_ms(ts) AS last_ms,
       |  $ratioSql AS last_ratio
       |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
       |        ORDER BY ts DESC, document_id DESC) AS rn
       |      FROM ($envelopeSql))
       |WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------- q18
  /** S7 soft-delete read path: LWW state minus entities whose latest
    * record is a tombstone.
    */
  def q18LiveState(s: SparkSession, d: String): DataFrame =
    Cdc.liveView(enriched(s, d), Seq("user_id"), Seq("ts", "document_id"))
      .select(col("user_id"), col("document_id").as("last_document_id"),
              col("etype").as("last_etype"), col("watched_ratio").as("last_ratio"))

  val q18Sql: String =
    s"""SELECT user_id, document_id AS last_document_id, etype AS last_etype,
       |  $ratioSql AS last_ratio
       |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
       |        ORDER BY ts DESC, document_id DESC) AS rn
       |      FROM ($envelopeSql))
       |WHERE rn = 1 AND operation <> 'delete'""".stripMargin

  // ---------------------------------------------------------------- q19
  /** P3 routing stats: operation mix of the CDC stream. */
  def q19RouteCounts(s: SparkSession, d: String): DataFrame =
    envelope(s, d).groupBy(col("operation")).agg(count(lit(1)).as("n"))

  val q19Sql: String =
    s"SELECT operation, count(*) AS n FROM ($envelopeSql) GROUP BY operation"

  // ---------------------------------------------------------------- q276
  /** NETWORK WAREHOUSE SINK roundtrip (S6 made real over the wire —
    * the reference's ClickHouse HTTP insert,
    * consumer/DoFns/load_data.py:52-60, against a REAL JDBC target):
    * the enriched CDC stream is double-sent through Spark's own
    * `format("jdbc")` writer (one connection and one transaction per
    * partition, batched inserts; the second send is the at-least-once
    * replay a failed task or speculative attempt produces), read back
    * over JDBC, and resolved by read-side LWW — the ReplacingMergeTree
    * delivery contract (clickhouse/init.sql:22-24): duplicates
    * collapse by algebra at read time, never by exactly-once
    * machinery. Target: embedded Derby (in-memory, multi-connection,
    * transactional — rides Spark's own classpath); the first send's
    * `overwrite` recreates the JVM-lifetime table, so the gate is
    * re-runnable. Timestamps ship as epoch-micros BIGINTs: JDBC
    * TIMESTAMP round-trips through the target's session-zone
    * semantics, integers do not. Oracle: the same live state computed
    * directly from the source (q18's SQL) — a sink that loses,
    * duplicates-without-resolution, or mangles a row hash-mismatches.
    */
  def q276JdbcWarehouse(s: SparkSession, d: String): DataFrame = {
    val rows = enriched(s, d).select(
      col("user_id"), col("document_id"), col("operation"),
      unix_micros(col("ts")).as("ts_us"), col("etype"), col("watched_ratio"))
    val url = "jdbc:derby:memory:graft_q276;create=true"
    def send(mode: String): Unit =
      rows.write.format("jdbc").option("url", url).option("dbtable", "wh_rows").mode(mode).save()
    send("overwrite") // recreates the JVM-lifetime table: the gate is re-runnable
    send("append")    // the at-least-once replay
    val back = s.read.format("jdbc").option("url", url).option("dbtable", "wh_rows").load()
    require(back.count() == 2 * rows.count(),
      "both sends must land — the replay is part of the delivery contract")
    Cdc.liveView(back, Seq("user_id"), Seq("ts_us", "document_id"))
      .select(col("user_id"), col("document_id").as("last_document_id"),
              col("etype").as("last_etype"), col("watched_ratio").as("last_ratio"))
  }

  // ---------------------------------------------------------------- q20
  /** A2 flagship: the whole pipeline — envelope -> flatten -> enrich ->
    * LWW dedup -> tombstone filter -> per-"video" analytics. DECIMAL
    * sum keeps the avg deterministic under any partitioning.
    */
  def q20VideoAnalytics(s: SparkSession, d: String): DataFrame =
    Cdc.liveView(enriched(s, d), Seq("user_id"), Seq("ts", "document_id"))
      .groupBy(col("etype"))
      .agg(count(lit(1)).as("n_entities"),
           round(avg(col("watched_ratio")), 4).as("avg_ratio"))

  val q20Sql: String =
    s"""SELECT etype, count(*) AS n_entities,
       |  round(avg(r), 4) AS avg_ratio
       |FROM (SELECT etype, $ratioSql AS r,
       |        row_number() OVER (PARTITION BY user_id
       |          ORDER BY ts DESC, document_id DESC) AS rn,
       |        operation
       |      FROM ($envelopeSql))
       |WHERE rn = 1 AND operation <> 'delete'
       |GROUP BY etype""".stripMargin

  // ---------------------------------------------------------------- q139
  /** SCD TYPE-2 attribute history at the gate: the CDC upsert stream
    * (inserts + updates; key = user_id, tracked attribute = etype)
    * folds through [[graft.ops.Scd2.merge]] in THREE ts-range batches —
    * each round touches only the open rows + the arriving slice, with
    * per-round lineage checkpoints (the CC/BPE iteration discipline).
    * The folded history must equal the one-shot change-compression the
    * oracle computes with lag/lead windows — a wrong batch stitch
    * (open row closed at the wrong ts, a no-change update opening a
    * spurious version, an interval chain broken across batches) shifts
    * intervals and fails the hash.
    */
  def q139Scd2History(s: SparkSession, d: String): DataFrame = {
    import graft.ext.Lineage
    import graft.ops.Scd2
    val ups = envelope(s, d).filter(col("operation").isin("insert", "update"))
      .select(col("user_id").as("key"), col("data.etype").as("attr"),
              unix_millis(col("ts")).as("ts_ms"), col("document_id").as("tie"))
    val mm = ups.agg(min(col("ts_ms")), max(col("ts_ms"))).first()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val step = (hi - lo) / 3 + 1
    var hist = ups.filter(lit(false))
      .select(col("key"), col("attr"), col("ts_ms").as("valid_from_ms"),
              col("ts_ms").as("valid_to_ms"))
    var free: () => Unit = () => ()
    (0 until 3).foreach { i =>
      val batch = ups.filter(col("ts_ms") >= lo + i * step &&
                             col("ts_ms") <  lo + (i + 1) * step)
      val (ck, f) = Lineage.checkpoint(Scd2.merge(hist, batch))
      free(); free = f
      hist = ck
    }
    hist.select(col("key").as("user_id"), col("attr").as("etype"),
                col("valid_from_ms"), col("valid_to_ms"))
  }

  val q139Sql: String =
    """WITH u AS (SELECT user_id AS key, event_type AS attr,
      |             epoch_ms(ts) AS ts_ms, event_id AS tie
      |           FROM events WHERE event_type <> 'error'),
      |o AS (SELECT key, attr, ts_ms, tie,
      |        lag(attr) OVER (PARTITION BY key ORDER BY ts_ms, tie) AS prev
      |      FROM u),
      |c AS (SELECT key, attr, ts_ms, tie FROM o
      |      WHERE prev IS NULL OR attr <> prev),
      |h AS (SELECT key, attr, ts_ms AS valid_from_ms,
      |        lead(ts_ms) OVER (PARTITION BY key ORDER BY ts_ms, tie) AS valid_to_ms
      |      FROM c)
      |SELECT key AS user_id, attr AS etype,
      |  CAST(valid_from_ms AS BIGINT) AS valid_from_ms,
      |  CAST(valid_to_ms AS BIGINT) AS valid_to_ms
      |FROM h""".stripMargin

  // ---------------------------------------------------------------- q141
  /** TEMPORAL DIMENSION JOIN — "which attribute version was valid at
    * event time", the query every SCD2 history exists to answer,
    * joined at scale through the NATIVE as-of operator
    * (graft.plans.AsOf): intervals partition each key's timeline, so
    * backward as-of on valid_from alone — one merge pass after
    * co-partitioning — picks exactly the containing interval; no
    * interval-overlap range join, no per-probe candidate explosion.
    * Probes are the DELETE events (excluded from the history build),
    * so the answer is derived from OTHER rows — a probe before its
    * key's first version stays NULL (left as-of). Zero-length
    * intervals (two changes at one ms, q139's tie discipline) are
    * filtered before the join; the oracle's [from, to) predicate
    * skips them identically.
    */
  def q141TemporalDimJoin(s: SparkSession, d: String): DataFrame = {
    import graft.ops.Scd2
    val ups = envelope(s, d).filter(col("operation").isin("insert", "update"))
      .select(col("user_id").as("key"), col("data.etype").as("attr"),
              unix_millis(col("ts")).as("ts_ms"), col("document_id").as("tie"))
    val empty = ups.filter(lit(false))
      .select(col("key"), col("attr"), col("ts_ms").as("valid_from_ms"),
              col("ts_ms").as("valid_to_ms"))
    val hist = Scd2.merge(empty, ups)
      .filter(col("valid_to_ms").isNull || col("valid_to_ms") > col("valid_from_ms"))
      .select(col("key"), col("attr"), col("valid_from_ms"))
    val probes = envelope(s, d).filter(col("operation") === "delete")
      .select(col("document_id").as("event_id"), col("user_id"),
              unix_millis(col("ts")).as("ts_ms"))
    graft.plans.AsOf.join(probes, hist,
        Seq("user_id"), Seq("key"), "ts_ms", "valid_from_ms")
      .select(col("event_id"), col("user_id"), col("attr").as("etype_at_ts"))
  }

  val q141Sql: String =
    """WITH u AS (SELECT user_id AS key, event_type AS attr,
      |             epoch_ms(ts) AS ts_ms, event_id AS tie
      |           FROM events WHERE event_type <> 'error'),
      |o AS (SELECT key, attr, ts_ms, tie,
      |        lag(attr) OVER (PARTITION BY key ORDER BY ts_ms, tie) AS prev
      |      FROM u),
      |c AS (SELECT key, attr, ts_ms, tie FROM o
      |      WHERE prev IS NULL OR attr <> prev),
      |h AS (SELECT key, attr, ts_ms AS valid_from_ms,
      |        lead(ts_ms) OVER (PARTITION BY key ORDER BY ts_ms, tie) AS valid_to_ms
      |      FROM c),
      |p AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms
      |      FROM events WHERE event_type = 'error')
      |SELECT p.event_id, p.user_id, h.attr AS etype_at_ts
      |FROM p LEFT JOIN h ON p.user_id = h.key
      |  AND h.valid_from_ms <= p.ts_ms
      |  AND (h.valid_to_ms IS NULL OR h.valid_to_ms > p.ts_ms)""".stripMargin

  val entries: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "q16_cdc_enrich_flatten" -> (q16EnrichFlatten _, q16Sql),
    "q17_cdc_latest_by_key" -> (q17LatestByKey _, q17Sql),
    "q18_cdc_live_state" -> (q18LiveState _, q18Sql),
    "q19_cdc_route_counts" -> (q19RouteCounts _, q19Sql),
    "q20_cdc_video_analytics" -> (q20VideoAnalytics _, q20Sql),
    "q276_jdbc_warehouse" -> (q276JdbcWarehouse _, q18Sql),
    "q139_scd2_history" -> (q139Scd2History _, q139Sql),
    "q141_temporal_dim_join" -> (q141TemporalDimJoin _, q141Sql),
  )
}
