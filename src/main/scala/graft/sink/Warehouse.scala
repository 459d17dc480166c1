package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Cdc

/** Warehouse sink — the Spark twin of the reference's ClickHouse table
  * + ReplacingMergeTree semantics (SURVEY.md §2 S6/S7/A1):
  *
  *  - `toWarehouseRows`: envelope -> flat warehouse rows with the
  *    init.sql column set (enrich + flatten + route); deletes become
  *    tombstones (is_deleted = true) instead of being dropped —
  *    implementing the reference's stubbed soft-delete path.
  *  - `append`: idempotent-friendly append partitioned by ingest_date
  *    (partition pruning for time-ranged reads at 100 TB; dynamic
  *    partition overwrite enabled for replays).
  *  - `liveState`: read-side LWW resolution — deterministic, unlike
  *    the reference's merge-lag window (README.md:209-215).
  *
  * The network hop (the reference's ClickHouse insert,
  * consumer/DoFns/load_data.py:52-60) needs no code here: it is Spark's
  * own `df.write.format("jdbc")` (see q276).
  *
  * The dedup key matches init.sql:23 ORDER BY (original_id, video_id,
  * session_id); tombstones carry only the key + time (load_data.py:74-85),
  * so video_id/session_id are null there and the key degrades to
  * original_id — same as the reference's delete stub.
  */
object Warehouse {

  val DedupKeys = Seq("original_id")
  val VersionCols = Seq("event_time", "ingestion_seq")

  /** Envelope stream -> warehouse rows. `ingestionSeq` stands in for the
    * reference's now() default (init.sql:19) with a deterministic
    * sequence so replays are testable; production would pass
    * monotonically-increasing batch ids.
    */
  def toWarehouseRows(env: DataFrame): DataFrame = {
    val routed = env.filter(col("operation").isin("insert", "update", "delete"))
    routed.select(
      col("document_id").as("original_id"),
      col("timestamp").as("original_timestamp"),
      col("event_time"),
      col("data.video_id").as("video_id"),
      col("data.session_id").as("session_id"),
      col("data.watched_seconds").as("watched_seconds"),
      col("data.video_duration_seconds").as("video_duration_seconds"),
      Cdc.watchedRatio(col("data.watched_seconds"), col("data.video_duration_seconds"))
        .as("watched_ratio"),
      col("data.device_type").as("device_type"),
      col("data.quality").as("quality"),
      col("seq").as("ingestion_seq"),
      (col("operation") === "delete").as("is_deleted"),
      to_date(col("event_time")).as("ingest_date"))
  }

  /** Partitioned append; dynamic partition overwrite makes replaying a
    * day idempotent (the batch-sink analog of the queue's at-least-once
    * + idempotent-write contract, SURVEY.md §2 S3/S4). The mode is this
    * write's own option: the session's conf is left as it was.
    */
  def append(rows: DataFrame, path: String, overwritePartitions: Boolean = false): Unit = {
    val mode = if (overwritePartitions) "overwrite" else "append"
    rows.write.mode(mode).option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_date").parquet(path)
  }

  /** Read-side LWW + tombstone filter: the reference's FINAL-read
    * semantics, deterministic.
    */
  def liveState(spark: SparkSession, path: String): DataFrame =
    Cdc.latestByKey(spark.read.parquet(path), DedupKeys, VersionCols)
      .filter(!col("is_deleted"))
}
