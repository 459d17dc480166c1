package cdcbench

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

import graft.core.Schemas
import graft.sink.{AggSink, MergeSink, Warehouse}

/** The reference dataflow as the benchmark drives it: envelope JSON
  * lines -> `from_json` -> `Warehouse.toWarehouseRows` (enrich, flatten,
  * route) -> an LWW `MergeSink` warehouse table and a per-video
  * `AggSink` view. Every workload uses this one table definition, so a
  * change to the table layout shows on all of them. The batch body calls
  * only the sinks' public entry points and adds no persist or action of
  * its own.
  */
object Pipeline {
  val Buckets = 16
  /** Zone-map (min/max stats) column read by `readRange`. */
  val StatsCol = "watched_seconds"
  /** Bloom-sidecar column read by `readPoints` (must be BIGINT). */
  val BloomCol = "ingestion_seq"
  val ViewKey = "video_id"
  val ViewSums = Seq("watched_seconds", "video_duration_seconds")
  val Group = "warehouse"

  /** Wire format: the reference envelope plus the generator's sequence
    * number and event time (the LWW version columns).
    */
  val wireSchema = Schemas.envelopeSchema
    .add("seq", LongType, nullable = false)
    .add("event_time", TimestampType, nullable = false)

  final class Tables(spark: SparkSession, val dir: String) {
    val warehouse = new MergeSink(spark, s"$dir/warehouse",
      keys = Warehouse.DedupKeys, orderCols = Warehouse.VersionCols,
      nBuckets = Buckets, statsCols = Seq(StatsCol), bloomCols = Seq(BloomCol))
    val view = new AggSink(spark, s"$dir/view",
      keys = Seq(ViewKey), sumCols = ViewSums, nBuckets = Buckets)
  }

  def rows(lines: DataFrame): DataFrame =
    Warehouse.toWarehouseRows(
      lines.select(from_json(col("value"), wireSchema).as("e")).select(col("e.*")))

  def viewInput(rows: DataFrame): DataFrame =
    rows.filter(!col("is_deleted")).select((ViewKey +: ViewSums).map(col): _*)

  def linesFrame(spark: SparkSession, lines: Seq[String]): DataFrame =
    spark.createDataset(lines)(Encoders.STRING).toDF("value")

  /** One batch into both sinks; `batchId` arms the view's replay fence
    * (-1 for direct, non-streaming merges).
    */
  def apply(t: Tables, rec: Recorder, batch: DataFrame, batchId: Long): Unit = {
    val r = rows(batch)
    if (rec.traced) {
      // which buckets the merge rewrote, read from the committed snapshot
      // before and after; the listings are the tracer's own time
      val before = rec.span("probe", "trace")(t.warehouse.bucketFiles())
      val s = rec.now()
      t.warehouse.merge(r)
      val e = rec.now()
      val rewritten = rec.span("probe", "trace")(t.warehouse.bucketFiles())
        .filter { case (b, fs) => !before.get(b).contains(fs) }
      rec.spans.add(Span("merge", "merge", s, e, Map(
        "buckets" -> rewritten.size, "bytes" -> rewritten.values.flatten.map(_._2).sum)))
    } else t.warehouse.merge(r)
    rec.traceSpan("fold", "fold")(t.view.merge(viewInput(r), batchId))
  }

  // ------------------------------------------------------- correctness

  /** A frame's rows with columns in name order, sorted, collected to the
    * driver (the benchmark's tables are small).
    */
  def rowsOf(df: DataFrame): Array[Seq[Any]] =
    df.select(df.columns.sorted.map(col).toSeq: _*).collect().map(_.toSeq)
      .sortBy(r => r.filterNot(_.isInstanceOf[Double]).mkString("\u0001") +
        "\u0002" + r.mkString("\u0001"))

  /** Order-insensitive equality of two row sets. Doubles compare within
    * `tol`: an average over the same rows can differ in its last bits,
    * and so in its 4th rounded digit, with summation order.
    */
  def same(x: Array[Seq[Any]], y: Array[Seq[Any]], tol: Double = 0.0): Boolean = {
    val ok = x.length == y.length && x.zip(y).forall { case (r, s) =>
      r.zip(s).forall {
        case (u: Double, v: Double) => math.abs(u - v) <= tol
        case (u, v) => u == v
      }
    }
    if (!ok) System.err.println(
      s"mismatch: ${x.length} vs ${y.length} rows; first differing: " +
        x.zip(y).find { case (r, s) => r != s }.getOrElse((x.headOption, y.headOption)))
    ok
  }

  /** Batch LWW oracle over every envelope the run produced. */
  def oracleLive(spark: SparkSession, lines: Seq[String], dir: String): DataFrame = {
    rows(linesFrame(spark, lines)).write.mode("overwrite").parquet(dir)
    Warehouse.liveState(spark, dir)
  }

  def oracleView(allRows: DataFrame): DataFrame =
    viewInput(allRows).groupBy(col(ViewKey))
      .agg(sum(col(ViewSums(0))).as(ViewSums(0)),
           sum(col(ViewSums(1))).as(ViewSums(1)),
           count(lit(1)).cast("long").as("n_rows"))

  def liveOf(t: Tables): DataFrame = t.warehouse.read().filter(!col("is_deleted"))

  def topViews(view: DataFrame, n: Int): DataFrame =
    view.orderBy(desc("n_rows"), asc(ViewKey)).limit(n)

}
