package graft.streaming

import graft.operators.Events
import graft.pipeline.EcommercePipeline
import graft.schema.Schemas
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming entry points — the Spark-native equivalent of the
  * reference's event-driven trigger (S3 object arrival → Step Functions →
  * re-run the batch job, spec p.1,3). A file-source `readStream` IS that
  * trigger: new files landing in the watched directory become micro-batches,
  * no external orchestration needed (SURVEY.md §1.3, §2.8).
  *
  * The aggregation bodies are shared with the batch operators
  * ([[graft.operators.Events]], [[graft.operators.Kpis]], and
  * [[graft.pipeline.EcommercePipeline]] for the category KPIs) — one
  * definition, two execution modes — which is what makes the streaming
  * results provably equal to the batch results (tested by the replay
  * specs).
  *
  * Admission is fixed at one file per micro-batch
  * ([[UpsertSink.FilesPerTrigger]], through [[UpsertSink.fileStream]] and
  * the category stream's CSV reader): one landed object is one trigger,
  * the reference's S3-arrival model. It is not a parameter because nothing
  * needs another value — the replay specs count one batch per file, and
  * the benchmark maps a progress event's file offset to the file it
  * landed.
  *
  * Watermark policy: the reference never defines late-data semantics (its
  * "streaming" re-runs batch over complete files), so 48h is OUR documented
  * choice, not reference parity: with event-time windows of 1h, state for a
  * window closes 48h after its end, bounding state size at scale.
  */
object EventStreams {

  /** events table schema for the streaming file source (readStream requires
    * an explicit schema; matches /root/testdata parquet). */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** File-source stream over a directory of event parquet files. */
  def eventsStream(spark: SparkSession, srcDir: String): DataFrame =
    UpsertSink.fileStream(spark, srcDir, Some(eventsSchema))

  /** Streaming tumbling-window aggregation with watermark; `update`/`append`
    * sinks both work (append emits a window once the watermark passes it).
    * `delay` is the late-data tolerance: 48h production default; replay
    * tests pass an effectively-infinite delay because their files are not
    * time-ordered (a real archive replay would do the same). */
  def windowed(spark: SparkSession, srcDir: String, delay: String = "48 hours"): DataFrame =
    Events.windowAgg(eventsStream(spark, srcDir).withWatermark("ts", delay))

  /** Streaming hopping windows (1h window / 15min slide — each event
    * contributes to 4 windows; same watermark-bounded state story). */
  def hopping(spark: SparkSession, srcDir: String, delay: String = "48 hours"): DataFrame =
    Events.hoppingAgg(eventsStream(spark, srcDir).withWatermark("ts", delay))

  /** Streaming session windows (stateful session merge per user_id). */
  def sessions(spark: SparkSession, srcDir: String, delay: String = "48 hours"): DataFrame =
    Events.sessionAgg(eventsStream(spark, srcDir).withWatermark("ts", delay))

  /** Streaming deduplication: drop events whose (user_id, event_type,
    * value) was already seen within the watermark horizon — the streaming
    * form of the corpus dedup operators, with state bounded by the
    * watermark instead of growing with the stream. */
  def dedupStream(spark: SparkSession, srcDir: String,
      delay: String = "48 hours"): DataFrame =
    eventsStream(spark, srcDir)
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("user_id", "event_type", "value")

  /** Streaming anomaly monitor — the continuous form of the z-score scan
    * (`q_events_anomaly`): moments are trained on the ARCHIVE (a batch
    * pass, refreshed on whatever cadence the monitor wants), the unbounded
    * stream joins them broadcast and gates at 3σ — stateless, append-mode,
    * no watermark needed. Shared body with the batch query, so replay ≡
    * batch exactly (StreamingSpec). */
  def anomalyStream(spark: SparkSession, srcDir: String,
      stats: DataFrame): DataFrame =
    Events.anomaliesOf(eventsStream(spark, srcDir), stats)

  /** Stream-stream interval join with watermarks on BOTH sides: each click
    * pairs with the same user's views from the preceding hour. The time
    * constraint + watermarks bound the join state Spark must hold (a view
    * can be dropped once the watermark passes view_ts + 1h) — the only way
    * a stream×stream join survives unbounded inputs. Append-mode output. */
  def clickViewIntervalJoin(spark: SparkSession, srcDir: String,
      delay: String = "48 hours"): DataFrame = {
    val clicks = eventsStream(spark, srcDir)
      .where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", delay)
    val views = eventsStream(spark, srcDir)
      .where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
      .withWatermark("view_ts", delay)
    clicks.join(views,
      col("c_user") === col("v_user") &&
        col("view_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR") &&
        col("view_ts") <= col("click_ts"),
      "inner")
  }

  /** Streaming re-expression of the reference's ORDER-KPI job
    * (transform.py:123-147): lineitem is the unbounded stream, orders the
    * static header side of a stream-static join, and the three exact
    * countDistincts — unsupported in streaming — become the HLL sketches of
    * [[graft.operators.Kpis.orderKpiApproxAgg]] (shared body, two execution
    * modes). HLL state merges associatively, so after a full replay the
    * keyed-upsert sink holds exactly the batch kpiOrderApprox rows. Pair
    * with [[UpsertSink.keyedParquetUpsert]] keyed on order_date — the
    * reference's per-run DynamoDB overwrite, closed end-to-end in
    * streaming mode. */
  def kpiOrderApproxStream(spark: SparkSession, liSrcDir: String,
      orders: DataFrame): DataFrame =
    graft.operators.Kpis.orderKpiApproxAgg(orders, UpsertSink.fileStream(spark, liSrcDir))

  /** Streaming re-expression of the reference's category-KPI job
    * (transform.py:94-121) over the reference CSV layout: order_items is
    * the unbounded stream (files arrive one per micro-batch, exactly the
    * S3-arrival model), orders/products are static dimensions →
    * stream-static joins, grouped aggregation maintained incrementally in
    * `complete`/`update` output mode. The body is the batch pipeline's
    * ([[graft.pipeline.EcommercePipeline.categoryKpiAgg]]) without its
    * orderBy: sorting is the sink's concern in a continuous query.
    *
    * The static side is a snapshot: orders and products come from the
    * batch pipeline's loader ([[graft.pipeline.EcommercePipeline]]'s
    * `orders`/`products`), so their required columns are parsed once, in
    * the first micro-batch, into the cache, and every later batch joins
    * the cached rows instead of re-parsing both CSVs. Their file listing
    * was already fixed when the query was defined (an orders part file
    * landed later was never joined); the one change the cache brings is
    * that a static file rewritten in place after the first batch is not
    * re-read either. Like the pipeline's own caches, the snapshot lives
    * until the caller unpersists it (`new EcommercePipeline(spark,
    * dataDir).orders.unpersist()`, same for products) or calls
    * `spark.catalog.clearCache()`; a batch pipeline over the same
    * `dataDir` shares it. */
  def kpiCategoryStream(spark: SparkSession, dataDir: String): DataFrame = {
    val items = spark.readStream
      .schema(Schemas.orderItems)
      .option("header", "true")
      .option("maxFilesPerTrigger", UpsertSink.FilesPerTrigger)
      .csv(s"$dataDir/order_items")
    val static = new EcommercePipeline(spark, dataDir)
    EcommercePipeline.categoryKpiAgg(items, static.orders, static.products)
  }
}
