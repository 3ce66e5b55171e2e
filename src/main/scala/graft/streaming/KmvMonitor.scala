package graft.streaming

import graft.functions.KmvSketch
import graft.operators.Sketches
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming KMV distinct-users monitor — the cardinality sibling of the
  * Count-Min frequency monitor: the weekly rollup sketch
  * (`q_sketch_kmv_rollup`, operators/Sketches) maintained continuously
  * over an event stream. The keyed aggregate runs the SAME
  * typed KMV Aggregator the batch query runs, so per-(week, event_type)
  * state is the aggregation buffer itself — at most K = 16 hashes per
  * key BY CONSTRUCTION, no matter how many distinct users the stream
  * carries (an exact streaming count-distinct would hold every user id
  * in state; the sketch never grows).
  *
  * Each micro-batch carries the CUMULATIVE sketch of every key; the sink
  * publishes (kmv_csv, est_users) as the keyed state dir, computed with the shared batch estimator
  * (Sketches.kmvEstimate), which is what makes replay ≡ batch exact
  * bit-for-bit (KmvMonitorSpec, incl. checkpoint restart) — the same
  * KMV mergeability that makes the batch weekly-from-daily rollup
  * lossless makes arbitrary micro-batch splits lossless here.
  *
  * Input contract: the stream's `ts` column is the NORMALIZED
  * TimestampType (apply the Tables.events generation-era normalization
  * upstream of the replay dir, as the spec does). */
object KmvMonitor {

  def kmvMonitor(spark: SparkSession, srcDir: String, stateDir: String,
      checkpointDir: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): StreamingQuery = {
    val kmv = udaf(KmvSketch.aggregator)
    val weekly = UpsertSink.fileStream(spark, srcDir, schema)
      .select(Sketches.weekKey.as("wk"), col("event_type"),
        md5(col("user_id").cast("string")).as("h"))
      .groupBy(col("wk"), col("event_type"))
      .agg(kmv(col("h")).as("kmv"))
      .select(col("wk"), col("event_type"),
        concat_ws(",", col("kmv")).as("kmv_csv"),
        Sketches.kmvEstimate(col("kmv")).as("est_users"))
    UpsertSink.keyedParquetUpsert(weekly, Seq("wk", "event_type"), stateDir, checkpointDir)
  }
}
