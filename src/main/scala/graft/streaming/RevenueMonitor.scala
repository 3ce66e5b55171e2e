package graft.streaming

import graft.operators.Trend
import graft.sources.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Live revenue smoothing + change-point monitor — the streaming twin of
  * the batch `q_stats_ewma` and `q_stats_cusum`: after every micro-batch
  * the published EWMA and CUSUM tables equal the batch queries over all
  * events seen so far.
  *
  * State design: the stream maintains only the (day, cents) totals — an
  * built-in aggregate whose key space is the CALENDAR, so
  * state is bounded by days-observed with no cap knob; daily sums are
  * additive and order-free, so arrival order is irrelevant by
  * construction. Each batch carries every day's cumulative total and
  * replaces the store; the derived EWMA/CUSUM tables are then
  * recomputed from the day store with the BATCH arithmetic verbatim
  * (Trend.ewmaFromDaily / cusumFromDaily) — day-count-sized work, never
  * event-sized — and swap-published. */
object RevenueMonitor {

  /** Start the monitor: day totals in `stateDir`_days, EWMA published at
    * `stateDir`_ewma, CUSUM at `stateDir`_cusum. */
  def monitor(spark: SparkSession, srcDir: String, stateDir: String,
      checkpointDir: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): StreamingQuery = {
    val daily = Tables.normalizeTs(UpsertSink.fileStream(spark, srcDir, schema))
      .filter(col("event_type") === "purchase")
      .select(to_date(col("ts")).as("day"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .groupBy(col("day"))
      .agg(sum(col("cents")).as("c"))
    UpsertSink.keyedParquetUpsert(daily, Seq("day"), stateDir + "_days", checkpointDir,
      Seq(stateDir + "_ewma" -> Trend.ewmaFromDaily,
        stateDir + "_cusum" -> Trend.cusumFromDaily))
  }
}
