package graft.streaming

import graft.operators.Seasonal
import graft.sources.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Live Holt forecast monitor — the streaming twin of `q_stats_holt`:
  * after every micro-batch the published forecast table equals the batch
  * query over all events seen so far (the RevenueMonitor contract).
  *
  * State design: identical to RevenueMonitor — the stream maintains only
  * the (day, cents) totals, a built-in aggregate whose key
  * space is the CALENDAR (bounded by days observed, no cap knob, no TTL
  * debate); daily sums are additive and order-free so arrival order is
  * irrelevant. Each batch replaces the day store, then the Holt
  * recursion reruns from the store with the BATCH arithmetic verbatim
  * (Seasonal.holtFromDaily) — day-count-sized work, never event-sized —
  * and swap-publishes. Replaying the recursion from the seed each batch
  * (rather than carrying (l, b) as streaming state) is what makes late
  * and out-of-order days exact instead of approximated: a backfilled day
  * changes every later level/trend, and the replay picks that up for
  * free. */
object ForecastMonitor {

  /** Start the monitor: day totals in `stateDir`_days, the Holt
    * fit+forecast table published at `stateDir`_holt and the
    * Holt-Winters one at `stateDir`_hw. */
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
      Seq(stateDir + "_holt" -> Seasonal.holtFromDaily,
        stateDir + "_hw" -> Seasonal.holtWintersFromDaily))
  }
}
