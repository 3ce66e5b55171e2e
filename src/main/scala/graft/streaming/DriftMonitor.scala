package graft.streaming

import graft.operators.Scans
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import scala.jdk.CollectionConverters._

/** Streaming PSI drift monitor — the streaming consumer of the batch
  * drift metric (`q_stats_psi`,
  * operators/Scans.psiDrift): the REFERENCE window's distribution is
  * pinned once from the static table (shipdate < Scans.PsiCut), the LIVE
  * window's per-group counts accumulate from the stream, and each
  * micro-batch publishes the refreshed PSI table, a view of the keyed
  * count store ([[UpsertSink.keyedParquetUpsert]]) swapped whole — its
  * groups are the full outer join of the pinned baseline with counts
  * that only grow, so no group ever leaves it.
  *
  * Plan shape: the streaming side is ONE streaming aggregate
  * (per-group running count — bytes of state per group, watermark-free
  * because drift is cumulative-window, not event-time-window). The
  * static-side join and the PSI arithmetic run in the per-batch view:
  * Structured Streaming forbids joins after a streaming aggregation, and
  * the post-aggregation relation is group-cardinality-
  * sized (a handful of rows), so the per-batch join is O(groups), never
  * O(stream). The metric body is the SAME code the batch query runs
  * (Scans.psiOf — identical quantized ln and rounding), which is what
  * makes replay ≡ batch exact (DriftMonitorSpec).
  *
  * At scale: state = one long per group in the state store; the published
  * PSI table is groups-sized; stream volume only passes through the
  * map-side-combinable count. Nothing here is corpus-sized on the driver.
  */
object DriftMonitor {

  /** Start the monitor: live counts from `srcDir` stream vs the pinned
    * baseline from `staticDir`; the PSI table published at `stateDir`
    * after every micro-batch. */
  def psiMonitor(spark: SparkSession, srcDir: String, staticDir: String,
      stateDir: String, checkpointDir: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): StreamingQuery = {
    // pinned ONCE at monitor start — the reference distribution does not
    // move with the stream (that is the point of drift monitoring). The
    // per-group counts are groups-sized by definition, so the pin is a
    // plain collected list rebuilt per batch: no cache entry to leak
    // across monitor restarts, no eviction risk, no recompute.
    val baselineDf = Scans.psiBaseline(spark, staticDir)
    val baselineRows = baselineDf.collect().toSeq
    val baselineSchema = baselineDf.schema

    val liveCounts = UpsertSink.fileStream(spark, srcDir, schema)
      .select(col("l_returnflag"), to_date(col("l_shipdate")).as("d"))
      .filter(col("d") >= lit(Scans.PsiCut))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_cur"))

    // every batch carries the cumulative count of every group; publish it
    // as the count state, then recompute the full PSI table from state + pin
    UpsertSink.keyedParquetUpsert(liveCounts, Seq("l_returnflag"),
      stateDir + "_counts", checkpointDir, Seq(stateDir -> { counts =>
        val baseline = counts.sparkSession.createDataFrame(
          new java.util.ArrayList(baselineRows.asJava), baselineSchema)
        Scans.psiOf(counts
          .join(baseline, Seq("l_returnflag"), "full_outer")
          .select(col("l_returnflag"),
            coalesce(col("n_base"), lit(0L)).as("n_base"),
            coalesce(col("n_cur"), lit(0L)).as("n_cur")))
      }))
  }

  /** Streaming KS drift monitor — the [[psiMonitor]] pattern pointed at
    * the nonparametric statistic (`q_stats_ks`, Scans.ksOf): the live
    * per-cent-value two-side histogram accumulates as
    * streaming-aggregate state (2 longs per distinct money value —
    * bounded by construction, watermark-free cumulative window), and each
    * micro-batch publishes the whole histogram then recomputes the
    * ONE-row KS table (a view, swapped whole) from full state with the
    * IDENTICAL factored batch body (Scans.ksOfHistogram) — which is what
    * makes replay ≡ batch exact (KsMonitorSpec, incl. checkpoint restart).
    *
    * At scale: state and the published histogram are distinct-value-
    * sized; the per-batch KS recompute runs over that histogram, never
    * the stream. Until both sides have data the statistic divides by
    * zero → NULL ks, the honest "not yet defined" value. */
  def ksMonitor(spark: SparkSession, srcDir: String, stateDir: String,
      checkpointDir: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      sideA: String = "purchase", sideB: String = "click"): StreamingQuery = {
    val live = Scans.ksHistogram(UpsertSink.fileStream(spark, srcDir, schema),
      sideA, sideB)
    UpsertSink.keyedParquetUpsert(live, Seq("v"), stateDir + "_hist", checkpointDir,
      Seq(stateDir -> (Scans.ksOfHistogram(_).withColumn("metric", lit("ks")))))
  }
}
