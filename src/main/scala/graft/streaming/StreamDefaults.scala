package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}

/** Deployment presets bundling every stateful twin's bounding knobs into
  * one named configuration, so "run this stream safely in production" is a
  * single decision instead of six per-stream parameters. Two operating
  * points:
  *
  *  - [[StreamDefaults.replay]] — the configuration baked into each
  *    twin's parameter defaults: per-key caps ON, key-count TTL OFF
  *    (`NoTimeout`). This is the point at which the engine's primary
  *    guarantee holds exactly: streaming ≡ batch under ARBITRARY arrival
  *    order, replay + checkpoint-restart spec'd per twin.
  *  - [[StreamDefaults.production]] — every unbounded resource bounded:
  *    the same per-key caps, PLUS an event-time idle TTL (7-day horizon,
  *    1-hour watermark lateness) on the event-time twins and a
  *    processing-time idle TTL (24 h) on the processing-time twins, so
  *    state is O(keys active within the horizon), never O(keys ever
  *    seen). The replay-exactness trade (evicted keys re-initialize as
  *    fresh; rows older than the watermark are dropped) is documented on
  *    [[Ttl]] and spec-pinned per twin in StreamTtlSpec.
  *
  * Exemptions — streams with no TTL knob, each with its real state bound
  * (StreamDefaultsSpec pins that every file under `streaming/` is either
  * a [[Ttl.keyed]] twin or named here):
  *  - a fixed key space: CmsMonitor's D×W sketch cells (64 counters);
  *  - keys from the calendar or a schema domain, with no watermark, so
  *    state grows only with days observed or the domain's size:
  *    RevenueMonitor and ForecastMonitor (one cents total per `day`),
  *    DriftMonitor (`psiMonitor` one count per `l_returnflag`, `ksMonitor`
  *    one histogram row per distinct cent value), KmvMonitor (≤ 16
  *    hashes per (week, event_type)), and EventStreams' KPI streams (per
  *    (category, order_date) and per order_date);
  *  - Spark's own watermark evicts closed windows and expired keys:
  *    EventStreams' windowed, hopping, sessions, dedupStream and
  *    click-view interval join, and DocIngest.ingestBounded;
  *  - unbounded, O(keys ever seen): AbtestMonitor.userFlags keeps one
  *    `Int` per user under `NoTimeout` and takes no TTL, because after an
  *    eviction a returning user's non-converting batch would emit
  *    `Flag(uid, 0)` over the stored 1; NearDupStream keeps one key per distinct candidate pair,
  *    and DocIngest.ingest one digest per distinct content;
  *  - sinks (UpsertSink, IngestPipeline, and sources.ManifestSink) hold no
  *    streaming state — IngestPipeline dedups batch-locally inside
  *    `foreachBatch`, and their footprint is the output table itself.
  */
final case class StreamDefaults(
    idleTtl: Option[Ttl],
    idleTtlProcMs: Option[Long],
    touchCap: Option[Int],
    basketCap: Option[Int],
    timesCap: Option[Int],
    journeyCap: Option[Int]) {

  /** True iff every bounding knob is engaged — what `production` promises. */
  def fullyBounded: Boolean =
    idleTtl.isDefined && idleTtlProcMs.isDefined && touchCap.isDefined &&
      basketCap.isDefined && timesCap.isDefined && journeyCap.isDefined

  // One applier per parameterized stateful twin: the preset IS the knob
  // wiring, so call sites cannot mix presets per-parameter.
  def attributedPurchases(spark: SparkSession,
      events: Dataset[AttributionStream.Ev]): Dataset[AttributionStream.AttRow] =
    AttributionStream.attributedPurchases(spark, events, touchCap, idleTtl)

  def orderPairs(spark: SparkSession,
      items: Dataset[BasketStream.Item]): Dataset[BasketStream.BasketRow] =
    BasketStream.orderPairs(spark, items, basketCap, idleTtlProcMs)

  def bursts(spark: SparkSession,
      events: Dataset[DebounceStream.Ev]): Dataset[DebounceStream.Burst] =
    DebounceStream.bursts(spark, events, timesCap, idleTtl)

  def userTransitions(spark: SparkSession,
      events: Dataset[TransitionStream.Ev]): Dataset[TransitionStream.UserTrans] =
    TransitionStream.userTransitions(spark, events, journeyCap, idleTtl)

  def funnel(spark: SparkSession,
      events: Dataset[Stateful.FunnelEvent]): Dataset[Stateful.FunnelResult] =
    Stateful.funnelState(spark, events, idleTtl)
}

object StreamDefaults {

  /** Production event-time idle horizon: 7 days of event time, 1 hour of
    * accepted arrival skew — the usual log-shipping contract. */
  val ProductionIdleTtl: Ttl = Ttl(ttlMs = 7L * 24 * 3600 * 1000, lateness = "1 hour")

  /** Production processing-time idle horizon for the twins whose sources
    * carry no event time: basket assembly (`orderPairs`), and CDC
    * latest-wins, whose TTL stays an explicit opt-in argument of
    * `CdcStream.latestWins`. */
  val ProductionProcTtlMs: Long = 24L * 3600 * 1000

  val replay: StreamDefaults = StreamDefaults(
    idleTtl = None,
    idleTtlProcMs = None,
    touchCap = AttributionStream.DefaultTouchCap,
    basketCap = BasketStream.DefaultBasketCap,
    timesCap = DebounceStream.DefaultTimesCap,
    journeyCap = TransitionStream.DefaultJourneyCap)

  val production: StreamDefaults = replay.copy(
    idleTtl = Some(ProductionIdleTtl),
    idleTtlProcMs = Some(ProductionProcTtlMs))
}
