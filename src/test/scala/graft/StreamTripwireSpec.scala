package graft

import graft.streaming._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{EventTimeWatermark, FlatMapGroupsWithState, LogicalPlan, ResolvedHint}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.GroupStateTimeout

/** Streaming plan tripwire — the streaming
  * counterpart of PlanTripwireSpec's registry-wide guards: every stateful
  * twin's TTL form must PLAN a watermark plus an event-time timeout (or,
  * for the two no-event-time changelogs, a processing-time timeout), the
  * per-key caps must stay default-ON, and the stream-static join must keep
  * its per-row dimension broadcast — so the next twin added to
  * `streaming/` cannot silently regress to unbounded state or a shuffled
  * static join. Plans are inspected UNSTARTED (analysis is enough to see
  * the watermark node, the timeout conf, and join hints). */
class StreamTripwireSpec extends SparkSuite {
  import spark.implicits._

  private def stateNodes(df: DataFrame): Seq[FlatMapGroupsWithState] =
    df.queryExecution.analyzed.collect { case f: FlatMapGroupsWithState => f }

  private def hasWatermark(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collect { case w: EventTimeWatermark => w }.nonEmpty

  private def assertEventTimeTtl(df: DataFrame, what: String): Unit = {
    val nodes = stateNodes(df)
    assert(nodes.nonEmpty, s"$what: no stateful node planned")
    assert(nodes.forall(_.timeout == GroupStateTimeout.EventTimeTimeout),
      s"$what: TTL form must plan EventTimeTimeout, got ${nodes.map(_.timeout)}")
    assert(hasWatermark(df), s"$what: TTL form must plan an event-time watermark")
  }

  private val ttl = Some(Ttl(60000L))

  test("every event-time twin's TTL form plans watermark + EventTimeTimeout") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    assertEventTimeTtl(
      TransitionStream.userTransitions(spark,
        MemoryStream[TransitionStream.Ev].toDS(), idleTtl = ttl).toDF(),
      "TransitionStream.userTransitions")
    assertEventTimeTtl(
      AttributionStream.attributedPurchases(spark,
        MemoryStream[AttributionStream.Ev].toDS(), idleTtl = ttl).toDF(),
      "AttributionStream.attributedPurchases")
    assertEventTimeTtl(
      DebounceStream.bursts(spark,
        MemoryStream[DebounceStream.Ev].toDS(), idleTtl = ttl).toDF(),
      "DebounceStream.bursts")
    assertEventTimeTtl(
      Stateful.funnelState(spark,
        MemoryStream[Stateful.FunnelEvent].toDS(), idleTtl = ttl).toDF(),
      "Stateful.funnelState")
    assertEventTimeTtl(
      Stateful.funnelStepsState(spark,
        MemoryStream[Stateful.FunnelEvent].toDS(),
        Seq("view", "click", "purchase"), idleTtl = ttl).toDF(),
      "Stateful.funnelStepsState")
    assertEventTimeTtl(
      Stateful.runningUserStats(spark,
        MemoryStream[Stateful.TsEvent].toDS(), idleTtl = Some(Ttl(60000L))).toDF(),
      "Stateful.runningUserStats")
  }

  test("custom sessionizer plans EventTimeTimeout under a caller watermark") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[Stateful.SessEvent].toDS()
      .withWatermark("ts", "1 hour").as[Stateful.SessEvent]
    assertEventTimeTtl(Stateful.customSessions(spark, src).toDF(),
      "Stateful.customSessions")
  }

  test("no-event-time changelogs (basket, cdc) plan ProcessingTimeTimeout in their TTL form") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val basket = BasketStream.orderPairs(spark,
      MemoryStream[BasketStream.Item].toDS(), idleTtlProcMs = Some(60000L)).toDF()
    val bNodes = stateNodes(basket)
    assert(bNodes.nonEmpty &&
      bNodes.forall(_.timeout == GroupStateTimeout.ProcessingTimeTimeout))

    val src = java.nio.file.Files.createTempDirectory("tripwire_cdc").toString
    val cdc = CdcStream.latestWins(spark, src, idleTtlProcMs = Some(60000L)).toDF()
    val cNodes = stateNodes(cdc)
    assert(cNodes.nonEmpty &&
      cNodes.forall(_.timeout == GroupStateTimeout.ProcessingTimeTimeout))
  }

  test("zero-config per-key caps stay default-ON (the round-5 house rule)") {
    assert(TransitionStream.DefaultJourneyCap.isDefined)
    assert(BasketStream.DefaultBasketCap.isDefined)
    assert(AttributionStream.DefaultTouchCap.isDefined)
    assert(DebounceStream.DefaultTimesCap.isDefined)
    assert(Stateful.StepCandidateCap > 0)
  }

  test("watermarked streaming aggregations plan the watermark node") {
    val src = java.nio.file.Files.createTempDirectory("tripwire_agg").toString
    assert(hasWatermark(EventStreams.windowed(spark, src)), "windowed")
    assert(hasWatermark(EventStreams.hopping(spark, src)), "hopping")
    assert(hasWatermark(EventStreams.sessions(spark, src)), "sessions")
    assert(hasWatermark(EventStreams.dedupStream(spark, src)), "dedupStream")
    val join = EventStreams.clickViewIntervalJoin(spark, src)
    // BOTH sides of the stream-stream interval join must be watermarked —
    // two EventTimeWatermark nodes — or join state never evicts
    val wmCount = join.queryExecution.analyzed
      .collect { case w: EventTimeWatermark => w }.size
    assert(wmCount === 2, s"interval join watermarks: $wmCount")
  }

  test("stream-static join keeps the per-row dimension broadcast-hinted") {
    val df = EventStreams.kpiCategoryStream(spark, SparkSpec.referenceFixture)
    val hints = df.queryExecution.analyzed
      .collect { case h: ResolvedHint if h.hints.strategy.isDefined => h }
    assert(hints.nonEmpty,
      "products (the per-row dimension) must carry an explicit broadcast hint")
  }
}
