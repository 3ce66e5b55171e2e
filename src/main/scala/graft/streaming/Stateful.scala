package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.unix_micros
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom arbitrary-state streaming operators over
  * `KeyValueGroupedDataset.flatMapGroupsWithState` — the API the engine
  * exposes for stateful logic that windows/session_window can't express
  * (running per-key accumulators, custom eviction). The reference has no
  * stateful streaming at all (SURVEY.md §2.8), so this is a north-star
  * extension.
  *
  * Scale notes: state lives in the state store partitioned by user_id
  * (shuffle on the grouping key once, then incremental per-batch updates);
  * state size is O(distinct users), not O(events). A production deployment
  * bounds the KEY count with an event-time idle TTL ([[Ttl]], the
  * `idleTtl` knobs below, applied by [[Ttl.keyed]]) — NoTimeout stays the
  * default so replay tests are exactly comparable to batch; the TTL trade
  * is documented on [[Ttl]] and spec-pinned in StreamTtlSpec.
  */
object Stateful {

  final case class TsEvent(user_id: Long, value: Double, ts_us: Long)
  final case class UserStat(user_id: Long, n_events: Long, total_value: Double)

  /** Running per-user event count + value sum, updated per micro-batch.
    *
    * With `idleTtl` set ([[Ttl]]): an idle user's accumulator is evicted
    * once the watermark passes ttl beyond their last event. Eviction
    * re-emits the final stat row (idempotent for an upsert sink), and a
    * reappearing user RESTARTS from zero — the "evicted key re-initializes
    * as a fresh key" semantic, spec-pinned in StreamTtlSpec. */
  def runningUserStats(spark: SparkSession, events: Dataset[TsEvent],
      idleTtl: Option[Ttl] = None): Dataset[UserStat] = {
    import spark.implicits._
    Ttl.keyed(events, Ttl.eventTime(idleTtl)((e: TsEvent) => e.ts_us))(_.user_id)(
      (uid: Long, prev: Option[UserStat], batch: Iterator[TsEvent]) => {
        val next = batch.foldLeft(prev.getOrElse(UserStat(uid, 0L, 0.0))) { (s, e) =>
          s.copy(n_events = s.n_events + 1, total_value = s.total_value + e.value)
        }
        (next, Iterator.single(next))
      },
      (_: Long, last: UserStat) => Iterator.single(last))
  }

  // ------------------------------------------------------ streaming funnel

  final case class FunnelEvent(user_id: Long, event_type: String, ts_us: Long)
  final case class FunnelState(
      t_view: Option[Long], clicks: List[Long], purchases: List[Long])
  final case class FunnelResult(
      user_id: Long, t_view: Option[Long], t_click: Option[Long],
      t_purchase: Option[Long], stage_reached: Int)

  /** Streaming funnel (view → click → purchase) — the stateful CEP twin of
    * the batch `operators.Events.funnel`, exact under ARBITRARY arrival
    * order: a late-arriving earlier view can re-select an earlier click, so
    * the state keeps the min view plus the click/purchase candidate sets
    * and re-derives the funnel on every update (monotone inputs, so the
    * fixpoint equals the batch result — StreamingFunnelSpec replays it).
    *
    * Scale notes: state is keyed by user (one shuffle), min-view is O(1),
    * and candidate sets grow only with per-user clicks/purchases. Without
    * `idleTtl` (the default) nothing is evicted, so replay equivalence is
    * exact. With `idleTtl` set ([[Ttl]]) the funnel is FINALIZED on
    * eviction: the timeout re-emits the user's last derived result
    * (idempotent for an upsert sink) and drops the candidate sets; a
    * reappearing user re-initializes at stage 0 as a fresh journey
    * (spec-pinned in StreamTtlSpec). */
  def funnelState(spark: SparkSession, events: Dataset[FunnelEvent],
      idleTtl: Option[Ttl] = None): Dataset[FunnelResult] = {
    import spark.implicits._
    def derive(uid: Long, s: FunnelState): FunnelResult = {
      val tClick = s.t_view.flatMap(v => s.clicks.filter(_ > v).minOption)
      val tPurchase = tClick.flatMap(c => s.purchases.filter(_ > c).minOption)
      FunnelResult(uid, s.t_view, tClick, tPurchase,
        if (s.t_view.isEmpty) 0
        else 1 + tClick.size + tPurchase.size)
    }
    Ttl.keyed(events, Ttl.eventTime(idleTtl)((e: FunnelEvent) => e.ts_us))(_.user_id)(
      (uid: Long, prev: Option[FunnelState], batch: Iterator[FunnelEvent]) => {
        val s = batch.foldLeft(prev.getOrElse(FunnelState(None, Nil, Nil))) { (s, e) =>
          e.event_type match {
            case "view" if s.t_view.forall(e.ts_us < _) => s.copy(t_view = Some(e.ts_us))
            case "click" => s.copy(clicks = e.ts_us :: s.clicks)
            case "purchase" => s.copy(purchases = e.ts_us :: s.purchases)
            case _ => s
          }
        }
        (s, Iterator.single(derive(uid, s)))
      },
      (uid: Long, last: FunnelState) => Iterator.single(derive(uid, last)))
  }

  // ------------------------------------- steps-table streaming funnel

  final case class StepsResult(user_id: Long, stage_reached: Int, t_last: Option[Long])

  /** Per-step candidate timestamps a user's state retains (smallest-k).
    * The cap is ON by default (state bounds are opt-out): a hot user holds
    * ≤ steps×cap longs. Truncation semantics: keeping the k SMALLEST per
    * step can only lose a candidate that is LARGER than k earlier
    * same-step events — the fixture-level replay
    * spec runs under the cap, and production sizes it to the p99.9
    * per-user per-type event count (64 covers the harness data ~10×). */
  val StepCandidateCap = 64

  /** Steps-table streaming funnel — the stateful twin of
    * `operators.Events.funnelStepsOf`, exact under ARBITRARY arrival
    * order below the cap: state keeps per-step candidate minima and
    * re-derives the chain (t₁ = min step-1; tₖ = min step-k > tₖ₋₁) on
    * every update, so a late-arriving earlier event re-chains later
    * steps exactly as batch would. One shuffle on user_id; state is
    * O(steps × cap) longs per user.
    *
    * With `idleTtl` set ([[Ttl]]): eviction finalizes — it re-emits the
    * last derived result and drops the candidate sets; a reappearing user
    * re-chains from scratch as a fresh journey (spec-pinned in
    * StreamTtlSpec). */
  def funnelStepsState(
      spark: SparkSession, events: Dataset[FunnelEvent], steps: Seq[String],
      cap: Int = StepCandidateCap,
      idleTtl: Option[Ttl] = None): Dataset[StepsResult] = {
    import spark.implicits._
    val stepIdx = steps.zipWithIndex.toMap
    def derive(uid: Long, s: Vector[List[Long]]): StepsResult = {
      var reached = 0
      var tPrev: Option[Long] = None
      var continue = true
      for (cands <- s if continue) {
        val next = tPrev match {
          case None => cands.minOption
          case Some(p) => cands.filter(_ > p).minOption
        }
        next match {
          case Some(t) => reached += 1; tPrev = Some(t)
          case None => continue = false
        }
      }
      StepsResult(uid, reached, tPrev)
    }
    Ttl.keyed(events, Ttl.eventTime(idleTtl)((e: FunnelEvent) => e.ts_us))(_.user_id)(
      (uid: Long, prev: Option[Vector[List[Long]]], batch: Iterator[FunnelEvent]) => {
        val init = prev.getOrElse(Vector.fill(steps.length)(List.empty[Long]))
        val s = batch.foldLeft(init) { (s, e) =>
          stepIdx.get(e.event_type).fold(s)(i => s.updated(i, (e.ts_us :: s(i)).sorted.take(cap)))
        }
        (s, Iterator.single(derive(uid, s)))
      },
      (uid: Long, last: Vector[List[Long]]) => Iterator.single(derive(uid, last)))
  }

  // --------------------------------------------- custom sessionizer
  // flatMapGroupsWithState + EVENT-TIME TIMEOUT: the full custom-state
  // surface. Spark's built-in session_window covers plain gap sessions;
  // this operator exists for the semantics it can't express (per-session
  // custom payloads, multi-session state under out-of-order arrival,
  // explicit finalize-on-watermark), and the spec proves it emits exactly
  // the built-in's sessions on the same input.

  final case class SessEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class OpenSession(start_us: Long, end_us: Long, n: Long, sum: Double)
  final case class SessionRow(
      user_id: Long, session_start_us: Long, n_events: Long, total_value: Double)

  val SessionGapUs: Long = 30L * 60 * 1000000

  /** Merge sorted-by-start intervals under the session gap (strict `<`,
    * matching session_window: a gap of exactly 30min starts a new one). */
  private[graft] def mergeSessions(all: Seq[OpenSession]): List[OpenSession] =
    all.sortBy(s => (s.start_us, s.end_us)).foldLeft(List.empty[OpenSession]) {
      case (acc, s) => acc match {
        case h :: t if s.start_us < h.end_us + SessionGapUs =>
          OpenSession(h.start_us, math.max(h.end_us, s.end_us),
            h.n + s.n, h.sum + s.sum) :: t
        case _ => s :: acc
      }
    }.reverse

  /** Append-mode custom sessions: state holds every OPEN session of the
    * user (plural — out-of-order arrival can hold several apart), events
    * merge in on arrival, and sessions emit ONLY when the event-time
    * watermark passes their close (end + gap) — exactly-once finalized
    * output, state bounded by the watermark. */
  def customSessions(spark: SparkSession, events: Dataset[SessEvent]): Dataset[SessionRow] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[OpenSession], SessionRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[SessEvent], state: GroupState[List[OpenSession]]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000
          val incoming = batch.map { e =>
            val us = e.ts.getTime * 1000 + (e.ts.getNanos / 1000) % 1000
            OpenSession(us, us, 1L, e.value)
          }.toSeq
          val merged = mergeSessions(state.getOption.getOrElse(Nil) ++ incoming)
          val (closed, open) = merged.partition(_.end_us + SessionGapUs <= wmUs)
          if (open.isEmpty) state.remove()
          else {
            state.update(open)
            // fire when the earliest open session COULD close; clamp above
            // the watermark (Spark rejects timeouts at/behind it)
            val fireMs = open.map(_.end_us + SessionGapUs).min / 1000
            state.setTimeoutTimestamp(math.max(fireMs, state.getCurrentWatermarkMs() + 1))
          }
          closed.iterator.map(s =>
            SessionRow(uid, s.start_us, s.n, math.floor(s.sum * 100 + 0.5) / 100))
      }
  }

  /** Convenience: run the stateful stream from a file-source events dir to
    * a memory sink (update mode), returning the sink table name. */
  def runToMemory(spark: SparkSession, srcDir: String, sinkName: String): Unit = {
    import spark.implicits._
    val events = EventStreams.eventsStream(spark, srcDir)
      .select($"user_id", $"value", unix_micros($"ts").as("ts_us")).as[TsEvent]
    val q = runningUserStats(spark, events)
      .writeStream
      .outputMode(OutputMode.Update())
      .format("memory").queryName(sinkName)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory(s"ck_$sinkName").toString)
      .start()
    q.processAllAvailable()
    q.stop()
  }
}
