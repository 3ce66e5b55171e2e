package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Opt-in event-time TTL for keyed streaming state. The per-KEY caps
  * (`DefaultJourneyCap`/`DefaultBasketCap`/`DefaultTouchCap`/
  * `DefaultTimesCap`) bound what one key holds, but the KEY COUNT grows
  * with every user/order/key ever seen. With a [[Ttl]] passed, a stateful
  * twin runs `GroupStateTimeout.EventTimeTimeout` and EVICTS a key's state
  * once the watermark passes `ttlMs` beyond the key's last activity
  * (the max of its last event time and the watermark at its last touch),
  * so state size is O(keys active within the TTL horizon), not O(keys
  * ever seen).
  *
  * The replay-exactness trade (why `NoTimeout` stays the API default):
  * the engine's primary spec'd guarantee is streaming ≡ batch under
  * ARBITRARY arrival order — replaying an archive whose files are not
  * time-ordered must converge to the batch answer exactly. A TTL breaks
  * that in two documented ways: (1) an idle key's state is GONE once the
  * watermark passes its deadline, so a key that reappears re-initializes
  * as fresh (its pre-eviction events no longer participate); (2) the
  * watermark that drives eviction also DROPS input rows older than the
  * watermark (Spark's stateful operators filter late data when the input
  * carries a watermarked column) — accepting a row for a key that may
  * already be evicted would make results depend on eviction timing, so
  * dropping is the coherent semantic. Production streams whose arrival
  * skew is bounded by `lateness` lose nothing; `StreamTtlSpec` pins the
  * per-twin eviction semantics.
  */
final case class Ttl(ttlMs: Long, lateness: String = "0 seconds") {
  require(ttlMs > 0, "TTL must be positive")
}

object Ttl {

  /** When a keyed step's idle keys are evicted: never, once the watermark
    * passes a [[Ttl]] beyond the key's last event time (`tsUs` reads the
    * row's `ts_us`, the column the watermark is built on), or after `ms`
    * of processing time without input (for sources that carry no event
    * time). */
  sealed trait Idle[-V]
  case object Never extends Idle[Any]
  final case class EventTime[V](ttl: Ttl, tsUs: V => Long) extends Idle[V]
  final case class ProcessingTime(ms: Long) extends Idle[Any]

  /** A twin's `idleTtl` argument as its [[Idle]] policy. */
  def eventTime[V](idleTtl: Option[Ttl])(tsUs: V => Long): Idle[V] =
    idleTtl.fold[Idle[V]](Never)(EventTime(_, tsUs))

  /** A twin's `idleTtlProcMs` argument as its [[Idle]] policy. */
  def processingTime(idleTtlProcMs: Option[Long]): Idle[Any] =
    idleTtlProcMs.fold[Idle[Any]](Never)(ProcessingTime)

  /** The one keyed-state operator every idle-bounded twin runs on:
    * `flatMapGroupsWithState` in update mode, with the eviction policy
    * owned here. A twin supplies only its `step` — fold the batch into the
    * prior state (None for a fresh or re-initialized key), returning the
    * next state and the rows to emit — and, optionally, what an evicted
    * key emits from its last state. `step` must consume the batch: the
    * event-time deadline comes from the batch's max `tsUs`. */
  def keyed[K: Encoder, V: Encoder, S: Encoder, U: Encoder](
      events: Dataset[V], idle: Idle[V])(key: V => K)(
      step: (K, Option[S], Iterator[V]) => (S, Iterator[U]),
      evicted: (K, S) => Iterator[U] = (_: K, _: S) => Iterator.empty): Dataset[U] = {
    val (src, timeout) = idle match {
      case EventTime(ttl, _) => (watermarked(events, ttl.lateness), GroupStateTimeout.EventTimeTimeout)
      case ProcessingTime(_) => (events, GroupStateTimeout.ProcessingTimeTimeout)
      case Never => (events, GroupStateTimeout.NoTimeout)
    }
    src.groupByKey(key).flatMapGroupsWithState[S, U](OutputMode.Update, timeout) {
      (k: K, batch: Iterator[V], state: GroupState[S]) =>
        if (state.hasTimedOut) {
          val last = state.get
          state.remove()
          evicted(k, last)
        } else {
          var maxTsUs = Long.MinValue
          val in = idle match {
            case EventTime(_, tsUs) => batch.map { v => maxTsUs = math.max(maxTsUs, tsUs(v)); v }
            case _ => batch
          }
          val (next, out) = step(k, state.getOption, in)
          state.update(next)
          idle match {
            case EventTime(ttl, _) =>
              state.setTimeoutTimestamp(deadline(state, maxTsUs / 1000, ttl.ttlMs))
            case ProcessingTime(ms) => state.setTimeoutDuration(ms)
            case Never =>
          }
          out
        }
    }
  }

  /** Attach an event-time watermark derived from the dataset's `ts_us`
    * microsecond column (every event-time twin carries one) so
    * `EventTimeTimeout` can fire. The added `event_time` column rides
    * along unreferenced by the typed encoder. */
  private def watermarked[T: Encoder](ds: Dataset[T], lateness: String): Dataset[T] =
    ds.withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", lateness)
      .as[T]

  /** Eviction deadline for a key touched this batch: idle once the
    * watermark passes `ttlMs` beyond its last activity. The max with the
    * current watermark keeps the deadline strictly ahead of it (Spark
    * rejects timeouts at/behind the watermark) even when the batch's
    * events are all older than the watermark's position. */
  private def deadline(state: GroupState[_], batchMaxTsMs: Long, ttlMs: Long): Long =
    math.max(state.getCurrentWatermarkMs(), batchMaxTsMs) + ttlMs
}
