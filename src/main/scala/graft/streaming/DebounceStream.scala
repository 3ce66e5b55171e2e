package graft.streaming

import graft.sources.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Streaming telemetry debounce — the stateful twin of the batch
  * `q_events_debounce` (operators/Events.debounceOf), exact under
  * ARBITRARY arrival order: a late event can EXTEND a burst, BRIDGE two
  * bursts into one (its timestamp closes a ≥gap hole), or START a new
  * burst, so burst identities are not stable across batches. Like the
  * transition stream, each batch re-derives the key's full burst list
  * from state and emits it along with explicit zero rows for burst
  * starts that vanished (bridged or re-anchored) — the retraction
  * channel the upsert sink consumes.
  *
  * Scale notes: state per (user, event_type) is the event-time list —
  * the honest floor for exact out-of-order gap analysis (the batch twin
  * window-sorts the same rows). The `timesCap` bound is ON by default
  * (round-5 verdict #4 house rule): state keeps each key's FIRST cap
  * event times by (ts, event_id) — first-k under a total order is
  * associative, so shuffled/late arrival converges exactly to "debounce
  * of the key's first cap events"; `Unbounded` is the explicit opt-out.
  */
object DebounceStream {

  /** Default per-key state bound: first cap event times by (ts_us,
    * event_id). Keys at or under the cap are bit-identical to the exact
    * twin. */
  val DefaultTimesCap: Option[Int] = Some(10000)
  val Unbounded: Option[Int] = None

  final case class Ev(user_id: Long, event_type: String, ts_us: Long, event_id: Long)
  final case class KeyState(times: List[(Long, Long)], known: List[Long])
  final case class Burst(user_id: Long, event_type: String, burst_start_us: Long,
      n_events: Long, span_us: Long)

  /** Bursts from the key's (sorted) event times under the batch gap. */
  private def derive(times: List[(Long, Long)]): List[(Long, Long, Long)] = {
    val sorted = times.sortBy(identity).map(_._1)
    if (sorted.isEmpty) Nil
    else {
      val bursts = scala.collection.mutable.ListBuffer.empty[(Long, Long, Long)]
      var (start, last, n) = (sorted.head, sorted.head, 1L)
      sorted.tail.foreach { us =>
        if (us - last >= graft.operators.Events.DebounceGapUs) {
          bursts += ((start, n, last - start)); start = us; n = 1L
        } else n += 1L
        last = us
      }
      bursts += ((start, n, last - start))
      bursts.toList
    }
  }

  /** The stateful operator: refreshed burst rows per batch plus zero-row
    * retractions for vanished burst starts.
    *
    * With `idleTtl` set ([[Ttl]]): the key's event-time list is evicted
    * once the watermark passes ttl beyond its last event. Eviction emits
    * nothing — the burst store holds the key's final rows — and a
    * reappearing key derives bursts from its new events only, so a gap
    * spanning the eviction can no longer be BRIDGED by a late event
    * (such an event would be beyond the watermark regardless). Pick
    * ttl ≥ the debounce gap so no burst is ever split by eviction: a key
    * evicted as idle has, by definition, a ≥ttl ≥gap event-time hole at
    * the eviction point, which the exact twin would split at anyway
    * (spec-pinned in StreamTtlSpec). */
  def bursts(spark: SparkSession, events: org.apache.spark.sql.Dataset[Ev],
      timesCap: Option[Int] = DefaultTimesCap,
      idleTtl: Option[Ttl] = None): org.apache.spark.sql.Dataset[Burst] = {
    import spark.implicits._
    val src = idleTtl.fold(events)(t => Ttl.watermarked(events, t.lateness))
    val conf = if (idleTtl.isDefined) GroupStateTimeout.EventTimeTimeout
               else GroupStateTimeout.NoTimeout
    src
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[KeyState, Burst](OutputMode.Update, conf) {
        (key: (Long, String), batch: Iterator[Ev], state: GroupState[KeyState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val prev = state.getOption.getOrElse(KeyState(Nil, Nil))
            var maxTsUs = Long.MinValue
            val merged = batch.foldLeft(prev.times) { (acc, e) =>
              if (e.ts_us > maxTsUs) maxTsUs = e.ts_us
              (e.ts_us, e.event_id) :: acc
            }
            val kept = timesCap.fold(merged)(c => merged.sortBy(identity).take(c))
            val bs = derive(kept)
            val starts = bs.map(_._1).toSet
            val vanished = prev.known.filterNot(starts.contains)
            state.update(KeyState(kept, bs.map(_._1)))
            idleTtl.foreach(t =>
              state.setTimeoutTimestamp(Ttl.deadline(state, maxTsUs / 1000, t.ttlMs)))
            bs.iterator.map { case (s, n, span) => Burst(key._1, key._2, s, n, span) } ++
              vanished.iterator.map(s => Burst(key._1, key._2, s, 0L, 0L))
          }
      }
  }

  /** Start the monitor: per-key bursts upserted into `stateDir`_bursts
    * (zeros overwrite bridged-away starts), the live burst table published
    * into `stateDir` by checked swap after every micro-batch. */
  def burstMonitor(spark: SparkSession, srcDir: String, stateDir: String,
      checkpointDir: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      timesCap: Option[Int] = DefaultTimesCap): StreamingQuery = {
    import spark.implicits._
    val evs = Tables.normalizeTs(UpsertSink.fileStream(spark, srcDir, schema))
      .select(col("user_id").cast("long").as("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("event_id").cast("long").as("event_id"))
      .as[Ev]
    UpsertSink.keyedParquetUpsert(bursts(spark, evs, timesCap).toDF(),
      Seq("user_id", "event_type", "burst_start_us"), stateDir + "_bursts", checkpointDir,
      Seq(stateDir -> (_.filter(col("n_events") > 0)
        .select(col("user_id"), col("event_type"),
          timestamp_micros(col("burst_start_us")).as("burst_start"),
          col("n_events"), col("span_us")))))
  }
}
