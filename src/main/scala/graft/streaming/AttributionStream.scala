package graft.streaming

import graft.sources.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming last-touch attribution — the stateful twin of the batch
  * `q_events_attribution` (operators/Events.attribution), exact under
  * ARBITRARY arrival order: a late-arriving touch that lands between an
  * already-seen touch and a purchase must RE-ATTRIBUTE that purchase, and
  * a purchase arriving before any of its touches starts in the 'none'
  * channel and moves when they land.
  *
  * Mechanics: state per user holds the touch set and the purchase set;
  * each batch re-derives every purchase's winning channel (latest touch
  * with ts ≤ purchase ts; ties to higher event_id — the batch sort order
  * (ts, side, event_id) restated) and emits one row per purchase. The
  * keyed sink upserts per (user_id, purchase_id) — attribution
  * moves overwrite in place, and purchases never vanish, so no zero-row
  * retraction channel is needed — then recomputes the channel rollup with
  * the batch query's exact-cents arithmetic and publishes it by checked
  * swap (channels CAN vanish when a purchase moves out of 'none').
  *
  * Scale notes: state is O(events per user) in the exact mode — the same
  * information the batch window sort consumes. Production passes
  * `touchCap`: state then keeps only each user's LATEST cap touches by
  * (ts, event_id). Last-k under a total order is associative, so shuffled
  * arrival still converges; the documented approximation is a purchase
  * arriving with ts OLDER than every kept touch, which attributes within
  * the capped horizon (or 'none') instead of the evicted touch —
  * AttributionStreamSpec pins both the non-binding-cap exactness and the
  * binding-cap eviction behavior. */
object AttributionStream {

  /** Default per-user touch bound: caps are ON by default — state keeps
    * each user's latest DefaultTouchCap touches by (ts, event_id). Users at or under the cap are exact; the documented
    * approximation beyond it is a purchase older than every kept touch.
    * Unbounded touch state is the explicit [[Unbounded]] opt-out. (The
    * purchase list is NOT capped: a late touch can re-attribute any old
    * purchase, so purchases are the operator's authoritative output set.) */
  val DefaultTouchCap: Option[Int] = Some(1000)
  /** Explicit opt-out: unbounded per-user touch state (exact twin). */
  val Unbounded: Option[Int] = None

  final case class Ev(user_id: Long, ts_us: Long, event_id: Long,
      event_type: String, cents: Long)
  final case class AttState(
      touches: List[(Long, Long, String)],   // (ts_us, event_id, channel)
      purchases: List[(Long, Long, Long)])   // (ts_us, event_id, cents)
  final case class AttRow(user_id: Long, purchase_id: Long, channel: String, cents: Long)

  /** Winning channel for one purchase: latest eligible touch (ts ≤ purchase
    * ts — a same-ts touch sorts before the purchase in the batch order),
    * ties to higher event_id; no eligible touch → 'none'. */
  private def channelOf(pTs: Long, touches: List[(Long, Long, String)]): String =
    touches.filter(_._1 <= pTs) match {
      case Nil => "none"
      case ts => ts.maxBy(t => (t._1, t._2))._3
    }

  /** The stateful operator: re-emits the user's attributed purchases every
    * batch the user appears in. With `touchCap` set, kept touches are
    * hard-bounded to the latest cap by (ts, event_id).
    *
    * With `idleTtl` set ([[Ttl]]): the user's touch AND purchase state is
    * evicted once the watermark passes ttl beyond their last event.
    * Eviction emits nothing — every purchase's attributed row is already
    * in the upsert store, and eviction FREEZES those attributions: a
    * touch arriving after eviction can no longer re-attribute the evicted
    * purchases (it would have been beyond the watermark anyway). A
    * reappearing user starts a fresh journey whose purchases attribute
    * only within the new segment (spec-pinned in StreamTtlSpec). */
  def attributedPurchases(spark: SparkSession, events: org.apache.spark.sql.Dataset[Ev],
      touchCap: Option[Int] = DefaultTouchCap,
      idleTtl: Option[Ttl] = None): org.apache.spark.sql.Dataset[AttRow] = {
    import spark.implicits._
    Ttl.keyed(events, Ttl.eventTime(idleTtl)((e: Ev) => e.ts_us))(_.user_id) {
      (uid: Long, prev: Option[AttState], batch: Iterator[Ev]) =>
        val p = prev.getOrElse(AttState(Nil, Nil))
        var touches = p.touches
        var purchases = p.purchases
        batch.foreach { e =>
          e.event_type match {
            case "purchase" => purchases = (e.ts_us, e.event_id, e.cents) :: purchases
            case "click" | "view" => touches = (e.ts_us, e.event_id, e.event_type) :: touches
            case _ =>
          }
        }
        // last-k by (ts, event_id) is associative: capping the KEPT state
        // converges under any arrival order while bounding it at O(cap)
        val kept = touchCap.fold(touches)(c =>
          touches.sortBy(t => (-t._1, -t._2)).take(c))
        (AttState(kept, purchases), purchases.iterator.map { case (ts, id, cents) =>
          AttRow(uid, id, channelOf(ts, kept), cents)
        })
    }
  }

  /** Start the monitor: attributed purchases upserted into `stateDir`_rows,
    * the published channel rollup (batch-exact arithmetic) swapped into
    * `stateDir` after every micro-batch. */
  def attributionMonitor(spark: SparkSession, srcDir: String, stateDir: String,
      checkpointDir: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      touchCap: Option[Int] = DefaultTouchCap): StreamingQuery = {
    import spark.implicits._
    val evs = Tables.normalizeTs(UpsertSink.fileStream(spark, srcDir, schema))
      .select(col("user_id").cast("long").as("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("event_id").cast("long").as("event_id"), col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .as[Ev]
    // channels can vanish when a purchase re-attributes, so the rollup is
    // a view (swapped whole), not an upsert
    UpsertSink.keyedParquetUpsert(attributedPurchases(spark, evs, touchCap).toDF(),
      Seq("user_id", "purchase_id"), stateDir + "_rows", checkpointDir,
      Seq(stateDir -> (rows => rows
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n_purchases"),
          (sum(col("cents")) / 100.0).as("revenue")))))
  }
}
