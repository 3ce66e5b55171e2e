package graft.streaming

import graft.functions.Rounding.roundN
import graft.sources.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming user-journey transition matrix — the stateful twin of the
  * batch `q_events_markov` (operators/Events.transitionMatrix), exact
  * under ARBITRARY arrival order, the same contract as the streaming
  * funnel: a late-arriving event lands BETWEEN two already-seen events,
  * which must REMOVE the old adjacent transition and add two new ones.
  *
  * Mechanics: state per user is the event sequence seen so far (the same
  * information the batch per-user window sort consumes); each batch
  * re-derives the user's full transition multiset and emits it ALONG WITH
  * explicit zero rows for pairs the user previously had that vanished
  * (the retraction channel). The keyed sink upserts per
  * (user, from, to) — zeros overwrite stale counts — then recomputes the
  * global matrix (groups² rows, tiny) with the batch query's exact
  * arithmetic and publishes it atomically.
  *
  * Scale notes: state is O(events per user) in the exact mode — the
  * honest floor for exact out-of-order transition counting (the batch
  * twin sorts the same rows). Production passes `journeyCap`: state then
  * keeps only each user's FIRST cap events by (ts, event_id) — the
  * `q_events_markov_capped` journey prefix, hard-bounding state per user.
  * First-k under a total order is associative (first-k of a union =
  * first-k of first-k ∪ batch), so shuffled/late arrival converges to the
  * batch capped matrix exactly; a late early event that displaces a kept
  * event retracts the displaced transitions through the existing zero-row
  * channel (TransitionStreamSpec replays both modes). The global
  * recompute never touches event volume: it reads the (user, from, to)
  * count store, groups²-bounded per user.
  */
object TransitionStream {

  /** Default per-user state bound: the zero-config stream must not grow
    * per-key state without limit, so the journey cap is ON by default —
    * state keeps each user's first DefaultJourneyCap events by
    * (ts, event_id), the exact batch `q_events_markov_capped` semantics at
    * this cap. Journeys at or under
    * the cap are bit-identical to the uncapped matrix; opting INTO
    * unbounded state is the explicit [[Unbounded]] argument, never the
    * default. */
  val DefaultJourneyCap: Option[Int] = Some(1000)
  /** Explicit opt-out: unbounded per-user state (the exact uncapped twin —
    * the honest floor for exact out-of-order transition counting). */
  val Unbounded: Option[Int] = None

  final case class Ev(user_id: Long, ts_us: Long, event_id: Long, event_type: String)
  final case class UserSeq(events: List[(Long, Long, String)], known: List[(String, String)])
  final case class UserTrans(user_id: Long, from_type: String, to_type: String, n: Long)

  /** Per-user transition counts from the sorted sequence. */
  private def derive(evs: List[(Long, Long, String)]): Map[(String, String), Long] = {
    val sorted = evs.sortBy(e => (e._1, e._2)).map(_._3)
    sorted.zip(sorted.drop(1)).groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }
  }

  /** The stateful operator: emits the user's refreshed transition rows
    * (plus explicit zeros for vanished pairs) every batch it appears in.
    * With `journeyCap` set, per-user state is hard-bounded to the first
    * cap events by (ts, event_id) — the batch JourneyCap semantics.
    *
    * With `idleTtl` set (the production key-count bound, [[Ttl]]): the
    * user's journey state is EVICTED once the watermark passes ttl beyond
    * their last event. Eviction emits nothing — the count store already
    * holds the journey's final rows — and a user who reappears
    * re-initializes as a FRESH journey: their new segment's pairs
    * overwrite the store rows they re-emit, while pairs only the evicted
    * segment produced persist at their final counts (the published matrix
    * then counts TTL-separated journey segments, not one lifetime
    * journey — the documented trade, spec-pinned in StreamTtlSpec). */
  def userTransitions(spark: SparkSession, events: org.apache.spark.sql.Dataset[Ev],
      journeyCap: Option[Int] = DefaultJourneyCap,
      idleTtl: Option[Ttl] = None): org.apache.spark.sql.Dataset[UserTrans] = {
    import spark.implicits._
    Ttl.keyed(events, Ttl.eventTime(idleTtl)((e: Ev) => e.ts_us))(_.user_id) {
      (uid: Long, prev: Option[UserSeq], batch: Iterator[Ev]) =>
        val p = prev.getOrElse(UserSeq(Nil, Nil))
        val evs = batch.foldLeft(p.events)((acc, e) => (e.ts_us, e.event_id, e.event_type) :: acc)
        // first-k by (ts, event_id) is associative, so capping the KEPT
        // state (not just the emission) stays batch-exact while bounding
        // state at O(cap) per user
        val kept = journeyCap.fold(evs)(c =>
          evs.sortBy(e => (e._1, e._2)).take(c))
        val counts = derive(kept)
        val vanished = p.known.filterNot(counts.contains)
        (UserSeq(kept, counts.keys.toList),
          counts.iterator.map { case ((f, t), n) => UserTrans(uid, f, t, n) } ++
            vanished.iterator.map { case (f, t) => UserTrans(uid, f, t, 0L) })
    }
  }

  /** Start the monitor: per-user counts upserted into `stateDir`_counts,
    * the published global matrix (batch-exact arithmetic) rewritten into
    * `stateDir` after every micro-batch. */
  def matrixMonitor(spark: SparkSession, srcDir: String, stateDir: String,
      checkpointDir: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      journeyCap: Option[Int] = DefaultJourneyCap): StreamingQuery = {
    import spark.implicits._
    val evs = Tables.normalizeTs(UpsertSink.fileStream(spark, srcDir, schema))
      .select(col("user_id").cast("long").as("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("event_id").cast("long").as("event_id"), col("event_type"))
      .as[Ev]
    // the global matrix is groups²-sized and rows can vanish on
    // retraction — a view (swapped whole), not an upsert
    UpsertSink.keyedParquetUpsert(userTransitions(spark, evs, journeyCap).toDF(),
      Seq("user_id", "from_type", "to_type"), stateDir + "_counts", checkpointDir,
      Seq(stateDir -> { counts =>
        val pairs = counts
          .filter(col("n") > 0)
          .groupBy(col("from_type"), col("to_type"))
          .agg(sum(col("n")).as("n"))
        val totals = pairs.groupBy(col("from_type")).agg(sum(col("n")).as("n_from"))
        pairs.join(totals, "from_type")
          .select(col("from_type"), col("to_type"), col("n"),
            roundN(col("n").cast("double") / col("n_from"), 6).as("p"))
      }))
  }
}
