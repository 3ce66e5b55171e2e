package graft.streaming

import graft.functions.Rounding.roundN
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Streaming market-basket lift — the stateful twin of the batch
  * `q_basket_affinity` (operators/Analytics.basketAffinity), the third
  * of the round-3 analytics to get a streaming consumer (PSI drift and
  * the transition matrix being the others).
  *
  * Unlike the transition matrix, basket pair state is MONOTONE: a
  * late-arriving item only ADDS pairs to its order, it can never
  * dissolve an existing pair — so there is no retraction channel. The
  * stateful operator keeps each order's distinct item set and emits the
  * order's full current (item, pair) rows whenever the order is touched;
  * the per-(okey, part_a, part_b) replace-upsert is idempotent, so
  * re-emission under shuffled arrival converges to the batch fixpoint.
  *
  * The published lift table is recomputed per batch from the two stores
  * with the batch query's exact arithmetic (integer counts, one rounded
  * double division) — pair-store-sized input, never stream-sized.
  *
  * Scale notes: state per order is its distinct item set (the same rows
  * the batch per-order self-join consumes); the emitted pair volume per
  * order is O(|basket|²). Production passes `basketCap`: state keeps only
  * the cap items ranked by the SAME deterministic md5 order the batch
  * `q_basket_affinity_capped` uses, hard-bounding state and pair fan-out
  * per order at C(cap, 2). Top-k under a total order is associative, so
  * shuffled arrival converges to the batch capped lift exactly; a late
  * item that displaces a kept one retracts the displaced pairs via
  * explicit n=0 rows (presence rows for the n_item/n_orders denominators
  * stay UNCAPPED and monotone, matching the batch query's uncapped
  * totals). BasketStreamSpec replays both modes.
  */
object BasketStream {

  /** Default per-order state bound (round-5 verdict ask #4): caps are ON
    * by default — state keeps the DefaultBasketCap best items per order by
    * the deterministic md5 rank (the batch `q_basket_affinity_capped`
    * semantics), bounding pair fan-out at C(cap, 2) per order. Baskets at
    * or under the cap match the uncapped lift exactly; unbounded state is
    * the explicit [[Unbounded]] opt-out. */
  val DefaultBasketCap: Option[Int] = Some(100)
  /** Explicit opt-out: unbounded per-order state (exact uncapped twin). */
  val Unbounded: Option[Int] = None

  final case class Item(okey: Long, part: Long)
  /** part_b = PairSentinel marks an item-presence row (n_item/n_orders
    * denominators); real pairs carry part_a < part_b. `n` is the liveness
    * flag: 1 = live, 0 = retracted (a capped basket displaced the pair) —
    * the replace-upsert makes the last emission authoritative per key. */
  val PairSentinel: Long = -1L
  final case class BasketRow(okey: Long, part_a: Long, part_b: Long, n: Long)

  /** Spark `md5(cast(part as string))` exactly — the deterministic,
    * reshard-stable rank the batch cap sorts by (Analytics.scala). */
  private[streaming] def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Per-order state: emit the order's current presence + pair rows on
    * every touch. Replace-upsert downstream makes re-emission idempotent.
    * With `basketCap` set, kept state is the cap best items by md5 rank;
    * displaced pairs are retracted with n=0 rows. */
  /** With `idleTtlProcMs` set: the order's item set is evicted after that
    * many milliseconds of PROCESSING time with no new items — the item
    * changelog carries no event time (an `Item` is (okey, part)), so the
    * idle clock here is wall-clock between triggers, not a watermark
    * (unlike the [[Ttl]] event-time twins). An order is a naturally
    * completing key — once placed, no new items arrive — so an idle TTL
    * spanning the order-assembly window evicts only finished baskets,
    * whose pair rows already sit in the store. A late item after
    * eviction re-opens the order as a FRESH basket: its presence row is
    * idempotent, but pairs between the late item and evicted items are
    * not emitted (spec-pinned in StreamTtlSpec). */
  def orderPairs(spark: SparkSession, items: org.apache.spark.sql.Dataset[Item],
      basketCap: Option[Int] = DefaultBasketCap,
      idleTtlProcMs: Option[Long] = None): org.apache.spark.sql.Dataset[BasketRow] = {
    import spark.implicits._
    val conf = if (idleTtlProcMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
               else GroupStateTimeout.NoTimeout
    items
      .groupByKey(_.okey)
      .flatMapGroupsWithState[Set[Long], BasketRow](OutputMode.Update, conf) {
        (okey: Long, batch: Iterator[Item], state: GroupState[Set[Long]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
          val old = state.getOption.getOrElse(Set.empty[Long])
          val merged = batch.foldLeft(old)((acc, it) => acc + it.part)
          val kept = basketCap.fold(merged)(c =>
            merged.toIndexedSeq.sortBy(p => (md5Hex(p.toString), p)).take(c).toSet)
          state.update(kept)
          idleTtlProcMs.foreach(state.setTimeoutDuration)
          def pairsOf(s: Set[Long]): IndexedSeq[(Long, Long)] = {
            val sorted = s.toIndexedSeq.sorted
            for { i <- sorted.indices; j <- (i + 1) until sorted.size }
              yield (sorted(i), sorted(j))
          }
          val cur = pairsOf(kept)
          // only a cap displacement can dissolve a pair; old is the KEPT
          // set of the previous touch, so its pairs are what the store has
          val vanished = pairsOf(old).toSet -- cur
          // presence stays uncapped: every item seen this touch (items
          // displaced in EARLIER touches already have their store row)
          merged.toIndexedSeq.sorted.iterator
            .map(p => BasketRow(okey, p, PairSentinel, 1L)) ++
            cur.iterator.map { case (a, b) => BasketRow(okey, a, b, 1L) } ++
            vanished.toIndexedSeq.sorted.iterator
              .map { case (a, b) => BasketRow(okey, a, b, 0L) }
          }
      }
  }

  /** Start the monitor: presence/pair rows replace-upserted into
    * `stateDir`_pairs, the published lift table (batch-exact arithmetic,
    * MinSupport filter) atomically swapped into `stateDir` per batch. */
  def liftMonitor(spark: SparkSession, srcDir: String, stateDir: String,
      checkpointDir: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      basketCap: Option[Int] = DefaultBasketCap): StreamingQuery = {
    import spark.implicits._
    val items = UpsertSink.fileStream(spark, srcDir, schema)
      .select(col("l_orderkey").cast("long").as("okey"),
        col("l_partkey").cast("long").as("part"))
      .as[Item]
    UpsertSink.keyedParquetUpsert(orderPairs(spark, items, basketCap).toDF(),
      Seq("okey", "part_a", "part_b"), stateDir + "_pairs", checkpointDir,
      Seq(stateDir -> { store =>
        val presence = store.filter(col("part_b") === PairSentinel)
        val nOrders = presence.select(col("okey")).distinct()
          .agg(count(lit(1)).as("n_orders"))
        val itemCounts = presence.groupBy(col("part_a").as("part"))
          .agg(count(lit(1)).as("n_item"))
        // n = 0 rows are retracted pairs (cap displacement) — dead keys
        val pairs = store.filter(col("part_b") =!= PairSentinel && col("n") > 0)
          .groupBy(col("part_a"), col("part_b"))
          .agg(count(lit(1)).as("n_pair"))
          .filter(col("n_pair") >= graft.operators.Analytics.MinSupport)
        pairs
          .join(itemCounts.select(col("part").as("part_a"), col("n_item").as("n_a")), "part_a")
          .join(itemCounts.select(col("part").as("part_b"), col("n_item").as("n_b")), "part_b")
          .crossJoin(broadcast(nOrders))
          .select(col("part_a"), col("part_b"), col("n_pair"),
            roundN(col("n_pair").cast("double") * col("n_orders") /
              (col("n_a") * col("n_b")), 6).as("lift"))
      }))
  }
}
