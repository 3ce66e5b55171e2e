package graft.streaming

import graft.operators.Cdc
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming CDC apply — the incremental twin of the batch
  * [[graft.operators.Cdc.applyLog]]: change events arrive in micro-batches
  * (any order, any batching), per-key state keeps the packed champion
  * (`seq·2^60 | opcode·2^56 | cents`, exactly the batch aggregate's value),
  * and every update upserts the key's decoded snapshot row into the keyed
  * store.
  *
  * Convergence argument (what CdcStreamSpec replays): `max` is
  * commutative/associative/idempotent, so the per-key state after ANY
  * arrival order equals the batch `max(packed)` — then decode-and-filter
  * is the same pure function both paths share. Tombstoned keys stay in the
  * store flagged `live = false` rather than being deleted: an upsert sink
  * can only write rows, and a downstream consumer needs the delete fact
  * anyway (the classic CDC-sink contract).
  *
  * Scale notes: state is one long per key, shuffled once on the key;
  * per-batch work is O(batch) state-store lookups plus the sink merge.
  * A production deployment swaps the parquet merge for a transactional
  * MERGE, same as UpsertSink.
  */
object CdcStream {

  final case class Change(key: Long, seq: Int, op: String, cents: Long)
  final case class KeyState(key: Long, op: String, price: Double, live: Boolean)

  val changeSchema: StructType = StructType(Seq(
    StructField("key", LongType, nullable = false),
    StructField("seq", IntegerType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("cents", LongType, nullable = false)))

  /** Decode a packed champion into the snapshot row. */
  def decode(key: Long, packed: Long): KeyState = {
    val opcode = (packed / Cdc.Pow56) % 16
    val cents = packed % Cdc.Pow56
    KeyState(key, if (opcode == 0L) "I" else if (opcode == 1L) "U" else "D",
      cents.toDouble / 100.0, live = opcode != 2L)
  }

  /** File-source changelog stream → running per-key champion updates.
    *
    * With `idleTtlProcMs` set: a key's packed champion (one long) is
    * evicted after that many ms of PROCESSING time with no new changes —
    * the changelog carries no event time (`seq` is a logical order), so
    * the idle clock is wall-clock between triggers. The eviction trade is
    * SHARPER here than for the journey twins and therefore strictly
    * opt-in: the champion is the latest-wins tiebreaker, so a change with
    * a SMALLER seq than the evicted champion that arrives after eviction
    * would wrongly win the reopened key. Safe when the upstream CDC
    * feed's out-of-order horizon is bounded well inside the TTL (the
    * usual log-shipping contract); the snapshot store itself keeps every
    * key's last decoded row either way (StreamTtlSpec pins both the
    * eviction and the documented regress case). */
  def latestWins(spark: SparkSession, srcDir: String,
      idleTtlProcMs: Option[Long] = None): Dataset[KeyState] = {
    import spark.implicits._
    val changes = spark.readStream.schema(changeSchema).parquet(srcDir).as[Change]
    Ttl.keyed(changes, Ttl.processingTime(idleTtlProcMs))(_.key) {
      (key: Long, prev: Option[Long], batch: Iterator[Change]) =>
        val best = batch.foldLeft(prev.getOrElse(Long.MinValue))((b, c) =>
          math.max(b, Cdc.pack(c.seq, c.op, c.cents)))
        (best, Iterator.single(decode(key, best)))
    }
  }

  /** End-to-end: stream the changelog into a keyed parquet snapshot. */
  def run(spark: SparkSession, srcDir: String, stateDir: String,
      checkpointDir: String): StreamingQuery =
    UpsertSink.keyedParquetUpsert(
      latestWins(spark, srcDir).toDF(), Seq("key"), stateDir, checkpointDir)
}
