package graft.streaming

import graft.operators.Inference
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Live A/B experiment monitor — the streaming twin of the batch
  * `q_events_abtest`: after every micro-batch the published single-row
  * result (arm counts, rates, lift, z) equals the batch query over all
  * events seen so far. The product team watches the z statistic converge
  * instead of waiting for the nightly job.
  *
  * State design: the per-user conversion flag is a MONOTONE OR — a user
  * converts the first time any qualifying purchase arrives and never
  * unconverts — so arrival order is irrelevant by construction (no
  * retraction channel needed, unlike the transition/debounce twins) and
  * per-user state is ONE boolean: bounded without a cap knob. Emission is
  * change-only (first sighting or 0→1 flip), so sink traffic is
  * O(new users + new conversions) per batch, not O(active users).
  *
  * The published statistic reuses the batch arithmetic verbatim
  * (Inference.abtestFromFlags) over the per-user upsert store, so
  * streaming ≡ batch is an identity on the flag table, spec-pinned by
  * replay + checkpoint restart.
  *
  * Deliberately NO idle-TTL knob (unlike the journey twins, [[Ttl]]):
  * the monotone flag is the one stateful twin whose correctness DEPENDS
  * on remembering every key forever. Evicting an idle converted user and
  * later seeing any non-qualifying event of theirs would re-emit
  * `conv = 0`, and the change-only upsert would OVERWRITE their 1 in the
  * flag store — un-converting a converted user and silently biasing the
  * published z statistic. The state is already minimal (one boolean per
  * user, no cap knob needed); bounding the KEY count here means bounding
  * the experiment's enrollment window upstream (filter the stream to the
  * experiment's date range), not evicting state the statistic still
  * reads. */
object AbtestMonitor {

  final case class Ev(user_id: Long, conv: Int)
  final case class Flag(user_id: Long, conv: Int)

  /** Change-only emission of the monotone per-user flag. */
  def userFlags(spark: SparkSession, events: org.apache.spark.sql.Dataset[Ev])
      : org.apache.spark.sql.Dataset[Flag] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Int, Flag](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Ev], state: GroupState[Int]) =>
          val seen = state.getOption
          val batchConv = batch.exists(_.conv == 1)
          val now = if (batchConv) 1 else seen.getOrElse(0)
          state.update(now)
          if (seen.contains(now)) Iterator.empty
          else Iterator.single(Flag(uid, now))
      }
  }

  /** Start the monitor: per-user flags upserted into `stateDir`_flags,
    * the single-row batch-exact statistic swap-published into `stateDir`
    * after every micro-batch. */
  def monitor(spark: SparkSession, srcDir: String, stateDir: String,
      checkpointDir: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): StreamingQuery = {
    import spark.implicits._
    val evs = UpsertSink.fileStream(spark, srcDir, schema)
      .select(col("user_id").cast("long").as("user_id"),
        when(col("event_type") === "purchase" &&
          col("value") >= Inference.ConvThreshold, 1).otherwise(0).as("conv"))
      .as[Ev]
    UpsertSink.keyedParquetUpsert(userFlags(spark, evs).toDF(), Seq("user_id"),
      stateDir + "_flags", checkpointDir,
      Seq(stateDir -> Inference.abtestFromFlags))
  }
}
