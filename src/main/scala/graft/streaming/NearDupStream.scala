package graft.streaming

import graft.operators.NearDup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of `q_dedup_incremental_near`: a continuous crawl probes
  * each arriving document against the STANDING corpus through the LSH band
  * index — the production shape of near-dedup at ingest time, where the
  * corpus side is a materialized index and only the new batch flows.
  *
  * Plan shape (why this scales):
  *  - The probe side carries its own shingle set alongside its band keys
  *    (`bandedOf(carrySh = true)`), so BOTH joins in the pipeline are
  *    stream-STATIC equi-joins (band bucket, then corpus shingle lookup)
  *    — stateless, broadcast- or shuffle-hash-joinable, no stream-stream
  *    state, no watermark coupling.
  *  - Per micro-batch work is O(batch · bucket collisions): identical to
  *    the batch twin's asymmetric join, never corpus².
  *  - The only stateful operator is the candidate-pair `dropDuplicates`
  *    (a doc pair can meet in several bands). Its state is one key per
  *    DISTINCT candidate pair ever emitted — bounded by true-dup +
  *    collision volume, not corpus size; a production deployment with an
  *    ingest-time column bounds it further with
  *    `dropDuplicatesWithinWatermark` (duplicates of one crawl batch meet
  *    within the horizon), same one-line swap as DocIngest documents.
  *
  * Output (id_a = new doc, id_b = corpus doc, jaccard) is exactly the
  * batch query's schema; NearDupStreamSpec replays the batch split
  * file-by-file — with a kill + checkpoint restart in the middle — and
  * asserts set equality with `q_dedup_incremental_near`.
  */
object NearDupStream {

  /** Verified near-dup pairs of (arriving docs) × (static corpus).
    *
    * SIZE-GATED like the batch family (round-11 verdict task #6): at or
    * above `minDocs` standing-corpus docs, signatures on both the index
    * and the probe are built from DF-pruned shingles — the same
    * candidate-volume budget as `NearDup.minhashPairsAuto`
    * ([[graft.operators.NearDup.DfPruneMinDocs]]'s scaladoc has the
    * derivation). DF comes from the standing corpus (what an ingest
    * deployment has at hand; arriving batches never shift it), collected
    * once at stream SETUP into a bounded stop array (≤ ~52/frac entries
    * regardless of corpus size) and applied per probe row as a stateless
    * `array_except` — no stream-side aggregation, no new state. Verify is
    * unchanged (full shingle sets), so emitted pairs mean the same thing
    * on either side of the gate; NearDupStreamSpec asserts replay parity
    * with `NearDup.incrementalNearPairsAuto` on BOTH sides of a
    * test-sized gate. */
  def pairsStream(spark: SparkSession, srcDir: String, corpusDocs: DataFrame,
      minDocs: Long = NearDup.DfPruneMinDocs): DataFrame = {
    val corpusShingles = NearDup.shingleTableOf(corpusDocs)
    val bandSh: Option[org.apache.spark.sql.Column] = {
      val n = corpusDocs.count()
      if (n < minDocs) None
      else Some(array_except(col("sh"),
        typedlit(NearDup.commonShingleArray(corpusShingles, n).toSeq)))
    }
    val index = NearDup.bandedOf(corpusShingles, bandSh = bandSh)
      .select(col("doc_id").as("id_b"), col("band"))
    val corpusSh = corpusShingles.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))

    val probe = NearDup.bandedOf(
      NearDup.shingleTableOf(DocIngest.docsStream(spark, srcDir)),
      carrySh = true, bandSh = bandSh)
      .select(col("doc_id").as("id_a"), col("sh").as("sh_a"), col("band"))

    probe.join(index, "band")                       // stream-static: band bucket
      .select(col("id_a"), col("sh_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")               // multi-band candidate fold
      .join(corpusSh, "id_b")                       // stream-static: shingle lookup
      .select(col("id_a"), col("id_b"),
        NearDup.jaccardOf(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= NearDup.JaccardThreshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }
}
