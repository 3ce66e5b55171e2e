package graft.streaming

import graft.operators.NearDup
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming twin of `q_dedup_incremental_near`: a continuous crawl probes
  * each arriving document against the STANDING corpus through the LSH band
  * index — the production shape of near-dedup at ingest time, where the
  * corpus side is a materialized index and only the new batch flows.
  *
  * The plan is [[NearDup.probePairs]] over the document stream: both joins
  * are stream-STATIC equi-joins (band bucket, then corpus shingle lookup),
  * stateless, with no stream-stream state and no watermark coupling. The
  * only stateful operator is the candidate-pair `dropDuplicates` (a doc
  * pair can meet in several bands); its state is one key per DISTINCT
  * candidate pair ever emitted — bounded by true-dup + collision volume,
  * not corpus size. A production deployment with an ingest-time column
  * bounds it further with `dropDuplicatesWithinWatermark`, the same
  * one-line swap as DocIngest documents.
  *
  * Output (id_a = new doc, id_b = corpus doc, jaccard) is exactly the
  * batch query's schema; NearDupStreamSpec replays the batch split
  * file-by-file — with a kill + checkpoint restart in the middle — and
  * asserts set equality with `q_dedup_incremental_near`.
  */
object NearDupStream {

  /** Verified near-dup pairs of (arriving docs) × (static corpus).
    *
    * SIZE-GATED like the batch family: at or above `minDocs` standing-corpus
    * docs, signatures on both the index and the probe are built from
    * DF-pruned shingles ([[NearDup.corpusIndex]] decides it once, at stream
    * setup, from the standing corpus; arriving batches never shift it).
    * Verify is unchanged (full shingle sets), so emitted pairs mean the same
    * thing on either side of the gate; NearDupStreamSpec asserts replay
    * parity with `NearDup.incrementalNearPairsAuto` on BOTH sides of a
    * test-sized gate. */
  def pairsStream(spark: SparkSession, srcDir: String, corpusDocs: DataFrame,
      minDocs: Long = NearDup.DfPruneMinDocs): DataFrame =
    NearDup.probePairs(DocIngest.docsStream(spark, srcDir),
      NearDup.corpusIndex(corpusDocs, minDocs))
}
