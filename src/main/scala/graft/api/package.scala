package graft

import org.apache.spark.sql.DataFrame

/** The library façade: `import graft.api._` gives Dataset-first syntax for
  * generic operator cores, decoupled from the harness table loaders — what
  * a user switching from the reference pipeline actually calls. Every
  * other core is a public method of its operator object, called directly.
  *
  * Each method delegates to the documented implementation object (where
  * the plan-shape and scale notes live); nothing here adds semantics.
  */
package object api {

  implicit class GraftDataFrameOps(private val df: DataFrame) {

    /** First k rows per group under `order` ((column, descending) specs),
      * through the native bounded-heap operator — no sort, no window.
      * See [[graft.plans.TopK]]. */
    def topKPerGroup(group: Seq[String], order: Seq[(String, Boolean)],
        k: Int): DataFrame =
      plans.TopK.topK(df, group, order, k)

    /** Collapse a CDC changelog (columns: key, seq, op ∈ I/U/D, cents) to
      * its live snapshot — latest-wins, tombstones dropped, idempotent
      * under replay. See [[graft.operators.Cdc]]. */
    def cdcSnapshot(): DataFrame = operators.Cdc.applyLog(df)

    /** Connected components of this (src, dst) edge list — iterative
      * min-label propagation. See [[graft.operators.Graph]]. */
    def connectedComponents(maxIter: Int = 25): DataFrame =
      operators.Graph.connectedComponents(df, maxIter)

    /** PageRank over this (src, dst) edge list. */
    def pageRank(iters: Int = operators.Graph.PrIters): DataFrame =
      operators.Graph.pageRank(df, iters)

    /** BFS hop distances over this (src, dst) edge list from `seeds`
      * (first column = node id). */
    def bfsDistances(seeds: DataFrame, hops: Int): DataFrame =
      operators.Graph.bfsDistances(df, seeds, hops)

    /** Oriented triangle enumeration over this (lo, hi) edge list. */
    def triangles(): DataFrame = operators.Graph.triangles(df)

    /** Redact email/URL/IPv4 substrings of `text` into typed tokens
      * (columns: doc_id, text). See [[graft.operators.TextAnalysis.piiRedactOf]]. */
    def piiRedact(): DataFrame = operators.TextAnalysis.piiRedactOf(df)

    /** Merge-style as-of join: each left row gets the latest `right` row
      * of the same key at or before its timestamp.
      * See [[graft.operators.AsOf.asOfJoin]]. */
    def asOfJoin(right: DataFrame, key: String, ts: String,
        carry: Seq[String]): DataFrame =
      operators.AsOf.asOfJoin(df, right, key, ts, carry)

    /** Forward as-of join: earliest right row at or after each left row. */
    def asOfJoinForward(right: DataFrame, key: String, ts: String,
        carry: Seq[String]): DataFrame =
      operators.AsOf.asOfJoinForward(df, right, key, ts, carry)

    /** Exact rank-sum ROC AUC of a scored frame (columns: mu = quantized
      * score LONG, y ∈ {0.0, 1.0}). See [[graft.operators.ModelEval.aucOf]]. */
    def aucOf(): DataFrame = operators.ModelEval.aucOf(df)

    /** Step-interpolated average precision of a scored (mu, y) frame. */
    def averagePrecisionOf(): DataFrame = operators.ModelEval.apOf(df)

    /** Steps-table funnel report over an events frame (columns: user_id,
      * ts, event_type). See [[graft.operators.Events.funnelStepsOf]]. */
    def funnelSteps(steps: Seq[String]): DataFrame =
      operators.Events.funnelStepsOf(df, steps)

    /** Daily peak concurrent 30-minute-gap sessions (columns: user_id,
      * ts). See [[graft.operators.Concurrency.maxConcurrentOf]]. */
    def maxConcurrentSessions(): DataFrame =
      operators.Concurrency.maxConcurrentOf(df)

    /** MMR-diversified top picks per query over a (vec_id, embedding)
      * frame. See [[graft.operators.Retrieval.mmrOf]]. */
    def mmrPicks(queryIds: Seq[Long]): DataFrame =
      operators.Retrieval.mmrOf(df.sparkSession, df, queryIds)

    /** Every pair with word-set Jaccard ≥ 0.7, EXACT (no false negatives),
      * via lossless prefix filtering (columns: doc_id, text).
      * See [[graft.operators.SetSim.prefixJaccardPairsOf]]. */
    def setSimPairs(): DataFrame = operators.SetSim.prefixJaccardPairsOf(df)

    /** MinHash-LSH near-dup candidate pairs + exact Jaccard verify
      * (columns: doc_id, text). See [[graft.operators.NearDup.minhashPairsOf]].
      * Corpora that may exceed the 150k-doc pruning crossover should call
      * [[nearDupPairsAuto]] instead. */
    def nearDupPairs(): DataFrame = operators.NearDup.minhashPairsOf(df)

    /** [[nearDupPairs]] behind the measured size gate: DF-pruned signature
      * generation at/above the 150k-doc crossover, identical below it.
      * See [[graft.operators.NearDup.minhashPairsAutoOf]]. */
    def nearDupPairsAuto(): DataFrame = operators.NearDup.minhashPairsAutoOf(df)

    /** The LLM-ingest pipeline body — quality gate → exact content dedup →
      * retrieval chunking (columns: doc_id, text).
      * See [[graft.operators.TextAnalysis.ingestChunksOf]]. */
    def ingestChunks(): DataFrame = operators.TextAnalysis.ingestChunksOf(df)
  }
}
