package graft.streaming

import graft.operators.{Sketches, TextAnalysis}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming Count-Min frequency monitor — the sketch operator
  * (`q_sketch_cms`, operators/Sketches) run continuously over a document
  * stream: per-word cell contributions accumulate as ONE
  * streaming aggregate whose key space is the D×W sketch cells —
  * per-key state is bounded BY CONSTRUCTION (64 cells here) no matter
  * how many distinct words the stream carries, which is exactly why a
  * production ingest monitor runs a sketch instead of an exact
  * vocabulary count (the exact count's state grows with the vocabulary;
  * the sketch's never grows at all).
  *
  * Each micro-batch publishes the whole cell table as the keyed state dir
  * ([[UpsertSink.keyedParquetUpsert]]), then re-estimates a fixed PROBE
  * watchlist from full cell state with the IDENTICAL batch estimator
  * (Sketches.cmsEstimateOf) — which is what makes replay ≡ batch exact
  * (CmsMonitorSpec, incl. checkpoint restart). The published artifacts
  * are both sketch-sized: the cells table and the per-probe-word
  * estimate table, a view of the cells swapped whole each batch (the
  * probe list is fixed and cells only accumulate, so no word ever leaves
  * it).
  *
  * Why cells equal the batch sketch: the batch side sums pre-aggregated
  * per-word counts into cells; the stream side counts word occurrences
  * per cell directly — the same sum grouped differently, so the final
  * cumulative cells are identical (and the aggregate is
  * watermark-free: frequency monitoring is a cumulative window, not an
  * event-time window). */
object CmsMonitor {

  /** Default probe watchlist: harness-vocabulary words whose stream
    * frequency an ingest operator would track. */
  val DefaultProbes: Seq[String] = Seq("data", "vector", "merge", "scan")

  def cmsMonitor(spark: SparkSession, srcDir: String, stateDir: String,
      checkpointDir: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      probeWords: Seq[String] = DefaultProbes): StreamingQuery = {
    val cells = UpsertSink.fileStream(spark, srcDir, schema)
      .select(explode(split(TextAnalysis.normText(col("text")), " ")).as("word"))
      .select(explode(sequence(lit(0), lit(Sketches.CmsDepth - 1))).as("d"),
        col("word"))
      .select(col("d"), Sketches.cmsBucket(col("d"), col("word")).as("bucket"))
      .groupBy(col("d"), col("bucket")).agg(count(lit(1)).as("cnt"))

    // every batch carries the CUMULATIVE count of every cell; publish it,
    // then re-estimate the watchlist from full sketch state
    UpsertSink.keyedParquetUpsert(cells, Seq("d", "bucket"), stateDir + "_cells",
      checkpointDir, Seq(stateDir -> { store =>
        val sess = store.sparkSession
        import sess.implicits._
        Sketches.cmsEstimateOf(store, probeWords.toDF("word"))
      }))
  }
}
