package graft.streaming

import graft.operators.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Streaming document ingest — the LLM-data pipeline run continuously:
  * new document files land in a watched directory (the S3-arrival model,
  * exactly like [[EventStreams]]), and each micro-batch flows through the
  * SAME pipeline body the batch query registers (`q_ingest_chunks`):
  * quality gate → exact content dedup → retrieval chunking.
  *
  * Dedup state: `dropDuplicates("fp")` keeps one 16-byte digest per
  * distinct content forever — documents carry no event time, so there is
  * no watermark to bound it. That is the honest semantics of corpus-wide
  * exact dedup (a duplicate is a duplicate regardless of arrival gap); at
  * 100 TB the state is digests only (~16 B × distinct docs, RocksDB state
  * store). If business rules allow a horizon, add an ingest-time column +
  * `dropDuplicatesWithinWatermark` — one line, bounded state.
  *
  * Output is keyed by content fingerprint, not doc_id: WHICH duplicate
  * survives is arrival-order-dependent, but its chunks are byte-identical
  * (pure function of normalized content), so streaming replay ≡ batch ≡
  * DuckDB oracle — asserted by DocIngestSpec. */
object DocIngest {

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-source stream over a directory of documents parquet files. */
  def docsStream(spark: SparkSession, srcDir: String): DataFrame =
    UpsertSink.fileStream(spark, srcDir, Some(documentsSchema))

  /** The continuous ingest query (append mode): shared pipeline body,
    * unbounded stream in, chunk rows out. */
  def ingest(spark: SparkSession, srcDir: String): DataFrame =
    TextAnalysis.ingestChunksOf(docsStream(spark, srcDir))

  /** Bounded-state ingest: dedup state holds only fingerprints seen within
    * `horizon` of the watermark (`dropDuplicatesWithinWatermark`), the
    * production form when "duplicate" is scoped to a crawl window. Arrival
    * is stamped with processing time — documents carry no event time, so
    * the horizon is a wall-clock contract, exactly like a crawl batch's.
    * A duplicate arriving past the horizon is re-admitted (spec-pinned);
    * [[ingest]] keeps the corpus-forever semantics. */
  def ingestBounded(spark: SparkSession, srcDir: String, horizon: String): DataFrame =
    TextAnalysis.ingestChunksBoundedOf(
      docsStream(spark, srcDir)
        .withColumn("ingest_time", org.apache.spark.sql.functions.current_timestamp()),
      horizon)
}
