package graft

import graft.operators.Events
import graft.sources.Tables
import graft.streaming.EventStreams
import org.apache.spark.sql.functions._

/** Streaming-equals-batch equivalence (SURVEY.md §5 "streaming
  * equivalence"): replay the same input through the file-source streaming
  * path micro-batch by micro-batch and assert the final state matches the
  * one-shot batch result. */
class StreamingSpec extends SparkSuite {

  /** Run a streaming DF to completion (all available files) into a memory
    * sink in complete mode; return the final table name. */
  private def runComplete(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
    val q = df.writeStream
      .format("memory").queryName(name).outputMode("complete")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory(s"ck_$name").toString)
      .start()
    q.processAllAvailable()
    q.stop()
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.map(col): _*).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
  }

  test("streaming tumbling-window agg equals the batch result after replay") {
    // Split sf0.001 events into 3 files so maxFilesPerTrigger=1 forces
    // multiple micro-batches (the S3-arrival replay model).
    val src = java.nio.file.Files.createTempDirectory("ev_src").toString
    Tables.events(spark, SparkSpec.sf0001).repartition(3)
      .write.mode("overwrite").parquet(src)
    val eventsDir = src // parquet files directly in dir

    runComplete(EventStreams.windowed(spark, eventsDir, delay = "3650 days"), "win_stream")
    val streamed = spark.table("win_stream")
    val batch = Events.windowAgg(spark.read.parquet(eventsDir))
    assert(canon(streamed) === canon(batch))
    assert(streamed.count() > 0)
  }

  test("streaming hopping windows equal the batch hopping result") {
    val src = java.nio.file.Files.createTempDirectory("ev_hop").toString
    Tables.events(spark, SparkSpec.sf0001).limit(1000).repartition(2)
      .write.mode("overwrite").parquet(src)
    runComplete(EventStreams.hopping(spark, src, delay = "3650 days"), "hop_stream")
    val streamed = spark.table("hop_stream")
    val batch = Events.hoppingAgg(spark.read.parquet(src))
    assert(canon(streamed) === canon(batch))
    assert(streamed.count() > 0)
  }

  test("streaming session windows equal the batch session result") {
    val src = java.nio.file.Files.createTempDirectory("ev_src2").toString
    // order within files is irrelevant; session merge is by event time
    Tables.events(spark, SparkSpec.sf0001).limit(500).repartition(2)
      .write.mode("overwrite").parquet(src)

    runComplete(EventStreams.sessions(spark, src, delay = "3650 days"), "sess_stream")
    val streamed = spark.table("sess_stream")
    val batch = Events.sessionAgg(spark.read.parquet(src))
    assert(canon(streamed) === canon(batch))
  }

  test("streaming anomaly monitor equals the batch scan after replay") {
    val src = java.nio.file.Files.createTempDirectory("ev_anom").toString
    Tables.events(spark, SparkSpec.sf0001).repartition(3)
      .write.mode("overwrite").parquet(src)
    val archive = spark.read.parquet(src)
    val stats = Events.anomalyStats(archive)
    val q = EventStreams.anomalyStream(spark, src, stats).writeStream
      .format("memory").queryName("anom_stream").outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ck_anom").toString)
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("anom_stream")
    val batch = Events.anomaliesOf(archive, stats)
    assert(canon(streamed) === canon(batch))
  }

  test("streaming category KPIs over the reference CSV layout equal batch") {
    // order_items part files arrive one per micro-batch (6 batches),
    // joined against static orders/products — the reference's event-driven
    // arrival model end to end.
    runComplete(
      EventStreams.kpiCategoryStream(spark, SparkSpec.referenceFixture),
      "kpi_stream")
    val streamed = spark.table("kpi_stream")
    val batch = new graft.pipeline.EcommercePipeline(spark, SparkSpec.referenceFixture)
      .categoryKpis
    assert(canon(streamed) === canon(batch.drop())) // drop() is a no-op; same cols
    assert(streamed.count() === 142L)
  }
}
