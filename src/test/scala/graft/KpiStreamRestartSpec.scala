package graft

import graft.sources.Tables
import graft.streaming.{EventStreams, UpsertSink}
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._

/** Checkpoint-restart for the REFERENCE-DERIVED KPI streams — the two
  * queries that re-express the reference's event-driven trigger (category
  * KPIs, transform.py:94-121; order KPIs, transform.py:123-147): stop the
  * query after a partial replay, land more files, restart from the SAME
  * checkpoint and state dir, and assert the final upsert store equals the
  * batch answer over everything — the same bar the extension streams
  * (transition matrix, basket lift, PSI drift) already meet. */
class KpiStreamRestartSpec extends SparkSuite {

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.map(col): _*).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
  }

  /** A temp copy of the reference CSV layout whose order_items arrive in
    * two waves (a stop/restart between them): the data dir and a function
    * that lands wave 1 or 2. */
  private def twoWaveLayout(): (String, Int => Unit) = {
    val dataDir = Files.createTempDirectory("kpic_data")
    Files.createDirectory(dataDir.resolve("order_items"))
    Files.createDirectory(dataDir.resolve("orders"))
    val ref = Paths.get(SparkSpec.referenceFixture)
    Files.list(ref.resolve("orders")).forEach(f =>
      Files.copy(f, dataDir.resolve("orders").resolve(f.getFileName)))
    Files.copy(ref.resolve("products.csv"), dataDir.resolve("products.csv"))
    val itemFiles = {
      val s = Files.list(ref.resolve("order_items"))
      try {
        val l = new scala.collection.mutable.ArrayBuffer[java.nio.file.Path]
        s.forEach(p => l += p)
        l.sortBy(_.getFileName.toString).toVector
      } finally s.close()
    }
    val (wave1, wave2) = itemFiles.splitAt(itemFiles.size / 2)
    def land(wave: Int): Unit = (if (wave == 1) wave1 else wave2).foreach(f =>
      Files.copy(f, dataDir.resolve("order_items").resolve(f.getFileName),
        StandardCopyOption.REPLACE_EXISTING))
    (dataDir.toString, land)
  }

  private def categoryKpis: org.apache.spark.sql.DataFrame =
    new graft.pipeline.EcommercePipeline(spark, SparkSpec.referenceFixture).categoryKpis

  test("category-KPI stream restarts from checkpoint and converges to batch") {
    val (dataDir, land) = twoWaveLayout()
    val stateDir = Files.createTempDirectory("kpic_state").toString + "/kpi"
    val ck = Files.createTempDirectory("kpic_ck").toString
    land(1)
    val q1 = UpsertSink.keyedParquetUpsert(
      EventStreams.kpiCategoryStream(spark, dataDir),
      Seq("category", "order_date"), stateDir, ck)
    q1.processAllAvailable()
    q1.stop()

    land(2)
    val q2 = UpsertSink.keyedParquetUpsert(
      EventStreams.kpiCategoryStream(spark, dataDir),
      Seq("category", "order_date"), stateDir, ck)
    q2.processAllAvailable()
    q2.stop()

    val got = spark.read.parquet(stateDir)
    assert(got.count() === 142L)
    assert(canon(got) === canon(categoryKpis))
  }

  test("category-KPI stream restarts from an update-mode merge checkpoint into the whole-table publish") {
    // wave 1 runs as the sink once ran every aggregation: update mode,
    // each batch's touched groups merged into the store; wave 2 restarts
    // from that checkpoint through keyedParquetUpsert, which publishes the
    // aggregate's complete output from the same state store
    val (dataDir, land) = twoWaveLayout()
    val keys = Seq("category", "order_date")
    val stateDir = Files.createTempDirectory("kpic_mode_state").toString + "/kpi"
    val ck = Files.createTempDirectory("kpic_mode_ck").toString
    land(1)
    val q1 = EventStreams.kpiCategoryStream(spark, dataDir).writeStream
      .outputMode("update")
      .option("checkpointLocation", ck)
      .foreachBatch((batch: org.apache.spark.sql.DataFrame, _: Long) =>
        UpsertSink.upsertBatch(batch, keys, stateDir))
      .start()
    q1.processAllAvailable()
    q1.stop()

    land(2)
    val q2 = UpsertSink.keyedParquetUpsert(
      EventStreams.kpiCategoryStream(spark, dataDir), keys, stateDir, ck)
    q2.processAllAvailable()
    q2.stop()
    assert(q2.recentProgress.head.batchId > q1.lastProgress.batchId) // resumed, not replayed

    val got = spark.read.parquet(stateDir)
    assert(got.count() === 142L)
    assert(canon(got) === canon(categoryKpis))
  }

  test("order-KPI stream restarts from checkpoint and converges to batch") {
    val dir = SparkSpec.sf0001
    val li = Tables.lineitem(spark, dir).cache()
    val src = Files.createTempDirectory("kpio_src").toString
    li.filter(col("l_orderkey") % 2 === 0)
      .repartition(2).write.mode("overwrite").parquet(src)
    val orders = Tables.orders(spark, dir)

    val stateDir = Files.createTempDirectory("kpio_state").toString + "/kpi"
    val ck = Files.createTempDirectory("kpio_ck").toString
    val q1 = UpsertSink.keyedParquetUpsert(
      EventStreams.kpiOrderApproxStream(spark, src, orders),
      Seq("order_date"), stateDir, ck)
    q1.processAllAvailable()
    q1.stop()

    li.filter(col("l_orderkey") % 2 === 1)
      .repartition(2).write.mode("append").parquet(src)
    li.unpersist()
    val q2 = UpsertSink.keyedParquetUpsert(
      EventStreams.kpiOrderApproxStream(spark, src, orders),
      Seq("order_date"), stateDir, ck)
    q2.processAllAvailable()
    q2.stop()

    val got = spark.read.parquet(stateDir)
    // HLL registers merge associatively and survive the state-store
    // round-trip, so the restarted replay converges to the batch sketch
    // estimates exactly
    val want = graft.operators.Kpis.kpiOrderApprox(spark, dir)
    assert(got.count() === want.count())
    assert(canon(got) === canon(want))
    assert(got.count() > 0)
  }
}
