package graft

import graft.operators.Events
import graft.sources.Tables
import graft.streaming.{EventStreams, Stateful, UpsertSink}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** foreachBatch keyed-upsert sink and mapGroupsWithState stateful operator:
  * after a full replay, sink/state contents must equal the batch answer. */
class StreamingSinkSpec extends SparkSuite {

  test("keyed upsert sink converges to the batch aggregation after replay") {
    val src = java.nio.file.Files.createTempDirectory("ups_src").toString
    Tables.events(spark, SparkSpec.sf0001).repartition(3)
      .write.mode("overwrite").parquet(src)

    val stateDir = java.nio.file.Files.createTempDirectory("ups_state").toString + "/kpi"
    val ck = java.nio.file.Files.createTempDirectory("ups_ck").toString
    val stream = EventStreams.windowed(spark, src, delay = "3650 days")
    val q = UpsertSink.keyedParquetUpsert(
      stream, Seq("window_start", "event_type"), stateDir, ck)
    q.processAllAvailable()
    q.stop()

    val got = spark.read.parquet(stateDir)
    val want = Events.windowAgg(spark.read.parquet(src))
    val cols = want.columns.sorted.map(col)
    assert(got.count() === want.count())
    assert(got.select(cols: _*).exceptAll(want.select(cols: _*)).isEmpty)
  }

  test("streaming order-KPI through the upsert sink equals batch kpiOrderApprox") {
    val src = java.nio.file.Files.createTempDirectory("okpi_src").toString
    Tables.lineitem(spark, SparkSpec.sf0001).repartition(3)
      .write.mode("overwrite").parquet(src)
    val orders = Tables.orders(spark, SparkSpec.sf0001)

    val stateDir = java.nio.file.Files.createTempDirectory("okpi_state").toString + "/kpi"
    val ck = java.nio.file.Files.createTempDirectory("okpi_ck").toString
    val q = UpsertSink.keyedParquetUpsert(
      EventStreams.kpiOrderApproxStream(spark, src, orders),
      Seq("order_date"), stateDir, ck)
    q.processAllAvailable()
    q.stop()

    val got = spark.read.parquet(stateDir)
    // HLL registers are order-insensitive and merge associatively, so the
    // replayed stream converges to the batch sketch estimates exactly.
    val want = graft.operators.Kpis.kpiOrderApprox(spark, SparkSpec.sf0001)
    val cols = want.columns.sorted.map(col)
    assert(got.count() === want.count())
    assert(got.select(cols: _*).exceptAll(want.select(cols: _*)).isEmpty)
    assert(got.count() > 0)
  }

  test("keyed upsert views equal batch across a restart and a crashed view swap") {
    def assertSame(got: DataFrame, want: DataFrame): Unit = {
      val cols = want.columns.sorted.map(col)
      assert(got.count() === want.count())
      assert(got.select(cols: _*).exceptAll(want.select(cols: _*)).isEmpty)
    }
    def byTypeOf(kpi: DataFrame): DataFrame =
      kpi.groupBy(col("event_type")).agg(sum(col("n_events")).as("n_events"))
    def latestOf(kpi: DataFrame): DataFrame =
      kpi.groupBy(col("event_type")).agg(max(col("window_start")).as("last_window"))
    val events = Tables.events(spark, SparkSpec.sf0001)
    val src = java.nio.file.Files.createTempDirectory("views_src").toString + "/ev"
    val root = java.nio.file.Files.createTempDirectory("views_state").toString
    val (stateDir, byType, latest) = (s"$root/kpi", s"$root/by_type", s"$root/latest")
    val ck = java.nio.file.Files.createTempDirectory("views_ck").toString
    def run(): Unit = {
      val q = UpsertSink.keyedParquetUpsert(
        EventStreams.windowed(spark, src, delay = "3650 days"),
        Seq("window_start", "event_type"), stateDir, ck,
        Seq(byType -> byTypeOf, latest -> latestOf))
      q.processAllAvailable()
      q.stop()
    }

    events.filter(col("event_id") % 2 === 0).repartition(2).write.parquet(src)
    run()
    // a crash between a by_type publish's two renames: the live copy sits
    // in .old, and a stale tmp holds rows that must never be published
    assert(new java.io.File(byType).renameTo(new java.io.File(byType + ".old")))
    spark.range(3).select(lit("junk").as("event_type"), col("id").as("n_events"))
      .write.parquet(byType + ".tmp")
    events.filter(col("event_id") % 2 === 1).repartition(2)
      .write.mode("append").parquet(src)
    run()

    val want = Events.windowAgg(spark.read.parquet(src))
    assertSame(spark.read.parquet(stateDir), want)
    assertSame(spark.read.parquet(byType), byTypeOf(want))
    assertSame(spark.read.parquet(latest), latestOf(want))
    assert(!new java.io.File(byType + ".old").exists())
    assert(!new java.io.File(byType + ".tmp").exists())
  }

  test("upsert replaces rows for re-emitted keys, keeps others") {
    import spark.implicits._
    val stateDir = java.nio.file.Files.createTempDirectory("ups2").toString + "/s"
    UpsertSink.upsertBatch(
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "g", "v"), Seq("k"), stateDir)
    UpsertSink.upsertBatch(
      Seq((2L, "b", 99.0), (3L, "c", 30.0)).toDF("k", "g", "v"), Seq("k"), stateDir)
    val rows = spark.read.parquet(stateDir).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[Double]("v")).toMap
    assert(rows === Map(1L -> 10.0, 2L -> 99.0, 3L -> 30.0))
  }

  test("an aggregation stream re-emitting a null-keyed group keeps one row for it") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Option[String], Long)]
    val totals = input.toDF().toDF("k", "v").groupBy(col("k")).agg(sum(col("v")).as("total"))
    val stateDir = java.nio.file.Files.createTempDirectory("ups_null").toString + "/s"
    val ck = java.nio.file.Files.createTempDirectory("ups_null_ck").toString
    val q = UpsertSink.keyedParquetUpsert(totals, Seq("k"), stateDir, ck)
    try {
      input.addData((None, 1L), (Some("a"), 10L))
      q.processAllAvailable()
      input.addData((None, 2L))
      q.processAllAvailable()
    } finally q.stop()
    // the group's state holds one row, and the store is that state: the
    // null key's first total is replaced, not kept beside the new one
    val rows = spark.read.parquet(stateDir).collect()
      .map(r => Option(r.getAs[String]("k")) -> r.getAs[Long]("total")).toSet
    assert(rows === Set(None -> 3L, Some("a") -> 10L))
  }

  test("mid-swap crash recovery: .old-only state is restored, not deleted") {
    import spark.implicits._
    val stateDir = java.nio.file.Files.createTempDirectory("ups3").toString + "/s"
    UpsertSink.upsertBatch(
      Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), Seq("k"), stateDir)
    // simulate a crash between swapInto's two renames: dest displaced to
    // .old, tmp never published — .old now holds the ONLY copy of state
    assert(new java.io.File(stateDir).renameTo(new java.io.File(stateDir + ".old")))
    // the replayed update-mode batch touches only key 2; key 1 must
    // survive via recovery (the old behavior deleted .old and lost it)
    UpsertSink.upsertBatch(Seq((2L, 99.0)).toDF("k", "v"), Seq("k"), stateDir)
    val rows = spark.read.parquet(stateDir).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[Double]("v")).toMap
    assert(rows === Map(1L -> 10.0, 2L -> 99.0))
    assert(!new java.io.File(stateDir + ".old").exists())

    // and a completed-swap leftover (.old NEXT TO a live dest) is litter:
    // the next publish clears it and keeps dest authoritative
    val oldDir = new java.io.File(stateDir + ".old")
    assert(oldDir.mkdirs())
    java.nio.file.Files.writeString(oldDir.toPath.resolve("junk"), "x")
    UpsertSink.upsertBatch(Seq((3L, 30.0)).toDF("k", "v"), Seq("k"), stateDir)
    val rows2 = spark.read.parquet(stateDir).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[Double]("v")).toMap
    assert(rows2 === Map(1L -> 10.0, 2L -> 99.0, 3L -> 30.0))
    assert(!oldDir.exists())
  }

  test("explicit-schema fileStream starts on an empty source dir") {
    val src = java.nio.file.Files.createTempDirectory("empty_src").toString
    val schema = Tables.events(spark, SparkSpec.sf0001).schema
    // without a schema the monitor cannot start ahead of the first file
    intercept[Exception](
      UpsertSink.fileStream(spark, src))
    // with the explicit schema it starts, then picks up the late file
    val df = UpsertSink.fileStream(spark, src, Some(schema))
    val q = df.writeStream.format("memory").queryName("empty_start")
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ck_es").toString)
      .start()
    q.processAllAvailable()
    assert(spark.table("empty_start").count() === 0)
    Tables.events(spark, SparkSpec.sf0001).limit(100)
      .write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    assert(spark.table("empty_start").count() === 100)
  }

  test("stream-stream interval join equals the batch interval join") {
    val src = java.nio.file.Files.createTempDirectory("ssj_src").toString
    Tables.events(spark, SparkSpec.sf0001).limit(2000).repartition(2)
      .write.mode("overwrite").parquet(src)

    val q = EventStreams.clickViewIntervalJoin(spark, src, delay = "3650 days")
      .writeStream.format("memory").queryName("ssj").outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ck_ssj").toString)
      .start()
    q.processAllAvailable()
    q.stop()

    val ev = spark.read.parquet(src)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
    val batch = clicks.join(views,
      col("c_user") === col("v_user") &&
        col("view_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR") &&
        col("view_ts") <= col("click_ts"))
    val got = spark.table("ssj")
    assert(got.count() === batch.count())
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
    assert(got.count() > 0)
  }

  test("streaming dedup equals batch dropDuplicates after replay") {
    val src = java.nio.file.Files.createTempDirectory("dd_src").toString
    val base = Tables.events(spark, SparkSpec.sf0001).limit(500)
    // duplicate the whole slice so every row has at least one twin
    base.unionAll(base).repartition(3).write.mode("overwrite").parquet(src)

    val q = EventStreams.dedupStream(spark, src, delay = "3650 days")
      .writeStream.format("memory").queryName("dedup_stream").outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ck_dd").toString)
      .start()
    q.processAllAvailable()
    q.stop()

    val got = spark.table("dedup_stream")
      .select("user_id", "event_type", "value")
    val want = spark.read.parquet(src)
      .dropDuplicates("user_id", "event_type", "value")
      .select("user_id", "event_type", "value")
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("mapGroupsWithState running stats equal batch groupBy after replay") {
    val src = java.nio.file.Files.createTempDirectory("st_src").toString
    Tables.events(spark, SparkSpec.sf0001).limit(1000).repartition(4)
      .write.mode("overwrite").parquet(src)

    Stateful.runToMemory(spark, src, "user_stats")
    // update mode emits one row per (user, batch); the LAST update per user
    // is the converged state = the max n_events row.
    val finalRows = spark.table("user_stats")
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"))
    val want = spark.read.parquet(src)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
    assert(finalRows.exceptAll(want).isEmpty)
    assert(want.exceptAll(finalRows).isEmpty)
  }
}
