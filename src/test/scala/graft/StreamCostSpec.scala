package graft

import graft.pipeline.EcommercePipeline
import graft.schema.Schemas
import graft.streaming.{EventStreams, UpsertSink}
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftListenerDrain}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** What a category-KPI micro-batch costs through the keyed upsert sink,
  * pinned in deterministic counters rather than timings: the stateful
  * stage runs once per trigger, the store is read without a schema-
  * inference job, and the static CSVs are parsed in the first data batch
  * only. Also pins the two behaviours the cost work rests on: the static
  * side's file listing is fixed when the query is defined, and the merge
  * is exactly "store rows whose key is absent from the batch, plus every
  * batch row". */
class StreamCostSpec extends SparkSuite {
  import spark.implicits._

  private val keys = Seq("category", "order_date")

  /** Work of every micro-batch, attributed through the streaming query id
    * and batch id Spark puts in each job's properties: jobs that run a
    * parallelized collection (the parquet footer-reading job of a schema
    * inference), and tasks whose CSV scan of `orders/` or `products.csv`
    * produced rows. A scan is recognised by the accumulator of its output
    * row metric, taken from the plan of every SQL execution. */
  private final class BatchCosts(dataDir: String) extends SparkListener {
    private val stageBatch = TrieMap.empty[Int, (String, Long)]
    private val staticScanRows = TrieMap.empty[Long, String]
    val inferenceJobs = new ConcurrentLinkedQueue[(String, Long)]
    val staticScans = new ConcurrentLinkedQueue[(String, Long, String)]

    override def onJobStart(e: SparkListenerJobStart): Unit =
      for (p <- Option(e.properties); q <- Option(p.getProperty("sql.streaming.queryId"));
           b <- Option(p.getProperty("streaming.sql.batchId"))) {
        e.stageIds.foreach(stageBatch.put(_, (q, b.toLong)))
        if (e.stageInfos.exists(_.rddInfos.exists(_.name == "ParallelCollectionRDD")))
          inferenceJobs.add((q, b.toLong))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for ((q, b) <- stageBatch.get(e.stageId); a <- e.taskInfo.accumulables;
           table <- staticScanRows.get(a.id) if a.update.exists(_.toString.toLong > 0))
        staticScans.add((q, b, table))

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => register(s.sparkPlanInfo)
      case _ =>
    }

    private def register(node: SparkPlanInfo): Unit = {
      val location = node.metadata.getOrElse("Location", "")
      val table = Seq("orders", "products.csv").find(t => location.contains(s"$dataDir/$t]"))
      for (t <- table if node.nodeName.startsWith("Scan csv");
           m <- node.metrics if m.name == "number of output rows")
        staticScanRows.put(m.accumulatorId, t)
      node.children.foreach(register)
    }
  }

  /** A fresh copy of the reference layout (fresh paths, so no cache of an
    * earlier suite holds its static tables), order_items part files
    * stamped one second apart so the file source admits them in name
    * order: batch i reads the i-th part file. */
  private def layoutCopy(prefix: String): (String, Seq[Path]) = {
    val ref = Paths.get(SparkSpec.referenceFixture)
    val dir = Files.createTempDirectory(prefix).toRealPath()
    Seq("orders", "order_items").foreach(d => Files.createDirectory(dir.resolve(d)))
    Files.copy(ref.resolve("products.csv"), dir.resolve("products.csv"))
    def parts(d: String): Seq[Path] = {
      val s = Files.list(ref.resolve(d))
      try s.iterator().asScala.toSeq.sortBy(_.getFileName.toString) finally s.close()
    }
    parts("orders").foreach(f => Files.copy(f, dir.resolve("orders").resolve(f.getFileName)))
    val t0 = System.currentTimeMillis() - 60000L
    val items = parts("order_items").zipWithIndex.map { case (f, i) =>
      val to = dir.resolve("order_items").resolve(f.getFileName)
      Files.copy(f, to)
      Files.setLastModifiedTime(to, FileTime.fromMillis(t0 + i * 1000L))
      to
    }
    (dir.toString, items)
  }

  private def csv(schema: org.apache.spark.sql.types.StructType, path: String): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  private def dropStatic(dir: String): Unit = {
    val p = new EcommercePipeline(spark, dir)
    p.orders.unpersist()
    p.products.unpersist()
  }

  test("kpi stream batch: one state-store run, no store schema inference, static CSVs parsed once") {
    val (dir, items) = layoutCopy("cost_kpi")
    val stateDir = Files.createTempDirectory("cost_state").toString + "/kpi"
    val ck = Files.createTempDirectory("cost_ck").toString
    val costs = new BatchCosts(dir)
    spark.sparkContext.addSparkListener(costs)
    val q = try {
      val q = UpsertSink.keyedParquetUpsert(
        EventStreams.kpiCategoryStream(spark, dir), keys, stateDir, ck)
      try q.processAllAvailable() finally q.stop()
      GraftListenerDrain.drain(spark.sparkContext)
      q
    } finally spark.sparkContext.removeSparkListener(costs)
    val queryId = q.id.toString

    val batches = q.recentProgress.filter(_.numInputRows > 0).toSeq
    assert(batches.map(_.batchId) === items.indices.map(_.toLong))
    val orders = csv(Schemas.orders, s"$dir/orders")
    val products = csv(Schemas.products, s"$dir/products.csv")
    val partitions = spark.conf.get("spark.sql.shuffle.partitions").toLong
    batches.foreach { p =>
      val emitted = EcommercePipeline.categoryKpiAgg(
        csv(Schemas.orderItems, items(p.batchId.toInt).toString), orders, products).count()
      val state = p.stateOperators.head
      assert(state.numStateStoreInstances === partitions,
        s"batch ${p.batchId}: state-store instances")
      assert(state.numRowsUpdated === emitted, s"batch ${p.batchId}: updated state rows")
    }
    assert(costs.inferenceJobs.asScala.filter(_._1 == queryId).map(_._2).toSet === Set.empty[Long],
      "batches that ran a parquet schema-inference job")
    assert(costs.staticScans.asScala.filter(_._1 == queryId).map(s => (s._2, s._3)).toSet ===
      Set((0L, "orders"), (0L, "products.csv")), "(batch, static CSV) scans")
    assert(spark.read.parquet(stateDir).count() === 142L)
    dropStatic(dir)
  }

  test("an orders file landed after the query starts is not joined: the static listing is fixed") {
    val (dir, items) = layoutCopy("static_listing")
    // the stream starts with one order_items file; the rest are not needed
    items.tail.foreach(Files.delete)
    val stateDir = Files.createTempDirectory("listing_state").toString + "/kpi"
    val ck = Files.createTempDirectory("listing_ck").toString
    val q = UpsertSink.keyedParquetUpsert(
      EventStreams.kpiCategoryStream(spark, dir), keys, stateDir, ck)
    try {
      q.processAllAvailable()
      // a new order, then an item that references it, on a date no
      // fixture row has: joined, it would add a (category, 2030-01-01) row
      Files.writeString(Paths.get(s"$dir/orders/part999.csv"),
        "order_id,user_id,status,created_at,returned_at,shipped_at,delivered_at,num_of_item\n" +
          "9001,1,delivered,2030-01-01T09:00:00,,,,1\n")
      Files.writeString(Paths.get(s"$dir/order_items/part999.csv"),
        "id,order_id,user_id,product_id,status,created_at,shipped_at,delivered_at,returned_at,sale_price\n" +
          "90001,9001,1,1,delivered,2030-01-01T10:00:00,,,,10.0\n")
      q.processAllAvailable()
    } finally q.stop()

    assert(q.lastProgress.numInputRows === 1L) // the item was read...
    assert(csv(Schemas.orders, s"$dir/orders").where(col("order_id") === 9001).count() === 1L)
    val store = spark.read.parquet(stateDir)
    assert(store.where(col("order_date") === "2030-01-01").count() === 0L) // ...and dropped
    assert(store.count() === EcommercePipeline.categoryKpiAgg(
      csv(Schemas.orderItems, items.head.toString),
      csv(Schemas.orders, s"$dir/orders"), csv(Schemas.products, s"$dir/products.csv")).count())
    dropStatic(dir)
  }

  test("upsert merge equals anti-join + union: one-sided keys, a null key component, a repeated batch key") {
    val stateDir = Files.createTempDirectory("merge_sem").toString + "/s"
    val store = Seq[(Integer, String, Double)]((1, "a", 10.0), (2, "b", 20.0), (3, null, 30.0),
      (4, "d", 40.0)).toDF("k1", "k2", "v")
    val batch = Seq[(Integer, String, Double)]((2, "b", 99.0), (3, null, 31.0), (5, "e", 50.0),
      (5, "e", 51.0), (1, "a", 11.0), (1, "a", 12.0), (null, "x", 60.0)).toDF("k1", "k2", "v")
    val k = Seq("k1", "k2")
    UpsertSink.upsertBatch(store, k, stateDir)
    UpsertSink.upsertBatch(batch, k, stateDir)

    def rows(df: DataFrame): Seq[String] =
      df.select("k1", "k2", "v").collect().map(_.mkString("|")).sorted.toSeq
    val formula = store.join(batch.select(k.map(col): _*), k, "left_anti").unionByName(batch)
    val got = rows(spark.read.parquet(stateDir))
    assert(got === rows(formula))
    // key 4 is store-only, key 5 batch-only and repeated, (3, null) is on
    // both sides but a null component never matches, so both rows stay
    assert(got === Seq("1|a|11.0", "1|a|12.0", "2|b|99.0", "3|null|30.0", "3|null|31.0",
      "4|d|40.0", "5|e|50.0", "5|e|51.0", "null|x|60.0"))
  }
}
