package graft

import graft.pipeline.EcommercePipeline
import graft.streaming.EventStreams
import java.nio.file.{Files, Paths}

/** The category KPI's two execution modes agree on in-repo fixtures:
  * `EventStreams.kpiCategoryStream` over order_items part files arriving
  * one per micro-batch ends, in complete mode, with exactly the rows of the
  * batch `EcommercePipeline.categoryKpis` over the same layout. */
class KpiCategoryStreamSpec extends SparkSuite {
  import ValidationSpec._

  test("category-KPI stream over several order_items part files equals batch categoryKpis") {
    // both categories on both dates, returned and delivered items in one group
    val items = cleanItems.split("\n").toSeq.tail ++ Seq(
      "3,10,100,2,returned,2025-03-08T11:00:00,,,,2.25",
      "4,11,101,1,delivered,2025-03-09T12:00:00,,,,4.0",
      "5,10,100,1,returned,2025-03-08T13:00:00,,,,1.5")
    val dir = writeCsvLayout(cleanProducts, cleanOrders, s"$itemsHeader\n${items.head}")
    items.zipWithIndex.tail.foreach { case (row, i) =>
      Files.writeString(Paths.get(s"$dir/order_items/part${i + 1}.csv"), s"$itemsHeader\n$row")
    }

    val q = EventStreams.kpiCategoryStream(spark, dir).writeStream
      .format("memory").queryName("kpi_category_replay").outputMode("complete")
      .option("checkpointLocation", Files.createTempDirectory("ck_kpi_category").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) === items.size)

    val want = new EcommercePipeline(spark, dir).categoryKpis.collect().toSeq
    val got = spark.table("kpi_category_replay").orderBy("category", "order_date").collect().toSeq
    assert(want.size === 4)
    assert(got === want)
  }
}
