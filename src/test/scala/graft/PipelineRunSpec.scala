package graft

import graft.pipeline.EcommercePipeline
import java.io.File
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import scala.jdk.CollectionConverters._

/** `run()` end to end on in-repo fixtures: the exit-code gate, both keyed
  * KPI tables, and the contract its concurrent jobs keep with the caller
  * (job group inherited, nothing left running after it returns). */
class PipelineRunSpec extends SparkSuite {
  import ValidationSpec._

  private def outDir(): String =
    java.nio.file.Files.createTempDirectory("graft_run").toString + "/out"

  /** The table written at `path` holds exactly `expected`'s rows. */
  private def assertWritten(path: String, expected: DataFrame): Unit = {
    def rows(df: DataFrame): Seq[Row] =
      df.select(expected.columns.toSeq.map(col): _*).collect().toSeq.sortBy(_.toString)
    assert(rows(spark.read.parquet(path)) === rows(expected), path)
  }

  test("failing gate: run() returns 1 and writes nothing") {
    val dupOrders = s"$ordersHeader\n10,100,delivered,2025-03-08T10:00:00,,,,1\n10,101,returned,2025-03-09T10:00:00,,,,2"
    val p = new EcommercePipeline(spark, writeCsvLayout(cleanProducts, dupOrders, cleanItems))
    val out = outDir()
    assert(p.run(out) === 1)
    assert(!new File(out).exists())
  }

  test("passing gate: run() returns 0 and writes both KPI tables, category partitioned") {
    val p = new EcommercePipeline(spark, writeCsvLayout(cleanProducts, cleanOrders, cleanItems))
    val out = outDir()
    assert(p.run(out) === 0)
    for (t <- Seq("category_kpis", "order_kpis"))
      assert(new File(s"$out/$t/_SUCCESS").exists(), t)
    assertWritten(s"$out/category_kpis", p.categoryKpis)
    assertWritten(s"$out/order_kpis", p.orderKpis)
    val partitions = new File(s"$out/category_kpis").listFiles().filter(_.isDirectory).map(_.getName)
    assert(partitions.toSet === Set("category=Beauty", "category=Toys"))
  }

  test("every job run() starts carries the caller's job group and ends before it returns") {
    val sc = spark.sparkContext
    val group = "pipeline-run-contract"
    val started = new ConcurrentHashMap[Int, String]() // job id -> job group ("" for none)
    val ended = ConcurrentHashMap.newKeySet[Int]()
    @volatile var endedAtMarker: Option[Set[Int]] = None
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        if (g.contains("marker")) endedAtMarker = Some(ended.asScala.toSet)
        else started.put(e.jobId, g.getOrElse(""))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    val p = new EcommercePipeline(spark, writeCsvLayout(cleanProducts, cleanOrders, cleanItems))
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "run() contract", interruptOnCancel = true)
      assert(p.run(outDir()) === 0)
      // The listener bus delivers events in the order they were posted, so
      // when this job's start arrives every job that started before it has
      // been seen, and a job of run()'s that is not yet seen to end outlived it.
      sc.setJobGroup("marker", "listener barrier")
      sc.parallelize(Seq(1), 1).count()
    } finally {
      sc.clearJobGroup()
    }
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (endedAtMarker.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    sc.removeSparkListener(listener)
    assert(endedAtMarker.nonEmpty, "listener never saw the marker job")
    val jobs = started.asScala.toMap
    assert(jobs.nonEmpty)
    assert(jobs.filter(_._2 != group) === Map.empty)
    assert(jobs.keySet -- endedAtMarker.get === Set.empty)
  }
}
