package graft

import graft.pipeline.EcommercePipeline
import java.io.File
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** The reference pipeline on the committed fixture
  * (`SparkSpec.referenceFixture`) against the KPI tables DuckDB computed
  * from the same CSVs (`src/test/resources/reference_layout_kpis`, written
  * by tools/gen_reference_fixture.py). Keys and counts must match exactly;
  * money and rates within perfbench/checks.py's 0.01 tolerance, since the
  * pipeline sums float prices and rounds to two places. The order table
  * carries the reference's fan-out quirks: `return_rate` counts returned
  * item rows per distinct order (so it can exceed 100) and
  * `total_items_sold` sums `num_of_item` once per item row. */
class ReferenceFixtureKpiSpec extends SparkSuite {

  private val Tolerance = 0.01
  private lazy val pipe = new EcommercePipeline(spark, SparkSpec.referenceFixture)

  /** `<table>.csv`'s header, and its rows keyed by the first `nKeys` fields. */
  private def expected(table: String, nKeys: Int): (Seq[String], Map[Seq[String], Seq[String]]) = {
    val src = scala.io.Source.fromFile(
      getClass.getResource(s"/reference_layout_kpis/$table.csv").getPath, "UTF-8")
    val lines = try src.getLines().toList finally src.close()
    val rows = lines.tail.map { l =>
      val f = l.split(",", -1).toSeq
      f.take(nKeys) -> f.drop(nKeys)
    }
    assert(rows.map(_._1).distinct.size === rows.size, s"$table.csv repeats a key")
    (lines.head.split(",").toSeq, rows.toMap)
  }

  private def assertMatches(got: DataFrame, table: String, nKeys: Int): Unit = {
    val (header, exp) = expected(table, nKeys)
    val rows = got.select(header.map(col): _*).collect()
    val byKey: Map[Seq[String], Row] =
      rows.map(r => (0 until nKeys).map(i => String.valueOf(r.get(i))) -> r).toMap
    assert(rows.length === exp.size, table)
    assert(byKey.keySet === exp.keySet, table)
    for ((key, values) <- exp; (v, i) <- values.zipWithIndex) {
      val what = s"$table ${key.mkString("/")} ${header(nKeys + i)}"
      byKey(key).get(nKeys + i) match {
        case d: java.lang.Double => assert(math.abs(d - v.toDouble) < Tolerance, s"$what: $d vs $v")
        case other => assert(String.valueOf(other) === v, what)
      }
    }
  }

  test("the fixture passes validation") {
    assert(pipe.validate() === Right(()))
  }

  test("category KPIs match DuckDB's rows") {
    assertMatches(pipe.categoryKpis, "category_kpis", 2)
  }

  test("order KPIs match DuckDB's rows, fan-out return_rate and total_items_sold included") {
    assertMatches(pipe.orderKpis, "order_kpis", 1)
  }

  test("run() writes both KPI tables with _SUCCESS, equal to DuckDB's rows") {
    val out = java.nio.file.Files.createTempDirectory("graft_run").toString + "/out"
    assert(pipe.run(out) === 0)
    for (t <- Seq("category_kpis", "order_kpis"))
      assert(new File(s"$out/$t/_SUCCESS").exists(), t)
    assertMatches(spark.read.parquet(s"$out/category_kpis"), "category_kpis", 2)
    assertMatches(spark.read.parquet(s"$out/order_kpis"), "order_kpis", 1)
  }
}
