package graft

import org.apache.spark.sql.functions._

/** Native vec_dot expression: value correctness, codegen/interpreted
  * agreement, null propagation, SQL registration via GraftExtensions, and
  * that registration happening exactly once per session. */
class VectorExpressionSpec extends SparkSuite {
  import spark.implicits._

  test("vec_dot computes the sequential dot product") {
    val out = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)))
      .toDF("a", "b")
      .select(call_function("vec_dot", col("a"), col("b")).as("d"))
      .head().getDouble(0)
    assert(out === 32.0)
  }

  test("vec_dot matches the interpreted HOF formulation bit-for-bit") {
    val df = Seq.tabulate(50) { i =>
      val r = new scala.util.Random(i)
      (Array.fill(64)(r.nextDouble() - 0.5), Array.fill(64)(r.nextDouble() - 0.5))
    }.toDF("a", "b")
    val rows = df.select(
      call_function("vec_dot", col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (acc, v) => acc + v).as("hof"))
      .collect()
    rows.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
  }

  test("vec_dot is callable from SQL (extension-registered)") {
    val out = spark.sql("SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head().getDouble(0)
    assert(out === 11.0)
  }

  test("null input propagates to null; mismatched lengths truncate") {
    val out = spark.sql(
      "SELECT vec_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d)) AS a," +
        " vec_dot(array(2.0d, 9.0d), array(3.0d)) AS b").head()
    assert(out.isNullAt(0))
    assert(out.getDouble(1) === 6.0)
  }

  test("type check rejects non-double arrays") {
    val e = intercept[Exception] {
      spark.sql("SELECT vec_dot(array('x'), array('y'))").collect()
    }
    assert(e.getMessage.toLowerCase.contains("array<double>") ||
      e.getMessage.toLowerCase.contains("data type mismatch"))
  }

  test("vec_argmin_sqdist packs (min distance, winning index); ties pick lower index") {
    val cents = Seq(Seq(0L, 0L), Seq(10L, 0L), Seq(3L, 4L))
    val rows = Seq(
      Array(1L, 0L),   // d = (1,81,8)   -> centroid 0, dist 1
      Array(9L, 1L),   // d = (82,2,37)  -> centroid 1, dist 2
      Array(3L, 4L),   // d = (25,65,0)  -> centroid 2, dist 0
      Array(5L, 0L))   // d = (25,25,20) -> centroid 2 wins at 20
      .toDF("t")
      .select(call_function("vec_argmin_sqdist", col("t"), typedLit(cents)).as("p"))
      .collect().map(_.getLong(0))
    assert(rows(0) === 1L * 64 + 0)
    assert(rows(1) === 2L * 64 + 1)
    assert(rows(2) === 0L * 64 + 2)
    assert(rows(3) === 20L * 64 + 2)
    // tie case: equidistant from centroids 0 and 1 -> index 0 wins
    val tie = Seq(Array(5L, 0L)).toDF("t")
      .select(call_function("vec_argmin_sqdist", col("t"),
        typedLit(Seq(Seq(0L, 0L), Seq(10L, 0L)))).as("p"))
      .head().getLong(0)
    assert(tie === 25L * 64 + 0)
  }

  test("vec_argmin_sqdist matches the HOF formulation on random vectors") {
    val r = new scala.util.Random(7)
    val cents = Seq.fill(8)(Seq.fill(16)(r.nextLong() % 1000000L))
    val df = Seq.fill(100)(Array.fill(16)(r.nextLong() % 1000000L)).toDF("t")
    val hof = cents.zipWithIndex.map { case (c, j) =>
      aggregate(zip_with(col("t"), typedLit(c), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x) * 64 + j
    }
    val rows = df.select(
      call_function("vec_argmin_sqdist", col("t"), typedLit(cents)).as("native"),
      least(hof: _*).as("hof")).collect()
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("vec_argmin_sqdist rejects a non-foldable centroid table") {
    val df = Seq((Array(1L), Seq(Seq(1L)))).toDF("t", "c")
    val e = intercept[Exception] {
      df.select(call_function("vec_argmin_sqdist", col("t"), col("c"))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("foldable") ||
      e.getMessage.toLowerCase.contains("data type mismatch"))
  }

  test("GraftExtensions is registered once: functions resolve, each rule and strategy once") {
    val scalars = spark.sql(
      "SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)), vec_norm2(array(3.0d, 4.0d))," +
        " lev_within('kitten', 'sitting', 3)," +
        " vec_argmin_sqdist(array(3L, 4L), array(array(0L, 0L), array(3L, 4L)))").head()
    assert(scalars.getDouble(0) === 11.0)
    assert(scalars.getDouble(1) === 25.0)
    assert(scalars.getLong(3) === 0L * 64 + 1)
    val agg = spark.sql("SELECT max_by_longs(o, v) AS m FROM VALUES (1L, 10L), (2L, 20L) AS t(o, v)")
      .selectExpr("m.v1").head().getLong(0)
    assert(agg === 20L)

    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    val strategies = state.planner.extraPlanningStrategies
    assert(strategies.count(_ eq graft.plans.TopKStrategy) === 1)
    val rules = state.optimizer.extendedOperatorOptimizationRules
    assert(rules.count(_ eq graft.functions.RewriteSelfDot) === 1)
    assert(rules.count(_ eq graft.plans.RewriteWindowTopK) === 1)
  }
}
