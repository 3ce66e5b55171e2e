package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Micro-bench: native bounded-heap top-k (plans/TopK.scala) vs the
  * row_number window form, on the sf0.1 lineitem.
  * Run: sbt 'Test/runMain graft.TopKBench [sfDir]'. */
object TopKBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = BenchCore.session("graft-topk-bench")
    // measure the UNREWRITTEN window form (else RewriteWindowTopK routes
    // the window variant through the same native operator)
    spark.conf.set("spark.graft.topkRewrite.enabled", "false")
    def li = spark.read.parquet(s"$dir/lineitem.parquet").select(
      col("l_returnflag").as("g"), col("l_orderkey").as("o"),
      col("l_linenumber").as("n"), col("l_extendedprice").as("p"))
    def time(f: => Long): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def native() = graft.plans.TopK
      .topK(li, Seq("g"), Seq(("p", true), ("o", false), ("n", false)), 10).count()
    def windowed() = {
      val w = Window.partitionBy(col("g")).orderBy(col("p").desc, col("o"), col("n"))
      li.withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
        .drop("rn").count()
    }
    native(); windowed() // warm
    val tn = Seq.fill(3)(time(native())).min
    val tw = Seq.fill(3)(time(windowed())).min
    println(f"TOPK_BENCH native=$tn%.3fs window=$tw%.3fs speedup=${tw / tn}%.2fx")
    spark.stop()
  }
}
