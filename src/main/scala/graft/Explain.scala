package graft

/** The plan printer: the formatted physical plan of each registered query
  * (or of the named ones), for reviewing scan pruning, pushdown, join
  * strategy and codegen spans. With `exec` each query runs first, so the
  * printed plan is the final adaptive one (AQE's re-planned joins,
  * coalesced shuffles and reused exchanges).
  *
  *   runMain graft.Explain <sfDir> [q1,q2,…] [exec] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val exec = args.drop(1).contains("exec")
    val only = args.drop(1).filterNot(_ == "exec").headOption.map(_.split(",").toSeq)
    val unknown = only.getOrElse(Nil).filterNot(Registry.byName.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = BenchCore.session("graft-explain")
    only.map(_.map(Registry.byName)).getOrElse(Registry.all).foreach { q =>
      println(s"\n========== ${q.name} ==========")
      try {
        val df = q.run(spark, sfDir)
        if (exec) df.queryExecution.toRdd.count()
        println(df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
      } catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
