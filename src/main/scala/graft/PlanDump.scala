package graft

/** Dev tool: print the executed physical plan of registered queries.
  * Usage: runMain graft.PlanDump <sfDir> <name>[,<name>...] [chars] */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(",").toSeq
    val limit = args.lift(2).map(_.toInt).getOrElse(5000)
    val spark = BenchCore.session("graft-plan-dump")
    val exec = args.lift(3).contains("exec")
    names.foreach { n =>
      println(s"===== $n =====")
      val df = Registry.byName(n).run(spark, dir)
      if (exec) df.queryExecution.toRdd.count() // finalize the adaptive plan
      println(df.queryExecution.executedPlan.toString.take(limit))
    }
    spark.stop()
  }
}
