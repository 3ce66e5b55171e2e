package graft

/** Plan-inspection main: prints the formatted physical plan of each (or one
  * named) registered query so scan pruning / pushdown / join strategy /
  * codegen spans can be reviewed. Usage: runMain graft.Explain [sfDir] [name]. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.drop(1).headOption
    val spark = BenchCore.session("graft-explain")
    Registry.all
      .filter(q => only.forall(_ == q.name))
      .foreach { q =>
        println(s"\n========== ${q.name} ==========")
        try println(q.run(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
      }
    spark.stop()
  }
}
