package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Every operator of a physical plan: each node of the plan (through AQE
  * stages) plus the build plan of each cached relation ONCE, however many
  * scans read it. `AdaptiveSparkPlanHelper.collect` alone stops at an
  * `InMemoryTableScan`, so what a persisted build does is invisible to it.
  * A `ReusedExchange` is a leaf: the exchange it re-reads is not walked
  * again. */
object PlanWalk extends AdaptiveSparkPlanHelper {

  def operators(root: SparkPlan): Seq[SparkPlan] = {
    val built = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val ops = collect(p) { case op => op }
      ops ++ ops.collect {
        case s: InMemoryTableScanExec if built.add(s.relation.cacheBuilder) =>
          s.relation.cachedPlan
      }.flatMap(walk)
    }
    walk(root)
  }
}
