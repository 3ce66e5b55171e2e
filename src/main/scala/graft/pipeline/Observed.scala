package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Inline job metrics via the Observation API — data-quality counters
  * collected DURING the job's one pass (a `CollectMetrics` node over the
  * streamed rows), not as separate count() jobs afterwards.
  *
  * This is the scale-correct form of the reference's validation metrics:
  * validate.py runs a Spark action per rule (~12 scans); the pipeline's
  * per-table audit aggregate (EcommercePipeline.validate) cut that to one
  * job per table; `observe` removes even that — the metrics ride the job
  * that was going to run anyway, for free at any data size.
  */
object Observed {

  /** Attach (n_rows, null count per checked column, value sum) to `df`;
    * read `obs.get` AFTER an action has materialized the frame. */
  def withQualityMetrics(df: DataFrame, name: String, nullChecked: Seq[String],
      sumCol: String): (DataFrame, Observation) = {
    val obs = Observation(name)
    val metrics = count(lit(1)).as("n_rows") +:
      nullChecked.map(c => count(when(col(c).isNull, 1)).as(s"nulls_$c")) :+
      sum(col(sumCol).cast("double")).as(s"sum_$sumCol")
    (df.observe(obs, metrics.head, metrics.tail: _*), obs)
  }
}
