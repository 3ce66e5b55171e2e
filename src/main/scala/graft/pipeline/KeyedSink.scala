package graft.pipeline

import org.apache.spark.sql.DataFrame

/** The keyed batch sink replacing the reference's DynamoDB writer
  * (transform.py:149-202), minus its anti-pattern: the reference
  * `collect()`s the whole result to the driver and loops a Python
  * batch-writer (25 items/request). Here the write stays distributed.
  *
  * Scale notes (100 TB): `write` streams executor-side straight to
  * partitioned parquet — the keyed-lookup layout (key → directory) that a
  * KV import can consume. The streaming form is
  * [[graft.streaming.UpsertSink]].
  */
object KeyedSink {

  /** Write a KPI table keyed by `keys` (partitioned parquet layout);
    * unpartitioned overwrite when no keys. */
  def write(df: DataFrame, path: String, keys: Seq[String]): Unit = {
    val w = df.write.mode("overwrite")
    (if (keys.nonEmpty) w.partitionBy(keys: _*) else w).parquet(path)
  }
}
