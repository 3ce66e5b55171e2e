package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table loaders for the harness testdata (/root/repo/TESTDATA.md): one
  * parquet file per table under the per-scale-factor directory.
  *
  * Role binding to the reference's e-commerce star schema
  * (reference validate.py:22-55, transform.py:28-61 — see SURVEY.md §7.2):
  *   order_items -> lineitem  (fact; sale_price -> l_extendedprice,
  *                             status -> l_returnflag, created_at -> l_shipdate,
  *                             product_id -> l_partkey, order_id -> l_orderkey)
  *   orders      -> orders    (header; status -> o_orderstatus,
  *                             created_at -> o_orderdate, user_id -> o_custkey)
  *   products    -> part      (dimension; category -> p_brand)
  *
  * Scans are plain `spark.read.parquet` so Catalyst owns predicate pushdown
  * and column pruning — every downstream select/filter reaches the scan.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  /** The events table with `ts` normalized by [[normalizeTs]]: every batch
    * consumer reads events through here. */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeTs(load(spark, sfDir, "events"))

  /** The ONE `ts` normalization point, for batch and streaming alike (the
    * stream monitors apply it to their file sources): events parquet's `ts`
    * physical type varies by generator era, and after this every consumer
    * sees a session-tz TIMESTAMP (micros, UTC sessions):
    *  - TIMESTAMP(NANOS): Spark can't represent nanos and by default refuses
    *    to read; the sessions set `spark.sql.legacy.parquet.nanosAsLong=true`
    *    so the column arrives as LongType nanos, floor-divided to exact
    *    microseconds here (the DuckDB oracle's `ts::TIMESTAMP` truncates the
    *    same way, keeping both engines bit-identical).
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 infers
    *    TIMESTAMP_NTZ, which time-arithmetic like `unix_micros` rejects;
    *    cast to the session-tz type — a value-identity under the UTC
    *    sessions, and DuckDB reads the same naive micros directly.
    * A consumer that needs integer micros takes `unix_micros(col("ts"))`
    * of the result. */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}
