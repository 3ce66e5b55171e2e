package graft.pipeline

import graft.schema.Schemas
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference pipeline's end-to-end surface, re-expressed Spark-first: a
  * user of the reference can point this class at the same CSV layout
  * (`products.csv`, `orders/`, `order_items/`) and get the same validation
  * gate and the same two KPI tables.
  *
  * Reference mapping:
  *  - CSV loads with explicit schemas — validate.py:78-84, transform.py:79-81
  *    (S1 single-file scan, S2 folder-of-parts scan), inputs cached for reuse
  *    across validation rules + both KPI queries (S5, transform.py:84-86).
  *    Each cache holds only the schema's required (non-nullable) columns:
  *    no rule and no KPI reads `brand` or the nullable timestamps, so the
  *    CSV reader never parses them.
  *  - `validate()` — validate.py:100-175, the reference's fail-fast rule
  *    order (emptiness → required fields → referential integrity →
  *    duplicates, SURVEY.md §2.9.6) and error messages, from fewer jobs
  *    (validate.py ran ~20 scans, one per rule and field): one audit
  *    aggregate per table (row count, null count of every required field,
  *    repeated-key count) and one pass over `order_items` for both foreign
  *    keys. The rules are then read off those counts in the reference's
  *    order; the distinct-key count of an FK message is computed only when
  *    that rule fails.
  *  - Independent jobs run at the same time ([[Concurrent.all]]): the three
  *    table audits (products is one file, so its scan alone would leave the
  *    other cores idle), and the two KPI writes once the gate has passed.
  *  - `categoryKpis`/`orderKpis` — transform.py:94-121/123-147 verbatim,
  *    including the §2.9 quirks: item-level avg_return_rate, fan-out-row
  *    return_rate numerator and fan-out-summed total_items_sold over the
  *    joined relation, `round(_, 2)` outermost (Spark HALF_UP, matching the
  *    notebook's golden outputs cell 13/17).
  *
  * Scale notes (100 TB): products is a dimension → broadcast; the
  * fact-to-header join shuffles on order_id (SMJ at real scale, AQE may
  * broadcast at test scale); aggregations are declarative so Catalyst plans
  * partial+final HashAggregate with the countDistinct Expand rewrite.
  */
object EcommercePipeline {
  final case class ValidationError(table: String, rule: String, detail: String)

  /** A table's counts: rows, nulls per required field (schema order), and
    * key values that repeat an earlier one (0 for a table without a key). */
  private final case class Audit(rows: Long, nulls: Seq[(String, Long)], repeatedKeys: Long)

  /** Shared category-KPI body (no orderBy — a streaming aggregation cannot
    * sort; the batch wrapper adds it): the batch [[EcommercePipeline.categoryKpis]]
    * and the streaming `EventStreams.kpiCategoryStream` are one definition
    * in two execution modes. */
  private[graft] def categoryKpiAgg(orderItems: DataFrame, orders: DataFrame,
      products: DataFrame): DataFrame =
    orderItems.alias("oi")
      .join(orders.alias("o"), col("oi.order_id") === col("o.order_id"), "inner")
      .join(broadcast(products.alias("p")), col("oi.product_id") === col("p.id"), "inner")
      .withColumn("order_date", to_date(col("oi.created_at")))
      .groupBy(col("p.category"), col("order_date"))
      .agg(
        round(sum(col("oi.sale_price")), 2).as("daily_revenue"),
        round(avg(col("oi.sale_price")), 2).as("avg_order_value"),
        round(count(when(col("oi.status") === "returned", 1)) / count(lit(1)) * 100, 2)
          .as("avg_return_rate"))
}

final class EcommercePipeline(spark: SparkSession, dataDir: String) {
  import EcommercePipeline.{Audit, ValidationError}

  /** The required columns of `schema`, parsed from `path` and cached. The
    * category-KPI stream (`EventStreams.kpiCategoryStream`) takes its static
    * `orders`/`products` from here too, so it parses them once per query. */
  private def load(schema: StructType, path: String): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)
      .select(Schemas.requiredFields(schema).map(col): _*).cache()

  /** S1: one file, explicit schema, no inference. */
  lazy val products: DataFrame = load(Schemas.products, s"$dataDir/products.csv")
  /** S2: folder of part files scanned as one table. */
  lazy val orders: DataFrame = load(Schemas.orders, s"$dataDir/orders")
  lazy val orderItems: DataFrame = load(Schemas.orderItems, s"$dataDir/order_items")

  // ------------------------------------------------------------ validation

  /** One aggregate job over the table's cache, which it also builds. */
  private def audit(df: DataFrame, schema: StructType, key: Option[String]): Audit = {
    val required = Schemas.requiredFields(schema)
    val counts = count(lit(1)) +: required.map(f => count(when(col(f).isNull, 1))) :+
      key.fold(lit(0L))(k => count(col(k)) - countDistinct(col(k)))
    val r = df.agg(counts.head, counts.tail: _*).head()
    Audit(r.getLong(0), required.zipWithIndex.map { case (f, i) => f -> r.getLong(i + 1) },
      r.getLong(required.size + 1))
  }

  /** Emptiness guard (validate.py:87-92), then required fields
    * (validate.py:108-129): the first failing rule of one table. */
  private def tableRule(name: String, a: Audit): Option[ValidationError] =
    if (a.rows == 0) Some(ValidationError(name, "non_empty", "table has no rows"))
    else a.nulls.collectFirst { case (f, n) if n > 0 =>
      ValidationError(name, "required_field", s"$f has $n null values")
    }

  /** FK violation keys via left-anti join (validate.py:135-156). */
  private def fkViolations(fact: DataFrame, factKey: String,
      dim: DataFrame, dimKey: String): DataFrame =
    fact.join(dim, fact(factKey) === dim(dimKey), "left_anti")
      .select(col(factKey)).distinct()

  /** Rows of `order_items` with no product row and with no order row, in
    * one pass of left joins. A dimension key that repeats multiplies only
    * matched rows, so an unmatched count is zero exactly when its rule holds. */
  private def fkAudit(): (Long, Long) = {
    val r = orderItems.select("product_id", "order_id")
      .join(products.select(col("id").as("p_id")), col("product_id") === col("p_id"), "left")
      .join(orders.select(col("order_id").as("o_id")), col("order_id") === col("o_id"), "left")
      .agg(count(when(col("p_id").isNull, 1)), count(when(col("o_id").isNull, 1)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Fail-fast validation (validate.py:100-175): the first failing rule in
    * the reference's order wins, mirroring its Step Functions gate. */
  def validate(): Either[ValidationError, Unit] = {
    val tables = Seq(
      ("products", products, Schemas.products, None),
      ("orders", orders, Schemas.orders, Some("order_id")),
      ("order_items", orderItems, Schemas.orderItems, Some("id")))
    val audits = Concurrent.all(tables.map { case (_, df, s, k) => () => audit(df, s, k) })
    for (((n, _, _, _), a) <- tables.zip(audits); e <- tableRule(n, a)) return Left(e)

    val (noProduct, noOrder) = fkAudit()
    if (noProduct > 0)
      return Left(ValidationError("order_items", "fk_product",
        s"product_ids with no product row: ${
          fkViolations(orderItems, "product_id", products.select("id"), "id").count()}"))
    if (noOrder > 0)
      return Left(ValidationError("order_items", "fk_order",
        s"order_ids with no order row: ${
          fkViolations(orderItems, "order_id", orders.select("order_id"), "order_id").count()}"))

    val Seq(_, orderAudit, itemAudit) = audits
    if (orderAudit.repeatedKeys > 0)
      return Left(ValidationError("orders", "unique_key", "duplicate order_id values"))
    if (itemAudit.repeatedKeys > 0)
      return Left(ValidationError("order_items", "unique_key", "duplicate id values"))
    Right(())
  }

  // ------------------------------------------------------------ KPI queries

  /** Category-level KPIs (transform.py:94-121; golden rows notebook cell 13).
    * Output schema: (category, order_date, daily_revenue, avg_order_value,
    * avg_return_rate). */
  def categoryKpis: DataFrame =
    EcommercePipeline.categoryKpiAgg(orderItems, orders, products)
      .orderBy(col("category"), col("order_date"))

  /** Order-level KPIs (transform.py:123-147; golden rows notebook cell 17).
    * Quirks preserved: return_rate numerator and total_items_sold both count
    * post-join fan-out rows (SURVEY.md §2.9.1). Output schema: (order_date,
    * total_orders, total_revenue, total_items_sold, return_rate,
    * unique_customers). */
  def orderKpis: DataFrame = {
    val o = orders.alias("o")
    val oi = orderItems.alias("oi")
    o.join(oi, col("o.order_id") === col("oi.order_id"), "inner")
      .withColumn("order_date", to_date(col("o.created_at")))
      .groupBy(col("order_date"))
      .agg(
        countDistinct(col("o.order_id")).as("total_orders"),
        round(sum(col("oi.sale_price")), 2).as("total_revenue"),
        sum(col("o.num_of_item")).as("total_items_sold"),
        round(count(when(col("o.status") === "returned", 1)) /
          countDistinct(col("o.order_id")) * 100, 2).as("return_rate"),
        countDistinct(col("o.user_id")).as("unique_customers"))
      .orderBy(col("order_date"))
  }

  /** Full run with the reference's exit-code gate semantics
    * (validate.py:177-189 → transform.py:204-224): returns 1 and writes
    * nothing if validation fails, else writes both KPI tables, at the same
    * time, keyed the way the reference keys its DynamoDB tables and
    * returns 0. Every job runs in the caller's job group, and the call
    * returns only after all of them have finished. */
  def run(outDir: String): Int = validate() match {
    case Left(_) => 1
    case Right(_) =>
      Concurrent.all(Seq(
        () => KeyedSink.write(categoryKpis, s"$outDir/category_kpis", Seq("category")),
        () => KeyedSink.write(orderKpis, s"$outDir/order_kpis", Seq.empty)))
      0
  }
}
