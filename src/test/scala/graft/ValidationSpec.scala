package graft

import graft.pipeline.EcommercePipeline
import graft.pipeline.EcommercePipeline.ValidationError

/** CSV fixtures in the reference's directory shape (also used by
  * PipelineRunSpec). */
object ValidationSpec {
  def writeCsvLayout(products: String, orders: String, items: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_val").toString
    def put(rel: String, content: String): Unit = {
      val f = new java.io.File(s"$dir/$rel")
      f.getParentFile.mkdirs()
      java.nio.file.Files.writeString(f.toPath, content)
    }
    put("products.csv", products)
    put("orders/part1.csv", orders)
    put("order_items/part1.csv", items)
    dir
  }

  val productsHeader = "id,sku,cost,category,name,brand,retail_price,department"
  val ordersHeader = "order_id,user_id,status,created_at,returned_at,shipped_at,delivered_at,num_of_item"
  val itemsHeader = "id,order_id,user_id,product_id,status,created_at,shipped_at,delivered_at,returned_at,sale_price"

  val cleanProducts = s"$productsHeader\n1,sku1,1.0,Beauty,n1,b1,2.0,d1\n2,sku2,1.0,Toys,n2,,3.0,d2"
  val cleanOrders = s"$ordersHeader\n10,100,delivered,2025-03-08T10:00:00,,,,1\n11,101,returned,2025-03-09T10:00:00,,,,2"
  val cleanItems = s"$itemsHeader\n1,10,100,1,delivered,2025-03-08T10:00:00,,,,5.0\n2,11,101,2,returned,2025-03-09T10:00:00,,,,7.5"
}

/** Fail-fast validation rules on synthetic violating inputs (the reference
  * only ever sees clean data, so each rule's firing path needs its own
  * fixture; SURVEY.md §5 test plan). */
class ValidationSpec extends SparkSuite {
  import ValidationSpec._

  test("clean layout validates Right") {
    val p = new EcommercePipeline(spark, writeCsvLayout(cleanProducts, cleanOrders, cleanItems))
    assert(p.validate() === Right(()))
  }

  test("empty table fails the emptiness guard first") {
    val p = new EcommercePipeline(spark, writeCsvLayout(productsHeader, cleanOrders, cleanItems))
    assert(p.validate() === Left(ValidationError("products", "non_empty", "table has no rows")))
  }

  test("null in a required field is reported with the field name") {
    val badOrders = s"$ordersHeader\n10,,delivered,2025-03-08T10:00:00,,,,1\n11,101,returned,2025-03-09T10:00:00,,,,2"
    val p = new EcommercePipeline(spark, writeCsvLayout(cleanProducts, badOrders, cleanItems))
    p.validate() match {
      case Left(ValidationError("orders", "required_field", detail)) =>
        assert(detail.startsWith("user_id has 1 null"))
      case other => fail(s"unexpected: $other")
    }
  }

  test("null in a NULLABLE field (brand) does NOT fail validation") {
    // cleanProducts row 2 has empty brand — schema says nullable=true
    val p = new EcommercePipeline(spark, writeCsvLayout(cleanProducts, cleanOrders, cleanItems))
    assert(p.validate() === Right(()))
  }

  test("order_items referencing a missing product fails fk_product") {
    val badItems = s"$itemsHeader\n1,10,100,999,delivered,2025-03-08T10:00:00,,,,5.0"
    val p = new EcommercePipeline(spark, writeCsvLayout(cleanProducts, cleanOrders, badItems))
    p.validate() match {
      case Left(ValidationError("order_items", "fk_product", _)) => ()
      case other => fail(s"unexpected: $other")
    }
  }

  test("order_items referencing a missing order fails fk_order") {
    val badItems = s"$itemsHeader\n1,999,100,1,delivered,2025-03-08T10:00:00,,,,5.0"
    val p = new EcommercePipeline(spark, writeCsvLayout(cleanProducts, cleanOrders, badItems))
    p.validate() match {
      case Left(ValidationError("order_items", "fk_order", _)) => ()
      case other => fail(s"unexpected: $other")
    }
  }

  test("duplicate order_id fails unique_key") {
    val dupOrders = s"$ordersHeader\n10,100,delivered,2025-03-08T10:00:00,,,,1\n10,101,returned,2025-03-09T10:00:00,,,,2"
    val items = s"$itemsHeader\n1,10,100,1,delivered,2025-03-08T10:00:00,,,,5.0"
    val p = new EcommercePipeline(spark, writeCsvLayout(cleanProducts, dupOrders, items))
    assert(p.validate() === Left(ValidationError("orders", "unique_key", "duplicate order_id values")))
  }

  test("rule order is fail-fast: FK violation reported before duplicate check") {
    val badItems = s"$itemsHeader\n1,999,100,1,delivered,2025-03-08T10:00:00,,,,5.0\n1,10,100,1,delivered,2025-03-08T10:00:00,,,,5.0"
    val p = new EcommercePipeline(spark, writeCsvLayout(cleanProducts, cleanOrders, badItems))
    p.validate() match {
      case Left(e) => assert(e.rule === "fk_order") // fires before unique_key on id
      case other => fail(s"unexpected: $other")
    }
  }

  test("duplicate order_items id fails unique_key on order_items") {
    val dupItems = s"$itemsHeader\n1,10,100,1,delivered,2025-03-08T10:00:00,,,,5.0\n1,11,101,2,returned,2025-03-09T10:00:00,,,,7.5"
    val p = new EcommercePipeline(spark, writeCsvLayout(cleanProducts, cleanOrders, dupItems))
    assert(p.validate() === Left(ValidationError("order_items", "unique_key", "duplicate id values")))
  }

  test("header-only order_items fails the emptiness guard on order_items") {
    val p = new EcommercePipeline(spark, writeCsvLayout(cleanProducts, cleanOrders, itemsHeader))
    assert(p.validate() === Left(ValidationError("order_items", "non_empty", "table has no rows")))
  }

  test("fk_product detail counts distinct missing product_ids, not rows") {
    // three rows, two distinct unknown products (998 twice, 999 once)
    val badItems = s"$itemsHeader\n1,10,100,998,delivered,2025-03-08T10:00:00,,,,5.0\n" +
      "2,10,100,998,delivered,2025-03-08T10:00:00,,,,5.0\n3,11,101,999,returned,2025-03-09T10:00:00,,,,7.5"
    val p = new EcommercePipeline(spark, writeCsvLayout(cleanProducts, cleanOrders, badItems))
    assert(p.validate() ===
      Left(ValidationError("order_items", "fk_product", "product_ids with no product row: 2")))
  }

  test("a null in products is reported before a null in orders") {
    val badProducts = s"$productsHeader\n1,sku1,1.0,Beauty,n1,b1,2.0,\n2,sku2,1.0,Toys,n2,,3.0,d2"
    val badOrders = s"$ordersHeader\n10,,delivered,2025-03-08T10:00:00,,,,1\n11,101,returned,2025-03-09T10:00:00,,,,2"
    val p = new EcommercePipeline(spark, writeCsvLayout(badProducts, badOrders, cleanItems))
    assert(p.validate() ===
      Left(ValidationError("products", "required_field", "department has 1 null values")))
  }
}
