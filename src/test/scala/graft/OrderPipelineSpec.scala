package graft

import org.apache.spark.sql.functions._
import graft.model.OrderModel
import graft.operators.OrderPipeline._

/** Golden + unit tests for the reference-parity order pipeline.
  *
  * Golden: the order fixture (100 orders, `src/test/resources/
  * raw_orders.json`, built to the reference's src/data/raw_orders.json
  * invariants in FIXTURES.md §2) must split exactly 97 valid / 3 invalid
  * (order_ids 8, 24, 30) with the reference's exact error strings
  * (ref: src/app/order_validator.py:198,208).
  */
class OrderPipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fixture = {
    val raw = spark.read.option("multiLine", "true")
      .json(rawOrdersFixture)
    // fixture shape: {"orders": [...]} — explode, then restring the loose fields
    raw.select(explode($"orders").as("o"))
      .select(OrderModel.RequiredFields.map(f => $"o".getField(f).cast("string").as(f)): _*)
  }

  test("golden: 97 valid / 3 invalid with exact error strings") {
    val out = processOrders(fixture).cache()
    assert(out.count() === 100)
    assert(out.filter($"is_valid").count() === 97)
    val invalid = out.filter(!$"is_valid")
      .select($"order_id", $"error_message").as[(String, String)].collect().toMap
    assert(invalid === Map(
      "8" -> "Field 'quantity' should be non-negative",
      "24" -> "Field 'quantity' should be non-negative",
      "30" -> "Field 'price' should be non-negative"
    ))
  }

  test("golden: total_price = banker's-rounded quantity*price on valid rows") {
    val bad = processOrders(fixture)
      .filter($"is_valid")
      .filter($"total_price" =!= bround($"quantity" * $"price", 2))
    assert(bad.count() === 0)
    // spot value: order 1 → 71 * 400.04 = 28402.84
    val t = processOrders(fixture).filter($"order_id" === "1")
      .select($"total_price").as[Double].head()
    assert(t === 28402.84)
  }

  test("missing fields short-circuit in declaration order") {
    val df = Seq(
      ("1", null: String, null: String, "bad", "2020-01-01"), // missing product_name+quantity, price ALSO bad
      (null: String, null: String, null: String, null, null: String)
    ).toDF("order_id", "product_name", "quantity", "price", "order_date")
    val out = processOrders(df).select($"error_message").as[String].collect()
    assert(out(0) === "Missing required fields: product_name, quantity")
    assert(out(1) === "Missing required fields: order_id, product_name, quantity, price, order_date")
  }

  test("numeric validation: price error first, '; ' separator, value echoed") {
    val df = Seq(("9", "x", "oops", "abc", "2020-01-01")).toDF(
      "order_id", "product_name", "quantity", "price", "order_date")
    val out = processOrders(df).select($"error_message").as[String].head()
    assert(out === "Field 'price' should be a number, but is of value: abc; " +
      "Field 'quantity' should be a number, but is of value: oops")
  }

  test("both-negative collects both errors") {
    val df = Seq(("9", "x", "-2", "-3.5", "2020-01-01")).toDF(
      "order_id", "product_name", "quantity", "price", "order_date")
    val out = processOrders(df).select($"error_message", $"quantity", $"price")
      .as[(String, Double, Double)].head()
    assert(out._1 === "Field 'price' should be non-negative; Field 'quantity' should be non-negative")
    assert(out._2 === -2.0 && out._3 === -3.5)
  }

  test("banker's rounding matches Python round (half-even)") {
    // 0.5*0.25 = 0.125 exactly representable → HALF_EVEN gives 0.12 (Python
    // round(0.125,2)=0.12); HALF_UP would give 0.13.
    val df = Seq(("1", "x", "0.5", "0.25", "2020-01-01")).toDF(
      "order_id", "product_name", "quantity", "price", "order_date")
    val t = processOrders(df).select($"total_price").as[Double].head()
    assert(t === 0.12)
  }

  test("epoch-days date normalization, non-digit/negative/null passthrough") {
    val df = Seq(
      ("1", "x", "1", "1", "19723"),      // 2024-01-01
      ("2", "x", "1", "1", "0"),          // epoch itself
      ("3", "x", "1", "1", "2020-05-06"), // ISO passthrough
      ("4", "x", "1", "1", "-12"),        // negative: NOT digits → passthrough (Python isdigit)
      ("5", "x", "1", "1", null: String)  // null-safe (reference wedges here)
    ).toDF("order_id", "product_name", "quantity", "price", "order_date")
    val out = processOrders(df).select($"order_id", $"order_date")
      .as[(String, String)].collect().toMap
    assert(out("1") === "2024-01-01")
    assert(out("2") === "1970-01-01")
    assert(out("3") === "2020-05-06")
    assert(out("4") === "-12")
    assert(out("5") === null)
    // null order_date = missing required field → invalid but routed, never
    // wedged (intended divergence from the reference's poison pill, G3)
    val r5 = processOrders(df).filter($"order_id" === "5")
      .select($"is_valid", $"error_message").as[(Boolean, String)].head()
    assert(r5 === ((false, "Missing required fields: order_date")))
  }

  test("parseOrders: corrupt JSON → parse_ok=false, null fields (D1)") {
    val df = Seq(
      """{"order_id": 1, "product_name":"a","quantity":2,"price":3,"order_date":"2020-01-01"}""",
      """not json at all"""
    ).toDF("value")
    val out = parseOrders(df).cache()
    assert(out.filter($"parse_ok").count() === 1)
    assert(out.filter(!$"parse_ok").select($"order_id").head().isNullAt(0))
  }

  test("V1 distinguishes explicit JSON null from an absent key (JSON path)") {
    val df = Seq(
      // price key present with null value → reference runs float(None) →
      // number-validation error, NOT "missing"
      """{"order_id":1,"product_name":"a","quantity":2,"price":null,"order_date":"2020-01-01"}""",
      // price key absent → missing-fields short-circuit
      """{"order_id":2,"product_name":"a","quantity":2,"order_date":"2020-01-01"}"""
    ).toDF("value")
    val out = processOrders(parseOrders(df))
      .select($"order_id", $"error_message").as[(String, String)].collect().toMap
    // "None" = str(None), exactly what the reference's f-string prints
    assert(out("1") === "Field 'price' should be a number, but is of value: None")
    assert(out("2") === "Missing required fields: price")
  }

  test("kafka key: order_id as string, 'unknown' fallback (K1)") {
    val df = Seq(("7", "x", "1", "1", "2020-01-01"), (null, "x", "1", "1", "2020-01-01"))
      .toDF("order_id", "product_name", "quantity", "price", "order_date")
    val keys = withKafkaKey(processOrders(df)).select($"key").as[String].collect().toSet
    assert(keys === Set("7", "unknown"))
  }

  test("connect envelope matches the reference's declared struct (E1)") {
    val df = Seq(("1", "Lamp", "2", "3.5", "2020-01-01")).toDF(
      "order_id", "product_name", "quantity", "price", "order_date")
    val v = toConnectEnvelope(processOrders(df)).select($"value").as[String].head()
    val expected =
      """{"schema":{"type":"struct","fields":[""" +
        """{"type":"string","optional":true,"field":"order_id"},""" +
        """{"type":"string","optional":true,"field":"product_name"},""" +
        """{"type":"double","optional":true,"field":"quantity"},""" +
        """{"type":"double","optional":true,"field":"price"},""" +
        """{"type":"string","optional":true,"field":"order_date"},""" +
        """{"type":"double","optional":true,"field":"total_price"}],""" +
        """"optional":false,"name":"enriched_order"},""" +
        """"payload":{"order_id":"1","product_name":"Lamp","quantity":2.0,"price":3.5,""" +
        """"order_date":"2020-01-01","total_price":7.0}}"""
    assert(v === expected)
  }

  test("routing splits every row exactly once (R1)") {
    val out = processOrders(fixture)
    val (valid, invalid) = route(out)
    assert(valid.count() + invalid.count() === out.count())
    assert(valid.filter($"total_price".isNull).count() === 0)
    assert(invalid.filter($"total_price".isNotNull).count() === 0)
  }
}
