package graft

import java.sql.Timestamp
import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.OrderStream

/** Streaming-path tests driven by MemoryStream — no broker required.
  * Covers: the dual-sink routing (R1/S4/G1 shape), envelope bytes on the
  * wire, a stream-static join, the observe() counters, and the JDBC
  * upsert statement.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def checkpoint(): String =
    java.nio.file.Files.createTempDirectory("graft-ckpt").toString

  private lazy val fixtureJson: Seq[String] = {
    val raw = spark.read.option("multiLine", "true")
      .json(rawOrdersFixture)
    raw.select(explode($"orders").as("o")).select(to_json($"o").as("j"))
      .as[String].collect().toSeq
  }

  test("fimSplits is a stateless narrow map: runs on an unbounded stream, batch-identical") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val rows = Seq((1L, "a b c d e f g h", "en"), (2L, "x y", "de"),
      (3L, "p q r s t u", "fr"), (4L, "m n o", "en"))
    val ms = MemoryStream[(Long, String, String)]
    val q = graft.operators.Curation.fimSplits(
        ms.toDF().toDF("doc_id", "text", "lang"))
      .writeStream.format("memory").queryName("fim_s").outputMode("append").start()
    ms.addData(rows); q.processAllAvailable()
    val progress = q.lastProgress
    q.stop()
    // the layout pass holds ZERO state — it runs at ingest, per row
    assert(progress.stateOperators.isEmpty,
      "fimSplits must be stateless on a stream")
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", $"mode", $"prefix_len", $"middle_len", $"suffix_len")
      .as[(Long, String, Long, Long, Long)].collect().toSet
    assert(snap(spark.table("fim_s")) ===
      snap(graft.operators.Curation.fimSplits(
        rows.toDF("doc_id", "text", "lang"))),
      "stream and batch must draw identical splits")
  }

  test("dual-sink routing: fixture splits 97 enriched / 3 invalid, read-once") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String]
    val buf = mutable.Map("enriched" -> mutable.ArrayBuffer[Row](),
      "invalid" -> mutable.ArrayBuffer[Row]())
    val q = OrderStream
      .routeToSinks(OrderStream.process(input.toDF()), checkpoint()) {
        (branch, which) => buf(which) ++= branch.collect()
      }
      .start()
    input.addData(fixtureJson)
    q.processAllAvailable(); q.stop()
    assert(buf("enriched").size === 97)
    assert(buf("invalid").size === 3)
    // messages are (key, envelope-json) pairs; keys are the order ids
    val invalidKeys = buf("invalid").map(_.getString(0)).toSet
    assert(invalidKeys === Set("8", "24", "30"))
    assert(buf("enriched").forall(_.getString(1).startsWith("""{"schema":{"type":"struct"""")))
  }

  test("corrupt records flow to the invalid branch, never wedge the stream") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String]
    val buf = mutable.Map("enriched" -> mutable.ArrayBuffer[Row](),
      "invalid" -> mutable.ArrayBuffer[Row]())
    val q = OrderStream
      .routeToSinks(OrderStream.process(input.toDF()), checkpoint()) {
        (branch, which) => buf(which) ++= branch.collect()
      }
      .start()
    input.addData(Seq("""not json""", """{"order_id":1,"product_name":"x","quantity":1,"price":2,"order_date":"2020-01-01"}"""))
    q.processAllAvailable(); q.stop()
    assert(buf("enriched").size === 1)
    assert(buf("invalid").size === 1) // corrupt row routed, stream alive
  }

  test("stream-static join: each micro-batch enriches against the static dimension") {
    implicit val ctx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val ms = MemoryStream[(Timestamp, Long, Double)]
    val stream = ms.toDF().toDF("ts", "user_id", "value")
    // left join: unknown users survive with a null tier (no row loss) —
    // the standard enrichment shape; the static side re-plans per batch
    val q = stream.join(dim, Seq("user_id"), "left")
      .writeStream.format("memory").queryName("enriched_ss").outputMode("append").start()
    ms.addData(Seq(
      (Timestamp.valueOf("2024-01-01 00:00:00"), 1L, 5.0),
      (Timestamp.valueOf("2024-01-01 00:01:00"), 3L, 7.0)))
    q.processAllAvailable()
    ms.addData(Seq((Timestamp.valueOf("2024-01-01 00:02:00"), 2L, 9.0)))
    q.processAllAvailable(); q.stop()
    val got = spark.table("enriched_ss")
      .select($"user_id", $"tier").as[(Long, Option[String])].collect().toSet
    assert(got === Set((1L, Some("gold")), (3L, None), (2L, Some("silver"))))
  }

  test("observe() reports the reference's valid/invalid counters per batch (M1)") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String]
    @volatile var metrics: Option[Row] = None
    val q = OrderStream.observed(OrderStream.process(input.toDF()))
      .writeStream.format("noop").start()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
        val m = e.progress.observedMetrics.get("order_metrics")
        if (m != null && m.getLong(0) > 0) metrics = Some(m)
      }
    }
    spark.streams.addListener(listener)
    try {
      input.addData(fixtureJson)
      q.processAllAvailable()
      // listener events are async — wait briefly for delivery
      val deadline = System.currentTimeMillis() + 10000
      while (metrics.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
      q.stop()
      val m = metrics.getOrElse(fail("no observed metrics delivered"))
      assert(m.getLong(0) === 100 && m.getLong(1) === 97 && m.getLong(2) === 3)
    } finally spark.streams.removeListener(listener)
  }

  test("JDBC upsert statement is PK-idempotent") {
    val sql = OrderStream.upsertSql("enriched_orders",
      Seq("order_id", "product_name", "total_price"), "order_id")
    assert(sql ===
      "INSERT INTO enriched_orders (order_id, product_name, total_price) VALUES (?, ?, ?) " +
        "ON CONFLICT (order_id) DO UPDATE SET product_name = EXCLUDED.product_name, " +
        "total_price = EXCLUDED.total_price")
  }
}
