package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardOpenOption}
import java.sql.DriverManager
import java.util.Properties
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.OrderPipeline
import graft.sources.jsonpoll.JsonPollDataSource
import graft.streaming.OrderStream

/** The reference's full topology, end to end, in one streaming flow
  * (SURVEY §3): polled source (S1) → parse (D1) → validate/enrich (V/E)
  * → dual-topic routing with envelopes+keys (R1/E1/K1/S4) → JDBC upsert
  * into the serving table (S3) → SQL scan (Q1). Driven with the
  * reference's own 100-order fixture; the end state must be the
  * reference's: 97 rows in enriched_orders, 3 invalid messages keyed
  * 8/24/30.
  */
class EndToEndSpec extends SparkSpec {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graftee;create=true"

  test("fixture → poll source → pipeline → topics + JDBC table: reference end state") {
    // "endpoint": the fixture as a JSON-lines file
    val f = Files.createTempDirectory("graft-e2e").resolve("orders.jsonl")
    val fixtureLines = spark.read.option("multiLine", "true")
      .json(rawOrdersFixture)
      .select(explode($"orders").as("o")).select(to_json($"o"))
      .as[String].collect()
    Files.write(f, fixtureLines.mkString("\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE)

    // serving table (the reference's Postgres DDL, Derby-ized)
    val conn = DriverManager.getConnection(url)
    try {
      try conn.createStatement().execute("DROP TABLE enriched_orders")
      catch { case _: java.sql.SQLException => () }
      conn.createStatement().execute(
        """CREATE TABLE enriched_orders (
          |  order_id VARCHAR(255) PRIMARY KEY, product_name VARCHAR(255),
          |  quantity DOUBLE, price DOUBLE, order_date VARCHAR(50),
          |  total_price DOUBLE)""".stripMargin)
    } finally conn.close()

    // stream: poll source → process → one-pass dual sink + JDBC upsert
    val topics = mutable.Map(
      "enriched" -> mutable.ArrayBuffer[Row](), "invalid" -> mutable.ArrayBuffer[Row]())
    val src = spark.readStream.format(JsonPollDataSource.Name)
      .option("path", f.toString).load()
    val q = OrderStream.process(src).writeStream
      .option("checkpointLocation", Files.createTempDirectory("graft-e2e-ckpt").toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.persist()
        try {
          val (valid, invalid) = OrderPipeline.route(batch)
          topics("enriched") ++= OrderStream.toMessages(valid).collect()
          topics("invalid") ++= OrderStream.toMessages(invalid).collect()
          OrderStream.jdbcUpsertViaStaging(
            OrderPipeline.projectEnriched(valid), url, "enriched_orders", new Properties())
        } finally { batch.unpersist(); () }
      }
      .start()
    q.processAllAvailable(); q.stop()

    // Q1: the serving-side SQL scan
    val served = spark.read.jdbc(url, "enriched_orders", new Properties())
    assert(served.count() === 97)
    assert(topics("invalid").map(_.getString(0)).toSet === Set("8", "24", "30"))
    assert(topics("enriched").size === 97)
    // spot-check enrichment landed: order 1 → 71 × 400.04 = 28402.84
    assert(served.filter($"ORDER_ID" === "1").select($"TOTAL_PRICE").as[Double].head() === 28402.84)
  }
}
