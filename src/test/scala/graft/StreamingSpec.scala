package graft

import java.sql.Timestamp
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{EventStream, OrderStream}

/** Streaming-path tests driven by MemoryStream — no broker required.
  * Covers: the dual-sink routing (R1/S4/G1 shape), envelope bytes on the
  * wire, watermarked tumbling windows (append finalization), session
  * windows, dropDuplicatesWithinWatermark, and the JDBC upsert statement.
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

  private def eventsStream(rows: (String, Long, String, Double)*)(
      implicit ctx: org.apache.spark.sql.SQLContext): (MemoryStream[(Timestamp, Long, String, Double)], DataFrame) = {
    val ms = MemoryStream[(Timestamp, Long, String, Double)]
    ms.addData(rows.map(r => (Timestamp.valueOf(r._1), r._2, r._3, r._4)))
    (ms, ms.toDF().toDF("ts", "user_id", "event_type", "value"))
  }

  test("watermarked tumbling window finalizes in append mode; late data dropped") {
    implicit val ctx = spark.sqlContext
    val (ms, df) = eventsStream(
      ("2024-01-01 00:10:00", 1L, "click", 1.0),
      ("2024-01-01 00:20:00", 2L, "click", 2.0))
    val q = EventStream.tumblingCounts(df, "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("tumb").outputMode("append").start()
    q.processAllAvailable()
    // watermark still at batch1 max - 30m → window [00:00,01:00) not final
    assert(spark.table("tumb").count() === 0)
    // advance watermark past 01:00, and send a too-late event for [00:00,01:00)
    ms.addData(Seq((Timestamp.valueOf("2024-01-01 02:00:00"), 3L, "click", 4.0)))
    q.processAllAvailable()
    ms.addData(Seq((Timestamp.valueOf("2024-01-01 00:30:00"), 9L, "click", 8.0))) // late
    q.processAllAvailable(); q.stop()
    val out = spark.table("tumb").select($"w_start".cast("string"), $"n").as[(String, Long)].collect().toMap
    assert(out("2024-01-01 00:00:00") === 2) // late event NOT counted
  }

  test("streaming leaderboard: chained windowed aggs, bounded top-k heap, append-finalized") {
    implicit val ctx = spark.sqlContext
    val (ms, df) = eventsStream(
      ("2024-01-01 00:05:00", 1L, "click", 1.0),
      ("2024-01-01 00:10:00", 2L, "click", 5.0),
      ("2024-01-01 00:15:00", 3L, "click", 3.0),
      ("2024-01-01 00:20:00", 4L, "click", 2.0),
      ("2024-01-01 00:25:00", 2L, "click", 1.0)) // user 2 total = 6
    val q = EventStream.windowTopSpenders(df, k = 3, "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("lead").outputMode("append").start()
    q.processAllAvailable()
    // advance the watermark past the window end to finalize it
    ms.addData(Seq((Timestamp.valueOf("2024-01-01 02:00:00"), 9L, "click", 0.5)))
    q.processAllAvailable(); q.stop()
    val out = spark.table("lead")
      .select($"w_start".cast("string"), $"top").as[(String, Seq[Long])].collect().toMap
    // spend order: user2=6.0, user3=3.0, user4=2.0 (user1=1.0 off the heap)
    assert(out("2024-01-01 00:00:00") === Seq(2L, 3L, 4L))
  }

  test("session windows merge events within gap") {
    implicit val ctx = spark.sqlContext
    val (ms, df) = eventsStream(
      ("2024-01-01 00:00:00", 1L, "click", 1.0),
      ("2024-01-01 00:30:00", 1L, "click", 1.0), // same session (gap 1h)
      ("2024-01-01 03:00:00", 1L, "click", 1.0)) // new session
    val q = EventStream.sessions(df, "1 hour", "1 hour")
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    q.processAllAvailable()
    ms.addData(Seq((Timestamp.valueOf("2024-01-02 00:00:00"), 2L, "click", 1.0))) // advance wm
    q.processAllAvailable(); q.stop()
    val sessions = spark.table("sess").filter($"user_id" === 1)
      .select($"s_start".cast("string"), $"s_end".cast("string"), $"n")
      .as[(String, String, Long)].collect().sortBy(_._1)
    assert(sessions.length === 2)
    assert(sessions(0) === (("2024-01-01 00:00:00", "2024-01-01 01:30:00", 2)))
    assert(sessions(1) === (("2024-01-01 03:00:00", "2024-01-01 04:00:00", 1)))
  }

  test("stream-stream interval join: clicks match same-user purchases within lookback") {
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long, String, Double)]
    val purchases = MemoryStream[(Timestamp, Long, String, Double)]
    def df(ms: MemoryStream[(Timestamp, Long, String, Double)]) =
      ms.toDF().toDF("ts", "user_id", "event_type", "value")
        .withColumn("event_id", unix_micros($"ts")) // deterministic streaming-safe id
    val joined = EventStream.clicksWithRecentPurchases(df(clicks), df(purchases))
    val q = joined.writeStream.format("memory").queryName("ssj").outputMode("append").start()
    purchases.addData(Seq(
      (Timestamp.valueOf("2024-01-01 00:10:00"), 1L, "purchase", 50.0),
      (Timestamp.valueOf("2024-01-01 05:00:00"), 1L, "purchase", 99.0), // outside lookback of the click
      (Timestamp.valueOf("2024-01-01 00:20:00"), 2L, "purchase", 70.0))) // other user
    clicks.addData(Seq(
      (Timestamp.valueOf("2024-01-01 00:40:00"), 1L, "click", 1.0)))
    q.processAllAvailable(); q.stop()
    val out = spark.table("ssj")
      .select($"user_id", $"purchase_value").as[(Long, Double)].collect()
    assert(out.toSet === Set((1L, 50.0))) // only the in-window, same-user purchase
  }

  test("dropDuplicatesWithinWatermark: bounded-state streaming dedup") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, Long, String, Long)]
    val df = ms.toDF().toDF("ts", "user_id", "event_type", "event_id")
    val q = EventStream.dedupWithinWatermark(df, "1 hour")
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    ms.addData(Seq(
      (Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "click", 100L),
      (Timestamp.valueOf("2024-01-01 00:05:00"), 1L, "click", 100L), // dup
      (Timestamp.valueOf("2024-01-01 00:10:00"), 1L, "view", 101L)))
    q.processAllAvailable(); q.stop()
    assert(spark.table("dedup").count() === 2)
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

  test("latest-per-user upsert view: update mode emits only changed keys, survivor deterministic") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, Long, Long, String, Double)]
    val df = ms.toDF().toDF("ts", "user_id", "event_id", "event_type", "value")
    val q = EventStream.latestPerUser(df)
      .writeStream.format("memory").queryName("latest").outputMode("update").start()
    ms.addData(Seq(
      (Timestamp.valueOf("2024-01-01 00:00:00"), 1L, 10L, "click", 1.0),
      (Timestamp.valueOf("2024-01-01 00:30:00"), 2L, 11L, "view", 2.0)))
    q.processAllAvailable()
    // batch 2: user 1 advances; user 2 gets an OLDER event (no change) and
    // a same-ts event with higher event_id (tie-break advances)
    ms.addData(Seq(
      (Timestamp.valueOf("2024-01-01 01:00:00"), 1L, 12L, "buy", 3.0),
      (Timestamp.valueOf("2023-12-31 23:00:00"), 2L, 9L, "click", 4.0),
      (Timestamp.valueOf("2024-01-01 00:30:00"), 2L, 13L, "view", 5.0)))
    q.processAllAvailable(); q.stop()
    // final state per user = the (ts, event_id)-max row across all batches
    val last = spark.table("latest").collect()
      .groupBy(_.getLong(0))
      .map { case (u, rows) => u -> rows.map(r =>
        (r.getTimestamp(1), r.getLong(2), r.getString(3))).maxBy(t => (t._1.getTime, t._2)) }
    assert(last(1L)._2 === 12L && last(1L)._3 === "buy")
    assert(last(2L)._2 === 13L, "same-ts higher event_id must win the tie-break")
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
