package graft

import java.sql.Timestamp

/** Semantics pins for the batch event queries: q_ev_funnel's stage
  * order, q_ev_ewma's dyadic day weights and q_ev_latest's max_by
  * survivor, each checked on its own plan shape against hand-computed
  * values or an independent formulation.
  */
class EventQueriesSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("funnel: stage order enforced — pre-view clicks and pre-click purchases don't count") {
    import org.apache.spark.sql.functions._
    val ev = Seq(
      // user 1: full ordered funnel
      (1L, ts("2024-01-01 00:00:00"), "view"),
      (1L, ts("2024-01-01 00:10:00"), "click"),
      (1L, ts("2024-01-01 00:20:00"), "purchase"),
      // user 2: click BEFORE first view → not funnel-eligible; later no click
      (2L, ts("2024-01-01 00:05:00"), "click"),
      (2L, ts("2024-01-01 00:30:00"), "view"),
      (2L, ts("2024-01-01 00:01:00"), "purchase"),
      // user 3: view then click, purchase BEFORE the click → not converted
      (3L, ts("2024-01-01 00:00:00"), "view"),
      (3L, ts("2024-01-01 00:40:00"), "click"),
      (3L, ts("2024-01-01 00:20:00"), "purchase")
    ).toDF("user_id", "ts", "event_type")
    // run the same three-stage plan as q_ev_funnel
    val v = ev.filter($"event_type" === "view").groupBy($"user_id").agg(min($"ts").as("fv"))
    val c = ev.filter($"event_type" === "click").join(v, "user_id")
      .filter($"ts" > $"fv").groupBy($"user_id").agg(min($"ts").as("fc"))
    val p = ev.filter($"event_type" === "purchase").join(c, "user_id")
      .filter($"ts" > $"fc").groupBy($"user_id").agg(min($"ts").as("fp"))
    val out = v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select($"user_id", $"fc".isNotNull.as("clicked"), $"fp".isNotNull.as("converted"))
      .as[(Long, Boolean, Boolean)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out(1L) === ((true, true)))
    assert(out(2L) === ((false, false)), "pre-view click must not advance the funnel")
    assert(out(3L) === ((true, false)), "pre-click purchase must not convert")
  }

  test("ewma activity: dyadic day weights hand-computed; stale events truncate to 0") {
    import org.apache.spark.sql.functions._
    val ev = Seq(
      (1L, ts("2024-03-01 10:00:00")), // Δ0 → 2^50
      (1L, ts("2024-02-29 23:00:00")), // Δ1 → 2^49
      (1L, ts("2024-02-28 00:00:00")), // Δ2 → 2^48
      (2L, ts("2024-03-01 00:00:00")), // Δ0 → 2^50
      (3L, ts("2023-12-01 00:00:00"))  // Δ91 > 50 → 0
    ).toDF("user_id", "ts")
    // the q_ev_ewma plan shape: horizon broadcast + exact integer weights
    val e = ev.select($"user_id", to_date($"ts").as("d"))
    val h = e.agg(max($"d").as("hd"))
    val got = e.crossJoin(broadcast(h))
      .withColumn("dd", datediff($"hd", $"d"))
      .withColumn("wt", when($"dd" <= 50,
        expr("shiftleft(cast(1 as bigint), 50 - cast(dd as int))")).otherwise(lit(0L)))
      .groupBy($"user_id")
      .agg(sum($"wt".cast("decimal(38,0)")).cast("long").as("ewma_q50"))
    // pin the emitted type: BIGINT, not DECIMAL — the DECIMAL sum is
    // internal only (overflow errors); the column the oracle hashes is long
    assert(got.schema("ewma_q50").dataType ===
      org.apache.spark.sql.types.LongType)
    val gotMap = got.as[(Long, Long)].collect().toMap
    assert(gotMap(1L) === (1L << 50) + (1L << 49) + (1L << 48))
    assert(gotMap(2L) === (1L << 50))
    assert(gotMap(3L) === 0L, "beyond the 50-day tail the weight truncates to 0")
    // recency dominates volume: user 1's three old-ish events can never
    // outweigh a user with one strictly fresher event plus anything else —
    // the half-life invariant Σ_{δ>0} 2^-δ < 2^0
    assert(gotMap(1L) < (1L << 50) * 2)
  }

  test("latest-per-key: max_by composite-key agg ≡ row_number window") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val ev = graft.sources.Tables.events(spark, Sf)
    // the q_ev_latest shape: one partial-combinable agg, O(1) state per key
    val viaAgg = ev.groupBy($"user_id")
      .agg(max_by(struct($"ts", $"event_id"), struct($"ts", $"event_id")).as("l"))
      .select($"user_id", $"l.ts".as("ts"), $"l.event_id".as("event_id"))
    // the sort-shard formulation it must agree with (event_id unique →
    // the composite key is a total order, so the survivor is identical)
    val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
    val viaWindow = ev.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"user_id", $"ts", $"event_id")
    assert(viaAgg.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(viaAgg).isEmpty)
  }
}
