package graft

import java.nio.file.Files

import graft.sources.Tables

/** q_ev_lift on a hand-computed fixture: presence (not frequency)
  * semantics, exact lift arithmetic, canonical type_a < type_b pairs,
  * and null user/type tolerance.
  */
class EventLiftSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft-lift").toString
    Tables.Names.filterNot(_ == "events").foreach { t =>
      spark.read.parquet(s"$Sf/$t.parquet")
        .write.mode("overwrite").parquet(s"$d/$t.parquet")
    }
    def ns(s: String) = java.sql.Timestamp.valueOf(s).getTime * 1000000L
    // u1: click+view (click twice — presence must count once)
    // u2: click+purchase, u3: click+view+purchase, u4: view only
    // plus a null-user and a null-type row that must be ignored
    Seq[(java.lang.Long, java.lang.Long, java.lang.Long, String, java.lang.Double, String)](
      (1L, ns("2024-01-01 10:00:00"), 1L, "click", 1.0, "{}"),
      (2L, ns("2024-01-01 10:01:00"), 1L, "click", 1.0, "{}"),
      (3L, ns("2024-01-01 10:02:00"), 1L, "view", 1.0, "{}"),
      (4L, ns("2024-01-01 10:03:00"), 2L, "click", 1.0, "{}"),
      (5L, ns("2024-01-01 10:04:00"), 2L, "purchase", 1.0, "{}"),
      (6L, ns("2024-01-01 10:05:00"), 3L, "click", 1.0, "{}"),
      (7L, ns("2024-01-01 10:06:00"), 3L, "view", 1.0, "{}"),
      (8L, ns("2024-01-01 10:07:00"), 3L, "purchase", 1.0, "{}"),
      (9L, ns("2024-01-01 10:08:00"), 4L, "view", 1.0, "{}"),
      (10L, ns("2024-01-01 10:09:00"), null, "click", 1.0, "{}"),
      (11L, ns("2024-01-01 10:10:00"), 5L, null, 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    d
  }

  test("lift matrix: hand-computed exact values over presence sets") {
    val out = SparkEntry.queries("q_ev_lift")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6)))).toMap
    // N = 4 real users (null-user and null-type rows ignored; u5 has only
    // a null-type event so never enters the presence set)
    // click: u1,u2,u3 (3); view: u1,u3,u4 (3); purchase: u2,u3 (2)
    assert(out.keySet === Set(("click", "view"), ("click", "purchase"),
      ("purchase", "view")), s"canonical a<b pairs only: ${out.keySet}")
    assert(out(("click", "view"))    === ((2L, 3L, 3L, 4L, 4.0 * 2 / 9)))
    assert(out(("click", "purchase"))=== ((2L, 3L, 2L, 4L, 4.0 * 2 / 6)))
    assert(out(("purchase", "view")) === ((1L, 2L, 3L, 4L, 4.0 * 1 / 6)))
  }

  test("plan: per-type counts and N broadcast; the only corpus shuffle keys on user_id") {
    val plan = SparkEntry.queries("q_ev_lift")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastNestedLoopJoin"),
      s"tiny sides must broadcast:\n$plan")
  }
}
