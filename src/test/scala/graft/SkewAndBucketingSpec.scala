package graft

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Partitioning strategies for scale: bucketed tables must produce
  * exchange-free co-located joins (verified on the physical plan, not
  * just by assertion).
  */
class SkewAndBucketingSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables join without a shuffle exchange") {
    val s = spark
    val prevThreshold = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    try {
      Tables.orders(s, Sf).write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("orders_b")
      Tables.lineitem(s, Sf).write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("lineitem_b")
      val joined = s.table("lineitem_b")
        .join(s.table("orders_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      // co-located: SortMergeJoin with NO Exchange feeding either side
      assert(plan.contains("SortMergeJoin"), plan.take(2000))
      val joinSection = plan.substring(plan.indexOf("SortMergeJoin"))
      assert(!joinSection.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n${joinSection.take(2000)}")
      // and it is still correct
      assert(joined.agg(sum(col("n"))).as[Long].head() === Tables.lineitem(s, Sf).count())
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      s.sql("DROP TABLE IF EXISTS orders_b")
      s.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }
}
