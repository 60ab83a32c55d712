package graft

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Pins the small-scan input rebalance (Tables.balanced): the driver's
  * single-row-group parquet files cap every scan at ONE effective task,
  * so in the sub-parallel regime (256 KiB ≤ table bytes < parallelism ×
  * 4 MB — the sf0.01 `lineitem`, 1.04 MB, but not the 114 kB sf0.001
  * one) the loader inserts one deterministic hash repartition on the
  * table key right above the scan. The properties that must hold:
  *   - the conditioner fires exactly when the knob is on (and plan-shape
  *     suites can pin the operator plan with it off);
  *   - below the byte floor it never fires;
  *   - predicate pushdown still reaches the parquet scan THROUGH the
  *     repartition (the scale property the conditioner must not cost);
  *   - results are identical with and without it (partitioning
  *     neutrality — the same property the oracle gate checks suite-wide).
  */
class ScanRebalanceSpec extends SparkSpec {

  /** A scale whose `lineitem` lies between the floor and 4 MB × 4 cores. */
  private val Mid = Sf.stripSuffix("sf0.001") + "sf0.01"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("conditioner fires on sub-parallel scans and obeys the knob") {
    val on = planOf(Tables.lineitem(spark, Mid))
    assert(on.contains("Exchange") && on.contains("hashpartitioning(xxhash64(l_orderkey"),
      s"expected the input rebalance above the scan:\n$on")
    val off = withoutScanRebalance(planOf(Tables.lineitem(spark, Mid)))
    assert(!off.contains("Exchange"), "knob off must restore the bare scan")
  }

  test("conditioner stays off below the byte floor") {
    val p = planOf(Tables.lineitem(spark, Sf))
    assert(!p.contains("Exchange"), s"a sub-floor scan must stay bare:\n$p")
  }

  test("predicate pushdown crosses the rebalance to the parquet scan") {
    val df = Tables.lineitem(spark, Mid)
      .filter(col("l_shipdate") < lit("2001-09-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_quantity"))
    val p = planOf(df)
    assert(p.contains("Exchange") && p.contains("hashpartitioning(xxhash64(l_orderkey"))
    assert(p.linesIterator.filter(_.contains("PushedFilters:"))
      .exists(_.contains("LessThan(l_shipdate")),
      s"shipdate filter must still reach the scan below the rebalance:\n$p")
  }

  test("rebalance is result-neutral on an aggregation") {
    val agg = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sq"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
        .collect().toSeq
    val withReb = agg(Tables.lineitem(spark, Mid))
    val without = withoutScanRebalance(agg(Tables.lineitem(spark, Mid)))
    assert(withReb === without)
  }
}
