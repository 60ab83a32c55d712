package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared one-per-suite local session (guide: one SparkSession per suite). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val Sf = "/root/testdata/sf0.001"

  /** The reference-parity order fixture (`{"orders": [...]}`, 100 orders;
    * FIXTURES.md §2). A missing file fails the calling test.
    */
  def rawOrdersFixture: String = {
    val url = getClass.getResource("/raw_orders.json")
    assert(url != null, "test resource raw_orders.json is missing")
    java.nio.file.Paths.get(url.toURI).toString
  }

  /** Run `body` with the small-scan input rebalance (Tables.balanced)
    * disabled — plan-shape assertions pin the OPERATOR plan, which is
    * exactly the rebalance-off plan a production-scale scan produces
    * (the conditioner only fires when 256 KiB ≤ input bytes <
    * parallelism × 4 MB, so sf0.001 scans never carry it).
    * ScanRebalanceSpec pins the conditioner itself.
    */
  def withoutScanRebalance[T](body: => T): T = {
    val key = "spark.graft.scan.rebalance"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Engine.session("graft-test", cores = 4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
