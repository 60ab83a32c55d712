package graft

import java.nio.file.Files

import graft.sources.Tables

/** Robustness: EVERY declared query must run to completion on 0-row
  * inputs (correct schemas, no data). Empty partitions are routine at
  * 100 TB — a filter can drain any table — and operators must degrade to
  * empty output, not throw: empty aggregations, quantiles of nothing,
  * the CC fixpoint loop with no edges, windows over no rows, decoders
  * over no partitions. Row counts are not asserted (literal-driven
  * queries legitimately emit rows from empty inputs); "does not throw"
  * is the contract.
  */
class EmptyInputSpec extends SparkSpec {

  private lazy val emptyDir: String = {
    val d = Files.createTempDirectory("graft-empty").toString
    val tables = Tables.Names
    // limit(0) through the RAW reader preserves each table's on-disk
    // schema (events keeps its nanos-as-long ts column)
    tables.foreach { t =>
      spark.read.parquet(s"$Sf/$t.parquet").limit(0)
        .write.mode("overwrite").parquet(s"$d/$t.parquet")
    }
    d
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name tolerates empty inputs") {
      val n = fn(spark, emptyDir).count() // full execution, not just plan
      assert(n >= 0)
    }
  }
}
