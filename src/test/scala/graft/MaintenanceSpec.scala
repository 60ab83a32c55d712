package graft

import java.nio.file.Files

import graft.operators.Maintenance

/** Layout behaviors: the exact Z-order bit interleave, and schema
  * evolution via mergeSchema observed on real output files.
  */
class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  test("zValue: exact bit interleave") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (2L, 1L), (255L, 255L))
      .toDF("x", "y")
    val got = df.select($"x", $"y", Maintenance.zValue(8, $"x", $"y").as("z"))
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    // out bit 2i = bit i of x, out bit 2i+1 = bit i of y
    assert(got((0L, 0L)) === 0L)
    assert(got((1L, 0L)) === 1L)
    assert(got((0L, 1L)) === 2L)
    assert(got((2L, 1L)) === 6L)    // x=0b10 → bit2; y=0b1 → bit1
    assert(got((255L, 255L)) === 65535L)
  }

  test("schema evolution: mergeSchema unions old and new file schemas") {
    val d = Files.createTempDirectory("graft-evolve").toString
    Seq((1L, "a")).toDF("id", "name").write.parquet(s"$d/batch=1")
    Seq((2L, "b", 9.5)).toDF("id", "name", "score").write.parquet(s"$d/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(d)
    assert(merged.columns.toSet === Set("id", "name", "score", "batch"))
    val old = merged.filter($"id" === 1).select($"score").collect()(0)
    assert(old.isNullAt(0)) // old files surface the new column as null
  }
}
