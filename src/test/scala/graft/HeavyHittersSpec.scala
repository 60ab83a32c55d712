package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Exact heavy hitters over Misra–Gries candidates
  * ([[TextAnalysis.heavyHitters]]): the sketch's survival guarantee, the
  * exactness of the two-pass result against a plain full-vocabulary
  * reference (including when the vocabulary far exceeds the sketch
  * capacity), and partitioning-independence of the output despite
  * partitioning-DEPENDENT sketch internals.
  */
class HeavyHittersSpec extends SparkSpec {
  import spark.implicits._

  private def exactReference(docs: DataFrame, k: Int): Set[(String, Long)] = {
    val tok = docs.select(explode(graft.functions.TextFunctions.tokens($"text")).as("w"))
    val n = tok.count()
    tok.groupBy($"w").agg(count(lit(1)).as("cnt"))
      .filter($"cnt" * k >= n)
      .as[(String, Long)].collect().toSet
  }

  test("Misra–Gries: a word with count ≥ N/k survives an adversarial cold-word flood") {
    // k=3, "hot" has 10 of 30 = N/k exactly; 20 distinct cold words try
    // to evict it
    val stream = (0 until 20).flatMap(i =>
      if (i < 10) Seq(s"cold$i", "hot") else Seq(s"cold$i"))
    val n = stream.size
    assert(stream.count(_ == "hot") * 3 >= n)
    val survivors = TextAnalysis.misraGries(stream.iterator, 3).toSet
    assert(survivors.contains("hot"), s"guaranteed heavy evicted: $survivors")
    assert(survivors.size <= 3, "capacity bound broken")
  }

  test("output is exact even when vocabulary far exceeds sketch capacity") {
    // 500 distinct cold words + one hot word above 1/32 share: the
    // sketch MUST prune (capacity 32 < 500) yet the result must equal
    // the full GROUP BY reference
    val rnd = new scala.util.Random(11)
    val words = (0 until 3000).map(_ => s"w${rnd.nextInt(500)}") ++ Seq.fill(200)("hot")
    val docs = rnd.shuffle(words).grouped(40).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    val got = TextAnalysis.heavyHitters(docs, k = 32)
      .select($"w", $"cnt").as[(String, Long)].collect().toSet
    val want = exactReference(docs, 32)
    assert(got === want)
    assert(got.exists(_._1 == "hot"), "planted heavy word missing")
  }

  test("result is partitioning-independent (sketch internals are not)") {
    val docs = graft.sources.Tables.documents(spark, Sf)
    def run(parts: Int) =
      TextAnalysis.heavyHitters(docs.repartition(parts))
        .orderBy($"w").as[(String, Long, Long, Long)].collect().toSeq
    val a = run(1)
    val b = run(13)
    assert(a === b)
    assert(a.nonEmpty, "corpus should have heavy hitters at k=32")
    // exact counts and integer permille reconcile with the reference
    val want = exactReference(docs, 32)
    assert(a.map(r => (r._1, r._2)).toSet === want)
    a.foreach { case (_, cnt, n, pm) => assert(pm === cnt * 1000 / n) }
  }

  test("empty corpus yields no rows") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextAnalysis.heavyHitters(empty).count() === 0)
  }
}
