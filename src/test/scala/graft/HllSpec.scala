package graft

import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** HyperLogLog registers and estimator: the merge/replay laws that make
  * the sketch the right 100-TB cardinality summary (cell-wise max folds
  * shards and tolerates at-least-once redelivery), the small-range
  * linear-counting branch against exact truth on the real corpus, the
  * and the raw branch's error bound on a synthetic large-cardinality
  * stream.
  */
class HllSpec extends SparkSpec {
  import spark.implicits._

  private def regSet(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long)] =
    df.select($"source", $"bucket", $"rho").as[(String, Long, Long)]
      .collect().toSet

  test("registers merge cell-wise across any shard split, and replay is idempotent") {
    val docs = graft.sources.Tables.documents(spark, Sf)
    val whole = regSet(TextAnalysis.hllRegisters(docs))
    val a = docs.filter($"doc_id" % 2 === 0)
    val b = docs.filter($"doc_id" % 2 =!= 0)
    val merged = regSet(TextAnalysis.hllMerge(
      TextAnalysis.hllRegisters(a), TextAnalysis.hllRegisters(b)))
    assert(merged === whole, "shard merge must equal the whole-corpus registers")
    // duplicate the corpus: max is idempotent, registers unchanged
    val replayed = regSet(TextAnalysis.hllRegisters(docs.unionByName(docs)))
    assert(replayed === whole, "replayed updates must not move any register")
  }

  test("register table is bounded and ranks sit in [1, 31]") {
    val regs = TextAnalysis.hllRegisters(graft.sources.Tables.documents(spark, Sf))
    val perSource = regs.groupBy($"source").count().select(max($"count"))
      .as[Long].head()
    assert(perSource <= TextAnalysis.HllM)
    val (mn, mx) = regs.select(min($"rho"), max($"rho")).as[(Long, Long)].head()
    assert(mn >= 1L && mx <= 31L, s"rho out of range: [$mn, $mx]")
  }

  test("small-range sources ride linear counting and land within a few percent of exact") {
    val rows = TextAnalysis.hllCardinality(graft.sources.Tables.documents(spark, Sf))
      .select($"est_raw", $"est", $"n_exact", $"rel_err")
      .as[(Double, Double, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (raw, est, n, err) =>
      // the real corpus's per-source vocab is tiny: the raw estimator
      // bottoms out near alpha*m (an order of magnitude high) and the
      // branch MUST have picked linear counting instead
      assert(est !== raw, s"linear counting not engaged (est=$est n=$n)")
      assert(math.abs(err) <= 0.05,
        s"linear counting off by ${err * 100}% at n=$n")
    }
  }

  test("raw branch: error bound holds on a synthetic large-cardinality stream") {
    // 60k distinct tokens in one source, far above 2.5*m: the raw
    // estimator must engage and land inside ~3 standard errors
    // (1.04/sqrt(256) = 6.5% per Flajolet'07)
    val docs = spark.range(0, 6000)
      .select(col("id").as("doc_id"),
        expr("""array_join(transform(sequence(0, 9),
                i -> concat('tok', id * 10 + i)), ' ')""").as("text"),
        lit("en").as("lang"), lit("big").as("source"),
        lit(1L).as("n_chars"))
    val r = TextAnalysis.hllCardinality(docs)
      .select($"est_raw", $"est", $"n_exact", $"rel_err")
      .as[(Double, Double, Long, Double)].head()
    val (raw, est, n, err) = r
    assert(n == 60000L)
    assert(est === raw, "large cardinality must ride the raw estimator")
    assert(math.abs(err) <= 0.2, s"raw estimate off by ${err * 100}%: $est vs $n")
  }

  test("generation growth: merged-register estimates track exact counts, base never re-scanned") {
    val d = graft.sources.Tables.documents(spark, Sf)
    val base = d.filter($"doc_id" % 3 =!= 0)
    val incr = d.filter($"doc_id" % 3 === 0)
    val rows = TextAnalysis.hllGenGrowth(base, incr)
      .select($"source", $"est_base", $"est_union", $"est_new",
        $"n_base_exact", $"n_union_exact", $"n_new_exact")
      .as[(String, Double, Double, Double, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (s, eb, eu, en, nb, nu, nn) =>
      assert(nn == nu - nb)
      assert(math.abs(eb - nb) / nb.toDouble <= 0.05, s"$s base est off: $eb vs $nb")
      assert(math.abs(eu - nu) / nu.toDouble <= 0.05, s"$s union est off: $eu vs $nu")
      assert(en == eu - eb)
    }
    // the union estimate comes from MERGED registers: identical to
    // sketching the union corpus directly (the no-re-scan law)
    val direct = regSet(TextAnalysis.hllRegisters(base.unionByName(incr)))
    val merged = regSet(TextAnalysis.hllMerge(
      TextAnalysis.hllRegisters(base), TextAnalysis.hllRegisters(incr)))
    assert(merged === direct)
  }
}
