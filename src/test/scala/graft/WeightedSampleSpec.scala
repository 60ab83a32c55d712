package graft

import org.apache.spark.sql.functions._
import graft.operators.Curation
import graft.functions.TextFunctions

/** The round-10 sampling/sketch family: weightedSample (sequential
  * Poisson), neymanAllocation + stratifiedNeymanSample (variance-
  * optimal seats, bounded-heap execution), snapshotDiff (manifest
  * reconciliation), zipfOctaves (frequency-law profile), and the
  * count–min sketch: hand-computed semantics
  * on tiny corpora, conservation laws, the CMS ≥-true and mergeability
  * guarantees, and the plan-shape claims (TakeOrderedAndProject /
  * partial_topkbyvalue selection; no global sort, no low-cardinality
  * windows).
  */
class WeightedSampleSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "text", "lang")

  // ---- weightedSample -------------------------------------------------

  test("weightedSample: keys are u/w with u the mixed hash, w = n_tokens+1") {
    val d = docs((1L, "a b c", "en"), (2L, "a b c d e f g", "en"))
    val out = Curation.weightedSample(d, 2).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("w_tok"), r.getAs[Long]("u"), r.getAs[Double]("skey"))).toMap
    assert(out(1L)._1 === 4L)
    assert(out(2L)._1 === 8L)
    out.foreach { case (_, (w, u, k)) =>
      assert(u >= 1L && u <= graft.functions.TextFunctions.P)
      assert(k === u.toDouble / w.toDouble, "one IEEE division, exact")
    }
  }

  test("weightedSample: heavier docs win proportionally more often") {
    // 40 docs: ids 0..19 short (w_tok 2), ids 20..39 long (w_tok 12).
    // With priority u/w and u uniform-ish, the long tier should take a
    // clear majority of the 10 slots (expected ~10·(12/14) ≈ 8.6).
    val d = (0L until 40L).map { i =>
      val t = if (i < 20) "x" + i else ("y" + i + " ") * 10 + "z" + i
      (i, t.trim, "en")
    }
    val out = Curation.weightedSample(docs(d: _*), 10).collect()
    val longWins = out.count(_.getAs[Long]("doc_id") >= 20L)
    assert(out.length === 10)
    assert(longWins >= 7, s"long tier won only $longWins of 10")
  }

  test("weightedSample: n larger than the corpus returns every row") {
    val d = docs((1L, "a", "en"), (2L, "b b", "de"))
    assert(Curation.weightedSample(d, 100).count() === 2L)
  }

  test("weightedSample: selection is TakeOrderedAndProject, not a global sort") {
    // more rows than n, else EliminateLimits drops the limit on a
    // known-maxRows local relation and a bare global Sort survives
    val d = docs((0L until 40L).map(i => (i, s"t$i", "en")): _*)
    val plan = Curation.weightedSample(d, 5).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.linesIterator.exists(_.trim.matches("""\**\s*\+?-?\s*Sort .*""")),
      "no full sort should survive the limit")
  }

  test("weightedSample: determinism under repartition") {
    val d = docs((0L until 50L).map(i => (i, s"w$i " * (i.toInt % 7 + 1), "en")): _*)
    val a = Curation.weightedSample(d.repartition(1), 12).collect().map(_.getLong(0)).toSet
    val b = Curation.weightedSample(d.repartition(13), 12).collect().map(_.getLong(0)).toSet
    assert(a === b)
  }

  // ---- snapshotDiff ---------------------------------------------------

  test("snapshotDiff: residue-derived statuses and token deltas") {
    // ids 3 (removed), 4 (changed: +' rev2' = +1 token), 5 (unchanged
    // AND re-published under id+10M = added), 6 (unchanged)
    val d = docs(
      (3L, "three tokens here", "en"),
      (4L, "four tokens", "en"),
      (5L, "five", "de"),
      (6L, "six six", "de"))
    val out = Curation.snapshotDiff(d).collect()
      .map(r => (r.getAs[String]("status"), r.getAs[String]("lang")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("token_delta"))).toMap
    assert(out(("removed", "en")) === ((1L, -3L)))
    assert(out(("changed", "en")) === ((1L, 1L)))
    assert(out(("added", "de")) === ((1L, 1L)))
    assert(out(("unchanged", "de")) === ((2L, 0L)))
    assert(out.size === 4)
  }

  test("snapshotDiff: conservation — deltas sum to tokens(B) - tokens(A)") {
    val d = docs((0L until 33L).map(i => (i, s"t$i " * (i.toInt % 5 + 1), "en")): _*)
    val totA = d.select(coalesce(sum(size(TextFunctions.tokens(col("text")))
      .cast("long")), lit(0L))).as[Long].head()
    val totB = Curation.snapshotB(d)
      .select(coalesce(sum(size(TextFunctions.tokens(col("text")))
        .cast("long")), lit(0L))).as[Long].head()
    val delta = Curation.snapshotDiff(d)
      .agg(sum(col("token_delta"))).as[Long].head()
    assert(delta === totB - totA)
  }

  test("jackknifeMean: matches an independent plain-Scala reference; degenerate and determinism") {
    val rows = (0L until 50L).map(i => (i, (s"t$i " * (i.toInt % 9 + 1)).trim, "en"))
    val d = docs(rows: _*)
    val out = graft.operators.TextAnalysis.jackknifeMean(d, 8).collect().head
    // independent reference: same shard rule, plain double arithmetic
    // with the same quantization steps
    def refHash(w: String): Long = {
      var h = 7L
      var i = 0
      while (i < w.length) { h = (h * 31L + w.codePointAt(i)) % 1000000007L; i += 1 }
      h
    }
    val sh = rows.groupBy(r => refHash(r._2) % 8).toSeq.map { case (_, rs) =>
      (rs.size.toLong, rs.map(_._2.split(" ").length.toLong).sum)
    }
    val nn = sh.map(_._1).sum; val ss = sh.map(_._2).sum
    val mq = sh.map { case (nh, shh) =>
      Math.round((ss - shh).toDouble / (nn - nh).toDouble * 16777216.0) }
    val hv = mq.size.toLong; val smq = mq.sum
    val sdev2 = mq.map(m => { val dvv = BigInt(hv) * BigInt(m) - BigInt(smq); dvv * dvv }).sum
    val expVar = sdev2.toDouble * (hv - 1).toDouble / (hv * hv * hv).toDouble /
      (16777216.0 * 16777216.0)
    assert(out.getAs[Long]("n_docs") === nn && out.getAs[Long]("n_shards") === hv)
    assert(out.getAs[Double]("mean") === ss.toDouble / nn.toDouble)
    assert(math.abs(out.getAs[Double]("jk_var") - expVar) <= math.ulp(expVar) * 4,
      s"variance diverged from the independent reference: ${out.getAs[Double]("jk_var")} vs $expVar")
    assert(out.getAs[Double]("jk_se") === math.sqrt(out.getAs[Double]("jk_var")))
    // partitioning determinism: quantized cross-shard sums are order-free
    val a = graft.operators.TextAnalysis.jackknifeMean(d.repartition(1), 8).collect().head
    val b = graft.operators.TextAnalysis.jackknifeMean(d.repartition(13), 8).collect().head
    assert(a.getAs[Double]("jk_var") === b.getAs[Double]("jk_var"))
    // single effective shard: no leave-one-out complement exists, so
    // zero jackknife replicates and a null variance
    val one = graft.operators.TextAnalysis.jackknifeMean(
      docs((1L, "solo doc here", "en")), 8).collect().head
    assert(one.getAs[Long]("n_shards") === 0L,
      "n_shards counts REPLICATES (shards with a complement)")
    assert(one.isNullAt(one.fieldIndex("jk_var")) && one.isNullAt(one.fieldIndex("jk_se")))
  }

  // ---- count–min sketch ----------------------------------------------

  test("cmsAudit: estimates never undercount, exact when collision-free") {
    val d = docs(
      (1L, "apple apple apple banana", "en"),
      (2L, "apple cherry banana banana", "en"))
    val out = graft.operators.TextAnalysis.cmsAudit(d, 10).collect()
      .map(r => r.getAs[String]("w") ->
        (r.getAs[Long]("true_cnt"), r.getAs[Long]("est_cnt"))).toMap
    assert(out("apple")._1 === 4L)
    assert(out("banana")._1 === 3L)
    assert(out("cherry")._1 === 1L)
    out.foreach { case (w, (t, e)) => assert(e >= t, s"$w undercounted") }
    // 3 distinct tokens in 512 buckets: collision-free, so est == true
    out.foreach { case (w, (t, e)) => assert(e === t, s"$w collided in a 512-bucket sketch") }
  }

  test("cmsSketch: mergeability — sketch(A ∪ B) = sketch(A) + sketch(B)") {
    val a = docs((1L, "p q r p", "en"), (2L, "p s", "en"))
    val b = docs((3L, "q q t", "de"))
    val whole = graft.operators.TextAnalysis.cmsSketch(a.unionByName(b))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val merged = graft.operators.TextAnalysis.cmsSketch(a)
      .unionByName(graft.operators.TextAnalysis.cmsSketch(b))
      .groupBy(col("row_i"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(whole === merged)
  }

  test("neymanAllocation: variance earns seats, Hamilton seats sum to n exactly") {
    // two equal-size strata: en uniform (x = 4, 4), de spread (x = 1, 7)
    // — same N_h and same token mass, but de's spread must earn it the
    // larger share (proportional allocation would split evenly)
    val d = docs(
      (1L, "a b c d", "en"), (2L, "e f g h", "en"),
      (3L, "x", "de"), (4L, "p q r s t u v", "de"))
    val out = Curation.neymanAllocation(d, 10).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // w = sqrt(N·Σx² − (Σx)²): en = sqrt(2·32 − 64) = 0, de = sqrt(2·50 − 64) = 6
    assert(out("en")._2 === 0L, "uniform stratum has zero Neyman weight")
    assert(out("de")._2 === 6L, "sqrt of the exact integer 36 rounds to exactly 6")
    assert(out("de")._3 === 10L && out("en")._3 === 0L,
      s"all seats must go to the only variable stratum: $out")
    assert(out.values.map(_._3).sum === 10L, "Hamilton seats must sum to n")
    // remainder seats: three strata with weights 1:1:1 and n = 10 —
    // base 3 each, one leftover seat goes to the earliest lang on the tie
    val t = docs(
      (1L, "a a a b", "en"), (2L, "c", "en"),
      (3L, "d d d e", "de"), (4L, "f", "de"),
      (5L, "g g g h", "fr"), (6L, "i", "fr"))
    val t3 = Curation.neymanAllocation(t, 10).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(t3.values.sum === 10L)
    assert(t3("de") === 4L && t3("en") === 3L && t3("fr") === 3L,
      s"equal weights: base 3 each, the tie-broken extra seat to 'de': $t3")
    // real corpus: exact-n conservation and nonneg
    val real = Curation.neymanAllocation(
      graft.sources.Tables.documents(spark, Sf)).collect()
    assert(real.map(_.getLong(3)).sum === 200L)
    assert(real.forall(_.getLong(3) >= 0L))
  }

  test("stratifiedNeymanSample: per-lang counts == allocation; winners are the smallest keys; no Window") {
    val d = graft.sources.Tables.documents(spark, Sf)
    val samp = Curation.stratifiedNeymanSample(d).collect()
    assert(samp.length === 200)
    val perLang = samp.groupBy(_.getString(0)).view.mapValues(_.length).toMap
    val alloc = Curation.neymanAllocation(d).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    alloc.foreach { case (l, a) =>
      assert(perLang.getOrElse(l, 0).toLong === a, s"stratum $l count != allocation")
    }
    // the winners really are each stratum's smallest priority keys
    val keys = Curation.weightedSample(d, Int.MaxValue)
      .select(col("doc_id"), col("lang"), col("skey"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val picked = samp.map(_.getLong(2)).toSet
    alloc.foreach { case (l, a) =>
      val expect = keys.filter(_._2 == l).sortBy(k => (k._3, k._1))
        .take(a.toInt).map(_._1).toSet
      assert(expect === samp.filter(_.getString(0) == l).map(_.getLong(2)).toSet,
        s"stratum $l winners diverged from the smallest-key set")
    }
    assert(picked.size === 200, "winners must be distinct docs")
    // plan: bounded-heap aggregate, no per-lang rank window
    val p = Curation.stratifiedNeymanSample(d).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("partial_topkbyvalue"), "selection must map-side combine")
    assert(!p.linesIterator.exists(_.trim.matches("""\(\d+\) Window.*""")),
      "no per-lang rank window may survive")
  }

  test("zipfOctaves: hand-computed bands, conservation, cumulative monotone") {
    val d = docs((1L, "a a a b b c", "en"))
    val out = graft.operators.TextAnalysis.zipfOctaves(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // a:3 → octave 1, b:2 → octave 1, c:1 → octave 0
    assert(out(1L) === ((2L, 5L, 5L)))
    assert(out(0L) === ((1L, 1L, 6L)))
    // conservation + monotonicity on a larger corpus
    val big = docs((0L until 60L).map(i => (i, (s"t${i % 13} " * (i.toInt % 9 + 1)).trim, "en")): _*)
    val rows = graft.operators.TextAnalysis.zipfOctaves(big)
      .orderBy(col("octave")).collect()
    val totalTokens = big.select(sum(size(TextFunctions.tokens(col("text"))))
      .cast("long")).collect().head.getLong(0)
    assert(rows.map(_.getLong(2)).sum === totalTokens, "token mass must conserve")
    val cums = rows.map(_.getLong(3))
    assert(cums.zip(cums.drop(1)).forall { case (lo, hi) => lo >= hi },
      "cumulative mass must be non-increasing in octave")
    assert(cums.head === totalTokens, "octave 0 cumulative = whole corpus")
  }

  test("cmsSketch: cell count bounded by D·W and total mass = D·N") {
    val d = docs((0L until 40L).map(i => (i, s"a$i b${i % 9} c", "en")): _*)
    val sk = graft.operators.TextAnalysis.cmsSketch(d)
    val cells = sk.count()
    assert(cells <= graft.operators.TextAnalysis.CmsA.size.toLong *
      graft.operators.TextAnalysis.CmsW)
    val n = d.select(sum(size(TextFunctions.tokens(col("text")))
      .cast("long"))).as[Long].head()
    val mass = sk.agg(sum(col("cnt"))).as[Long].head()
    assert(mass === graft.operators.TextAnalysis.CmsA.size * n,
      "every row of the sketch holds the full token mass")
  }
}
