package graft

import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis
import graft.sources.Tables

/** Invariants for the set-cardinality / membership sketch audits: the
  * KMV (bottom-k theta) cross-source overlap estimator and the
  * Bloom-gated decontamination filter.
  */
class SketchOpsSpec extends SparkSpec {
  import spark.implicits._

  test("kmvOverlap: sketches smaller than k degrade to exact counts") {
    // every source's distinct-shingle set is ≪ k, so the sketch IS the
    // set and every estimate must equal its exact count
    val docs = Seq(
      (1L, "a b c d e f", "en", "s1", 11L),
      (2L, "a b c d x y", "en", "s2", 11L),
      (3L, "p q r s t u", "en", "s3", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.kmvOverlap(docs).collect()
    assert(out.length === 3, "three ordered source pairs")
    out.foreach { r =>
      assert(r.getAs[Double]("est_a") === r.getAs[Long]("exact_a").toDouble)
      assert(r.getAs[Double]("est_b") === r.getAs[Long]("exact_b").toDouble)
      assert(r.getAs[Double]("est_union") === r.getAs[Long]("exact_union").toDouble)
      assert(r.getAs[Double]("est_inter") === r.getAs[Long]("exact_inter").toDouble)
    }
    val inter = out.map(r =>
      (r.getAs[String]("src_a"), r.getAs[String]("src_b")) ->
        r.getAs[Long]("exact_inter")).toMap
    // "a b c d ..." prefixes share the first two trigram shingles
    assert(inter(("s1", "s2")) === 2L)
    assert(inter(("s1", "s3")) === 0L)
    assert(inter(("s2", "s3")) === 0L)
  }

  test("kmvOverlap on the corpus: estimates inside the sketch error band") {
    val out = TextAnalysis.kmvOverlap(Tables.documents(spark, Sf)).collect()
    assert(out.nonEmpty)
    // KMV standard error ≈ 1/√(k−2) ≈ 9% at k=128; allow 5 se plus a
    // small absolute floor (the poly hash is deterministic, not random)
    out.foreach { r =>
      val exactU = r.getAs[Long]("exact_union").toDouble
      val estU = r.getAs[Double]("est_union")
      assert(math.abs(estU - exactU) <= 0.45 * exactU + 5.0,
        s"${r.getAs[String]("src_a")}/${r.getAs[String]("src_b")}: est_union $estU vs $exactU")
      // intersection error is bounded by the union scale, not its own
      // (the estimator multiplies a k-trial proportion by Û)
      val exactI = r.getAs[Long]("exact_inter").toDouble
      val estI = r.getAs[Double]("est_inter")
      assert(math.abs(estI - exactI) <= 0.45 * exactU + 5.0,
        s"${r.getAs[String]("src_a")}/${r.getAs[String]("src_b")}: est_inter $estI vs $exactI")
    }
    // consistency: union sketch count n_u ≤ k, inter_sk ≤ n_u
    out.foreach { r =>
      assert(r.getAs[Long]("n_u") <= TextAnalysis.KmvK)
      assert(r.getAs[Long]("inter_sk") <= r.getAs[Long]("n_u"))
    }
  }

  test("bloomDecontam: no false negatives, over-flag rate at the design point") {
    val docs = Tables.documents(spark, Sf)
    val out = TextAnalysis.bloomDecontam(
      docs.filter($"doc_id" % 50 =!= 0), docs.filter($"doc_id" % 50 === 0)).collect()
    assert(out.nonEmpty)
    // THE bloom guarantee: every exact hit is bloom-flagged
    assert(out.forall(r => !r.getAs[Boolean]("exact_hit") || r.getAs[Boolean]("bloom_hit")),
      "a truly contaminated doc escaped the bloom gate")
    // m = 32n, j = 8 → per-shingle FPR ≈ 5.6e-6; per-doc over-flagging
    // at ~10² shingles/doc should sit far below 2%
    val clean = out.count(r => !r.getAs[Boolean]("exact_hit"))
    val fp = out.count(r => r.getAs[Boolean]("bloom_hit") && !r.getAs[Boolean]("exact_hit"))
    assert(clean === 0 || fp.toDouble / clean <= 0.02,
      s"per-doc over-flag rate $fp/$clean above the m=32n design point")
  }

  test("bloomDecontam: agrees doc-for-doc with the exact contaminated set") {
    val docs = Tables.documents(spark, Sf)
    val train = docs.filter($"doc_id" % 50 =!= 0)
    val eval = docs.filter($"doc_id" % 50 === 0)
    val exact = TextAnalysis.contaminated(train, eval)
      .select($"doc_id").as[Long].collect().toSet
    val gate = TextAnalysis.bloomDecontam(train, eval).collect()
      .filter(_.getAs[Boolean]("exact_hit")).map(_.getAs[Long]("doc_id")).toSet
    assert(gate === exact, "the audit's exact side must equal the exact-join op")
  }

  test("bloomDecontam: empty eval split flags nothing and keeps every train row") {
    val docs = Tables.documents(spark, Sf)
    val out = TextAnalysis.bloomDecontam(docs, docs.limit(0))
    assert(out.filter($"bloom_hit" || $"exact_hit").count() === 0)
    assert(out.count() === docs.select($"doc_id").distinct().count())
  }

  test("kmvGenOverlap: full re-crawl reads fully redundant, disjoint crawl fully novel") {
    val docs = Tables.documents(spark, Sf)
    // increment ≡ base (a crawler that found nothing new): exact
    // intersection must equal the increment size exactly, and with the
    // sets identical the sketches coincide, so the ESTIMATES agree too
    val full = TextAnalysis.kmvGenOverlap(docs, docs).collect()
    assert(full.nonEmpty)
    full.foreach { r =>
      assert(r.getAs[Long]("exact_inter") === r.getAs[Long]("exact_incr"))
      assert(r.getAs[Double]("est_inter") === r.getAs[Double]("est_incr"),
        "identical generations must estimate identical overlap")
    }
    // a source only the increment carries is fully novel
    val novel = TextAnalysis.kmvGenOverlap(
      docs.filter($"source" =!= "src0"), docs.filter($"source" === "src0")).collect()
    assert(novel.length === 1)
    assert(novel.head.getAs[Long]("exact_base") === 0L)
    assert(novel.head.getAs[Long]("exact_inter") === 0L)
    assert(novel.head.getAs[Double]("est_inter") === 0.0)
  }

  test("kmvGenOverlap: the re-crawled half is found within the sketch error band") {
    val d = Tables.documents(spark, Sf)
    val out = TextAnalysis.kmvGenOverlap(
      d.filter($"doc_id" % 3 =!= 0),
      d.filter($"doc_id" % 3 === 0).unionByName(
        d.filter($"doc_id" % 6 === 1).withColumn("doc_id", $"doc_id" + 3000000L)))
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      // the verbatim %6==1 re-crawl guarantees real per-source overlap
      assert(r.getAs[Long]("exact_inter") > 0L,
        s"${r.getAs[String]("source")}: re-crawled slice must overlap the base")
      val exactU = (r.getAs[Long]("exact_base") + r.getAs[Long]("exact_incr")
        - r.getAs[Long]("exact_inter")).toDouble
      assert(math.abs(r.getAs[Double]("est_inter") - r.getAs[Long]("exact_inter"))
        <= 0.45 * exactU + 5.0)
    }
  }

  test("kmvMerge: two crawl-shard sketches merge exactly to the full-corpus sketch") {
    val docs = Tables.documents(spark, Sf)
    val k = 16 // small k so the merge genuinely displaces entries
    val skA = TextAnalysis.kmvSketch(docs.filter($"doc_id" % 2 === 0), k)
    val skB = TextAnalysis.kmvSketch(docs.filter($"doc_id" % 2 =!= 0), k)
    val merged = TextAnalysis.kmvMerge(skA, skB, k).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val full = TextAnalysis.kmvSketch(docs, k).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(merged === full, "bottom-k must be closed under union, exactly")
  }
}
