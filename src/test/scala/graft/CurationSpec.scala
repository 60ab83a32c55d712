package graft

import org.apache.spark.sql.functions._
import graft.operators.{Curation, TextAnalysis}
import graft.sources.Tables

class CurationSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, Sf)

  test("domainPrior: shrinkage sits between the raw and global rates") {
    val out = Curation.domainPrior(docs).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val raw = r.getAs[Double]("raw_rate")
      val glob = r.getAs[Double]("global_rate")
      val prior = r.getAs[Double]("prior_rate")
      val lo = math.min(raw, glob) - 1e-12
      val hi = math.max(raw, glob) + 1e-12
      assert(prior >= lo && prior <= hi,
        s"${r.getAs[String]("source")}: posterior $prior outside [$lo, $hi]")
    }
    // the global rate is the doc-weighted mean of the raw rates
    val gn = out.map(_.getAs[Long]("n_docs")).sum
    val gp = out.map(_.getAs[Long]("n_pass")).sum
    assert(out.forall(r =>
      math.abs(r.getAs[Double]("global_rate") - gp.toDouble / gn) < 1e-12))
  }

  test("domainPrior: a tiny domain shrinks to the prior, a huge one keeps its rate") {
    // 200 passing docs in "big" (raw 1.0), 1 failing doc in "tiny"
    // (raw 0.0): tiny's posterior must land near the global rate, big's
    // near its own
    val good = "the cat and the dog of a very fine house sat in the sun all day"
    val big = (1 to 200).map(i => (i.toLong, good, "en", "big", 60L))
    val tiny = Seq((500L, "x", "en", "tiny", 1L)) // fails every gopher rule
    val out = Curation.domainPrior((big ++ tiny).toDF(
        "doc_id", "text", "lang", "source", "n_chars"))
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    val glob = 200.0 / 201.0
    val bigPrior = out("big").getAs[Double]("prior_rate")
    val tinyPrior = out("tiny").getAs[Double]("prior_rate")
    assert(math.abs(bigPrior - (200.0 + 20.0 * glob) / 220.0) < 1e-12)
    assert(math.abs(tinyPrior - (0.0 + 20.0 * glob) / 21.0) < 1e-12)
    assert(tinyPrior > 0.9, "one bad doc must not zero a domain")
    assert(out("big").getAs[Double]("shrink") > out("tiny").getAs[Double]("shrink"))
  }

  test("kAnonymize: hand fixture hits all three levels; conservation and the k bar hold") {
    // k=3. (en, a): 3 docs → safe at level 0. (en, b): 2 and (en, c): 1
    // pool to (en, *) = 3 → level 1. (de, d): 2 pools to (de, *) = 2,
    // still < 3 → level-2 remainder of 2, ok = false.
    val rows =
      (1 to 3).map(i => (i.toLong, "t", "en", "a")) ++
      (4 to 5).map(i => (i.toLong, "t", "en", "b")) ++
      Seq((6L, "t", "en", "c")) ++
      (7 to 8).map(i => (i.toLong, "t", "de", "d"))
    val out = Curation.kAnonymize(
        rows.toDF("doc_id", "text", "lang", "source"), k = 3L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(out(("en", "a")) === ((0L, 3L, true)))
    assert(out(("en", "*")) === ((1L, 3L, true)))
    assert(out(("*", "*")) === ((2L, 2L, false)))
    assert(out.size === 3)
    assert(out.values.map(_._2).sum === 8L, "every doc lands in exactly one class")
  }

  test("kAnonymize on the corpus: conservation, k bar on ok classes, levels consistent") {
    val out = Curation.kAnonymize(docs, k = 10L).collect()
    val total = docs.count()
    assert(out.map(_.getLong(3)).sum === total, "release classes partition the corpus")
    out.foreach { r =>
      val (level, n, ok) = (r.getLong(2), r.getLong(3), r.getBoolean(4))
      if (level < 2) assert(ok && n >= 10L, s"released class below k: $r")
      else assert(ok === (n >= 10L))
      assert(level >= 0 && level <= 2)
      if (level >= 1) assert(r.getString(1) === "*")
      if (level === 2) assert(r.getString(0) === "*")
    }
  }

  test("leakSafeSplit: no duplicate cluster straddles a split; singletons match assignSplit") {
    import graft.operators.Dedup
    val c = Dedup.corpus(docs)
    val clusters = Dedup.duplicateClusters(Dedup.verifiedPairs(c))
    val safe = Curation.leakSafeSplit(c, clusters).cache()
    // every cluster member shares its root's split — the planted exact
    // (+2e6) and near (+1e6) copies must land WITH their originals
    val byAnchor = safe.join(clusters.select($"doc_id", $"cluster"), Seq("doc_id"))
      .groupBy($"cluster").agg(countDistinct($"split").as("nsplits"))
    assert(byAnchor.filter($"nsplits" > 1).count() === 0,
      "a duplicate cluster straddled train/val/test")
    // the planted pairs specifically (near-dups differ in text, so the
    // naive per-doc hash would split ~2% of them at these permilles —
    // this is the leak the operator closes)
    val planted = safe.as("a").join(safe.as("b"),
        col("b.doc_id") === col("a.doc_id") + 1000000L)
      .select(col("a.split"), col("b.split"))
    assert(planted.filter(col("a.split") =!= col("b.split")).count() === 0)
    // docs in NO cluster keep assignSplit's exact assignment
    val member = clusters.select($"doc_id")
    val naive = Curation.assignSplit(c).select($"doc_id", $"split".as("naive_split"))
    val solo = safe.join(member, Seq("doc_id"), "left_anti")
      .join(naive, Seq("doc_id"))
    assert(solo.filter($"split" =!= $"naive_split").count() === 0,
      "singleton docs must split exactly as assignSplit")
    // anchors are cluster roots: member rows carry anchor == cluster
    val wrongAnchor = safe.join(clusters, Seq("doc_id"))
      .filter($"anchor" =!= $"cluster")
    assert(wrongAnchor.count() === 0)
  }

  test("narrow curation ops run unchanged on a stream (stateless, no window)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val streamDocs = input.toDF().toDF("doc_id", "lang", "text")
    // sampling + redaction + normalization are pure per-row transforms:
    // the same operator objects compose into readStream pipelines
    val out = Curation.redact(
        Curation.sampleStratified(streamDocs)
          .join(streamDocs, Seq("doc_id", "lang")))
      .writeStream.format("memory").queryName("cur_stream").outputMode("append").start()
    input.addData((1L, "en", "contact a@b.co now"), (2L, "de", "nichts"))
    out.processAllAvailable(); out.stop()
    val got = spark.table("cur_stream")
    // every emitted row went through sample → redact with real values
    assert(got.columns.contains("redacted_fp"))
    assert(got.filter($"n_emails".isNull).count() === 0)
    // the gopher rule gate is a narrow map too: same stream, per-rule flags
    val g = TextAnalysis.gopherRules(streamDocs)
      .writeStream.format("memory").queryName("gopher_stream").outputMode("append").start()
    input.addData((3L, "en", "the of " + (1 to 20).map(_ => "window").mkString(" ")))
    g.processAllAvailable(); g.stop()
    assert(spark.table("gopher_stream").filter($"doc_id" === 3L && $"pass").count() === 1)
  }

  test("stratified sample: deterministic, and equal texts sample identically") {
    val a = Curation.sampleStratified(docs).select($"doc_id").as[Long].collect().toSet
    val b = Curation.sampleStratified(docs).select($"doc_id").as[Long].collect().toSet
    assert(a === b) // no RNG anywhere
    // a duplicated text must make the same keep/drop decision as its source
    val dup = docs.withColumn("doc_id", $"doc_id" + 5000000L)
    val kept2 = Curation.sampleStratified(docs.unionByName(dup))
      .select($"doc_id").as[Long].collect().toSet
    assert(kept2.filter(_ < 5000000L) === a)
    assert(kept2.filter(_ >= 5000000L).map(_ - 5000000L) === a)
  }

  test("stratified sample: en is downsampled less aggressively than the tail") {
    val rates = Curation.sampleStratified(docs).groupBy($"lang").count()
      .join(docs.groupBy($"lang").count().withColumnRenamed("count", "total"), "lang")
      .select($"lang", ($"count" / $"total").as("rate"))
      .as[(String, Double)].collect().toMap
    // hash buckets are uniform-ish; generous tolerance at corpus size
    assert(rates("en") > 0.35 && rates("en") < 0.65)
    for ((l, r) <- rates if l != "en" && l != "de") assert(r < 0.25, s"$l rate $r")
  }

  test("packing: offsets stay inside the budget and packs fill in doc order") {
    val p = Curation.packSequences(docs, budget = 512).cache()
    assert(p.filter($"pack_offset" < 0 || $"pack_offset" >= 512).count() === 0)
    // cumulative reconstruction: pack_id*budget + offset == exclusive cumsum
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val bad = p
      .withColumn("expect", coalesce(sum($"n_tokens").over(w), lit(0L)))
      .filter($"pack_id" * 512 + $"pack_offset" =!= $"expect")
    assert(bad.count() === 0)
    // pack ids are dense per lang: every id up to the max appears
    val ids = p.groupBy($"lang").agg(max($"pack_id").as("mx"), count_distinct($"pack_id").as("n"))
      .filter($"n" =!= $"mx" + 1)
    assert(ids.count() === 0)
  }

  test("packing: hierarchical scan (small blocks) equals the flat cumsum") {
    // block=8 forces many blocks per lang, exercising the block-base join;
    // the flat single-window layout is the ground truth
    val hier = Curation.packSequences(docs, budget = 512, block = 8)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val flat = hier.select($"doc_id", $"lang", $"n_tokens")
      .withColumn("cum_excl", coalesce(sum($"n_tokens").over(w), lit(0L)))
    val bad = hier.join(flat.select($"doc_id",
        ($"cum_excl" / 512).cast("long").as("e_pack"), ($"cum_excl" % 512).as("e_off")), "doc_id")
      .filter($"pack_id" =!= $"e_pack" || $"pack_offset" =!= $"e_off")
    assert(bad.count() === 0)
  }

  test("BPE packing: conservation, budget bounds, and the pack reconciliation on BPE lengths") {
    val p = Curation.packSequencesBpe(docs, budget = 512, block = 8).cache()
    // conservation: Σ packed n_tokens ≡ Σ per-doc BPE subword lengths
    val packedSum = p.agg(sum($"n_tokens")).as[Long].head()
    val bpeSum = graft.operators.TextAnalysis.bpeSegment(docs)
      .agg(sum($"n_subwords")).as[Long].head()
    assert(packedSum === bpeSum,
      s"packed BPE token mass $packedSum != per-doc BPE mass $bpeSum")
    // the whitespace packer's reconciliation, re-run on the BPE spelling:
    // offsets inside the budget, pack_id·budget + offset == the exclusive
    // flat cumsum of BPE lengths, pack ids dense per lang
    assert(p.filter($"pack_offset" < 0 || $"pack_offset" >= 512).count() === 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val bad = p
      .withColumn("expect", coalesce(sum($"n_tokens").over(w), lit(0L)))
      .filter($"pack_id" * 512 + $"pack_offset" =!= $"expect")
    assert(bad.count() === 0)
    val ids = p.groupBy($"lang").agg(max($"pack_id").as("mx"), count_distinct($"pack_id").as("n"))
      .filter($"n" =!= $"mx" + 1)
    assert(ids.count() === 0)
    // BPE budgets differ from whitespace budgets (the point of the op):
    // at least one doc's BPE cost != its whitespace token count
    val ws = Curation.packSequences(docs, budget = 512, block = 8)
      .select($"doc_id", $"n_tokens".as("ws_tokens"))
    assert(p.join(ws, "doc_id").filter($"n_tokens" =!= $"ws_tokens").count() > 0,
      "fixture lost its power: BPE lengths should differ from whitespace lengths")
  }

  test("fimSplits: segment conservation, nonempty splits, content determinism, mode partition") {
    val real = graft.sources.Tables.documents(spark, Sf)
    val out = Curation.fimSplits(real).cache()
    // conservation: the three segments partition every doc exactly
    assert(out.filter($"prefix_len" + $"middle_len" + $"suffix_len" =!= $"n_tokens")
      .count() === 0)
    // applied rows: all three segments nonempty and n >= 3
    assert(out.filter($"mode" =!= "plain" &&
      ($"prefix_len" < 1 || $"middle_len" < 1 || $"suffix_len" < 1 || $"n_tokens" < 3))
      .count() === 0)
    // plain rows pass through whole
    assert(out.filter($"mode" === "plain" &&
      ($"prefix_len" =!= $"n_tokens" || $"middle_len" =!= 0L || $"suffix_len" =!= 0L))
      .count() === 0)
    val modes = out.select($"mode").distinct().collect().map(_.getString(0)).toSet
    assert(modes.subsetOf(Set("plain", "psm", "spm")))
    assert(modes.contains("psm") && modes.contains("spm"),
      "both document orders must occur on a real corpus")
    // ~0.9 FIM rate on eligible docs (hash draw; generous band)
    val elig = out.filter($"n_tokens" >= 3)
    val rate = elig.filter($"mode" =!= "plain").count().toDouble / elig.count()
    assert(rate > 0.8 && rate < 0.97, s"FIM apply rate off the 0.9 draw: $rate")
    // determinism by CONTENT: duplicate texts split identically
    val dup = Seq((1L, "a b c d e f", "en"), (2L, "a b c d e f", "de"))
      .toDF("doc_id", "text", "lang")
    val ds = Curation.fimSplits(dup)
      .select($"prefix_len", $"middle_len", $"suffix_len", $"mode")
      .distinct().count()
    assert(ds === 1L, "identical texts must draw identical splits")
  }

  test("spanCorruption: island accounting and the T5 length invariant") {
    val real = graft.sources.Tables.documents(spark, Sf)
    val out = Curation.spanCorruption(real).cache()
    assert(out.count() === real.count(), "uncorrupted docs are rows, not absence")
    // the T5 invariant: input + target = n + 2·spans (one sentinel each side)
    assert(out.filter($"input_len" + $"target_len" =!= $"n_tokens" + lit(2) * $"n_spans")
      .count() === 0)
    // every span holds >= 1 token; zero spans ⟺ zero corrupted
    assert(out.filter($"n_corrupted" < $"n_spans").count() === 0)
    assert(out.filter(($"n_spans" === 0L) =!= ($"n_corrupted" === 0L)).count() === 0)
    // corpus-level corruption mass tracks the 15% band (hash draw)
    val agg = out.agg(sum($"n_corrupted").cast("double"), sum($"n_tokens").cast("double"))
      .as[(Double, Double)].head()
    val frac = agg._1 / agg._2
    assert(frac > 0.10 && frac < 0.20, s"corruption mass off the 15% band: $frac")
    // independent plain-Scala reference on one doc (same hash arithmetic)
    val text = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    def refHash(w: String): Long = {
      var h = 7L; var i = 0
      while (i < w.length) { h = (h * 31L + w.codePointAt(i)) % 1000000007L; i += 1 }
      h
    }
    val h = refHash(text)
    val corr = (0 until 12).filter(p =>
      ((h + (p + 1) * 2654435761L) % 1000000007L) % 20 < 3)
    val spans = corr.zipWithIndex.count { case (p, i) => i == 0 || corr(i - 1) != p - 1 }
    val one = Curation.spanCorruption(
        Seq((9L, text, "en")).toDF("doc_id", "text", "lang")).collect().head
    assert(one.getAs[Long]("n_corrupted") === corr.size.toLong)
    assert(one.getAs[Long]("n_spans") === spans.toLong)
  }

  test("chunking: strided starts, bounded sizes, full coverage") {
    val c = Curation.chunk(docs, size = 64, stride = 48).cache()
    assert(c.filter($"n_chunk_tokens" < 1 || $"n_chunk_tokens" > 64).count() === 0)
    assert(c.filter($"start" =!= $"chunk_id" * 48).count() === 0)
    // chunk count per doc = ceil(nt / stride); with overlap every token is
    // covered because size > stride
    val stats = graft.operators.TextAnalysis.stats(docs).select($"doc_id", $"n_tokens")
    val bad = c.groupBy($"doc_id").count().join(stats, "doc_id")
      .filter($"count" =!= ceil($"n_tokens" / 48.0).cast("long"))
    assert(bad.count() === 0)
  }

  test("redaction replaces emails and long digit runs, counts match") {
    val df = Seq(
      (1L, "en", "contact bob.smith+x@ex-ample.org or 1234567 now"),
      (2L, "en", "clean text only"),
      (3L, "en", "two mails a@b.co c@d.io and 99999 short")
    ).toDF("doc_id", "lang", "text")
    val out = Curation.redact(df).as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) === ((1L, 1L)))
    assert(out(2L) === ((0L, 0L)))
    assert(out(3L) === ((2L, 0L))) // 99999 is only 5 digits
    // fingerprint of doc 2 equals the hash of its unchanged text
    val fp = Curation.redact(df).filter($"doc_id" === 2L).select($"redacted_fp").as[Long].head()
    val raw = df.filter($"doc_id" === 2L)
      .select(graft.functions.TextFunctions.stringHash($"text")).as[Long].head()
    assert(fp === raw)
  }

  test("bottom-k group sample: deterministic, k per group, ids from the group") {
    val a = Curation.groupSample(docs, k = 4).as[(String, Seq[Long])].collect().toMap
    val b = Curation.groupSample(docs, k = 4).as[(String, Seq[Long])].collect().toMap
    assert(a === b)
    val byLang = docs.select($"lang", $"doc_id").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for ((lang, ids) <- a) {
      assert(ids.size === math.min(4, byLang(lang).size))
      assert(ids.forall(byLang(lang).contains))
    }
  }

  test("boilerplate: shared fragments flagged at the minDocs bar, unique docs score 0") {
    val df = Seq(
      (1L, "en", "copyright acme corp all rights reserved alpha"),
      (2L, "en", "copyright acme corp all rights reserved beta"),
      (3L, "en", "copyright acme corp all rights reserved gamma"),
      (4L, "en", "totally original content nothing shared here")
    ).toDF("doc_id", "lang", "text")
    val r = graft.operators.TextAnalysis.boilerplate(df, minDocs = 3)
      .select($"doc_id", $"n_shingles", $"n_boiler").as[(Long, Long, Long)]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    // 'copyright acme corp' … 'all rights reserved' = 4 trigrams in all 3 docs
    for (id <- Seq(1L, 2L, 3L)) assert(r(id) === ((5L, 4L)), s"doc $id")
    assert(r(4L)._2 === 0L)
  }

  test("source cap: deterministic, exactly cap per source, rerun-stable") {
    val a = Curation.sourceCap(docs, cap = 5).as[(String, Seq[Long])].collect().toMap
    val b = Curation.sourceCap(docs, cap = 5).as[(String, Seq[Long])].collect().toMap
    assert(a === b)
    val bySource = docs.select($"source", $"doc_id").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for ((src, ids) <- a) {
      assert(ids.size === math.min(5, bySource(src).size))
      assert(ids.forall(bySource(src).contains))
    }
  }

  test("source mix merge: incremental snapshots merge exactly to the full-corpus table") {
    // split the corpus into two "increments", mix each, merge the SMALL
    // per-source tables — must equal re-scanning everything at once
    val a = docs.filter($"doc_id" % 2 === 0)
    val b = docs.filter($"doc_id" % 2 =!= 0)
    val merged = Curation.sourceMixMerge(Curation.sourceMix(a), Curation.sourceMix(b))
    val full = Curation.sourceMix(docs)
    assert(merged.exceptAll(full).isEmpty && full.exceptAll(merged).isEmpty)
  }

  test("quality histogram: bins partition the corpus, ranges nested in bins") {
    val h = Curation.qualityHistogram(docs).cache()
    // every scored doc lands in exactly one bin
    val scored = TextAnalysis.quality(docs).filter($"quality".isNotNull).count()
    assert(h.agg(sum($"n")).as[Long].head() === scored)
    // min/max of each bin stay inside the bin's value range (clamped ends
    // open; ±1 ulp slack — q*20 can round across a boundary computed as
    // bin/20, which is why the BIN, not this recomputation, is canonical)
    val eps = 1e-12
    val bad = h.filter($"bin" > 0 && $"bin" < 19 &&
      ($"q_min" < $"bin".cast("double") / 20.0 - eps ||
        $"q_max" >= ($"bin" + 1).cast("double") / 20.0 + eps))
    assert(bad.count() === 0)
  }

  test("quality CDF: matches a driver-side exact midrank over bins, covers all scored docs") {
    val r = Curation.qualityCdfNormalize(docs).cache()
    val scored = TextAnalysis.quality(docs).filter($"quality".isNotNull).count()
    assert(r.count() === scored)
    // q_cdf is a strict-interior probability (midrank can't hit 0 or 1)
    assert(r.filter($"q_cdf" <= 0.0 || $"q_cdf" >= 1.0).count() === 0)
    // recompute the midrank CDF naively on the driver (fine at test sf)
    val got = r.select($"doc_id", $"source", $"quality", $"q_cdf")
      .as[(Long, String, Double, Double)].collect()
    val bins = got.map { case (id, src, q, cdf) =>
      (id, src, math.max(0L, math.min(63L, math.floor(q * 64).toLong)), cdf)
    }
    for ((_, perSrc) <- bins.groupBy(_._2)) {
      val histo = perSrc.groupBy(_._3).view.mapValues(_.length.toLong).toMap
      val n = perSrc.length.toDouble
      for ((id, _, bin, cdf) <- perSrc) {
        val below = histo.filter(_._1 < bin).values.sum
        val expect = (below + 0.5 * histo(bin)) / n
        assert(math.abs(cdf - expect) < 1e-12, s"doc $id")
      }
    }
    // within a source, the CDF is monotone in the bin (calibration property)
    for ((_, perSrc) <- bins.groupBy(_._2);
         pair <- perSrc.sortBy(x => (x._3, x._1)).sliding(2).map(_.toSeq)) pair match {
      case Seq(a, b) if a._3 < b._3 => assert(a._4 < b._4)
      case _ => ()
    }
    r.unpersist()
  }

  test("mixture weights: exact integer sqrt, probabilities normalize, α flattens the mix") {
    val m = Curation.mixtureWeights(docs).cache()
    val rows = m.select($"source", $"n_tokens", $"w_alpha", $"p_sample", $"p_natural")
      .as[(String, Long, Long, Double, Double)].collect()
    for ((_, nt, w, _, _) <- rows)
      assert(w === math.floor(math.sqrt(nt.toDouble)).toLong)
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-9)
    assert(math.abs(rows.map(_._5).sum - 1.0) < 1e-9)
    // α < 1 flattens: the biggest source samples BELOW its natural share,
    // the smallest above (only meaningful when sizes actually differ)
    val big = rows.maxBy(_._2); val small = rows.minBy(_._2)
    if (big._2 > small._2 * 11 / 10) {
      assert(big._4 < big._5, s"big source not flattened: $big")
      assert(small._4 > small._5, s"small source not lifted: $small")
    }
    m.unpersist()
  }

  test("length buckets: ranges nest in [2^b, 2^(b+1)), totals partition the corpus") {
    val lb = Curation.lengthBuckets(docs).cache()
    val rows = lb.select($"lang", $"bucket", $"cap", $"n_docs", $"sum_tokens",
        $"nt_min", $"nt_max", $"pad_waste")
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.map(_._4).sum === docs.count())
    for ((_, b, cap, n, st, lo, hi, waste) <- rows) {
      assert(cap === (1L << (b + 1)) - 1)
      if (b > 0) assert(lo >= (1L << b), s"bucket $b min $lo below range")
      assert(hi <= cap, s"bucket $b max $hi above cap")
      // pad accounting is exact: waste = n·cap − Σnt
      assert(waste === n * cap - st)
    }
    lb.unpersist()
  }

  test("source mix: shares sum to 1 and totals add up") {
    val m = Curation.sourceMix(docs).cache()
    val nDocs = docs.count()
    assert(m.agg(sum($"n_docs")).as[Long].head() === nDocs)
    val shareSum = m.agg(sum($"doc_share")).as[Double].head()
    assert(math.abs(shareSum - 1.0) < 1e-9)
    // chars roll up to the table's own n_chars sum
    assert(m.agg(sum($"sum_chars")).as[Long].head() ===
      docs.agg(sum($"n_chars")).as[Long].head())
  }

  test("decontamination flags docs overlapping the eval set; disjoint docs pass") {
    val train = Seq(
      (1L, "en", "alpha beta gamma delta epsilon"), // shares 'alpha beta gamma' with eval
      (2L, "en", "one two three four five")         // disjoint
    ).toDF("doc_id", "lang", "text")
    val eval_ = Seq((100L, "en", "alpha beta gamma zeta")).toDF("doc_id", "lang", "text")
    val flagged = graft.operators.TextAnalysis.contaminated(train, eval_)
      .as[Long].collect().toSet
    assert(flagged === Set(1L))
  }

  test("contamination fraction: exact per-doc overlap ratio, flag at minFrac") {
    val train = Seq(
      (1L, "en", "alpha beta gamma delta epsilon"), // 2 of 3 shingles hit
      (2L, "en", "one two three four five"),        // disjoint → 0.0
      (3L, "en", "alpha beta gamma zeta")           // 1 of 2 shingles hit
    ).toDF("doc_id", "lang", "text")
    val eval_ = Seq((100L, "en", "alpha beta gamma delta kappa")).toDF("doc_id", "lang", "text")
    val r = graft.operators.TextAnalysis.contaminationFraction(train, eval_, minFrac = 0.5)
      .select($"doc_id", $"n_shingles", $"n_hit", $"contam_frac", $"flagged")
      .as[(Long, Long, Long, Double, Boolean)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4, t._5))).toMap
    assert(r(1L) === ((3L, 2L, 2.0 / 3.0, true)))
    assert(r(2L) === ((3L, 0L, 0.0, false)))
    assert(r(3L) === ((2L, 1L, 0.5, true)))
    // consistency with the binary flag: n_hit > 0 ⟺ contaminated
    val docs = Tables.documents(spark, Sf)
    val tr = docs.filter($"doc_id" % 50 =!= 0)
    val ev = docs.filter($"doc_id" % 50 === 0)
    val binary = graft.operators.TextAnalysis.contaminated(tr, ev).as[Long].collect().toSet
    val graded = graft.operators.TextAnalysis.contaminationFraction(tr, ev)
      .filter($"n_hit" > 0).select($"doc_id").as[Long].collect().toSet
    assert(graded === binary)
  }

  test("token counting: BPE-ish pretokens split punctuation/digit runs off words") {
    val df = Seq((1L, "en", "key agg row scan 42 don't stop-word x9y"))
      .toDF("doc_id", "lang", "text")
    val r = graft.operators.TextAnalysis.tokenCounts(df)
      .select($"n_ws_tokens", $"n_bpe_tokens").as[(Long, Long)].head()
    // 8 whitespace words; pretokens: key/agg/row/scan/42/don/'/t/stop/-/word/x/9/y
    assert(r === ((8L, 14L)))
  }

  test("gopher rules: each rule fires on its designed violation") {
    val good = (1 to 20).map(_ => "window").mkString("the of ", " ", "") // 22 toks, stops, alpha
    val df = Seq(
      (1L, "en", good),                               // passes everything
      (2L, "en", "the of tiny"),                      // r_len: 3 < 10 tokens
      (3L, "en", (1 to 20).map(_ => "scan").mkString(" ")), // r_stop: 0 stopwords
      (4L, "en", "the of " + (1 to 20).map(_ => "12345678901").mkString(" ")), // r_alpha + r_avglen
      (5L, "en", "   ")                               // empty: null ratios → fail
    ).toDF("doc_id", "lang", "text")
    val r = TextAnalysis.gopherRules(df)
      .select($"doc_id", $"r_len", $"r_avglen", $"r_alpha", $"r_stop", $"pass")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().map(t => t._1 -> t).toMap
    assert(r(1L)._6, "good doc must pass")
    assert(!r(2L)._2 && !r(2L)._6, "short doc fails r_len")
    assert(!r(3L)._5 && !r(3L)._6, "stopword-free doc fails r_stop")
    assert(!r(4L)._4 && !r(4L)._3 && !r(4L)._6, "digit-run doc fails r_alpha and r_avglen")
    assert(!r(5L)._6, "empty doc fails")
  }

  test("oov rate: tokens outside the top-k vocabulary are counted, in-vocab docs score 0") {
    val df = Seq(
      (1L, "en", "scan scan scan join join"),  // all in a k=2 vocab {scan, join}
      (2L, "en", "scan join rare1 rare2"),     // 2 of 4 OOV
      (3L, "en", "rare3 rare4")                // all OOV
    ).toDF("doc_id", "lang", "text")
    val r = TextAnalysis.oovRate(df, k = 2)
      .select($"doc_id", $"oov_rate").as[(Long, Double)].collect().toMap
    assert(r(1L) === 0.0)
    assert(r(2L) === 0.5)
    assert(r(3L) === 1.0)
  }

  test("budget select: per-source quality-ordered prefix, straddler kept, rerun-stable") {
    val budget = 800L
    val got = Curation.budgetSelect(docs, budget)
      .select($"doc_id", $"source", $"cum_excl").as[(Long, String, Long)]
      .collect()
    assert(got.nonEmpty && got.forall(_._3 < budget))
    // simulate the selection from the quality frame and require exact match
    val q = TextAnalysis.quality(docs, passthrough = Seq("source"), emitTokens = true)
      .filter($"quality".isNotNull)
      .select($"doc_id", $"source", $"quality", $"n_tokens")
      .as[(Long, String, Double, Long)].collect()
    val expect = q.groupBy(_._2).flatMap { case (_, rows) =>
      val ordered = rows.sortBy(r => (-r._3, r._1))
      val cums = ordered.scanLeft(0L)(_ + _._4)
      ordered.zip(cums).takeWhile(_._2 < budget).map(_._1._1).toSeq
    }.toSet
    assert(got.map(_._1).toSet === expect)
    // selection is a quality-ordered PREFIX: nothing kept ranks below a drop
    val gotSet = got.map(_._1).toSet
    for ((src, rows) <- q.groupBy(_._2)) {
      val ordered = rows.sortBy(r => (-r._3, r._1)).map(_._1)
      val keptIdx = ordered.zipWithIndex.filter(p => gotSet(p._1)).map(_._2)
      if (keptIdx.nonEmpty)
        assert(keptIdx.max === keptIdx.size - 1, s"non-prefix selection in $src")
    }
  }

  test("repetition ratio: repeated trigrams score > 0, unique docs score 0") {
    val df = Seq(
      (1L, "en", "a b c a b c a b c"), // trigram 'a b c' repeats
      (2L, "en", "p q r s t u v w")    // all trigrams distinct
    ).toDF("doc_id", "lang", "text")
    val r = graft.operators.TextAnalysis.repetition(df)
      .select($"doc_id", $"rep_ratio").as[(Long, Double)].collect().toMap
    assert(r(1L) > 0.2)
    assert(r(2L) === 0.0)
  }

  test("quality gate keeps only the upper quantile, per language") {
    val kept = Curation.qualityFilter(docs, minRank = 0.1).cache()
    val all = TextAnalysis.quality(docs)
      .join(docs.select($"doc_id", $"lang"), "doc_id")
      .filter($"quality".isNotNull)
    // every dropped doc's quality is <= every kept doc's quality (per lang)
    val worstKept = kept.groupBy($"lang").agg(min($"quality").as("kmin"))
    val dropped = all.join(kept.select($"doc_id"), Seq("doc_id"), "left_anti")
    val bad = dropped.join(worstKept, "lang").filter($"quality" > $"kmin")
    assert(bad.count() === 0)
    // and it actually drops something but keeps ~90%
    val (nAll, nKept) = (all.count(), kept.count())
    assert(nKept < nAll && nKept >= (nAll * 0.85).toLong)
  }

  test("split balance: counts reconcile with assignSplit, permille arithmetic exact, rows bounded") {
    val bal = Curation.splitBalance(docs).collect()
    val splits = Curation.assignSplit(docs)
      .groupBy($"lang", $"split").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(bal.nonEmpty && bal.length <= splits.keys.map(_._1).toSet.size * 3,
      "output bounded by |langs|·3")
    for (r <- bal) {
      val (lang, split) = (r.getString(0), r.getString(1))
      val (n, tot) = (r.getLong(2), r.getLong(3))
      assert(n === splits((lang, split)), s"count drift for ($lang,$split)")
      assert(r.getLong(4) === n * 1000L / tot, "observed permille must be exact integer div")
      val exp = split match { case "train" => 980L; case "val" => 10L; case _ => 10L }
      assert(r.getLong(5) === exp && r.getLong(6) === r.getLong(4) - exp)
    }
    // per-lang totals really are the lang's doc count
    val langTotals = bal.groupBy(_.getString(0)).map { case (l, rs) =>
      l -> rs.map(_.getLong(2)).sum
    }
    for (r <- bal)
      assert(r.getLong(3) === langTotals(r.getString(0)), "lang_total must reconcile")
  }

  test("source drift: hand-computed TVD; identical sources at 0, disjoint vocab at 1") {
    import spark.implicits._
    def drift(rows: (Long, String, String)*): Map[String, Double] =
      Curation.sourceDrift(rows.toDF("doc_id", "source", "text"))
        .select($"source", $"tvd").as[(String, Double)].collect().toMap
    // A: "a a b" (2/3, 1/3) vs rest B: "a b b b" (1/4, 3/4)
    // TVD = (|2/3-1/4| + |1/3-3/4|) / 2 = 5/12, symmetric with 2 sources
    val two = drift((1L, "A", "a a b"), (2L, "B", "a b b b"))
    assert(two("A") == 5.0 / 12.0 && two("B") == 5.0 / 12.0)
    // identical distributions → 0 (also exercises multi-doc sources)
    val same = drift((1L, "A", "p q"), (2L, "A", "q p"), (3L, "B", "q p p q"))
    assert(same("A") == 0.0 && same("B") == 0.0)
    // disjoint vocabularies → 1 (exercises the absent-word algebra)
    val disj = drift((1L, "A", "x x"), (2L, "B", "y y"))
    assert(disj("A") == 1.0 && disj("B") == 1.0)
  }

  test("packStats: hand-computed packs, utilization and boundary-split rate") {
    import org.apache.spark.sql.functions._
    // 1000/1500/600 tokens at budget 2048: doc 2 starts at offset 1000
    // and crosses the boundary; total 3100 → 2 packs, util 3100/4096
    val docs = Seq(
      (1L, "xx", ("w " * 1000).trim),
      (2L, "xx", ("w " * 1500).trim),
      (3L, "xx", ("w " * 600).trim)).toDF("doc_id", "lang", "text")
    val r = graft.operators.Curation.packStats(docs).collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getLong(1) === 3L && row.getLong(2) === 3100L)
    assert(row.getLong(3) === 2L, "ceil(3100/2048) packs")
    assert(row.getDouble(4) === 3100.0 / 4096.0)
    assert(row.getLong(5) === 333L, "1 of 3 docs crosses a boundary")
    // invariants on the real corpus
    val real = graft.operators.Curation.packStats(
      graft.sources.Tables.documents(spark, Sf)).collect()
    real.foreach { x =>
      assert(x.getDouble(4) > 0.0 && x.getDouble(4) <= 1.0)
      assert(x.getLong(5) >= 0L && x.getLong(5) <= 1000L)
    }
  }

  test("epochShuffle: exactly-once per epoch, contiguous positions, epochs differ, reruns agree") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, Sf)
    val n = docs.count()
    val out = graft.operators.Curation.epochShuffle(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // every doc appears exactly once per epoch
    (0L to 1L).foreach { e =>
      val ep = out.filter(_._1 == e)
      assert(ep.length.toLong === n, s"epoch $e lost or duplicated docs")
      assert(ep.map(_._3).distinct.length.toLong === n)
      // positions are 1..|shard| contiguous within every shard
      ep.groupBy(_._2).foreach { case (sh, rows) =>
        assert(rows.map(_._4).sorted.toSeq === (1L to rows.length).toSeq,
          s"epoch $e shard $sh positions not contiguous")
      }
    }
    // the two epochs genuinely reshuffle: most docs change (shard, pos)
    val byDoc = out.groupBy(_._3)
    val moved = byDoc.count { case (_, rows) =>
      val a = rows.find(_._1 == 0L).get; val b = rows.find(_._1 == 1L).get
      (a._2, a._4) != (b._2, b._4)
    }
    assert(moved * 10 >= n * 8, s"epochs must produce different orders: $moved/$n moved")
    // rerun-stable: the shuffle is a pure function of (seed, epoch, id)
    val again = graft.operators.Curation.epochShuffle(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSet === again.toSet)
  }

  test("epochShuffle shard rule: window partitions on (epoch, shard); per-task sort work tracks nShards") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, Sf)
    // the pos window's exchange must partition on BOTH keys — a
    // partitioning that dropped shard would put each epoch through one
    // sort task regardless of nShards
    val plan = graft.operators.Curation.epochShuffle(docs, nShards = 64)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("hashpartitioning(epoch"),
      s"window exchange must hash on (epoch, shard):\n$plan")
    val partLine = plan.linesIterator
      .find(_.contains("hashpartitioning(epoch")).getOrElse("")
    assert(partLine.contains("shard"), s"shard missing from partitioning: $partLine")
    // per-task sort work ~ n/nShards: the biggest (epoch, shard) group
    // must shrink as nShards grows — the operating-rule claim
    def maxShard(nShards: Int): Long =
      graft.operators.Curation.epochShuffle(docs, nShards = nShards)
        .groupBy($"epoch", $"shard").count()
        .agg(max($"count")).head().getLong(0)
    val at8 = maxShard(8)
    val at64 = maxShard(64)
    assert(at64 < at8, s"scaled shards must shrink the max sort task: $at64 !< $at8")
    assert(at64 * 4 <= at8,
      s"8x the shards should cut the max task by well over 4x: $at8 -> $at64")
  }
}
