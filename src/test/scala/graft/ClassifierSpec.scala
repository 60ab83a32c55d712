package graft

import org.apache.spark.sql.functions._

import graft.operators.{Classifier, TextAnalysis}

/** Hashed quality-classifier distillation ([[Classifier]]): the full
  * quantized training loop is cross-checked against an independent
  * plain-Scala reimplementation (own tokenizer, hash, label, sigmoid,
  * rounding), learning is asserted on both a separable toy corpus and
  * the real corpus (accuracy must clearly beat the majority class), and
  * the degenerate/empty edges are pinned.
  */
class ClassifierSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------ independent reference

  private def refHash(w: String): Long = {
    if (w.isEmpty) 217L
    else {
      var h = 7L; var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        h = (h * 31L + cp) % 1000000007L
        i += Character.charCount(cp)
      }
      h
    }
  }

  private def refToks(text: String): Seq[String] =
    text.trim.toLowerCase.split("[ \t\n\f\r]+").toSeq.filter(_.nonEmpty)

  private def refLabel(toks: Seq[String]): Double = {
    val n = toks.size.toDouble
    val stop = toks.count(TextAnalysis.Stopwords.contains(_)) / n
    val short = toks.count(_.length <= 3) / n
    if (1.0 - stop * 0.5 - short * 0.3 >= Classifier.QualityThreshold) 1.0 else 0.0
  }

  private def refFeatures(text: String): Array[Double] = {
    val toks = refToks(text)
    val n = toks.size.toDouble
    val counts = Array.fill(Classifier.NumBuckets)(0L)
    toks.foreach(w => counts((refHash(w) % Classifier.NumBuckets).toInt) += 1)
    counts.map(c => c / n * Classifier.FeatScale) :+ 1.0
  }

  private def refRound(v: Double): Long =
    new java.math.BigDecimal(v).setScale(0, java.math.RoundingMode.HALF_UP).longValue

  private def refFit(texts: Seq[String], iters: Int): Array[Long] = {
    val rows = texts.filter(refToks(_).nonEmpty)
      .map(t => (refFeatures(t), refLabel(refToks(t))))
    val wq = Array.fill(Classifier.Dims)(0L)
    for (_ <- 1 to iters) {
      val sums = Array.fill(Classifier.Dims)(0L)
      rows.foreach { case (x, y) =>
        val z = (0 until Classifier.Dims).foldLeft(0.0)((acc, j) =>
          acc + (wq(j) / Classifier.Q) * x(j))
        val p = 0.5 + z / (2.0 * (1.0 + math.abs(z)))
        for (j <- 0 until Classifier.Dims)
          sums(j) += refRound((p - y) * x(j) * Classifier.Q)
      }
      for (j <- 0 until Classifier.Dims)
        wq(j) -= refRound(Classifier.Lr * sums(j) / rows.size)
    }
    wq
  }

  private def docsDf(texts: Seq[String]) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  private val toyTexts = Seq(
    "the and of to in is the a and of",                      // all stop+short → low quality
    "wonderful excellent magnificent extraordinary results", // long tokens → high quality
    "a is to of the and in a is to of the",
    "distributed aggregation pipelines converge gracefully today",
    "the of is and a to in the of is",
    "quantized gradient descent separates quality classes cleanly",
    "in a the of to is and in a the",
    "spark catalyst generates wholestage compiled iterators")

  // ------------------------------------------------------------- tests

  test("fused HashedTf features == the composable two-shuffle spelling bit-for-bit") {
    // the explode → (doc,bucket) count → per-doc roll-up spelling the
    // native expression replaced — kept here as the cross-check
    val docs = graft.sources.Tables.documents(spark, Sf)
    val toks = docs
      .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
    val shuffled = toks
      .select(col("doc_id"), explode(col("toks")).as("w"))
      .select(col("doc_id"),
        (graft.expressions.PolyHash.poly_hash(col("w")) % Classifier.NumBuckets).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"),
        map_from_entries(collect_list(struct(col("b"), col("c")))).as("m"))
      .select(col("doc_id"),
        concat(
          transform(sequence(lit(0), lit(Classifier.NumBuckets - 1)), j =>
            coalesce(element_at(col("m"), j.cast("long")), lit(0L)).cast("double") /
              col("n").cast("double") * lit(Classifier.FeatScale)),
          array(lit(1.0d))).as("x_ref"))
    val bad = Classifier.features(docs).join(shuffled, "doc_id")
      .filter(!(col("x") <=> col("x_ref")))
    assert(bad.count() === 0)
  }

  test("quantized training loop matches the independent reference bit-for-bit") {
    for (iters <- Seq(1, 3)) {
      val engine = Classifier.fitQuantized(
        Classifier.features(docsDf(toyTexts)), iters = iters)
      assert(engine.toSeq === refFit(toyTexts, iters).toSeq, s"iters=$iters")
    }
  }

  test("separable toy corpus trains to perfect accuracy") {
    val feat = Classifier.features(docsDf(toyTexts))
    val wq = Classifier.fitQuantized(feat)
    val w = array(wq.map(q => lit(q / Classifier.Q)): _*)
    val scored = feat
      .withColumn("z", graft.functions.VectorFunctions.dot(w, col("x")))
      .select(col("y"), (col("z") > 0).cast("double").as("pred"))
    val acc = scored.filter(col("y") === col("pred")).count().toDouble / scored.count()
    assert(acc === 1.0, s"toy corpus must separate, got $acc")
  }

  test("real corpus: distilled student clearly beats the majority class") {
    val docs = graft.sources.Tables.documents(spark, Sf)
    val scored = Classifier.score(docs, Sf)
    val n = scored.count().toDouble
    val acc = scored.filter(col("label_true") === col("pred")).count() / n
    val pos = scored.filter(col("label_true") === 1L).count() / n
    val majority = math.max(pos, 1 - pos)
    assert(acc > majority + 0.1,
      s"student acc $acc must beat majority $majority by a clear margin")
  }

  test("weights are shared between train and score (memo) and deterministic") {
    val docs = graft.sources.Tables.documents(spark, Sf)
    val a = Classifier.fitMemo(docs, Sf)
    val b = Classifier.fitMemo(docs, Sf)
    assert(a eq b, "second fit must hit the weight memo")
    Classifier.clearMemos()
    val c = Classifier.fitMemo(docs, Sf)
    assert(a.toSeq === c.toSeq, "refit after memo clear must reproduce the weights")
  }

  test("PR curve invariants: cumulative counts monotone, recall ends at 1, precision bounded") {
    val docs = graft.sources.Tables.documents(spark, Sf)
    val pr = Classifier.prCurve(docs, Sf).orderBy(col("band").desc).collect()
    assert(pr.nonEmpty)
    var lastCumN = 0L
    var lastCumTp = 0L
    pr.foreach { r =>
      val (n, cumN, cumTp) = (r.getLong(1), r.getLong(3), r.getLong(4))
      assert(cumN === lastCumN + n, "cum_n must accumulate band sizes top-down")
      assert(cumTp >= lastCumTp, "cum_tp must be nondecreasing")
      val p = r.getDouble(5)
      assert(p >= 0.0 && p <= 1.0)
      lastCumN = cumN; lastCumTp = cumTp
    }
    val last = pr.last
    assert(last.getDouble(6) === 1.0, "lowest threshold must reach full recall")
    val scored = Classifier.score(docs, Sf)
    assert(lastCumN === scored.count(), "bands must account for every scored doc")
    assert(lastCumTp === scored.filter(col("label_true") === 1L).count())
  }

  test("ROC-AUC equals an independent plain-Scala midrank computation") {
    val docs = graft.sources.Tables.documents(spark, Sf)
    val row = Classifier.rocAuc(docs, Sf).collect().head
    // independent reference: collect the scored frame, midrank by hand
    val scored = Classifier.score(docs, Sf)
      .select($"score_q", $"label_true").as[(Long, Long)].collect()
    val byScore = scored.groupBy(_._1).toSeq.sortBy(_._1)
    var c = 0L; var r2 = BigInt(0)
    byScore.foreach { case (_, rows) =>
      val n = rows.length.toLong
      val p = rows.map(_._2).sum
      r2 += BigInt(p) * (2 * c + n + 1)
      c += n
    }
    val nPos = scored.map(_._2).sum
    val nNeg = scored.length - nPos
    val expect = (BigDecimal(r2 - BigInt(nPos) * (nPos + 1)) /
      (BigDecimal(2) * BigDecimal(nPos) * BigDecimal(nNeg))).toDouble
    assert(row.getAs[Long]("n_pos") === nPos)
    assert(row.getAs[Long]("n_neg") === nNeg)
    assert(math.abs(row.getAs[Double]("auc") - expect) < 1e-12,
      s"auc ${row.getAs[Double]("auc")} vs reference $expect")
    // a student distilled FROM the teacher label must rank well above
    // chance even on the 50-doc sf0.001 corpus (measured 0.79 there)
    assert(row.getAs[Double]("auc") > 0.7)
  }

  test("per-source drift audit reconciles fully with the scored frame") {
    val docs = graft.sources.Tables.documents(spark, Sf)
    val by = Classifier.scoreBySource(docs, Sf).collect()
    assert(by.nonEmpty)
    val scored = Classifier.score(docs, Sf)
    // full accounting — every scored doc lands in exactly one source row
    assert(by.map(_.getLong(1)).sum === scored.count())
    by.foreach { r =>
      val (pp, tp) = (r.getLong(3), r.getLong(4))
      assert(pp >= 0 && pp <= 1000 && tp >= 0 && tp <= 1000)
    }
    // the permille totals reconcile with the scored frame's counts
    val posTotal = scored.filter(col("label_true") === 1L).count()
    val recon = by.map(r => r.getLong(4) * r.getLong(1)).sum / 1000
    assert(math.abs(recon - posTotal) <= by.length,
      s"integer-permille rounding can lose at most 1 doc per source: $recon vs $posTotal")
  }

  test("calibration bands: full accounting, mean_p inside its band, rates bounded") {
    val docs = graft.sources.Tables.documents(spark, Sf)
    val cal = Classifier.calibration(docs, Sf).collect()
    assert(cal.nonEmpty)
    // every scored doc lands in exactly one band
    assert(cal.map(_.getLong(1)).sum === Classifier.score(docs, Sf).count())
    cal.foreach { r =>
      val (band, n, nPos) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val (emp, meanP) = (r.getDouble(3), r.getDouble(4))
      assert(band >= 0 && band <= 9 && n > 0 && nPos >= 0 && nPos <= n)
      assert(emp >= 0.0 && emp <= 1.0)
      // the mean of p values banded into [band/10, (band+1)/10) stays in
      // the band (clamped edge bands may only absorb out-of-range mass
      // toward the clamp side); quantization slack is 2^-24 per doc
      assert(meanP >= band / 10.0 - 1e-6 || band == 0L,
        s"band $band mean_p $meanP below band floor")
      assert(meanP <= (band + 1) / 10.0 + 1e-6 || band == 9L,
        s"band $band mean_p $meanP above band ceiling")
    }
  }

  test("pipeline gate reconciles with q_doc_qclf_score: shared ids keep iff pred == 1") {
    // q_pipeline_qclf gates the dedup survivors through scoreOn; for
    // every survivor that IS an original document (same id ⇒ same text ⇒
    // same features), the gate decision must equal score()'s prediction —
    // the planted +1e6/+2e6 tiers are the only ids allowed to differ
    // (they never existed in the training table).
    val docs = graft.sources.Tables.documents(spark, Sf)
    import graft.operators.Dedup
    val c = Dedup.corpus(docs)
    val clean = Dedup.dedupedCorpus(c, Dedup.clustersFor(c, Sf))
    val gate = Classifier.scoreOn(docs, clean, Sf)
      .select(col("doc_id"), col("pred").as("gate_pred"))
    val scored = Classifier.score(docs, Sf)
      .select(col("doc_id"), col("pred"))
    val joined = gate.filter(col("doc_id") < 1000000L)
      .join(scored, Seq("doc_id")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getLong(1) === r.getLong(2),
        s"doc ${r.getLong(0)}: pipeline gate diverged from the scored frame")
    }
    // and the gate covers every tokenizable original survivor
    val survivors = clean.filter(col("doc_id") < 1000000L).count()
    assert(joined.length.toLong === survivors,
      "every original survivor must be scored exactly once by the gate")
  }

  test("multiclass lang fit: slice c is bit-identical to an independent binary fit") {
    // the batching invariant: one 165-slot gradient row per round IS
    // C independent binary fits — classes ride the same corpus pass
    val docs = Seq(
      (1L, "der hund läuft schnell weg", "de"),
      (2L, "die katze schläft hier gern", "de"),
      (3L, "the dog runs very fast", "en"),
      (4L, "a cat sleeps right here", "en"),
      (5L, "el perro corre muy lejos", "es"),
      (6L, "la gata duerme aquí bien", "es"),
      (7L, "le chien court très vite", "fr"),
      (8L, "wo de mao shui zhao le", "zh"))
      .toDF("doc_id", "text", "lang")
    val lf = Classifier.langFeatures(docs)
    val multi = Classifier.fitLangQuantized(lf)
    Classifier.Langs.zipWithIndex.foreach { case (l, c) =>
      val bin = Classifier.fitQuantized(
        lf.select(col("doc_id"),
          (col("lang") === l).cast("double").as("y"), col("x")))
      val slice = multi.slice(c * Classifier.Dims, (c + 1) * Classifier.Dims)
      assert(slice.toSeq === bin.toSeq,
        s"multiclass slice for '$l' diverged from the independent binary fit")
    }
  }

  test("multiclass lang student: separable corpus trains to a perfect diagonal") {
    Classifier.clearMemos()
    // disjoint vocabularies per lang — the signal the real synthetic
    // corpus lacks (shared vocab ⇒ majority-class collapse, which
    // q_doc_langclf's real read-out honestly shows)
    val vocab = Map(
      "de" -> Seq("der", "hund", "katze", "schnell", "hier"),
      "en" -> Seq("the", "dog", "cat", "fast", "there"),
      "es" -> Seq("el", "perro", "gato", "rapido", "aqui"),
      "fr" -> Seq("le", "chien", "chat", "vite", "ici"),
      "zh" -> Seq("gou", "mao", "kuai", "zher", "nar"))
    val docs = (for {
      (l, ws) <- vocab.toSeq
      i <- 0 until 8
    } yield {
      val text = (0 until 6).map(j => ws((i + j * 3) % ws.size)).mkString(" ")
      (l.hashCode.toLong * 100 + i, text, l)
    }).toDF("doc_id", "text", "lang")
    val lf = Classifier.langFeatures(docs)
    val wq = Classifier.fitLangQuantized(lf)
    val zCols = (0 until Classifier.LangC).map { c =>
      val wCol = array((0 until Classifier.Dims)
        .map(j => lit(wq(c * Classifier.Dims + j) / Classifier.Q)): _*)
      graft.functions.VectorFunctions.dot(wCol, col("x"))
    }
    val conf = lf.withColumn("zs", array(zCols: _*))
      .withColumn("pi", expr("array_position(zs, array_max(zs))"))
      .withColumn("pred_lang",
        element_at(array(Classifier.Langs.map(lit): _*), col("pi").cast("int")))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .collect()
    conf.foreach { r =>
      assert(r.getString(0) === r.getString(1),
        s"separable corpus must train to a perfect diagonal, got ${conf.toSeq}")
    }
    assert(conf.length === vocab.size)
  }

  test("char-trigram student generalizes to UNSEEN words; the word-hash student cannot") {
    // the fastText property: language lives at the character level. Two
    // langs with disjoint character alphabets; the student trains on one
    // word set and scores docs made ONLY of words never seen in training
    // (same alphabets). Trigram features map unseen words onto the
    // trigram buckets their language trained; hashed WORD features land
    // them in arbitrary buckets.
    val langs = Seq("aa", "bb")
    val train = (for (i <- 0 until 12) yield {
      val aw = Seq("ababa", "babab", "aabba", "bbaab")
      val bw = Seq("xyxyx", "yxyxy", "xxyyx", "yyxxy")
      Seq((100L + i, (0 until 5).map(j => aw((i + j) % aw.size)).mkString(" "), "aa"),
        (200L + i, (0 until 5).map(j => bw((i + j) % bw.size)).mkString(" "), "bb"))
    }).flatten.toDF("doc_id", "text", "lang")
    // unseen words, same alphabets (no whole-word overlap with training)
    val test = Seq(
      (900L, "abab baba ababab", "aa"),
      (901L, "aabab abbaa babba", "aa"),
      (910L, "xyxy yxyx xyxyxy", "bb"),
      (911L, "xxyxy xyyxx yxxyy", "bb")).toDF("doc_id", "text", "lang")
    val w3 = Classifier.fitLangQuantized(Classifier.langFeaturesNgram(train), langs = langs)
    val got3 = Classifier.langScore(Classifier.langFeaturesNgram(test), w3, langs)
      .select(col("doc_id"), col("lang"), col("pred_lang"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    got3.foreach { case (id, l, p) =>
      assert(l === p, s"trigram student failed on unseen-word doc $id: $got3") }
    // the word-hash student has no path to these docs' buckets
    val ww = Classifier.fitLangQuantized(Classifier.langFeatures(train), langs = langs)
    val gotW = Classifier.langScore(Classifier.langFeatures(test), ww, langs)
      .select(col("lang"), col("pred_lang"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(gotW.exists { case (l, p) => l != p },
      s"word-hash student should not classify every unseen word (hash luck changed?): ${gotW.toSeq}")
    // and in-vocabulary both students stay perfect (sanity)
    val inv = Classifier.langScore(Classifier.langFeaturesNgram(train), w3, langs)
      .filter(col("lang") =!= col("pred_lang")).count()
    assert(inv == 0, "trigram student must fit its separable training set")
  }

  test("lang class set is a parameter: topLangs derivation + a corpus beyond the default five") {
    // topLangs: top-C by doc count, ties → lang asc, output SORTED
    val d = Seq(
      (1L, "foo bar baz", "aa"), (2L, "foo foo qux", "aa"), (3L, "bar bar bar", "aa"),
      (4L, "alpha beta gamma", "bb"), (5L, "alpha alpha delta", "bb"),
      (6L, "uno dos tres", "cc"),
      (7L, "unus duo tres", "dd")).toDF("doc_id", "text", "lang")
    assert(Classifier.topLangs(d, 2) === Seq("aa", "bb"))
    // the count tie between cc and dd breaks to the earlier lang
    assert(Classifier.topLangs(d, 3) === Seq("aa", "bb", "cc"))
    // fit over a DERIVED class set none of whose members is a default
    // lang: weight layout sizes to the class count, slice c stays
    // bit-identical to the independent binary fit (the batching
    // invariant, re-pinned off the default set)
    val langs = Classifier.topLangs(d, 3)
    val lf = Classifier.langFeatures(d)
    val multi = Classifier.fitLangQuantized(lf, langs = langs)
    assert(multi.length === 3 * Classifier.Dims)
    langs.zipWithIndex.foreach { case (l, c) =>
      val bin = Classifier.fitQuantized(
        lf.select(col("doc_id"),
          (col("lang") === l).cast("double").as("y"), col("x")))
      assert(multi.slice(c * Classifier.Dims, (c + 1) * Classifier.Dims).toSeq === bin.toSeq,
        s"custom-class slice for '$l' diverged from the independent binary fit")
    }
  }

  test("zero-token documents are excluded; an all-empty corpus yields zero weights") {
    val mixed = docsDf(toyTexts :+ "   " :+ "")
    assert(Classifier.features(mixed).count() === toyTexts.size)
    val empty = Classifier.features(docsDf(Seq("", "  \t ")))
    assert(empty.count() === 0)
    // n = 0 guard: no update rounds apply, weights stay at init
    assert(Classifier.fitQuantized(empty).forall(_ == 0L))
  }
}
