package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.sources.Tables

/** Recall checks for the dedup suite: every planted duplicate pair must be
  * found by each method (precision is allowed to vary — LSH candidates may
  * include extra genuinely-similar pairs).
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, Sf)
  private lazy val corpus = Dedup.corpus(docs).cache()
  private lazy val plantedExact: Set[(Long, Long)] =
    docs.filter($"doc_id" % 20 === 0).select($"doc_id").as[Long].collect()
      .map(d => (d, d + 2000000L)).toSet
  private lazy val plantedNear: Set[(Long, Long)] =
    docs.filter($"doc_id" % 10 === 0).select($"doc_id").as[Long].collect()
      .map(d => (d, d + 1000000L)).toSet

  test("exact dedup finds exactly the planted exact-copy groups") {
    val groups = Dedup.exactDuplicates(corpus)
    assert(groups.count() === plantedExact.size)
    assert(groups.filter($"n_dups" =!= 2).count() === 0)
  }

  test("minhash LSH recalls all planted near and exact pairs") {
    val cands = Dedup.minhashCandidates(corpus)
      .as[(Long, Long)].collect().toSet
    val missing = (plantedExact ++ plantedNear) -- cands
    assert(missing.isEmpty, s"LSH missed planted pairs: $missing")
  }

  test("ngram jaccard >= 0.5 recalls planted pairs with high similarity") {
    val pairs = Dedup.ngramJaccardPairs(corpus)
      .select($"doc_a", $"doc_b", $"jaccard").as[(Long, Long, Double)].collect()
    val pairSet = pairs.map(p => (p._1, p._2)).toSet
    val missing = (plantedExact ++ plantedNear) -- pairSet
    assert(missing.isEmpty, s"jaccard missed planted pairs: $missing")
    // exact copies must score jaccard == 1.0
    val exacts = pairs.filter(p => plantedExact.contains((p._1, p._2)))
    assert(exacts.nonEmpty && exacts.forall(_._3 === 1.0))
  }

  test("cross-corpus dedup: every planted copy is flagged against its original") {
    val incoming = corpus.filter($"doc_id" >= 1000000L)
    val pairs = Dedup.crossCorpusDuplicates(incoming, docs.select($"doc_id", $"lang", $"text"))
      .select($"doc_new", $"doc_ref", $"jaccard").as[(Long, Long, Double)].collect()
    val found = pairs.map(p => (p._2, p._1)).toSet
    val missing = (plantedExact ++ plantedNear) -- found
    assert(missing.isEmpty, s"cross-corpus dedup missed planted pairs: $missing")
    // exact copies score 1.0 against their originals
    val exacts = pairs.filter(p => plantedExact.contains((p._2, p._1)))
    assert(exacts.nonEmpty && exacts.forall(_._3 === 1.0))
  }

  test("duplicate clusters: planted copy groups resolve to base doc as keeper") {
    // clustering runs on VERIFIED pairs (jaccard >= 0.5), never raw band
    // collisions — a band false positive must not glue unrelated docs
    val cands = Dedup.verifiedPairs(corpus)
    val clusters = Dedup.duplicateClusters(cands).cache()
    // every planted copy must sit in its base doc's cluster... unless two
    // base docs are genuinely near-identical — then the cluster id is the
    // component minimum, still <= the base id
    val byDoc = clusters.select($"doc_id", $"cluster").as[(Long, Long)].collect().toMap
    for ((base, copy) <- plantedExact ++ plantedNear) {
      assert(byDoc.contains(copy), s"copy $copy not clustered")
      assert(byDoc(copy) === byDoc(base), s"copy $copy not in base $base's cluster")
      assert(byDoc(copy) <= base)
    }
    // exactly one keeper per cluster, and it is the minimum member
    val bad = clusters.groupBy($"cluster")
      .agg(count(when($"is_keeper", 1)).as("nk"), min($"doc_id").as("mn"))
      .filter($"nk" =!= 1 || $"mn" =!= $"cluster")
    assert(bad.count() === 0)
    // candidate pairs always land in the same cluster (transitivity held)
    val pairsSame = cands.as[(Long, Long)].collect()
      .forall(p => byDoc(p._1) === byDoc(p._2))
    assert(pairsSame)
  }

  test("SimHashAgg fingerprint == explode formulation on the whole corpus") {
    val a = Dedup.simhash(corpus)
    val b = Dedup.simhashExplode(corpus).withColumnRenamed("simhash", "expected")
    val j = a.join(b, "doc_id").cache()
    // same doc set (docs with <3 tokens have no shingles in either form)
    assert(j.count() === a.count() && a.count() === b.count())
    assert(j.filter($"simhash" =!= $"expected").count() === 0)
  }

  test("dedupedCorpus removes every planted copy and keeps every base doc") {
    val kept = Dedup.dedupedCorpus(corpus).select($"doc_id").as[Long].collect().toSet
    val copies = (plantedExact ++ plantedNear).map(_._2)
    assert(copies.forall(!kept.contains(_)), "a planted copy survived dedup")
    // only base ids survive (copies all have +1M/+2M offsets)...
    val baseIds = docs.select($"doc_id").as[Long].collect().toSet
    assert((kept -- baseIds).isEmpty, "a copy id leaked through")
    // ...and the removed base docs are EXACTLY the cluster non-keepers
    // (base docs can be non-keepers when LSH merges genuinely-similar
    // docs — the smaller id wins)
    val nonKeepers = Dedup.duplicateClusters(Dedup.verifiedPairs(corpus))
      .filter(!$"is_keeper").select($"doc_id").as[Long].collect().toSet
    assert((baseIds -- kept) === (nonKeepers & baseIds))
  }

  test("span removal: exact copies fully shadowed, originals untouched, tokens conserved") {
    val rep = Dedup.spanRemovalReport(corpus).cache()
    val byId = rep.select($"doc_id", $"n_blocks", $"n_removed", $"kept_tokens")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // planted exact copies (base + 2M) lose EVERY block (base docs may
    // themselves share boilerplate blocks with earlier docs — that's the
    // operator working, not an error — but a copy can never keep one)
    plantedExact.foreach { case (base, copy) =>
      assert(byId(copy)._3 === byId(copy)._2, s"copy $copy must be fully shadowed")
      assert(byId(copy)._4 === 0L)
      assert(byId(base)._2 - byId(base)._3 > 0L,
        s"base $base must keep at least one block (texts are distinct)")
    }
    // near copies (+1M, 4-token tail): all pre-tail blocks shadow against
    // the base, so ≤2 blocks survive (2 = the 4 appended tokens overflow a
    // block boundary; 0 is legitimate — a base length ≡ 0 mod 20 makes the
    // tail block the literal 4 tail tokens, identical across every such
    // copy, and only the smallest id keeps it)
    plantedNear.foreach { case (_, copy) =>
      val kept = byId(copy)._2 - byId(copy)._3
      assert(kept <= 2L, s"near copy $copy kept $kept blocks, expected ≤ 2")
    }
    // full equivalence against an independent formulation: first-occurrence
    // via row_number window over the block key (same semantics, different
    // plan — sort-based instead of the packed-long min agg)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"para").orderBy($"doc_id", $"ord")
    val ref = Dedup.paragraphs(corpus)
      .withColumn("rn", row_number().over(w))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_blocks"),
        count(when($"rn" > 1, 1)).as("n_removed"),
        sum(when($"rn" === 1, size(split($"para", " ", -1)).cast("long"))
          .otherwise(lit(0L))).as("kept_tokens"))
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(byId === ref, "agg-min and window formulations must agree on every doc")
    // conservation: kept tokens across the report == tokens in the
    // paragraph-dedup'd corpus (same cut, two formulations)
    val keptViaReport = rep.agg(sum($"kept_tokens")).as[Long].head()
    val keptViaDedup = Dedup.paragraphDedup(corpus)
      .select(size(split($"text_kept", " ", -1)).cast("long").as("n"))
      .agg(sum($"n")).as[Long].head()
    assert(keptViaReport === keptViaDedup)
    rep.unpersist()
  }

  test("edit-distance verify: exact copies at 0, near copies at the appended tail length") {
    val ed = Dedup.editDistancePairs(corpus)
      .select($"doc_a", $"doc_b", $"edit_dist").as[(Long, Long, Long)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    for (p <- plantedExact) assert(ed.get(p).contains(0L), s"pair $p")
    // the planted near-dup is text + " graft near dup tail" → 20 insertions
    for (p <- plantedNear) assert(ed.get(p).contains(20L), s"pair $p")
  }

  test("winnow pairs recall planted dups; local paragraph overlap surfaces without LSH") {
    // exact copies share ALL fingerprints (df cap permitting); near
    // copies share the interior ones — every planted pair must appear
    val pairs = Dedup.winnowPairs(corpus)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val missing = (plantedExact ++ plantedNear) -- pairs
    assert(missing.isEmpty, s"winnow candidates missed planted pairs: $missing")

    // the differentiator vs whole-doc MinHash: a single copied
    // paragraph inside otherwise-disjoint docs still shares a run of
    // fingerprints (MOSS containment), even at tiny whole-doc Jaccard
    val para = (1 to 24).map(i => s"shared$i").mkString(" ")
    val fillerA = (1 to 200).map(i => s"alpha$i").mkString(" ")
    val fillerB = (1 to 200).map(i => s"beta$i").mkString(" ")
    val two = Seq(
      (1L, "en", s"$fillerA $para ${fillerA.reverse}"),
      (2L, "en", s"$fillerB $para ${fillerB.reverse}"))
      .toDF("doc_id", "lang", "text")
    val found = Dedup.winnowPairs(two)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(found === Set((1L, 2L)), "copied paragraph must surface as a candidate")
  }

  test("edit-distance verify: banded DP returns the same pairs+distances as the full DP") {
    val banded = Dedup.editDistancePairs(corpus)
      .select($"doc_a", $"doc_b", $"edit_dist").as[(Long, Long, Long)].collect().toSet
    val texts = corpus.select($"doc_id", $"text")
    val full = Dedup.minhashCandidates(corpus)
      .join(texts.select($"doc_id".as("doc_a"), $"text".as("text_a")), Seq("doc_a"))
      .join(texts.select($"doc_id".as("doc_b"), $"text".as("text_b")), Seq("doc_b"))
      .select($"doc_a", $"doc_b",
        levenshtein($"text_a", $"text_b").cast("long").as("edit_dist"))
      .filter($"edit_dist" <= 64)
      .as[(Long, Long, Long)].collect().toSet
    assert(banded === full)
  }

  test("minhash similarity estimator: exact copies at 1.0, bounded error vs exact Jaccard") {
    val est = Dedup.minhashSimilarity(corpus)
      .select($"doc_a", $"doc_b", $"est_jaccard").as[(Long, Long, Double)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    // identical signatures → the estimate is exactly 1.0 on exact copies
    for (p <- plantedExact) assert(est.get(p).contains(1.0), s"pair $p")
    // against exact n-gram Jaccard (threshold off to keep every pair):
    // 16 components → stderr = sqrt(J(1-J)/16) ≤ 0.125; allow 4σ per pair
    val exact = Dedup.ngramJaccardPairs(corpus, minJaccard = 0.0)
      .select($"doc_a", $"doc_b", $"jaccard").as[(Long, Long, Double)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    val diffs = est.collect { case (k, e) if exact.contains(k) => math.abs(e - exact(k)) }
    assert(diffs.nonEmpty)
    assert(diffs.forall(_ <= 0.51), s"worst estimator error ${diffs.max}")
    assert(diffs.sum / diffs.size <= 0.15, s"mean estimator error ${diffs.sum / diffs.size}")
  }

  test("quality-aware dedup keeps one best member per cluster, originals beat exact copies") {
    val best = Dedup.dedupedCorpusBest(corpus).select($"doc_id").as[Long].collect().toSet
    val clean = Dedup.dedupedCorpus(corpus).select($"doc_id").as[Long].collect().toSet
    // one survivor per cluster either way — only WHICH member differs
    assert(best.size === clean.size)
    // exact copies score identically → the id tie-break keeps the original
    assert(best.forall(_ < 2000000L), "an exact copy out-ranked its original")
    // the survivor is the argmax-(quality, -id) of its cluster, recomputed
    // against the operator's own cluster + quality frames
    val cl = Dedup.duplicateClusters(Dedup.verifiedPairs(corpus))
      .select($"doc_id", $"cluster").as[(Long, Long)].collect()
    val q = graft.operators.TextAnalysis.quality(corpus)
      .select($"doc_id", coalesce($"quality", lit(-1e9)).as("q"))
      .as[(Long, Double)].collect().toMap
    for ((clu, members) <- cl.groupBy(_._2)) {
      val expectKeep = members.map(_._1).maxBy(id => (q(id), -id))
      val survivors = members.map(_._1).filter(best)
      assert(survivors.toSeq === Seq(expectKeep), s"cluster $clu kept $survivors")
    }
  }

  test("star-contraction matches driver-side union-find on random graphs") {
    // deterministic LCG so the spec is reproducible; shapes include
    // singleton pairs, chains, merged blobs, and high-id-first edges
    var seed = 0x5eed5eedL
    def nextInt(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % bound) + bound).toInt % bound
    }
    for (trial <- 1 to 5) {
      val n = 40 + nextInt(40)
      val m = 30 + nextInt(60)
      val edges = Seq.fill(m)((nextInt(n).toLong, nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // union-find ground truth
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      for ((a, b) <- edges) {
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val truth = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(v => v -> {
          // component label = min member = root under min-union
          find(v.toInt).toLong
        }).toMap
      val got = Dedup.duplicateClusters(edges.toDF("doc_a", "doc_b"))
        .select($"doc_id", $"cluster").as[(Long, Long)].collect().toMap
      assert(got === truth, s"trial $trial (n=$n m=${edges.size}) mismatch")
    }
  }

  test("large-star/small-star converges in O(log n) rounds on a 64-chain") {
    // a path graph is the worst case for min-label propagation (needs
    // n-1 = 63 propagation steps, past the round cap); star contraction
    // must collapse it to one cluster in ~log2(n) rounds
    val n = 64L
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val c = Dedup.duplicateClusters(chain).cache()
    assert(c.count() === n)
    assert(c.filter($"cluster" =!= 0L).count() === 0, "chain must collapse to cluster 0")
    assert(c.filter($"is_keeper").count() === 1)
    val bound = (math.log(n.toDouble) / math.log(2)).ceil.toInt + 3
    assert(Dedup.lastClusterRounds <= bound,
      s"took ${Dedup.lastClusterRounds} rounds, bound $bound")
  }

  test("duplicateClusters unpersists its intermediates") {
    // materialize the INPUT pipeline first: verifiedPairs carries its own
    // lazy checkpoints (token set, band table), which persist by design —
    // this test isolates the cluster loop's per-iteration caches
    val pairs = Dedup.verifiedPairs(corpus)
    pairs.count()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.duplicateClusters(pairs).count()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    // the checkpointed RESULT may persist (1 RDD); every-5th-iteration
    // lineage checkpoints are cleaned asynchronously, so allow one more —
    // but the per-iteration label caches (one per iteration) must be gone
    assert(leaked.size <= 2, s"leaked cached RDDs: $leaked")
  }

  test("simhash pairs recall planted pairs on non-tiny docs (hamming <= 8)") {
    // SimHash's known weakness: on very short docs the appended tail
    // rewrites a large fraction of the shingle set, so recall is only
    // guaranteed where the tail is a small perturbation (>= 15 tokens).
    val longDocs = docs.filter(size(split(trim($"text"), "\\s+")) >= 15)
      .select($"doc_id").as[Long].collect().toSet
    val expected = (plantedExact ++ plantedNear).filter(p => longDocs.contains(p._1))
    val pairs = Dedup.simhashPairs(corpus).select($"doc_a", $"doc_b")
      .as[(Long, Long)].collect().toSet
    val missing = expected -- pairs
    assert(missing.isEmpty, s"simhash missed planted pairs: $missing")
  }

  test("containmentPairs: a fragment quoted inside a big page surfaces at Jaccard near 0") {
    // 24-token fragment (doc 1) quoted whole inside a 400+-token page
    // (doc 2) built from disjoint filler — whole-doc Jaccard ~ 24/430,
    // far under any resemblance bar, but containment of 1 in 2 is ~1
    val para = (1 to 24).map(i => s"shared$i").mkString(" ")
    val fillerA = (1 to 200).map(i => s"alpha$i").mkString(" ")
    val fillerB = (1 to 200).map(i => s"beta$i").mkString(" ")
    val docs = Seq(
      (1L, "en", para),
      (2L, "en", s"$fillerA $para $fillerB"),
      (3L, "en", (1 to 100).map(i => s"gamma$i").mkString(" ")))
      .toDF("doc_id", "lang", "text")
    val got = Dedup.containmentPairs(docs)
      .select($"doc_a", $"doc_b", $"contain_a", $"contain_b")
      .collect()
    assert(got.length === 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1)) === ((1L, 2L)))
    assert(r.getDouble(2) === 1.0, "every fragment shingle is in the page")
    assert(r.getDouble(3) < 0.1, "the page is NOT contained in the fragment")
    // the differentiator: the resemblance verify at its 0.5 bar misses it
    assert(Dedup.ngramJaccardPairs(docs).filter($"doc_a" === 1L && $"doc_b" === 2L)
      .count() === 0, "whole-doc Jaccard must NOT surface the inclusion")
  }

  test("repeatedSpans: seed-merge finds maximal cross-doc and intra-doc repeats") {
    val fixture = Seq(
      (1L, "a b c d e f g h"),                  // shares c..h with doc 2
      (2L, "x y c d e f g h z"),
      (3L, "p q r s t u p q r s t u"),          // intra-doc repeat
      (4L, "one lone document with fresh words entirely"), // no repeats
      (5L, "too short")                          // < 5 tokens: no seeds
    ).toDF("doc_id", "text")
    val got = Dedup.repeatedSpans(fixture)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    // docs 1/2: shared 6-token run "c d e f g h" → 5-gram seeds at the
    // run's two start positions merge into ONE maximal 6-token span.
    // doc 3: "p q r s t u" repeats at 0 and 6 → seeds {0,1} and {6,7}
    // merge into two 6-token spans covering each occurrence.
    assert(got === Seq(
      (1L, 2L, 7L, 6L),
      (2L, 2L, 7L, 6L),
      (3L, 0L, 5L, 6L),
      (3L, 6L, 11L, 6L)), s"got $got")
  }

  test("repeatedSpans: overlapping seeds (gap 2-4) merge into ONE disjoint span") {
    // doc 1's seeds sit at pos 0 ("a b c d e", repeated in doc 2) and pos
    // 3 ("d e f g h", repeated in doc 3) — gap 3 < SpanSeedLen, so their
    // token windows [0,4] and [3,7] intersect. The interval merge must
    // emit ONE 8-token span; a consecutive-only islanding would emit two
    // overlapping 5-token spans and Σ n_tokens would over-count (10 > 8).
    val fixture = Seq(
      (1L, "a b c d e f g h"),
      (2L, "m n a b c d e o p"),
      (3L, "q r d e f g h s t")
    ).toDF("doc_id", "text")
    val got = Dedup.repeatedSpans(fixture)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got === Seq(
      (1L, 0L, 7L, 8L),
      (2L, 2L, 6L, 5L),
      (3L, 2L, 6L, 5L)), s"got $got")
    // additivity invariant: per-doc spans are disjoint, so Σ n_tokens
    // never exceeds the doc's token count
    assert(got.filter(_._1 == 1L).map(_._4).sum <= 8)
  }

  test("repeatedSpans: a seed repeated ONLY once (unique 5-gram) emits nothing") {
    val fixture = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "uno dos tres cuatro cinco seis")).toDF("doc_id", "text")
    assert(Dedup.repeatedSpans(fixture).count() === 0)
  }

  test("repeatedSpans: agrees with a brute-force reference on seeded random corpora") {
    // brute reference: same tokenizer rule, same 31/1e9+7 polynomial gram
    // hash, same >= 2 total-occurrence seed rule, same INTERVAL merge
    // (seeds whose l-token windows overlap — gap < l — share a span)
    def bruteSpans(docs: Seq[(Long, String)]): Set[(Long, Long, Long, Long)] = {
      val l = Dedup.SpanSeedLen
      def toks(t: String) = t.trim.toLowerCase.split("[ \t\n\f\r]+").filter(_.nonEmpty).toSeq
      def h(s: String): Long = s.foldLeft(7L)((a, c) => (a * 31 + c.toInt) % 1000000007L)
      val seeds = docs.flatMap { case (id, t) =>
        val tk = toks(t)
        if (tk.size < l) Nil
        else (0 to tk.size - l).map(p => (id, p, h(tk.slice(p, p + l).mkString(" "))))
      }
      val counts = seeds.groupBy(_._3).view.mapValues(_.size).toMap
      seeds.filter(s => counts(s._3) >= 2).groupBy(_._1).flatMap { case (id, ss) =>
        val ps = ss.map(_._2).distinct.sorted
        val groups = ps.foldLeft(List.empty[List[Int]]) {
          case (Nil, p)                               => List(List(p))
          case (cur :: rest, p) if p - cur.head < l   => (p :: cur) :: rest
          case (acc, p)                               => List(p) :: acc
        }
        groups.map { g =>
          val start = g.min.toLong; val end = g.max.toLong + l - 1
          (id, start, end, end - start + 1)
        }
      }.toSet
    }
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Seq("ab", "cd", "ef", "gh", "ij", "kl", "mn", "op", "qr", "st")
      val base = (0 until 25).map { i =>
        (i.toLong, Seq.fill(rnd.nextInt(22))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      // plant cross-doc repeats: a handful of docs copy another's text
      val planted = (0 until 5).map { j =>
        (100L + j, base(rnd.nextInt(base.size))._2)
      }
      val docs = base ++ planted
      val got = Dedup.repeatedSpans(docs.toDF("doc_id", "text"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got === bruteSpans(docs), s"seed $seed diverges from the brute reference")
    }
  }

  test("exactSubstrSpans: planted shared substring found with exact boundaries; L−1 misses") {
    val l = Dedup.SubstrLen
    val shared = (1 to l).map(i => s"dup$i").mkString(" ") // exactly L tokens
    val d = Seq(
      (1L, "alpha beta gamma " + shared + " delta epsilon"), // plant at pos 3
      (2L, "one two three four five " + shared + " six")     // plant at pos 5
    ).toDF("doc_id", "text")
    val got = Dedup.exactSubstrSpans(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === Set((1L, 3L, 3L + l - 1L, l.toLong), (2L, 5L, 5L + l - 1L, l.toLong)),
      s"planted substring must be recovered with exact token boundaries, got $got")
    // one token short of the threshold: no repeated L-window exists
    val short = (1 to l - 1).map(i => s"s$i").mkString(" ")
    val d2 = Seq(
      (1L, "a b c " + short),
      (2L, "x y " + short + " z w")).toDF("doc_id", "text")
    assert(Dedup.exactSubstrSpans(d2).count() === 0L,
      "an (L−1)-token shared substring must emit nothing at threshold L")
  }

  test("exactSubstrSpans: within-doc repetition counts; disjoint occurrences stay two spans") {
    val l = Dedup.SubstrLen
    val rep = (1 to l).map(i => s"r$i").mkString(" ")
    val filler = (1 to l).map(i => s"f$i").mkString(" ")
    // the repeat occurs twice in ONE doc, separated by L fresh tokens:
    // both occurrences are covered, and the gap (= L) keeps them disjoint
    val d = Seq((7L, rep + " " + filler + " " + rep)).toDF("doc_id", "text")
    val got = Dedup.exactSubstrSpans(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === Set((7L, 0L, l - 1L, l.toLong),
      (7L, 2L * l, 3L * l - 1L, l.toLong)), s"got $got")
  }

  test("exactSubstrSpans: agrees with a direct-substring brute reference on seeded random corpora") {
    // brute reference groups by the window STRING itself — the oracle's
    // rule, no hash anywhere: what the engine's seed→verify chain must
    // reproduce exactly (a hash collision in the seed stage may only add
    // candidates, never spans)
    def bruteSpans(docs: Seq[(Long, String)]): Set[(Long, Long, Long, Long)] = {
      val l = Dedup.SubstrLen
      def toks(t: String) = t.trim.toLowerCase.split("[ \t\n\f\r]+").filter(_.nonEmpty).toSeq
      val wins = docs.flatMap { case (id, t) =>
        val tk = toks(t)
        if (tk.size < l) Nil
        else (0 to tk.size - l).map(p => (id, p, tk.slice(p, p + l).mkString(" ")))
      }
      val counts = wins.groupBy(_._3).view.mapValues(_.size).toMap
      wins.filter(s => counts(s._3) >= 2).groupBy(_._1).flatMap { case (id, ss) =>
        val ps = ss.map(_._2).distinct.sorted
        val groups = ps.foldLeft(List.empty[List[Int]]) {
          case (Nil, p)                             => List(List(p))
          case (cur :: rest, p) if p - cur.head < l => (p :: cur) :: rest
          case (acc, p)                             => List(p) :: acc
        }
        groups.map { g =>
          val start = g.min.toLong; val end = g.max.toLong + l - 1
          (id, start, end, end - start + 1)
        }
      }.toSet
    }
    for (seed <- Seq(11, 12, 13)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Seq("ab", "cd", "ef", "gh", "ij", "kl", "mn", "op", "qr", "st")
      val base = (0 until 25).map { i =>
        (i.toLong, Seq.fill(rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val planted = (0 until 5).map(j => (100L + j, base(rnd.nextInt(base.size))._2))
      val docs = base ++ planted
      val got = Dedup.exactSubstrSpans(docs.toDF("doc_id", "text"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got === bruteSpans(docs), s"seed $seed diverges from the direct-substring reference")
    }
  }

  test("exactSubstrReport: conservation against the span table; zero-removal docs are rows") {
    val c = Dedup.corpus(graft.sources.Tables.documents(spark, Sf))
    val rep = Dedup.exactSubstrReport(c).cache()
    assert(rep.count() === c.count(), "every doc must report its margin")
    assert(rep.filter($"kept_tokens" + $"covered_tokens" =!= $"n_tokens").count() === 0,
      "kept + covered must conserve the doc's token mass")
    // covered ≡ Σ span lengths (spans are disjoint by the islands merge)
    val fromSpans = Dedup.exactSubstrSpans(c)
      .agg(coalesce(sum($"n_tokens"), lit(0L))).head().getLong(0)
    val fromReport = rep.agg(sum($"covered_tokens")).head().getLong(0)
    assert(fromSpans === fromReport)
    // planted exact copies (+2e6 tier) are fully covered end to end
    val copies = rep.filter($"doc_id" >= 2000000L && $"n_tokens" >= Dedup.SubstrLen)
    assert(copies.count() > 0)
    assert(copies.filter($"removed_frac" =!= 1.0).count() === 0,
      "an exact copy's every window repeats — removal must be total")
  }

  test("incremental merge == full recompute; index persisted once; work scales with the increment") {
    Dedup.clearMemos()
    val base = corpus.filter($"doc_id" < 2000000L)
    val incr = corpus.filter($"doc_id" >= 2000000L)
    // 1. incremental ≡ from-scratch: the base-pairs ∪ merge-pairs union
    //    must be exactly the full recompute over base ∪ increment
    //    (engine-side reconciliation, independent of the DuckDB oracle)
    val gotInc = Dedup.incrementalJaccardPairs(base, incr, Sf)
      .select($"doc_a", $"doc_b", $"jaccard").as[(Long, Long, Double)].collect().toSet
    val gotFull = Dedup.ngramJaccardPairs(corpus)
      .select($"doc_a", $"doc_b", $"jaccard").as[(Long, Long, Double)].collect().toSet
    assert(gotInc === gotFull, "incremental pair set diverged from the full recompute")
    // 2. the persisted index is built once and memo-served afterwards
    val (tok1, bands1) = Dedup.dedupIndexFor(base, Sf)
    val (tok2, bands2) = Dedup.dedupIndexFor(base, Sf)
    assert((tok1 eq tok2) && (bands1 eq bands2), "second call must hit the index memo")
    assert(tok1.inputFiles.nonEmpty && bands1.inputFiles.nonEmpty,
      "index frames must be parquet-backed (persisted), not recomputed lineage")
    // 3. merge work scales with the INCREMENT: the base band store enters
    //    the candidate plan only semi-join-reduced to increment-touched
    //    buckets, and base token sets only semi-join-reduced to candidate
    //    members — never a base self-join or a full base verify (the
    //    checkpointed merge hides these subtrees, so pin the pieces)
    def fplan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val incrBands = Dedup.lshBands(
      Dedup.signaturesFromTok(Dedup.tokenHashes(incr)))
    val candPlan = fplan(Dedup.incrementCandidates(bands1, incrBands))
    assert(candPlan.contains("LeftSemi"),
      "base bands must be semi-join-reduced to increment-touched buckets")
    val cand = Dedup.incrementCandidates(bands1, incrBands)
    assert(fplan(Dedup.incrementTok(tok1, Dedup.tokenHashes(incr), cand))
        .contains("LeftSemi"),
      "base token sets must be semi-join-reduced to candidate members")
    // and the merge emits exactly the increment-touching slice of the
    // full pair set (every pair has its larger id in the increment)
    val merge = Dedup.incrementMergePairs(tok1, bands1, incr)
    val gotMerge = merge.select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(gotMerge === gotFull.map(t => (t._1, t._2)).filter(_._2 >= 2000000L),
      "merge pairs must be exactly the increment-touching pairs")
    assert(gotMerge.forall(_._2 >= 2000000L))
  }

  test("index compaction == full rebuild; compacted store parquet-backed and memo-served") {
    Dedup.clearMemos()
    val base = corpus.filter($"doc_id" < 2000000L)
    val incr = corpus.filter($"doc_id" >= 2000000L)
    val (tokC, bandsC) = Dedup.compactIndex(base, incr, Sf)
    // the next-generation store must hold exactly what a from-scratch
    // rebuild over base ∪ increment would (tok and bands are pure
    // per-doc functions — compaction may not drop, duplicate, or alter)
    assert(tokC.as[(Long, Long)].collect().toSet ===
      Dedup.tokenHashes(corpus).as[(Long, Long)].collect().toSet)
    assert(bandsC.as[(Long, Long, Long)].collect().toSet ===
      Dedup.lshBands(Dedup.minhashSignatures(corpus)).as[(Long, Long, Long)].collect().toSet)
    assert(tokC.inputFiles.nonEmpty && bandsC.inputFiles.nonEmpty,
      "compacted frames must be parquet-backed (a persisted generation)")
    val (tok2, bands2) = Dedup.compactIndex(base, incr, Sf)
    assert((tokC eq tok2) && (bandsC eq bands2), "second call must hit the memo")
  }

  test("incremental clusters == full re-cluster; untouched components byte-identical") {
    Dedup.clearMemos()
    val base = corpus.filter($"doc_id" < 2000000L)
    val incr = corpus.filter($"doc_id" >= 2000000L)
    val gotInc = Dedup.incrementalClusters(base, incr, Sf)
      .as[(Long, Long, Boolean)].collect().toSet
    val gotFull = Dedup.clustersFor(corpus, Sf)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(gotInc === gotFull,
      "incremental cluster table diverged from the full re-cluster")
    // untouched base components must pass through byte-identical
    val (tokB, bandsB) = Dedup.dedupIndexFor(base, Sf)
    val touchedIds = Dedup.incrementMergePairs(tokB, bandsB, incr)
      .select($"doc_a").union(Dedup.incrementMergePairs(tokB, bandsB, incr).select($"doc_b"))
      .as[Long].collect().toSet
    val baseCl = Dedup.baseClustersFor(base, Sf).as[(Long, Long, Boolean)].collect()
    val touchedClusters = baseCl.filter(r => touchedIds(r._1)).map(_._2).toSet
    val untouched = baseCl.filterNot(r => touchedClusters(r._2)).toSet
    assert(untouched.nonEmpty, "fixture lost its power: some base cluster must stay untouched")
    assert(untouched.subsetOf(gotInc),
      "untouched base cluster rows must appear unchanged in the merged table")
    // and everything the merge re-resolved belongs to a component that
    // contains a touched or increment doc — the work really is bounded
    // by the increment's reach
    val resolved = gotInc -- untouched
    val resolvedByCluster = resolved.groupBy(_._2)
    resolvedByCluster.foreach { case (cl, rows) =>
      assert(rows.exists(r => touchedIds(r._1) || r._1 >= 2000000L),
        s"cluster $cl was re-resolved without any increment contact")
    }
  }

  test("empty increment: merge finds nothing, fold-in returns the base clusters unchanged") {
    Dedup.clearMemos()
    val base = corpus.filter($"doc_id" < 2000000L)
    val none = corpus.filter($"doc_id" < 0L)
    val (tokB, bandsB) = Dedup.dedupIndexFor(base, Sf)
    assert(Dedup.incrementMergePairs(tokB, bandsB, none).count() === 0L)
    val folded = Dedup.incrementalClusters(base, none, Sf)
      .as[(Long, Long, Boolean)].collect().toSet
    val baseCl = Dedup.baseClustersFor(base, Sf)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(folded === baseCl, "a no-op increment must leave the cluster table untouched")
  }

  test("scurve: theory column matches hand math, monotone; exact dups always collide; audit bounded") {
    // theory at the extremes, recomputed by hand: band 19 (mid 0.975) →
    // 1-(1-0.975^2)^8 ≈ 1-3.5e-11 → 999999 ppm; band 0 (mid 0.025) →
    // 1-(1-0.000625)^8 ≈ 0.004989 → 4989 ppm; monotone in between
    val theory = Dedup.scurveTheoryPpm
    assert(theory.size === 20)
    assert(theory.head === (0L, 4989L) && theory.last === (19L, 999999L))
    assert(theory.sliding(2).forall { case Seq((_, a), (_, b)) => a <= b })

    val out = Dedup.scurveAudit(corpus).collect()
      .map(r => (r.getAs[Long]("jband"), r.getAs[Long]("n_pairs"),
        r.getAs[Long]("n_coll"), r.getAs[Long]("meas_ppm"))).sortBy(_._1)
    // bounded audit: the cross-tier subset is ≤ 49 docs at any SF
    // (base ids 0..40 → 41 originals + 5 near-dup + 3 exact twins)
    assert(out.map(_._2).sum <= 49L * 48 / 2)
    // identical docs have identical signatures — the jband-19 tier
    // (planted exact copies live there) must collide deterministically
    val top = out.filter(_._1 === 19L)
    assert(top.nonEmpty && top.forall(r => r._4 === 1000000L),
      s"exact-dup band must measure 1e6 ppm, got ${top.toSeq}")
    // the unrelated-pair mass sits in band 0 with a near-zero rate
    val bot = out.filter(_._1 === 0L)
    assert(bot.nonEmpty && bot.forall(r => r._4 < 10000L),
      s"unrelated band must measure ~0, got ${bot.toSeq}")
  }

  test("sourceRank: matches an independent integer reference on a hand graph; isolated sources keep base") {
    // A<->B heavy (w=9), B<->C light (w=1), D isolated
    val m = Seq(("A", "B", 9L), ("B", "C", 1L))
      .toDF("src_a", "src_b", "n_pairs")
    val nodes = Seq("A", "B", "C", "D").toDF("source")
    val got = Dedup.sourceRankFromMatrix(m, nodes).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("rank_q"), r.getAs[Long]("w_degree"))).toMap

    // independent reference: plain Scala Map fold, same integer contract
    // (floor per edge via BigInt product -> double division, then sum)
    val scale = 1000000000000L
    val edges = Seq(("A", "B", 9L), ("B", "A", 9L), ("B", "C", 1L), ("C", "B", 1L))
    val wdeg = edges.groupBy(_._1).map { case (u, es) => u -> es.map(_._3).sum }
    val base = (scale * 15L / 100L) / 4L
    var rank = Map("A" -> scale / 4, "B" -> scale / 4, "C" -> scale / 4, "D" -> scale / 4)
    for (_ <- 1 to 6) {
      val inflow = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _, w) =>
          math.floor((BigInt(85) * rank(u) * w).toDouble / (100.0 * wdeg(u))).toLong
        }.sum
      }
      rank = rank.keys.map(s => s -> (base + inflow.getOrElse(s, 0L))).toMap
    }
    assert(got.view.mapValues(_._1).toMap === rank,
      s"engine ${got.view.mapValues(_._1).toMap} vs reference $rank")
    // degree accounting + the parity-stable ordering (the heavy A<->B
    // edge ping-pongs mass with period 2, so A vs B depends on round
    // parity — but C, fed only 1/10 of B's outflow, trails both at any
    // round, and isolated D holds exactly base)
    assert(got("A")._2 === 9L && got("B")._2 === 10L && got("C")._2 === 1L
      && got("D")._2 === 0L)
    assert(got("A")._1 > got("C")._1 && got("B")._1 > got("C")._1)
    assert(got("D")._1 === base)
  }

  test("sourcePairMatrix reconciles with the verified pair stage; planted copies hit the diagonal") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, Sf)
    val m = graft.operators.Dedup.sourcePairMatrix(docs, Sf).collect()
    assert(m.nonEmpty)
    // canonical ordering and score bounds
    m.foreach { r =>
      assert(r.getString(0) <= r.getString(1), s"pair not canonicalized: $r")
      val mj = r.getDouble(3)
      assert(mj >= 0.5 && mj <= 1.0 + 1e-9, s"mean jaccard out of band: $mj")
    }
    // every verified pair is attributed exactly once
    val nPairs = graft.operators.Dedup
      .ngramJaccardPairs(graft.operators.Dedup.corpus(docs)).count()
    assert(m.map(_.getLong(2)).sum === nPairs)
    // corpus() plants same-source near-dup copies → the diagonal exists
    assert(m.exists(r => r.getString(0) == r.getString(1)),
      "planted same-source copies must produce diagonal entries")
  }

  test("ppjoin: exact-recall theorem — output equals brute all-pairs Jaccard at the threshold") {
    val c = Dedup.corpus(Tables.documents(spark, Sf))
    val got = Dedup.ppjoinPairs(c).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    // independent brute truth: collected distinct shingle sets,
    // all-pairs integer-threshold Jaccard (docs with no shingles are
    // absent from the token table on both sides)
    val sets = Dedup.shingles(c).distinct().collect()
      .groupBy(_.getLong(0)).map { case (d, rs) => d -> rs.map(_.getLong(1)).toSet }
    val ids = sets.keys.toSeq.sorted
    val brute = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = ids(i); b = ids(j)
      ni = (sets(a) & sets(b)).size
      if ni * 5L >= (sets(a).size + sets(b).size - ni) * 4L
    } yield (a, b)).toSet
    assert(got === brute,
      s"missed ${(brute -- got).size}, extra ${(got -- brute).size} of ${brute.size}")
    // the planted exact copies (J = 1) are necessarily in there
    val exactPlants = ids.filter(d => d >= 2000000L && ids.contains(d - 2000000L))
      .map(d => (d - 2000000L, d)).toSet
    assert(exactPlants.subsetOf(got), "planted exact copies must be found")
  }

  test("ppjoin: prefix ceil stays integer — the float-⌈0.8·5⌉ trap never fires") {
    // five docs of exactly 5 shingles each (7 tokens): at t = 4/5 the
    // prefix length is 5 − ⌈4⌉ + 1 = 2; an IEEE ⌈0.8·5⌉ = ⌈4.0000…2⌉ = 5
    // would cut it to 1 and MISS the planted J=0.8 pair, which overlaps
    // only from its second-rarest element on
    val docs = Seq( // 7 tokens → 5 trigram shingles each
      (1L, "en", "a b c d e f g"),
      (2L, "en", "z b c d e f g"),
      (3L, "en", "p q r s t u v"))
      .toDF("doc_id", "lang", "text")
    val out = Dedup.ppjoinPairs(docs)
      .collect().map(r => ((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")),
        (r.getAs[Long]("ni"), r.getAs[Double]("jaccard")))).toMap
    // doc1 shingles: abc bcd cde def efg; doc2: zbc bcd cde def efg →
    // inter 4, union 6 → J = 2/3 < 4/5: must NOT pair at t=4/5
    assert(!out.contains((1L, 2L)))
    // at t = 2/3 (ni·3 ≥ union·2 → 12 ≥ 12) the pair must appear, and
    // the prefix math must keep it: sz=5, prefix = 5 − ⌈10/3⌉ + 1 = 2
    val loose = Dedup.ppjoinPairs(docs, tNum = 2, tDen = 3)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(loose.contains((1L, 2L)), "boundary pair at exactly t must be kept")
    assert(!loose.exists(p => p._1 == 3L || p._2 == 3L))
  }

}
