package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.sources.{StageMemo, Tables}

/** Deduplication operators for a large-scale text corpus: exact
  * (hash-groupBy), MinHash+LSH banding, SimHash, and n-gram Jaccard
  * verification.
  *
  * Scale design (the 100 TB story):
  *  - Exact dedup is a single shuffle on md5(text) — the canonical
  *    map-side-combinable group-by.
  *  - MinHash candidates come from an equi-join on (band, bandHash) —
  *    never an O(n²) cross join; the shuffle key is the LSH bucket.
  *  - Jaccard verification runs ONLY over the MinHash-LSH candidate
  *    pairs, so pair enumeration is bounded by bucket contents, never a
  *    block-local cross join.
  *  - SimHash pairs use multi-index Hamming: the 32-bit fingerprint is
  *    split into 4×8-bit band keys and one side probes every ≤2-bit
  *    variant of each key. By pigeonhole, any pair within hamming 8 has
  *    a band differing in ≤2 bits, so the banded equi-join has EXACT
  *    recall for the hamming ≤ 8 predicate — same result set as an
  *    all-pairs scan, at equi-join cost.
  *
  * Because the driver's corpus has no natural duplicates, [[corpus]]
  * plants them deterministically (exact copies and near-copies with a
  * 4-token tail), mirroring the reference's hand-planted invalid fixture
  * rows (ref: src/data/raw_orders.json:53-55).
  */
object Dedup {

  /** This family's namespace in the [[StageMemo]] artifact registry. */
  private[graft] val Owner = "Dedup"

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  val NearDupTail = " graft near dup tail"

  /** documents ∪ exact copies (doc_id%20==0 → +2_000_000) ∪ near copies
    * (doc_id%10==0 → +1_000_000, tail appended).
    */
  def corpus(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("lang"), col("text"))
    val exact = docs.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("lang"), col("text"))
    val near = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
        concat(col("text"), lit(NearDupTail)).as("text"))
    base.union(exact).union(near)
  }

  /** Exact dedup via content hash: groups with >1 member, deterministic
    * keeper = min doc_id.
    */
  def exactDuplicates(c: DataFrame): DataFrame =
    c.groupBy(md5(col("text")).as("text_md5"))
      .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keeper"))
      .filter(col("n_dups") > 1)

  /** Word-trigram shingle hashes per doc (non-distinct). Single-word
    * shingles are useless on a small shared vocabulary — every doc looks
    * like every other; 3-word shingles are position-sensitive and make
    * random-pair Jaccard ≈ 0 while near-dups stay ≈ 0.9.
    *
    * Shape note: a pure narrow map — the native fused
    * [[graft.expressions.ShingleHashes]] emits each doc's trigram-hash
    * array in one pass and `explode` streams it, with NO exploded token
    * stream and NO per-doc window, so nothing shuffles before the
    * downstream aggregation. (History: a `transform(sequence,
    * element_at…)` lambda re-splits the text O(tokens²) per doc via
    * projection collapse — 20+ s per dedup query at sf0.1; the earlier
    * posexplode + window-`lead` shape fixed that but still shuffled the
    * ~50×-corpus token stream to sort it per doc. ShingleSpec pins the
    * fused expression equal to the posexplode+lead formulation,
    * [[shinglesWindowed]].)
    */
  def shingles(c: DataFrame): DataFrame =
    c.select(col("doc_id"),
      explode(graft.expressions.ShingleHashes.shingle_hashes(col("text"))).as("h"))

  /** posexplode + window-lead formulation — semantic cross-check only. */
  def shinglesWindowed(c: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = c.select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "w")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    tok
      .withColumn("w2", lead(col("w"), 1).over(w))
      .withColumn("w3", lead(col("w"), 2).over(w))
      .filter(col("w3").isNotNull)
      .select(col("doc_id"),
        stringHash(concat_ws(" ", col("w"), col("w2"), col("w3"))).as("h"))
  }

  /** Distinct (doc_id, shingleHash) pairs — the MinHash input set. */
  def tokenHashes(c: DataFrame): DataFrame =
    shingles(c).select(col("doc_id"), col("h")).distinct()

  val NumHashes = 16
  // 8 bands of 2 rows: with honest (scattered-multiplier) permutations,
  // recall at the near-dup similarity this engine targets (J ≈ 0.8) is
  // 1 − (1 − J²)^8 ≈ 0.9999, where 4×4 banding only reaches ~0.96 (two
  // planted pairs were missed the moment the small-multiplier signature
  // bias was fixed — that bias had been inflating collision rates).
  // Narrower bands admit more false candidates, but at the corpus's
  // unrelated-pair similarity (J ≈ 0.005) the per-band collision rate is
  // J² ≈ 2.5e-5 — and every candidate is verified downstream anyway.
  val BandSize = 2 // → 8 bands of 2 rows

  /** 16-permutation MinHash signature, one row per doc (m0..m15). */
  def minhashSignatures(c: DataFrame): DataFrame =
    signaturesFromTok(tokenHashes(c))

  /** Signature aggregation over a precomputed (doc_id, h) set — split out
    * so callers that need the token set anyway ([[ngramJaccardPairs]])
    * can share one materialization instead of re-deriving the shingle
    * pipeline per consumer.
    */
  def signaturesFromTok(th: DataFrame): DataFrame = {
    val aggs = (0 until NumHashes).map(i => min(minhashPerm(i, col("h"))).as(s"m$i"))
    th.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH bands: polynomial-combine each 4-row slice of the signature into
    * one bucket hash → (doc_id, band, bh).
    */
  def lshBands(sig: DataFrame): DataFrame = {
    def combine(cols: Seq[Column]): Column =
      cols.reduce((acc, m) => (acc * lit(31L) + m) % lit(P))
    val bands = (0 until NumHashes / BandSize).map { b =>
      val bh = combine((0 until BandSize).map(i => col(s"m${b * BandSize + i}")))
      struct(lit(b.toLong).as("band"), bh.as("bh"))
    }
    sig.select(col("doc_id"), explode(array(bands: _*)).as("x"))
      .select(col("doc_id"), col("x.band").as("band"), col("x.bh").as("bh"))
  }

  /** LSH bucket-health audit: per band, the distribution of bucket sizes —
    * (band, bucket_size, n_buckets). THE tuning read-out for banded LSH at
    * scale: candidate-pair cost is Σ size² per bucket, so a fat bucket
    * (stopword-like shingle collisions, bad hash mixing) shows up here
    * BEFORE the self-join runs it quadratically. Two grouped counts over
    * the band stream — output is bounded by the distinct sizes, constant
    * for practical purposes.
    */
  def lshBucketStats(c: DataFrame): DataFrame =
    lshBands(minhashSignatures(c))
      .groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("bucket_size"))
      .groupBy(col("band"), col("bucket_size"))
      .agg(count(lit(1)).as("n_buckets"))

  /** Candidate near-dup pairs: equi-join on the LSH bucket. The band
    * table feeds BOTH sides of the self-join; a lazy checkpoint
    * (materialized by the query's first action) runs the shingle →
    * signature pipeline once instead of once per side.
    */
  def minhashCandidates(c: DataFrame): DataFrame =
    candidatesFromSig(minhashSignatures(c))

  /** Banded self-join over a precomputed signature table. SHUFFLE_HASH:
    * the self-join's sides are both the whole corpus band table, so a
    * stats-blind broadcast (post-checkpoint sizes are unknown) would ship
    * the corpus to every executor — the shuffle-hash join partitions on
    * (band, bh) instead, the only shape that survives corpus scale.
    */
  def candidatesFromSig(sig: DataFrame): DataFrame =
    candidatesFromBands(lshBands(sig).localCheckpoint(false))

  /** The banded self-join alone, over an already-materialized band table
    * (split out so the persisted-index path can feed its parquet-backed
    * bands straight in).
    */
  def candidatesFromBands(bands: DataFrame): DataFrame =
    bands.as("a").hint("shuffle_hash").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

  /** MinHash Jaccard ESTIMATE for the LSH candidate pairs: the fraction
    * of the NumHashes signature components that agree — the classic
    * estimator (E[match fraction] = J(A,B), Broder 1997). At extreme
    * scale this replaces [[ngramJaccardPairs]]' exact verify: it reads
    * the already-materialized 16-long signatures instead of
    * re-intersecting token sets, so the verify stage costs one row per
    * candidate pair with NO shingle-stream join at all. DedupSpec bounds
    * the estimator against the exact Jaccard on the planted pairs; exact
    * copies estimate 1.0 by construction (identical signatures).
    * Signature table checkpointed once and joined to both pair sides
    * (shuffle-hash — post-checkpoint stats are unknown, same reasoning
    * as [[candidatesFromSig]]).
    */
  def minhashSimilarity(c: DataFrame): DataFrame = {
    val sig = minhashSignatures(c).localCheckpoint(false)
    val matches = (0 until NumHashes)
      .map(i => when(col(s"a.m$i") === col(s"b.m$i"), 1).otherwise(0))
      .reduce(_ + _)
    candidatesFromSig(sig)
      .join(sig.as("a").hint("shuffle_hash"), col("doc_a") === col("a.doc_id"))
      .join(sig.as("b").hint("shuffle_hash"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (matches.cast("double") / lit(NumHashes.toDouble)).as("est_jaccard"))
  }

  /** Character-level (Levenshtein) verify over the LSH candidates — the
    * complement to token-level Jaccard: word shingles overweight small
    * in-word edits (one typo rewrites three shingles), while edit
    * distance counts it as 1. Candidates only, never all-pairs; each
    * pair costs O(len_a·len_b) characters, so at corpus scale this runs
    * after the Jaccard bar or behind a document-length cap. Emits pairs
    * within `maxDist` edits.
    */
  def editDistancePairs(c: DataFrame, maxDist: Int = 64): DataFrame = {
    val texts = c.select(col("doc_id"), col("text"))
    minhashCandidates(c)
      .join(texts.select(col("doc_id").as("doc_a"), col("text").as("text_a"))
        .hint("shuffle_hash"), Seq("doc_a"))
      .join(texts.select(col("doc_id").as("doc_b"), col("text").as("text_b"))
        .hint("shuffle_hash"), Seq("doc_b"))
      // length gate: edit distance >= |len_a - len_b|, so length-divergent
      // candidates can't pass the bar — a free compare that skips the whole
      // O(len·maxDist) banded DP for them (result set provably unchanged)
      .filter(abs(length(col("text_a")) - length(col("text_b"))) <= maxDist)
      .select(col("doc_a"), col("doc_b"),
        // trimmed+banded DP: strip the common prefix/suffix (distance-
        // preserving), then Spark's own O(len·maxDist) banded kernel on
        // the differing middle — LSH candidates are near-copies by
        // construction, so the trim removes most of the DP work (an
        // appended-tail dup costs O(tail²)). Exact for distances <=
        // maxDist, -1 above (dropped by the filter); equality with the
        // built-in 3-arg levenshtein pinned in DedupSpec +
        // TextPropertySpec
        graft.expressions.TrimmedLevenshtein.trimmed_levenshtein(
          col("text_a"), col("text_b"), maxDist).cast("long").as("edit_dist"))
      .filter(col("edit_dist") >= 0)
  }

  /** Winnowing-candidate near-dup pairs: docs sharing at least
    * `minShared` distinct winnow fingerprint HASHES (position-free —
    * hash agreement is the MOSS overlap signal). The complement to
    * MinHash-LSH candidates: winnowing guarantees any shared run of
    * w+2 tokens leaves a shared fingerprint, so LOCAL overlap (a copied
    * paragraph inside otherwise-different docs) surfaces even when
    * whole-doc Jaccard is far below the LSH threshold.
    *
    * Scale shape: fingerprints are ~2/(w+1) of the shingle stream; the
    * pair join is an equi-join on the fingerprint hash with a
    * document-frequency cap first (`maxDf`, the boilerplate guard used
    * by decontam/boiler) so a hot fingerprint bounds pair cost at
    * maxDf² instead of going quadratic; both join sides are
    * corpus-derived → shuffle-hash, never broadcast.
    */
  def winnowPairs(c: DataFrame, minShared: Int = 2, maxDf: Int = 20): DataFrame = {
    val fp = TextAnalysis.winnow(c).select(col("doc_id"), col("h")).distinct()
    val rare = fp.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select(col("h"))
    val kept = fp.join(rare.hint("shuffle_hash"), Seq("h"))
    kept.as("a").join(kept.as("b").hint("shuffle_hash"), Seq("h"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Memoized [[winnowPairs]] per (session, corpus key) — the
    * [[clustersFor]] discipline: q_dedup_winnow and q_dedup_contain
    * share the winnow fingerprint → df-cap → pair stage (the expensive
    * per-doc windowed-min pass); a real pipeline materializes the
    * candidate table once and both the report and the containment
    * verify read it. First caller pays the build (eager checkpoint of
    * the few-K-row pair table); later callers ride it.
    */
  def winnowPairsFor(c: DataFrame, dir: String): DataFrame =
    StageMemo.stage(Owner, c.sparkSession, dir, "winnow")(winnowPairs(c))

  /** Asymmetric shingle-containment verify — the doc-IN-doc detector
    * (Broder's containment, next to his resemblance/Jaccard): for
    * candidate pairs, |A∩B|/|A| and |A∩B|/|B| over distinct trigram
    * sets. A 200-token article quoted whole inside a 5000-token page
    * scores containment ≈ 1 while Jaccard ≈ 0.04 — invisible to the
    * whole-doc near-dup verifies, yet exactly the duplication a training
    * corpus pays for twice. Candidates come from the WINNOW fingerprint
    * pairs, not MinHash banding: winnowing guarantees any shared w+2
    * token run leaves shared fingerprints (local-overlap recall — the
    * property containment needs), while MinHash banding targets high
    * whole-doc similarity and would miss small-in-big inclusions by
    * construction.
    *
    * Emits pairs whose LARGER directional containment clears
    * `minContain`, with the exact shared-shingle count and both
    * directions (the asymmetry TELLS you which doc is the fragment).
    *
    * Scale: winnow candidates are df-capped (≤ maxDf² pairs per
    * fingerprint); the verify joins ride the (doc, h) shingle stream
    * with shuffle-hash hints (corpus-derived sides, never broadcast);
    * counts are exact integers, one division per direction at the end.
    */
  def containmentPairs(c: DataFrame, minContain: Double = 0.8,
      minShared: Int = 2, maxDf: Int = 20): DataFrame =
    containmentPairs(c, winnowPairs(c, minShared, maxDf), minContain)

  /** As [[containmentPairs]] with a precomputed candidate-pair table
    * (from [[winnowPairsFor]]) — the shared-stage entry point.
    */
  def containmentPairs(c: DataFrame, candidates: DataFrame,
      minContain: Double): DataFrame = {
    // No transient checkpoints: `candidates` arrives as a memoized
    // checkpoint scan (winnowPairsFor) or a spec-constructed frame, and
    // the candidate-bounded token stream below is referenced by one
    // subtree that AQE exchange reuse materializes once per action (the
    // IsNotNull filter inside containmentVerifyTok keeps the consumers'
    // subtrees canonically identical). The old lazy checkpoints cost a
    // driver planning pass + materialization job each, per run.
    val cand = candidates.select(col("doc_a"), col("doc_b"))
    val tok = containmentVerifyTok(c, cand)
    val sizes = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("nt"))
    val inter = cand
      .join(tok.select(col("doc_id").as("doc_a"), col("h")).hint("shuffle_hash"), Seq("doc_a"))
      .join(tok.select(col("doc_id").as("doc_b"), col("h")).hint("shuffle_hash"), Seq("doc_b", "h"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("nt").as("na")).hint("shuffle_hash"), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("nt").as("nb")).hint("shuffle_hash"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        (col("n_inter").cast("double") / col("na").cast("double")).as("contain_a"),
        (col("n_inter").cast("double") / col("nb").cast("double")).as("contain_b"))
      .filter(greatest(col("contain_a"), col("contain_b")) >= minContain)
  }

  /** The containment verify's CANDIDATE-BOUNDED token stream: one
    * semi-join reduces the corpus token stream to candidate members, so
    * the pair joins and the size agg cost O(candidate tokens), not
    * O(corpus tokens) per side — verify cost tracks candidates, not the
    * corpus. The candidate id set is corpus-derived (pair count grows
    * with the corpus), so shuffle-hash, never a stats-blind broadcast.
    * Factored out (pre-checkpoint) so PlanQualitySpec can pin the
    * LeftSemi shape — [[containmentPairs]] checkpoints it for its three
    * consumers.
    */
  private[graft] def containmentVerifyTok(c: DataFrame, cand: DataFrame): DataFrame = {
    val ids = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    // IsNotNull is a semantic no-op (doc_id is the corpus key, h an
    // explode output; every output path inner-joins on them) stated here
    // for canonical-plan convergence: downstream join consumers would
    // otherwise push inferred null filters below this semi-join and fork
    // the token stream into per-consumer evaluations.
    tokenHashes(c).join(ids.hint("shuffle_hash"), Seq("doc_id"), "left_semi")
      .filter(col("doc_id").isNotNull && col("h").isNotNull)
  }

  /** Per-language dedup audit — the report a curation run publishes
    * alongside the cleaned corpus: docs total, docs in any verified
    * duplicate cluster, docs the cleaner drops (non-keepers), and the
    * drop rate. One left join of the bounded cluster table against the
    * corpus ids + one grouped roll-up; output is |langs| rows at any
    * corpus size.
    */
  def dedupReport(c: DataFrame): DataFrame =
    dedupReport(c, duplicateClusters(verifiedPairs(c)))

  /** As [[dedupReport]] with a precomputed cluster table. */
  def dedupReport(c: DataFrame, clusters: DataFrame): DataFrame = {
    val cl = clusters
      .select(col("doc_id"), col("is_keeper"), lit(1).as("_m"))
    c.select(col("doc_id"), col("lang"))
      .join(cl, Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        count(col("_m")).as("n_clustered"),
        count(when(col("is_keeper") === false, 1)).as("n_dropped"))
      .select(col("lang"), col("n_docs"), col("n_clustered"), col("n_dropped"),
        (col("n_dropped").cast("double") / col("n_docs").cast("double")).as("drop_rate"))
  }

  /** 32-bit SimHash per document (trigram-shingle counts as weights),
    * via the [[graft.expressions.SimHashAgg]] bounded-state aggregate:
    * one shuffle on doc_id with a 32-counter buffer, instead of exploding
    * 32 bit-rows per shingle across two shuffles. Bit-identical to that
    * explode formulation (cross-checked in DedupSpec; the DuckDB oracle
    * still uses the explode SQL).
    */
  def simhash(c: DataFrame): DataFrame =
    shingles(c).groupBy(col("doc_id"))
      .agg(graft.expressions.SimHashAgg.simhash_agg(col("h")).as("simhash"))

  /** The explode formulation of [[simhash]] — kept as the cross-check. */
  def simhashExplode(c: DataFrame): DataFrame = {
    val tokCnt = shingles(c)
      .groupBy(col("doc_id"), col("h"))
      .agg(count(lit(1)).as("cnt"))
    tokCnt
      .withColumn("b", explode(sequence(lit(0), lit(31))))
      .withColumn("contrib",
        when(expr("shiftright(h, b) & 1") === 1, col("cnt")).otherwise(-col("cnt")))
      .groupBy(col("doc_id"), col("b"))
      .agg(sum(col("contrib")).as("s"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("s") > 0, expr("shiftleft(CAST(1 AS BIGINT), b)")).otherwise(lit(0L))).as("simhash"))
  }

  val NumBands = 4      // 8 simhash bits per band
  val BandRadius = 2    // probe all ≤2-bit variants of each band key

  /** All XOR masks with ≤ [[BandRadius]] bits set within an 8-bit band:
    * 1 + 8 + C(8,2) = 37 masks.
    */
  private[operators] val BandMasks: Seq[Long] =
    0L +: ((0 until 8).map(i => 1L << i) ++
      (for { i <- 0 until 8; j <- i + 1 until 8 } yield (1L << i) | (1L << j)))

  /** (doc_id, lang, simhash, band, bk): the 4 consecutive 8-bit slices of
    * each doc's fingerprint — the multi-index Hamming index.
    */
  def simhashBands(c: DataFrame): DataFrame =
    // SHUFFLE_HASH: the lang side is a corpus-sized projection — without
    // the hint, known input stats let Spark broadcast the corpus (the
    // hazard PlanQualitySpec pins; it was invisible while a transient
    // checkpoint hid this subtree from the executed plan). The simhash
    // agg side is already hash-partitioned on doc_id, so the join adds
    // one exchange on the narrow (doc_id, lang) side only.
    simhash(c).join(c.select(col("doc_id"), col("lang")).hint("shuffle_hash"),
        Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("simhash"),
        explode(sequence(lit(0), lit(NumBands - 1))).as("band"))
      .withColumn("bk", expr("shiftright(simhash, band * 8) & 255"))

  /** SimHash near-dup pairs: same-lang pairs at hamming ≤ maxDist, found
    * via multi-index Hamming (Manku et al., WWW'07 shape): one side
    * probes every ≤2-bit variant of each band key, the other keeps exact
    * keys, and the join is an equi-join on (lang, band, key). Pigeonhole
    * (⌊maxDist/4⌋ ≤ 2 for maxDist ≤ 11) makes recall EXACT — the result
    * equals the all-pairs hamming scan, without enumerating any block².
    *
    * Threshold 8 of ~30 effective bits (hashes are mod P < 2^30): planted
    * near-dups (4-token tail ≈ 6 changed shingles) land ≤ 8; random pairs
    * centre near 15.
    */
  def simhashPairs(c: DataFrame, maxDist: Int = 8): DataFrame = {
    require(maxDist <= NumBands * (BandRadius + 1) - 1,
      s"exact recall only up to hamming ${NumBands * (BandRadius + 1) - 1}")
    // both join sides read the band table; no transient checkpoint — the
    // two sides share the identical band subtree, so exchange reuse runs
    // the shingle → fingerprint pipeline once per action (the IsNotNull
    // filter is a semantic no-op on the inner-join keys, stated in the
    // spine so the join's inferred null filters don't fork the subtree)
    val bands = simhashBands(c)
      .filter(col("lang").isNotNull && col("bk").isNotNull)
    val probes = bands
      .withColumn("mask", explode(typedLit(BandMasks)))
      .withColumn("vk", col("bk").bitwiseXOR(col("mask")))
    // SHUFFLE_HASH on the exact side: post-checkpoint stats are unknown,
    // and left to itself Spark broadcast the 37×-exploded PROBE side
    // (build = |corpus|×4×37 rows — a driver OOM at real scale). The
    // shuffle-hash join shuffles both sides on (lang, band, key) and
    // hash-builds the compact side — the only shape that survives 100 TB
    probes.as("a").join(bands.as("b").hint("shuffle_hash"),
        col("a.lang") === col("b.lang") && col("a.band") === col("b.band") &&
          col("a.vk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** n-gram Jaccard similarity ≥ minJaccard, verified ONLY over the
    * MinHash-LSH candidate pairs — the standard LSH candidate→verify
    * split. Pair enumeration is bounded by LSH bucket contents at any
    * scale; no block-local cross join anywhere. (Candidates with zero
    * shared shingles drop out of the intersection join, which is fine:
    * their Jaccard is 0 < minJaccard.)
    */
  def ngramJaccardPairs(c: DataFrame, minJaccard: Double = 0.5): DataFrame = {
    // the token set feeds candidate generation, both intersection sides,
    // and the size table — one lazy materialization for all four
    val tok = tokenHashes(c).localCheckpoint(false)
    verifyJaccard(candidatesFromSig(signaturesFromTok(tok)), tok, minJaccard)
  }

  /** Exact n-gram-Jaccard verification of a candidate pair set against a
    * (doc_id, h) token table — the shared verify stage of
    * [[ngramJaccardPairs]] and the incremental-merge path.
    *
    * SHUFFLE_HASH on every tok/sizes side: they are corpus-sized with
    * unknown post-checkpoint stats, and a stats-blind broadcast of the
    * whole shingle set (or the per-doc size table) cannot survive scale;
    * the shuffle-hash joins partition on the join key and build only a
    * per-partition slice.
    */
  private def verifyJaccard(cand: DataFrame, tok: DataFrame,
      minJaccard: Double): DataFrame = {
    val sizes = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("nt"))
    val inter = cand
      .join(tok.select(col("doc_id").as("doc_a"), col("h")).hint("shuffle_hash"), Seq("doc_a"))
      .join(tok.select(col("doc_id").as("doc_b"), col("h")).hint("shuffle_hash"), Seq("doc_b", "h"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("ni"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("nt").as("na")).hint("shuffle_hash"), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("nt").as("nb")).hint("shuffle_hash"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("ni").cast("double") / (col("na") + col("nb") - col("ni")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** EXACT set-similarity self-join via prefix filtering (the
    * PPJoin/AllPairs family — Chaudhuri'06 SSJoin, Bayardo'07,
    * Xiao'08): every pair with shingle-set Jaccard ≥ tNum/tDen, with
    * ZERO misses — the exact-recall complement to the MinHash-LSH
    * candidate path (LSH trades a known false-negative rate for
    * hashing; prefix filtering trades nothing and still never goes
    * all-pairs). The theorem: order every doc's elements by a GLOBAL
    * rank (document frequency asc, hash tiebreak — rarest first); if
    * J(x,y) ≥ t then x and y must share an element inside their first
    * |x| − ⌈t·|x|⌉ + 1 elements — so the candidate join is an equi-join
    * on PREFIX elements only, and prefixes are built from each doc's
    * RAREST elements, exactly the ones with short postings.
    *
    * Exactness discipline: the threshold is a RATIONAL tNum/tDen — the
    * prefix length uses integer ceil ((sz·tNum + tDen − 1) div tDen; a
    * float ⌈0.8·5⌉ rounds to 5 through IEEE and silently SHORTENS the
    * prefix, breaking the no-miss theorem), the size filter and the
    * final verify are pure integer comparisons (ni·tDen ≥
    * (na+nb−ni)·tNum); the reported jaccard double is display-only.
    *
    * Scale shape: df + size tables are grouped counts; the prefix rank
    * is a per-doc window (high-cardinality partition key); the
    * candidate join is shuffle-hash on the prefix element with the
    * size-ratio filter (t·max ≤ min) applied pre-distinct; verify =
    * the candidate-bounded intersection count ([[verifyJaccard]]'s
    * shape). Candidate volume is Σ over prefix elements of df² — df of
    * the RAREST elements, the quantity the ordering minimizes.
    */
  def ppjoinPairs(c: DataFrame, tNum: Long = 4, tDen: Long = 5): DataFrame = {
    // No transient checkpoint on the shared spines: every consumer below
    // (df table, size table, prefix build, both verify sides) references
    // the SAME distinct/prefix subtree, so runtime exchange reuse
    // materializes each shuffle once per action — while the two lazy
    // localCheckpoints cost a full extra physical-planning pass each at
    // construction plus materialization jobs, per run. The explicit
    // IsNotNull filters are semantic no-ops (doc_id is the corpus key, h
    // an explode output) whose job is canonical-plan convergence: the
    // JOIN consumers infer IsNotNull on their keys and would otherwise
    // push it below the distinct, making their spine subtree differ from
    // the aggregate consumers' and silently forking the corpus scan into
    // two evaluations. With the filter stated once in the spine, every
    // consumer shares one subtree and AQE reuses the exchange.
    val tok = shingles(c)
      .filter(col("doc_id").isNotNull && col("h").isNotNull)
      .distinct()
    val dfh = tok.groupBy(col("h")).agg(count(lit(1)).as("dfh"))
    val sizes = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val wP = Window.partitionBy(col("doc_id")).orderBy(col("dfh"), col("h"))
    // sz rides the SAME doc_id exchange as the rank window (an
    // unordered count-over frame, no extra sort) instead of a
    // shuffle-hash join of the per-doc size table onto the corpus-sized
    // token stream — one fewer exchange on the big side
    val wC = Window.partitionBy(col("doc_id"))
    val pre = tok
      .join(dfh.hint("shuffle_hash"), Seq("h"))
      .withColumn("sz", count(lit(1)).over(wC))
      .withColumn("rnp", row_number().over(wP))
      .filter(col("rnp") <=
        col("sz") - expr(s"(sz * $tNum + ${tDen - 1}) div $tDen") + 1)
      .select(col("doc_id"), col("h"), col("sz"))
    val cand = pre.alias("a")
      .join(pre.alias("b").hint("SHUFFLE_HASH"), col("a.h") === col("b.h"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .filter(col("b.sz") * tDen >= col("a.sz") * tNum &&
        col("a.sz") * tDen >= col("b.sz") * tNum)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val inter = cand
      .join(tok.select(col("doc_id").as("doc_a"), col("h")).hint("shuffle_hash"), Seq("doc_a"))
      .join(tok.select(col("doc_id").as("doc_b"), col("h")).hint("shuffle_hash"), Seq("doc_b", "h"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("ni"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("na")).hint("shuffle_hash"), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("nb")).hint("shuffle_hash"), Seq("doc_b"))
      .filter(col("ni") * tDen >= (col("na") + col("nb") - col("ni")) * tNum)
      .select(col("doc_a"), col("doc_b"), col("ni"), col("na"), col("nb"),
        (col("ni").cast("double") / (col("na") + col("nb") - col("ni")).cast("double"))
          .as("jaccard"))
  }

  /** DuckDB mirror of [[ppjoinPairs]] over [[corpusSql]] — same global
    * ordering, integer prefix ceil, and integer verify.
    */
  def ppjoinPairsSql(tNum: Long = 4, tDen: Long = 5): String =
    s"""WITH $corpusSql,
       |ptok AS (
       |  SELECT DISTINCT doc_id, h FROM (
       |    SELECT doc_id, $shingleUnnestSql AS h
       |    FROM (SELECT doc_id, $toksSql AS toks FROM corpus))),
       |pdf AS (SELECT h, COUNT(*) AS dfh FROM ptok GROUP BY h),
       |psz AS (SELECT doc_id, COUNT(*) AS sz FROM ptok GROUP BY doc_id),
       |ppre AS (
       |  SELECT doc_id, h, sz FROM (
       |    SELECT t.doc_id, t.h, s.sz,
       |      ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY d.dfh, t.h) AS rnp
       |    FROM ptok t JOIN pdf d USING (h) JOIN psz s USING (doc_id)) x
       |  WHERE rnp <= sz - ((sz * $tNum + ${tDen - 1}) // $tDen) + 1),
       |pcand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM ppre a JOIN ppre b ON a.h = b.h AND a.doc_id < b.doc_id
       |  WHERE b.sz * $tDen >= a.sz * $tNum AND a.sz * $tDen >= b.sz * $tNum),
       |pint AS (
       |  SELECT c.doc_a, c.doc_b, COUNT(*) AS ni
       |  FROM pcand c
       |  JOIN ptok x ON x.doc_id = c.doc_a
       |  JOIN ptok y ON y.doc_id = c.doc_b AND y.h = x.h
       |  GROUP BY 1, 2)
       |SELECT p.doc_a, p.doc_b, CAST(p.ni AS BIGINT) AS ni,
       |  CAST(sa.sz AS BIGINT) AS na, CAST(sb.sz AS BIGINT) AS nb,
       |  CAST(p.ni AS DOUBLE) / CAST(sa.sz + sb.sz - p.ni AS DOUBLE) AS jaccard
       |FROM pint p
       |JOIN psz sa ON sa.doc_id = p.doc_a
       |JOIN psz sb ON sb.doc_id = p.doc_b
       |WHERE p.ni * $tDen >= (sa.sz + sb.sz - p.ni) * $tNum""".stripMargin

  /** App-scoped root for the persisted index stores, with a per-root JVM
    * shutdown hook that deletes that app's directory (both
    * generations): `spark.cleaner.referenceTracking.cleanCheckpoints`
    * only reclaims RDD checkpoint files, so without this the parquet
    * stores would accumulate across app runs on a long-lived host. The
    * gen-1 store is NOT deleted eagerly at compaction time — memoized
    * frames ([[dedupIndexFor]], the pair/cluster artifacts built on it)
    * may still be serving reads from it within the session; on a real
    * cluster an object-store lifecycle policy (or the orchestrator's
    * run-scoped prefix) plays this reclamation role.
    */
  // one hook per DISTINCT root, not a once-only boolean: the root embeds
  // the applicationId, so a second SparkSession in the same JVM (test
  // harnesses do this) mints a new root that the first hook knows nothing
  // about — its stores would leak on a long-lived host
  private val hookedRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def indexStoreRoot(spark: org.apache.spark.sql.SparkSession): String = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft-dedup-index/" +
      spark.sparkContext.applicationId
    if (hookedRoots.add(root)) {
      val dir = new java.io.File(root)
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
          f.delete(): Unit
        }
        rm(dir)
      }, s"graft-dedup-index-cleanup-${dir.getName}"))
    }
    root
  }

  /** Persisted dedup index — the daily-crawl artifact: the base corpus's
    * distinct token hashes and LSH band table written ONCE to parquet
    * and served back as parquet-backed frames (the
    * [[graft.sources.StageMemo.reliableStage]] discipline applied to an
    * index a production pipeline keeps BETWEEN runs; on a cluster the
    * path is an HDFS/object-store prefix, here the JVM tmpdir). Every
    * consumer re-reads from storage: immune to executor memory pressure,
    * and the shingle → signature pipeline never reruns for the base.
    *
    * NOTE the memo (and the store path) key on the data DIR, not the
    * frame: every caller for a given dir must pass the SAME canonical
    * base (here: the corpus tiers below +2e6) or the memo would serve a
    * different corpus's index — the same trap [[Classifier.scoreOn]]'s
    * scaladoc documents for the feature memo.
    */
  def dedupIndexFor(base: DataFrame, dir: String): (DataFrame, DataFrame) =
    StageMemo.value[(DataFrame, DataFrame)](Owner, base.sparkSession, dir,
        "dedup-index") {
      val spark = base.sparkSession
      val path =
        s"${indexStoreRoot(spark)}/${java.lang.Integer.toHexString(dir.hashCode)}"
      tokenHashes(base).write.mode("overwrite").parquet(s"$path/tok")
      val tok = Tables.resolve(spark, s"$path/tok")
      lshBands(signaturesFromTok(tok)).write.mode("overwrite").parquet(s"$path/bands")
      (tok, Tables.resolve(spark, s"$path/bands"))
    }

  /** Increment-merge over the persisted index: all NEW verified pairs an
    * increment introduces (increment × base and increment × increment),
    * touching ONLY the buckets the increment collides into — the base
    * band store is semi-join-reduced before any pair forms, and base
    * token sets load only for docs that appear in a candidate pair (the
    * q_dedup_contain candidate-bounding lesson). Merge work scales with
    * the increment's bucket collisions, never the base pair count: a
    * daily crawl merges in O(increment), not O(corpus).
    */
  def incrementMergePairs(baseTok: DataFrame, baseBands: DataFrame,
      incr: DataFrame, minJaccard: Double = 0.5): DataFrame = {
    val tokN = tokenHashes(incr).localCheckpoint(false)
    val bandsN = lshBands(signaturesFromTok(tokN)).localCheckpoint(false)
    val cand = incrementCandidates(baseBands, bandsN).localCheckpoint(false)
    verifyJaccard(cand, incrementTok(baseTok, tokN, cand).localCheckpoint(false),
      minJaccard)
  }

  /** Candidate pairs an increment introduces: increment × (base band
    * store SEMI-JOIN-REDUCED to the buckets the increment touches) plus
    * increment × increment. Split out so the spec can pin the LeftSemi
    * on the un-checkpointed plan.
    */
  private[graft] def incrementCandidates(baseBands: DataFrame,
      bandsN: DataFrame): DataFrame = {
    val touched = baseBands.hint("shuffle_hash")
      .join(bandsN.select(col("band"), col("bh")).distinct(),
        Seq("band", "bh"), "left_semi")
    val cross = bandsN.as("a").hint("shuffle_hash")
      .join(touched.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
    val within = bandsN.as("a").hint("shuffle_hash")
      .join(bandsN.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    cross.union(within).distinct()
  }

  /** Verify-side token table for the merge: the increment's own tokens
    * plus the base store SEMI-JOIN-REDUCED to candidate members — base
    * token sets never load for docs outside a candidate pair (the
    * q_dedup_contain candidate-bounding lesson).
    */
  private[graft] def incrementTok(baseTok: DataFrame, tokN: DataFrame,
      cand: DataFrame): DataFrame = {
    val candIds = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    tokN.union(
      baseTok.join(candIds.hint("shuffle_hash"), Seq("doc_id"), "left_semi"))
  }

  /** Incremental corpus dedup end-to-end: verified pairs of base ∪
    * increment computed as persisted-index base pairs UNION the
    * increment merge — by construction exactly the full-recompute pair
    * set (bands are a per-doc function, so full-corpus candidates
    * partition into base-only and increment-touching; the verify is
    * per-pair), which is what the q_dedup_incr oracle checks. `part`
    * tags each pair's provenance.
    */
  def incrementalJaccardPairs(base: DataFrame, incr: DataFrame, dir: String,
      minJaccard: Double = 0.5): DataFrame =
    basePairsFor(base, dir, minJaccard)
      .withColumn("part", lit("base"))
      .union(mergePairsFor(base, incr, dir, minJaccard)
        .withColumn("part", lit("incr")))

  /** Memoized [[incrementMergePairs]] artifact — the merge runs once per
    * (dir) and every consumer (the pair union, the cluster fold-in)
    * reads the persisted result, exactly as a production loop would keep
    * the day's verified-new-pairs table. Same dir-keyed-memo caveat as
    * [[dedupIndexFor]]: callers for a given dir must pass the canonical
    * base/increment split (tests that vary the increment clear memos
    * first).
    */
  def mergePairsFor(base: DataFrame, incr: DataFrame, dir: String,
      minJaccard: Double = 0.5): DataFrame =
    StageMemo.stage(Owner, base.sparkSession, dir, s"mergepairs$minJaccard") {
      val (tokB, bandsB) = dedupIndexFor(base, dir)
      incrementMergePairs(tokB, bandsB, incr, minJaccard)
    }

  /** Verified pair table of the BASE corpus served off the persisted
    * index — memoized like [[jaccardPairsFor]] (one verify, every
    * incremental consumer reads the artifact).
    */
  def basePairsFor(base: DataFrame, dir: String,
      minJaccard: Double = 0.5): DataFrame =
    StageMemo.stage(Owner, base.sparkSession, dir, s"basepairs$minJaccard") {
      val (tokB, bandsB) = dedupIndexFor(base, dir)
      verifyJaccard(candidatesFromBands(bandsB), tokB, minJaccard)
    }

  /** Base-corpus cluster table (the artifact incremental maintenance
    * updates), memoized + reliable like [[clustersFor]].
    */
  def baseClustersFor(base: DataFrame, dir: String): DataFrame =
    StageMemo.stage(Owner, base.sparkSession, dir, "baseclusters")(
      duplicateClusters(basePairsFor(base, dir).select(col("doc_a"), col("doc_b"))))

  /** Jaccard-threshold sensitivity histogram — the read-out a curation
    * run reads before PICKING its dedup bar (the pair-side complement of
    * the classifier's PR sweep): verified pairs down to a LOWER floor
    * (default 0.3, below the production 0.5) banded into fixed 0.05
    * steps, with the cumulative pairs-kept-at-or-above count per band —
    * how many pairs each candidate threshold would keep/drop. Fixed
    * bands (never rank quantiles) keep it histogram-priced at any
    * corpus size; the cumulative runs as a bounded ≤ 20×20 triangular
    * self-join (the prCurve discipline — no partition-less window).
    * Banding is floor(20·j) on the exact IEEE division both engines
    * compute identically.
    */
  def jaccardHistogram(c: DataFrame, dir: String,
      minJaccard: Double = 0.3): DataFrame = {
    // the low-floor verified pairs are their own memoized artifact (the
    // 0.5-floor jaccardPairsFor table cannot serve them)
    val pairs = StageMemo.stage(Owner, c.sparkSession, dir, s"jpairs$minJaccard")(
      ngramJaccardPairs(c, minJaccard))
    val hist = pairs
      .select(floor(col("jaccard") * 20).cast("long").as("jband"))
      .groupBy(col("jband")).agg(count(lit(1)).as("n_pairs"))
    val hi = hist.select(col("jband").as("jb2"), col("n_pairs").as("np2"))
    hist.join(broadcast(hi), col("jb2") >= col("jband"))
      .groupBy(col("jband"), col("n_pairs"))
      .agg(sum(col("np2")).as("n_at_or_above"))
  }

  /** The banding's theoretical S-curve, one row per fixed 0.05 Jaccard
    * band: P(candidate | j) = 1 − (1 − j^r)^b at the band midpoint,
    * floored to ppm. Computed ONCE in driver-side Scala and injected as
    * literals into BOTH the engine plan and the DuckDB mirror — the two
    * engines never each evaluate `pow`, so a last-ulp libm divergence
    * cannot split the hash compare.
    */
  def scurveTheoryPpm: Seq[(Long, Long)] =
    (0 until 20).map { jb =>
      val mid = (2 * jb + 1) / 40.0
      val p = 1.0 - math.pow(1.0 - math.pow(mid, BandSize), NumHashes / BandSize)
      (jb.toLong, math.floor(p * 1e6).toLong)
    }

  /** LSH S-curve audit — measured band-collision rate per exact-Jaccard
    * band vs the 1 − (1 − j^r)^b theory the (b, r) choice is justified
    * by: the read-out that tells a curation run whether its banding's
    * collision threshold actually sits where the formula promised
    * (honest permutations; a biased hash family shifts the measured
    * curve off theory — exactly what the small-multiplier signature bug
    * this corpus's banding comment records would have shown here).
    *
    * Measuring P(collision | j) needs ground-truth Jaccard for
    * NON-collided pairs too, so like every recall audit this is a
    * BOUNDED audit, never a production scan: the subset keeps base ids
    * ≤ maxBaseId across all three corpus tiers (originals + their
    * planted near-dup and exact twins — the only pair population with
    * mass at high j), a constant ~47 docs / ~1100 pairs at ANY corpus
    * scale. Within it: exact per-pair Jaccard from the distinct shingle
    * sets (integer band index (20·ni) div nu — no float banding),
    * collision = sharing ≥ 1 production (band, bh) key, rates as
    * integer ppm. Pairs and theory rows are broadcast; the only
    * corpus-sized work is the tier filter's scan.
    */
  def scurveAudit(c: DataFrame, maxBaseId: Long = 40L): DataFrame = {
    val spark = c.sparkSession
    import spark.implicits._
    val audit = c.filter(col("doc_id") % 1000000L <= maxBaseId)
      .select(col("doc_id"), col("text")).localCheckpoint(false)
    val tok = tokenHashes(audit).localCheckpoint(false)
    val sizes = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("nt"))
    val ids = audit.select(col("doc_id"))
    val pairs = ids.select(col("doc_id").as("doc_a"))
      .join(broadcast(ids.select(col("doc_id").as("doc_b"))),
        col("doc_a") < col("doc_b"))
    val inter = pairs
      .join(tok.select(col("doc_id").as("doc_a"), col("h")).hint("shuffle_hash"),
        Seq("doc_a"))
      .join(tok.select(col("doc_id").as("doc_b"), col("h")).hint("shuffle_hash"),
        Seq("doc_b", "h"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("ni"))
    val bands = lshBands(signaturesFromTok(tok))
    val coll = bands.select(col("doc_id").as("doc_a"), col("band"), col("bh"))
      .join(bands.select(col("doc_id").as("doc_b"), col("band"), col("bh")),
        Seq("band", "bh"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
      .withColumn("hit", lit(1L))
    val theory = broadcast(scurveTheoryPpm.toDF("jband", "theo_ppm"))
    pairs
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(sizes.select(col("doc_id").as("doc_a"), col("nt").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("nt").as("nb")), Seq("doc_b"))
      .join(coll, Seq("doc_a", "doc_b"), "left")
      .withColumn("jn", coalesce(col("ni"), lit(0L)))
      .withColumn("nu", col("na") + col("nb") - col("jn"))
      .select(least(lit(19L), expr("(jn * 20) div nu")).as("jband"),
        coalesce(col("hit"), lit(0L)).as("hit"))
      .groupBy(col("jband"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("hit")).as("n_coll"))
      .withColumn("meas_ppm", expr("(1000000 * n_coll) div n_pairs"))
      .join(theory, Seq("jband"))
  }

  /** Index COMPACTION — the generation roll that ends the daily-crawl
    * loop: fold the increment's token/band rows into the persisted base
    * store and write the NEXT-GENERATION index (same parquet store
    * discipline), so the following day's merge runs against one compact
    * base again instead of a base plus k increment sidecars. The write
    * is one union of the parquet-backed base frames with the
    * increment's freshly-built rows — the base corpus is never
    * re-shingled; compacted ≡ full-rebuild by construction (tok and
    * bands are pure per-doc functions), which q_dedup_compact
    * oracle-checks through the bucket-stats read-out.
    */
  def compactIndex(base: DataFrame, incr: DataFrame,
      dir: String): (DataFrame, DataFrame) =
    StageMemo.value[(DataFrame, DataFrame)](Owner, base.sparkSession, dir,
        "dedup-index-gen2") {
      val spark = base.sparkSession
      val (tokB, bandsB) = dedupIndexFor(base, dir)
      val tokN = tokenHashes(incr).localCheckpoint(false)
      val path =
        s"${indexStoreRoot(spark)}/${java.lang.Integer.toHexString(dir.hashCode)}-gen2"
      tokB.union(tokN).write.mode("overwrite").parquet(s"$path/tok")
      bandsB.union(lshBands(signaturesFromTok(tokN)))
        .write.mode("overwrite").parquet(s"$path/bands")
      (Tables.resolve(spark, s"$path/tok"), Tables.resolve(spark, s"$path/bands"))
    }

  /** Takedown propagation through the persisted INDEX store — the third
    * incremental primitive next to ADD ([[incrementMergePairs]]) and
    * COMPACT ([[compactIndex]]): a right-to-be-forgotten batch removes
    * its docs' rows from the persisted tok/band store and writes the
    * result as a next-generation parquet index. The base corpus is never
    * re-shingled — the whole delete is two anti-join scans of the store
    * (O(store) I/O, O(delete set) join state); deleted ≡ a full index
    * rebuild over base ∖ deleted by construction (tok and bands are pure
    * per-doc functions), which q_dedup_delindex oracle-checks through
    * the bucket-stats read-out.
    *
    * Same dir-keyed-memo caveat as [[dedupIndexFor]]: callers for a
    * given dir must pass the canonical base and takedown batch.
    */
  def deleteFromIndex(base: DataFrame, deleted: DataFrame,
      dir: String): (DataFrame, DataFrame) =
    StageMemo.value[(DataFrame, DataFrame)](Owner, base.sparkSession, dir,
        "dedup-index-del") {
      val spark = base.sparkSession
      val (tokB, bandsB) = dedupIndexFor(base, dir)
      val delIds = deleted.select(col("doc_id")).distinct().localCheckpoint(false)
      val path =
        s"${indexStoreRoot(spark)}/${java.lang.Integer.toHexString(dir.hashCode)}-del"
      tokB.join(delIds.hint("shuffle_hash"), Seq("doc_id"), "left_anti")
        .write.mode("overwrite").parquet(s"$path/tok")
      bandsB.join(delIds.hint("shuffle_hash"), Seq("doc_id"), "left_anti")
        .write.mode("overwrite").parquet(s"$path/bands")
      (Tables.resolve(spark, s"$path/tok"), Tables.resolve(spark, s"$path/bands"))
    }

  /** Takedown propagation through the persisted CLUSTER table — the
    * delete-side mirror of [[incrementalClusters]], with one crucial
    * asymmetry: a deleted doc can be a CUT VERTEX, so the touched
    * components must re-resolve over their surviving ACTUAL pair edges
    * (served from the persisted [[jaccardPairsFor]] artifact), never the
    * star edges the add-side fold-in uses — member → root stars preserve
    * connectivity, which is exactly wrong when removing the doc that
    * provided it (a~b~c with b deleted must split a and c apart).
    *
    * Shape: (1) touched components = clusters containing a deleted
    * member, found by one delete-bounded semi-join; (2) their surviving
    * edges = the persisted pair table semi-join-reduced to touched
    * members, both endpoints anti-joined against the delete set; (3) the
    * star loop re-runs on that subgraph only — docs left with no
    * surviving edge drop out of the table, exactly as a full rebuild
    * drops never-paired docs; (4) every untouched cluster row passes
    * through byte-identical (the same row of the same persisted table).
    * Deleting nodes/edges can only SPLIT components, never merge them,
    * so the per-component recompute is exhaustive. Work scales with the
    * touched membership, not the corpus; output ≡ a full re-cluster of
    * corpus ∖ deleted, which the q_dedup_delete oracle re-checks against
    * the recursive-closure recompute.
    */
  def deleteClusters(c: DataFrame, deleted: DataFrame, dir: String): DataFrame =
    deleteClustersFrom(clustersFor(c, dir),
      jaccardPairsFor(c, dir).select(col("doc_a"), col("doc_b")), deleted)

  /** [[deleteClusters]] over caller-supplied persisted artifacts (the
    * cluster table and its verified pair table) — the production entry
    * point, and the one fixtures test without touching the dir-keyed
    * memos.
    */
  def deleteClustersFrom(cl: DataFrame, pairs: DataFrame,
      deleted: DataFrame): DataFrame = {
    val delIds = deleted.select(col("doc_id")).distinct()
    val touched = cl.join(delIds.hint("shuffle_hash"), Seq("doc_id"), "left_semi")
      .select(col("cluster")).distinct()
    val touchedMembers = cl
      .join(touched.hint("shuffle_hash"), Seq("cluster"), "left_semi")
      .localCheckpoint(false)
    val edges = pairs.select(col("doc_a"), col("doc_b"))
      .join(touchedMembers.select(col("doc_id").as("doc_a")).hint("shuffle_hash"),
        Seq("doc_a"), "left_semi")
      .join(delIds.select(col("doc_id").as("doc_a")).hint("shuffle_hash"),
        Seq("doc_a"), "left_anti")
      .join(delIds.select(col("doc_id").as("doc_b")).hint("shuffle_hash"),
        Seq("doc_b"), "left_anti")
      .select(col("doc_a"), col("doc_b"))
    val sub = duplicateClusters(edges)
    cl.join(touchedMembers.select(col("doc_id")).hint("shuffle_hash"),
        Seq("doc_id"), "left_anti")
      .union(sub)
  }

  /** [[deleteClusters]] memoized as the post-takedown cluster ARTIFACT
    * (reliable checkpoint), same serving discipline as
    * [[incrementalClustersFor]].
    */
  def deleteClustersFor(c: DataFrame, deleted: DataFrame, dir: String): DataFrame =
    StageMemo.stage(Owner, c.sparkSession, dir, "delclusters")(
      deleteClusters(c, deleted, dir))

  /** One full crawl GENERATION over the persisted pair artifacts — the
    * composition a recurring-crawl pipeline runs after the snapshot diff
    * names its sets ([[graft.operators.Curation.snapshotDiff]]): the
    * takedown batch leaves the index ([[deleteFromIndex]] — two
    * anti-join scans, base never re-shingled), the new crawl's docs
    * merge against the POST-DELETE store ([[incrementMergePairs]] —
    * O(increment) bucket-bounded), and the surviving base pairs are the
    * persisted [[basePairsFor]] artifact with removed-touching rows
    * anti-joined out. Total generation cost: O(store I/O) for the
    * delete + O(increment) for the merge + O(base pairs) for the filter
    * — the corpus is never re-scanned.
    *
    * Output ≡ a full from-scratch pair recompute over
    * (base ∖ removed) ∪ increment by construction: bands are per-doc
    * functions, so the full candidate set partitions into
    * survivor-only pairs (= base candidates with both endpoints
    * surviving — removed docs' bands are exactly what the delete
    * removed) and increment-touching pairs (= the merge against the
    * deleted store, which is the survivor store); the verify is
    * per-pair. The q_dedup_crawl oracle re-checks this against the
    * full recompute. `part` tags provenance: 'kept' = surviving base
    * pair, 'new' = pair introduced by the increment.
    */
  def crawlPairs(base: DataFrame, removed: DataFrame, incr: DataFrame,
      dir: String, minJaccard: Double = 0.5): DataFrame = {
    val delIds = removed.select(col("doc_id")).distinct()
    val kept = basePairsFor(base, dir, minJaccard)
      .join(delIds.select(col("doc_id").as("doc_a")).hint("shuffle_hash"),
        Seq("doc_a"), "left_anti")
      .join(delIds.select(col("doc_id").as("doc_b")).hint("shuffle_hash"),
        Seq("doc_b"), "left_anti")
      // using-column joins move the join column first — restore the
      // (doc_a, doc_b) order before the positional union below
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .withColumn("part", lit("kept"))
    val (tokD, bandsD) = deleteFromIndex(base, removed, dir)
    val fresh = incrementMergePairs(tokD, bandsD, incr, minJaccard)
      .withColumn("part", lit("new"))
    kept.union(fresh)
  }

  /** [[crawlPairs]] memoized as the generation's pair ARTIFACT (reliable
    * checkpoint) — the table tomorrow's generation calls its base. Same
    * dir-keyed-memo caveat as [[dedupIndexFor]].
    */
  def crawlPairsFor(base: DataFrame, removed: DataFrame, incr: DataFrame,
      dir: String, minJaccard: Double = 0.5): DataFrame =
    StageMemo.stage(Owner, base.sparkSession, dir, s"crawlpairs$minJaccard")(
      crawlPairs(base, removed, incr, dir, minJaccard))

  /** Incremental duplicate-CLUSTER maintenance — the step after
    * [[incrementMergePairs]] in the daily-crawl loop: fold the
    * increment's verified edges into the existing cluster table without
    * re-resolving the whole graph. A new edge can only change components
    * that contain one of its endpoints, so: (1) the TOUCHED base
    * components are found by two increment-bounded semi-joins; (2) a
    * subgraph of their star edges (member → component root, which
    * preserve exactly their connectivity) plus the new edges re-resolves
    * through the same large/small-star loop — CC work scales with the
    * affected membership, not the corpus; (3) every untouched cluster
    * row passes through BYTE-IDENTICAL (it is the same row of the same
    * persisted table). Output ≡ a full re-cluster of base ∪ increment by
    * construction, and the oracle re-checks it against the full
    * recursive-closure recompute.
    */
  def incrementalClusters(base: DataFrame, incr: DataFrame,
      dir: String): DataFrame =
    foldInClusters(baseClustersFor(base, dir),
      mergePairsFor(base, incr, dir).select(col("doc_a"), col("doc_b")))

  /** The fold-in itself over caller-supplied artifacts: new edges join
    * an existing cluster table by re-resolving only the components
    * containing their endpoints (star edges preserve the table's
    * connectivity — valid here because edges are only ADDED; the
    * delete side must use actual pair edges instead, see
    * [[deleteClustersFrom]]). Split out so the crawl generation can
    * fold the day's merge pairs into the POST-DELETE table.
    */
  def foldInClusters(baseCl: DataFrame, newEdges: DataFrame): DataFrame = {
    val touched = newEdges.select(col("doc_a").as("doc_id"))
      .union(newEdges.select(col("doc_b").as("doc_id"))).distinct()
    val affectedClusters = baseCl
      .join(touched.hint("shuffle_hash"), Seq("doc_id"), "left_semi")
      .select(col("cluster")).distinct()
    val affectedMembers = baseCl
      .join(affectedClusters.hint("shuffle_hash"), Seq("cluster"), "left_semi")
      .localCheckpoint(false)
    val starEdges = affectedMembers
      .select(col("doc_id").as("doc_a"), col("cluster").as("doc_b"))
    val sub = duplicateClusters(starEdges.union(newEdges))
    baseCl.join(affectedMembers.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .union(sub)
  }

  /** Cluster-side crawl GENERATION — [[crawlPairs]]' sibling on the
    * persisted cluster artifact, composing both incremental primitives
    * in their production order: (1) the takedown re-resolves only the
    * components containing a deleted member over their surviving ACTUAL
    * pair edges ([[deleteClustersFrom]] — cut-vertex-safe); (2) the
    * day's merge pairs (from the post-delete store, so they can never
    * name a removed doc) fold into the post-delete table re-resolving
    * only the components they touch ([[foldInClusters]] — star edges
    * valid because this step only ADDS edges, including re-bridging
    * components the delete split when the increment provides a new
    * path). Delete-then-add ≡ one full re-cluster of
    * (base ∖ removed) ∪ increment because CC(E₁ ∪ E₂) = fold-in of E₂
    * into CC(E₁); the q_dedup_crawlclusters oracle re-checks against
    * the recursive-closure recompute. Work: touched components only at
    * both steps — the corpus never re-clusters.
    */
  def crawlClusters(base: DataFrame, removed: DataFrame, incr: DataFrame,
      dir: String): DataFrame = {
    val postDel = deleteClustersFrom(
      baseClustersFor(base, dir),
      basePairsFor(base, dir).select(col("doc_a"), col("doc_b")), removed)
    val newEdges = crawlPairsFor(base, removed, incr, dir)
      .filter(col("part") === "new")
      .select(col("doc_a"), col("doc_b"))
    foldInClusters(postDel, newEdges)
  }

  /** [[crawlClusters]] memoized as the generation's cluster ARTIFACT. */
  def crawlClustersFor(base: DataFrame, removed: DataFrame, incr: DataFrame,
      dir: String): DataFrame =
    StageMemo.stage(Owner, base.sparkSession, dir, "crawlclusters")(
      crawlClusters(base, removed, incr, dir))

  /** [[incrementalClusters]] memoized as the next-generation cluster
    * ARTIFACT (reliable checkpoint) — the fold-in runs once; serving
    * reads the persisted table, same as [[clustersFor]].
    */
  def incrementalClustersFor(base: DataFrame, incr: DataFrame,
      dir: String): DataFrame =
    StageMemo.stage(Owner, base.sparkSession, dir, "incrclusters")(
      incrementalClusters(base, incr, dir))

  /** Cross-corpus near-dedup (the INCREMENTAL dedup a growing corpus
    * needs: flag incoming docs that near-duplicate something already in
    * the reference corpus, without re-deduping the reference against
    * itself). Same MinHash-LSH candidate → n-gram-Jaccard verify split as
    * [[ngramJaccardPairs]], but the banded join is incoming × reference —
    * work scales with the INCREMENT's bucket collisions, not the full
    * corpus pair count, and the reference side's signatures/token sets
    * are exactly the artifacts a production pipeline would have
    * precomputed and stored.
    *
    * Output: (doc_new, doc_ref, jaccard) for every verified pair at or
    * above `minJaccard`. All corpus-sized joins are shuffle-hash on the
    * join key (checkpoint-derived sides have unknown stats; a blind
    * broadcast would ship a corpus).
    */
  def crossCorpusDuplicates(incoming: DataFrame, ref: DataFrame,
      minJaccard: Double = 0.5): DataFrame = {
    val tokN = tokenHashes(incoming).localCheckpoint(false)
    val tokR = tokenHashes(ref).localCheckpoint(false)
    val bandsN = lshBands(signaturesFromTok(tokN))
    val bandsR = lshBands(signaturesFromTok(tokR))
    val cand = bandsN.as("a").hint("shuffle_hash")
      .join(bandsR.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.doc_id").as("doc_new"), col("b.doc_id").as("doc_ref"))
      .distinct()
    val inter = cand
      .join(tokN.select(col("doc_id").as("doc_new"), col("h")).hint("shuffle_hash"), Seq("doc_new"))
      .join(tokR.select(col("doc_id").as("doc_ref"), col("h")).hint("shuffle_hash"), Seq("doc_ref", "h"))
      .groupBy(col("doc_new"), col("doc_ref"))
      .agg(count(lit(1)).as("ni"))
    inter
      .join(tokN.groupBy(col("doc_id")).agg(count(lit(1)).as("na"))
        .withColumnRenamed("doc_id", "doc_new").hint("shuffle_hash"), Seq("doc_new"))
      .join(tokR.groupBy(col("doc_id")).agg(count(lit(1)).as("nb"))
        .withColumnRenamed("doc_id", "doc_ref").hint("shuffle_hash"), Seq("doc_ref"))
      .select(col("doc_new"), col("doc_ref"),
        (col("ni").cast("double") / (col("na") + col("nb") - col("ni")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Duplicate-cluster resolution: connected components over the candidate
    * pair graph via min-label propagation, then a deterministic keeper
    * (the minimum doc_id) per component — the step that turns "similar
    * pairs" into actual dedup decisions (a~b, b~c ⇒ one group even if
    * (a,c) was never a candidate).
    *
    * The loop is the alternating LARGE-STAR / SMALL-STAR formulation
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14): each round rewires strictly-larger neighbors (large-star)
    * and then smaller neighbors (small-star) onto each node's
    * neighborhood minimum, converging to per-component stars rooted at
    * the component minimum in O(log n) rounds — independent of component
    * DIAMETER, unlike plain min-label propagation (a length-d chain takes
    * d propagation steps but only ~log₂ d star rounds). Each round is two
    * distinct-aggregated shuffles on the edge endpoint; the edge set
    * never grows past one canonical edge per (node, current-root).
    *
    * Convergence = the canonical edge SET reaches a fixpoint, tested with
    * ONE action per round: a left join of the new set against the previous
    * round's cached set aggregating (|next|, |next \ edges|) together —
    * exact set equality (both sides are distinct) without a second job.
    * The same action materializes `next`'s cache, and the join is
    * exchange-free: both sides already carry hash(u, v) partitioning from
    * their closing `distinct()`. (The prior spelling ran a count() PLUS a
    * left-anti isEmpty per round — two scheduler round-trips whose fixed
    * overhead dominated at local scale.) Every 4th round goes through a
    * lazy `localCheckpoint` to cut the growing lineage. All per-round
    * caches are unpersisted before returning; the small result is
    * checkpointed so it survives them.
    */
  val MaxClusterIters = 20

  /** Rounds the most recent [[duplicateClusters]] call took (one round =
    * large-star + small-star); exposed for tests and telemetry.
    */
  @volatile var lastClusterRounds: Int = 0

  /** Large-star: per node u over its full (undirected) neighborhood Γ(u),
    * attach every neighbor v > u to m = min(Γ(u) ∪ {u}). Every dropped
    * (u, w<u) edge re-emerges from w's own group, so connectivity is
    * preserved. Input/output edges are canonical (u > v).
    *
    * Single windowed pass — a groupBy-min + self-join spelling evaluates
    * the (uncached) round input once per join side, which compounds
    * across the smallStar(largeStar(e)) composition into 4× work per
    * round; the window needs one exchange and reads its input once.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val und = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val w = Window.partitionBy(col("u"))
    und
      .withColumn("m", least(min(col("v")).over(w), col("u")))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
    // no distinct here: duplicates are bounded by |und| and the
    // small-star that always follows ends in one — saves a shuffle/round
  }

  /** Small-star: per node u over its smaller neighbors Γ(u) (canonical
    * edges point down), attach every v ∈ Γ(u) \ {m} and u itself to
    * m = min(Γ(u)). Rows carrying v == m are rewritten to (u, m), so a
    * single windowed pass emits both the re-attachments and the group's
    * own root edge (no self-join, no union); duplicate input rows (the
    * un-distinct'd large-star output) just produce duplicate emissions,
    * merged by the closing distinct.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("u"))
    e
      .withColumn("m", min(col("v")).over(w))
      .select(
        when(col("v") === col("m"), col("u")).otherwise(col("v")).as("u"),
        col("m").as("v"))
      .distinct()
  }

  /** Memoized [[verifiedPairs]] → [[duplicateClusters]] per (session,
    * corpus key). Four oracle queries (clusters / clean / best / report)
    * and the e2e pipeline share this exact stage; under the driver's
    * one-query-one-function contract each used to rebuild it (~4 s × 4 at
    * sf0.1). A real pipeline materializes the cluster table ONCE — this is
    * that table: the first caller pays the build (the memoized frame is
    * a RELIABLE checkpoint — [[graft.sources.StageMemo.reliableStage]] —
    * so later reads are file scans that survive block-manager eviction,
    * not local-checkpoint blocks competing with execution memory),
    * later callers reuse it. Keyed by [[graft.sources.Tables.dataKey]]
    * (session + dir + file-listing fingerprint) so test fixtures on
    * other corpora, restarted sessions, AND a regenerated dir within one
    * session never collide. [[clearMemos]] releases everything
    * explicitly (e.g. between corpus generations in a long-lived
    * service).
    */
  def clustersFor(c: DataFrame, dir: String): DataFrame =
    StageMemo.stage(Owner, c.sparkSession, dir, "")(
      duplicateClusters(jaccardPairsFor(c, dir).select(col("doc_a"), col("doc_b"))))

  /** Memoized Jaccard-VERIFIED pair stage — the one pair table three
    * consumers share (the q_dedup_jaccard audit, the source-provenance
    * matrix, and the cluster build's edge set). A real pipeline verifies
    * pairs once and serves every downstream read from the artifact; the
    * memo makes the suite's accounting match that (same reliable-
    * checkpoint discipline as [[clustersFor]]).
    */
  def jaccardPairsFor(c: DataFrame, dir: String): DataFrame =
    StageMemo.stage(Owner, c.sparkSession, dir, "jpairs")(ngramJaccardPairs(c))

  /** Drop every memoized stage table and index of this family; their
    * checkpoint files become collectable. For long-lived sessions that
    * regenerate corpora.
    */
  def clearMemos(): Unit = StageMemo.clear(Owner)

  def duplicateClusters(pairs: DataFrame): DataFrame = {
    var edges = pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct().cache()
    var cnt = edges.count()
    var converged = cnt == 0
    var iter = 0
    while (!converged && iter < MaxClusterIters) {
      val step = smallStar(largeStar(edges))
      // lazy checkpoint: materializes during the SAME fixpoint action
      val next = if (iter % 4 == 3) step.localCheckpoint(false) else step.cache()
      // single action per round: |next| and |next \ edges| in one pass
      // (set equality needs both — equal counts alone could hide a swap)
      val row = next
        .join(edges.withColumn("_old", lit(1)), Seq("u", "v"), "left")
        .agg(count(lit(1)), count(when(col("_old").isNull, 1)))
        .head()
      val (ncnt, fresh) = (row.getLong(0), row.getLong(1))
      converged = ncnt == cnt && fresh == 0L
      edges.unpersist()
      edges = next
      cnt = ncnt
      iter += 1
    }
    lastClusterRounds = iter
    if (!converged)
      log.warn(s"duplicateClusters: round cap $MaxClusterIters reached before " +
        "the star fixpoint — emitted clusters may be unconverged")
    else
      log.info(s"duplicateClusters: converged in $iter large/small-star rounds")
    // at the star fixpoint every non-root has exactly ONE edge, to its
    // component minimum; the groupBy-min is a no-op then (and a
    // best-effort tiebreak if the round cap was ever hit)
    val result = edges
      .select(col("u").as("doc_id"), col("v").as("cluster"))
      .union(edges.select(col("v").as("doc_id"), col("v").as("cluster")))
      .groupBy(col("doc_id")).agg(min(col("cluster")).as("cluster"))
      .select(col("doc_id"), col("cluster"),
        (col("doc_id") === col("cluster")).as("is_keeper"))
      .localCheckpoint()
    edges.unpersist()
    result
  }

  /** VERIFIED duplicate pairs: LSH candidates that pass the exact n-gram
    * Jaccard bar — the edge set clustering must run on. Raw band
    * collisions are NOT duplicates: at honest permutation quality the
    * per-band false-positive rate is J²_background per band, which over
    * |corpus|² pairs yields thousands of spurious edges at sf0.1 alone
    * (millions at 100 TB) — clustering those glues unrelated docs into
    * components and silently drops them from the corpus.
    *
    * Cost: the exact verify joins the shingle stream per candidate side
    * (~+4 s on the sf0.1 cluster queries). The extreme-scale swap is
    * [[minhashSimilarity]] with an `est_jaccard >= τ` filter — one row
    * per pair off the already-materialized signatures, NO shingle join —
    * trading the exact bar for the 16-component estimate (±0.125 stderr;
    * not the default because exact is what the oracle can check).
    */
  def verifiedPairs(c: DataFrame): DataFrame =
    ngramJaccardPairs(c).select(col("doc_a"), col("doc_b"))

  /** The end-to-end dedup output: the corpus minus every non-keeper
    * cluster member (cluster keepers and never-candidate singletons
    * survive) — [[verifiedPairs]] → [[duplicateClusters]] → anti-join,
    * i.e. what a pipeline actually feeds the tokenizer.
    */
  def dedupedCorpus(c: DataFrame): DataFrame =
    dedupedCorpus(c, duplicateClusters(verifiedPairs(c)))

  /** As [[dedupedCorpus]] with a precomputed cluster table (from
    * [[clustersFor]]) — the shared-stage entry point the query map uses.
    */
  def dedupedCorpus(c: DataFrame, clusters: DataFrame): DataFrame = {
    val nonKeepers = clusters
      .filter(!col("is_keeper")).select(col("doc_id"))
    c.join(nonKeepers, Seq("doc_id"), "left_anti")
  }

  /** Quality-aware dedup: keep each duplicate cluster's BEST member by
    * quality score (ties → smaller doc_id) instead of [[dedupedCorpus]]'s
    * minimum-id keeper — what a curation pipeline actually wants when one
    * copy of a near-dup group is cleaner than the others (exact copies
    * score identically, so the original still survives by the id
    * tie-break).
    *
    * Scale shape: the cluster table is bounded by candidate-pair members
    * (never the corpus); the representative choice is one `max_by`
    * aggregation over it — O(1) state per cluster, no per-cluster sort —
    * and the final anti-join is the same equi-join as dedupedCorpus.
    * Null-quality members rank below every scored one (coalesce to -1e9).
    */
  def dedupedCorpusBest(c: DataFrame): DataFrame =
    dedupedCorpusBest(c, duplicateClusters(verifiedPairs(c)))

  /** As [[dedupedCorpusBest]] with a precomputed cluster table. */
  def dedupedCorpusBest(c: DataFrame, clusterTable: DataFrame): DataFrame = {
    val clusters = clusterTable
      .select(col("doc_id"), col("cluster"))
    val q = TextAnalysis.quality(c)
      .select(col("doc_id"), coalesce(col("quality"), lit(-1e9)).as("q"))
    val best = clusters.join(q, "doc_id")
      .groupBy(col("cluster"))
      .agg(max_by(col("doc_id"), struct(col("q"), -col("doc_id"))).as("keep_id"))
    val drops = clusters.join(best, "cluster")
      .filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"))
    c.join(drops, Seq("doc_id"), "left_anti")
  }

  // ---- Paragraph-level (sub-document) dedup ------------------------------

  /** Tokens per pseudo-paragraph block. The synthetic corpus has no
    * newlines, so "paragraphs" are fixed 20-token blocks — the unit real
    * pipelines (C4, RefinedWeb) dedupe at when whole-doc dedup leaves
    * boilerplate repeated ACROSS distinct documents.
    */
  val ParaTokens = 20

  /** One row per (doc, block): fixed 20-token blocks split on single
    * spaces (byte-exact with the DuckDB oracle's `string_split`, so the
    * kept text reassembles to the original — no lowercase, no whitespace
    * classes).
    *
    * Shape: a pure narrow map — the block array is built per doc with
    * `transform(sequence…, slice…)` and exploded; no token stream ever
    * exists, so nothing shuffles.
    */
  def paragraphs(c: DataFrame): DataFrame = {
    val toks = split(col("text"), " ", -1)
    c.select(col("doc_id"),
      posexplode(transform(
        // Column `/` is double division — floor+cast makes the block count
        sequence(lit(0), floor((size(toks) - 1) / lit(ParaTokens)).cast("int")),
        i => array_join(slice(toks, i * lit(ParaTokens) + lit(1), lit(ParaTokens)), " ")))
        .as(Seq("ord", "para")))
  }

  /** Global paragraph-level dedup with document reassembly: every block
    * keeps only its FIRST occurrence corpus-wide (lexicographic
    * (doc_id, ord)), and each doc is rebuilt from its surviving blocks in
    * order. Docs whose every block is shadowed by an earlier doc (exact
    * copies) drop out entirely; near-copies keep only their novel tail.
    *
    * Scale shape — two shuffles, both skew-proof:
    *  1. groupBy(para) with a packed-long `min` — map-side combinable, so
    *     a boilerplate block repeated across millions of docs reduces to
    *     one row per partition before the exchange (a row_number window
    *     over the block key would instead sort the full repeat group on
    *     one reducer). The keeper identity (doc_id, ord) is packed as
    *     `doc_id << 20 | ord` because lexicographic-min over that pair as
    *     a STRUCT has a non-primitive aggregation buffer, which kicks the
    *     whole stage from HashAggregate to sort-based aggregation — a
    *     per-partition sort of every block by text. Packing keeps the
    *     codegen'd hash path (pinned in PlanQualitySpec); ord < 2^20
    *     bounds docs at ~20M tokens, far above any real document.
    *  2. groupBy(doc_id) reassembly — bounded by each doc's own block
    *     count, `array_sort(collect_list…)` on ≤ tokens/20 elements.
    * No join anywhere: the keeper aggregation already carries the keeper
    * identity AND the block text.
    */
  private val ParaOrdBits = 20

  def paragraphDedup(c: DataFrame): DataFrame =
    paragraphs(c)
      .groupBy(col("para"))
      .agg(min(shiftleft(col("doc_id"), ParaOrdBits) + col("ord")).as("k"))
      .select(shiftright(col("k"), ParaOrdBits).as("doc_id"),
        col("k").bitwiseAND(lit((1L << ParaOrdBits) - 1)).as("ord"), col("para"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("ord"), col("para"))).as("ps"))
      .select(col("doc_id"),
        array_join(transform(array_sort(col("ps")), _.getField("para")), " ")
          .as("text_kept"),
        size(col("ps")).cast("long").as("n_paras"))

  /** Repeated-span removal accounting (Lee et al., ACL'22 "Deduplicating
    * Training Data Makes Language Models Better" — their ExactSubstr cut,
    * at this library's block granularity): for every doc, how many of its
    * blocks are shadowed by an earlier first occurrence corpus-wide, and
    * how many tokens survive the cut. [[paragraphDedup]] emits the
    * cleaned text; this emits the per-doc audit a curation run publishes
    * (exact copies → removed_frac 1, near copies → only the novel tail
    * survives, originals → 0).
    *
    * Scale shape: the keeper table is the SAME packed-long map-side
    * combinable min as paragraphDedup (one row per distinct block before
    * the exchange — boilerplate repeated across millions of docs stays
    * skew-proof); occurrences probe it with a shuffle-hash equi-join on
    * the block text (block tables are corpus-derived — never broadcast);
    * one per-doc roll-up. Kept tokens are counted from the kept blocks'
    * own text, so `kept_tokens` sums exactly to paragraphDedup's
    * reassembled corpus size.
    */
  def spanRemovalReport(c: DataFrame): DataFrame = {
    val p = paragraphs(c)
      .withColumn("key", shiftleft(col("doc_id"), ParaOrdBits) + col("ord"))
    val keep = p.groupBy(col("para")).agg(min(col("key")).as("k"))
    p.join(keep.hint("shuffle_hash"), Seq("para"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        count(when(col("key") =!= col("k"), 1)).as("n_removed"),
        sum(when(col("key") === col("k"),
          size(split(col("para"), " ", -1)).cast("long")).otherwise(lit(0L)))
          .as("kept_tokens"))
      .select(col("doc_id"), col("n_blocks"), col("n_removed"), col("kept_tokens"),
        (col("n_removed").cast("double") / col("n_blocks").cast("double"))
          .as("removed_frac"))
  }

  /** ExactSubstr-style repeated-span sweep (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499 — the seed-and-merge approximation): every
    * position whose `SpanSeedLen`-token window occurs ≥ 2 times ANYWHERE
    * in the corpus (other docs or the same doc — boilerplate repeats
    * in-document) is a seed; per doc, seed positions whose `SpanSeedLen`
    * windows overlap as TOKEN INTERVALS (position gap < SpanSeedLen)
    * merge into MAXIMAL repeated spans — an interval merge, not a
    * consecutive-positions-only islanding, so two seeds 2–4 positions
    * apart yield ONE span and output spans never intersect (`n_tokens`
    * is additive over a doc). Output: one row per maximal span with its
    * token extent —
    * the substring-level dedup signal that doc-level MinHash misses
    * (a long quote inside an otherwise-novel doc) and that
    * [[spanRemovalReport]]'s fixed paragraph blocks only approximate at
    * 20-token granularity.
    *
    * Semantics note: two overlapping seeds may repeat AT DIFFERENT
    * far-side locations; the merged span is then "every position here is
    * part of SOME repeat", not "this exact span repeats verbatim" — the
    * standard seed-merge over-approximation (the paper's suffix-array
    * form is exact but inherently sequential; the seed form is what
    * shards).
    *
    * Scale: the seed stream is one narrow pass (n_tokens rows); the one
    * corpus-sized shuffle is the seed-hash groupBy (map-side
    * combinable); the repeated-hash table joins back SHUFFLE_HASH on the
    * hash (corpus-derived — never broadcast); the island merge windows
    * on high-cardinality doc_id. Nothing all-pairs: a span is found
    * WITHOUT ever joining the two repeating docs against each other.
    */
  val SpanSeedLen = 5

  def repeatedSpans(c: DataFrame): DataFrame = {
    val l = SpanSeedLen
    // fused native seed pass (GramHashes: one generated scan per doc —
    // no exploded token stream, no per-position slice/concat/hash lambda
    // chain); byte-exact with stringHash(concat_ws(" ", slice(toks, i,
    // l))) per start position, empty array under l tokens
    val sh = c.select(col("doc_id"),
      posexplode(graft.expressions.GramHashes.gram_hashes(col("text"), l))
        .as(Seq("pos", "h")))
    val rep = sh.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("h"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // interval merge: a new span starts where the gap to the previous
    // seed is >= l (token windows disjoint); running sum of the breaks
    // numbers the islands. Both windows share one partitioning+sort.
    // (A pos − row_number islanding merges only gap-1 seeds: seeds 2–4
    // apart then emit two OVERLAPPING spans and Σ n_tokens over-counts.)
    sh.join(rep.hint("shuffle_hash"), Seq("h"))
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) < l, 0).otherwise(1))
      .withColumn("grp", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + lit(l - 1)).cast("long").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("n_tokens"))
  }

  /** DuckDB mirror of [[repeatedSpans]] over the `corpus` CTE. */
  def repeatedSpansSql: String = {
    val l = SpanSeedLen
    val gram = (0 until l).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
    s"""rsh AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(toks) - ${l - 2}), i -> {'pos': i - 1,
       |      'h': ${hashSql(gram)}}), recursive := true)
       |  FROM (SELECT doc_id, $toksSql AS toks FROM corpus)),
       |rrep AS (SELECT h FROM rsh GROUP BY h HAVING COUNT(*) >= 2),
       |rbrk AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
       |           < $l THEN 0 ELSE 1 END AS brk
       |  FROM rsh JOIN rrep USING (h)),
       |risl AS (
       |  SELECT doc_id, pos,
       |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS UNBOUNDED PRECEDING) AS grp
       |  FROM rbrk)
       |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
       |  CAST(MAX(pos) + ${l - 1} AS BIGINT) AS span_end,
       |  CAST(MAX(pos) + ${l - 1} - MIN(pos) + 1 AS BIGINT) AS n_tokens
       |FROM risl GROUP BY doc_id, grp""".stripMargin
  }

  /** Window length for EXACT-substring dedup — longer than the
    * [[SpanSeedLen]] seed (Lee '21 removes substrings past a length
    * threshold; the hash-seeded [[repeatedSpans]] targets recall at a
    * shorter grain).
    */
  val SubstrLen = 8

  /** Exact substring dedup (Lee '21's ExactSubstr, spelled Spark-native
    * as seed → EXTEND-AND-VERIFY): a token position is covered when its
    * length-L window's TEXT occurs ≥ 2 times anywhere in the corpus —
    * verified by DIRECT STRING EQUALITY, not hash agreement (the one
    * property [[repeatedSpans]] trusts its 10^9-range hash for); covered
    * positions merge into maximal per-doc removal spans. Any repeated
    * substring of length ≥ L contains a repeated L-window and every
    * repeated L-window IS a repeated substring, so the merged spans are
    * EXACTLY the tokens Lee '21's suffix-array formulation removes at
    * threshold L — without materializing a suffix array, which does not
    * distribute.
    *
    * Three-stage price, NO all-pairs join anywhere:
    *  1. seed: the fused [[graft.expressions.GramHashes]] window-hash
    *     pass (narrow) + ONE h-keyed grouped count — candidates are the
    *     windows whose HASH repeats (a superset of string-repeats, so
    *     stage 3 is exact regardless of collisions);
    *  2. verify: candidate positions group per doc, the token array
    *     joins ONCE per doc (never once per seed), each candidate
    *     window's text slices out narrow, and ONE w-keyed grouped count
    *     keeps strings that really repeat — a hash collision dies here,
    *     costing only its own candidate row;
    *  3. merge: the [[repeatedSpans]] gaps-and-islands windows, shared
    *     partitioning+sort.
    * Work rides the window equi-join keys (h, then w): per stage one
    * shuffle, each over the candidate subset only.
    */
  def exactSubstrSpans(c: DataFrame, l: Int = SubstrLen): DataFrame = {
    val sh = c.select(col("doc_id"),
      posexplode(graft.expressions.GramHashes.gram_hashes(col("text"), l))
        .as(Seq("pos", "h")))
    val rep = sh.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("h"))
    val toked = c.select(col("doc_id"), tokens(col("text")).as("toks"))
    val wins = sh.join(rep.hint("shuffle_hash"), Seq("h"))
      .groupBy(col("doc_id")).agg(collect_list(col("pos")).as("ps"))
      .join(toked.hint("shuffle_hash"), Seq("doc_id"))
      .select(col("doc_id"), explode(col("ps")).as("pos"), col("toks"))
      .select(col("doc_id"), col("pos"),
        concat_ws(" ", slice(col("toks"), col("pos") + 1, lit(l))).as("w"))
    val wrep = wins.groupBy(col("w")).agg(count(lit(1)).as("wc"))
      .filter(col("wc") >= 2).select(col("w"))
    val seeds = wins.join(wrep.hint("shuffle_hash"), Seq("w"))
      .select(col("doc_id"), col("pos"))
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    seeds
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(win) < l, 0).otherwise(1))
      .withColumn("grp", sum(col("brk")).over(win))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + lit(l - 1)).cast("long").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("n_tokens"))
  }

  /** DuckDB mirror of [[exactSubstrSpans]] — the oracle computes
    * repeated-window truth by DIRECT SUBSTRING COMPARISON (GROUP BY the
    * window text itself; no hash exists anywhere in this SQL), so an
    * engine-side hash collision surviving to the output would
    * hash-mismatch the round's gate.
    */
  def exactSubstrSql(l: Int = SubstrLen): String =
    s"""${exactSubstrCtes(l)}
       |SELECT doc_id, span_start, span_end, n_tokens FROM xspans""".stripMargin

  /** The [[exactSubstrSql]] chain alone (ending in `xspans`), for the
    * removal-accounting composition.
    */
  def exactSubstrCtes(l: Int = SubstrLen): String = {
    val gram = (0 until l).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
    s"""xw AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(toks) - ${l - 2}), i -> {'pos': i - 1,
       |      'w': $gram}), recursive := true)
       |  FROM (SELECT doc_id, $toksSql AS toks FROM corpus)),
       |xrep AS (SELECT w FROM xw GROUP BY w HAVING COUNT(*) >= 2),
       |xbrk AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
       |           < $l THEN 0 ELSE 1 END AS brk
       |  FROM xw JOIN xrep USING (w)),
       |xisl AS (
       |  SELECT doc_id, pos,
       |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS UNBOUNDED PRECEDING) AS grp
       |  FROM xbrk),
       |xspans AS (
       |  SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
       |    CAST(MAX(pos) + ${l - 1} AS BIGINT) AS span_end,
       |    CAST(MAX(pos) + ${l - 1} - MIN(pos) + 1 AS BIGINT) AS n_tokens
       |  FROM xisl GROUP BY doc_id, grp)""".stripMargin
  }

  /** Removal accounting over [[exactSubstrSpans]] — the
    * [[spanRemovalReport]] sibling at the EXACT substring level: per
    * doc, total tokens, the span count, the covered (removable) token
    * mass and the surviving mass after the Lee '21 cut, plus the
    * removed fraction. Spans are provably disjoint (the islands merge),
    * so covered = Σ span lengths is additive and kept = n − covered
    * conserves exactly (spec-pinned). Docs with no repeated window are
    * ROWS with zero removal, not absence — the planner needs the full
    * corpus margin.
    */
  def exactSubstrReport(c: DataFrame, l: Int = SubstrLen): DataFrame = {
    val stats = c.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
    val cov = exactSubstrSpans(c, l)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("n_tokens")).as("covered"))
    stats.join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("covered"), lit(0L)).as("covered_tokens"))
      .withColumn("kept_tokens", col("n_tokens") - col("covered_tokens"))
      .withColumn("removed_frac",
        when(col("n_tokens") > 0,
          col("covered_tokens").cast("double") / col("n_tokens").cast("double"))
          .otherwise(lit(0.0)))
  }

  /** DuckDB mirror of [[exactSubstrReport]] over the shared
    * [[exactSubstrCtes]] chain.
    */
  def exactSubstrReportSql(l: Int = SubstrLen): String =
    s"""${exactSubstrCtes(l)},
       |xcov AS (
       |  SELECT doc_id, COUNT(*) AS n_spans,
       |    CAST(SUM(n_tokens) AS BIGINT) AS covered
       |  FROM xspans GROUP BY doc_id),
       |xst AS (
       |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens
       |  FROM corpus)
       |SELECT t.doc_id, t.n_tokens,
       |  COALESCE(c.n_spans, CAST(0 AS BIGINT)) AS n_spans,
       |  COALESCE(c.covered, CAST(0 AS BIGINT)) AS covered_tokens,
       |  t.n_tokens - COALESCE(c.covered, 0) AS kept_tokens,
       |  CASE WHEN t.n_tokens > 0
       |       THEN CAST(COALESCE(c.covered, 0) AS DOUBLE) / CAST(t.n_tokens AS DOUBLE)
       |       ELSE 0.0 END AS removed_frac
       |FROM xst t LEFT JOIN xcov c ON c.doc_id = t.doc_id""".stripMargin

  // ---- DuckDB oracle mirrors ---------------------------------------------

  /** Mirror of [[paragraphs]] over the `corpus` CTE (1-based subscripts →
    * `(i-1)//20`; `string_agg ORDER BY i` rebuilds the block).
    */
  val paraSql: String =
    """para AS (
      |  SELECT doc_id, (i - 1) // 20 AS ord, string_agg(w, ' ' ORDER BY i) AS para
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
      |               generate_subscripts(string_split(text, ' '), 1) AS i
      |        FROM corpus)
      |  GROUP BY doc_id, (i - 1) // 20
      |)""".stripMargin

  val corpusSql: String =
    """corpus AS (
      |  SELECT doc_id, lang, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000 AS doc_id, lang, text FROM documents WHERE doc_id % 20 = 0
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, lang, text || ' graft near dup tail' AS text
      |  FROM documents WHERE doc_id % 10 = 0
      |)""".stripMargin

  /** Inline word hash over SQL expression `w`. */
  def hashSql(w: String): String =
    s"list_reduce(list_prepend(CAST(7 AS BIGINT), list_transform(string_split($w, ''), c -> ascii(c))), (a, b) -> (a*31 + b) % 1000000007)"

  val toksSql: String =
    """list_filter(regexp_split_to_array(trim(lower(text)), '[ \t\n\f\r]+'), x -> length(x) > 0)"""

  /** Trigram-shingle hash stream over a `toks` list column — the single
    * shared spelling of the shingle expression (used by [[shingleSql]]
    * and the decontamination/repetition oracles).
    */
  val shingleUnnestSql: String =
    s"""unnest(list_transform(range(1, len(toks) - 1), i ->
       |      ${hashSql("toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]")}))""".stripMargin

  /** Non-distinct trigram-shingle hash CTE over `src` (mirror of
    * [[shingles]]); `out` names the CTE so the chain can be instantiated
    * once per corpus side (cross-corpus dedup).
    */
  def shingleSqlFor(src: String, out: String): String =
    s"""$out AS (
       |  SELECT doc_id,
       |    $shingleUnnestSql AS h
       |  FROM (SELECT doc_id, $toksSql AS toks FROM $src)
       |)""".stripMargin

  val shingleSql: String = shingleSqlFor("corpus", "sh")

  /** Distinct (doc, h) chain over `src`: `<out>_sh` + `<out>`. */
  def tokSqlFor(src: String, out: String): String =
    s"""${shingleSqlFor(src, out + "_sh")},
       |$out AS (SELECT DISTINCT doc_id, h FROM ${out}_sh)""".stripMargin

  val tokSql: String =
    s"""$shingleSql,
       |tok AS (SELECT DISTINCT doc_id, h FROM sh)""".stripMargin

  private def combineSql(cols: Seq[String]): String =
    cols.reduce((a, m) => s"(($a*31 + $m) % 1000000007)")

  /** MinHash-LSH candidate pairs + transitive closure → components: CTEs
    * `cand`, `edges`, `reach`, `comp` (requires `WITH RECURSIVE` and the
    * [[bandsSql]] chain above it). Shared by the q_dedup_clusters,
    * q_dedup_clean and q_pipeline_e2e oracles so the closure logic cannot
    * drift between mirrors.
    */
  val closureSql: String =
    """cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
      |vsizes AS (SELECT doc_id, COUNT(*) AS nt FROM tok GROUP BY 1),
      |vinter AS (
      |  SELECT doc_a, doc_b, COUNT(*) AS ni
      |  FROM cand
      |  JOIN tok a ON a.doc_id = doc_a
      |  JOIN tok b ON b.doc_id = doc_b AND b.h = a.h
      |  GROUP BY 1, 2),
      |vpairs AS (
      |  SELECT doc_a, doc_b FROM vinter
      |  JOIN vsizes sa ON doc_a = sa.doc_id
      |  JOIN vsizes sb ON doc_b = sb.doc_id
      |  WHERE CAST(ni AS DOUBLE) / CAST(sa.nt + sb.nt - ni AS DOUBLE) >= 0.5),
      |edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM vpairs
      |  UNION
      |  SELECT doc_b AS src, doc_a AS dst FROM vpairs),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |comp AS (
      |  SELECT src AS id, LEAST(src, MIN(dst)) AS cluster
      |  FROM reach GROUP BY src)""".stripMargin

  /** `clean` CTE: the corpus minus non-keeper component members — the
    * oracle mirror of [[dedupedCorpus]] (follows [[closureSql]]).
    */
  val cleanSql: String =
    """clean AS (
      |  SELECT c.doc_id, c.lang, c.text FROM corpus c
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM comp WHERE comp.id = c.doc_id AND comp.id <> comp.cluster))""".stripMargin

  /** MinHash signature CTE over a distinct (doc, h) CTE named `tok`. */
  def sigSqlFor(tok: String, out: String): String = {
    val mins = (0 until NumHashes)
      .map(i => s"MIN((${graft.functions.TextFunctions.minhashMult(i)}*h + ${7919L * i + 13}) % 1000000007) AS m$i")
      .mkString(",\n    ")
    s"""$out AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM $tok GROUP BY doc_id
       |)""".stripMargin
  }

  val sigSql: String = sigSqlFor("tok", "sig")

  /** LSH band CTE over a signature CTE named `sig`. */
  def bandsSqlFor(sig: String, out: String): String = {
    val rows = (0 until NumHashes / BandSize).map { b =>
      val bh = combineSql((0 until BandSize).map(i => s"m${b * BandSize + i}"))
      s"SELECT doc_id, CAST($b AS BIGINT) AS band, $bh AS bh FROM $sig"
    }
    s"$out AS (\n  ${rows.mkString("\n  UNION ALL\n  ")}\n)"
  }

  val bandsSql: String = bandsSqlFor("sig", "bands")

  val simhashSql: String =
    s"""$shingleSql,
       |tokcnt AS (
       |  SELECT doc_id, h, COUNT(*) AS cnt FROM sh GROUP BY 1, 2
       |),
       |bits AS (
       |  SELECT doc_id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN cnt ELSE -cnt END) AS s
       |  FROM tokcnt, UNNEST(range(0, 32)) AS t(b)
       |  GROUP BY 1, 2
       |),
       |sims AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
       |  FROM bits GROUP BY 1
       |)""".stripMargin


  /** Shared DuckDB chain for the banded-candidate → Jaccard-verified
    * pair stage (ends in `jpairs(doc_a, doc_b, jaccard)`); expects
    * [[tokSql]]/[[sigSql]]/[[bandsSql]] upstream. One spelling so the
    * q_dedup_jaccard oracle and every matrix/rollup built on the pairs
    * cannot drift.
    */
  def jaccardPairSqlChain(minJaccard: Double = 0.5): String =
    s"""cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, COUNT(*) AS nt FROM tok GROUP BY 1),
       |inter AS (
       |  SELECT doc_a, doc_b, COUNT(*) AS ni
       |  FROM cand
       |  JOIN tok a ON a.doc_id = doc_a
       |  JOIN tok b ON b.doc_id = doc_b AND b.h = a.h
       |  GROUP BY 1, 2),
       |jpairs AS (
       |  SELECT doc_a, doc_b,
       |    CAST(ni AS DOUBLE) / CAST(sa.nt + sb.nt - ni AS DOUBLE) AS jaccard
       |  FROM inter
       |  JOIN sizes sa ON doc_a = sa.doc_id
       |  JOIN sizes sb ON doc_b = sb.doc_id
       |  WHERE CAST(ni AS DOUBLE) / CAST(sa.nt + sb.nt - ni AS DOUBLE) >= $minJaccard)"""
      .stripMargin

  /** Source-pair duplicate matrix — the provenance read-out over the
    * verified near-dup pairs: which sources copy which (mirror sites,
    * aggregator re-hosting, template families), as (src_a ≤ src_b) pair
    * counts plus a fixed-point order-free mean Jaccard. The audit a
    * curation run reads before deciding which source to DROP (the one
    * whose content survives elsewhere) rather than which documents.
    *
    * Scale: rides [[ngramJaccardPairs]]' banded/verified pair stage
    * (never all-pairs); source attribution is two shuffle-hash id
    * equi-joins against the (doc_id, source) projection; planted-copy
    * ids (+1e6, see [[corpus]]) attribute to their original's source;
    * output ≤ \|sources\|² rows. Mean Jaccard quantizes per pair to
    * 2^24 before the integer sum — partitioning-independent.
    */
  /** Source-centrality ranking over the cross-source duplication graph —
    * the step AFTER [[sourcePairMatrix]] in a web-curation loop: sources
    * whose content is heavily syndicated across OTHER sources (mirrors,
    * aggregators, scraped re-posts) accumulate centrality, and the
    * resulting rank is the data-driven input to source weighting
    * (Curation.sourceMix's caps pick volumes; this picks WHICH sources
    * are originals vs echoes). PageRank-style power iteration (damping
    * 85/100, fixed `rounds`) on nodes = sources, symmetric edges
    * weighted by the verified cross-source pair count.
    *
    * Scale + determinism spelling: the graph is |sources|-sized (domains,
    * not documents — bounded like a vocab table), but every step is a
    * DataFrame equi-join so millions of domains still distribute. Ranks
    * live at integer scale 1e12; each edge's contribution floors the
    * DECIMAL(38,0)-exact product (85 · rank · w) over (100 · wdeg)
    * through ONE double division (the [[graft.operators.TextAnalysis
    * .pmiRatio]] discipline — DuckDB's HUGEINT→DOUBLE path, bit-identical
    * cross-engine), and the per-edge FLOOR happens before the integer
    * sum, so inflow is an order-free long aggregation, never a
    * float-accumulation race. Dangling/isolated sources keep the base
    * (1−d)/N share each round (floor-loss mass is dropped, not
    * redistributed — a ranking read-out, not a probability vector;
    * documented variant).
    */
  def sourceRank(docs: DataFrame, dir: String, rounds: Int = 6): DataFrame =
    sourceRankFromMatrix(sourcePairMatrix(docs, dir),
      docs.select(col("source")).distinct(), rounds)

  /** [[sourceRank]] over a precomputed (src_a, src_b, n_pairs) matrix —
    * split out so specs can feed a hand graph.
    */
  def sourceRankFromMatrix(m: DataFrame, nodes0: DataFrame,
      rounds: Int = 6): DataFrame = {
    val Scale = 1000000000000L
    val nodes = nodes0.select(col("source")).distinct().localCheckpoint(false)
    // |sources| is a bounded scalar (the kmeans-k / gradient-row
    // bounded-collect discipline): domains, never documents
    val n = nodes.count()
    if (n == 0)
      return nodes.select(col("source"), lit(0L).as("rank_q"),
        lit(0L).as("w_degree"))
    val e0 = m.filter(col("src_a") =!= col("src_b"))
      .select(col("src_a").as("u"), col("src_b").as("v"),
        col("n_pairs").cast("long").as("w"))
    val edges = e0.union(e0.select(col("v").as("u"), col("u").as("v"), col("w")))
      .localCheckpoint(false)
    val wdeg = edges.groupBy(col("u")).agg(sum(col("w")).as("wdeg"))
      .localCheckpoint(false)
    val base = (Scale * 15L / 100L) / n
    var ranks = nodes.select(col("source"), lit(Scale / n).as("rank_q"))
    for (_ <- 1 to rounds) {
      val inflow = edges
        .join(ranks.select(col("source").as("u"), col("rank_q")), Seq("u"))
        .join(wdeg, Seq("u"))
        .select(col("v").as("source"),
          floor((lit(85L).cast("decimal(38,0)") * col("rank_q") * col("w"))
            .cast("double") / (lit(100L) * col("wdeg")).cast("double")).as("c"))
        .groupBy(col("source")).agg(sum(col("c")).as("inflow"))
      ranks = nodes.join(inflow, Seq("source"), "left")
        .select(col("source"),
          (lit(base) + coalesce(col("inflow"), lit(0L))).as("rank_q"))
        .localCheckpoint(false)
    }
    ranks.join(wdeg.select(col("u").as("source"), col("wdeg")), Seq("source"), "left")
      .select(col("source"), col("rank_q"),
        coalesce(col("wdeg"), lit(0L)).as("w_degree"))
  }

  def sourcePairMatrix(docs: DataFrame, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.{dequantize, quantize}
    val pairs = jaccardPairsFor(corpus(docs), dir)
    val src = docs.select(col("doc_id"), col("source"))
    // both planted tiers (+1e6 near-dups, +2e6 exact copies — see
    // [[corpus]]) attribute to their original's source
    def orig(c: Column): Column = c % 1000000L
    pairs
      .select(orig(col("doc_a")).as("ida"), orig(col("doc_b")).as("idb"),
        col("jaccard"))
      .join(src.select(col("doc_id").as("ida"), col("source").as("sa"))
        .hint("shuffle_hash"), Seq("ida"))
      .join(src.select(col("doc_id").as("idb"), col("source").as("sb"))
        .hint("shuffle_hash"), Seq("idb"))
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"),
        quantize(col("jaccard")).as("jq"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("jq")).as("qsum"))
      .select(col("src_a"), col("src_b"), col("n_pairs"),
        dequantize(col("qsum"), col("n_pairs")).as("mean_jaccard"))
  }

}
