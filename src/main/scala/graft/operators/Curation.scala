package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.sources.StageMemo

/** Training-data curation operators: the selection/layout steps between a
  * raw deduplicated corpus and a tokenizer-ready training set.
  *
  * Scale design:
  *  - Sampling is a pure narrow map — keep/drop is a deterministic
  *    function of the row's own content hash, so it needs no shuffle, no
  *    RNG state, and produces identical samples on every rerun/cluster
  *    size (a seeded `rand()` does NOT: row order varies with splits).
  *    Duplicate texts sample identically by construction, which keeps the
  *    decision consistent with dedup.
  *  - Packing and quantile filtering are one window each over a
  *    high-cardinality shard key (lang here; at 100 TB any shard key with
  *    cardinality ≫ executor count) — sort-within-partition, no global
  *    sort, no driver state.
  */
object Curation {

  /** This family's namespace in the [[StageMemo]] artifact registry. */
  private val Owner = "Curation"

  /** Per-language keep-permille for [[sampleStratified]]: downsample the
    * dominant language, keep the tails — the standard corpus-balancing
    * move. (Inlined identically in the DuckDB oracle.)
    */
  val SampleKeepPermille: Seq[(String, Int)] = Seq("en" -> 500, "de" -> 300)
  val DefaultKeepPermille = 100

  /** Deterministic content-hash bucket in [0, 1000). */
  def sampleBucket(text: Column): Column = stringHash(text) % 1000

  /** Deterministic stratified sampling: keep a row iff its content-hash
    * bucket falls below its language's keep-permille. Emits the bucket so
    * downstream audits can verify the rate.
    */
  def sampleStratified(docs: DataFrame): DataFrame = {
    val keep = SampleKeepPermille.foldRight(lit(DefaultKeepPermille)) {
      case ((l, p), acc) => when(col("lang") === l, lit(p)).otherwise(acc)
    }
    // barriered: a pushed-down `bucket < keep` re-hashes the text at the
    // scan and again in the projection
    graft.expressions.PushdownBarrier.barrieredFilter(
        docs.withColumn("bucket", sampleBucket(col("text"))),
        col("bucket") < keep)
      .select(col("doc_id"), col("lang"), col("bucket"))
  }

  /** Sequence packing (concat-and-cut): documents are laid out in a
    * deterministic order (doc_id) within each lang shard, token counts are
    * cumulatively summed, and each doc is assigned the pack its FIRST
    * token lands in: pack_id = ⌊exclusive-cumsum / budget⌋, offset = the
    * position within that pack. This is the standard LLM-pretraining
    * layout where the token stream is cut every `budget` tokens (docs may
    * straddle a boundary; the offset tells the writer where).
    *
    * The prefix sum is HIERARCHICAL (two-level scan), not one window per
    * lang: a single `lang`-partitioned window caps parallelism at lang
    * cardinality (5 here) and sorts each whole shard. Instead, docs are
    * blocked by `doc_id DIV block` (order-preserving): (1) per-(lang,
    * block) token totals — a frame `block`× smaller than the input; (2)
    * running block bases via a window over THAT tiny frame; (3) intra-
    * block cumsums under a high-cardinality (lang, block) window, joined
    * with the bases. The join shuffles on (lang, block), which is exactly
    * the pass-3 window's partitioning — no extra exchange. Output is
    * IDENTICAL to the flat cumsum (CurationSpec cross-checks), so the
    * oracle keeps the plain window form.
    */
  def packSequences(docs: DataFrame, budget: Int = 2048, block: Int = 4096): DataFrame =
    packFrom(docs.select(col("doc_id"), col("lang"),
      size(tokens(col("text"))).cast("long").as("n_tokens")), budget, block)

  /** The hierarchical packer over a precomputed (doc_id, lang, n_tokens)
    * frame — split out so the whitespace and BPE token budgets share ONE
    * layout implementation (the deterministic first-fit discipline
    * cannot drift between spellings).
    */
  private def packFrom(counts: DataFrame, budget: Int, block: Int): DataFrame = {
    val t = counts
      .withColumn("blk", expr(s"doc_id DIV $block"))
    val wb = Window.partitionBy(col("lang")).orderBy(col("blk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val blkBase = t.groupBy(col("lang"), col("blk"))
      .agg(sum(col("n_tokens")).as("blk_tokens"))
      .withColumn("blk_base", sum(col("blk_tokens")).over(wb) - col("blk_tokens"))
      .select(col("lang"), col("blk"), col("blk_base"))
    val wi = Window.partitionBy(col("lang"), col("blk")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.join(blkBase, Seq("lang", "blk"))
      .withColumn("cum_excl", col("blk_base") + sum(col("n_tokens")).over(wi) - col("n_tokens"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        (col("cum_excl") / budget).cast("long").as("pack_id"),
        (col("cum_excl") % budget).as("pack_offset"))
  }

  /** Sequence packing by BPE-encoded length — real pretraining pipelines
    * budget packs in TOKENIZER tokens, not whitespace words: the per-doc
    * cost is [[graft.operators.TextAnalysis.bpeSegment]]'s subword count
    * under the trained merge table (a dictionary word costs its final
    * symbol count; an out-of-dictionary word falls back to
    * characters + end-marker), laid out by the SAME deterministic
    * first-fit discipline as [[packSequences]] (one shared
    * implementation — the two budgets cannot drift). Empty docs have no
    * BPE length and pack nothing, exactly as they contribute nothing to
    * a token stream.
    *
    * Scale: the BPE train+apply cost story is [[graft.operators
    * .TextAnalysis.bpeSegment]]'s (one corpus token pass + vocab-bounded
    * rounds); the packer adds the hierarchical two-level scan — never a
    * per-lang whole-shard window. Conservation (Σ packed n_tokens ≡
    * Σ per-doc BPE lengths) is spec-pinned.
    */
  def packSequencesBpe(docs: DataFrame, budget: Int = 2048,
      block: Int = 4096, merges: Int = 8, maxWords: Int = 50000,
      dictOpt: Option[DataFrame] = None): DataFrame =
    packFrom(
      TextAnalysis.bpeSegment(docs, merges, maxWords, dictOpt)
        .select(col("doc_id"), col("n_subwords").as("n_tokens"))
        .join(docs.select(col("doc_id"), col("lang")), "doc_id"),
      budget, block)

  /** Packing by UNIGRAM-encoded length — [[packSequencesBpe]]'s twin
    * under the second tokenizer family, through the SAME shared
    * [[packFrom]] packer (one implementation, two token-cost columns):
    * the budget planner's bake-off is then pack-for-pack comparable
    * across tokenizers on the same corpus.
    */
  def packSequencesUnigram(docs: DataFrame, budget: Int = 2048,
      block: Int = 4096, dir: String = ""): DataFrame =
    packFrom(
      Unigram.unigramEncode(docs, dir)
        .select(col("doc_id"), col("n_subwords").as("n_tokens"))
        .join(docs.select(col("doc_id"), col("lang")), "doc_id"),
      budget, block)

  /** [[packStats]] on the unigram-budget layout. */
  def packStatsUnigram(docs: DataFrame, budget: Int = 2048,
      block: Int = 4096, dir: String = ""): DataFrame =
    packStatsFrom(packSequencesUnigram(docs, budget, block, dir), budget)

  /** Packing-efficiency audit over [[packSequences]]: per language, the
    * packed volume (docs, tokens, packs at the budget), the utilization
    * of the last partially-filled pack amortized over all packs, and the
    * rate of documents SPLIT across a pack boundary — the two numbers a
    * packing budget planner trades (a bigger budget wastes tail slots,
    * a smaller one splits more documents at context seams).
    *
    * Exactness: pack count is ceil(total/budget) in pure integers;
    * utilization is one division of exact integers; the split rate is
    * an integer permille. Scale: rides the packer's windowed plan and
    * rolls up to ≤ \|langs\| rows with O(1) agg state.
    */
  def packStats(docs: DataFrame, budget: Int = 2048, block: Int = 4096): DataFrame =
    packStatsFrom(packSequences(docs, budget, block), budget)

  /** [[packStats]] on the BPE-budget layout — utilization and split rate
    * in the tokens the training run actually consumes (the whitespace
    * audit's numbers are off by each doc's fertility).
    */
  def packStatsBpe(docs: DataFrame, budget: Int = 2048, block: Int = 4096,
      merges: Int = 8, maxWords: Int = 50000,
      dictOpt: Option[DataFrame] = None): DataFrame =
    packStatsFrom(
      packSequencesBpe(docs, budget, block, merges, maxWords, dictOpt), budget)

  private def packStatsFrom(packed: DataFrame, budget: Int): DataFrame =
    packed
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(when(col("pack_offset") + col("n_tokens") > budget, 1L)
          .otherwise(0L)).as("n_split"))
      .withColumn("n_packs", expr(s"(total_tokens + ${budget - 1}) DIV $budget"))
      .select(col("lang"), col("n_docs"), col("total_tokens"), col("n_packs"),
        (col("total_tokens").cast("double") /
          (col("n_packs") * budget).cast("double")).as("util"),
        expr("n_split * 1000 DIV n_docs").as("split_permille"))

  /** Quantile quality filter: keep documents at or above the per-language
    * `minRank` quantile of the quality score (drop the worst tail).
    *
    * Tie semantics (deliberate, and different from a `percent_rank` gate):
    * the kept set is every doc whose quality is at-or-above the
    * interpolated quantile value, TIES INCLUSIVE — so the drop fraction is
    * at most `minRank`, not exactly it. A language whose docs all share
    * one quality value keeps 100% here (they all sit at the threshold),
    * where a rank gate would keep 0% (percent_rank of a fully tied group
    * is 0). Downstream consumers must not assume a fixed drop fraction.
    *
    * Two-pass threshold plan, NOT a per-lang rank window: pass 1 computes
    * each language's exact interpolated quantile (partial-aggregated
    * shuffle down to |langs| rows), pass 2 broadcast-joins the thresholds
    * back and filters. A `percent_rank` window partitioned by lang caps
    * parallelism at lang cardinality (5 here) and fully sorts each
    * language shard; the threshold plan has no sort at all and its
    * parallelism follows the data. (At extreme scale, swap exact
    * `percentile` — whose partial buffer is a value→count map — for
    * `percentile_approx` with a fixed-size sketch; exact is kept here
    * because it matches DuckDB `quantile_cont` bit-for-bit.)
    */
  def qualityFilter(docs: DataFrame, minRank: Double = 0.1): DataFrame = {
    val q = qualityScores(docs)
    q.join(broadcast(qualityThresholds(q, minRank)), Seq("lang"))
      .filter(col("quality") >= col("q_thresh"))
      .select(col("doc_id"), col("lang"), col("quality"), col("q_thresh"))
  }

  /** (doc_id, lang, quality) with null-quality docs dropped — pass 2's
    * probe side and pass 1's aggregation input.
    *
    * lang rides through the score projection — no join back against the
    * corpus for a column its scan already had. The barrier field keeps
    * the null-guard filter ABOVE the scoring projection: pushed down, the
    * substituted `quality IS NOT NULL` re-derives the tokenize once per
    * stopword term (~16 sites, measured ~9 s vs ~1 s at sf0.1 — same
    * PushDownPredicates failure mode as OrderPipeline.route, see
    * PushdownBarrier's scaladoc). Both passes then recompute the narrow
    * scoring map once each; no persistence barrier needed.
    * Empty/whitespace-only docs have null quality: drop them up front
    * (they'd fail any quality bar, and Spark/DuckDB disagree on where
    * nulls sort, so keeping them would make the gate engine-dependent).
    */
  private def qualityScores(docs: DataFrame): DataFrame =
    graft.expressions.PushdownBarrier.barrieredFilter(
        TextAnalysis.quality(docs, passthrough = Seq("lang")),
        col("quality").isNotNull)
      .select(col("doc_id"), col("lang"), col("quality"))

  /** Pass 1 of the gate, exposed on its own: each language's exact
    * interpolated `minRank` quantile of quality — |langs| rows. Oracle-
    * checked directly (q_doc_qthresh) so a cross-engine divergence at the
    * gate boundary is diagnosed AT THE THRESHOLD (Spark `percentile` vs
    * DuckDB `quantile_cont` interpolation) rather than as an opaque hash
    * mismatch on the filtered rows. Accepts either the raw documents frame
    * or a precomputed (doc_id, lang, quality) frame.
    */
  def qualityThresholds(docs: DataFrame, minRank: Double = 0.1): DataFrame = {
    val q = if (docs.columns.contains("quality")) docs else qualityScores(docs)
    q.groupBy(col("lang"))
      .agg(percentile(col("quality"), lit(minRank)).as("q_thresh"))
  }

  /** Deterministic uniform k-sample per group (bottom-k by content hash —
    * the KMV/bottom-k sketch trick): the k smallest hashes are a uniform
    * sample of the group, reproducible across reruns and cluster sizes,
    * with O(k) aggregation state per group (reuses the bounded-heap
    * [[graft.expressions.TopKAgg]]; hashes < 2^30 are exact in double).
    */
  def groupSample(docs: DataFrame, k: Int = 4, key: String = "lang"): DataFrame =
    docs.groupBy(col(key)).agg(
      graft.expressions.TopKAgg.top_k_ids(
        -stringHash(col("text")).cast("double"), col("doc_id"), k).as("sample_ids"))

  /** Per-source mixing table (the Pile/Dolma-style source-weighting
    * input): doc/token/char totals per source plus each source's share of
    * the corpus. One grouped aggregation (partial/map-side combinable)
    * plus a 1-row broadcast total — the same corpus-scalar shape as
    * tfidf's N.
    */
  def sourceMix(docs: DataFrame): DataFrame = {
    val per = docs
      .select(col("source"), size(tokens(col("text"))).cast("long").as("nt"),
        col("n_chars"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
        sum(col("n_chars")).as("sum_chars"))
    val total = per.agg(sum(col("n_docs")).as("total_docs"))
    per.crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("sum_chars"),
        (col("n_docs").cast("double") / col("total_docs").cast("double"))
          .as("doc_share"))
  }

  /** Temperature-scaled source sampling weights — the multinomial-mix
    * step of multi-source training (XLM-R / mT5-style α-smoothing): raw
    * token shares over-sample giant sources, so the sampler draws with
    * probability ∝ share^α, α < 1 flattening the mix. Emits per-source
    * token totals, the α = 1/2 weight `w_alpha = floor(sqrt(n_tokens))`,
    * the normalized sampling probability `p_sample = w/Σw`, and the
    * natural share `p_natural` it replaces.
    *
    * Exactness (why α is pinned at 1/2 here): IEEE sqrt is correctly
    * rounded in every engine, so `floor(sqrt(bigint))` is a bit-identical
    * INTEGER cross-engine; Σw is then an integer sum (order-independent
    * under shuffle reduce) and the one float division divides identical
    * operands. The general-α spelling (`pow` + a float Σ) is neither —
    * libm pow differs across engines in the last ulp and a float sum
    * depends on reduce order. A sampler only sees the ratios, so the
    * quantized weight loses nothing.
    *
    * Scale: one grouped agg (|sources| rows) + a 1-row broadcast total —
    * the [[sourceMix]] shape.
    */
  def mixtureWeights(docs: DataFrame): DataFrame = {
    val per = docs
      .select(col("source"), size(tokens(col("text"))).cast("long").as("nt"))
      .groupBy(col("source")).agg(sum(col("nt")).as("n_tokens"))
      .withColumn("w_alpha", floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
    val tot = per.agg(sum(col("w_alpha")).as("w_total"),
      sum(col("n_tokens")).as("tok_total"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"), col("w_alpha"),
        (col("w_alpha").cast("double") / col("w_total").cast("double"))
          .as("p_sample"),
        (col("n_tokens").cast("double") / col("tok_total").cast("double"))
          .as("p_natural"))
  }

  /** Power-of-two length-bucketed batching audit — the prep step for
    * length-grouped batching (docs padded to their bucket's cap train
    * together; mixing a 10-token doc into a 2048-token batch wastes the
    * difference as pad). Bucket b holds token counts in [2^b, 2^(b+1))
    * (nt = 0 joins bucket 0); emits per-(lang, bucket) doc/token totals,
    * the bucket cap, and the total pad waste if every doc pads to cap.
    *
    * The bucket index is pure INTEGER bit arithmetic — the binary bit
    * length of nt, never float log2 (whose rounding at exact powers of
    * two differs across engines): Spark `length(bin(nt)) - 1` ≡ DuckDB
    * `length(format('{:b}', nt)) - 1`. Everything downstream is integer
    * sums. Scale: narrow token count + one grouped agg, output bounded
    * by |langs| · 64 rows.
    */
  def lengthBuckets(docs: DataFrame): DataFrame = {
    val nt = docs.select(col("lang"),
      size(tokens(col("text"))).cast("long").as("nt"))
    val b = nt.withColumn("bucket",
      when(col("nt") <= 0L, lit(0L))
        .otherwise((length(bin(col("nt"))) - 1).cast("long")))
      .withColumn("cap", expr("shiftleft(cast(1 as bigint), cast(bucket as int) + 1) - 1"))
    b.groupBy(col("lang"), col("bucket"), col("cap"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("sum_tokens"),
        min(col("nt")).as("nt_min"), max(col("nt")).as("nt_max"),
        sum(col("cap") - col("nt")).as("pad_waste"))
  }

  /** Per-source token-distribution drift: total variation distance
    * between each source's unigram distribution and the REST of the
    * corpus — the domain-shift audit run before reweighting a training
    * mix (a source with tvd ≈ 0 is redundant with the mix; tvd ≈ 1 is
    * out-of-distribution).
    *
    * TVD = ½ Σ_w |c_src(w)/n_src − c_rest(w)/n_rest| is computed with
    * cross-multiplied integer numerators — Σ_w |c_src·n_rest −
    * c_rest·n_src| over DECIMAL(38,0) products — so the aggregation is
    * exact and order-independent (one float division per source at the
    * end). Words absent from the source need no outer join: their
    * contribution is n_src·(n_rest − Σ_{w∈src} c_rest(w)) by algebra.
    *
    * Scale shape: one narrow token explode, two grouped count aggs
    * (map-side combinable, vocabulary-bounded state), shuffle-hash
    * probe joins on the word / source keys, a 1-row broadcast corpus
    * total, and a per-source roll-up. Nothing is all-pairs.
    */
  def sourceDrift(docs: DataFrame): DataFrame = {
    val d19 = "decimal(19,0)"
    val tok = docs.select(col("source"), explode(tokens(col("text"))).as("w"))
    val sw = tok.groupBy(col("source"), col("w")).agg(count(lit(1)).as("ca"))
    val tw = sw.groupBy(col("w")).agg(sum(col("ca")).as("ct"))
    val ns = sw.groupBy(col("source")).agg(sum(col("ca")).as("na"))
    val nt = ns.agg(sum(col("na")).as("ntot"))
    sw.join(tw.hint("shuffle_hash"), Seq("w"))
      .join(ns.hint("shuffle_hash"), Seq("source"))
      .crossJoin(broadcast(nt))
      .select(col("source"), col("na"), (col("ntot") - col("na")).as("nb"),
        col("ca"), (col("ct") - col("ca")).as("cb"))
      .select(col("source"), col("na"), col("nb"), col("cb"),
        abs(col("ca").cast(d19) * col("nb").cast(d19)
          - col("cb").cast(d19) * col("na").cast(d19)).as("term"))
      .groupBy(col("source"), col("na"), col("nb"))
      .agg(sum(col("term")).as("present_sum"), sum(col("cb")).as("cb_present"))
      .select(col("source"), col("na").as("n_src"), col("nb").as("n_rest"),
        ((col("present_sum")
          + (col("nb") - col("cb_present")).cast(d19) * col("na").cast(d19))
          .cast("double")
          / (col("na").cast("double") * col("nb").cast("double") * lit(2.0)))
          .as("tvd"))
  }

  /** Per-source document cap (domain balancing: no source may contribute
    * more than `cap` docs): keep each source's `cap` docs with the
    * smallest content hashes — a uniform, deterministic, rerun-stable
    * choice (the same KMV/bottom-k trick as [[groupSample]], keyed by
    * source), with O(cap) aggregation state per source instead of a
    * source-partitioned sort. Ties (duplicate texts) break by smaller
    * doc_id — a total order, so the kept set is exactly `cap` per source.
    */
  def sourceCap(docs: DataFrame, cap: Int = 10): DataFrame =
    groupSample(docs, cap, key = "source")

  /** Token-budget training-mix selection: within each source, admit docs
    * in quality order (best first, doc_id tie-break) until the source's
    * token budget is exhausted — how a training mix is actually filled
    * ("up to N tokens per domain, best documents first"). A doc whose
    * FIRST token lands under the budget is kept (cum_excl < budget), the
    * same straddle rule as [[packSequences]]; null-quality (empty) docs
    * are dropped up front.
    *
    * Scale shape: one window per source shard — ordering by quality means
    * the block trick packSequences uses (order-preserving doc_id blocks)
    * doesn't apply, so this IS a sort-within-source; parallelism follows
    * source cardinality (thousands of domains at corpus scale, 20 here).
    * For a single mega-source, swap to the two-pass threshold analog of
    * [[qualityFilter]]: find the quality cutoff where the per-source token
    * cumsum crosses the budget (a weighted quantile), then broadcast-
    * filter — no sort. Kept as the window form here because the exact
    * boundary-doc semantics are what the oracle checks.
    */
  def budgetSelect(docs: DataFrame, budget: Long = 800L): DataFrame = {
    val q = graft.expressions.PushdownBarrier.barrieredFilter(
      TextAnalysis.quality(docs, passthrough = Seq("source"), emitTokens = true),
      col("quality").isNotNull)
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    q.withColumn("cum_excl", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .filter(col("cum_excl") < budget)
      .select(col("doc_id"), col("source"), col("quality"), col("n_tokens"),
        col("cum_excl"))
  }

  /** Deterministic train/val/test assignment by content hash: permille
    * bucket < trainPermille → train, < trainPermille+valPermille → val,
    * else test. The split every data pipeline needs, with the properties
    * RNG splits lack: rerun-stable, cluster-size-independent, and
    * duplicate texts land in the SAME split (no train/test leakage
    * through copies — the same consistency argument as
    * [[sampleStratified]]). Pure narrow map.
    */
  def assignSplit(docs: DataFrame, trainPermille: Int = 980,
      valPermille: Int = 10): DataFrame = {
    val b = sampleBucket(col("text"))
    docs.select(col("doc_id"), col("lang"), b.as("bucket"),
      when(b < trainPermille, "train")
        .when(b < trainPermille + valPermille, "val")
        .otherwise("test").as("split"))
  }

  /** Leakage-safe train/val/test split — the FIX for what the q_doc_leak
    * audit measures: a per-doc content-hash split sends near-duplicate
    * copies to DIFFERENT splits about (1 − Σp²) of the time (exact
    * copies hash together, near-copies don't), quietly leaking train
    * content into eval. Here every member of a verified duplicate
    * CLUSTER inherits its cluster root's split: the bucket is the
    * content hash of the ROOT's text, so the whole cluster lands in one
    * split by construction, singletons behave exactly like
    * [[assignSplit]], and the assignment stays content-keyed (stable
    * under doc-id regeneration). Split-before-dedup workflows get a
    * consistent rule too: dedup THEN split ≡ split members by root.
    *
    * Scale: rides the memoized cluster stage (bounded by candidate-pair
    * members, never corpus-sized); two shuffle-hash equi-joins (cluster
    * map on doc_id, root text on anchor — both corpus-derived, never
    * broadcast); the hash/split itself is the same narrow map as
    * assignSplit.
    */
  def leakSafeSplit(c: DataFrame, clusters: DataFrame,
      trainPermille: Int = 980, valPermille: Int = 10): DataFrame = {
    val anchored = c.select(col("doc_id"), col("lang"))
      .join(clusters.select(col("doc_id"), col("cluster")).hint("shuffle_hash"),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("cluster"), col("doc_id")).as("anchor"))
    val anchorText = c.select(col("doc_id").as("anchor"), col("text").as("anchor_text"))
    val b = sampleBucket(col("anchor_text"))
    anchored.join(anchorText.hint("shuffle_hash"), Seq("anchor"))
      .select(col("doc_id"), col("lang"), col("anchor"), b.as("bucket"),
        when(b < trainPermille, "train")
          .when(b < trainPermille + valPermille, "val")
          .otherwise("test").as("split"))
  }

  /** Split-balance audit — the QA read-out AFTER [[assignSplit]]: a
    * content-hash split is only asymptotically proportional, so a
    * low-volume language can silently land a skewed (or empty) eval
    * slice. Per (lang, split): doc count, the language total, observed
    * permille (exact integer division — no float proportions), the
    * expected permille from the split parameters, and the signed
    * deviation. A |dev_permille| beyond a few permille on a big language
    * — or a missing val/test row on a small one — is the alarm.
    *
    * Scale: rides the split's narrow map, ONE grouped count down to
    * ≤ |langs|·3 rows; the per-lang totals re-aggregate those rows (no
    * second corpus pass) and broadcast back.
    */
  def splitBalance(docs: DataFrame, trainPermille: Int = 980,
      valPermille: Int = 10): DataFrame = {
    val counts = assignSplit(docs, trainPermille, valPermille)
      .groupBy(col("lang"), col("split")).agg(count(lit(1)).as("n_docs"))
    val totals = counts.groupBy(col("lang")).agg(sum(col("n_docs")).as("lang_total"))
    counts.join(broadcast(totals), "lang")
      .select(col("lang"), col("split"), col("n_docs"), col("lang_total"),
        expr("n_docs * 1000 div lang_total").as("obs_permille"),
        when(col("split") === "train", trainPermille.toLong)
          .when(col("split") === "val", valPermille.toLong)
          .otherwise((1000 - trainPermille - valPermille).toLong).as("exp_permille"))
      .withColumn("dev_permille", col("obs_permille") - col("exp_permille"))
  }

  /** DuckDB mirror of [[splitBalance]] over table `src`. */
  def splitBalanceSql(trainPermille: Int = 980, valPermille: Int = 10,
      src: String = "documents"): String =
    s"""WITH sp AS (
       |  SELECT lang,
       |    CASE WHEN bucket < $trainPermille THEN 'train'
       |         WHEN bucket < ${trainPermille + valPermille} THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM (SELECT lang, (${Dedup.hashSql("text")}) % 1000 AS bucket FROM $src) t),
       |c AS (SELECT lang, split, COUNT(*) AS n_docs FROM sp GROUP BY lang, split),
       |tot AS (SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS lang_total FROM c GROUP BY lang)
       |SELECT c.lang, split, n_docs, lang_total,
       |  n_docs * 1000 // lang_total AS obs_permille,
       |  CAST(CASE WHEN split = 'train' THEN $trainPermille
       |       WHEN split = 'val' THEN $valPermille
       |       ELSE ${1000 - trainPermille - valPermille} END AS BIGINT) AS exp_permille,
       |  n_docs * 1000 // lang_total
       |    - CASE WHEN split = 'train' THEN $trainPermille
       |           WHEN split = 'val' THEN $valPermille
       |           ELSE ${1000 - trainPermille - valPermille} END AS dev_permille
       |FROM c JOIN tot ON c.lang = tot.lang""".stripMargin

  /** Quality–length Pearson correlation per language — the signal-QA
    * read-out before trusting a quality gate: a score that merely proxies
    * document LENGTH (|r| near 1) would make every length-based stage
    * downstream redundant and bias the kept set. CCNet/Gopher-style
    * pipelines check exactly this before tuning thresholds.
    *
    * Cross-engine exactness without DECIMAL gymnastics: quality is
    * quantized to fixed-point BIGINT (round(q·2^20) — r is
    * scale-invariant, so r of the quantized variable is the reported
    * statistic), all six sufficient statistics are EXACT integer sums
    * (order-free under shuffle reduce), and the r formula then runs in
    * doubles with the same operand tree both engines — integer→double
    * casts and IEEE ops are deterministic and identical. At 100 TB,
    * promote the sums to DECIMAL(38,0) (the collocations note).
    * Zero-variance groups yield null, not a division error.
    */
  def qualityLengthCorr(docs: DataFrame): DataFrame = {
    val q = graft.expressions.PushdownBarrier.barrieredFilter(
      TextAnalysis.quality(docs, passthrough = Seq("lang", "n_chars")),
      col("quality").isNotNull)
    val v = q.select(col("lang"),
      round(col("quality") * 1048576.0).cast("long").as("qx"),
      col("n_chars").cast("long").as("y"))
    val agg = v.groupBy(col("lang")).agg(
      count(lit(1)).as("n"),
      sum(col("qx")).as("sx"), sum(col("y")).as("sy"),
      sum(col("qx") * col("y")).as("sxy"),
      sum(col("qx") * col("qx")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val num = agg("n").cast("double") * agg("sxy").cast("double") -
      agg("sx").cast("double") * agg("sy").cast("double")
    val vx = agg("n").cast("double") * agg("sxx").cast("double") -
      agg("sx").cast("double") * agg("sx").cast("double")
    val vy = agg("n").cast("double") * agg("syy").cast("double") -
      agg("sy").cast("double") * agg("sy").cast("double")
    agg.select(col("lang"), col("n"),
      when(vx > 0 && vy > 0, num / (sqrt(vx) * sqrt(vy))).as("r_quality_len"))
  }

  /** DuckDB mirror of [[qualityLengthCorr]]. */
  def qualityLengthCorrSql: String =
    s"""WITH ${TextAnalysis.qualityRatiosSql()},
       |q AS (
       |  SELECT d.lang, CAST(d.n_chars AS BIGINT) AS y,
       |    ${TextAnalysis.qualityScoreSql} AS quality
       |  FROM rq JOIN documents d ON rq.doc_id = d.doc_id
       |  WHERE ${TextAnalysis.qualityScoreSql} IS NOT NULL),
       |v AS (SELECT lang, CAST(ROUND(quality * 1048576.0) AS BIGINT) AS qx, y FROM q),
       |s AS (
       |  SELECT lang, COUNT(*) AS n,
       |    CAST(SUM(qx) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |    CAST(SUM(qx * y) AS BIGINT) AS sxy,
       |    CAST(SUM(qx * qx) AS BIGINT) AS sxx,
       |    CAST(SUM(y * y) AS BIGINT) AS syy
       |  FROM v GROUP BY lang)
       |SELECT lang, n,
       |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
       |        AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
       |  THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |    / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |      * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       |  END AS r_quality_len
       |FROM s""".stripMargin

  /** Per-language quality histogram (fixed-width bins over [0,1]): the
    * distribution a curation audit reads before choosing gate thresholds.
    * bin = ⌊quality·nBins⌋ clamped into [0, nBins-1] (quality = 1.0 lands
    * in the top bin; sub-zero composites clamp to 0). One partial-
    * aggregated shuffle down to |langs|·nBins rows — at any corpus size
    * the output is constant-bounded, which is what makes it the cheap
    * first look at 100 TB.
    */
  def qualityHistogram(docs: DataFrame, nBins: Int = 20): DataFrame = {
    val q = qualityScores(docs)
    q.withColumn("bin",
        greatest(least(floor(col("quality") * nBins), lit(nBins - 1).cast("double")), lit(0.0))
          .cast("long"))
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n"),
        min(col("quality")).as("q_min"), max(col("quality")).as("q_max"))
  }

  /** Per-source CDF normalization of the quality score — the calibration
    * step before a single global quality bar is applied to a multi-source
    * corpus: raw scores aren't comparable across sources (each source has
    * its own score distribution, so one threshold over-prunes some
    * sources and under-prunes others), but each doc's WITHIN-SOURCE
    * percentile is. Emits `q_cdf` = the midrank CDF estimate
    * (docs-in-lower-bins + half the doc's own bin) / source total, over a
    * fixed `bins`-bin histogram of the score.
    *
    * The histogram is the scale move (same reasoning as the two-pass
    * quantile gate, sharpened): an exact per-doc percent_rank would sort
    * every source's docs under a window — and source cardinality is low
    * (tens), so at 100 TB each window partition is corpus-scale. The
    * histogram instead is one grouped agg into a BOUNDED table
    * (|sources| × bins), a tiny cumulative window over that table, and a
    * broadcast-by-construction join back — the per-doc path stays narrow.
    * Binning costs resolution (all docs in a bin share a percentile),
    * which is what calibration needs anyway; everything is integer counts
    * and one float division, so the result is exact and engine-identical.
    */
  def qualityCdfNormalize(docs: DataFrame, bins: Int = 64): DataFrame = {
    val q = graft.expressions.PushdownBarrier.barrieredFilter(
        TextAnalysis.quality(docs, passthrough = Seq("source")),
        col("quality").isNotNull)
      .select(col("doc_id"), col("source"), col("quality"))
    val binned = q.withColumn("bin",
      greatest(least(floor(col("quality") * bins), lit(bins - 1).cast("double")), lit(0.0))
        .cast("long"))
    val hist = binned.groupBy(col("source"), col("bin")).agg(count(lit(1)).as("cnt"))
    // one ordered partition spec, two frames — planned as a SINGLE Window
    // operator over the bounded hist table (pinned in PlanQualitySpec)
    val w = Window.partitionBy(col("source")).orderBy(col("bin"))
    val cum = hist
      .withColumn("below", coalesce(
        sum(col("cnt")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n_src",
        sum(col("cnt")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    binned.join(broadcast(cum), Seq("source", "bin"))
      .select(col("doc_id"), col("source"), col("quality"),
        ((col("below").cast("double") + lit(0.5) * col("cnt").cast("double"))
          / col("n_src").cast("double")).as("q_cdf"))
  }

  /** Merge two per-source mixing tables ([[sourceMix]] outputs) WITHOUT
    * re-scanning either corpus — the incremental pattern for a corpus
    * that grows by daily increments: keep each increment's per-source
    * totals (a few rows), merge by re-aggregating the sums, recompute the
    * shares from the merged totals. Union + one grouped agg over
    * |sources| rows — driver-free, exact (counts/sums are associative;
    * only the non-mergeable `doc_share` ratio is recomputed at the end).
    * CurationSpec pins merge(sourceMix(a), sourceMix(b)) ≡ sourceMix(a∪b).
    */
  /** Empirical-Bayes per-source quality prior: Beta-smoothed
    * Gopher-rule pass rate with `pseudo` pseudo-counts anchored at the
    * GLOBAL rate — posterior mean (n_pass + τ·p̂)/(n_docs + τ) under
    * Beta(τ·p̂, τ·(1−p̂)), the James-Stein-flavoured shrinkage every
    * production crawl filter applies before trusting a per-domain rate
    * (a 3-doc domain at 0/3 passes is NOT a zero-quality domain; it
    * shrinks to ≈ the corpus rate, while a 10⁶-doc domain keeps its own
    * number). `shrink` = n/(n+τ) is the weight on the domain's own
    * evidence — the read-out that says which rows of the table are
    * data-driven vs prior-driven. Downstream: the prior ranks domains
    * for crawl-budget allocation and seeds per-domain gating thresholds
    * (FineWeb-style domain curation).
    *
    * Scale shape: the [[TextAnalysis.gopherRules]] narrow pass with
    * source ridden through (NO join back to the corpus), one grouped agg
    * with map-side partials → |sources| rows, one 1-row broadcast for
    * the global moments. The divisions are the only floats; both engines
    * spell them identically, left-associated.
    */
  def domainPrior(docs: DataFrame, pseudo: Double = 20.0): DataFrame = {
    val per = TextAnalysis.gopherRules(docs, passthrough = Seq("source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"))
    val glob = per.agg(sum(col("n_docs")).as("gn"), sum(col("n_pass")).as("gp"))
    per.crossJoin(broadcast(glob))
      .select(col("source"), col("n_docs"), col("n_pass"),
        (col("n_pass").cast("double") / col("n_docs").cast("double")).as("raw_rate"),
        (col("gp").cast("double") / col("gn").cast("double")).as("global_rate"),
        ((col("n_pass").cast("double")
          + lit(pseudo) * col("gp").cast("double") / col("gn").cast("double"))
          / (col("n_docs").cast("double") + lit(pseudo))).as("prior_rate"),
        (col("n_docs").cast("double") / (col("n_docs").cast("double") + lit(pseudo)))
          .as("shrink"))
  }

  /** DuckDB mirror of [[domainPrior]] over the shared
    * [[TextAnalysis.gopherSqlChain]] (same rule arithmetic, same
    * left-associated float spelling).
    */
  def domainPriorSql(pseudo: Double = 20.0): String =
    s"""WITH ${TextAnalysis.gopherSqlChain(passthrough = Seq("source"))},
       |dper AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    SUM(CASE WHEN ${TextAnalysis.gopherPassCondSql} THEN 1 ELSE 0 END) AS n_pass
       |  FROM g GROUP BY source),
       |dglob AS (SELECT SUM(n_docs) AS gn, SUM(n_pass) AS gp FROM dper)
       |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, CAST(n_pass AS BIGINT) AS n_pass,
       |  CAST(n_pass AS DOUBLE) / CAST(n_docs AS DOUBLE) AS raw_rate,
       |  CAST(gp AS DOUBLE) / CAST(gn AS DOUBLE) AS global_rate,
       |  (CAST(n_pass AS DOUBLE) + $pseudo * CAST(gp AS DOUBLE) / CAST(gn AS DOUBLE))
       |    / (CAST(n_docs AS DOUBLE) + $pseudo) AS prior_rate,
       |  CAST(n_docs AS DOUBLE) / (CAST(n_docs AS DOUBLE) + $pseudo) AS shrink
       |FROM dper CROSS JOIN dglob""".stripMargin

  /** k-anonymity enforcement over the (lang, source) quasi-identifier
    * pair — the release-side privacy gate next to the PII family
    * (piiRate/redact find identifiers IN the text; this bounds what the
    * METADATA reveals): global recoding up a 2-level generalization
    * hierarchy (Samarati/Sweeney). Every doc lands in the LEAST
    * generalized class that reaches size ≥ k: level 0 keeps (lang,
    * source) where that group alone has ≥ k docs; docs from smaller
    * groups pool into level 1 (lang, *) — counted over the POOLED
    * records only, not the already-safe ones (generalizing safe rows
    * would destroy utility for nothing); still-small pools roll into
    * the level-2 (*, *) remainder, whose `ok` flag reports whether even
    * full suppression reaches k (a sub-k corpus cannot be released at
    * all). Output: one row per released equivalence class — lang_out,
    * source_out, level, n_docs, ok — the release manifest.
    *
    * Scale shape: two grouped counts over quasi-identifier cardinality
    * (≤ \|langs\|·\|sources\|), each a map-side-combinable agg; the
    * level-0 risky set is a broadcast anti-join key table. Nothing
    * corpus-sized moves except the one scan.
    */
  def kAnonymize(docs: DataFrame, k: Long = 10L): DataFrame = {
    val g0 = docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .localCheckpoint(false)
    val safe0 = g0.filter(col("n_docs") >= k)
      .select(col("lang").as("lang_out"), col("source").as("source_out"),
        lit(0L).as("level"), col("n_docs"), lit(true).as("ok"))
    val risky0 = g0.filter(col("n_docs") < k)
    val g1 = risky0.groupBy(col("lang")).agg(sum(col("n_docs")).as("n_docs"))
    val safe1 = g1.filter(col("n_docs") >= k)
      .select(col("lang").as("lang_out"), lit("*").as("source_out"),
        lit(1L).as("level"), col("n_docs"), lit(true).as("ok"))
    val rest = g1.filter(col("n_docs") < k)
      .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"))
      .filter(col("n_docs") > 0)
      .select(lit("*").as("lang_out"), lit("*").as("source_out"),
        lit(2L).as("level"), col("n_docs"), (col("n_docs") >= k).as("ok"))
    safe0.unionByName(safe1).unionByName(rest)
  }

  /** DuckDB mirror of [[kAnonymize]]. */
  def kAnonymizeSql(k: Long = 10L): String =
    s"""WITH kg0 AS (
       |  SELECT lang, source, COUNT(*) AS n_docs
       |  FROM documents GROUP BY lang, source),
       |kg1 AS (
       |  SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS n_docs
       |  FROM kg0 WHERE n_docs < $k GROUP BY lang),
       |krest AS (
       |  SELECT CAST(COALESCE(SUM(n_docs), 0) AS BIGINT) AS n_docs
       |  FROM kg1 WHERE n_docs < $k)
       |SELECT lang AS lang_out, source AS source_out,
       |  CAST(0 AS BIGINT) AS level, CAST(n_docs AS BIGINT) AS n_docs, TRUE AS ok
       |FROM kg0 WHERE n_docs >= $k
       |UNION ALL
       |SELECT lang AS lang_out, '*' AS source_out,
       |  CAST(1 AS BIGINT) AS level, n_docs, TRUE AS ok
       |FROM kg1 WHERE n_docs >= $k
       |UNION ALL
       |SELECT '*' AS lang_out, '*' AS source_out,
       |  CAST(2 AS BIGINT) AS level, n_docs, (n_docs >= $k) AS ok
       |FROM krest WHERE n_docs > 0""".stripMargin

  def sourceMixMerge(a: DataFrame, b: DataFrame): DataFrame = {
    val per = a.unionByName(b)
      .groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        sum(col("sum_chars")).as("sum_chars"))
    val total = per.agg(sum(col("n_docs")).as("total_docs"))
    per.crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("sum_chars"),
        (col("n_docs").cast("double") / col("total_docs").cast("double"))
          .as("doc_share"))
  }

  /** Token-window chunking (size tokens per chunk, stride < size →
    * overlap): the RAG/pretraining chunk layout. One narrow explode per
    * doc — chunk starts are 0, stride, 2·stride … < n_tokens; each chunk
    * is fingerprinted instead of dumped (compact, deterministic).
    */
  def chunk(docs: DataFrame, size: Int = 64, stride: Int = 48): DataFrame = {
    val toks = tokens(col("text"))
    // barriered: a pushed-down `nt > 0` re-tokenizes at the scan
    graft.expressions.PushdownBarrier.barrieredFilter(
        docs.select(col("doc_id"), toks.as("toks"),
          org.apache.spark.sql.functions.size(toks).as("nt")),
        col("nt") > 0)
      .withColumn("start", explode(sequence(lit(0), col("nt") - 1, lit(stride))))
      .select(
        col("doc_id"),
        expr(s"start DIV $stride").as("chunk_id"),
        col("start").cast("long").as("start"),
        org.apache.spark.sql.functions.size(slice(col("toks"), col("start") + 1, lit(size)))
          .cast("long").as("n_chunk_tokens"),
        stringHash(concat_ws(" ", slice(col("toks"), col("start") + 1, lit(size)))).as("chunk_fp"))
  }

  /** PII scrubbing: redact emails and long digit runs (account/phone-ish)
    * with typed placeholders. Conservative explicit-class regexes that
    * mean the same thing in Java regex (Spark) and RE2 (DuckDB). Narrow
    * map; emits redaction counts + the redacted-text fingerprint.
    */
  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val LongNumRe = "[0-9]{6,}"

  def redact(docs: DataFrame): DataFrame = {
    val clean = regexp_replace(regexp_replace(col("text"), EmailRe, "<email>"),
      LongNumRe, "<num>")
    docs.select(
      col("doc_id"),
      regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(LongNumRe)).cast("long").as("n_longnums"),
      stringHash(clean).as("redacted_fp"))
  }

  /** IPv4-looking token (word-bounded — RE2 and Java regex agree on
    * ASCII `\b`); octets are ≤3 digits so [[LongNumRe]] never overlaps.
    */
  val Ipv4Re = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** Per-source PII incidence audit — the compliance read-out a corpus
    * owner checks BEFORE shipping (and after [[redact]], to confirm the
    * scrub): for each source, how many documents carry each PII class
    * (emails, long digit runs, IPv4s), total hits per class, and the
    * normalized hits-per-million-chars rate that makes sources of
    * different sizes comparable. Same conservative explicit-class
    * regexes as [[redact]], same Java/RE2 parity argument.
    *
    * The classes are DISJOINT: digit runs are counted on text with
    * emails already replaced (mirroring [[redact]]'s sequential
    * replacement order), so a 6+-digit run inside an email's local part
    * counts once as an email — not once per class, which would inflate
    * the summed pii_per_mchar rate for sources whose emails carry long
    * numeric local parts. IPv4 octets are ≤3 digits, so that class never
    * overlapped [[LongNumRe]] to begin with.
    *
    * Exactness: all counts are integer sums; the rate is ONE division of
    * exact integers at the end (IEEE-identical across engines). NULL
    * text contributes nothing to any count.
    *
    * Scale: one narrow regexp pass over the corpus, one grouped
    * aggregation with O(1) state per source, output ≤ |sources| rows.
    */
  def piiRate(docs: DataFrame): DataFrame = {
    val scanned = docs.select(
      col("source"),
      length(col("text")).cast("long").as("nc"),
      regexp_count(col("text"), lit(EmailRe)).cast("long").as("em"),
      regexp_count(regexp_replace(col("text"), EmailRe, "<email>"),
        lit(LongNumRe)).cast("long").as("nm"),
      regexp_count(col("text"), lit(Ipv4Re)).cast("long").as("ip"))
    scanned.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("em") > 0, 1L).otherwise(0L)).as("n_email_docs"),
        sum(col("em")).as("n_email_hits"),
        sum(when(col("nm") > 0, 1L).otherwise(0L)).as("n_num_docs"),
        sum(col("nm")).as("n_num_hits"),
        sum(when(col("ip") > 0, 1L).otherwise(0L)).as("n_ip_docs"),
        sum(col("ip")).as("n_ip_hits"),
        sum(col("nc")).as("n_chars"))
      .withColumn("pii_per_mchar",
        when(col("n_chars") > 0,
          (col("n_email_hits") + col("n_num_hits") + col("n_ip_hits")).cast("double")
            * 1000000.0 / col("n_chars").cast("double")))
  }

  /** l-diversity audit over the [[kAnonymize]] release manifest
    * (Machanavajjhala'06): k-anonymity bounds how small an equivalence
    * class can be, but a class whose members all share one SENSITIVE
    * value still leaks it — membership alone reveals the secret
    * (the homogeneity attack). Sensitive value here = the document's
    * PII profile class under [[redact]]'s disjoint priority order
    * (email ≻ long-number ≻ ipv4 ≻ none — the same sequential-
    * replacement discipline as [[piiRate]], so an email's numeric
    * local part is 'email', not 'number'). Every doc is assigned the
    * SAME released class [[kAnonymize]] would put it in (level-0
    * (lang, source) if that group reaches k, else the level-1
    * (lang, *) pool over risky groups only, else the (*, *)
    * remainder), then per released class: member count, distinct
    * sensitive values (the l in l-diversity), the largest single
    * value's count (the homogeneity margin), and the l ≥ `l` release
    * flag. A class with ok = false needs suppression or a coarser
    * hierarchy before release even though k-anonymity passed.
    *
    * Scale shape: one narrow regexp pass tags each doc's sensitive
    * class; the group tables are ≤ ‖langs‖·‖sources‖ rows and
    * broadcast back (the kAnonymize economics); then two grouped
    * counts whose keys are bounded by released-class × sensitive-class
    * cardinality. Nothing corpus-sized shuffles.
    */
  def lDiversity(docs: DataFrame, k: Long = 10L, l: Long = 2L): DataFrame = {
    val sens = docs.select(col("lang"), col("source"),
      when(regexp_count(col("text"), lit(EmailRe)) > 0, "email")
        .when(regexp_count(regexp_replace(col("text"), EmailRe, "<email>"),
          lit(LongNumRe)) > 0, "number")
        .when(regexp_count(col("text"), lit(Ipv4Re)) > 0, "ip")
        .otherwise("none").as("sv"))
    val g0 = sens.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n0"))
      .localCheckpoint(false)
    val g1 = g0.filter(col("n0") < k)
      .groupBy(col("lang")).agg(sum(col("n0")).as("n1"))
    val assigned = sens
      .join(broadcast(g0), Seq("lang", "source"))
      .join(broadcast(g1), Seq("lang"), "left")
      .select(
        when(col("n0") >= k, col("lang"))
          .when(coalesce(col("n1"), lit(0L)) >= k, col("lang"))
          .otherwise(lit("*")).as("lang_out"),
        when(col("n0") >= k, col("source")).otherwise(lit("*")).as("source_out"),
        when(col("n0") >= k, lit(0L))
          .when(coalesce(col("n1"), lit(0L)) >= k, lit(1L))
          .otherwise(lit(2L)).as("level"),
        col("sv"))
    assigned
      .groupBy(col("lang_out"), col("source_out"), col("level"), col("sv"))
      .agg(count(lit(1)).as("nsv"))
      .groupBy(col("lang_out"), col("source_out"), col("level"))
      .agg(sum(col("nsv")).as("n_docs"),
        count(lit(1)).as("l_distinct"),
        max(col("nsv")).as("n_top"))
      .withColumn("ok", col("l_distinct") >= l)
  }

  /** DuckDB mirror of [[lDiversity]]. */
  def lDiversitySql(k: Long = 10L, l: Long = 2L): String =
    s"""WITH lsv AS (
       |  SELECT lang, source,
       |    CASE WHEN len(regexp_extract_all(text, '$EmailRe')) > 0 THEN 'email'
       |         WHEN len(regexp_extract_all(
       |           regexp_replace(text, '$EmailRe', '<email>', 'g'),
       |           '$LongNumRe')) > 0 THEN 'number'
       |         WHEN len(regexp_extract_all(text, '$Ipv4Re')) > 0 THEN 'ip'
       |         ELSE 'none' END AS sv
       |  FROM documents),
       |lg0 AS (SELECT lang, source, COUNT(*) AS n0 FROM lsv GROUP BY lang, source),
       |lg1 AS (SELECT lang, CAST(SUM(n0) AS BIGINT) AS n1
       |        FROM lg0 WHERE n0 < $k GROUP BY lang),
       |lasg AS (
       |  SELECT
       |    CASE WHEN g.n0 >= $k THEN s.lang
       |         WHEN COALESCE(p.n1, 0) >= $k THEN s.lang ELSE '*' END AS lang_out,
       |    CASE WHEN g.n0 >= $k THEN s.source ELSE '*' END AS source_out,
       |    CASE WHEN g.n0 >= $k THEN CAST(0 AS BIGINT)
       |         WHEN COALESCE(p.n1, 0) >= $k THEN CAST(1 AS BIGINT)
       |         ELSE CAST(2 AS BIGINT) END AS level,
       |    s.sv
       |  FROM lsv s JOIN lg0 g ON s.lang = g.lang AND s.source = g.source
       |  LEFT JOIN lg1 p ON s.lang = p.lang),
       |lpsv AS (SELECT lang_out, source_out, level, sv, COUNT(*) AS nsv
       |         FROM lasg GROUP BY 1, 2, 3, 4)
       |SELECT lang_out, source_out, level,
       |  CAST(SUM(nsv) AS BIGINT) AS n_docs,
       |  CAST(COUNT(*) AS BIGINT) AS l_distinct,
       |  CAST(MAX(nsv) AS BIGINT) AS n_top,
       |  (COUNT(*) >= $l) AS ok
       |FROM lpsv GROUP BY 1, 2, 3""".stripMargin

  /** Leave-one-source-out ablation read-out — the cheapest honest
    * "how much does each source move the corpus" influence measure
    * (the O(1)-per-group exact special case of the ablation studies a
    * data-mixing run keeps re-running; full Shapley needs 2^‖sources‖
    * retrains, leave-one-out needs ONE grouped pass): per source, the
    * corpus mean quality WITH and WITHOUT that source and the delta.
    * influence > 0 means the source LIFTS the corpus mean — dropping it
    * hurts; the most negative rows are the first candidates for a
    * sourcecap or a domainPrior downweight, read NEXT to n_docs (a tiny
    * terrible source matters less than a huge mediocre one — the
    * ablated mean prices exactly that).
    *
    * Exactness: quality quantizes to 2^24 fixed point and sums as
    * integers (order-free); every mean is one division of exact
    * integers, so both engines agree bit-for-bit. Null-quality
    * (zero-token) docs drop up front behind the same pushdown barrier
    * as the quality gate (the substituted-predicate re-derivation
    * trap, see [[qualityFilter]]).
    *
    * Scale shape: ONE narrow scoring pass + ONE grouped agg to
    * ≤ ‖sources‖ rows; the global row is an agg over THAT table
    * crossed back broadcast. The complement aggregates are pure
    * arithmetic (global − group), never a second corpus pass per
    * source — the point of the op.
    */
  def sourceAblate(docs: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.{quantize, dequantize}
    val q = graft.expressions.PushdownBarrier.barrieredFilter(
        TextAnalysis.quality(docs, passthrough = Seq("source")),
        col("quality").isNotNull)
      .select(col("source"), quantize(col("quality")).as("qq"))
    val per = q.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("qq")).as("qsum"))
      .localCheckpoint(false)
    val glob = per.agg(sum(col("n_docs")).as("gn"), sum(col("qsum")).as("gq"))
    per.crossJoin(broadcast(glob))
      .select(col("source"), col("n_docs"),
        dequantize(col("qsum"), col("n_docs")).as("mean_q"),
        dequantize(col("gq"), col("gn")).as("corpus_mean"),
        when(col("gn") > col("n_docs"),
          dequantize(col("gq") - col("qsum"), col("gn") - col("n_docs")))
          .as("ablated_mean"),
        (dequantize(col("gq"), col("gn")) -
          when(col("gn") > col("n_docs"),
            dequantize(col("gq") - col("qsum"), col("gn") - col("n_docs"))))
          .as("influence"))
  }

  /** DuckDB mirror of [[sourceAblate]]. */
  def sourceAblateSql(): String =
    s"""WITH ${TextAnalysis.qualityRatiosSql()},
       |abq AS (
       |  SELECT d.source,
       |    CAST(ROUND((${TextAnalysis.qualityScoreSql}) * 16777216.0) AS BIGINT) AS qq
       |  FROM rq r JOIN documents d ON r.doc_id = d.doc_id
       |  WHERE (${TextAnalysis.qualityScoreSql}) IS NOT NULL),
       |abper AS (
       |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(qq) AS BIGINT) AS qsum
       |  FROM abq GROUP BY source),
       |abglob AS (
       |  SELECT CAST(SUM(n_docs) AS BIGINT) AS gn,
       |    CAST(SUM(qsum) AS BIGINT) AS gq
       |  FROM abper)
       |SELECT source, n_docs,
       |  CAST(qsum AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 16777216.0) AS mean_q,
       |  CAST(gq AS DOUBLE) / (CAST(gn AS DOUBLE) * 16777216.0) AS corpus_mean,
       |  CASE WHEN gn > n_docs THEN CAST(gq - qsum AS DOUBLE)
       |    / (CAST(gn - n_docs AS DOUBLE) * 16777216.0) END AS ablated_mean,
       |  CAST(gq AS DOUBLE) / (CAST(gn AS DOUBLE) * 16777216.0)
       |    - (CASE WHEN gn > n_docs THEN CAST(gq - qsum AS DOUBLE)
       |        / (CAST(gn - n_docs AS DOUBLE) * 16777216.0) END) AS influence
       |FROM abper CROSS JOIN abglob""".stripMargin

  /** DuckDB mirror of [[piiRate]] over table `src`. */
  def piiRateSql(src: String = "documents"): String =
    s"""WITH s AS (
       |  SELECT source, CAST(length(text) AS BIGINT) AS nc,
       |    CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS em,
       |    CAST(len(regexp_extract_all(
       |      regexp_replace(text, '$EmailRe', '<email>', 'g'), '$LongNumRe')) AS BIGINT) AS nm,
       |    CAST(len(regexp_extract_all(text, '$Ipv4Re')) AS BIGINT) AS ip
       |  FROM $src)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN em > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_email_docs,
       |  CAST(SUM(em) AS BIGINT) AS n_email_hits,
       |  CAST(SUM(CASE WHEN nm > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_num_docs,
       |  CAST(SUM(nm) AS BIGINT) AS n_num_hits,
       |  CAST(SUM(CASE WHEN ip > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ip_docs,
       |  CAST(SUM(ip) AS BIGINT) AS n_ip_hits,
       |  CAST(SUM(nc) AS BIGINT) AS n_chars,
       |  CASE WHEN SUM(nc) > 0 THEN
       |    CAST(SUM(em) + SUM(nm) + SUM(ip) AS DOUBLE) * 1000000.0
       |      / CAST(SUM(nc) AS DOUBLE)
       |  END AS pii_per_mchar
       |FROM s GROUP BY source""".stripMargin

  /** Canonical text normalization: Unicode NFC (native expression), then
    * lowercase, whitespace collapse, trim. Run BEFORE hashing/shingling so
    * composed and decomposed spellings of the same text dedup together.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(lower(graft.expressions.NfcNormalize.nfc_normalize(text)),
      "[ \\t\\n\\f\\r]+", " "))

  /** Normalized fingerprint + length per doc ([[normalizeText]]). */
  def normalized(docs: DataFrame): DataFrame = {
    val n = normalizeText(col("text"))
    docs.select(
      col("doc_id"),
      length(n).cast("long").as("n_chars"),
      stringHash(n).as("norm_fp"))
  }

  /** Deterministic sharded EPOCH SHUFFLE — the training-loader staple
    * the curation tail feeds: for each epoch, every document gets a
    * fresh pseudo-random key from a seeded LCG mix of (doc_id, epoch)
    * (pure 64-bit integer arithmetic — rerun-stable, engine-identical,
    * no RNG state), routes to one of `nShards` shards by key residue,
    * and takes its within-shard position from the key order. This is
    * how a real loader shuffles at 100 TB: shard-then-local-order —
    * NEVER a global per-epoch sort (a 2-row epoch partition would put
    * the whole corpus through single sorts); the (epoch, shard) window
    * keys are high-cardinality by construction, so the sort parallelism
    * scales with nShards. Different epochs produce different orders;
    * the same (seed, epoch) always reproduces the same order.
    *
    * OPERATING RULE — nShards is a REQUIRED tunable, not a constant:
    * each (epoch, shard) sort task holds ~n/nShards rows, so a fixed
    * shard count is still O(corpus) single-task sort work at scale. Set
    * nShards ≥ the cluster's total cores (so every core sorts), and at
    * the 100-TB target size it by the per-task sort budget: nShards ≈
    * corpus_bytes / (a few hundred MB). The default 8 is the sf-demo
    * value; q_doc_eshuffle64 probes the scaled setting and
    * EpochShuffleSpec pins that the window's shuffle partitioning is
    * (epoch, shard) with shard fan-out tracking nShards.
    */
  def epochShuffle(docs: DataFrame, epochs: Int = 2, nShards: Int = 8,
      seed: Long = 7L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val eps = (0L until epochs.toLong).toDF("epoch")
    val keyed = docs.select(col("doc_id")).crossJoin(broadcast(eps))
      .withColumn("k",
        (col("doc_id") * lit(1103515245L) + col("epoch") * lit(12345L) +
          lit(seed) * lit(2654435761L)) % lit(2147483648L))
      .withColumn("shard", pmod(col("k"), lit(nShards.toLong)))
    val w = Window.partitionBy(col("epoch"), col("shard"))
      .orderBy(col("k"), col("doc_id"))
    keyed
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("epoch"), col("shard"), col("doc_id"), col("pos"))
  }

  // ---- DuckDB oracle mirrors ---------------------------------------------

  /** DuckDB mirror of [[epochShuffle]]. */
  def epochShuffleSql(epochs: Int = 2, nShards: Int = 8,
      seed: Long = 7L): String =
    s"""WITH eps AS (SELECT unnest(range(0, $epochs)) AS epoch),
       |keyed AS (
       |  SELECT d.doc_id, e.epoch,
       |    (d.doc_id * 1103515245 + e.epoch * 12345 + $seed * 2654435761)
       |      % 2147483648 AS k
       |  FROM documents d CROSS JOIN eps e),
       |sh AS (
       |  SELECT doc_id, epoch, k,
       |    ((k % $nShards) + $nShards) % $nShards AS shard
       |  FROM keyed)
       |SELECT epoch, shard, doc_id,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY epoch, shard
       |    ORDER BY k, doc_id) AS BIGINT) AS pos
       |FROM sh""".stripMargin

  /** CASE expression mirroring the keep-permille table. */
  val keepSql: String =
    SampleKeepPermille.map { case (l, p) => s"WHEN lang = '$l' THEN $p" }
      .mkString("CASE ", " ", s" ELSE $DefaultKeepPermille END")

  /** Neyman allocation for stratified sampling (Neyman 1934): per
    * stratum h the optimal sample share is ∝ N_h·S_h — big AND
    * internally-variable strata deserve more of the budget than big
    * uniform ones (proportional allocation's blind spot). The whole
    * computation is exact-integer except ONE correctly-rounded IEEE
    * sqrt per stratum: N_h·S_h = sqrt(N_h·Σx² − (Σx)²) on exact
    * DECIMAL(38,0) moments (x = token count — the products are
    * PROMOTED, not documented-as-promotable: the drift/EWMA/colloc
    * sibling discipline, so the 2^53/2^63 bounds are enforced up to
    * the DECIMAL cap itself), the weight rounded to an INTEGER so the
    * cross-stratum total is an order-free integer sum (a raw double
    * Σw_h would make the allocation partition-order-dependent; unit
    * scale rather than 2^24 fixed-point because realistic stratum
    * weights are ≥ 10³ — the fraction is noise — and a 2^24 scale
    * would push wq past Long at DECIMAL-scale variances), and
    * seats assign by Hamilton's largest-remainder method in pure
    * integer arithmetic: base_h = n·wq_h DIV Wq, the n − Σbase leftover
    * seats go to the largest n·wq_h MOD Wq (tie → lang order).
    * Σ alloc = n exactly.
    *
    * Scale: one grouped pass to ≤ |langs| moment rows (map-side
    * combined; the per-doc square happens AFTER the DECIMAL promotion,
    * so no 64-bit intermediate exists anywhere on the moment path);
    * everything after runs on the bounded stratum table (the remainder
    * rank is the bounded triangular self-join, never a corpus window).
    */
  def neymanAllocation(docs: DataFrame, n: Int = 200): DataFrame = {
    val m = docs
      .select(col("lang"), size(tokens(col("text"))).cast("long").as("x"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        // square AFTER promotion: (x·x) in LONG first would wrap silently
        // for an extreme token count while the HUGEINT oracle errs — the
        // exact engine asymmetry the pmiRatio DECIMAL fix eliminates
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"))
      .withColumn("wq",
        round(sqrt((col("n_docs").cast("decimal(38,0)") * col("sxx") -
          col("sx") * col("sx")).cast("double"))).cast("long"))
      // ≤ |langs| rows consumed by FIVE downstream subtrees (total,
      // seats, leftover, both triangular sides): materialize the moment
      // pass once instead of re-scanning the corpus per consumer
      .localCheckpoint(false)
    val tot = m.agg(sum(col("wq")).as("wtot"), sum(lit(1L)).as("nlangs"))
    val based = m.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"CAST($n AS BIGINT) * wq DIV wtot"))
      .withColumn("rem", expr(s"CAST($n AS BIGINT) * wq % wtot"))
      .localCheckpoint(false)
    val leftover = based.agg((lit(n.toLong) - sum(col("base"))).as("extra"))
    // remainder rank over the ≤ |langs| stratum table — the bounded
    // triangular join (strictly-larger count + earlier-lang tiebreak)
    val rk = based.as("a")
      .join(based.as("b"),
        col("b.rem") > col("a.rem") ||
          (col("b.rem") === col("a.rem") && col("b.lang") < col("a.lang")),
        "left")
      .groupBy(col("a.lang").as("lang"), col("a.n_docs").as("n_docs"),
        col("a.wq").as("wq"), col("a.base").as("base"))
      .agg(count(col("b.lang")).as("ahead"))
    rk.crossJoin(broadcast(leftover))
      .select(col("lang"), col("n_docs"), col("wq"),
        (col("base") + when(col("ahead") < col("extra"), 1L).otherwise(0L))
          .as("alloc"))
  }

  /** Execute the [[neymanAllocation]]: within each stratum the alloc_h
    * docs with the smallest sequential-Poisson priority keys (the
    * [[weightedSample]] key — deterministic, duplicate-consistent) win.
    * The per-stratum selection is the bounded-heap
    * [[graft.expressions.TopKAgg.TopKByValue]] aggregate at capacity n,
    * NOT a per-lang rank window: the heap reduces every partition to
    * O(n) state before a ≤ |langs|-group shuffle, where a
    * `row_number over (partition by lang)` would sort each stratum in
    * |langs| single tasks (the qfilter no-low-cardinality-window
    * discipline). The allocation table broadcasts back to trim each
    * stratum's list to its seats. Output (lang, rank, doc_id),
    * Σ rows = n exactly.
    */
  def stratifiedNeymanSample(docs: DataFrame, n: Int = 200): DataFrame = {
    val alloc = neymanAllocation(docs, n).select(col("lang"), col("alloc"))
    val keyed = docs.select(col("doc_id"), col("lang"),
        (pmod(stringHash(col("text")) * lit(2654435761L) + lit(104729L),
          lit(graft.functions.TextFunctions.P)) + lit(1L)).as("u"),
        (size(tokens(col("text"))) + 1).cast("long").as("w_tok"))
      .withColumn("skey", col("u").cast("double") / col("w_tok").cast("double"))
    keyed.groupBy(col("lang"))
      .agg(graft.expressions.TopKAgg.top_k_ids(-col("skey"), col("doc_id"), n)
        .as("ids"))
      .select(col("lang"), posexplode(col("ids")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
        col("col").as("doc_id"))
      .join(broadcast(alloc), Seq("lang"))
      .filter(col("rank") <= col("alloc"))
      .select(col("lang"), col("rank"), col("doc_id"))
  }

  /** DuckDB mirror of [[stratifiedNeymanSample]]. */
  def stratifiedNeymanSampleSql(n: Int = 200): String =
    s"""${neymanCtes(n)},
       |sk AS (
       |  SELECT doc_id, lang,
       |    CAST(((${graft.operators.Dedup.hashSql("text")}) * 2654435761 + 104729)
       |      % ${graft.functions.TextFunctions.P} + 1 AS DOUBLE)
       |      / CAST(len(${graft.operators.Dedup.toksSql}) + 1 AS DOUBLE) AS skey
       |  FROM documents),
       |skr AS (
       |  SELECT lang, doc_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY skey, doc_id)
       |      AS BIGINT) AS rank
       |  FROM sk)
       |SELECT s.lang, s.rank, s.doc_id
       |FROM skr s JOIN nalloc a ON a.lang = s.lang
       |WHERE s.rank <= a.alloc""".stripMargin

  /** The [[neymanAllocation]] chain as CTEs ending in `nalloc` — shared
    * by the allocation read-out and the sample executor's mirror.
    */
  def neymanCtes(n: Int = 200): String =
    s"""WITH nm AS (
       |  SELECT lang, COUNT(*) AS n_docs,
       |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(x AS HUGEINT) * x) AS sxx
       |  FROM (SELECT lang, CAST(len(${graft.operators.Dedup.toksSql}) AS BIGINT) AS x
       |        FROM documents) t
       |  GROUP BY lang),
       |nw AS (
       |  SELECT lang, n_docs,
       |    CAST(ROUND(sqrt(CAST(CAST(n_docs AS HUGEINT) * sxx - sx * sx AS DOUBLE)))
       |      AS BIGINT) AS wq
       |  FROM nm),
       |ntot AS (SELECT CAST(SUM(wq) AS BIGINT) AS wtot FROM nw),
       |nb AS (
       |  SELECT lang, n_docs, wq,
       |    CAST($n AS BIGINT) * wq // wtot AS base,
       |    CAST($n AS BIGINT) * wq % wtot AS rem
       |  FROM nw CROSS JOIN ntot),
       |nx AS (SELECT CAST($n AS BIGINT) - CAST(SUM(base) AS BIGINT) AS extra FROM nb),
       |nr AS (
       |  SELECT a.lang, a.n_docs, a.wq, a.base, COUNT(b.lang) AS ahead
       |  FROM nb a LEFT JOIN nb b
       |    ON b.rem > a.rem OR (b.rem = a.rem AND b.lang < a.lang)
       |  GROUP BY a.lang, a.n_docs, a.wq, a.base),
       |nalloc AS (
       |  SELECT lang, n_docs, wq,
       |    base + CASE WHEN ahead < extra THEN 1 ELSE 0 END AS alloc
       |  FROM nr CROSS JOIN nx)""".stripMargin

  /** DuckDB mirror of [[neymanAllocation]]. */
  def neymanAllocationSql(n: Int = 200): String =
    s"""${neymanCtes(n)}
       |SELECT lang, n_docs, wq, alloc FROM nalloc""".stripMargin

  /** Weighted sampling without replacement — sequential Poisson sampling
    * (Ohlsson '98): each doc gets priority key u/w where u is a
    * deterministic uniform draw (content hash + 1, so duplicate texts
    * draw identically — consistent with dedup) and w its weight; the n
    * SMALLEST keys win, giving inclusion probability ≈ proportional to
    * weight. Weight here is n_tokens + 1: token-budget-proportional doc
    * selection, the standard way to sample a fixed-token-budget subset
    * whose expected token mass matches the corpus mix.
    *
    * The raw polynomial hash is NOT a fair draw for short strings (a
    * k-char text never wraps the modulus until 31^k·7 > P, so tiny docs
    * would hash — and therefore sample — systematically small); one
    * multiplicative Fibonacci-style mix (h·2654435761 + 104729 mod P)
    * spreads any h across the full range. Float discipline: the key is
    * then ONE IEEE division of two exact integers (< 2^31), which both
    * engines round identically — no transcendental (the classic ES
    * u^(1/w) key would put pow() parity on the hash path). Scale: key is
    * a narrow map; selection is orderBy+limit → TakeOrderedAndProject
    * (per-partition top-n, O(n) driver merge, no global sort);
    * rerun/cluster-size deterministic because nothing depends on row
    * order.
    */
  def weightedSample(docs: DataFrame, n: Int = 200): DataFrame =
    docs
      .select(col("doc_id"), col("lang"),
        (size(tokens(col("text"))) + 1).cast("long").as("w_tok"),
        (pmod(stringHash(col("text")) * lit(2654435761L) + lit(104729L),
          lit(graft.functions.TextFunctions.P)) + lit(1L)).as("u"))
      .withColumn("skey", col("u").cast("double") / col("w_tok").cast("double"))
      .orderBy(col("skey"), col("doc_id"))
      .limit(n)

  /** DuckDB mirror of [[weightedSample]]. */
  def weightedSampleSql(n: Int = 200): String =
    s"""SELECT doc_id, lang, w_tok, u,
       |  CAST(u AS DOUBLE) / CAST(w_tok AS DOUBLE) AS skey
       |FROM (
       |  SELECT doc_id, lang,
       |    CAST(len(${graft.operators.Dedup.toksSql}) + 1 AS BIGINT) AS w_tok,
       |    ((${graft.operators.Dedup.hashSql("text")}) * 2654435761 + 104729)
       |      % ${graft.functions.TextFunctions.P} + 1 AS u
       |  FROM documents) t
       |ORDER BY skey, doc_id
       |LIMIT $n""".stripMargin

  /** Fill-in-the-middle split accounting (Bavarian et al. 2022,
    * arXiv:2207.14255): per eligible doc (≥ 3 tokens) the deterministic
    * (prefix, middle, suffix) token split a FIM-trained run uses, the
    * PSM/SPM document order, and whether FIM applies at all (the
    * paper's 0.9 FIM rate) — the layout pass that runs between packing
    * and the trainer, whose ACCOUNTING (boundary indices + lengths; the
    * writer slices text by them) is the data-engineering surface.
    *
    * Deterministic by CONTENT: all draws iterate the house
    * multiplicative mix on the doc's polynomial hash (the
    * [[weightedSample]] discipline — duplicate texts split identically,
    * no RNG state anywhere), every step exact BIGINT arithmetic both
    * engines share. Split rule: prefix ∈ [1, n−2], middle ∈
    * [1, n−prefix−1], suffix = the rest — all three segments nonempty.
    * Ineligible or FIM-skipped docs pass through whole (mode 'plain').
    * Conservation (prefix+middle+suffix = n_tokens, modes
    * partition the corpus) is spec-pinned. One narrow map — no shuffle,
    * no window.
    */
  def fimSplits(docs: DataFrame): DataFrame = {
    val P = graft.functions.TextFunctions.P
    def mix(c: Column): Column = pmod(c * lit(2654435761L) + lit(104729L), lit(P))
    val n = size(tokens(col("text"))).cast("long")
    val u1 = mix(stringHash(col("text")))
    val u2 = mix(u1)
    val u3 = mix(u2)
    docs
      .select(col("doc_id"), col("lang"), n.as("n_tokens"),
        u1.as("u1"), u2.as("u2"), u3.as("u3"))
      .withColumn("eligible", col("n_tokens") >= 3)
      .withColumn("applied", col("eligible") && pmod(col("u3"), lit(10L)) < 9)
      .withColumn("prefix_len",
        when(col("applied"), lit(1L) + pmod(col("u1"), col("n_tokens") - 2))
          .otherwise(col("n_tokens")))
      .withColumn("middle_len",
        when(col("applied"),
          lit(1L) + pmod(col("u2"), col("n_tokens") - col("prefix_len") - 1))
          .otherwise(lit(0L)))
      .withColumn("suffix_len",
        col("n_tokens") - col("prefix_len") - col("middle_len"))
      .withColumn("mode",
        when(!col("applied"), lit("plain"))
          .when(pmod(col("u3"), lit(2L)) === 1, lit("spm"))
          .otherwise(lit("psm")))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("mode"),
        col("prefix_len"), col("middle_len"), col("suffix_len"))
  }

  /** DuckDB mirror of [[fimSplits]]. */
  val fimSplitsSql: String = {
    val P = graft.functions.TextFunctions.P
    val h = graft.operators.Dedup.hashSql("text")
    def mix(c: String): String = s"(($c) * 2654435761 + 104729) % $P"
    s"""WITH f0 AS (
       |  SELECT doc_id, lang,
       |    CAST(len(${graft.operators.Dedup.toksSql}) AS BIGINT) AS n_tokens,
       |    ${mix(h)} AS u1
       |  FROM documents),
       |f1 AS (SELECT *, ${mix("u1")} AS u2 FROM f0),
       |f2 AS (SELECT *, ${mix("u2")} AS u3 FROM f1),
       |f3 AS (
       |  SELECT *, (n_tokens >= 3 AND u3 % 10 < 9) AS applied FROM f2),
       |f4 AS (
       |  SELECT *, CASE WHEN applied THEN 1 + u1 % (n_tokens - 2)
       |                 ELSE n_tokens END AS prefix_len
       |  FROM f3),
       |f5 AS (
       |  SELECT *, CASE WHEN applied THEN 1 + u2 % (n_tokens - prefix_len - 1)
       |                 ELSE CAST(0 AS BIGINT) END AS middle_len
       |  FROM f4)
       |SELECT doc_id, lang, n_tokens,
       |  CASE WHEN NOT applied THEN 'plain'
       |       WHEN u3 % 2 = 1 THEN 'spm' ELSE 'psm' END AS mode,
       |  prefix_len, middle_len,
       |  n_tokens - prefix_len - middle_len AS suffix_len
       |FROM f5""".stripMargin
  }

  /** T5 span-corruption accounting (Raffel et al. 2020): each token
    * position draws a deterministic content+position hash and corrupts
    * when it lands in the 15% band; CONSECUTIVE corrupted positions
    * merge into noise spans (the gaps-and-islands idiom the repeated-
    * span ops share), and the op reports the numbers the denoising
    * batch builder needs — span count, corrupted mass, and the exact
    * encoder/decoder sequence lengths (input = kept + one sentinel per
    * span; target = corrupted + one sentinel per span). The invariant
    * input_len + target_len = n_tokens + 2·n_spans is spec-pinned.
    *
    * Scale: positions explode off `sequence(0, n−1)` (no token VALUES
    * are materialized — only the count pass touches text), the island
    * merge windows on high-cardinality doc_id, rollup is one grouped
    * agg, and uncorrupted docs re-enter via a left join from the corpus
    * (n_spans = 0 rows are data, not absence).
    */
  def spanCorruption(docs: DataFrame): DataFrame = {
    val P = graft.functions.TextFunctions.P
    val t = docs.select(col("doc_id"), col("lang"),
      size(tokens(col("text"))).cast("long").as("n_tokens"),
      stringHash(col("text")).as("h"))
    val pos = t.filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("h"),
        explode(sequence(lit(0L), col("n_tokens") - 1)).as("p"))
      .withColumn("ph", pmod(col("h") + (col("p") + 1) * lit(2654435761L), lit(P)))
      .filter(pmod(col("ph"), lit(20L)) < 3)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    val spans = pos
      .withColumn("brk",
        when(col("p") - lag(col("p"), 1).over(w) === 1, 0).otherwise(1))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_corrupted"), sum(col("brk")).as("n_spans"))
    t.join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        coalesce(col("n_corrupted"), lit(0L)).as("n_corrupted"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"))
      .withColumn("input_len",
        col("n_tokens") - col("n_corrupted") + col("n_spans"))
      .withColumn("target_len", col("n_corrupted") + col("n_spans"))
  }

  /** DuckDB mirror of [[spanCorruption]]. */
  val spanCorruptionSql: String = {
    val P = graft.functions.TextFunctions.P
    val h = graft.operators.Dedup.hashSql("text")
    s"""WITH sc0 AS (
       |  SELECT doc_id, lang,
       |    CAST(len(${graft.operators.Dedup.toksSql}) AS BIGINT) AS n_tokens,
       |    ($h) AS h
       |  FROM documents),
       |scp AS (
       |  SELECT doc_id, CAST(unnest(range(0, n_tokens)) AS BIGINT) AS p, h
       |  FROM sc0 WHERE n_tokens > 0),
       |scc AS (
       |  SELECT doc_id, p FROM scp
       |  WHERE ((h + (p + 1) * 2654435761) % $P) % 20 < 3),
       |scb AS (
       |  SELECT doc_id, p,
       |    CASE WHEN p - LAG(p) OVER (PARTITION BY doc_id ORDER BY p) = 1
       |         THEN 0 ELSE 1 END AS brk
       |  FROM scc),
       |scs AS (
       |  SELECT doc_id, COUNT(*) AS n_corrupted,
       |    CAST(SUM(brk) AS BIGINT) AS n_spans
       |  FROM scb GROUP BY doc_id)
       |SELECT t.doc_id, t.lang, t.n_tokens,
       |  COALESCE(s.n_corrupted, CAST(0 AS BIGINT)) AS n_corrupted,
       |  COALESCE(s.n_spans, CAST(0 AS BIGINT)) AS n_spans,
       |  t.n_tokens - COALESCE(s.n_corrupted, 0) + COALESCE(s.n_spans, 0)
       |    AS input_len,
       |  COALESCE(s.n_corrupted, 0) + COALESCE(s.n_spans, 0) AS target_len
       |FROM sc0 t LEFT JOIN scs s ON s.doc_id = t.doc_id""".stripMargin
  }

  /** The simulated "next crawl" snapshot for [[snapshotDiff]]: derived
    * deterministically from the base corpus by doc_id residue so engine
    * and oracle construct byte-identical snapshots — residue 3 dropped
    * (takedowns/rot), residue 4 re-crawled with changed content, residue
    * 5 additionally re-published under a fresh id (new discoveries).
    */
  def snapshotB(docs: DataFrame): DataFrame = {
    val a = docs.select(col("doc_id"), col("lang"), col("text"))
    val kept = a.filter(pmod(col("doc_id"), lit(11L)) =!= 3L)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(11L)) === 4L,
          concat(col("text"), lit(" rev2"))).otherwise(col("text")))
    val added = a.filter(pmod(col("doc_id"), lit(11L)) === 5L)
      .withColumn("doc_id", col("doc_id") + lit(10000000L))
    kept.unionByName(added)
  }

  /** Crawl-to-crawl snapshot diff — the manifest reconciliation a
    * recurring-crawl pipeline runs before incremental dedup/index
    * maintenance: FULL OUTER join of the two snapshots on doc_id,
    * per-doc status (added / removed / changed / unchanged) decided by
    * CONTENT HASH (at 100 TB the manifest stores the hash — the diff
    * never re-reads surviving bodies), rolled up to (status, lang) with
    * doc counts and the net token delta each status contributes. The
    * token delta is what feeds the epoch/budget planner; the added+
    * changed doc sets are what feed [[graft.operators.Dedup.incrementMergePairs]].
    *
    * Scale: one shuffle join co-partitioned on doc_id (both sides), all
    * other maps narrow; rollup is ≤ 4·|langs| rows with O(1) agg state.
    */
  def snapshotDiff(docs: DataFrame): DataFrame = {
    val a = docs
      .select(col("doc_id"), col("lang").as("lang_a"),
        stringHash(col("text")).as("h_a"),
        size(tokens(col("text"))).cast("long").as("tok_a"))
    val b = snapshotB(docs)
      .select(col("doc_id"), col("lang").as("lang_b"),
        stringHash(col("text")).as("h_b"),
        size(tokens(col("text"))).cast("long").as("tok_b"))
    a.join(b, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("h_a").isNull, lit("added"))
          .when(col("h_b").isNull, lit("removed"))
          .when(col("h_a") === col("h_b"), lit("unchanged"))
          .otherwise(lit("changed")))
      .withColumn("lang", coalesce(col("lang_a"), col("lang_b")))
      .groupBy(col("status"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("tok_b"), lit(0L)) -
          coalesce(col("tok_a"), lit(0L))).as("token_delta"))
  }

  /** DuckDB mirror of [[snapshotDiff]] (same residue-derived snapshot). */
  val snapshotDiffSql: String = {
    val toks = graft.operators.Dedup.toksSql
    val h = graft.operators.Dedup.hashSql("text")
    s"""WITH b AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN doc_id % 11 = 4 THEN text || ' rev2' ELSE text END AS text
       |  FROM documents WHERE doc_id % 11 <> 3
       |  UNION ALL
       |  SELECT doc_id + 10000000 AS doc_id, lang, text
       |  FROM documents WHERE doc_id % 11 = 5),
       |sa AS (SELECT doc_id, lang AS lang_a, ($h) AS h_a,
       |         CAST(len($toks) AS BIGINT) AS tok_a FROM documents),
       |sb AS (SELECT doc_id, lang AS lang_b, ($h) AS h_b,
       |         CAST(len($toks) AS BIGINT) AS tok_b FROM b),
       |j AS (
       |  SELECT COALESCE(sa.doc_id, sb.doc_id) AS doc_id,
       |    lang_a, lang_b, h_a, h_b, tok_a, tok_b
       |  FROM sa FULL OUTER JOIN sb ON sa.doc_id = sb.doc_id)
       |SELECT
       |  CASE WHEN h_a IS NULL THEN 'added'
       |       WHEN h_b IS NULL THEN 'removed'
       |       WHEN h_a = h_b THEN 'unchanged'
       |       ELSE 'changed' END AS status,
       |  COALESCE(lang_a, lang_b) AS lang,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(COALESCE(tok_b, 0) - COALESCE(tok_a, 0)) AS BIGINT)
       |    AS token_delta
       |FROM j
       |GROUP BY 1, 2""".stripMargin
  }

  /** The distinct (source, h) coverage spine — shared input of all
    * three source-selection spellings (count-budget, token-budget,
    * KMV). A real pipeline computes the coverage sets ONCE per crawl
    * and serves every selection question from them; `dir`-keyed
    * callers memoize through the [[StageMemo]] registry, constructed-
    * frame callers (specs) get a transient local checkpoint.
    */
  def sourceShinglesFor(docs: DataFrame, dir: String): DataFrame =
    if (dir.isEmpty)
      sourceShingles(docs).localCheckpoint(false)
    else StageMemo.stage(Owner, docs.sparkSession, dir, "srcsh")(sourceShingles(docs))

  private def sourceShingles(docs: DataFrame): DataFrame =
    Dedup.shingles(docs.select(col("doc_id"), col("text")))
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"), col("h")).distinct()
      .repartition(col("h"))

  /** Drop the memoized coverage spine (test lifecycle hook — the
    * [[Dedup.clearMemos]] contract).
    */
  def clearMemos(): Unit = StageMemo.clear(Owner)

  /** Greedy maximum-coverage source selection: pick `budget` sources,
    * each round taking the source whose documents add the most NOT-YET-
    * COVERED distinct trigram shingles (ties to the lexicographically
    * smaller source). The classic (1−1/e)-approximation for the
    * NP-hard max-coverage objective (Nemhauser–Wolsey–Fisher'78 greedy
    * on a submodular set function) — the "which crawls/feeds actually
    * add novel text" question a corpus-mixing run answers before buying
    * a new source's ingest cost. Emits the selection trace:
    * (rank, source, gain, cum_cov), gain = the marginal distinct-shingle
    * count at selection time, cum_cov = running covered-universe size
    * (exact, since marginal gains are disjoint by construction). A
    * source whose every shingle is already covered is never selected —
    * the trace stops early rather than padding the budget with
    * zero-gain picks (both engines: it simply vanishes from the
    * marginal aggregation).
    *
    * Scale shape: the per-source coverage sets are ONE distinct
    * (source, h) aggregation over the [[Dedup.shingles]] narrow map —
    * corpus-priced, done once. Each greedy round is one anti-join of
    * the remaining sets against the covered-shingle table (both sides
    * hash-partitioned on h) plus a TakeOrdered single-row reduce;
    * driver state is the ≤budget picks. Rounds = budget, a small
    * constant by definition of the question ("which B sources do I
    * keep"), so total work is budget × one corpus-sketch-sized join —
    * never |sources| passes, never all-pairs. At 100 TB the same shape
    * runs over KMV-sketched coverage sets ([[TextAnalysis.kmvSketch]])
    * when exact distinct counts stop being worth their shuffle; the
    * exact spelling here IS the audit for that approximation.
    *
    * Exactness: gains are exact BIGINT distinct counts; both engines
    * break gain ties by source name, and the cumulative sum is over
    * ≤budget driver-side integers.
    */
  def sourceSelect(docs: DataFrame, budget: Int = 6,
      dir: String = ""): DataFrame = {
    val spark = docs.sparkSession
    val ssh = sourceShinglesFor(docs, dir)
    var selected = List.empty[(Int, String, Long, Long)]
    var cum = 0L
    var round = 1
    var exhausted = false
    // One Spark job per greedy round (the pick), nothing else: the
    // covered set is re-derived from the memoized spine each round
    // (filter + distinct + anti-join inside the SAME action) instead of
    // maintained as an incrementally-checkpointed frame — the old
    // spelling's per-round lazy localCheckpoint cost a full driver
    // planning pass (~0.3 s) plus a materialization job every round.
    // ssh is a checkpoint-backed scan, so re-reading it per round is one
    // file pass, the same I/O the incremental spelling paid.
    while (round <= budget && !exhausted) {
      val pickedSrcs = selected.map(_._2)
      // "h not covered by any picked source" as an unordered max-flag
      // window over h: the spine is checkpointed PARTITIONED BY h, so
      // the window needs no exchange — each round is flag+filter+one
      // tiny groupBy(source), two stages, instead of the anti-join
      // spelling's distinct+join chain.
      val fresh =
        if (pickedSrcs.isEmpty) ssh
        else ssh
          .withColumn("cov", max(when(col("source").isin(pickedSrcs: _*), 1)
            .otherwise(0)).over(Window.partitionBy(col("h"))))
          .filter(col("cov") === 0 && !col("source").isin(pickedSrcs: _*))
      val pick = fresh.groupBy(col("source"))
        .agg(count(lit(1)).as("gain"))
        .orderBy(col("gain").desc, col("source"))
        .limit(1).collect()
      if (pick.isEmpty) exhausted = true
      else {
        val (src, gain) = (pick(0).getString(0), pick(0).getLong(1))
        cum += gain
        selected :+= ((round, src, gain, cum))
        round += 1
      }
    }
    import spark.implicits._
    selected.toDF("rank", "source", "gain", "cum_cov")
  }

  /** Budgeted max-coverage source selection — [[sourceSelect]] with a
    * TOKEN budget instead of a count budget (Khuller–Moss–Naor'99
    * budgeted maximum coverage; the cost-ratio greedy): each round
    * picks, among sources still AFFORDABLE (token cost ≤ remaining
    * budget), the one with the best marginal-coverage-per-token ratio
    * (gain/cost as one IEEE division — identical doubles both engines —
    * ties to the smaller source name); stops when nothing affordable
    * adds coverage or `maxPicks` rounds have run (the mirror's
    * unrolling bound). Budget = total corpus tokens div 5 — a corpus
    * FRACTION, so the gate binds identically at every scale. This is
    * the actual procurement question ("which feeds fit the crawl
    * budget"), where [[sourceSelect]] answers the idealized count-
    * budget one; the same KMV-sketch swap applies at 100 TB.
    *
    * Emits (rank, source, gain, cost_tokens, cum_cov, budget_left) —
    * budget_left AFTER paying the pick, all exact BIGINTs.
    */
  def sourceSelectBudgeted(docs: DataFrame, maxPicks: Int = 8,
      dir: String = ""): DataFrame = {
    val spark = docs.sparkSession
    val withToks = docs.select(col("doc_id"), col("source"),
      size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("ntok"))
    // The per-source cost table is ≤‖sources‖ rows — the bounded-collect
    // contract. Collecting it once replaces the old spelling's
    // checkpointed cost frame + budget job + per-round broadcast join:
    // affordability and the gain/cost ratio pick become driver
    // arithmetic on the SAME integers (ratio = the identical single IEEE
    // division), leaving exactly one Spark job per greedy round.
    val costRows = withToks.groupBy(col("source"))
      .agg(sum(col("ntok")).as("cost")).collect()
    val costMap: Map[String, Long] =
      costRows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val budget = costMap.values.sum / 5
    val ssh = sourceShinglesFor(docs, dir)
    var selected = List.empty[(Int, String, Long, Long, Long, Long)]
    var remaining = budget
    var cum = 0L
    var round = 1
    var exhausted = false
    while (round <= maxPicks && !exhausted) {
      val pickedSrcs = selected.map(_._2)
      val affordable = costMap.keys.toSeq
        .filterNot(pickedSrcs.contains)
        .filter(s => costMap(s) <= remaining)
      if (affordable.isEmpty) exhausted = true
      else {
        val fresh =
          if (pickedSrcs.isEmpty) ssh
          else ssh.join(
            ssh.filter(col("source").isin(pickedSrcs: _*)).select(col("h")).distinct(),
            Seq("h"), "left_anti")
        // one job: per-source marginal gains (≤‖sources‖ result rows);
        // the ratio ordering and tie rule run on the driver, bit-
        // identical to the old orderBy((gain/cost) DESC, source)
        val gains = fresh.filter(col("source").isin(affordable: _*))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("gain")).collect()
          .map(r => r.getString(0) -> r.getLong(1))
        if (gains.isEmpty) exhausted = true
        else {
          var (src, gain) = gains.head
          var ratio = gain.toDouble / costMap(src).toDouble
          gains.tail.foreach { case (s, g) =>
            val r = g.toDouble / costMap(s).toDouble
            if (r > ratio || (r == ratio && s < src)) { src = s; gain = g; ratio = r }
          }
          val cost = costMap(src)
          cum += gain
          remaining -= cost
          selected :+= ((round, src, gain, cost, cum, remaining))
          round += 1
        }
      }
    }
    import spark.implicits._
    selected.toDF("rank", "source", "gain", "cost_tokens", "cum_cov",
      "budget_left")
  }

  /** DuckDB mirror of [[sourceSelectBudgeted]] — maxPicks unrolled
    * cost-ratio rounds; affordability from the running budget, the
    * ratio as the same single IEEE division.
    */
  def sourceSelectBudgetedSql(maxPicks: Int = 8): String = {
    def round(i: Int): String = {
      val prevSel = if (i == 1) "SELECT NULL AS source WHERE FALSE"
        else s"SELECT source FROM a${i - 1}"
      val prevSpend = if (i == 1) "0"
        else s"COALESCE((SELECT SUM(cost_tokens) FROM a${i - 1}), 0)"
      val notCovered = if (i == 1) "TRUE"
        else s"NOT EXISTS (SELECT 1 FROM c${i - 1} c WHERE c.h = s.h)"
      val prevRows = if (i == 1) "" else s"SELECT * FROM a${i - 1} UNION ALL "
      s"""m$i AS (
         |  SELECT s.source, k.cost, COUNT(*) AS gain FROM ssh s
         |  JOIN kost k ON k.source = s.source
         |  WHERE s.source NOT IN ($prevSel)
         |    AND k.cost <= (SELECT budget FROM bp) - $prevSpend
         |    AND $notCovered
         |  GROUP BY s.source, k.cost),
         |p$i AS (SELECT $i AS rank, source, gain, cost AS cost_tokens FROM m$i
         |  ORDER BY CAST(gain AS DOUBLE) / CAST(cost AS DOUBLE) DESC, source
         |  LIMIT 1),
         |c$i AS MATERIALIZED (${if (i == 1) "" else s"SELECT h FROM c${i - 1} UNION "}
         |  SELECT DISTINCT s.h FROM ssh s JOIN p$i p ON s.source = p.source),
         |a$i AS MATERIALIZED (${prevRows}SELECT * FROM p$i)""".stripMargin
    }
    val rounds = (1 to maxPicks).map(round).mkString(",\n")
    s"""WITH ${Dedup.shingleSqlFor("documents", "bsh")},
       |ssh AS MATERIALIZED (SELECT DISTINCT d.source, t.h
       |        FROM bsh t JOIN documents d ON t.doc_id = d.doc_id),
       |kost AS MATERIALIZED (
       |  SELECT source,
       |    CAST(SUM(len(${Dedup.toksSql})) AS BIGINT) AS cost
       |  FROM documents GROUP BY source),
       |bp AS (SELECT CAST(SUM(cost) // 5 AS BIGINT) AS budget FROM kost),
       |$rounds
       |SELECT rank, source, gain, cost_tokens,
       |  CAST(SUM(gain) OVER (ORDER BY rank) AS BIGINT) AS cum_cov,
       |  (SELECT budget FROM bp)
       |    - CAST(SUM(cost_tokens) OVER (ORDER BY rank) AS BIGINT)
       |    AS budget_left
       |FROM a$maxPicks""".stripMargin
  }

  /** KMV-sketch greedy source selection — the 100-TB spelling the
    * exact [[sourceSelect]] is the audit FOR, implemented rather than
    * promised: the corpus is scanned ONCE into per-source bottom-k
    * sketches ([[TextAnalysis.kmvSketch]] — ‖sources‖·k rows,
    * deterministic order statistics, so the whole greedy is exactly
    * reproducible); every round then works entirely on sketch rows —
    * the covered set is a bottom-k UNION sketch (KMV closure, the
    * kmvMerge law), each candidate's marginal gain is
    * D̂(covered ∪ s) − D̂(covered) with the same (k−1)·P/θ estimator
    * as q_doc_kmv, and the pick is (est gain DESC, source ASC). The
    * trace carries BOTH est_gain and the TRUE exact marginal for each
    * pick (one anti-join per round against the exact covered set) —
    * the in-row audit of what the approximation cost where it
    * matters: on the picks actually taken.
    *
    * Scale: after the one sketch pass, every round's estimator works
    * on ≤ ‖sources‖·2k sketch rows — corpus-independent; the exact
    * audit column is the only corpus-priced per-round work and is
    * exactly what a production run drops first (keeping the sketch
    * greedy untouched).
    */
  def sourceSelectKmv(docs: DataFrame, budget: Int = 6,
      k: Int = TextAnalysis.KmvK, dir: String = ""): DataFrame =
    sourceSelectKmvImpl(docs, budget, k, dir, audit = true)

  /** The PRODUCTION spelling of [[sourceSelectKmv]] — the per-round exact
    * audit anti-join dropped (exactly what the audited variant's scaladoc
    * says a production run drops first): after the ONE corpus pass into
    * per-source bottom-k sketches, every greedy round touches only
    * ≤ ‖sources‖·2k sketch rows — per-round marginal cost is
    * corpus-INDEPENDENT, now measured rather than implied (the
    * `q_doc_srcselkmv_prod` probe row). The audited variant is this
    * query's truth twin: identical (rank, source, est_gain) trace by
    * construction (SourceSelectSpec pins the agreement).
    */
  def sourceSelectKmvProd(docs: DataFrame, budget: Int = 6,
      k: Int = TextAnalysis.KmvK, dir: String = ""): DataFrame =
    sourceSelectKmvImpl(docs, budget, k, dir, audit = false)

  private def sourceSelectKmvImpl(docs: DataFrame, budget: Int,
      k: Int, dir: String, audit: Boolean): DataFrame = {
    val spark = docs.sparkSession
    val kU = (k - 1).toLong * graft.functions.TextFunctions.P
    val ssh = sourceShinglesFor(docs, dir)
    // ONE bounded collect: the per-source bottom-k sketch is ≤‖sources‖·k
    // rows by construction (corpus-independent — the exact quantity the
    // scaladoc above prices every greedy round at). With the sketch on
    // the driver, the whole union-sketch greedy is driver arithmetic on
    // those integers — identical bottom-k unions, the identical
    // (k−1)·P/θ estimator (one IEEE division), the identical (marg DESC,
    // source ASC) tie rule — instead of ~4 Spark actions per round
    // (estimator job + pick collect + two checkpointed covered-set
    // updates), which dominated the query's wall time.
    val skRows = TextAnalysis.kmvSketchOf(ssh, k).collect()
    val bySource: Map[String, Array[Long]] = skRows
      .groupBy(_.getString(0))
      .map { case (s, rs) => s -> rs.map(_.getLong(1)).sorted }
    def estOf(n: Long, theta: Long): Double =
      if (n < k) n.toDouble else kU.toDouble / theta.toDouble
    var selected = List.empty[(Int, String, Double)]
    var covered = Array.empty[Long] // the bottom-k union sketch, sorted
    var covEst = 0.0
    var round = 1
    var exhausted = false
    while (round <= budget && !exhausted) {
      val pickedSrcs = selected.map(_._2).toSet
      val cands = bySource.keysIterator.filterNot(pickedSrcs).map { s =>
        val u = (bySource(s) ++ covered).distinct.sorted.take(k)
        val est = estOf(u.length.toLong, if (u.isEmpty) 1L else u.last)
        (s, est - covEst)
      }.toSeq
      if (cands.isEmpty) exhausted = true
      else {
        var (src, marg) = cands.head
        cands.tail.foreach { case (s, m) =>
          if (m > marg || (m == marg && s < src)) { src = s; marg = m }
        }
        selected :+= ((round, src, marg))
        covered = (covered ++ bySource(src)).distinct.sorted.take(k)
        covEst = estOf(covered.length.toLong,
          if (covered.isEmpty) 1L else covered.last)
        round += 1
      }
    }
    // exact audit — the one corpus-priced step (the production spelling
    // skips it): ONE aggregation job computes every round's true
    // marginal at once. gain_i = |H(s_i) \ ∪_{j<i} H(s_j)| is exactly
    // the number of h whose EARLIEST picked rank is i, so a min-rank
    // per h + count per rank reproduces the old sequential anti-join
    // counts in a single pass over the (filtered) spine.
    val pickedOrdered = selected.map(_._2)
    val exactGains: Map[Int, Long] =
      if (!audit || pickedOrdered.isEmpty) Map.empty
      else {
        val rkCol = pickedOrdered.zipWithIndex.reverse
          .foldLeft(lit(Int.MaxValue)) { case (acc, (s, i)) =>
            when(col("source") === s, lit(i + 1)).otherwise(acc)
          }
        ssh.filter(col("source").isin(pickedOrdered: _*))
          .select(col("h"), rkCol.as("rk"))
          .groupBy(col("h")).agg(min(col("rk")).as("mr"))
          .groupBy(col("mr")).agg(count(lit(1)).as("c"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      }
    import spark.implicits._
    if (audit)
      selected.map(t => (t._1, t._2, t._3, exactGains.getOrElse(t._1, 0L)))
        .toDF("rank", "source", "est_gain", "exact_gain")
    else selected.toDF("rank", "source", "est_gain")
  }

  /** DuckDB mirror of [[sourceSelectKmv]]: identical sketches (bottom-k
    * ROW_NUMBER), estimator, union-sketch rounds and tie rules;
    * MATERIALIZED CTEs keep the unrolled chain from re-evaluating the
    * corpus scan.
    */
  def sourceSelectKmvSql(budget: Int = 6,
      k: Int = TextAnalysis.KmvK, audit: Boolean = true): String = {
    val kU = (k - 1).toLong * graft.functions.TextFunctions.P
    val estU = s"CASE WHEN n_u < $k THEN CAST(n_u AS DOUBLE) ELSE CAST($kU AS DOUBLE) / CAST(theta_u AS DOUBLE) END"
    def round(i: Int): String = {
      val prevSel = if (i == 1) "SELECT NULL AS source WHERE FALSE"
        else s"SELECT source FROM a${i - 1}"
      val unionCov = if (i == 1) ""
        else s""" UNION SELECT r.source, c.h
           |    FROM (SELECT DISTINCT source FROM vsk
           |          WHERE source NOT IN ($prevSel)) r
           |    CROSS JOIN cs${i - 1} c""".stripMargin
      val covEst = if (i == 1) "0.0"
        else s"""(SELECT CASE WHEN COUNT(*) < $k THEN CAST(COUNT(*) AS DOUBLE)
           |      ELSE CAST($kU AS DOUBLE) / CAST(MAX(h) AS DOUBLE) END
           |    FROM cs${i - 1})""".stripMargin
      val prevCs = if (i == 1) "" else s"SELECT h FROM cs${i - 1} UNION "
      val prevEc = if (i == 1) "" else
        s"AND NOT EXISTS (SELECT 1 FROM ec${i - 1} c WHERE c.h = s.h)"
      val prevRows = if (i == 1) "" else s"SELECT * FROM a${i - 1} UNION ALL "
      val ecBody = if (i == 1)
        s"SELECT DISTINCT s.h FROM vsh s JOIN p$i p ON s.source = p.source"
      else
        s"""SELECT h FROM ec${i - 1} UNION
           |  SELECT DISTINCT s.h FROM vsh s JOIN p$i p ON s.source = p.source""".stripMargin
      val auditCtes =
        s"""
           |eg$i AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS exact_gain
           |  FROM (SELECT DISTINCT s.h FROM vsh s JOIN p$i p ON s.source = p.source
           |        WHERE TRUE $prevEc) t),
           |ec$i AS MATERIALIZED ($ecBody),""".stripMargin
      val aBody = if (audit)
        s"""${prevRows}SELECT p.rank, p.source, p.est_gain, g.exact_gain
           |  FROM p$i p CROSS JOIN eg$i g""".stripMargin
      else s"${prevRows}SELECT p.rank, p.source, p.est_gain FROM p$i p"
      s"""cu$i AS (
         |  SELECT source, h FROM vsk WHERE source NOT IN ($prevSel)$unionCov),
         |eu$i AS (
         |  SELECT source, $estU - $covEst AS marg FROM (
         |    SELECT source, COUNT(*) AS n_u, MAX(h) AS theta_u FROM (
         |      SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
         |      FROM cu$i) t
         |    WHERE rn <= $k GROUP BY source) g),
         |p$i AS (SELECT $i AS rank, source, marg AS est_gain FROM eu$i
         |  ORDER BY marg DESC, source LIMIT 1),
         |cs$i AS MATERIALIZED (
         |  SELECT h FROM (${prevCs}SELECT s.h FROM vsk s JOIN p$i p ON s.source = p.source)
         |  ORDER BY h LIMIT $k),${if (audit) auditCtes else ""}
         |a$i AS MATERIALIZED ($aBody)""".stripMargin
    }
    val rounds = (1 to budget).map(round).mkString(",\n")
    val outCols = if (audit) "rank, source, est_gain, exact_gain"
      else "rank, source, est_gain"
    s"""WITH ${Dedup.shingleSqlFor("documents", "vraw")},
       |vsh AS MATERIALIZED (SELECT DISTINCT d.source, t.h
       |        FROM vraw t JOIN documents d ON t.doc_id = d.doc_id),
       |vsk AS MATERIALIZED (
       |  SELECT source, h FROM (
       |    SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
       |    FROM vsh) t
       |  WHERE rn <= $k),
       |$rounds
       |SELECT $outCols FROM a$budget""".stripMargin
  }

  /** DuckDB mirror of [[sourceSelect]]: budget unrolled greedy rounds
    * over the distinct (source, shingle) sets, each excluding already-
    * picked sources and already-covered shingles, with the same
    * (gain DESC, source ASC) pick rule.
    */
  def sourceSelectSql(budget: Int = 6): String = {
    val rounds = (2 to budget).map { i =>
      s"""m$i AS (
         |  SELECT s.source, COUNT(*) AS gain FROM ssh s
         |  WHERE s.source NOT IN (SELECT source FROM a${i - 1})
         |    AND NOT EXISTS (SELECT 1 FROM c${i - 1} c WHERE c.h = s.h)
         |  GROUP BY s.source),
         |p$i AS (SELECT $i AS rank, source, gain FROM m$i
         |  ORDER BY gain DESC, source LIMIT 1),
         |c$i AS MATERIALIZED (SELECT h FROM c${i - 1}
         |  UNION SELECT s.h FROM ssh s JOIN p$i p ON s.source = p.source),
         |a$i AS MATERIALIZED (SELECT * FROM a${i - 1} UNION ALL SELECT * FROM p$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${Dedup.shingleSqlFor("documents", "dsh")},
       |ssh AS MATERIALIZED (SELECT DISTINCT d.source, t.h
       |        FROM dsh t JOIN documents d ON t.doc_id = d.doc_id),
       |m1 AS (SELECT source, COUNT(*) AS gain FROM ssh GROUP BY source),
       |p1 AS (SELECT 1 AS rank, source, gain FROM m1
       |  ORDER BY gain DESC, source LIMIT 1),
       |c1 AS MATERIALIZED (SELECT DISTINCT s.h FROM ssh s JOIN p1 p ON s.source = p.source),
       |a1 AS MATERIALIZED (SELECT * FROM p1),
       |$rounds
       |SELECT rank, source, gain,
       |  CAST(SUM(gain) OVER (ORDER BY rank) AS BIGINT) AS cum_cov
       |FROM a$budget""".stripMargin
  }
}
