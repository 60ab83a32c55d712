package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.sources.StageMemo

/** Text-analysis operators over the documents table: token statistics,
  * quality scoring, language identification, document fingerprinting.
  * All narrow (per-row) transforms — no shuffle; they pipeline into one
  * codegen stage over the scan, which is the shape you want when the
  * documents table is 100 TB: pure map, embarrassingly parallel.
  */
object TextAnalysis {

  /** This family's namespace in the [[StageMemo]] artifact registry. */
  private val Owner = "TextAnalysis"

  /** Stopword list used by quality scoring (inlined identically in the
    * DuckDB oracle).
    */
  val Stopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is")

  /** Marker vocabularies for the n-gram/stopword language-ID heuristic.
    * Scores are marker-token counts; arg-max with a fixed precedence
    * chain (en > de > fr > es) keeps ties deterministic.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"),
    "de" -> Seq("der", "die", "und"),
    "fr" -> Seq("le", "la", "et"),
    "es" -> Seq("el", "los", "y")
  )

  private def withToks(docs: DataFrame): DataFrame =
    docs.withColumn("toks", tokens(col("text")))

  /** Token counting + whole-document fingerprint (rolling hash).
    * Ratio columns are guarded for empty/whitespace-only docs — ANSI mode
    * (Spark 4 default) turns the 0-token division into a query-aborting
    * DIVIDE_BY_ZERO otherwise.
    */
  def stats(docs: DataFrame): DataFrame =
    withToks(docs).select(
      col("doc_id"),
      size(col("toks")).cast("long").as("n_tokens"),
      length(col("text")).cast("long").as("n_chars"),
      // Σ token lengths = length of the separator-less join — pure
      // codegen, vs the aggregate(transform(…)) lambda (CodegenFallback)
      when(size(col("toks")) > 0,
        length(array_join(col("toks"), "")).cast("double")
          / size(col("toks")).cast("double")).as("avg_tok_len"),
      stringHash(col("text")).as("fp")
    )

  /** GPT-2-style pretokenizer regex, restricted to the Java-regex ∩ RE2
    * portable subset: no lookahead (RE2 has none), explicit whitespace
    * class (Java `\s` includes \x0B, RE2's doesn't). Each match is one
    * pretoken: an optionally space-prefixed letter run, digit run, or
    * punctuation run — the unit a BPE tokenizer's merges start from.
    */
  val BpeTokenRe = " ?\\p{L}+| ?\\p{N}+| ?[^\\p{L}\\p{N} \\t\\n\\f\\r]+"

  /** Token counting both ways a data pipeline needs it: whitespace words
    * (the quality-signal denominator) and BPE-ish pretokens (the
    * token-budget estimate — punctuation and digit runs split off, as a
    * subword tokenizer would). `bpe_per_word` is the expansion factor a
    * packing budget planner multiplies by. Pure narrow map.
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    withToks(docs).select(
      col("doc_id"),
      size(col("toks")).cast("long").as("n_ws_tokens"),
      regexp_count(col("text"), lit(BpeTokenRe)).cast("long").as("n_bpe_tokens"))
      .withColumn("bpe_per_word",
        when(col("n_ws_tokens") > 0,
          col("n_bpe_tokens").cast("double") / col("n_ws_tokens").cast("double")))

  /** Quality scoring: stopword ratio, short-token ratio, and a simple
    * deterministic composite in [0,1]. `passthrough` names input columns
    * to carry into the output (e.g. `lang` for the quality gate) so
    * callers don't have to join the score frame back against the corpus
    * just to recover a column the scan already had.
    */
  def quality(docs: DataFrame, passthrough: Seq[String] = Nil,
      emitTokens: Boolean = false): DataFrame = {
    val nTok = size(col("toks"))
    val n = nTok.cast("double")
    // guarded: 0-token docs → null ratios, not an ANSI DIVIDE_BY_ZERO abort
    val stopRatio = when(nTok > 0, vocabCount(col("toks"), Stopwords).cast("double") / n)
    val shortRatio = when(nTok > 0,
      graft.expressions.ShortTokenCount.short_token_count(col("toks"), 3).cast("double") / n)
    val base = col("doc_id") +: passthrough.map(col) :+
      stopRatio.as("stop_ratio") :+
      shortRatio.as("short_ratio") :+
      (lit(1.0) - stopRatio * lit(0.5) - shortRatio * lit(0.3)).as("quality")
    withToks(docs).select(
      (if (emitTokens) base :+ nTok.cast("long").as("n_tokens") else base): _*
    )
  }

  /** Gopher-style heuristic quality rules (Rae et al. 2021 §A1.1 shape,
    * constants adapted to this corpus): per-doc measurements plus one
    * boolean per rule and the conjunction verdict —
    *  - token count within [minTokens, maxTokens],
    *  - mean token length within [minAvgLen, maxAvgLen],
    *  - fraction of tokens containing a letter ≥ minAlphaFrac,
    *  - at least minStopHits DISTINCT stopwords present.
    * Emitting the raw signals (not just the verdict) is deliberate: a
    * curation audit tunes thresholds from the distributions.
    *
    * Pure narrow map — one tokenize per row, everything else arithmetic
    * over the token array; pipelines into the scan's codegen stage, so at
    * 100 TB this is embarrassingly parallel with zero shuffle.
    */
  def gopherRules(docs: DataFrame,
      minTokens: Int = 10, maxTokens: Int = 100000,
      minAvgLen: Double = 3.0, maxAvgLen: Double = 10.0,
      minAlphaFrac: Double = 0.8, minStopHits: Int = 2,
      passthrough: Seq[String] = Nil): DataFrame = {
    val nTok = size(col("toks"))
    val n = nTok.cast("double")
    val avgLen = when(nTok > 0, length(array_join(col("toks"), "")).cast("double") / n)
    val alphaFrac = when(nTok > 0,
      size(filter(col("toks"), t => t.rlike("\\p{L}"))).cast("double") / n)
    // distinct-stopword presence count: Σ array_contains — k fixed terms,
    // no set materialization
    val stopHits = Stopwords.map(w => array_contains(col("toks"), w).cast("int"))
      .reduce(_ + _)
    withToks(docs).select(
      (col("doc_id") +: passthrough.map(col)) ++ Seq(
        nTok.cast("long").as("n_tokens"),
        avgLen.as("avg_tok_len"),
        alphaFrac.as("alpha_frac"),
        stopHits.cast("long").as("stop_hits"),
        (nTok >= minTokens && nTok <= maxTokens).as("r_len"),
        coalesce(avgLen >= minAvgLen && avgLen <= maxAvgLen, lit(false)).as("r_avglen"),
        coalesce(alphaFrac >= minAlphaFrac, lit(false)).as("r_alpha"),
        (stopHits >= minStopHits).as("r_stop"),
        (nTok >= minTokens && nTok <= maxTokens &&
          coalesce(avgLen >= minAvgLen && avgLen <= maxAvgLen, lit(false)) &&
          coalesce(alphaFrac >= minAlphaFrac, lit(false)) &&
          stopHits >= minStopHits).as("pass")): _*)
  }

  /** Shared DuckDB CTE chain (`tq`, `g`) of the [[gopherRules]] signal
    * measurements over `src`, with optional passthrough columns — one
    * spelling serving the q_doc_gopher oracle and every mirror that
    * gates on the rules (the domain-prior audit), so the rule arithmetic
    * cannot drift between mirrors.
    */
  def gopherSqlChain(src: String = "documents",
      passthrough: Seq[String] = Nil): String = {
    val pt = passthrough.map(c => s"$c, ").mkString
    s"""tq AS (SELECT doc_id, $pt${Dedup.toksSql} AS toks FROM $src),
       |g AS (
       |  SELECT doc_id, $pt
       |    CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CASE WHEN len(toks) > 0 THEN
       |      CAST(list_reduce(list_prepend(0, list_transform(toks, x -> length(x))), (a, b) -> a + b) AS DOUBLE)
       |        / CAST(len(toks) AS DOUBLE) END AS avg_tok_len,
       |    CASE WHEN len(toks) > 0 THEN
       |      CAST(len(list_filter(toks, x -> regexp_matches(x, '\\p{L}'))) AS DOUBLE)
       |        / CAST(len(toks) AS DOUBLE) END AS alpha_frac,
       |    CAST(${Stopwords.map(w => s"CAST(list_contains(toks, '$w') AS INT)").mkString(" + ")} AS BIGINT) AS stop_hits
       |  FROM tq)""".stripMargin
  }

  /** The [[gopherRules]] conjunction over the `g` chain's columns. */
  val gopherPassCondSql: String =
    """((n_tokens >= 10 AND n_tokens <= 100000)
      |    AND coalesce(avg_tok_len >= 3.0 AND avg_tok_len <= 10.0, false)
      |    AND coalesce(alpha_frac >= 0.8, false)
      |    AND stop_hits >= 2)""".stripMargin

  /** Per-doc out-of-vocabulary rate against the corpus's exact top-`k`
    * vocabulary (the [[SparkEntry]] q_doc_vocab heavy hitters): fraction
    * of a doc's token OCCURRENCES not covered by the top-k list — the
    * signal a tokenizer-budget or vocab-truncation decision reads.
    *
    * Scale shape: the vocabulary is a grouped count (map-side combinable)
    * followed by TakeOrderedAndProject (per-partition heaps, no global
    * sort) down to k rows — then BROADCAST by construction (k is a
    * constant, never corpus-scale, so this is the one join in the text
    * stack where broadcast is provably safe). Flagging is a narrow
    * broadcast-hash probe per token; the only shuffle is the per-doc
    * roll-up. The token stream is scanned twice (vocab build + probe) —
    * two narrow passes beat materializing a ~30×-corpus exploded stream.
    */
  def oovRate(docs: DataFrame, k: Int = 20): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
    val vocab = tok.groupBy(col("w")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w")).limit(k)
      .select(col("w"), lit(1).as("_v"))
    tok.join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), count(col("_v")).as("n_invocab"))
      .select(col("doc_id"), col("n_tokens"), col("n_invocab"),
        (lit(1.0) - col("n_invocab").cast("double") / col("n_tokens").cast("double"))
          .as("oov_rate"))
  }

  /** Rational term weighting: score = tf · N / df — inverse-df weighting
    * WITHOUT log damping. This is a deliberately distinct (deterministic,
    * cross-engine-exact) ranking, not classic ln-based TF-IDF: with
    * different (tf, df) pairs the two orders can disagree (no ln because
    * transcendental functions aren't bit-identical across engines). Emits
    * each doc's top-scoring term hash. Two shuffles: (doc,term)
    * term-frequency agg + term document-frequency agg; the corpus-size
    * scalar joins in as a 1-row broadcast, never a driver-side action.
    */
  def tfidfTop(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .select(col("doc_id"), stringHash(col("w")).as("h"))
    val tf = tok.groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("tf"))
    // tf already holds exactly one row per (doc, term) — derive document
    // frequency from it instead of re-tokenizing + distinct-shuffling
    val df_ = tf.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("h"))
    tf.join(df_, "h")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", (col("tf") * col("n_docs")).cast("double") / col("df").cast("double"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("h").as("top_term_hash"), col("tf"), col("df"), col("tfidf"))
  }

  /** Conjunctive term search — the inverted-index probe shape. Returns
    * the docs containing EVERY query term, scored by total query-term
    * frequency (the ranking signal a posting-list engine accumulates).
    *
    * Scale: the term filter sits directly on the exploded token stream,
    * so only postings for the |terms| query terms survive the narrow
    * stage — the one shuffle (groupBy doc_id) moves ≤ |terms| · |docs|
    * rows, never the ~corpus-sized token stream. The AND test is
    * `count_distinct(tok) = |terms|` with ≤ |terms| distinct values per
    * group — bounded aggregate state, map-side combinable. No join:
    * a per-term semi-join chain would shuffle the corpus once per term.
    */
  def search(docs: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "search needs at least one term")
    val hits = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .filter(col("tok").isin(terms: _*))
    hits.groupBy(col("doc_id"))
      .agg(count_distinct(col("tok")).as("n_terms"),
        count(lit(1)).as("score"))
      .filter(col("n_terms") === terms.length)
      .select(col("doc_id"), col("score"))
  }

  /** BM25-family ranked retrieval (disjunctive) — the lexical scorer a
    * retrieval pipeline runs next to the embedding kNN: docs matching ≥1
    * query term, scored by Σ_t idf(t) · tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))
    * (Robertson–Walker BM25 saturation, k1=1.2 b=0.75).
    *
    * Two deliberate exactness choices (house oracle discipline — see PMI /
    * Stupid-Backoff): the idf keeps the ODDS form (N−df+0.5)/(df+0.5)
    * rather than its log — `ln` is not bit-identical across engines, while
    * +,−,×,÷ are IEEE-exact, so the odds-idf score is reproducible to the
    * last bit anywhere (per-term it is a monotone transform of classic
    * BM25 idf); and each term's contribution is floored to integer
    * nano-units before the per-doc sum, so the sum is order-independent
    * BIGINT arithmetic, immune to float summation order.
    *
    * Scale shape, same as [[search]]: the term filter rides the exploded
    * token stream, so only postings for the |terms| query terms reach the
    * one shuffle (groupBy doc_id,w); dl travels ON the posting rows (no
    * corpus-side join); df and the corpus stats are ≤|terms|-row and 1-row
    * broadcasts. Nothing corpus-sized moves except the narrow scan.
    */
  def bm25Search(docs: DataFrame, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one term")
    val td = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"), col("toks"))
    val stats = td.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sumdl"))
    val post = td
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("w"))
      .filter(col("w").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("w"))
      .agg(count(lit(1)).as("tf"))
    // one row per (doc, term) → COUNT(*) is the document frequency
    val dfx = post.groupBy(col("w")).agg(count(lit(1)).as("df"))
    post.join(broadcast(dfx), "w")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("sumdl").cast("double") / col("n_docs").cast("double"))
      // operand tree mirrored verbatim in the DuckDB oracle: every op is
      // IEEE-deterministic, so equality is exact, not approximate
      .withColumn("c_nanos", floor(
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) *
          (col("tf") * lit(k1 + 1) /
            (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl")))) *
          lit(1e9)).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("c_nanos")).as("score_odds_nanos"))
  }

  /** Dirichlet-smoothed query-likelihood retrieval (Zhai–Lafferty '01) —
    * the language-modeling leg of the retrieval family next to
    * [[bm25Search]]: score(d, q) = Π_{w∈q} (tf_{w,d} + μ·cf_w/‖C‖) /
    * (dl_d + μ), ranked over the WHOLE corpus — the smoothing is the
    * point: a document containing none of the query terms still scores
    * (all-background), and a short unmatched document legitimately
    * outranks a long one (spec-pinned), which no tf-only scorer can
    * express. The product form IS the ranking (monotone with the usual
    * Σ log spelling) and keeps the arithmetic transcendental-free.
    *
    * Exactness: tf, cf, dl, ‖C‖ are exact integers; each term's ratio
    * is a fixed tree of correctly-rounded double ops, the product folds
    * over the query terms IN GIVEN ORDER (both engines), and the final
    * score quantizes to attos (score ≤ 1 since tf ≤ dl and cf ≤ ‖C‖,
    * so ⌊score·1e18⌋ fits a BIGINT) — floor of engine-identical
    * doubles.
    *
    * Scale shape: the [[bm25Search]] contract — one narrow
    * term-filtered token pass; per-doc term-frequency maps ride the
    * SAME (doc_id, dl)-keyed rows; collection frequencies and ‖C‖ are
    * ≤‖terms‖-row and 1-row broadcasts; the whole-corpus score stage is
    * one co-partitioned left join + narrow math; top-k is a
    * TakeOrderedAndProject single reduce.
    */
  def qlSearch(docs: DataFrame, terms: Seq[String], mu: Double = 2000.0,
      k: Int = 10): DataFrame = {
    require(terms.nonEmpty, "ql needs at least one term")
    val td = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"), col("toks"))
      .localCheckpoint(false)
    val tt = td.agg(sum(col("dl")).as("tt"))
    val qtok = td.select(col("doc_id"), explode(col("toks")).as("w"))
      .filter(col("w").isin(terms: _*))
    val cfm = qtok.groupBy(col("w")).agg(count(lit(1)).as("cf"))
      .agg(map_from_entries(collect_list(struct(col("w"), col("cf")))).as("cfm"))
    val tfm = qtok.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      .groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("w"), col("tf")))).as("tfm"))
    val scored = td.select(col("doc_id"), col("dl"))
      .join(tfm, Seq("doc_id"), "left")
      .crossJoin(broadcast(cfm))
      .crossJoin(broadcast(tt))
    val score = terms.foldLeft(lit(1.0d)) { (acc, t) =>
      acc * ((coalesce(element_at(col("tfm"), lit(t)), lit(0L)).cast("double")
        + lit(mu) * (coalesce(element_at(col("cfm"), lit(t)), lit(0L)).cast("double")
          / col("tt").cast("double")))
        / (col("dl").cast("double") + lit(mu)))
    }
    scored
      .select(col("doc_id"), floor(score * lit(1e18)).cast("long").as("ql_atto"))
      .orderBy(col("ql_atto").desc, col("doc_id")).limit(k)
  }

  /** DuckDB mirror of [[qlSearch]] — the same per-term ratio trees
    * multiplied in the same order, μ and 1e18 interpolated from the
    * SAME Scala doubles.
    */
  def qlSearchSql(terms: Seq[String], mu: Double = 2000.0, k: Int = 10,
      src: String = "documents"): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val joins = terms.zipWithIndex.map { case (t, i) =>
      s"LEFT JOIN (SELECT doc_id, tf FROM qtf WHERE w = '$t') f$i USING (doc_id)"
    }.mkString("\n       |  ")
    val prod = terms.zipWithIndex.map { case (t, i) =>
      s"""((CAST(COALESCE(f$i.tf, 0) AS DOUBLE)
         |      + $mu * (CAST(COALESCE((SELECT cf FROM qcf WHERE w = '$t'), 0) AS DOUBLE)
         |        / CAST(tt AS DOUBLE)))
         |    / (CAST(dl AS DOUBLE) + $mu))""".stripMargin
    }.mkString("\n       |  * ")
    s"""WITH qtd AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks
       |  FROM (SELECT doc_id, ${graft.operators.Dedup.toksSql} AS toks FROM $src) t),
       |qts AS (SELECT SUM(dl) AS tt FROM qtd),
       |qtok AS (
       |  SELECT doc_id, unnest(toks) AS w FROM qtd),
       |qftok AS (SELECT doc_id, w FROM qtok WHERE w IN ($inList)),
       |qcf AS (SELECT w, COUNT(*) AS cf FROM qftok GROUP BY w),
       |qtf AS (SELECT doc_id, w, COUNT(*) AS tf FROM qftok GROUP BY doc_id, w)
       |SELECT doc_id,
       |  CAST(FLOOR(CAST(1.0 AS DOUBLE)
       |  * $prod
       |  * 1.0E18) AS BIGINT) AS ql_atto
       |FROM qtd
       |  $joins
       |  CROSS JOIN qts
       |ORDER BY ql_atto DESC, doc_id LIMIT $k""".stripMargin
  }

  /** Per-(doc, term) BM25 odds-nanos component table over an arbitrary
    * TERM TABLE — [[bm25Search]]'s inner stage with the static IN-list
    * replaced by a broadcast term equi-join, so a DATA-DERIVED query
    * (the RM3 expansion set) prices identically to a literal one: only
    * postings for the ≤‖terms‖ join survivors reach the one shuffle.
    */
  private def bm25PostsFor(td: DataFrame, terms: DataFrame,
      k1: Double, b: Double): DataFrame = {
    val stats = td.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sumdl"))
    val post = td.select(col("doc_id"), col("dl"), explode(col("toks")).as("w"))
      .join(broadcast(terms.select(col("w"))), "w")
      .groupBy(col("doc_id"), col("dl"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val dfx = post.groupBy(col("w")).agg(count(lit(1)).as("df"))
    post.join(broadcast(dfx), "w")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("sumdl").cast("double") / col("n_docs").cast("double"))
      .withColumn("c_nanos", floor(
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) *
          (col("tf") * lit(k1 + 1) /
            (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl")))) *
          lit(1e9)).cast("long"))
      .select(col("doc_id"), col("w"), col("c_nanos"))
  }

  /** RM3 pseudo-relevance feedback (Lavrenko–Croft relevance models,
    * the Anserini/Indri PRF default): run the literal query, take the
    * top `fbDocs` results as PSEUDO-relevant, estimate an expansion
    * term distribution from them — weight(w) = Σ_d P̂(w|d)·score(d),
    * here ⌊tf·1e9/dl⌋ · score_odds_nanos summed in exact
    * DECIMAL(38,0), original terms excluded — keep the top `fbTerms`
    * (weight DESC, term ASC), then score the corpus on the MIXED
    * query: rm3 = α·orig·Σwt + (1−α)·Σ_w wt_w·c_w, with α = alpha10/10
    * spelled as exact integer factors (the Σwt factor puts both mix
    * legs on the same nanos×weight scale, so α keeps its meaning
    * without a float normalization). Docs matching ONLY expansion
    * terms enter through the full-outer mix — recall beyond the
    * literal query's vocabulary, the point of PRF. Top 10 by
    * (rm3 DESC, doc_id ASC).
    *
    * Exactness: every per-term contribution is floored to integer
    * nanos before any sum (order-free BIGINT/DECIMAL arithmetic, the
    * [[bm25Search]] discipline); expansion weights, the mix, and the
    * final scores are exact integers — bit-identical across engines.
    *
    * Scale shape: three passes over the shared tokenized stage (orig
    * postings / feedback-doc TFs / expansion postings), each shuffling
    * only term-filtered postings; the feedback set (≤fbDocs rows), the
    * expansion set (≤fbTerms rows), df tables and corpus stats are all
    * broadcasts; both top-k selections are TakeOrderedAndProject
    * single reduces. Nothing corpus-sized moves except the scans.
    */
  def rm3Search(docs: DataFrame, terms: Seq[String], fbDocs: Int = 10,
      fbTerms: Int = 10, alpha10: Int = 7,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "rm3 needs at least one seed term")
    val dec = "decimal(38,0)"
    val spark = docs.sparkSession
    val td = rm3Td(docs)
    val origScores = rm3OrigScores(td, terms, k1, b)
    // The feedback set (fbDocs rows) and the expansion distribution
    // (fbTerms rows) are CONSTANT-bounded — the bounded-collect
    // contract. Cutting the pipeline at those two points (one job each)
    // replaces the old spelling's three lazy checkpoints, whose toRdd
    // each cost a full driver planning pass AND — under AQE — eagerly
    // executed every upstream stage per construction. The collected
    // integers feed the later stages as literal frames; Σwt is an exact
    // integer sum, summed driver-side in BigInteger (order-free, same
    // value the old s_wt aggregate produced).
    import spark.implicits._
    val fbLit = rm3Fb(origScores, fbDocs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
      .toDF("doc_id", "orig_nanos")
    val expRows = rm3ExpansionFrom(td, fbLit, terms, fbTerms).collect()
    val expLit = spark.createDataFrame(
      spark.sparkContext.parallelize(expRows.toSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("w",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("wt",
          org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)))))
    val sWt = expRows.foldLeft(java.math.BigInteger.ZERO) { (acc, r) =>
      acc.add(r.getDecimal(1).toBigInteger)
    }
    // empty expansion ⇒ SUM(wt) is NULL in both engines' aggregate
    // spelling — preserve that exactly (a 0 here would flip the mix's
    // first leg from NULL to 0 on an empty corpus)
    val sWtLit =
      if (expRows.isEmpty) lit(null).cast(dec)
      else lit(new java.math.BigDecimal(sWt)).cast(dec)
    val expScores = bm25PostsFor(td, expLit, k1, b)
      .join(broadcast(expLit), "w")
      .groupBy(col("doc_id"))
      .agg(sum(col("wt") * col("c_nanos").cast(dec)).as("exp_dec"))
    origScores.join(expScores, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (lit(alpha10).cast(dec) * coalesce(col("orig_nanos"), lit(0L)).cast(dec)
            * sWtLit
          + lit(10 - alpha10).cast(dec)
            * coalesce(col("exp_dec"), lit(0L).cast(dec))).as("rm3_dec"))
      .orderBy(col("rm3_dec").desc, col("doc_id")).limit(10)
      // Output-boundary rule (r13 verdict): the EMITTED column is a
      // canonical digit STRING, never DecimalType — the driver's hash
      // gate canonicalizes a Spark DECIMAL(38,0) and a DuckDB HUGEINT
      // differently (the r11–r13 red set ≡ the decimal-emitting set,
      // 4/4 vs 290/290). Internal math stays exact DECIMAL(38,0); the
      // numeric sort+limit runs BEFORE the cast; scale-0 BigDecimal and
      // HUGEINT both print plain digits.
      .select(col("doc_id"), col("rm3_dec").cast("string").as("rm3_dec"))
  }

  /** [[rm3Search]]'s shared tokenized-corpus stage. */
  private def rm3Td(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"), col("toks"))
      .localCheckpoint(false)

  /** Per-doc exact BM25 odds-nanos for the LITERAL query — rm3's stage-1
    * scores over the whole corpus.
    */
  private def rm3OrigScores(td: DataFrame, terms: Seq[String],
      k1: Double, b: Double): DataFrame = {
    val spark = td.sparkSession
    import spark.implicits._
    bm25PostsFor(td, terms.toDF("w"), k1, b)
      .groupBy(col("doc_id")).agg(sum(col("c_nanos")).as("orig_nanos"))
  }

  /** rm3 stage 3: the expansion-term distribution estimated from the
    * feedback set (weight DESC, term ASC, top fbTerms; seed terms
    * excluded). Returns (w, wt DECIMAL(38,0)).
    */
  private def rm3ExpansionFrom(td: DataFrame, fb: DataFrame,
      terms: Seq[String], fbTerms: Int): DataFrame = {
    val dec = "decimal(38,0)"
    rm3FbTf(td, fb)
      .filter(!col("w").isin(terms: _*))
      // tf·1e9/dl in EXACT integer division: tf and dl are BIGINT counts,
      // so `tf * 1000000000 div dl` is the exact rational floor in both
      // engines — the stage's former `floor(tf * 1e9 / dl)` double
      // quotient was its ONLY non-integer op, and a double floor is not
      // the exact floor in the k−ε corner (the one place two engines'
      // arithmetic could still disagree; two rounds of driver-red
      // localized here by the staged oracles). tf ≤ dl ≤ corpus doc
      // length, so tf·1e9 fits a BIGINT with 9 decimal digits of
      // headroom.
      .select(col("w"), (expr("tf * 1000000000 div dl").cast(dec)
        * col("orig_nanos").cast(dec)).as("contrib"))
      .groupBy(col("w")).agg(sum(col("contrib")).as("wt"))
      .orderBy(col("wt").desc, col("w")).limit(fbTerms)
  }

  /** The feedback cut — top fbDocs by (orig_nanos DESC, doc_id ASC). */
  private def rm3Fb(origScores: DataFrame, fbDocs: Int): DataFrame =
    origScores.orderBy(col("orig_nanos").desc, col("doc_id")).limit(fbDocs)

  /** The expansion stage's INPUT table — per (feedback doc, token):
    * (dl, orig_nanos, w, tf), every value an exact integer or a token
    * string. Shared by [[rm3ExpansionFrom]] and EXPOSED as
    * `q_doc_rm3in` so a driver-side expansion-stage hash mismatch names
    * its differing ROW (the round-12 verdict ask), not just its stage:
    * in red = the feedback join/tokenize/count diverged; in green + exp
    * red = the (now all-integer) weighting arithmetic.
    */
  private def rm3FbTf(td: DataFrame, fb: DataFrame): DataFrame = {
    td.join(broadcast(fb), "doc_id")
      .select(col("dl"), col("orig_nanos"), explode(col("toks")).as("w"))
      .groupBy(col("dl"), col("orig_nanos"), col("w"))
      .agg(count(lit(1)).as("tf"))
  }

  /** [[rm3FbTf]] from the raw corpus — `q_doc_rm3in`'s entry point. */
  def rm3ExpInput(docs: DataFrame, terms: Seq[String], fbDocs: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "rm3 needs at least one seed term")
    val td = rm3Td(docs)
    rm3FbTf(td, rm3Fb(rm3OrigScores(td, terms, k1, b), fbDocs))
  }

  /** [[rm3Search]] stage 2 EXPOSED for the driver's gate — the
    * pseudo-relevance feedback set (top fbDocs by literal BM25,
    * (orig_nanos DESC, doc_id ASC)): `q_doc_rm3fb`. A driver-side rm3
    * hash mismatch now names its stage — fb red means the literal BM25
    * scores or the feedback cut diverged; fb green + rm3 red localizes
    * the fault to the expansion/mix stages.
    */
  def rm3Feedback(docs: DataFrame, terms: Seq[String], fbDocs: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "rm3 needs at least one seed term")
    val td = rm3Td(docs)
    rm3Fb(rm3OrigScores(td, terms, k1, b), fbDocs)
  }

  /** [[rm3Search]] stage 3 EXPOSED for the driver's gate — the expansion
    * term distribution (w, wt): `q_doc_rm3exp`. With `q_doc_rm3fb` this
    * brackets every rm3 intermediate: fb green + exp red → the
    * feedback-TF weighting; both green + rm3 red → the corpus re-score
    * or the final mix.
    */
  def rm3Expansion(docs: DataFrame, terms: Seq[String], fbDocs: Int = 10,
      fbTerms: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "rm3 needs at least one seed term")
    val td = rm3Td(docs)
    rm3ExpansionFrom(td, rm3Fb(rm3OrigScores(td, terms, k1, b), fbDocs),
      terms, fbTerms)
      // output boundary: digit string, not DecimalType (see rm3Search);
      // the wt-DESC sort+limit already ran inside rm3ExpansionFrom
      .select(col("w"), col("wt").cast("string").as("wt"))
  }

  /** DuckDB mirror of [[rm3Search]] — same stages, HUGEINT where the
    * engine rides DECIMAL(38,0), identical operand trees.
    */
  def rm3SearchSql(terms: Seq[String], fbDocs: Int = 10, fbTerms: Int = 10,
      alpha10: Int = 7, k1: Double = 1.2, b: Double = 0.75,
      src: String = "documents"): String =
    s"""WITH ${rm3Ctes(terms, fbDocs, fbTerms, k1, b, src)},
       |mix AS (
       |  SELECT COALESCE(o.doc_id, e.doc_id) AS doc_id,
       |    $alpha10 * CAST(COALESCE(o.orig_nanos, 0) AS HUGEINT) * s_wt
       |      + ${10 - alpha10} * COALESCE(e.exp_dec, 0) AS rm3_num
       |  FROM oscore o FULL OUTER JOIN escore e ON o.doc_id = e.doc_id
       |  CROSS JOIN stot
       |  ORDER BY rm3_num DESC, doc_id LIMIT 10)
       |SELECT doc_id, CAST(rm3_num AS VARCHAR) AS rm3_dec FROM mix""".stripMargin

  /** DuckDB mirror of [[rm3Feedback]] — the SAME CTE chain as
    * [[rm3SearchSql]] (zero drift by construction), read at the fb stage.
    */
  def rm3FeedbackSql(terms: Seq[String], fbDocs: Int = 10, fbTerms: Int = 10,
      k1: Double = 1.2, b: Double = 0.75, src: String = "documents"): String =
    s"""WITH ${rm3Ctes(terms, fbDocs, fbTerms, k1, b, src)}
       |SELECT doc_id, orig_nanos FROM fb""".stripMargin

  /** DuckDB mirror of [[rm3ExpInput]] — the shared chain read at the
    * fbtf stage (the expansion stage's input rows).
    */
  def rm3ExpInputSql(terms: Seq[String], fbDocs: Int = 10, fbTerms: Int = 10,
      k1: Double = 1.2, b: Double = 0.75, src: String = "documents"): String =
    s"""WITH ${rm3Ctes(terms, fbDocs, fbTerms, k1, b, src)}
       |SELECT dl, orig_nanos, w, tf FROM fbtf""".stripMargin

  /** DuckDB mirror of [[rm3Expansion]] — the shared chain read at the
    * exp stage.
    */
  def rm3ExpansionSql(terms: Seq[String], fbDocs: Int = 10, fbTerms: Int = 10,
      k1: Double = 1.2, b: Double = 0.75, src: String = "documents"): String =
    s"""WITH ${rm3Ctes(terms, fbDocs, fbTerms, k1, b, src)}
       |SELECT w, CAST(wt AS VARCHAR) AS wt FROM exp""".stripMargin

  /** The ONE rm3 oracle CTE chain ([[rm3SearchSql]] /  [[rm3FeedbackSql]] /
    * [[rm3ExpansionSql]] all read stages of this same text, so the staged
    * oracles can never drift from the composite).
    */
  private def rm3Ctes(terms: Seq[String], fbDocs: Int, fbTerms: Int,
      k1: Double, b: Double, src: String): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    def cNanos(tf: String, dl: String, df: String) =
      s"""CAST(FLOOR(
         |    (n_docs - $df + 0.5) / ($df + 0.5) *
         |      ($tf * CAST(${k1 + 1} AS DOUBLE) /
         |        ($tf + CAST($k1 AS DOUBLE) * (CAST(${1 - b} AS DOUBLE) + CAST($b AS DOUBLE) * $dl / (CAST(sumdl AS DOUBLE) / CAST(n_docs AS DOUBLE))))) *
         |      1e9) AS BIGINT)""".stripMargin
    s"""tq AS (SELECT doc_id, ${Dedup.toksSql} AS toks FROM $src),
       |td AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM tq),
       |stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sumdl FROM td),
       |opost AS (
       |  SELECT doc_id, dl, w, COUNT(*) AS tf FROM (
       |    SELECT doc_id, dl, unnest(toks) AS w FROM td) t
       |  WHERE w IN ($inList)
       |  GROUP BY doc_id, dl, w),
       |odfx AS (SELECT w, COUNT(*) AS df FROM opost GROUP BY w),
       |oscore AS (
       |  SELECT doc_id, CAST(SUM(${cNanos("tf", "dl", "df")}) AS BIGINT)
       |    AS orig_nanos
       |  FROM opost JOIN odfx USING (w) CROSS JOIN stats
       |  GROUP BY doc_id),
       |fb AS (SELECT doc_id, orig_nanos FROM oscore
       |  ORDER BY orig_nanos DESC, doc_id LIMIT $fbDocs),
       |fbtf AS (
       |  SELECT dl, orig_nanos, w, COUNT(*) AS tf FROM (
       |    SELECT t.dl, f.orig_nanos, unnest(t.toks) AS w
       |    FROM td t JOIN fb f ON t.doc_id = f.doc_id) x
       |  GROUP BY dl, orig_nanos, w),
       |exp AS (
       |  SELECT w, SUM(CAST(tf * 1000000000 // dl AS HUGEINT)
       |      * CAST(orig_nanos AS HUGEINT)) AS wt
       |  FROM fbtf WHERE w NOT IN ($inList)
       |  GROUP BY w ORDER BY wt DESC, w LIMIT $fbTerms),
       |epost AS (
       |  SELECT doc_id, dl, w, COUNT(*) AS tf FROM (
       |    SELECT doc_id, dl, unnest(toks) AS w FROM td) t
       |  WHERE w IN (SELECT w FROM exp)
       |  GROUP BY doc_id, dl, w),
       |edfx AS (SELECT w, COUNT(*) AS df FROM epost GROUP BY w),
       |escore AS (
       |  SELECT doc_id, SUM(e.wt * CAST(${cNanos("tf", "dl", "df")} AS HUGEINT))
       |    AS exp_dec
       |  FROM epost JOIN edfx USING (w) JOIN exp e USING (w) CROSS JOIN stats
       |  GROUP BY doc_id),
       |stot AS (SELECT SUM(wt) AS s_wt FROM exp)""".stripMargin
  }

  /** DuckDB mirror of [[bm25Search]] — same operand tree, constants
    * interpolated from the SAME Scala doubles (shortest-round-trip repr,
    * so the parsed literal is the identical bit pattern).
    */
  def bm25SearchSql(terms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      src: String = "documents"): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH tq AS (SELECT doc_id, ${Dedup.toksSql} AS toks FROM $src),
       |td AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM tq),
       |stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sumdl FROM td),
       |post AS (
       |  SELECT doc_id, dl, w, COUNT(*) AS tf FROM (
       |    SELECT doc_id, dl, unnest(toks) AS w FROM td) t
       |  WHERE w IN ($inList)
       |  GROUP BY doc_id, dl, w),
       |dfx AS (SELECT w, COUNT(*) AS df FROM post GROUP BY w)
       |SELECT doc_id, COUNT(*) AS n_terms,
       |  CAST(SUM(CAST(FLOOR(
       |    (n_docs - df + 0.5) / (df + 0.5) *
       |      (tf * CAST(${k1 + 1} AS DOUBLE) /
       |        (tf + CAST($k1 AS DOUBLE) * (CAST(${1 - b} AS DOUBLE) + CAST($b AS DOUBLE) * dl / (CAST(sumdl AS DOUBLE) / CAST(n_docs AS DOUBLE))))) *
       |      1e9) AS BIGINT)) AS BIGINT) AS score_odds_nanos
       |FROM post JOIN dfx USING (w) CROSS JOIN stats
       |GROUP BY doc_id""".stripMargin
  }

  /** Cross-source shingle containment matrix — the corpus-audit view of
    * "how much of source A's content also appears in source B" (scraped
    * mirrors, syndicated feeds, and re-crawls show up as high off-diagonal
    * containment BEFORE document-level dedup ever runs).
    *
    * containment(a→b) = |shingleSet(a) ∩ shingleSet(b)| / |shingleSet(a)|.
    *
    * Scale: the per-source shingle SET materializes once behind a lazy
    * checkpoint (it feeds both self-join sides AND the denominator); the
    * intersection is an equi-join on the shingle hash — the shuffle key —
    * with SHUFFLE_HASH pinned (post-checkpoint stats are unknown; a
    * broadcast would ship the corpus-sized set). Per-hash join fan is
    * bounded by |sources|² after the distinct. Output ≤ |sources|² rows.
    */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    val sh = docs.select(col("source"),
        explode(graft.expressions.ShingleHashes.shingle_hashes(col("text"))).as("h"))
      .distinct()
      .localCheckpoint(false)
    val denom = sh.groupBy(col("source")).agg(count(lit(1)).as("n_shingles"))
    sh.alias("a")
      .join(sh.alias("b").hint("SHUFFLE_HASH"), col("a.h") === col("b.h"))
      .filter(col("a.source") =!= col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(denom), col("src_a") === col("source"))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_shingles").cast("double"))
          .as("containment"))
  }

  /** DuckDB mirror of [[sourceOverlap]] over table `src`. */
  def sourceOverlapSql(src: String = "documents"): String =
    s"""WITH sh AS (
       |  SELECT source,
       |    ${Dedup.shingleUnnestSql} AS h
       |  FROM (SELECT source, ${Dedup.toksSql} AS toks FROM $src)),
       |ss AS (SELECT DISTINCT source, h FROM sh),
       |denom AS (SELECT source, COUNT(*) AS n_shingles FROM ss GROUP BY source),
       |pairs AS (
       |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
       |  FROM ss a JOIN ss b ON a.h = b.h AND a.source <> b.source
       |  GROUP BY 1, 2)
       |SELECT src_a, src_b, n_shared,
       |  CAST(n_shared AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS containment
       |FROM pairs JOIN denom ON src_a = denom.source""".stripMargin

  /** Benchmark decontamination: training docs that share ANY word-trigram
    * shingle with the held-out eval set (the GPT-3-style n-gram collision
    * check). The eval shingle set is distinct-projected and the flagging
    * join is a semi-join on the shingle hash — the shuffle key — so the
    * work is |shingles|, never |train|×|eval|.
    */
  def contaminated(train: DataFrame, evalSet: DataFrame): DataFrame = {
    // raw shingle streams, not tokenHashes: the per-(doc,h) distinct
    // would add a full extra shuffle per side for nothing — the semi-join
    // tolerates duplicate hashes and the doc set is distinct'd once at
    // the end
    val evalShingles = Dedup.shingles(evalSet).select(col("h")).distinct()
    Dedup.shingles(train)
      .join(evalShingles, Seq("h"), "left_semi")
      .select(col("doc_id")).distinct()
  }

  /** Per-doc contamination REPORT — the graded companion to the binary
    * [[contaminated]] flag: for each training doc, the fraction of its
    * DISTINCT word-trigram shingles that also occur in the held-out eval
    * set, plus a `flagged` verdict at `minFrac`. This is what an eval-
    * decontamination audit actually publishes (PaLM/Llama-style n-gram
    * overlap tables): "doc X overlaps the benchmark on 37% of its
    * trigrams", not just "doc X touched it once".
    *
    * Scale shape: distinct (doc, shingle) projection (one shuffle), then
    * an equi-join on the shingle hash against the distinct eval shingle
    * set — the shuffle key — and one grouped roll-up per doc. The join is
    * SHUFFLE_HASH-hinted: the eval side is usually small but is
    * post-aggregation (stats-blind), and a wrong broadcast choice on a
    * corpus-scale eval set would OOM the driver; the fraction arithmetic
    * is a narrow map. Docs with < 3 tokens have no shingles and no row
    * (same domain as [[contaminated]]).
    */
  def contaminationFraction(train: DataFrame, evalSet: DataFrame,
      minFrac: Double = 0.5): DataFrame = {
    val evalShingles = Dedup.tokenHashes(evalSet)
      .select(col("h")).distinct().select(col("h"), lit(1).as("_hit"))
    Dedup.tokenHashes(train)
      .join(evalShingles.hint("shuffle_hash"), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("_hit")).as("n_hit"))
      .select(col("doc_id"), col("n_shingles"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_shingles").cast("double")).as("contam_frac"),
        (col("n_hit").cast("double") / col("n_shingles").cast("double") >= minFrac)
          .as("flagged"))
  }

  /** Boilerplate signal (C4-style frequent-fragment detection, shingle
    * granularity since this corpus has no line structure): a word-trigram
    * shingle is boilerplate when it appears in at least `minDocs` DISTINCT
    * documents; each doc reports what fraction of its shingle stream is
    * boilerplate — the gate input for "mostly navigation/template" docs.
    *
    * Scale shape: document frequency is one grouped count over the
    * distinct (doc, shingle) set; the flagging join is an equi-join on
    * the shingle hash (the shuffle key), SHUFFLE_HASH-hinted because the
    * boilerplate set is corpus-derived with post-aggregation estimates
    * Catalyst can guess small — a stats-blind broadcast of it would ship
    * a corpus-scale build side. Per-doc roll-up is one more grouped agg.
    * Never |docs|² anywhere.
    */
  def boilerplate(docs: DataFrame, minDocs: Int = 3): DataFrame = {
    val boiler = Dedup.tokenHashes(docs)
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("h"), lit(1).as("_b"))
    Dedup.shingles(docs)
      .join(boiler.hint("shuffle_hash"), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("_b")).as("n_boiler"))
      .select(col("doc_id"), col("n_shingles"), col("n_boiler"),
        (col("n_boiler").cast("double") / col("n_shingles").cast("double"))
          .as("boiler_ratio"))
  }

  /** Intra-document repetition (Gopher-style quality signal): the
    * fraction of word-trigram occurrences that are repeats of an earlier
    * shingle in the same doc. One grouped aggregation over the shingle
    * stream; docs with fewer than 3 tokens have no shingles and no row.
    */
  def repetition(docs: DataFrame): DataFrame =
    Dedup.shingles(docs).groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_shingles"),
      count_distinct(col("h")).as("n_distinct"))
      .select(col("doc_id"), col("n_shingles"), col("n_distinct"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_shingles").cast("double"))
          .as("rep_ratio"))

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD'03 — the MOSS algorithm): over each document's ordered
    * trigram-shingle hash stream, slide a window of `w` consecutive
    * hashes and select the minimum of each window, breaking ties by the
    * RIGHTMOST position; the distinct selected (pos, hash) pairs are the
    * document's fingerprints. Guarantees: any shared run of w+2 tokens
    * between two documents yields at least one shared fingerprint, and
    * expected density is 2/(w+1) — a fixed-rate, position-robust sketch
    * (unlike MinHash, which is order-blind, and SimHash, which is
    * global-per-doc).
    *
    * Implementation: (hash, position) is packed into one BIGINT key —
    * hash < 2^30 (PolyHash mod 1e9+7) in the high bits, bit-flipped
    * position in the low 31 bits — so the rightmost-tie-break argmin is
    * a plain `min` per window, identical in Spark and the DuckDB
    * oracle. Valid window starts are `pos <= n-w` (full windows), plus
    * `pos = 0` when the doc has fewer than w shingles (one truncated
    * window = the whole doc, winnowing's short-doc rule).
    *
    * Scale shape: the ENTIRE selection runs inside one narrow per-row
    * projection ([[winnowKeysNarrow]] over the fused
    * [[graft.expressions.ShingleHashes]] array) — no exploded shingle
    * stream, no per-doc window sort, NO SHUFFLE AT ALL; output bounded
    * at ~2n/(w+1) rows per doc. (The previous ROWS-frame window
    * spelling, kept as [[winnowWindowed]], did O(n) work per doc but
    * shuffled the whole corpus shingle stream to sort it per doc — at
    * corpus scale that exchange dominates the narrow form's O(n·w)
    * lambda work.)
    */
  def winnow(docs: DataFrame, w: Int = 4): DataFrame = {
    val P: Long = 2147483648L // 2^31
    docs.select(col("doc_id"),
        explode(winnowKeysNarrow(col("text"), w)).as("mk"))
      .select(col("doc_id"),
        shiftright(col("mk"), 31).as("h"),
        (lit(P - 1) - col("mk").bitwiseAND(lit(P - 1))).as("pos"))
  }

  /** The per-ROW windowed formulation kept as the semantic cross-check
    * for [[winnowKeysNarrow]] (the [[graft.operators.Dedup
    * .shinglesWindowed]] pattern): one per-doc ROWS-frame window over
    * the exploded shingle stream. This was the production spelling until
    * round 8 — it is O(n) per doc where the narrow form is O(n·w), but
    * it SHUFFLES the whole corpus shingle stream to sort it per doc,
    * and at corpus scale the exchange dominates the w-fold lambda work.
    * WinnowSpec pins row equality between the two.
    */
  def winnowWindowed(docs: DataFrame, w: Int = 4): DataFrame = {
    val P: Long = 2147483648L // 2^31
    val sh = docs
      .select(col("doc_id"),
        graft.expressions.ShingleHashes.shingle_hashes(col("text")).as("hs"))
      .select(col("doc_id"), size(col("hs")).cast("long").as("n"),
        posexplode(col("hs")).as(Seq("pos", "h")))
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(0, w - 1)
    sh.select(col("doc_id"), col("n"), col("pos"),
        (col("h") * P + (lit(P - 1) - col("pos"))).as("key"))
      .withColumn("mk", min(col("key")).over(win))
      .filter(col("pos") <= col("n") - w || (col("n") < w && col("pos") === 0))
      .select(col("doc_id"), col("mk")).distinct()
      .select(col("doc_id"),
        shiftright(col("mk"), 31).as("h"),
        (lit(P - 1) - col("mk").bitwiseAND(lit(P - 1))).as("pos"))
  }

  /** Per-ROW winnow SELECTION: the distinct packed (hash, ~pos) winner
    * keys of every valid window, computed inside one narrow projection
    * (no explode, no per-doc window sort — the corpus-scale exchange the
    * windowed form pays is gone entirely; this is what makes
    * [[winnow]] shuffle-free before its first aggregation). The native
    * fused [[graft.expressions.WinnowKeys]] — O(n) monotonic-deque sliding
    * min, codegen'd — replaces the nested-HOF spelling, which is kept
    * below as [[winnowKeysHof]] (interpreted O(n·w) — measured 10×
    * slower at sf0.1; the native matches the windowed form's wall-clock
    * WITHOUT its corpus-shingle-stream shuffle).
    */
  def winnowKeysNarrow(text: Column, w: Int = 4): Column =
    graft.expressions.WinnowKeys.winnow_keys(text, w)

  /** Higher-order-function cross-check of [[winnowKeysNarrow]] (the
    * [[graft.operators.Similarity.lshBucketHof]] pattern): nested
    * transform/slice/array_min lambdas are CodegenFallback — correct,
    * interpreted per row. Element-wise equality with the native is
    * pinned in WinnowSpec (array_distinct's first-occurrence order
    * equals the native's reign-collapse order).
    */
  def winnowKeysHof(text: Column, w: Int = 4): Column = {
    val P = 2147483648L // 2^31
    val hs = graft.expressions.ShingleHashes.shingle_hashes(text)
    val keys = transform(hs, (h, i) => h * lit(P) + (lit(P - 1) - i))
    val n = size(hs)
    val starts = when(n >= w, sequence(lit(0), n - lit(w)))
      .when(n > 0, array(lit(0)))
      .otherwise(array().cast("array<int>"))
    array_distinct(transform(starts, s => array_min(slice(keys, s + 1, lit(w)))))
  }

  /** Bigram-surprisal quality score — the self-trained language-model
    * proxy of the CCNet perplexity filter: the corpus's own bigram and
    * unigram counts stand in for the LM, and each doc is scored by the
    * mean conditional surprisal of its bigram stream. Low scores ≈
    * repetitive/templated text, high scores ≈ rare or garbled token
    * transitions; the middle band is typical prose — the same filter
    * shape as training perplexity gates, with no external model.
    *
    * Surprisal is QUANTIZED to bit lengths: s(t1 t2) = bitlen(c(t1)) −
    * bitlen(c(t1 t2)) ≈ −log₂ P(t2|t1) rounded structurally. This is
    * deliberate, not a shortcut: per-doc totals are then exact INTEGER
    * sums — order-independent under Spark's unordered shuffle reduce
    * and bit-identical to the DuckDB oracle (a float Σ log p would be
    * neither), with one final exact division per doc for the mean.
    * bitlen = length(bin(c)) — pure string ops, identical both engines.
    *
    * Scale shape: counts are two grouped aggs with map-side partials;
    * the probe joins are equi-joins on the bigram/unigram string with
    * shuffle-hash hints (count tables are corpus-derived — a
    * stats-blind broadcast would ship the vocabulary); one roll-up
    * shuffle per doc. Nothing is all-pairs, state is bounded by the
    * vocabulary, not the corpus.
    */
  def surprisal(docs: DataFrame): DataFrame = {
    val tk = docs.select(col("doc_id"), tokens(col("text")).as("tk"))
    val pairs = tk.select(col("doc_id"), explode(expr(
        "transform(slice(tk, 1, greatest(size(tk) - 1, 0)), (t, i) -> struct(t AS w, concat(t, ' ', tk[i + 1]) AS bg))")).as("p"))
      .select(col("doc_id"), col("p.w").as("w"), col("p.bg").as("bg"))
    val uni = tk.select(explode(col("tk")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val big = pairs.groupBy(col("bg")).agg(count(lit(1)).as("cb"))
    pairs
      .join(big.hint("shuffle_hash"), Seq("bg"))
      .join(uni.hint("shuffle_hash"), Seq("w"))
      .select(col("doc_id"),
        (length(bin(col("cw"))) - length(bin(col("cb")))).cast("long").as("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("s")).as("total_surprisal"))
      .select(col("doc_id"), col("n_bigrams"), col("total_surprisal"),
        (col("total_surprisal").cast("double") / col("n_bigrams").cast("double"))
          .as("mean_surprisal"))
  }

  /** PMI collocation mining — the vocab-induction signal behind BPE merge
    * candidates and multi-word-expression detection: adjacent token pairs
    * ranked by pointwise mutual information, i.e. how much more often the
    * pair co-occurs than its parts predict. The monotone integer-ratio
    * core N·c(ab) / (c(a)·c(b)) replaces the log (ranking is unchanged;
    * log is monotone): both products are exact integers < 2^53, so the
    * one double division is correctly rounded and IDENTICAL cross-engine
    * — no transcendental in sight. `minCount` suppresses the classic PMI
    * rare-pair degeneracy (a hapax pair scores N/1).
    *
    * Scale shape: two grouped counts (map-side combinable, state bounded
    * by vocabulary), shuffle-hash probes of the unigram table (never a
    * vocab broadcast), 1-row N broadcast, TakeOrderedAndProject top-k
    * (per-partition heaps — no global sort). At 100 TB promote the
    * integer products to DECIMAL before the divide (N·c(ab) can pass
    * 2^53 there); at these SFs longs are exact.
    */
  def collocations(docs: DataFrame, minCount: Long = 5, k: Int = 25): DataFrame = {
    val tk = docs.select(col("doc_id"), tokens(col("text")).as("tk"))
    val uni = tk.select(explode(col("tk")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val n = tk.select(explode(col("tk")).as("w")).agg(count(lit(1)).as("nt"))
    tk.select(explode(expr(
        "transform(slice(tk, 1, greatest(size(tk) - 1, 0)), (t, i) -> " +
        "struct(t AS w1, tk[i + 1] AS w2))")).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= minCount)
      .join(uni.select(col("w").as("w1"), col("c").as("ca")).hint("shuffle_hash"),
        Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("cb")).hint("shuffle_hash"),
        Seq("w2"))
      .crossJoin(broadcast(n))
      .withColumn("pmi_ratio", pmiRatio(col("nt"), col("cab"), col("ca"), col("cb")))
      .orderBy(col("pmi_ratio").desc, col("w1"), col("w2"))
      .limit(k)
      .select(col("w1"), col("w2"), col("cab"), col("pmi_ratio"))
  }

  /** PMI count ratio with the integer products in DECIMAL(38,0) — the
    * wide-integer discipline every sibling op follows, ENFORCED rather
    * than documented: at 100-TB token counts nt·cab and ca·cb pass 2^63
    * (nt alone is ~10^13; a stopword-pair ca·cb is ~10^26), where a
    * BIGINT product silently wraps and reorders the top-k. DECIMAL
    * products are exact to 38 digits; the one division happens in
    * double, mirroring DuckDB's HUGEINT→DOUBLE path (CollocationSpec
    * pins a planted overflow row against a BigDecimal reference).
    */
  private[graft] def pmiRatio(nt: Column, cab: Column, ca: Column,
      cb: Column): Column =
    (nt.cast("decimal(38,0)") * cab).cast("double") /
      (ca.cast("decimal(38,0)") * cb).cast("double")

  /** Stupid-Backoff bigram LM score (Brants et al., EMNLP'07 "Large
    * Language Models in Machine Translation" — the backoff score built FOR
    * distributed count infrastructure: no discounting normalization, so
    * every term is a pure count ratio). Unlike [[surprisal]] (self-trained,
    * so every bigram is "seen"), the model here trains on the even-doc_id
    * HALF of the corpus and scores every doc, so held-out docs genuinely
    * hit the backoff path:
    *   S(w2|w1) = cb(w1 w2) / c1(w1)            if the bigram was seen
    *            = 0.4 · c1(w2) / N              otherwise (α=0.4=2/5)
    * with an unseen-unigram floor c1(w2):=1. The per-doc backoff_frac is
    * itself the novelty signal: how much of a doc the reference LM has
    * never seen.
    *
    * Same integer-quantization discipline as [[surprisal]]: log₂ of each
    * ratio is quantized to bit lengths — seen: bitlen(cb)−bitlen(c1(w1));
    * backoff: bitlen(2·c1(w2))−bitlen(5·N) — so per-doc totals are exact
    * INTEGER sums, order-independent under shuffle reduce and
    * bit-identical cross-engine (a float Σ log would be neither).
    *
    * Scale shape: train-side counts are two grouped aggs (state bounded
    * by the vocabulary); probes are equi-joins with shuffle-hash hints
    * (count tables are corpus-derived — never broadcast the vocabulary);
    * N is a 1-row broadcast; one per-doc roll-up shuffle. At 100 TB the
    * count tables are exactly the sharded LM servers of the paper, here
    * as shuffle partitions.
    */
  def stupidBackoff(docs: DataFrame): DataFrame = {
    val tk = docs.select(col("doc_id"), tokens(col("text")).as("tk"))
    def bigramsOf(d: DataFrame) = d.select(col("doc_id"), explode(expr(
        "transform(slice(tk, 1, greatest(size(tk) - 1, 0)), (t, i) -> " +
        "struct(t AS w1, tk[i + 1] AS w2, concat(t, ' ', tk[i + 1]) AS bg))")).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"),
        col("p.bg").as("bg"))
    val train = tk.filter(col("doc_id") % 2 === 0)
    val uniT = train.select(explode(col("tk")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val bigT = bigramsOf(train).groupBy(col("bg")).agg(count(lit(1)).as("cb"))
    val nTot = train.select(explode(col("tk")).as("w")).agg(count(lit(1)).as("nt"))
    val bitlen = (c: Column) => length(bin(c))
    bigramsOf(tk)
      .join(bigT.hint("shuffle_hash"), Seq("bg"), "left")
      .join(uniT.hint("shuffle_hash").select(col("w").as("w1"), col("cw").as("cw1")),
        Seq("w1"), "left")
      .join(uniT.hint("shuffle_hash").select(col("w").as("w2"), col("cw").as("cw2")),
        Seq("w2"), "left")
      .crossJoin(broadcast(nTot))
      .select(col("doc_id"), col("cb").isNull.as("backoff"),
        // seen bigram ⇒ cw1 is present (the bigram's own occurrences count)
        when(col("cb").isNotNull, bitlen(col("cb")) - bitlen(col("cw1")))
          .otherwise(bitlen(coalesce(col("cw2"), lit(1L)) * 2) - bitlen(col("nt") * 5))
          .cast("long").as("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        count(when(col("backoff"), 1)).as("n_backoff"),
        sum(col("s")).as("total_sb"))
      .select(col("doc_id"), col("n_bigrams"), col("n_backoff"), col("total_sb"),
        (col("n_backoff").cast("double") / col("n_bigrams").cast("double"))
          .as("backoff_frac"),
        (col("total_sb").cast("double") / col("n_bigrams").cast("double"))
          .as("mean_sb"))
  }

  /** Vocabulary coverage curve — the tokenizer-sizing read-out: what
    * share of ALL token occurrences the top-k most frequent types cover,
    * for each k. The curve's knee is where growing the vocabulary stops
    * paying; the gap to 1.0 at the chosen k is the OOV mass a
    * fixed-vocab tokenizer will shatter into fallback pieces.
    *
    * Exactness: covered/total are integer sums; coverage is one double
    * division. Deterministic (count desc, token) ranking.
    *
    * Scale: token counts are a vocabulary-bounded grouped agg; the
    * top-kmax table comes from orderBy+limit (TakeOrderedAndProject —
    * per-partition heaps, no global sort of a web-scale vocabulary),
    * the rank window then runs on ≤ kmax rows, and the k-thresholds
    * join is a ≤ |ks|·kmax-row broadcast nested loop. Output = |ks| rows.
    */
  def vocabCoverage(docs: DataFrame, ks: Seq[Int] = Seq(10, 100, 1000)): DataFrame = {
    require(ks.nonEmpty, "vocabCoverage needs at least one k")
    val counts = docs.select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("total_tokens"),
      count(lit(1)).cast("long").as("n_vocab"))
    val w = Window.orderBy(col("n").desc, col("w"))
    val ranked = counts.orderBy(col("n").desc, col("w")).limit(ks.max)
      .withColumn("rank", row_number().over(w).cast("long"))
    val session = docs.sparkSession
    import session.implicits._
    val kTable = ks.map(_.toLong).toDF("k")
    broadcast(kTable).join(ranked, col("rank") <= col("k"))
      .groupBy(col("k")).agg(sum(col("n")).as("covered"))
      .crossJoin(broadcast(total))
      .select(col("k"), col("covered"), col("total_tokens"), col("n_vocab"),
        (col("covered").cast("double") / col("total_tokens").cast("double")).as("coverage"))
  }

  /** DuckDB mirror of [[vocabCoverage]] over table `src`. */
  def vocabCoverageSql(ks: Seq[Int] = Seq(10, 100, 1000),
      src: String = "documents"): String =
    s"""WITH counts AS (
       |  SELECT w, COUNT(*) AS n
       |  FROM (SELECT unnest(${Dedup.toksSql}) AS w FROM $src) t
       |  GROUP BY w),
       |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total_tokens,
       |  CAST(COUNT(*) AS BIGINT) AS n_vocab FROM counts),
       |ranked AS (
       |  SELECT n, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, w) AS BIGINT) AS rank
       |  FROM counts QUALIFY rank <= ${ks.max}),
       |ks AS (SELECT CAST(unnest([${ks.mkString(", ")}]) AS BIGINT) AS k)
       |SELECT k, CAST(SUM(n) AS BIGINT) AS covered, total_tokens, n_vocab,
       |  CAST(SUM(n) AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS coverage
       |FROM ks JOIN ranked ON rank <= k CROSS JOIN tot
       |GROUP BY k, total_tokens, n_vocab""".stripMargin

  /** CCNet-style LM bucketing (Wenzek et al., LREC'20): held-out docs
    * split into head/middle/tail by per-language TERCILES of their
    * [[stupidBackoff]] score — the standard perplexity-based curation
    * move (train on head, sample middle, drop or inspect tail). Score is
    * a mean log-prob, so HIGHER = more model-like = head; terciles are
    * computed per language because LM scores aren't comparable across
    * languages (the same argument as the quality CDF calibration).
    *
    * Two-pass gate shape, same as the quality filter: exact `percentile`
    * per language (partial state = value→count map; swap in
    * `percentile_approx` at extreme scale), thresholds broadcast back —
    * no window over corpus-scale language partitions, which would be the
    * skew bomb here. Lang rides a shuffle-hash id join (corpus side
    * never broadcast).
    */
  def perplexityBuckets(docs: DataFrame): DataFrame = {
    val heldOut = stupidBackoff(docs).filter(col("doc_id") % 2 === 1)
      .join(docs.select(col("doc_id"), col("lang")).hint("shuffle_hash"), "doc_id")
    val th = heldOut.groupBy(col("lang"))
      .agg(percentile(col("mean_sb"), lit(1.0 / 3)).as("t1"),
        percentile(col("mean_sb"), lit(2.0 / 3)).as("t2"))
    heldOut.join(broadcast(th), "lang")
      .select(col("doc_id"), col("lang"), col("mean_sb"),
        when(col("mean_sb") >= col("t2"), "head")
          .when(col("mean_sb") >= col("t1"), "middle")
          .otherwise("tail").as("bucket"),
        col("t1"), col("t2"))
  }

  /** DSIR-style importance weight (Xie et al., NeurIPS'23 "Data Selection
    * for Language Models via Importance Resampling"): score each doc by
    * how much more likely its tokens are under the TARGET domain's
    * unigram model than under the whole corpus's — here the target is a
    * language slice, standing in for "high-quality domain". Docs scoring
    * high are the ones importance resampling would keep when curating
    * toward the target distribution.
    *
    * Same integer-quantization discipline as [[surprisal]]: the
    * per-token log-ratio is bitlen(c_target(w)+1) − bitlen(c_all(w)+1)
    * (+1 = add-one smoothing, so target-unseen words score strongly
    * negative instead of crashing a log). Per-doc totals are exact
    * integer sums — order-independent under shuffle reduce and
    * bit-identical cross-engine; the normalization constant
    * log(N_all/N_target) is a per-corpus shift that cancels in ranking.
    *
    * Scale shape: two grouped count aggs (map-side partials, state
    * bounded by the vocabulary); probe joins are equi-joins on the word
    * with shuffle-hash hints (count tables are corpus-derived — a
    * stats-blind broadcast would ship the vocabulary); one per-doc
    * roll-up shuffle. Never |docs|².
    */
  def dsirWeights(docs: DataFrame, targetLang: String = "en"): DataFrame = {
    val toks = docs
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("w"))
    val all = toks.groupBy(col("w")).agg(count(lit(1)).as("ca"))
    val tgt = toks.filter(col("lang") === targetLang)
      .groupBy(col("w")).agg(count(lit(1)).as("ct"))
    toks
      .join(all.hint("shuffle_hash"), Seq("w"))
      .join(tgt.hint("shuffle_hash"), Seq("w"), "left")
      .select(col("doc_id"),
        (length(bin(coalesce(col("ct"), lit(0L)) + 1)) - length(bin(col("ca") + 1)))
          .cast("long").as("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("s")).as("total_logratio"))
      .select(col("doc_id"), col("n_tokens"), col("total_logratio"),
        (col("total_logratio").cast("double") / col("n_tokens").cast("double"))
          .as("mean_logratio"))
  }

  /** Gopher's "fraction of the doc covered by its top n-gram" repetition
    * signal (Rae et al. 2021, table A1 — top-2-gram char fraction):
    * templated/spammy text concentrates its mass in one repeated bigram.
    * Per doc: the most frequent word-bigram (ties → lexicographically
    * larger, via struct-max — identical rule both engines), its share of
    * all bigram occurrences, and the fraction of the doc's characters its
    * occurrences cover.
    *
    * Scale shape: per-(doc, bigram) count then per-doc roll-up — two
    * grouped aggs with map-side partials, no joins, no windows; the
    * struct-max partial state is O(1) per group. Docs with <2 tokens
    * have no bigrams and no row (same rule as [[repetition]]).
    */
  def topNgramFraction(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("n_chars"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("n_chars"), explode(expr(
        "transform(slice(tk, 1, greatest(size(tk) - 1, 0)), (t, i) -> concat(t, ' ', tk[i + 1]))")).as("bg"))
      .groupBy(col("doc_id"), col("n_chars"), col("bg"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bigrams"),
        max(struct(col("cnt"), col("bg"))).as("top"),
        max(col("n_chars")).as("nc"))
      .select(col("doc_id"), col("n_bigrams"),
        col("top.bg").as("top_bigram"), col("top.cnt").as("top_cnt"),
        (col("top.cnt").cast("double") / col("n_bigrams").cast("double"))
          .as("top_frac"),
        (col("top.cnt").cast("double") * length(col("top.bg")).cast("double") /
          col("nc").cast("double")).as("top_char_frac"))

  /** End-of-word marker symbol for [[bpeMerges]] (Sennrich'16's `</w>`):
    * distinguishes "est" word-internally from "est" at a word boundary,
    * so merges learn suffixes as their own symbols.
    */
  val BpeEndMark = "</w>"

  /** BPE merge training (Sennrich, Haddow & Birch, ACL'16, "Neural
    * Machine Translation of Rare Words with Subword Units") — the
    * tokenizer-induction step between the merge-candidate signal
    * ([[collocations]]' PMI) and the sizing read-out ([[vocabCoverage]]):
    * k rounds of most-frequent-adjacent-pair merge over the corpus's
    * word-frequency dictionary. Output: the learned merge table
    * (merge_round, lhs, rhs, pair_count, new_sym) — the artifact a
    * subword tokenizer ships.
    *
    * Exactly the reference algorithm, in its distributed form:
    *  - words start as character sequences + [[BpeEndMark]];
    *  - pair counts weight every ADJACENT symbol pair by word frequency
    *    (overlapping adjacencies counted, as in the paper's `get_stats`);
    *  - the argmax pair merges greedily left-to-right, non-overlapping
    *    (the paper's regex-replace semantics), spelled as a sequential
    *    fold over the symbol list — identical lambda in the DuckDB
    *    mirror's `list_reduce`;
    *  - ties break (count desc, lhs asc, rhs asc) — binary string order
    *    in both engines, so the merge SEQUENCE is deterministic.
    *
    * Scale shape: the corpus is touched ONCE (the word-count pass —
    * explode + one grouped count with map-side partials); the dictionary
    * is vocabulary-bounded and further capped to the `maxWords` most
    * frequent words via TakeOrderedAndProject (per-partition heaps, the
    * standard BPE practice of training on a frequency-truncated dict).
    * Each round is then one grouped agg over the ≤ maxWords dictionary,
    * a ONE-row broadcast of the argmax pair, and a narrow re-tokenize —
    * k rounds cost k tiny shuffles, independent of corpus size.
    */
  def bpeMerges(docs: DataFrame, merges: Int = 8,
      maxWords: Int = 50000): DataFrame =
    bpeTrain(docs, merges, maxWords)._1.reduce(_.union(_))

  /** The shared training loop: returns (per-round merge rows, FINAL
    * symbol dictionary (word, freq, syms)) so [[bpeMerges]] and
    * [[bpeSegment]] run one loop, not two.
    */
  private def bpeTrain(docs: DataFrame, merges: Int,
      maxWords: Int): (Seq[DataFrame], DataFrame) = {
    val wf = docs.select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word")).limit(maxWords)
    var words = wf.select(col("word"), col("freq"),
        concat(split(col("word"), ""), array(lit(BpeEndMark))).as("syms"))
      .localCheckpoint(false)
    val rounds = (1 to merges).map { i =>
      val pairs = words
        .select(col("freq"), explode(expr(
          "transform(slice(syms, 1, size(syms)-1), (s, i) -> struct(s AS l, syms[i+1] AS r))"))
          .as("p"))
        .groupBy(col("p.l").as("lhs"), col("p.r").as("rhs"))
        .agg(sum(col("freq")).as("pair_count"))
      // deterministic argmax: TakeOrderedAndProject, then a 1-row
      // broadcast — the one derived-table broadcast that is always safe
      val best = pairs
        .orderBy(col("pair_count").desc, col("lhs"), col("rhs")).limit(1)
        .localCheckpoint(false)
      // greedy left-to-right non-overlapping merge: fold the symbol list
      // into a space-joined string; gluing happens by appending rhs
      // WITHOUT the separator when the accumulated last symbol is lhs.
      // A just-merged symbol can never re-match as lhs (lhs+rhs != lhs),
      // which is exactly the non-overlap rule.
      words = words.crossJoin(broadcast(best))
        .select(col("word"), col("freq"),
          split(aggregate(
            expr("slice(syms, 2, size(syms)-1)"),
            element_at(col("syms"), 1),
            (acc, s) => when(s === col("rhs") &&
                (acc === col("lhs") ||
                  acc.endsWith(concat(lit(" "), col("lhs")))),
              concat(acc, s)).otherwise(concat(acc, lit(" "), s))),
            " ").as("syms"))
        .localCheckpoint(false)
      best.select(lit(i.toLong).as("merge_round"), col("lhs"), col("rhs"),
        col("pair_count"), concat(col("lhs"), col("rhs")).as("new_sym"))
    }
    (rounds, words)
  }

  /** Memoized FINAL BPE dictionary (word → subword count) per
    * (session, dir) — the trained-tokenizer artifact, served frozen
    * like the k-means centroids and PQ codebooks: four queries
    * (q_doc_bpe_encode / bpepack / bpepackstats, plus any future
    * tokenizer-cost consumer) each need the trained segmentation, and a
    * real pipeline trains the tokenizer ONCE. The per-round merge
    * table (q_doc_bpe) keeps its own training run because it reads the
    * ROUNDS, not the final dict.
    */
  def bpeDictFor(docs: DataFrame, dir: String, merges: Int = 8,
      maxWords: Int = 50000): DataFrame =
    StageMemo.stage(Owner, docs.sparkSession, dir, s"bpedict|$merges|$maxWords")(
      bpeTrain(docs, merges, maxWords)._2
        .select(col("word"), size(col("syms")).as("n_sub")))

  /** Drop the memoized dictionary (corpus-regeneration lifecycle, same
    * contract as the sibling memos).
    */
  def clearMemos(): Unit = StageMemo.clear(Owner)

  /** BPE APPLY + fertility audit — the read-out side of [[bpeMerges]]:
    * segment every document under the trained merge table and report,
    * per doc, word count, subword count, and fertility (subwords/word —
    * THE tokenizer-quality number; multilingual-tokenizer papers report
    * exactly this to show which languages a vocab shortchanges). A word
    * in the trained dictionary costs its final symbol count; a word
    * outside it (possible only under the `maxWords` cap) falls back to
    * characters + end-marker (`length+1`) — the conservative no-merge
    * segmentation, spec-pinned.
    *
    * Scale shape: the training loop's cost story ([[bpeMerges]]); the
    * apply is ONE corpus token pass joined to the ≤ maxWords dictionary
    * (shuffle-hash — the dictionary is corpus-derived) and one per-doc
    * grouped agg with map-side partials. Output: one row per non-empty
    * doc.
    */
  def bpeSegment(docs: DataFrame, merges: Int = 8,
      maxWords: Int = 50000, dictOpt: Option[DataFrame] = None): DataFrame = {
    val dict = dictOpt.getOrElse(bpeTrain(docs, merges, maxWords)._2
      .select(col("word"), size(col("syms")).as("n_sub")))
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .join(dict.hint("shuffle_hash"), Seq("word"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(coalesce(col("n_sub"), length(col("word")) + lit(1)))
          .cast("long").as("n_subwords"))
      .select(col("doc_id"), col("n_words"), col("n_subwords"),
        (col("n_subwords").cast("double") / col("n_words").cast("double"))
          .as("fertility"))
  }

  /** Per-LANGUAGE tokenizer-equity audit over the trained BPE dictionary
    * — the aggregate read-out the per-doc [[bpeSegment]] feeds: for each
    * lang, occurrence-weighted fertility (subwords/word), compression
    * (chars/subword), and the OOV-fallback rate (permille of word
    * occurrences outside the trained dictionary, costed at chars+1).
    * This is THE multilingual-tokenizer fairness table (a lang at 2×
    * another's fertility pays 2× the context budget for the same text;
    * a high OOV permille says the `maxWords` training cap shortchanged
    * that lang's vocabulary) — computed against the SAME memoized
    * dictionary artifact every BPE consumer serves, so the audit grades
    * the tokenizer that actually runs.
    *
    * Scale shape: identical to [[bpeSegment]] (one corpus token pass,
    * shuffle-hash join to the ≤ maxWords dictionary) with the grouped
    * agg keyed by lang instead of doc — map-side partials collapse each
    * partition to |langs| rows; output ≤ |langs|.
    */
  def fertilityByLang(docs: DataFrame, merges: Int = 8,
      maxWords: Int = 50000, dictOpt: Option[DataFrame] = None): DataFrame = {
    val dict = dictOpt.getOrElse(bpeTrain(docs, merges, maxWords)._2
      .select(col("word"), size(col("syms")).as("n_sub")))
    docs.select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("word"))
      .join(dict.hint("shuffle_hash"), Seq("word"), "left")
      .groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_words"),
        sum(coalesce(col("n_sub"), length(col("word")) + lit(1)))
          .cast("long").as("n_subwords"),
        sum(length(col("word")).cast("long")).as("n_chars"),
        sum(when(col("n_sub").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_subwords"),
        col("n_oov"),
        (col("n_subwords").cast("double") / col("n_words").cast("double"))
          .as("fertility"),
        (col("n_chars").cast("double") / col("n_subwords").cast("double"))
          .as("chars_per_subword"),
        expr("n_oov * 1000 div n_words").as("oov_permille"))
  }

  /** DuckDB mirror of [[fertilityByLang]] over the shared [[bpeCtes]]
    * trained chain.
    */
  def fertilityByLangSql(merges: Int = 8, maxWords: Int = 50000,
      src: String = "documents"): String =
    s"""WITH ${bpeCtes(merges, maxWords, src)},
       |dict AS (SELECT word, len(syms) AS n_sub FROM w$merges),
       |ftk AS (
       |  SELECT doc_id, lang, unnest(toks) AS word
       |  FROM (SELECT doc_id, lang, ${Dedup.toksSql} AS toks FROM $src))
       |SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(COALESCE(n_sub, length(word) + 1)) AS BIGINT) AS n_subwords,
       |  CAST(SUM(CASE WHEN n_sub IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |  CAST(SUM(COALESCE(n_sub, length(word) + 1)) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS fertility,
       |  CAST(SUM(length(word)) AS DOUBLE)
       |    / CAST(SUM(COALESCE(n_sub, length(word) + 1)) AS DOUBLE) AS chars_per_subword,
       |  CAST(SUM(CASE WHEN n_sub IS NULL THEN 1 ELSE 0 END) * 1000
       |    // COUNT(*) AS BIGINT) AS oov_permille
       |FROM ftk LEFT JOIN dict USING (word)
       |GROUP BY lang""".stripMargin

  // ---- DuckDB oracle mirrors ---------------------------------------------

  /** The [[bpeMerges]] mirror's CTE chain alone (wf, w0..w<merges> with
    * per-round b<i> argmax tables), shared by the q_doc_bpe and
    * q_doc_bpe_encode oracles so the trained chain cannot drift.
    */
  def bpeCtes(merges: Int = 8, maxWords: Int = 50000,
      src: String = "documents"): String = {
    val rounds = (1 to merges).map { i =>
      s"""p$i AS (
         |  SELECT l, r, CAST(SUM(freq) AS BIGINT) AS pair_count FROM (
         |    SELECT freq, unnest(list_transform(range(1, len(syms)),
         |      x -> {'l': syms[x], 'r': syms[x+1]}), recursive := true)
         |    FROM w${i - 1})
         |  GROUP BY l, r),
         |b$i AS (SELECT l, r, pair_count FROM p$i
         |        ORDER BY pair_count DESC, l, r LIMIT 1),
         |w$i AS (
         |  SELECT word, freq,
         |    string_split(list_reduce(syms, (acc, s) -> CASE
         |      WHEN s = r AND (acc = l OR ends_with(acc, ' ' || l))
         |      THEN acc || s ELSE acc || ' ' || s END), ' ') AS syms
         |  FROM w${i - 1} CROSS JOIN b$i)""".stripMargin
    }.mkString(",\n")
    s"""wf AS (
       |  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(${Dedup.toksSql}) AS w FROM $src)
       |  GROUP BY w ORDER BY freq DESC, w LIMIT $maxWords),
       |w0 AS (SELECT word, freq,
       |       list_append(string_split(word, ''), '$BpeEndMark') AS syms
       |       FROM wf),
       |$rounds""".stripMargin
  }

  /** DuckDB mirror of [[bpeMerges]]: k unrolled count→argmax→re-tokenize
    * rounds over `src`, `list_reduce` spelling the same greedy fold.
    */
  def bpeSql(merges: Int = 8, maxWords: Int = 50000,
      src: String = "documents"): String = {
    val out = (1 to merges).map(i =>
      s"""SELECT CAST($i AS BIGINT) AS merge_round, l AS lhs, r AS rhs,
         |    pair_count, l || r AS new_sym FROM b$i""".stripMargin)
      .mkString("\n  UNION ALL\n  ")
    s"""WITH ${bpeCtes(merges, maxWords, src)}
       |$out""".stripMargin
  }

  /** DuckDB mirror of [[bpeSegment]] over the shared [[bpeCtes]] chain. */
  def bpeSegmentSql(merges: Int = 8, maxWords: Int = 50000,
      src: String = "documents"): String =
    s"""WITH ${bpeCtes(merges, maxWords, src)},
       |dict AS (SELECT word, len(syms) AS n_sub FROM w$merges),
       |btk AS (
       |  SELECT doc_id, unnest(toks) AS word
       |  FROM (SELECT doc_id, ${Dedup.toksSql} AS toks FROM $src))
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(COALESCE(n_sub, length(word) + 1)) AS BIGINT) AS n_subwords,
       |  CAST(SUM(COALESCE(n_sub, length(word) + 1)) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS fertility
       |FROM btk LEFT JOIN dict USING (word)
       |GROUP BY doc_id""".stripMargin


  /** DuckDB mirror of [[winnow]] over `src` as a CTE chain ending in
    * `wsel` (doc_id, mk) — `mk` is the packed (hash, ~pos) winner key;
    * consumers unpack `mk // 2^31` (hash) and `2^31-1 - mk % 2^31`
    * (position). Shared by the q_doc_winnow and q_dedup_winnow oracles
    * so the selection logic cannot drift between mirrors.
    */
  def winnowSqlChain(src: String): String =
    s"""wsh AS (
       |  SELECT doc_id, len(toks) - 2 AS n,
       |    unnest(list_transform(range(1, len(toks) - 1), i -> {'pos': i - 1,
       |      'h': ${graft.operators.Dedup.hashSql("toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]")}}),
       |      recursive := true)
       |  FROM (SELECT doc_id, ${graft.operators.Dedup.toksSql} AS toks FROM $src)),
       |wkeyed AS (
       |  SELECT doc_id, n, pos, h * 2147483648 + (2147483647 - pos) AS key FROM wsh),
       |wwins AS (
       |  SELECT doc_id, n, pos,
       |    min(key) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mk
       |  FROM wkeyed),
       |wsel AS (
       |  SELECT DISTINCT doc_id, mk FROM wwins
       |  WHERE pos <= n - 4 OR (n < 4 AND pos = 0))""".stripMargin

  /** Shared winnow-CANDIDATE-pair chain (→ `wpair(doc_a, doc_b,
    * n_shared)`): [[winnowSqlChain]] + distinct fingerprints + df cap +
    * pair join — ONE copy of [[graft.operators.Dedup.winnowPairs]]'
    * selection rule for the q_dedup_winnow and q_dedup_contain oracles,
    * so the candidate set cannot drift between mirrors.
    */
  def winnowPairSqlChain(src: String, minShared: Int = 2, maxDf: Int = 20): String =
    s"""${winnowSqlChain(src)},
       |fp AS (SELECT DISTINCT doc_id, mk // 2147483648 AS h FROM wsel),
       |dfc AS (SELECT h FROM fp GROUP BY h HAVING COUNT(*) <= $maxDf),
       |kept AS (SELECT fp.doc_id, fp.h FROM fp JOIN dfc ON fp.h = dfc.h),
       |wpair AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
       |  FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |  HAVING COUNT(*) >= $minShared)""".stripMargin

  /** DuckDB mirror of [[quality]]'s ratio computation over `source`:
    * CTEs `tq` (tokens, via the shared [[Dedup.toksSql]]) and `rq`
    * (stop/short ratios). Spliced into the q_doc_quality, q_doc_qfilter
    * and q_pipeline_e2e oracles so tokenizer or formula changes can't
    * drift between mirrors.
    */
  def qualityRatiosSql(source: String = "documents"): String =
    s"""tq AS (SELECT doc_id, ${Dedup.toksSql} AS toks FROM $source),
       |rq AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(toks, x -> ${Stopwords.map(w => s"x='$w'").mkString(" OR ")})) AS DOUBLE)
       |      / CAST(NULLIF(len(toks), 0) AS DOUBLE) AS stop_ratio,
       |    CAST(len(list_filter(toks, x -> length(x) <= 3)) AS DOUBLE)
       |      / CAST(NULLIF(len(toks), 0) AS DOUBLE) AS short_ratio
       |  FROM tq)""".stripMargin

  /** The composite score over `rq`'s columns — mirror of [[quality]]. */
  val qualityScoreSql: String = "1.0 - stop_ratio * 0.5 - short_ratio * 0.3"

  /** Language-ID heuristic: marker-vocabulary counts, fixed-precedence
    * arg-max. (On the driver's synthetic corpus this exercises the
    * operator shape; the heuristic itself is standard stopword LID.)
    */
  /** Language confusion matrix — the label-QA composition over [[langId]]:
    * per (declared, predicted) language, document counts and the exact
    * per-declared-language permille. The off-diagonal rows ARE the
    * mislabeled-corpus signal (a crawl whose 'de' slice predicts 'en' at
    * 200‰ has a labeling problem the per-doc matches_label flag won't
    * surface in aggregate). Output ≤ |langs|² rows; declared lang rides a
    * shuffle-hash id join; row totals re-aggregate the bounded matrix and
    * broadcast back.
    */
  def langConfusion(docs: DataFrame): DataFrame = {
    val li = langId(docs).select(col("doc_id"), col("pred_lang"))
    val m = li
      .join(docs.select(col("doc_id"), col("lang")).hint("shuffle_hash"), "doc_id")
      .groupBy(col("lang"), col("pred_lang")).agg(count(lit(1)).as("n_docs"))
    val tot = m.groupBy(col("lang")).agg(sum(col("n_docs")).as("lang_total"))
    m.join(broadcast(tot), "lang")
      .select(col("lang"), col("pred_lang"), col("n_docs"), col("lang_total"),
        expr("n_docs * 1000 div lang_total").as("row_permille"))
  }

  def langId(docs: DataFrame): DataFrame = {
    val scores: Seq[(String, Column)] =
      LangMarkers.map { case (l, words) => l -> vocabCount(col("toks"), words) }
    val Seq(en, de, fr, es) = scores.map(_._2)
    val pred = when(en >= de && en >= fr && en >= es, "en")
      .when(de >= fr && de >= es, "de")
      .when(fr >= es, "fr")
      .otherwise("es")
    withToks(docs).select(
      col("doc_id"),
      en.as("s_en"), de.as("s_de"), fr.as("s_fr"), es.as("s_es"),
      pred.as("pred_lang"),
      (pred === col("lang")).as("matches_label")
    )
  }

  /** Character-class regexes shared with the SQL mirror: EXPLICIT code
    * ranges only — `\x{…}` is the one spelling Java regex (Spark) and
    * RE2 (DuckDB) both accept with identical semantics, whereas named
    * script properties (`\p{IsHan}` vs `\p{Han}`) differ in syntax AND
    * can differ across the engines' Unicode table versions.
    */
  val CharClasses: Seq[(String, String)] = Seq(
    "latin" -> "[A-Za-z]",
    "digit" -> "[0-9]",
    "cjk" -> "[\\x{4E00}-\\x{9FFF}]",
    "cyrillic" -> "[\\x{0400}-\\x{04FF}]",
    "arabic" -> "[\\x{0600}-\\x{06FF}]")

  /** Mojibake marker: 'Ã' followed by a C1/Latin-1-supplement byte-ish
    * char — the signature of UTF-8 read as Latin-1 ("é" → "Ã©"); plus
    * the replacement char count below for decoder-damage.
    */
  val MojibakeRe = "\\x{00C3}[\\x{0080}-\\x{00BF}]"

  /** Character-class audit — the SCRIPT-level complement of the
    * token-vocabulary [[langId]]: per doc, counts and exact permille of
    * explicit Unicode ranges (Latin, digits, CJK, Cyrillic, Arabic),
    * the UTF-8-as-Latin-1 mojibake marker count, and U+FFFD replacement
    * chars (decoder damage). Catches what a vocabulary LID cannot: a
    * doc whose label says `en` but whose CHARACTERS are CJK, or a crawl
    * slice whose text was double-decoded — both invisible to token
    * matching against Latin marker words. `dominant_class` is the fixed-
    * precedence argmax over the class counts (ties resolve in
    * declaration order, both engines run the identical CASE chain).
    *
    * Exactness: integer counts, permille by exact integer division.
    * Scale: ONE narrow regexp pass, no joins, no aggregation — a pure
    * per-row map that streams unchanged.
    */
  def charClassAudit(docs: DataFrame): DataFrame = {
    val Seq(lat, dig, cjk, cyr, ara) = CharClasses.map { case (_, re) =>
      regexp_count(col("text"), lit(re)).cast("long")
    }
    val n = length(col("text")).cast("long")
    // guards OUTSIDE the argmax chain: null text would fall through the
    // null when-conditions to 'arabic', and ALL-ZERO counts (empty or
    // symbol/emoji-only text) would satisfy the first 0 >= 0 branch and
    // inflate the Latin share — both class as null instead
    val dom = when(col("text").isNotNull
        && greatest(lat, dig, cjk, cyr, ara) > 0,
      when(lat >= dig && lat >= cjk && lat >= cyr && lat >= ara, "latin")
        .when(dig >= cjk && dig >= cyr && dig >= ara, "digit")
        .when(cjk >= cyr && cjk >= ara, "cjk")
        .when(cyr >= ara, "cyrillic")
        .otherwise("arabic"))
    docs.select(
        col("doc_id"), n.as("n_chars"),
        lat.as("n_latin"), dig.as("n_digit"), cjk.as("n_cjk"),
        cyr.as("n_cyrillic"), ara.as("n_arabic"),
        regexp_count(col("text"), lit(MojibakeRe)).cast("long").as("n_mojibake"),
        regexp_count(col("text"), lit("\\x{FFFD}")).cast("long").as("n_replacement"),
        dom.as("dominant_class"))
      // exact integer division (`div`), not `/` — Column `/` on longs
      // promotes to double and the permille would stop being exact
      .withColumn("latin_permille",
        when(col("n_chars") > 0, expr("n_latin * 1000 div n_chars")))
      .withColumn("cjk_permille",
        when(col("n_chars") > 0, expr("n_cjk * 1000 div n_chars")))
  }

  /** DuckDB mirror of [[charClassAudit]] over table `src`. */
  def charClassAuditSql(src: String = "documents"): String = {
    def cnt(re: String) = s"CAST(len(regexp_extract_all(text, '$re')) AS BIGINT)"
    val Seq(lat, dig, cjk, cyr, ara) = CharClasses.map { case (_, re) => cnt(re) }
    s"""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
       |  $lat AS n_latin, $dig AS n_digit, $cjk AS n_cjk,
       |  $cyr AS n_cyrillic, $ara AS n_arabic,
       |  CASE WHEN length(text) > 0 THEN $lat * 1000 // length(text) END AS latin_permille,
       |  CASE WHEN length(text) > 0 THEN $cjk * 1000 // length(text) END AS cjk_permille,
       |  ${cnt(MojibakeRe)} AS n_mojibake,
       |  ${cnt("\\x{FFFD}")} AS n_replacement,
       |  CASE WHEN text IS NULL THEN NULL
       |    WHEN greatest($lat, $dig, $cjk, $cyr, $ara) = 0 THEN NULL
       |    WHEN $lat >= $dig AND $lat >= $cjk AND $lat >= $cyr AND $lat >= $ara THEN 'latin'
       |    WHEN $dig >= $cjk AND $dig >= $cyr AND $dig >= $ara THEN 'digit'
       |    WHEN $cjk >= $cyr AND $cjk >= $ara THEN 'cjk'
       |    WHEN $cyr >= $ara THEN 'cyrillic'
       |    ELSE 'arabic'
       |  END AS dominant_class
       |FROM $src""".stripMargin
  }

  /** Exact corpus heavy hitters with bounded per-partition state — the
    * approximate-algorithm-with-exact-guarantee pattern a 100 TB token
    * stream needs: a full `GROUP BY word` materializes the whole
    * vocabulary through a shuffle, but anything with global share
    * ≥ 1/k can be found with k counters per partition.
    *
    * Pass 1 (narrow, NO shuffle): Misra–Gries with capacity k per input
    * partition. Guarantee chain making pass 2 EXACT, not approximate:
    * a word with global count ≥ N/k has, by pigeonhole, count_p ≥ N_p/k
    * in at least one partition; MG(k) decrements any counter at most
    * N_p/(k+1) times, and N_p/k > N_p/(k+1), so the word SURVIVES that
    * partition's sketch. The union of per-partition survivors (≤ k ×
    * partitions rows — broadcastable at any corpus size) is therefore a
    * SUPERSET of every true heavy hitter; false candidates are killed by
    * pass 2. Result is deterministic and partitioning-independent even
    * though the sketch internals are not (spec-pinned under
    * repartition(1) vs repartition(13)).
    *
    * Pass 2: exact counts of candidate words only (broadcast semi-ish
    * inner join gates the grouped agg), one narrow total-token agg
    * (no explode shuffle — Σ size(toks)), integer threshold cnt·k ≥ N
    * (division-free), exact integer permille.
    *
    * Cf. Misra–Gries '82; the same two-pass shape MapReduce heavy-hitter
    * pipelines use. Output: (w, cnt, n_tokens, permille), one row per
    * word with share ≥ 1/k.
    */
  def heavyHitters(docs: DataFrame, k: Int = 32): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tok = withToks(docs).select(explode(col("toks")).as("w"))
    val cands = tok.as[String]
      .mapPartitions(it => misraGries(it, k))
      .toDF("w").distinct()
    val totals = withToks(docs)
      .agg(coalesce(sum(size(col("toks")).cast("long")), lit(0L)).as("n"))
    tok.join(broadcast(cands), "w")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(totals))
      .filter(col("cnt") * k >= col("n"))
      .select(col("w"), col("cnt"), col("n").as("n_tokens"),
        expr("cnt * 1000 DIV n").as("permille"))
  }

  /** Misra–Gries streaming summary with `k` counters: emits the words
    * whose counters survive the stream (count-decrement semantics; each
    * surviving word's stored count underestimates truth by at most
    * N/(k+1)). O(k) space; the decrement-all step amortizes against the
    * k inserts that preceded it.
    */
  def misraGries(it: Iterator[String], k: Int): Iterator[String] = {
    val m = scala.collection.mutable.HashMap.empty[String, Long]
    while (it.hasNext) {
      val w = it.next()
      m.get(w) match {
        case Some(c) => m.update(w, c + 1)
        case None if m.size < k => m.update(w, 1L)
        case None =>
          val keys = m.keysIterator.toArray
          var i = 0
          while (i < keys.length) {
            val c = m(keys(i))
            if (c == 1L) m.remove(keys(i)) else m.update(keys(i), c - 1)
            i += 1
          }
      }
    }
    m.keysIterator.toArray.iterator
  }

  /** DuckDB mirror of [[heavyHitters]] — the sketch has no mirror to
    * need: the OUTPUT is defined purely by the exact threshold.
    */
  def heavyHittersSql(k: Int = 32): String =
    s"""WITH htok AS (
       |  SELECT unnest(toks) AS w
       |  FROM (SELECT ${graft.operators.Dedup.toksSql} AS toks FROM documents) t),
       |htot AS (SELECT COUNT(*) AS n FROM htok),
       |hc AS (SELECT w, COUNT(*) AS cnt FROM htok GROUP BY w)
       |SELECT w, cnt, n AS n_tokens, (cnt * 1000) // n AS permille
       |FROM hc CROSS JOIN htot
       |WHERE cnt * $k >= n""".stripMargin

  /** Hash-shard jackknife — the error bar next to every corpus-mean
    * dashboard number (here: mean tokens/doc), delete-one-group
    * jackknife (Quenouille '49/Tukey '58) over H deterministic content-
    * hash shards: each leave-one-shard-out mean is ONE double division
    * of exact integer totals ((S − s_h)/(N − n_h)), the H means are
    * 2^24-quantized so every cross-shard sum is order-free INTEGER
    * arithmetic, deviations square in DECIMAL(38,0) (enforced — the
    * sibling-op discipline), and the variance scales back through a
    * fixed chain of exactly-representable double factors. Output: one
    * row (n_docs, n_shards, mean, jk_var, jk_se).
    *
    * Scale: one grouped pass with map-side combine to H rows; all the
    * statistics run on the bounded shard table. Hash shards make the
    * estimate rerun- and partitioning-deterministic — a "random" fold
    * assignment would put RNG state on the parity path. `n_shards`
    * counts REPLICATES (shards with a non-empty complement): a
    * degenerate single-shard corpus reports 0 replicates and a null
    * variance on both engines.
    */
  def jackknifeMean(docs: DataFrame, shards: Int = 16): DataFrame = {
    val q = 16777216.0d
    val sh = docs.select(
        pmod(stringHash(col("text")), lit(shards.toLong)).as("shard"),
        size(tokens(col("text"))).cast("long").as("x"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_h"), sum(col("x")).as("s_h"))
      .localCheckpoint(false)
    val tot = sh.agg(sum(col("n_h")).as("nn"), sum(col("s_h")).as("ss"))
    val loom = sh.crossJoin(broadcast(tot))
      .withColumn("mq", when(col("nn") - col("n_h") > 0,
        round(((col("ss") - col("s_h")).cast("double") /
          (col("nn") - col("n_h")).cast("double")) * lit(q)).cast("long")))
      .localCheckpoint(false)
    val smq = loom.agg(sum(col("mq")).as("smq"),
      count(col("mq")).cast("long").as("hv"))
    loom.crossJoin(broadcast(smq))
      .withColumn("dev2",
        (col("hv").cast("decimal(38,0)") * col("mq").cast("decimal(38,0)") -
          col("smq").cast("decimal(38,0)")) *
        (col("hv").cast("decimal(38,0)") * col("mq").cast("decimal(38,0)") -
          col("smq").cast("decimal(38,0)")))
      .agg(min(col("nn")).as("n_docs"), min(col("hv")).as("n_shards"),
        (min(col("ss")).cast("double") / min(col("nn")).cast("double"))
          .as("mean"),
        sum(col("dev2")).as("sdev2"))
      .withColumn("jk_var",
        when(col("n_shards") > 1,
          col("sdev2").cast("double") *
            (col("n_shards") - 1).cast("double") /
            (col("n_shards") * col("n_shards") * col("n_shards")).cast("double") /
            lit(q * q)))
      .select(col("n_docs"), col("n_shards"), col("mean"),
        col("jk_var"), sqrt(col("jk_var")).as("jk_se"))
  }

  /** DuckDB mirror of [[jackknifeMean]]. */
  def jackknifeMeanSql(shards: Int = 16): String =
    s"""WITH jsh AS (
       |  SELECT (${graft.operators.Dedup.hashSql("text")}) % $shards AS shard,
       |    COUNT(*) AS n_h,
       |    CAST(SUM(CAST(len(${graft.operators.Dedup.toksSql}) AS BIGINT)) AS BIGINT) AS s_h
       |  FROM documents GROUP BY 1),
       |jtot AS (
       |  SELECT CAST(SUM(n_h) AS BIGINT) AS nn, CAST(SUM(s_h) AS BIGINT) AS ss
       |  FROM jsh),
       |jloom AS (
       |  SELECT shard, n_h, s_h, nn, ss,
       |    CASE WHEN nn - n_h > 0 THEN
       |      CAST(ROUND(CAST(ss - s_h AS DOUBLE) / CAST(nn - n_h AS DOUBLE)
       |        * 16777216.0) AS BIGINT) END AS mq
       |  FROM jsh CROSS JOIN jtot),
       |jsmq AS (
       |  SELECT CAST(SUM(mq) AS BIGINT) AS smq, CAST(COUNT(mq) AS BIGINT) AS hv
       |  FROM jloom),
       |jagg AS (
       |  SELECT MIN(nn) AS n_docs, MIN(hv) AS n_shards,
       |    CAST(MIN(ss) AS DOUBLE) / CAST(MIN(nn) AS DOUBLE) AS mean,
       |    SUM((CAST(hv AS HUGEINT) * CAST(mq AS HUGEINT) - CAST(smq AS HUGEINT)) *
       |        (CAST(hv AS HUGEINT) * CAST(mq AS HUGEINT) - CAST(smq AS HUGEINT)))
       |      AS sdev2
       |  FROM jloom CROSS JOIN jsmq)
       |SELECT n_docs, n_shards, mean,
       |  CASE WHEN n_shards > 1 THEN
       |    CAST(sdev2 AS DOUBLE) * CAST(n_shards - 1 AS DOUBLE)
       |      / CAST(n_shards * n_shards * n_shards AS DOUBLE)
       |      / (16777216.0 * 16777216.0) END AS jk_var,
       |  sqrt(CASE WHEN n_shards > 1 THEN
       |    CAST(sdev2 AS DOUBLE) * CAST(n_shards - 1 AS DOUBLE)
       |      / CAST(n_shards * n_shards * n_shards AS DOUBLE)
       |      / (16777216.0 * 16777216.0) END) AS jk_se
       |FROM jagg""".stripMargin

  /** Zipf octave histogram — the rank-free spelling of the
    * rank-frequency law (Zipf 1949): token types banded by the binary
    * OCTAVE of their corpus frequency (floor(log₂ cnt) as pure integer
    * bit length — the lengthBuckets discipline, never float log whose
    * rounding at exact powers of two differs across engines), with per
    * octave the type count, the total token mass, and the cumulative
    * mass at or above the octave. A healthy natural-language corpus
    * shows type counts decaying geometrically while per-octave mass
    * stays within a band (Zipf ⇒ roughly constant mass per octave);
    * a head-collapsed (boilerplate-flooded) or tail-exploded
    * (mojibake/ID-spam) crawl bends the profile — the corpus-health
    * read-out a crawl diff feeds the curation gate.
    *
    * The classic slope fit needs a rank sort (corpus-wide) and float
    * logs; octave banding needs neither: one grouped count over the
    * token stream, a narrow bit-length band, a ≤ ~40-row rollup, and
    * the cumulative as the bounded triangular self-join (the jhist /
    * prCurve no-partition-less-window discipline). Mergeable: octave
    * rollups of shards sum cell-wise (counts are sums).
    */
  def zipfOctaves(docs: DataFrame): DataFrame = {
    val counts = withToks(docs).select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val oct = counts
      .withColumn("octave", (length(bin(col("cnt"))) - 1).cast("long"))
      .groupBy(col("octave"))
      .agg(count(lit(1)).as("n_types"), sum(col("cnt")).as("token_mass"))
    oct.as("a")
      .join(oct.as("b"), col("b.octave") >= col("a.octave"))
      .groupBy(col("a.octave").as("octave"), col("a.n_types").as("n_types"),
        col("a.token_mass").as("token_mass"))
      .agg(sum(col("b.token_mass")).as("mass_at_or_above"))
  }

  /** DuckDB mirror of [[zipfOctaves]]. */
  val zipfOctavesSql: String =
    s"""WITH ztok AS (
       |  SELECT unnest(toks) AS w
       |  FROM (SELECT ${graft.operators.Dedup.toksSql} AS toks FROM documents) t),
       |zcnt AS (SELECT w, COUNT(*) AS cnt FROM ztok GROUP BY w),
       |zoct AS (
       |  SELECT CAST(length(format('{:b}', cnt)) - 1 AS BIGINT) AS octave,
       |    COUNT(*) AS n_types, CAST(SUM(cnt) AS BIGINT) AS token_mass
       |  FROM zcnt GROUP BY 1)
       |SELECT a.octave, a.n_types, a.token_mass,
       |  CAST(SUM(b.token_mass) AS BIGINT) AS mass_at_or_above
       |FROM zoct a JOIN zoct b ON b.octave >= a.octave
       |GROUP BY a.octave, a.n_types, a.token_mass""".stripMargin

  /** Count–min sketch geometry (Cormode–Muthukrishnan '05): D =
    * `CmsA.size` independent hash rows of [[CmsW]] buckets each. The
    * row hashes are affine mixes of the shared polynomial token hash —
    * h_i(w) = ((poly(w)·a_i + b_i) mod P) mod W — fully deterministic integer
    * arithmetic so the DuckDB mirror rebuilds the identical sketch.
    * (a_i·poly < ~10^13, well inside Long.)
    */
  val CmsW = 512
  val CmsA: Seq[Long] = Seq(31L, 131L, 1031L, 10007L)
  val CmsB: Seq[Long] = Seq(7L, 17L, 29L, 43L)

  /** The sketch itself: (row, bucket, cnt), at most D·W = 2048 cells.
    * Build is ONE token pass fanned out ×D into a grouped count whose
    * map-side partial aggregation collapses each partition to ≤ D·W
    * cells before the (tiny) shuffle — the textbook CMS update,
    * vectorized. The cell counts are plain sums, so sketches MERGE by
    * cell-wise addition: sketch(A ∪ B) = sketch(A) + sketch(B)
    * (spec-pinned), which is what makes CMS the right frequency summary
    * for a 100 TB corpus — per-shard sketches roll up to one 2048-cell
    * table with no token re-scan.
    */
  def cmsSketch(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = CmsA.zip(CmsB).zipWithIndex
      .map { case ((a, b), i) => (i, a, b) }.toDF("row_i", "a", "b")
    withToks(docs).select(explode(col("toks")).as("w"))
      .withColumn("h", stringHash(col("w")))
      .crossJoin(broadcast(rows))
      .withColumn("bucket",
        pmod(col("h") * col("a") + col("b"), lit(P)) % lit(CmsW.toLong))
      .select(col("row_i"), col("bucket"))
      .groupBy(col("row_i"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** CMS point-query audit: estimate vs exact count for the top-`probeK`
    * tokens. The estimate is min over rows of the token's cell count —
    * CMS guarantees est ≥ true (never undercounts; spec-pinned), with
    * overestimate bounded by colliding mass. Production reads the
    * ≤ 2048-cell sketch; the exact counts here are the AUDIT side and
    * are priced accordingly (one grouped count to pick the bounded
    * probe set). Both the probe set (broadcast, ≤ probeK rows) and the
    * sketch (broadcast, ≤ D·W rows) sit on the small side of every
    * join — per-query cost is independent of corpus size once the
    * sketch exists.
    */
  def cmsAudit(docs: DataFrame, probeK: Int = 20): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = CmsA.zip(CmsB).zipWithIndex
      .map { case ((a, b), i) => (i, a, b) }.toDF("row_i", "a", "b")
    val probe = withToks(docs).select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("true_cnt"))
      .orderBy(col("true_cnt").desc, col("w"))
      .limit(probeK)
    probe
      .withColumn("h", stringHash(col("w")))
      .crossJoin(broadcast(rows))
      .withColumn("bucket",
        pmod(col("h") * col("a") + col("b"), lit(P)) % lit(CmsW.toLong))
      .join(broadcast(cmsSketch(docs)), Seq("row_i", "bucket"))
      .groupBy(col("w"), col("true_cnt"))
      .agg(min(col("cnt")).as("est_cnt"))
      .select(col("w"), col("true_cnt"), col("est_cnt"),
        (col("est_cnt") - col("true_cnt")).as("overcount"))
  }

  /** DuckDB mirror of [[cmsAudit]] — rebuilds the identical sketch with
    * the same affine-mix arithmetic (poly hash is non-negative, so plain
    * % matches pmod).
    */
  def cmsAuditSql(probeK: Int = 20): String = {
    val rowsVals = CmsA.zip(CmsB).zipWithIndex
      .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")
    s"""WITH ctok AS (
       |  SELECT unnest(toks) AS w
       |  FROM (SELECT ${graft.operators.Dedup.toksSql} AS toks FROM documents) t),
       |crows(row_i, a, b) AS (VALUES $rowsVals),
       |csk AS (
       |  SELECT row_i, ((${graft.operators.Dedup.hashSql("w")}) * a + b) % $P % $CmsW AS bucket,
       |    COUNT(*) AS cnt
       |  FROM ctok CROSS JOIN crows
       |  GROUP BY 1, 2),
       |cprobe AS (
       |  SELECT w, COUNT(*) AS true_cnt FROM ctok GROUP BY w
       |  ORDER BY true_cnt DESC, w LIMIT $probeK),
       |cb AS (
       |  SELECT p.w, p.true_cnt, r.row_i,
       |    ((${graft.operators.Dedup.hashSql("p.w")}) * r.a + r.b) % $P % $CmsW AS bucket
       |  FROM cprobe p CROSS JOIN crows r)
       |SELECT cb.w, cb.true_cnt,
       |  CAST(MIN(csk.cnt) AS BIGINT) AS est_cnt,
       |  CAST(MIN(csk.cnt) - cb.true_cnt AS BIGINT) AS overcount
       |FROM cb JOIN csk ON csk.row_i = cb.row_i AND csk.bucket = cb.bucket
       |GROUP BY cb.w, cb.true_cnt""".stripMargin
  }

  // ---- HyperLogLog cardinality sketch ------------------------------------

  /** HyperLogLog geometry (Flajolet–Fuchs–Gandouet–Meunier '07): m =
    * 2^[[HllP]] registers, each the MAX leading-zero rank seen in its
    * bucket. Bucket and rank are two independent affine mixes of the
    * shared polynomial token hash (the CMS/Bloom discipline — all exact
    * integer arithmetic, so the DuckDB mirror rebuilds the identical
    * registers): bucket = ((poly·a_b + b_b) mod P) mod m; the rank value
    * v = (poly·a_r + b_r) mod P is ~uniform on [0, P), and rho =
    * 31 − bitlength(v) (v = 0 → 31) — integer bit arithmetic, never
    * float log2 (the lengthBuckets rule). The squaring is load-bearing:
    * rho statistics need the TAIL of the hash uniform (Pr(v < 2^k) =
    * 2^k/P for small k), and an affine mix of the structured rolling
    * hash measurably overweights that tail (60k synthetic tokens: rank
    * 11 observed 160× vs 31× expected → a 2.8× cardinality
    * overestimate), while the quadratic residue decorrelates it to the
    * expected counts (spec-pinned error bound). The CMS/Bloom affine
    * mixes are untouched — point-query bucketing needs only coarse
    * uniformity, not tail uniformity. Since P < 2^30,
    * Pr(rho ≥ r) = 2^(31−r)/P = (2^30/P)·2^(1−r): the ideal geometric
    * law times the constant c = 2^30/P — indistinguishable from
    * sketching c·n distinct elements, so [[hllCardinality]] divides c
    * back out of the estimate.
    *
    * Next to the KMV bottom-k ([[kmvSketch]]): HLL registers cost
    * 6 bits each (m·6 bits per source total), union LOSSLESSLY across
    * any number of shards (max is associative, commutative,
    * idempotent), and tolerate duplicate/replayed updates with no
    * distinct pass at all — the cardinality summary a 100 TB crawl
    * keeps per shard per generation; KMV remains the sketch for the
    * direct INTERSECTION read-out HLL cannot give.
    */
  val HllP = 8
  val HllM: Int = 1 << HllP

  /** The register table: (source, bucket, rho), hit buckets only
    * (an absent bucket ≡ rank 0; the estimator folds the zeros back
    * in) — ≤ \|sources\|·m rows. ONE token pass (no distinct needed —
    * max is idempotent) into a grouped MAX whose map-side partials
    * collapse every partition to ≤ m cells per source before the tiny
    * shuffle.
    */
  def hllRegisters(docs: DataFrame): DataFrame =
    hllRegistersOf(withToks(docs).select(col("source"), explode(col("toks")).as("w")))

  /** Register cells over an arbitrary (source, w) frame: one
    * (source, bucket, rho) hit per token occurrence, max per cell.
    */
  def hllRegistersOf(tokDf: DataFrame): DataFrame =
    tokDf
      .withColumn("h", stringHash(col("w")))
      .withColumn("h2", pmod(col("h") * col("h"), lit(P)))
      .withColumn("bucket",
        pmod(col("h2") * lit(1009L) + lit(91L), lit(P)) % lit(HllM.toLong))
      .withColumn("v", pmod(col("h2") * lit(2003L) + lit(57L), lit(P)))
      .select(col("source"), col("bucket"),
        when(col("v") === 0L, lit(31L))
          .otherwise(lit(31L) - length(bin(col("v"))).cast("long")).as("rho"))
      .groupBy(col("source"), col("bucket"))
      .agg(max(col("rho")).as("rho"))

  /** Merge two register tables WITHOUT re-scanning either corpus — the
    * mergeability law (same contract as [[kmvMerge]] and the CMS
    * cell-wise sum): registers(A ∪ B) = cell-wise max, exactly, for any
    * shard split and any replay multiplicity (spec-pinned).
    */
  def hllMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("source"), col("bucket"))
      .agg(max(col("rho")).as("rho"))

  /** Per-source cardinality estimate + EXACT audit — `q_doc_hll`:
    * (source, v_zero, s_scaled, est, n_exact, rel_err). The harmonic
    * denominator is kept EXACT: s_scaled = Σ_buckets 2^(31−rho) (a
    * zero register contributes 2^31) is a plain BIGINT sum of exact
    * powers of two — order-free, engine-identical — and the estimate is
    * ONE double division of one precomputed Scala constant by it:
    * est = α_m·m²·2^31·(P/2^30) / s_scaled (the last factor divides out
    * the truncated-geometric constant c). The exact distinct count is
    * the AUDIT side (corpus-priced, like every audit twin); production
    * reads the ≤ m-cell register artifact only.
    */
  def hllCardinality(docs: DataFrame): DataFrame = {
    val toks = withToks(docs).select(col("source"), explode(col("toks")).as("w"))
    val est = hllEstimateOf(hllRegistersOf(toks))
    val exact = toks.groupBy(col("source"))
      .agg(countDistinct(col("w")).as("n_exact"))
    est.join(exact, Seq("source"))
      .select(col("source"), col("v_zero"), col("s_scaled"), col("est_raw"),
        col("est"), col("n_exact"),
        ((col("est") - col("n_exact").cast("double"))
          / col("n_exact").cast("double")).as("rel_err"))
  }

  /** Register table → per-source (v_zero, s_scaled, est_raw, est).
    * Flajolet's small-range branch: when the raw estimate sits under
    * 5/2·m (the regime where the raw estimator bottoms out near α·m
    * regardless of n) and zero registers exist, LINEAR COUNTING
    * m·ln(m/V) estimates from occupancy instead. ln is transcendental
    * — NOT correctly rounded, so an engine libm call would break the
    * oracle — but V has only m−1 possible values with a hit present,
    * so the ONLY ln anywhere is evaluated once in Scala over the 255
    * possible occupancies and inlined as identical literals into both
    * engines ([[hllLcTable]]).
    */
  def hllEstimateOf(reg: DataFrame): DataFrame = {
    val m = HllM
    val lcArr = array(hllLcTable.map(lit(_)): _*)
    reg.groupBy(col("source"))
      .agg(count(lit(1)).as("n_hit"),
        sum(expr("shiftleft(1L, CAST(31 - rho AS INT))")).as("s_hit"))
      .select(col("source"),
        (lit(m.toLong) - col("n_hit")).as("v_zero"),
        ((lit(m.toLong) - col("n_hit")) * lit(2147483648L) + col("s_hit"))
          .as("s_scaled"))
      .withColumn("est_raw", lit(hllRawNum) / col("s_scaled").cast("double"))
      .withColumn("est",
        when(col("est_raw") <= lit(2.5 * m) && col("v_zero") > 0,
          element_at(lcArr, col("v_zero").cast("int")))
          .otherwise(col("est_raw")))
  }

  /** Cross-generation vocabulary growth from REGISTERS ONLY —
    * `q_doc_hllgen`, the crawl planner's new-vocabulary read-out: with
    * gen-A registers persisted, a new generation's growth per source is
    * est(A∪B) − est(A) where the union registers come from the
    * CELL-WISE MAX MERGE of the two artifacts ([[hllMerge]]) — the base
    * corpus is never re-scanned, the [[kmvGenOverlap]] economics at
    * m·6 bits per source. The exact new-type count rides as the audit
    * twin (corpus-priced, audit class).
    */
  def hllGenGrowth(base: DataFrame, incr: DataFrame): DataFrame = {
    val rb = hllRegisters(base).localCheckpoint(false)
    val ru = hllMerge(rb, hllRegisters(incr))
    val eb = hllEstimateOf(rb).select(col("source"), col("est").as("est_base"))
    val eu = hllEstimateOf(ru).select(col("source"), col("est").as("est_union"))
    val tb = withToks(base).select(col("source"), explode(col("toks")).as("w"))
    val ti = withToks(incr).select(col("source"), explode(col("toks")).as("w"))
    val nb = tb.groupBy(col("source")).agg(countDistinct(col("w")).as("n_base_exact"))
    val nu = tb.unionByName(ti).groupBy(col("source"))
      .agg(countDistinct(col("w")).as("n_union_exact"))
    eu.join(eb, Seq("source"), "left")
      .join(nu, Seq("source"), "left")
      .join(nb, Seq("source"), "left")
      .select(col("source"),
        coalesce(col("est_base"), lit(0.0d)).as("est_base"),
        col("est_union"),
        (col("est_union") - coalesce(col("est_base"), lit(0.0d))).as("est_new"),
        coalesce(col("n_base_exact"), lit(0L)).as("n_base_exact"),
        col("n_union_exact"),
        (col("n_union_exact") - coalesce(col("n_base_exact"), lit(0L)))
          .as("n_new_exact"))
  }

  /** The raw-estimate numerator α_m·m²·2^31·(2^30/P), one Scala double. */
  private def hllRawNum: Double = {
    val m = HllM
    (0.7213 / (1.0 + 1.079 / m)) * m.toDouble * m.toDouble * 2147483648.0 *
      (P.toDouble / 1073741824.0)
  }

  /** Linear-counting lookup: index V ∈ [1, m−1] → m·ln(m/V), computed
    * once driver-side (no engine libm in any query path).
    */
  private def hllLcTable: Seq[Double] =
    (1 until HllM).map(v => HllM.toDouble * math.log(HllM.toDouble / v))

  /** DuckDB mirror of [[hllCardinality]] — identical registers from the
    * same affine mixes, the same exact integer harmonic denominator,
    * the same single-division estimate (the Scala constant interpolates
    * at shortest-round-trip repr, so the parsed literal is the
    * identical bit pattern).
    */
  def hllCardinalitySql(src: String = "documents"): String = {
    val m = HllM
    val num = hllRawNum
    val lcList = hllLcTable.map(d => s"CAST($d AS DOUBLE)").mkString(", ")
    s"""WITH htok AS (
       |  SELECT source, unnest(toks) AS w
       |  FROM (SELECT source, ${graft.operators.Dedup.toksSql} AS toks FROM $src) t),
       |hh0 AS (SELECT source, w, ${graft.operators.Dedup.hashSql("w")} AS h FROM htok),
       |hh AS (SELECT source, w, (h * h) % $P AS h2 FROM hh0),
       |hreg AS (
       |  SELECT source, (h2 * 1009 + 91) % $P % $m AS bucket,
       |    MAX(CASE WHEN (h2 * 2003 + 57) % $P = 0 THEN 31
       |        ELSE 31 - length(format('{:b}', (h2 * 2003 + 57) % $P)) END) AS rho
       |  FROM hh GROUP BY 1, 2),
       |hest AS (
       |  SELECT source, CAST($m - COUNT(*) AS BIGINT) AS v_zero,
       |    CAST(($m - COUNT(*)) * 2147483648 +
       |      SUM(CAST(1 AS BIGINT) << CAST(31 - rho AS INT)) AS BIGINT) AS s_scaled
       |  FROM hreg GROUP BY source),
       |hxct AS (SELECT source, CAST(COUNT(DISTINCT w) AS BIGINT) AS n_exact
       |        FROM htok GROUP BY source),
       |hlc AS (SELECT [$lcList] AS lc)
       |SELECT source, v_zero, s_scaled, est_raw, est, n_exact,
       |  (est - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE) AS rel_err
       |FROM (
       |  SELECT source, v_zero, s_scaled, est_raw,
       |    CASE WHEN est_raw <= ${2.5 * m} AND v_zero > 0
       |         THEN lc[CAST(v_zero AS INT)] ELSE est_raw END AS est,
       |    n_exact
       |  FROM (
       |    SELECT e.source, e.v_zero, e.s_scaled,
       |      $num / CAST(e.s_scaled AS DOUBLE) AS est_raw, x.n_exact
       |    FROM hest e JOIN hxct x USING (source)) t0
       |  CROSS JOIN hlc) t""".stripMargin
  }

  /** DuckDB mirror of [[hllGenGrowth]] over the q_doc_hllgen generation
    * split (base = doc_id % 3 ≠ 0; increment = the % 3 = 0 docs plus the
    * re-crawled % 6 = 1 texts — [[kmvGenOverlap]]'s split; the re-id is
    * token-invariant so the OR spelling is exact).
    */
  def hllGenGrowthSql(src: String = "documents"): String = {
    val m = HllM
    val num = hllRawNum
    val lcList = hllLcTable.map(d => s"CAST($d AS DOUBLE)").mkString(", ")
    def regCtes(p: String, where: String) =
      s"""${p}tok AS (
         |  SELECT source, unnest(toks) AS w
         |  FROM (SELECT source, ${graft.operators.Dedup.toksSql} AS toks
         |        FROM $src WHERE $where) t),
         |${p}hh AS (
         |  SELECT source, (h * h) % $P AS h2
         |  FROM (SELECT source, ${graft.operators.Dedup.hashSql("w")} AS h
         |        FROM ${p}tok) t0),
         |${p}reg AS (
         |  SELECT source, (h2 * 1009 + 91) % $P % $m AS bucket,
         |    MAX(CASE WHEN (h2 * 2003 + 57) % $P = 0 THEN 31
         |        ELSE 31 - length(format('{:b}', (h2 * 2003 + 57) % $P)) END) AS rho
         |  FROM ${p}hh GROUP BY 1, 2)""".stripMargin
    def estCte(p: String, reg: String) =
      s"""${p}est AS (
         |  SELECT source,
         |    CASE WHEN est_raw <= ${2.5 * m} AND v_zero > 0
         |         THEN lc[CAST(v_zero AS INT)] ELSE est_raw END AS est
         |  FROM (
         |    SELECT source, CAST($m - COUNT(*) AS BIGINT) AS v_zero,
         |      $num / CAST(CAST(($m - COUNT(*)) * 2147483648 +
         |        SUM(CAST(1 AS BIGINT) << CAST(31 - rho AS INT)) AS BIGINT) AS DOUBLE) AS est_raw
         |    FROM $reg GROUP BY source) t
         |  CROSS JOIN hlc)""".stripMargin
    s"""WITH ${regCtes("b", "doc_id % 3 <> 0")},
       |${regCtes("i", "doc_id % 3 = 0 OR doc_id % 6 = 1")},
       |ureg AS (
       |  SELECT source, bucket, MAX(rho) AS rho
       |  FROM (SELECT * FROM breg UNION ALL SELECT * FROM ireg) z
       |  GROUP BY 1, 2),
       |hlc AS (SELECT [$lcList] AS lc),
       |${estCte("b2", "breg")},
       |${estCte("u2", "ureg")},
       |bx AS (SELECT source, CAST(COUNT(DISTINCT w) AS BIGINT) AS n_base_exact
       |       FROM btok GROUP BY source),
       |ux AS (SELECT source, CAST(COUNT(DISTINCT w) AS BIGINT) AS n_union_exact
       |       FROM (SELECT * FROM btok UNION ALL SELECT * FROM itok) z
       |       GROUP BY source)
       |SELECT u.source,
       |  COALESCE(b.est, CAST(0.0 AS DOUBLE)) AS est_base,
       |  u.est AS est_union,
       |  u.est - COALESCE(b.est, CAST(0.0 AS DOUBLE)) AS est_new,
       |  COALESCE(bx.n_base_exact, CAST(0 AS BIGINT)) AS n_base_exact,
       |  ux.n_union_exact,
       |  ux.n_union_exact - COALESCE(bx.n_base_exact, CAST(0 AS BIGINT)) AS n_new_exact
       |FROM u2est u LEFT JOIN b2est b USING (source)
       |LEFT JOIN ux USING (source) LEFT JOIN bx USING (source)""".stripMargin
  }

  // ---- Bloom-gated decontamination ---------------------------------------

  /** Bloom hash-function count and affine-mix constants (same discipline
    * as the CMS rows: h_r = ((poly·a_r + b_r) mod P) mod m, all exact
    * integer — a_r·poly < ~10^14, inside Long).
    */
  val BloomJ = 8
  val BloomA: Seq[Long] = Seq(131L, 1031L, 10007L, 100003L, 31L, 331L, 3331L, 33331L)
  val BloomB: Seq[Long] = Seq(3L, 11L, 23L, 41L, 7L, 19L, 37L, 53L)

  /** Bits per eval shingle: m = 32·n_eval keeps the array load factor
    * scale-free (j·n/m = 1/4 → per-SHINGLE FPR = (1−e^(−1/4))^8 ≈
    * 5.6·10⁻⁶) at every corpus size, instead of a fixed m that
    * saturates at 10× the tuning SF. The budget is sized for the DOC
    * verdict, not the shingle one: a clean doc is falsely flagged iff
    * ANY of its ~10²-10³ distinct shingles false-positives, so the
    * per-shingle rate must sit orders below the acceptable per-doc
    * over-flag rate (~10⁻³ here at 10² shingles).
    */
  val BloomBitsPerKey = 32L

  /** Bloom-gated benchmark decontamination + empirical FPR audit: build
    * a j-hash Bloom filter over the eval split's distinct trigram
    * shingles, flag every train doc any of whose shingles has ALL j
    * buckets set, and carry the exact join truth alongside — the
    * decontamination gate respelled so the eval set crosses the cluster
    * ONCE as m BITS instead of joining the train shingle stream
    * (Bloom'70; the standard pre-filter in front of an expensive
    * membership join).
    *
    * Guarantee (spec-pinned): no false negatives — `bloom_hit` ⊇
    * `exact_hit` row-wise, so the gate may over-flag (quarantine for the
    * exact recheck) but can never leak a contaminated doc. The
    * over-flag rate is the audit's read-out, and m scales with the eval
    * set ([[BloomBitsPerKey]]) so the measured FPR holds at any SF.
    *
    * Scale shape: the eval side collapses to ≤ j·n_eval distinct set
    * bits broadcast once (a production impl packs them 64/word into a
    * real bitmap — this row-set spelling keeps the op oracle-able; the
    * byte budget story is identical: m = 32n bits = 4n bytes); the
    * train side is the fused narrow shingle stream probed map-side —
    * NO train-shingle shuffle, which is the point: `contaminated`
    * shuffles both corpora on h, this ships 4 bytes per eval shingle
    * and streams the 100 TB side. The exact side here is the AUDIT
    * (sf-bounded); production composes bloom-gate → exact recheck on
    * the ≤ (true + FPR·n) survivors. The filter is built from named
    * affine mixes, not Spark's bloom_filter_agg, so the DuckDB oracle
    * sets the IDENTICAL bits.
    */
  def bloomDecontam(train: DataFrame, eval: DataFrame): DataFrame = {
    val spark = train.sparkSession
    import spark.implicits._
    val rows = BloomA.zip(BloomB).zipWithIndex
      .map { case ((a, b), r) => (r, a, b) }.toDF("r", "a", "b")
    val evalSh = eval.select(
        explode(graft.expressions.ShingleHashes.shingle_hashes(col("text"))).as("h"))
      .distinct()
      .localCheckpoint(false)
    // m rides as a broadcast scalar column (greatest guards an empty
    // eval split — m=1, zero bits set, every probe misses)
    val mDf = evalSh.agg(greatest(count(lit(1)) * BloomBitsPerKey, lit(1L)).as("m"))
    val bits = evalSh.crossJoin(broadcast(rows)).crossJoin(broadcast(mDf))
      .select(pmod(pmod(col("h") * col("a") + col("b"), lit(P)), col("m")).as("bucket"))
      .distinct()
    val trainSh = train.select(col("doc_id"),
        explode(graft.expressions.ShingleHashes.shingle_hashes(col("text"))).as("h"))
    // a shingle is bloom-positive iff ALL j of its buckets are set: j
    // chained BROADCAST semi-joins against the bit set — every probe is
    // map-side, so the train shingle stream never shuffles (duplicate
    // shingles just re-probe; dedup happens at the tiny doc level)
    val flagged = BloomA.zip(BloomB).zipWithIndex
      .foldLeft(trainSh.crossJoin(broadcast(mDf))) {
        case (df, ((a, b), r)) =>
          val bk = bits.select(col("bucket").as(s"bk$r"))
          df.join(broadcast(bk),
            pmod(pmod(col("h") * a + lit(b), lit(P)), col("m")) === col(s"bk$r"),
            "left_semi")
      }
    val bloomDocs = flagged.select(col("doc_id")).distinct()
      .withColumn("bloom0", lit(true))
    val exactDocs = trainSh.join(evalSh.hint("SHUFFLE_HASH"), "h")
      .select(col("doc_id")).distinct()
      .withColumn("exact0", lit(true))
    train.select(col("doc_id")).distinct()
      .join(bloomDocs, Seq("doc_id"), "left")
      .join(exactDocs, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("bloom0"), lit(false)).as("bloom_hit"),
        coalesce(col("exact0"), lit(false)).as("exact_hit"))
  }

  /** DuckDB mirror of [[bloomDecontam]] over the doc_id%50 train/eval
    * split — rebuilds the identical bit set with the same affine-mix
    * arithmetic (poly hash non-negative, so plain % matches pmod).
    */
  def bloomDecontamSql(): String = {
    val rowsVals = BloomA.zip(BloomB).zipWithIndex
      .map { case ((a, b), r) => s"($r, $a, $b)" }.mkString(", ")
    s"""WITH bev AS (
       |  SELECT DISTINCT h FROM (
       |    SELECT ${Dedup.shingleUnnestSql} AS h
       |    FROM (SELECT ${Dedup.toksSql} AS toks FROM documents WHERE doc_id % 50 = 0))),
       |btr AS (
       |  SELECT DISTINCT doc_id, h FROM (
       |    SELECT doc_id, ${Dedup.shingleUnnestSql} AS h
       |    FROM (SELECT doc_id, ${Dedup.toksSql} AS toks
       |          FROM documents WHERE doc_id % 50 <> 0))),
       |brows(r, a, b) AS (VALUES $rowsVals),
       |bm AS (SELECT GREATEST(COUNT(*) * $BloomBitsPerKey, 1) AS m FROM bev),
       |bbits AS (
       |  SELECT DISTINCT ((h * a + b) % $P) % m AS bucket
       |  FROM bev CROSS JOIN brows CROSS JOIN bm),
       |bpos AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT t.doc_id, t.h, COUNT(*) AS n_set
       |    FROM (SELECT doc_id, h, ((h * a + b) % $P) % m AS bucket
       |          FROM btr CROSS JOIN brows CROSS JOIN bm) t
       |    JOIN bbits ON t.bucket = bbits.bucket
       |    GROUP BY t.doc_id, t.h)
       |  WHERE n_set = $BloomJ),
       |bex AS (SELECT DISTINCT doc_id FROM btr JOIN bev USING (h))
       |SELECT d.doc_id,
       |  (p.doc_id IS NOT NULL) AS bloom_hit,
       |  (x.doc_id IS NOT NULL) AS exact_hit
       |FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 50 <> 0) d
       |LEFT JOIN bpos p ON d.doc_id = p.doc_id
       |LEFT JOIN bex x ON d.doc_id = x.doc_id""".stripMargin
  }

  // ---- KMV theta sketch: cross-crawl/source set-INTERSECTION estimates ---

  /** KMV sketch size (k minimum hash values per set). Standard error of
    * the distinct estimate ≈ 1/√(k−2) ≈ 9% at 128 — the audit reports
    * the measured error against exact truth, so the budget is a
    * read-out, not a promise.
    */
  val KmvK = 128

  /** Per-source KMV (k-minimum-values / bottom-k theta) sketch over the
    * distinct trigram-shingle hash sets, plus PAIRWISE
    * union/intersection estimates audited against exact truth — the
    * set-intersection readout HLL cannot give (HLL unions losslessly but
    * can only inclusion-exclude intersections, which explodes the error
    * when |A∩B| ≪ |A∪B|; the bottom-k sketch estimates the Jaccard
    * DIRECTLY from the union sketch's membership flags —
    * Bar-Yossef'02/Beyer'07, the theta-sketch formulation).
    *
    * Estimators (hash range U = [[graft.functions.TextFunctions.P]], the
    * shared poly-hash modulus, so the DuckDB mirror rebuilds the
    * identical sketch): with θ = k-th smallest hash of a set,
    * D̂ = (k−1)·U/θ; for a pair, the union sketch is the k smallest of
    * sketch(A) ∪ sketch(B) (bottom-k is closed under union — the merge
    * never re-touches data), Û from its θ, and
    * |A∩B|^ = (|{v ∈ union sketch : v ∈ A ∧ v ∈ B}| / k)·Û. A sketch
    * holding fewer than k values IS its set, so estimates degrade to
    * exact counts (CASE-guarded, both engines).
    *
    * Scale shape: ONE distinct-(source, shingle) pass (the same fused
    * narrow [[graft.expressions.ShingleHashes]] stream every dedup op
    * rides) feeding (a) the bounded-heap k-min aggregate — O(k) state
    * per source, map-side combined, so the corpus collapses to
    * |sources|·k rows BEFORE any pairwise work — and (b) the exact truth
    * sides of the audit. The pairwise stage touches only sketch rows:
    * |sources|²·k, corpus-size-independent. At 100 TB you'd persist the
    * |sources|·k sketch table per crawl and diff generations without
    * ever re-scanning text — the cross-crawl overlap planner's input.
    * The exact sides here are the AUDIT (sf-bounded); production runs
    * sketch-only.
    */
  /** The bottom-k sketch itself over a distinct (source, h) stream —
    * the bounded-heap k-min per source (value = −h so "k largest by
    * value" is "k smallest h"; h < 2^30 is exact in double, and the
    * upstream distinct means ids never tie). Every KMV op builds its
    * sketch here.
    */
  def kmvSketchOf(sh: DataFrame, k: Int = KmvK): DataFrame =
    sh.groupBy(col("source"))
      .agg(graft.expressions.TopKAgg.top_k_ids(
        -col("h").cast("double"), col("h"), k).as("mins"))
      .select(col("source"), explode(col("mins")).as("h"))

  /** Batch entry point: per-source bottom-k sketch rows (source, h) over
    * the distinct trigram-shingle hash sets.
    */
  def kmvSketch(docs: DataFrame, k: Int = KmvK): DataFrame =
    kmvSketchOf(docs.select(col("source"),
        explode(graft.expressions.ShingleHashes.shingle_hashes(col("text"))).as("h"))
      .distinct(), k)

  /** Merge two per-source bottom-k sketch tables WITHOUT re-scanning
    * either corpus — the mergeability law that makes KMV the right
    * cross-crawl summary (same contract as [[sourceMixMerge]] and the
    * CMS cell-wise sum): bottom-k is closed under union, so
    * sketch(A ∪ B) = k smallest of sketch(A) ∪ sketch(B), exactly.
    * Per-source grouped distinct + the same bounded-heap k-min; input
    * and output are both \|sources\|·k-row artifacts, corpus never
    * touched (spec-pinned merge ≡ full-corpus sketch).
    */
  def kmvMerge(a: DataFrame, b: DataFrame, k: Int = KmvK): DataFrame =
    kmvSketchOf(a.unionByName(b).distinct(), k)

  def kmvOverlap(docs: DataFrame, k: Int = KmvK): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // distinct (source, h): shared spine for the sketch AND both exact sides
    // Shared spine WITHOUT a transient checkpoint: all four consumers
    // (sketch, exact per-source counts, both exact-intersection sides)
    // reference the same distinct subtree, so AQE's exchange reuse
    // materializes the shuffle once per action anyway — while a lazy
    // localCheckpoint here cost a full extra physical-planning pass at
    // CONSTRUCTION (~0.4 s each on the driver) plus a materialization
    // job, per query run (measured: q_doc_kmv 2.11 → 1.35 s). The
    // explicit IsNotNull filter is a semantic no-op (every output path
    // already goes through a null-rejecting inner join on source or h);
    // it exists for canonical-plan convergence: the join consumers would
    // otherwise push an inferred IsNotNull below the distinct and fork
    // the corpus scan into a second evaluation.
    val sh = docs.select(col("source"),
        explode(graft.expressions.ShingleHashes.shingle_hashes(col("text"))).as("h"))
      .filter(col("source").isNotNull && col("h").isNotNull)
      .distinct()
    val sk = kmvSketchOf(sh, k)
    val perSrc = sk.groupBy(col("source"))
      .agg(count(lit(1)).as("n_sk"), max(col("h")).as("theta"))
    val exact = sh.groupBy(col("source")).agg(count(lit(1)).as("n_exact"))
    val est = perSrc.join(exact, "source")
      .withColumn("est", when(col("n_sk") < k, col("n_sk").cast("double"))
        .otherwise(lit((k - 1).toLong * P).cast("double") / col("theta").cast("double")))
    // ordered source pairs (tiny: |sources|²) — broadcast-wrapped like
    // every other constant-bounded crossJoin in the suite. Derived from
    // the raw source column, NOT from est: a pairs-from-est spelling gets
    // column-pruned into a second corpus scan that still pays the shingle
    // explode just to list sources. Output-equivalent: a source with no
    // shingles has no sketch rows, so its pairs never produce uni rows,
    // and every emitted pair inner-joins back onto est anyway.
    val srcList = docs.select(col("source")).distinct()
    val pairs = srcList.select(col("source").as("src_a"))
      .crossJoin(broadcast(srcList.select(col("source").as("src_b"))))
      .filter(col("src_a") < col("src_b"))
    // union sketch per pair: k smallest of sketch(A) ∪ sketch(B), with
    // per-side membership flags riding along
    val tagged = sk.join(broadcast(pairs), col("source") === col("src_a"))
      .select(col("src_a"), col("src_b"), col("h"),
        lit(1L).as("fa"), lit(0L).as("fb"))
      .unionAll(sk.join(broadcast(pairs), col("source") === col("src_b"))
        .select(col("src_a"), col("src_b"), col("h"),
          lit(0L).as("fa"), lit(1L).as("fb")))
      .groupBy(col("src_a"), col("src_b"), col("h"))
      .agg(max(col("fa")).as("in_a"), max(col("fb")).as("in_b"))
    val w = Window.partitionBy(col("src_a"), col("src_b")).orderBy(col("h"))
    val uni = tagged.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_u"), max(col("h")).as("theta_u"),
        sum(col("in_a") * col("in_b")).as("inter_sk"))
      .withColumn("est_union", when(col("n_u") < k, col("n_u").cast("double"))
        .otherwise(lit((k - 1).toLong * P).cast("double") / col("theta_u").cast("double")))
      .withColumn("est_inter", when(col("n_u") < k, col("inter_sk").cast("double"))
        .otherwise(col("inter_sk").cast("double") / lit(k.toDouble) * col("est_union")))
    // exact pair truth: shared-h join (pairs with zero overlap get 0 via
    // the left join from the estimate spine)
    val exInter = sh.alias("a")
      .join(sh.alias("b").hint("SHUFFLE_HASH"), col("a.h") === col("b.h"))
      .filter(col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("exact_inter0"))
    uni.join(exInter, Seq("src_a", "src_b"), "left")
      .join(broadcast(est.select(col("source").as("src_a"),
        col("n_exact").as("exact_a"), col("est").as("est_a"))), "src_a")
      .join(broadcast(est.select(col("source").as("src_b"),
        col("n_exact").as("exact_b"), col("est").as("est_b"))), "src_b")
      .withColumn("exact_inter", coalesce(col("exact_inter0"), lit(0L)))
      .select(col("src_a"), col("src_b"),
        col("exact_a"), col("exact_b"), col("est_a"), col("est_b"),
        col("exact_inter"),
        (col("exact_a") + col("exact_b") - col("exact_inter")).as("exact_union"),
        col("est_union"), col("est_inter"),
        col("n_u"), col("inter_sk"))
  }

  /** Cross-GENERATION KMV overlap — the crawl-planning read-out the
    * per-crawl sketch table exists for: per source, how much of the new
    * crawl (`incr`) is content the base corpus already has, estimated
    * from the two bottom-k sketches ([[kmvOverlap]]'s estimators keyed
    * on the SAME source across generations instead of source pairs) and
    * audited against exact truth. A source at high redundancy gets its
    * crawl budget cut ([[Curation.snapshotDiff]] says what changed
    * doc-by-doc; this says how much genuinely new CONTENT a source
    * yields, which near-dup re-posts hide from the doc-level diff). A
    * source absent from the base (exact_base = 0) is a NEW source —
    * fully novel by construction.
    *
    * Scale: each generation contributes its \|sources\|·k sketch
    * artifact (built once per crawl, mergeable via [[kmvMerge]]); the
    * overlap stage touches sketch rows only. The exact sides are the
    * sf-bounded audit, as everywhere in this family.
    */
  def kmvGenOverlap(base: DataFrame, incr: DataFrame, k: Int = KmvK): DataFrame = {
    // checkpoint-free spines, same discipline as [[kmvOverlap]]: each
    // generation's distinct/sketch subtree is shared by all its
    // consumers verbatim, so exchange reuse evaluates it once per
    // action, and the IsNotNull filter (a semantic no-op — every output
    // path inner-joins on source) keeps the join consumers from pushing
    // inferred null filters below the distinct and forking the scan.
    def sh(df: DataFrame) = df.select(col("source"),
        explode(graft.expressions.ShingleHashes.shingle_hashes(col("text"))).as("h"))
      .filter(col("source").isNotNull && col("h").isNotNull)
      .distinct()
    val shB = sh(base)
    val shI = sh(incr)
    val skB = kmvSketchOf(shB, k)
    val skI = kmvSketchOf(shI, k)
    def estOf(sk: DataFrame, shx: DataFrame, name: String): DataFrame =
      sk.groupBy(col("source"))
        .agg(count(lit(1)).as("n_sk"), max(col("h")).as("theta"))
        .join(shx.groupBy(col("source")).agg(count(lit(1)).as("n_exact")), "source")
        .select(col("source"), col("n_exact").as(s"exact_$name"),
          when(col("n_sk") < k, col("n_sk").cast("double"))
            .otherwise(lit((k - 1).toLong * P).cast("double") / col("theta").cast("double"))
            .as(s"est_$name"))
    val uni = skB.select(col("source"), col("h"), lit(1L).as("fb"), lit(0L).as("fi"))
      .unionAll(skI.select(col("source"), col("h"), lit(0L).as("fb"), lit(1L).as("fi")))
      .groupBy(col("source"), col("h"))
      .agg(max(col("fb")).as("in_b"), max(col("fi")).as("in_i"))
    val w = Window.partitionBy(col("source")).orderBy(col("h"))
    val est = uni.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_u"), max(col("h")).as("theta_u"),
        sum(col("in_b") * col("in_i")).as("inter_sk"))
      .withColumn("est_union", when(col("n_u") < k, col("n_u").cast("double"))
        .otherwise(lit((k - 1).toLong * P).cast("double") / col("theta_u").cast("double")))
      .withColumn("est_inter", when(col("n_u") < k, col("inter_sk").cast("double"))
        .otherwise(col("inter_sk").cast("double") / lit(k.toDouble) * col("est_union")))
    val exInter = shI.alias("i")
      .join(shB.alias("b").hint("SHUFFLE_HASH"),
        col("i.source") === col("b.source") && col("i.h") === col("b.h"))
      .groupBy(col("i.source").as("source"))
      .agg(count(lit(1)).as("exact_inter0"))
    // spine = sources the INCREMENT carries (a base-only source yields
    // no new content and no row)
    estOf(skI, shI, "incr")
      .join(estOf(skB, shB, "base"), Seq("source"), "left")
      .join(est, Seq("source"), "left")
      .join(exInter, Seq("source"), "left")
      .select(col("source"),
        coalesce(col("exact_base"), lit(0L)).as("exact_base"),
        col("exact_incr"),
        coalesce(col("exact_inter0"), lit(0L)).as("exact_inter"),
        coalesce(col("est_base"), lit(0.0)).as("est_base"),
        col("est_incr"),
        coalesce(col("est_union"), col("est_incr")).as("est_union"),
        coalesce(col("est_inter"), lit(0.0)).as("est_inter"),
        coalesce(col("n_u"), lit(0L)).as("n_u"),
        coalesce(col("inter_sk"), lit(0L)).as("inter_sk"))
  }

  /** DuckDB mirror of [[kmvGenOverlap]] over the q_doc_kmvgen
    * generation convention: base = documents with doc_id % 3 ≠ 0;
    * increment = the fresh doc_id % 3 = 0 slice plus a verbatim
    * RE-CRAWL of the doc_id % 6 = 1 slice (⊂ base — the redundant half
    * the estimator must find). As distinct (source, h) sets the union
    * is the predicate OR.
    */
  def kmvGenOverlapSql(k: Int = KmvK): String = {
    val kU = (k - 1).toLong * P
    def estCte(side: String, src: String): String =
      s"""g${side}e AS (
         |  SELECT s.source, e.n_exact,
         |    CASE WHEN s.n_sk < $k THEN CAST(s.n_sk AS DOUBLE)
         |         ELSE CAST($kU AS DOUBLE) / CAST(s.theta AS DOUBLE) END AS est
         |  FROM (SELECT source, COUNT(*) AS n_sk, MAX(h) AS theta FROM g${side}k GROUP BY source) s
         |  JOIN (SELECT source, COUNT(*) AS n_exact FROM $src GROUP BY source) e USING (source))""".stripMargin
    s"""WITH gbsh AS (
       |  SELECT DISTINCT source, h FROM (
       |    SELECT source, ${Dedup.shingleUnnestSql} AS h
       |    FROM (SELECT source, ${Dedup.toksSql} AS toks
       |          FROM documents WHERE doc_id % 3 <> 0))),
       |gish AS (
       |  SELECT DISTINCT source, h FROM (
       |    SELECT source, ${Dedup.shingleUnnestSql} AS h
       |    FROM (SELECT source, ${Dedup.toksSql} AS toks
       |          FROM documents WHERE doc_id % 3 = 0 OR doc_id % 6 = 1))),
       |gbk AS (
       |  SELECT source, h FROM (
       |    SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
       |    FROM gbsh) t WHERE rn <= $k),
       |gik AS (
       |  SELECT source, h FROM (
       |    SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
       |    FROM gish) t WHERE rn <= $k),
       |${estCte("b", "gbsh")},
       |${estCte("i", "gish")},
       |guni AS (
       |  SELECT source, COUNT(*) AS n_u, MAX(h) AS theta_u,
       |    SUM(in_b * in_i) AS inter_sk
       |  FROM (
       |    SELECT source, h, MAX(fb) AS in_b, MAX(fi) AS in_i,
       |      ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
       |    FROM (
       |      SELECT source, h, 1 AS fb, 0 AS fi FROM gbk
       |      UNION ALL SELECT source, h, 0 AS fb, 1 AS fi FROM gik)
       |    GROUP BY source, h
       |    QUALIFY rn <= $k) t
       |  GROUP BY source),
       |gx AS (
       |  SELECT i.source, COUNT(*) AS exact_inter0
       |  FROM gish i JOIN gbsh b ON i.source = b.source AND i.h = b.h
       |  GROUP BY i.source)
       |SELECT ie.source,
       |  CAST(COALESCE(be.n_exact, 0) AS BIGINT) AS exact_base,
       |  CAST(ie.n_exact AS BIGINT) AS exact_incr,
       |  CAST(COALESCE(gx.exact_inter0, 0) AS BIGINT) AS exact_inter,
       |  COALESCE(be.est, 0.0) AS est_base,
       |  ie.est AS est_incr,
       |  COALESCE(CASE WHEN u.n_u < $k THEN CAST(u.n_u AS DOUBLE)
       |       ELSE CAST($kU AS DOUBLE) / CAST(u.theta_u AS DOUBLE) END, ie.est) AS est_union,
       |  COALESCE(CASE WHEN u.n_u < $k THEN CAST(u.inter_sk AS DOUBLE)
       |       ELSE CAST(u.inter_sk AS DOUBLE) / CAST($k AS DOUBLE)
       |         * (CASE WHEN u.n_u < $k THEN CAST(u.n_u AS DOUBLE)
       |            ELSE CAST($kU AS DOUBLE) / CAST(u.theta_u AS DOUBLE) END) END, 0.0) AS est_inter,
       |  CAST(COALESCE(u.n_u, 0) AS BIGINT) AS n_u,
       |  CAST(COALESCE(u.inter_sk, 0) AS BIGINT) AS inter_sk
       |FROM gie ie
       |LEFT JOIN gbe be ON ie.source = be.source
       |LEFT JOIN guni u ON ie.source = u.source
       |LEFT JOIN gx ON ie.source = gx.source""".stripMargin
  }

  /** DuckDB mirror of [[kmvOverlap]] — rebuilds the identical sketches
    * (ROW_NUMBER k-min ≡ the bounded-heap's k smallest distinct values)
    * and the same CASE-guarded estimators.
    */
  def kmvOverlapSql(k: Int = KmvK): String = {
    val kU = (k - 1).toLong * P
    s"""WITH ksh AS (
       |  SELECT DISTINCT source, h FROM (
       |    SELECT source, ${Dedup.shingleUnnestSql} AS h
       |    FROM (SELECT source, ${Dedup.toksSql} AS toks FROM documents))),
       |ksk AS (
       |  SELECT source, h FROM (
       |    SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
       |    FROM ksh) t
       |  WHERE rn <= $k),
       |kest AS (
       |  SELECT s.source, s.n_sk, s.theta, e.n_exact,
       |    CASE WHEN s.n_sk < $k THEN CAST(s.n_sk AS DOUBLE)
       |         ELSE CAST($kU AS DOUBLE) / CAST(s.theta AS DOUBLE) END AS est
       |  FROM (SELECT source, COUNT(*) AS n_sk, MAX(h) AS theta FROM ksk GROUP BY source) s
       |  JOIN (SELECT source, COUNT(*) AS n_exact FROM ksh GROUP BY source) e USING (source)),
       |kpairs AS (
       |  SELECT a.source AS src_a, b.source AS src_b
       |  FROM kest a CROSS JOIN kest b WHERE a.source < b.source),
       |ktag AS (
       |  SELECT src_a, src_b, h, MAX(fa) AS in_a, MAX(fb) AS in_b FROM (
       |    SELECT p.src_a, p.src_b, s.h, 1 AS fa, 0 AS fb
       |    FROM ksk s JOIN kpairs p ON s.source = p.src_a
       |    UNION ALL
       |    SELECT p.src_a, p.src_b, s.h, 0 AS fa, 1 AS fb
       |    FROM ksk s JOIN kpairs p ON s.source = p.src_b)
       |  GROUP BY 1, 2, 3),
       |kuni AS (
       |  SELECT src_a, src_b, COUNT(*) AS n_u, MAX(h) AS theta_u,
       |    SUM(in_a * in_b) AS inter_sk
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rn
       |        FROM ktag) t
       |  WHERE rn <= $k GROUP BY 1, 2),
       |kex AS (
       |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS exact_inter0
       |  FROM ksh a JOIN ksh b ON a.h = b.h AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT u.src_a, u.src_b,
       |  ea.n_exact AS exact_a, eb.n_exact AS exact_b, ea.est AS est_a, eb.est AS est_b,
       |  CAST(COALESCE(x.exact_inter0, 0) AS BIGINT) AS exact_inter,
       |  CAST(ea.n_exact + eb.n_exact - COALESCE(x.exact_inter0, 0) AS BIGINT) AS exact_union,
       |  CASE WHEN u.n_u < $k THEN CAST(u.n_u AS DOUBLE)
       |       ELSE CAST($kU AS DOUBLE) / CAST(u.theta_u AS DOUBLE) END AS est_union,
       |  CASE WHEN u.n_u < $k THEN CAST(u.inter_sk AS DOUBLE)
       |       ELSE CAST(u.inter_sk AS DOUBLE) / CAST($k AS DOUBLE)
       |         * (CASE WHEN u.n_u < $k THEN CAST(u.n_u AS DOUBLE)
       |            ELSE CAST($kU AS DOUBLE) / CAST(u.theta_u AS DOUBLE) END) END AS est_inter,
       |  CAST(u.n_u AS BIGINT) AS n_u, CAST(u.inter_sk AS BIGINT) AS inter_sk
       |FROM kuni u
       |LEFT JOIN kex x ON u.src_a = x.src_a AND u.src_b = x.src_b
       |JOIN kest ea ON u.src_a = ea.source
       |JOIN kest eb ON u.src_b = eb.source""".stripMargin
  }

}
