package graft

import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan regression tests: the scale-critical plan properties
  * (filter pushdown, column pruning, broadcast joins, map-side partial
  * aggregation, index-keyed candidate joins, shuffle-free narrow
  * pipelines) are asserted on the ACTUAL plans so a future change that
  * silently degrades one of them fails CI, not a manual Explain audit.
  */
class PlanQualitySpec extends SparkSpec {

  private def plan(name: String): String = withoutScanRebalance {
    val df = SparkEntry.queries(name)(spark, Sf)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("q1_agg: shipdate filter pushed to parquet, 7-column pruned scan, partial agg") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters:") && p.contains("LessThan(l_shipdate"))
    // one ':' per struct field (+1 for the "ReadSchema:" prefix) — robust
    // to parameterized types like decimal(12,2), unlike comma counting
    val readSchema = p.linesIterator.find(_.contains("ReadSchema:")).get
    assert(readSchema.count(_ == ':') == 8, s"expected 7 columns: $readSchema")
    assert("HashAggregate".r.findAllIn(p).size >= 2) // partial + final
  }

  test("q_prioline: timestamp-literal range predicates reach the parquet scan") {
    // the driver's parquet stamps isAdjustedToUTC=false micros; with NTZ
    // inference Spark scans TIMESTAMP_NTZ and the post-scan NTZ→LTZ cast
    // BLOCKS pushdown (UnwrapCastInBinaryComparison refuses tz-dependent
    // casts). Engine.tune pins inferTimestampNTZ.enabled=false so the scan
    // is TimestampType and the shipdate range prunes row groups — this
    // test fails if that setting regresses.
    import org.apache.spark.sql.types.TimestampType
    val p = plan("q_prioline")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters:")).mkString("\n")
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate") &&
      pushed.contains("LessThan(l_shipdate"),
      s"shipdate range must be pushed to the scan: $pushed")
    assert(graft.sources.Tables.lineitem(spark, Sf).schema("l_shipdate")
      .dataType === TimestampType, "scan must surface TimestampType, not NTZ")
  }

  test("q3_topk: dimension broadcast + TakeOrderedAndProject (no global sort)") {
    val p = plan("q3_topk")
    assert(p.contains("BroadcastHashJoin"))
    // TakeOrderedAndProject = per-partition heaps + driver merge; a
    // regression would plan a global Sort node instead
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.linesIterator.exists(_.trim.matches("""\**\s*\+?-?\s*Sort .*""")),
      "top-k must not plan a Sort")
  }

  test("ref_pipeline: pure narrow map — zero shuffles, no UDF fallback") {
    val p = plan("ref_pipeline")
    assert(!p.contains("Exchange"), "the validate/enrich pipeline must not shuffle")
    // formatted mode marks whole-stage-codegen operators with a "* " prefix
    assert(p.linesIterator.exists(_.trim.startsWith("* Project")), "pipeline left codegen")
    assert(!p.contains("BatchEvalPython"))
  }

  test("ref_enriched/ref_invalid: route filter reads the computed flag") {
    // PushDownPredicates substituting is_valid's validation tree into a
    // Filter at the scan re-evaluates the whole pipeline per branch
    // (~3x cost) — PushdownBarrier must keep the Filter above the
    // projection, so no Filter condition may contain a pyfloat parse
    for (name <- Seq("ref_enriched", "ref_invalid")) {
      val conds = plan(name).linesIterator.filter(_.contains("Condition :")).toSeq
      assert(conds.nonEmpty, s"$name: expected a Filter")
      assert(conds.forall(!_.contains("pyfloat")),
        s"$name: validation tree was pushed into the Filter")
    }
  }

  test("q_dedup_simhash: pair generation is an equi-join on (lang, band, key)") {
    val p = plan("q_dedup_simhash")
    val keyLine = p.linesIterator.filter(_.contains("Left keys"))
      .find(l => l.contains("band") && l.contains("vk"))
    assert(keyLine.isDefined, "expected a join keyed on the simhash band variant key")
    assert(keyLine.get.contains("lang"))
  }

  test("q_dedup_minhash: candidates come from an equi-join on (band, bh)") {
    val p = plan("q_dedup_minhash")
    assert(p.linesIterator.exists(l =>
      l.contains("Left keys") && l.contains("band") && l.contains("bh")))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_topk_agg: map-side partial aggregation of the bounded heap") {
    val p = plan("q_topk_agg")
    assert(p.contains("partial_topkbyvalue"))
    assert(p.contains("ObjectHashAggregate"))
  }

  test("q_doc_simhash: one shuffle total (SimHashAgg, no bit-explode)") {
    val p = plan("q_doc_simhash")
    assert("Exchange".r.findAllIn(p).size <= 2, // plan node + its detail line
      "simhash fingerprint should need a single shuffle")
    assert(p.contains("partial_simhashagg"))
  }

  test("q_doc_qfilter: two-pass threshold gate — no per-lang sort window") {
    val p = plan("q_doc_qfilter")
    // a percent_rank window partitioned by lang (cardinality 5) caps the
    // stage at 5 tasks and fully sorts each shard; the gate must instead
    // aggregate thresholds and broadcast them back
    assert(!p.contains("Window"), "quality gate must not plan a Window")
    assert(p.contains("BroadcastHashJoin"), "thresholds must broadcast")
  }

  test("q_doc_qcdf: CDF table broadcasts back; the only window is over the bounded hist") {
    val p = plan("q_doc_qcdf")
    // the per-doc path must stay narrow: the (|sources|·bins) cumulative
    // table joins back by broadcast, never a corpus-sized shuffle join
    assert(p.contains("BroadcastHashJoin"), "hist CDF must broadcast back")
    // exactly one Window operator (the cumulative sum over the hist) —
    // a second one would mean a per-doc rank crept back in
    val windows = p.linesIterator.count(_.trim.matches("""\(\d+\) Window.*"""))
    assert(windows == 1, s"expected exactly one bounded Window, got $windows")
  }

  test("q_disj: per-side OR brackets extracted and pushed to BOTH scans; broadcast join") {
    val p = plan("q_disj")
    assert(p.contains("BroadcastHashJoin"))
    val pushed = p.linesIterator.filter(_.contains("PushedFilters:")).mkString("\n")
    // the part-only disjunction (brand/size brackets) reaches the part scan…
    assert(pushed.contains("EqualTo(p_brand,Brand#12)") && pushed.contains("Or("),
      "part-side OR extraction must push to the part scan")
    // …and the lineitem-only disjunction (quantity brackets) reaches lineitem
    assert(pushed.contains("LessThanOrEqual(l_quantity,11.0)"),
      "lineitem-side OR extraction must push to the lineitem scan")
  }

  test("q_custdist: both aggregations partial-combine; orders aggregate before the join") {
    val p = plan("q_custdist")
    // per-custkey count (partial+final) and the distribution count
    // (partial+final) — 4 HashAggregates; the join reads aggregated rows
    assert("HashAggregate".r.findAllIn(p).size >= 4, "agg-before-join shape lost")
  }

  test("candidate self-joins are shuffle-hash, never a corpus broadcast") {
    // both sides of each candidate join are corpus-sized derived tables
    // with unknown post-checkpoint stats; a broadcast would ship the
    // corpus to every executor at scale
    for (name <- Seq("q_dedup_minhash", "q_dedup_simhash", "q_dedup_embed")) {
      val p = plan(name)
      assert(p.contains("ShuffledHashJoin"), s"$name lost the shuffle-hash join")
      assert(!p.contains("BroadcastHashJoin"), s"$name broadcasts a corpus-sized side")
    }
    // q_dedup_winnow serves the MEMOIZED checkpoint (its plan is a scan)
    // — pin the BUILDER's plan, which is what executes on a cold memo
    val builder = graft.operators.Dedup.winnowPairs(
      graft.operators.Dedup.corpus(graft.sources.Tables.documents(spark, Sf)))
      .queryExecution.executedPlan.toString
    assert(builder.contains("ShuffledHashJoin"),
      "winnowPairs builder lost the shuffle-hash join")
    assert(!builder.contains("BroadcastHashJoin"),
      "winnowPairs builder broadcasts a corpus-sized side")
  }

  test("corpus spines materialize once: ReusedExchange fires in the executed plans") {
    // the kmv/ppjoin/containment/simhash spines dropped their transient
    // localCheckpoints in favor of AQE exchange reuse over hand-
    // canonicalized subtrees (explicit no-op IsNotNull filters keep every
    // consumer subtree byte-identical). Reuse is brittle: any change that
    // forks a consumer subtree silently re-scans the corpus twice with no
    // result difference — so pin the EXECUTED (final adaptive) plan, where
    // AQE performs the reuse at stage materialization.
    for (name <- Seq("q_doc_kmv", "q_dedup_ppjoin", "q_dedup_contain",
        "q_dedup_simhash", "q_doc_kmvgen")) {
      val df = withoutScanRebalance(SparkEntry.queries(name)(spark, Sf))
      df.collect()
      val s = df.queryExecution.executedPlan.toString
      assert(s.contains("isFinalPlan=true"), s"$name: plan did not finalize")
      assert(s.contains("ReusedExchange"),
        s"$name: corpus subtree materialized twice (no ReusedExchange in the final plan)")
    }
  }

  test("q_doc_topngrams: map-side heap partials; string join-back shuffle-hash") {
    val p = plan("q_doc_topngrams")
    assert(p.contains("partial_topkbyvalue"), "bounded heap lost its map-side partial")
    assert(p.contains("ShuffledHashJoin") && !p.contains("BroadcastHashJoin"),
      "bigram-count join-back must not broadcast the vocabulary")
  }

  test("q_doc_surprisal: count-table probes shuffle-hash, never a vocab broadcast") {
    // bigram/unigram count tables are corpus-derived (vocabulary-sized
    // with unknown post-agg stats) — a stats-blind broadcast would ship
    // the vocabulary to every executor
    val p = plan("q_doc_surprisal")
    assert(p.contains("ShuffledHashJoin"), "count probe lost the shuffle-hash hint")
    assert(!p.contains("BroadcastHashJoin"), "vocabulary must not be broadcast")
  }

  test("q_doc_dsir: count-table probes shuffle-hash, never a vocab broadcast") {
    // same profile as q_doc_surprisal: the unigram count tables are
    // vocabulary-sized with unknown post-agg stats
    val p = plan("q_doc_dsir")
    assert(p.contains("ShuffledHashJoin"), "count probe lost the shuffle-hash hint")
    assert(!p.contains("BroadcastHashJoin"), "vocabulary must not be broadcast")
  }

  test("q_doc_topfrac: two grouped aggs with partials, no joins or windows") {
    val p = plan("q_doc_topfrac")
    assert(!p.contains("Join"), "top-bigram signal must not plan a join")
    assert(!p.contains("Window"), "argmax must be struct-max, not a rank window")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "lost map-side partials")
  }

  test("q_emb_kmeans: k-row centroids broadcast, corpus never broadcast") {
    // every assignment joins the corpus against a k-row centroid table:
    // the centroid side MUST broadcast (never shuffle the corpus against
    // 8 rows) and the corpus side must never be a build side
    val p = plan("q_emb_kmeans")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "centroid table lost its broadcast")
    assert(!p.contains("ShuffledHashJoin") && !p.contains("SortMergeJoin"),
      "assignment must not shuffle the corpus against k rows")
    // the update aggregations live behind the per-iteration lazy
    // checkpoints, so the final plan shows only the assignment shape
  }

  test("q_er_bestmatch: blocking self-joins shuffle-hash, never a record broadcast") {
    // both blocking passes self-join the full record set; a broadcast
    // would ship every record to every executor at 100 TB
    val p = plan("q_er_bestmatch")
    assert(p.contains("ShuffledHashJoin"), "blocking join lost the shuffle-hash hint")
    assert(!p.contains("BroadcastHashJoin"), "record set must not be broadcast")
  }

  test("q_doc_winnow: one fused narrow pass — no join, no window, no exchange") {
    // the whole winnow selection lives inside the native WinnowKeys
    // expression: scan → generate(explode) → project. Any Window or
    // Exchange here means the selection fell back to the shuffled
    // per-doc-sort spelling (kept only as the winnowWindowed cross-check)
    val p = plan("q_doc_winnow")
    for (j <- Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
      assert(!p.contains(j), s"winnowing must not join ($j)")
    assert(!p.contains("Window"), "selection must be fused, not a window")
    assert(!p.contains("Exchange"), "winnowing must not shuffle at all")
    assert(p.contains("winnow_keys"), "the native WinnowKeys must drive the plan")
  }

  test("q_emb_jlproj: one fused narrow pass — no join, no shuffle, native projection") {
    // projection + both norms are codegen'd expressions over the scan;
    // an Exchange here means the audit stopped being a map-only pass
    val p = plan("q_emb_jlproj")
    assert(!p.contains("Exchange"), "JL audit must not shuffle")
    assert(!p.contains("Join"), "JL audit must not join")
    assert(p.contains("sign_project"), "native SignProject must drive the plan")
  }

  test("q_emb_dimstats: one map-side-combinable agg; totals broadcast back") {
    // the (dim, value) explode must feed partial+final aggregation (no
    // raw-row shuffle) and the 64-row share denominator must broadcast
    val p = plan("q_emb_dimstats")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "partial+final agg missing")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "bounded totals must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "no corpus-wide join in a 64-row audit")
  }

  test("q_emb_decontam: probe-bucket equi-join; the store side is never broadcast") {
    // the eval side fans out to probe buckets and equi-joins the store on
    // the bucket id — a broadcast of the store side would be a
    // stats-blind broadcast of the whole vector store
    val p = plan("q_emb_decontam")
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      s"bucket join must shuffle on the key: ${p.linesIterator.take(14).mkString("\n")}")
    assert(!p.contains("CartesianProduct"), "decontam must never go all-pairs")
  }

  test("q_doc_heavy: candidate set broadcasts; no corpus-wide sort/shuffle join") {
    // pass 1 is a narrow MapPartitions sketch; pass 2 gates the grouped
    // count behind a BROADCAST of the ≤ k·partitions candidate union —
    // a sort-merge or shuffled-hash join here means the bounded side
    // stopped being treated as bounded
    val p = plan("q_doc_heavy")
    assert(p.contains("BroadcastHashJoin"), "candidate gate must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "no corpus-wide join allowed")
    assert(p.contains("MapPartitions"), "the MG sketch pass must be a narrow MapPartitions")
  }

  test("q_doc_qclf_score: scoring is a narrow pass over the checkpointed feature stage") {
    // train and score share one materialized feature table; scoring must
    // not re-tokenize (no Generate) and must not shuffle — it is a dot
    // product against a literal weight array over the checkpoint scan
    val p = plan("q_doc_qclf_score")
    assert(!p.contains("Generate"), "scoring must ride the feature stage, not re-explode tokens")
    assert(!p.contains("Exchange"), "scoring must not shuffle")
    assert(p.contains("ExistingRDD") || p.contains("Scan rdd"),
      s"scoring must read the checkpointed feature stage: ${p.linesIterator.take(12).mkString("\n")}")
  }

  test("q_ev_interval: trailing-window join is an equi-join on (user, bucket)") {
    val p = plan("q_ev_interval")
    assert(p.linesIterator.exists(l =>
      l.contains("keys") && l.contains("user_id") && l.contains("__bkt")),
      "expected join keys (user_id, __bkt)")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "interval join degenerated to a theta join")
  }

  test("q_dedup_semantic: within-cell self-join shuffle-hash; only the centroid probe is a product") {
    val p = plan("q_dedup_semantic")
    assert(p.contains("ShuffledHashJoin"), "within-cell pair join lost the shuffle-hash hint")
    // the ONLY allowed product is the bounded vectors × centroid-cells
    // probe (one row per cell) — same budget as q_emb_e2e; round-9
    // broadcast() hardening makes it STRUCTURALLY a broadcast product,
    // never an estimate-dependent CartesianProduct
    assert("BroadcastNestedLoopJoin|CartesianProduct".r.findAllIn(p).size <= 1,
      "only the bounded centroid probe may be a product join")
    assert(!p.contains("CartesianProduct"),
      "centroid probe degenerated to a cartesian (lost its broadcast())")
  }

  test("q_emb_ivf: centroid probe is a structural broadcast product, never cartesian") {
    // knnIvf's probe crossJoins the k-row cellCentroids table; every
    // cellCentroids consumer now wraps it in an explicit broadcast() so
    // the no-cartesian property is STRUCTURAL, not an accident of size
    // estimates (the ivfRecallCurve lesson: PlanSweepSpec once caught a
    // stats-blind CartesianProduct on derived inputs)
    val p = plan("q_emb_ivf")
    assert(p.contains("BroadcastNestedLoopJoin"), "centroid probe lost its broadcast")
    assert(!p.contains("CartesianProduct"), "probe degenerated to a cartesian")
  }

  test("q_emb_pq: codebook+queries broadcast, heap partials, no pair-stream shuffle") {
    val p = plan("q_emb_pq")
    // the ADC scan must shrink to k rows per (query, partition) BEFORE
    // its only shuffle — the bounded-heap partial aggregation
    assert(p.contains("partial_topkbyvalue"), "ADC top-k lost the map-side heap")
    // tiny sides (codebook, query distance tables) broadcast; the
    // |corpus|·|Q| pair stream itself must never be exchange-shuffled
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "PQ scoring must not shuffle the corpus for a join")
  }

  test("q_doc_contamfrac: flagging join is shuffle-hash on the shingle hash") {
    val p = plan("q_doc_contamfrac")
    assert(p.contains("ShuffledHashJoin"), "eval-overlap join lost the shuffle-hash hint")
    assert(!p.contains("BroadcastHashJoin"), "stats-blind broadcast of the eval shingle set")
  }

  test("q_doc_boiler: flagging join is shuffle-hash, never a boiler-set broadcast") {
    val p = plan("q_doc_boiler")
    assert(p.contains("ShuffledHashJoin"), "boiler join lost the shuffle-hash hint")
    assert(!p.contains("BroadcastHashJoin"), "corpus-derived boiler set was broadcast")
  }

  test("q_doc_sourcecap: bounded-heap partial aggregation, no per-source sort") {
    val p = plan("q_doc_sourcecap")
    assert(p.contains("partial_topkbyvalue"))
    assert(!p.contains("Window"), "source cap must not plan a rank window")
  }

  test("q_dedup_embed: one dot product per candidate pair") {
    // without the barrier the pushed cos>=minCos folds SeqDot into the
    // join condition AND keeps it in the projection — 2 evaluation sites
    val n = "(?i)seqdot".r.findAllIn(plan("q_dedup_embed")).size
    assert(n <= 1, s"expected a single SeqDot site in the plan, found $n")
  }

  test("q_window_rangeframe / q_window_rank2: high-cardinality partition key") {
    assert(plan("q_window_rangeframe").contains("o_custkey"))
    assert(plan("q_window_rank2").contains("o_custkey"))
  }

  test("q_corr_subq: correlated scalar subquery decorrelates to a join") {
    val p = plan("q_corr_subq")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      "decorrelation must plan an equi-join on the correlation key")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("no interpreted python / cartesian anywhere in the oracle-checked plans") {
    for (name <- Seq("q5_join", "q_asof", "q_rangejoin", "q_dedup_embed", "q_emb_ann")) {
      val p = plan(name)
      assert(!p.contains("BatchEvalPython"), name)
      assert(!p.contains("CartesianProduct"), s"$name must not plan a cartesian product")
    }
  }

  test("q_doc_oov: vocab side broadcast, probe stays narrow until the doc roll-up") {
    val p = plan("q_doc_oov")
    // the k-row vocabulary must build a BroadcastHashJoin (it is constant-
    // size by construction); a shuffle-hash regression would shuffle the
    // ~30×-corpus token stream on the WORD instead of the doc roll-up key
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("TakeOrderedAndProject"), "vocab must use per-partition heaps")
    assert("HashAggregate".r.findAllIn(p).size >= 4) // partial+final × (vocab, rollup)
  }

  test("q_ev_latest: map-side max_by partials, one shuffle, no window") {
    val p = plan("q_ev_latest")
    assert(!p.contains("Window"), "latest-per-key must not plan a window")
    // partial_max_by BEFORE the exchange = each map partition shrinks to
    // |its users| rows pre-shuffle; the row_number-window form ships every
    // event. (The agg is a SortAggregate — struct buffers aren't hash-
    // aggregable — but its sort key is just user_id, and shuffle VOLUME is
    // the property that matters at scale.)
    assert(p.contains("partial_max_by"), "map-side combine lost")
    // formatted mode prints each node twice (tree + "(n) Node" details) —
    // count the numbered detail headers
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size == 1,
      "exactly one shuffle (on user_id)")
  }

  test("q_doc_budget: quality guard stays above the scoring projection") {
    // same PushDownPredicates trap as the quality gate: a pushed-down
    // `quality IS NOT NULL` re-derives the tokenize per stopword term
    val conds = plan("q_doc_budget").linesIterator
      .filter(_.contains("Condition :")).toSeq
    assert(conds.nonEmpty)
    assert(conds.forall(!_.contains("tokenize")),
      "scoring tree was pushed into a Filter")
  }

  test("q_ev_anomaly: per-user stats broadcast back, no window") {
    val p = plan("q_ev_anomaly")
    assert(!p.contains("Window"), "anomaly flags must come from an agg, not a window")
    assert(p.contains("BroadcastHashJoin"), "|users|-row stats side must broadcast")
  }

  test("q_dedup_minsim: estimator verify plans no shingle stream at all") {
    // the whole point of the estimator: one row per candidate off the
    // signatures — a shingle explode sneaking back in would re-add the
    // ~30×-corpus stream the estimator exists to avoid. The signature
    // pipeline itself tokenizes once per doc (scan side), so pin the
    // GENERATOR count: exactly the corpus-side explodes, none pair-side
    val p = plan("q_dedup_minsim")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("shufflehashjoin") || p.contains("ShuffledHashJoin"),
      "candidate/signature joins must stay shuffle-hash")
  }

  test("q_doc_cdc: pure narrow map — zero shuffles, no UDF fallback") {
    // the chunk stream is explode(cdc_chunks(text)): one generator over
    // the scan; a token stream or per-doc window sneaking in would add
    // an exchange before anything aggregates
    val p = plan("q_doc_cdc")
    assert(!p.contains("Exchange"), "CDC chunking must not shuffle")
    assert(!p.contains("Window") && !p.contains("BatchEvalPython"))
  }

  test("q_dedup_para: keeper min stays on the codegen hash-agg path, no joins") {
    // the packed-long keeper min exists precisely so this stage does NOT
    // fall to sort-based aggregation (struct-min has a non-primitive
    // buffer); the whole query is two aggs, no join, no window
    val p = plan("q_dedup_para")
    assert(!p.contains("SortAggregate"),
      "keeper aggregation fell off the hash path")
    assert(p.contains("HashAggregate") && p.contains("partial_min"),
      "expected a map-side partial min per block")
    assert(!p.contains("Join") && !p.contains("Window"))
  }

  test("q_dedup_spanrm: hash-agg keeper min; occurrence probe shuffle-hash, never broadcast") {
    // same packed-long discipline as q_dedup_para for the keeper table;
    // the occurrence→keeper probe is a corpus-derived block table on both
    // sides — a stats-blind broadcast would ship a corpus-sized table
    val p = plan("q_dedup_spanrm")
    assert(!p.contains("SortAggregate"), "keeper aggregation fell off the hash path")
    assert(p.contains("partial_min"), "expected a map-side partial min per block")
    assert(p.contains("ShuffledHashJoin"), "keeper probe lost the shuffle-hash hint")
    assert(!p.contains("BroadcastHashJoin"), "block tables must not broadcast")
    assert(!p.contains("Window"), "first-occurrence must be the min agg, not a rank window")
  }

  test("q_doc_colloc: vocab probes shuffle-hash, heap top-k, no global sort") {
    val p = plan("q_doc_colloc")
    assert("ShuffledHashJoin".r.findAllIn(p).size >= 2,
      "both unigram probes must stay shuffle-hash")
    assert(!p.contains("BroadcastHashJoin"), "vocabulary must not be broadcast")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must be per-partition heaps, not a global Sort")
  }

  test("q_doc_sbackoff: count-table probes shuffle-hash; N is the only broadcast") {
    // bigram/unigram count tables are vocabulary-sized with unknown
    // post-agg stats (same profile as surprisal/dsir); the token total is
    // a 1-row aggregate and MUST broadcast
    val p = plan("q_doc_sbackoff")
    assert("ShuffledHashJoin".r.findAllIn(p).size >= 3,
      "all three count probes must stay shuffle-hash")
    assert(!p.contains("BroadcastHashJoin"), "vocabulary must not be broadcast")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the 1-row token total must join as a broadcast")
  }

  test("q_ev_features: one grouped pass, no joins or windows") {
    // the feature-store build must stay a single aggregation pipeline
    // (the distinct-day count may add an Expand, never a join/window)
    val p = plan("q_ev_features")
    assert(!p.contains("Join"), "feature assembly must not plan a join")
    assert(!p.contains("Window"), "feature assembly must not plan a window")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "lost map-side partials")
  }

  test("q_emb_hardneg: bounded query side broadcasts; corpus never a build side") {
    // the label-inequality pair join is a theta join: the BOUNDED query
    // subset must be the broadcast side (same contract as q_emb_knn);
    // a shuffle or cartesian of the corpus against itself would be the
    // scale-killer shape
    val p = plan("q_emb_hardneg")
    assert(p.contains("BroadcastNestedLoopJoin"), "query side lost its broadcast")
    assert(!p.contains("CartesianProduct"), "must never plan a cartesian")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "pair enumeration must not shuffle the corpus")
  }

  test("q_emb_stale: frozen-centroid assignment is broadcast + one grouped agg") {
    val p = plan("q_emb_stale")
    assert(p.contains("BroadcastNestedLoopJoin"), "centroid table lost its broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "assignment must not shuffle the corpus against k rows")
  }

  test("composition queries stay index-joined end to end") {
    // building q_pipeline_e2e runs the eager duplicateClusters loop; the
    // remaining plan must still be equi-joins only
    val p = plan("q_pipeline_e2e")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // q_emb_e2e's ONLY product is the deliberate survivors × centroid-cells
    // probe (cells are a handful of rows) — nothing else may plan nested
    val e = plan("q_emb_e2e")
    assert("BroadcastNestedLoopJoin|CartesianProduct".r.findAllIn(e).size <= 2,
      "only the bounded centroid probe may be a product join")
    assert(!e.contains("CartesianProduct"),
      "centroid probe degenerated to a cartesian (lost its broadcast())")
  }

  test("q_mincost: gates pushed to scans, cost agg materialized once, dims broadcast") {
    val p = plan("q_mincost")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters:")).mkString("\n")
    assert(pushed.contains("EqualTo(p_type,ECONOMY)") &&
      pushed.contains("EqualTo(r_name,EUROPE)"),
      s"part-type and region gates must reach the scans: $pushed")
    // the (part, supplier) cost table is consumed twice (per-part MIN +
    // join-back): the lazy checkpoint must keep lineitem scanned ONCE —
    // the serving plan may contain no lineitem columns
    assert(!p.linesIterator.exists(l => l.contains("ReadSchema:") && l.contains("l_")),
      "cost subtree inlined twice (lineitem rescanned)")
    // decorrelation = agg-before-join: the per-part MIN aggregates
    // (partial + final) feed an equi-join, never a correlated rescan
    assert("HashAggregate".r.findAllIn(p).size >= 2, "lost the decorrelated MIN agg")
    assert(p.contains("BroadcastHashJoin"), "dimension joins must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_retrev: returnflag + date window pushed, agg before dim joins, top-k sort") {
    val p = plan("q_retrev")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters:")).mkString("\n")
    assert(pushed.contains("EqualTo(l_returnflag,R)"),
      s"returnflag gate must reach the lineitem scan: $pushed")
    assert(pushed.contains("GreaterThanOrEqual(o_orderdate") &&
      pushed.contains("LessThan(o_orderdate"),
      s"orderdate window must reach the orders scan: $pushed")
    // revenue aggregates per custkey (partial + final) BEFORE customer/
    // nation are joined — the dims see ≤ |customers| rows, not lineitem
    assert("HashAggregate".r.findAllIn(p).size >= 2, "lost the pre-join revenue agg")
    // top 20 must be TakeOrderedAndProject (per-partition top-k),
    // never a global Sort + Limit
    assert(p.contains("TakeOrderedAndProject"), "top-k degenerated to a full sort")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_disjrev: the brand/size disjunction pushes to the part scan; one join, no union") {
    val p = plan("q_disjrev")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters:")).mkString("\n")
    // Q19's optimizer property: the part-only conjuncts of every OR
    // branch reach the scan as one pushed disjunction (row-group pruning
    // on an OR), not as a post-scan filter
    assert(pushed.contains("Or(") && pushed.contains("EqualTo(p_brand,Brand#1)") &&
      pushed.contains("EqualTo(p_brand,Brand#3)"),
      s"part disjunction must be pushed to the scan: $pushed")
    assert(p.contains("BroadcastHashJoin"), "part side must broadcast")
    assert(!p.contains("Union"), "disjunction must not plan as a union of scans")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "lost map-side partials")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_bigorders: qualifying agg before the joins") {
    val p = plan("q_bigorders")
    // the per-order Σqty aggregate (partial + final) runs BEFORE any
    // order/customer row is touched — Q18's HAVING gate as agg-semi
    assert("HashAggregate".r.findAllIn(p).size >= 2, "lost the qualifying agg")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_topsupplier: shared aggregate materialized once; 1-row max broadcasts back") {
    val p = plan("q_topsupplier")
    // the lazy checkpoint puts a LogicalRDD boundary under both consumers
    // — no parquet rescan of lineitem may survive in the serving plan
    // (the supplier dim scan is the ONLY parquet scan allowed)
    assert(!p.linesIterator.exists(l => l.contains("ReadSchema:") && l.contains("l_")),
      "per-supplier aggregate subtree was inlined twice (lineitem rescanned)")
    assert(p.contains("BroadcastHashJoin"), "max row / supplier dim must broadcast")
    assert(!p.contains("Window"), "argmax must not plan a single-partition global Window")
  }

  test("q_bigorders: lineitem aggregates to per-order rows BEFORE any join; 2-column scan") {
    val p = plan("q_bigorders")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "qty sum lost its map-side partial")
    val lineSchema = p.linesIterator.filter(_.contains("ReadSchema:"))
      .find(_.contains("l_orderkey")).get
    assert(lineSchema.count(_ == ':') == 3, // "ReadSchema:" + 2 fields
      s"lineitem scan must prune to (l_orderkey, l_quantity): $lineSchema")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_noorders: dormancy is a LeftAnti join; date filter pushed to the orders scan") {
    val p = plan("q_noorders")
    assert(p.contains("LeftAnti"), "NOT EXISTS must plan as an anti join")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters:")).mkString("\n")
    assert(pushed.contains("GreaterThanOrEqual(o_orderdate"),
      "the 1999 cutoff must reach the orders parquet scan")
  }

  test("q_partshare: one shuffle feeds both total and filter; no second lineitem scan") {
    val p = plan("q_partshare")
    assert(!p.contains("Scan parquet"), "per-part aggregate subtree was inlined twice")
    assert(!p.contains("Window"), "share-of-total must not plan a global Window")
  }

  test("q_unpivot: stack is a narrow Generate — no shuffle; quantity filter pushed to scan") {
    val p = plan("q_unpivot")
    // Spark plans stack() as a codegen'd Generate (3 output rows per
    // input row) — same narrow row-multiplying shape as an Expand
    assert(p.linesIterator.exists(_.trim.startsWith("* Generate")),
      "stack must plan as a codegen'd Generate")
    assert(!p.contains("Exchange"), "unpivot must not shuffle")
    assert(p.linesIterator.filter(_.contains("PushedFilters:"))
      .exists(_.contains("GreaterThan(l_quantity")),
      "the quantity filter must reach the parquet scan below the Expand")
  }

  test("q_dedup_contain: the verify token stream is candidate-bounded (semi-join before the pair joins)") {
    // the containment verify must reduce the corpus token stream to
    // candidate docs FIRST — without the semi-join, both pair-join sides
    // and the size agg walk the full corpus token stream per query and
    // verify cost scales with the corpus instead of the candidate set.
    // (Pinned on the pre-checkpoint stage: q_dedup_contain's own plan
    // hides it behind the localCheckpoint boundary.)
    import spark.implicits._
    val c = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    val cand = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val p = graft.operators.Dedup.containmentVerifyTok(c, cand)
      .queryExecution.executedPlan.toString
    assert(p.contains("LeftSemi"),
      s"containment verify must semi-join the token stream on candidate ids:\n$p")
  }

  test("scale-adaptive shuffle width: AQE starts wide, coalesces down; numbered repartition exempt") {
    val c = spark.conf
    // the big-cluster posture: initial shuffle width well ABOVE the base
    // parallelism, byte-based coalescing shrinks it per query — a larger
    // corpus fills more of the initial partitions instead of needing a
    // manual spark.sql.shuffle.partitions bump (SHUFFLE_HASH build maps
    // at fixed width grow linearly with the corpus and OOM)
    assert(c.get("spark.sql.adaptive.enabled") == "true")
    assert(c.get("spark.sql.adaptive.coalescePartitions.enabled") == "true")
    val initial = c.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum").toInt
    assert(initial === 16 * spark.sparkContext.defaultParallelism)
    assert(initial > c.get("spark.sql.shuffle.partitions").toInt,
      "initial width must exceed the base width or AQE has nothing to coalesce")
    import org.apache.spark.sql.functions.col
    // behavioral: a small grouped agg coalesces far below the initial width
    val agg = spark.range(100000).toDF("x")
      .withColumn("k", col("x") % 97).groupBy("k").count()
    val parts = agg.rdd.getNumPartitions
    assert(parts < initial, s"AQE did not coalesce: $parts partitions")
    // the exemption that keeps compute-bound tiny shuffles parallel: an
    // explicitly NUMBERED repartition is not coalesced (the audit-sweep
    // spread relies on this — byte-based coalescing would fold a
    // tiny-but-CPU-heavy stage to one task)
    val fixed = spark.range(1000).toDF("x").repartition(7, col("x"))
    assert(fixed.rdd.getNumPartitions === 7,
      "numbered repartition must keep its width under AQE")
  }

  test("runtime bloom filter: selective dim predicate injects might_contain on the fact side") {
    // At 100 TB a shuffle join against a selectively-filtered dimension
    // moves the whole fact table through the exchange; Spark's
    // InjectRuntimeFilter builds a bloom filter from the dim's join keys
    // and drops non-matching fact rows AT THE SCAN STAGE, before the
    // shuffle. The rule only fires when the fact scan exceeds
    // applicationSideScanSizeThreshold (10 GB default — exactly the scale
    // gate we want in production), so the pin lowers it to 0 to prove the
    // engine's plans are injection-eligible: equi-keys exposed, selective
    // predicate on the creation side, shuffle join shape.
    val c = spark.conf
    val kEnabled = "spark.sql.optimizer.runtime.bloomFilter.enabled"
    val kThresh = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    val kBcast = "spark.sql.autoBroadcastJoinThreshold"
    assert(c.get(kEnabled) == "true",
      "runtime bloom filtering must stay on by default — it is the scan-stage prune at scale")
    val prevThresh = c.get(kThresh)
    val prevBcast = c.get(kBcast)
    try {
      c.set(kThresh, "0")
      // at 100 TB the dim would exceed the broadcast threshold naturally;
      // at test scale force the shuffle-join shape the same way. (A manual
      // SHUFFLE_HASH/MERGE hint suppresses injection — verified empirically
      // — so the engine's hint-free dim joins are exactly the eligible shape.)
      c.set(kBcast, "-1")
      import spark.implicits._
      // rebalance-off: InjectRuntimeFilter's probe pattern does not look
      // through a repartition, and the small-scan conditioner never
      // coexists with a >10 GB fact scan anyway — this pin is the
      // at-scale (conditioner-off) plan shape.
      val p = withoutScanRebalance {
        val fact = graft.sources.Tables.lineitem(spark, Sf)
        val dim = graft.sources.Tables.part(spark, Sf).filter($"p_size" === 1)
        val j = fact.join(dim, $"l_partkey" === $"p_partkey")
          .select($"l_orderkey", $"p_name")
        j.queryExecution.optimizedPlan.toString
      }
      assert(p.contains("might_contain"),
        s"runtime bloom filter was not injected on the fact side:\n$p")
    } finally {
      c.set(kThresh, prevThresh)
      c.set(kBcast, prevBcast)
    }
  }

  test("q_revband: every predicate reaches the parquet scan; no join, two-phase agg") {
    val p = plan("q_revband")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters:")).mkString
    for (f <- Seq("l_shipdate", "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)", "LessThan(l_quantity,24.0)"))
      assert(pushed.contains(f), s"predicate not pushed: $f\n$pushed")
    assert(!p.contains("Join"))
    assert("HashAggregate".r.findAllIn(p).size >= 2) // partial + final
  }

  test("q_lateship: EXISTS plans as a semi-join emitting each order once") {
    val p = plan("q_lateship")
    assert(p.contains("LeftSemi"), "EXISTS must plan as a left-semi join")
    // the semi-join output feeds the agg directly — no distinct and no
    // row-multiplying inner join on the many-lines-per-order side
    assert(!p.contains("Inner"), "no fan-out inner join may reach the agg")
  }

  test("q_smallqty: the brand-reduced lineitem is scanned once (checkpoint shares it)") {
    val p = plan("q_smallqty")
    // both join inputs (per-part agg + probe side) must come from the
    // SAME materialized subtree: exactly 0 or 1 parquet scans of lineitem
    // in the optimized plan (1 pre-materialization, 0 after)
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("lineitem"))
    assert(scans <= 1, s"brand-reduced lineitem must not be scanned per consumer:\n$p")
  }

  test("q_qualsupp: supplier dim is probed by the AGGREGATED qualification (semi)") {
    val p = plan("q_qualsupp")
    assert(p.contains("LeftSemi"), "qualification must flow in as a semi probe")
    // qty aggregation happens BEFORE the semi-join: partial + final
    // HashAggregate on the lineitem side of the probe
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "per-supplier quantity must aggregate map-side before the probe")
  }

  test("q_doc_search: join-free posting probe — term filter below the one grouped agg") {
    val p = plan("q_doc_search")
    assert(!p.contains("Join"), "per-term semi-join chain crept in")
    assert(p.linesIterator.exists(l => l.contains("Filter") || l.contains("Condition")),
      "expected the query-term IN filter")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "bounded agg lost its partial")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"))
  }

  test("q_doc_overlap: intersection is shuffle-hash on h; shingle set materialized once") {
    val p = plan("q_doc_overlap")
    assert(p.contains("ShuffledHashJoin"), "h-intersection lost the shuffle-hash join")
    // the only broadcast is the ≤|sources|-row denominator
    assert("BroadcastHashJoin".r.findAllIn(p).size <= 2,
      "a corpus-sized shingle set is being broadcast")
    // the lazy checkpoint feeds both sides + denominator — no text rescan
    assert(!p.linesIterator.exists(l => l.contains("ReadSchema:") && l.contains("text")),
      "shingle-set subtree inlined more than once (documents rescanned)")
  }

  test("q_natshare: EU gate is a semi join; dimension hops broadcast; no product joins") {
    val p = plan("q_natshare")
    assert(p.contains("LeftSemi"), "customer-region gate must be a semi join")
    assert(p.contains("BroadcastHashJoin"), "nation/region/supplier hops must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }
}
