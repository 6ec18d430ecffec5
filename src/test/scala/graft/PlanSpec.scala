package graft

/** Plan-regression guards (SURVEY.md §4): the physical properties the
  * 100 TB design depends on must be visible in the optimized plans —
  * pushdown reaching the scan, broadcasts on dims, map-side partial
  * aggregation, rank-limit pushdown. Catching a regression here is cheaper
  * than finding it in a bench.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf001)
      .queryExecution.executedPlan.toString

  private def formatted(name: String): String =
    SparkEntry.queries(name)(spark, sf001).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("filters and column pruning reach the parquet scan (P6)") {
    val f = formatted("p6_filter_project")
    assert(f.contains("PushedFilters"), "no pushed filters section")
    assert(f.contains("GreaterThanOrEqual(l_shipdate") &&
      f.contains("EqualTo(l_returnflag,R)"), s"filters not pushed:\n$f")
    // pruned read schema: only the 7 referenced columns, not the full table
    val schemaLine = f.linesIterator.find(_.contains("ReadSchema")).get
    assert(!schemaLine.contains("l_tax"), "scan reads unreferenced columns")
  }

  test("dim-chain joins broadcast (J1)") {
    val p = plan("j1_region_customer_rollup")
    assert(p.contains("BroadcastHashJoin"), "dims not broadcast")
    assert(!p.contains("SortMergeJoin"), "dim join fell back to sort-merge")
  }

  test("fact-fact join broadcasts the smaller side at this SF (J2)") {
    val p = plan("j2_top_orders_by_revenue")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"))
  }

  test("typed vector aggregation runs with partial (map-side) aggregation") {
    val p = plan("vx_fast_centroid_cosine")
    // partial + final ObjectHashAggregate pair around the exchange
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"no partial aggregation:\n$p")
  }

  test("per-group rank caps push a group limit below the window sort") {
    val p = plan("vx_cka_group_matrix")
    assert(p.contains("WindowGroupLimit"), "rank filter not pushed to group limit")
  }

  test("global top-k is TakeOrdered, not full sort") {
    val p = plan("l3_top10_orders")
    assert(p.contains("TakeOrderedAndProject"), s"full sort for LIMIT:\n$p")
  }

  test("centroid-cosine self-join reuses one exchange instead of caching") {
    val df = SparkEntry.queries("v_centroid_cosine_matrix")(spark, sf001)
    df.collect() // AQE finalizes reuse decisions at execution
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("TableCacheQueryStage") ||
      p.contains("ReusedQueryStage"),
      s"sums subtree recomputed per branch:\n$p")
  }

  test("near-dup pair generation is windowless and distincts bare id pairs") {
    val p = SparkEntry.queries("vx_dedup_embedding_canonical")(spark, sf001)
      .queryExecution.executedPlan.toString
    // the dedup candidate path must never rank (no per-query top-k window)
    // and must never shuffle vector payloads through the pair-distinct:
    // HashAggregate (distinct) over two long ids, vectors re-attached after
    assert(!p.contains("Window"), s"dedup path ranks candidates:\n$p")
  }

  test("bucketed co-located join reads with no exchange on the join key") {
    val suffix = math.abs(sf001.hashCode).toString
    // force the bucketed tables to exist (memoized per corpus dir)
    SparkEntry.queries("jx_bucketed_order_revenue")(spark, sf001).collect()
    // at this tiny SF the planner would broadcast instead (and rightly so) —
    // disable it to expose the shape that matters at fact×fact scale: a
    // sort-merge join with NO Exchange, both sides' bucketing consumed
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val joined = graft.sources.Bucketing.coLocatedJoin(
        spark, s"li_bucketed_$suffix", s"o_bucketed_$suffix", "l_orderkey")
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"not a sort-merge join:\n$p")
      assert(!p.contains("Exchange"), s"bucketed join still shuffles:\n$p")
    } finally spark.conf.set(key, prev)
  }

  test("int8 ANN scan broadcasts queries and never shuffles the corpus pre-rank") {
    val df = SparkEntry.queries("vx_ann_int8_top5")(spark, sf001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n$p")
    // two shuffles allowed: the per-query rank window and the final output
    // sort — the corpus must reach the scoring join without shuffling
    // (BroadcastExchange on the query side is the point, not a shuffle)
    val shuffles = "Exchange (hash|range)partitioning".r.findAllIn(p).size
    assert(shuffles <= 2, s"corpus shuffles before scoring ($shuffles shuffles):\n$p")
    assert(p.contains("WindowGroupLimit"), "top-k not group-limited")
  }

  test("IVF probe has ONE hash exchange between candidates and the rank cut") {
    // r14: the defensive .distinct() on the scored relation is gone — a
    // corpus vector lives in exactly one cell and the probe emits
    // distinct cells, so (query, neighbor) pairs cannot duplicate. The
    // only hash exchange left is the rank window's query_id partitioning
    // (plus the final output range sort); a second hash exchange means
    // the dead dedup shuffle crept back in
    val df = SparkEntry.queries("vx_ann_ivf_probe_top5")(spark, sf001)
    val p = df.queryExecution.executedPlan.toString
    val hashShuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashShuffles == 1,
      s"expected exactly the rank window's exchange, got $hashShuffles:\n$p")
    assert(p.contains("WindowGroupLimit"), "top-k not group-limited")
  }

  test("IVF-PQ probe broadcasts the query side; the code corpus never pre-shuffles") {
    val df = SparkEntry.queries("vx_ann_ivf_pq_top5")(spark, sf001)
    val p = df.queryExecution.executedPlan.toString
    // the exploded (query, cell) side is tiny and must be the broadcast
    // build side of the cell equi-join — the 8-byte-code inverted file
    // is the big side and reaches ADC scoring without shuffling
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"query side not broadcast:\n$p")
    // allowed shuffles: ADC rank window, refine rank window, final sort —
    // the candidate-distinct is gone (r14) and the corpus side itself
    // must not add one
    val shuffles = "Exchange (hash|range)partitioning".r.findAllIn(p).size
    assert(shuffles <= 3, s"PQ probe shuffles too much ($shuffles):\n$p")
    assert(p.contains("WindowGroupLimit"), "top-k not group-limited")
  }

  test("SRP-Hamming scan is UDF-free codegen: queries broadcast, corpus unshuffled") {
    val df = SparkEntry.queries("vx_ann_hamming_top5")(spark, sf001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"query side not broadcast:\n$p")
    // the Hamming scoring projection — the per-candidate hot path, executed
    // |corpus|·|Q| times — must be built-in xor+bit_count with no UDF on
    // its line (the sketch-build UDF may appear on the tiny broadcast
    // query side; the corpus side reads the memoized sketch columns)
    val scoring = p.linesIterator.filter(_.contains("bit_count")).toSeq
    assert(scoring.nonEmpty, s"no bit_count scoring in plan:\n$p")
    scoring.foreach(l => assert(!l.contains("UDF"), s"UDF in the scoring path: $l"))
  }

  test("token-rarity frequency table broadcasts back to the token stream") {
    val p = plan("t_token_rarity_score")
    // vocab-bounded side must be the build side of a broadcast join at this
    // SF (at larger vocab AQE may choose SMJ — still keyed on the token)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"))
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"frequency/doc aggregations lost partial aggregation:\n$p")
  }

  test("bloom semi-join filters the large side before the exchange") {
    val df = SparkEntry.queries("jx_bloom_semi_lineitems")(spark, sf001)
    val p = df.queryExecution.executedPlan.toString
    // the UDF membership filter must sit directly over the scan (map-side),
    // not after the join: find a Filter containing the UDF below any join
    val filterIdx = p.indexOf("UDF(l_suppkey")
    val joinIdx = math.max(p.indexOf("SortMergeJoin"), p.indexOf("BroadcastHashJoin"))
    assert(filterIdx > 0, s"no bloom membership filter in plan:\n$p")
    assert(joinIdx < filterIdx,
      s"bloom filter not below the join (join@$joinIdx, filter@$filterIdx):\n$p")
  }

  test("q17-shape per-part aggregate is brand-pruned and never hint-broadcast") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val qe = SparkEntry.queries("j_tpch_q17ish_small_qty_revenue")(spark, sf001)
      .queryExecution
    val opt = qe.optimizedPlan
    // the avg_qty aggregate must consume a JOINED (brand-pruned) lineitem,
    // not the raw scan — aggregating all of lineitem does 50× the work and
    // produces a |part|-sized relation
    val avgAggs = opt.collect {
      case a: Aggregate if a.aggregateExpressions.exists(_.name == "avg_qty") => a
    }
    assert(avgAggs.nonEmpty, s"no avg_qty aggregate in plan:\n$opt")
    avgAggs.foreach { a =>
      assert(a.collectFirst { case j: Join => j }.isDefined,
        s"per-part aggregate input is not brand-pruned:\n$a")
    }
    // no broadcast hint may force an Aggregate subtree to the build side —
    // that relation's row count grows linearly with |part|; AQE must size it
    opt.collect { case j: Join => j }.foreach { j =>
      def aggUnder(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        p.collectFirst { case a: Aggregate => a }.isDefined
      if (j.hint.leftHint.exists(_.strategy.isDefined))
        assert(!aggUnder(j.left), s"broadcast hint forces an aggregate side:\n$j")
      if (j.hint.rightHint.exists(_.strategy.isDefined))
        assert(!aggUnder(j.right), s"broadcast hint forces an aggregate side:\n$j")
    }
  }

  test("bottom-k sample aggregates partially before the exchange") {
    val p = plan("t_sample_bottomk_per_source")
    // the whole point of the Aggregator form: a partial ObjectHashAggregate
    // runs BELOW the exchange so only k rows per task per group shuffle —
    // the window formulation (one Window over all rows) must not appear
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"no map-side partial bottom-k:\n$p")
    assert(!p.contains("Window"), s"sample fell back to a window sort:\n$p")
  }

  test("q12 conditional aggregation folds the CASE into one agg pair") {
    val p = plan("j_tpch_q12ish_priority_counts")
    assert("HashAggregate".r.findAllIn(p).size == 2,
      s"CASE split into extra agg passes:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"orders side not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"needless sort-merge:\n$p")
  }

  test("q19 disjunctive predicates push per-side hulls into both scans") {
    // Catalyst must extract the pushable disjunction for EACH side of the
    // join (the l_quantity range union into the lineitem scan, the
    // brand/size union into the part scan) — losing this reads both tables
    // in full and filters post-join
    val f = formatted("j_tpch_q19ish_disjunctive_revenue")
    val pushedLines = f.linesIterator.filter(_.contains("PushedFilters")).toSeq
    assert(pushedLines.exists(l => l.contains("l_quantity") && l.contains("Or(")),
      s"quantity disjunction not pushed to lineitem scan:\n$f")
    assert(pushedLines.exists(l => l.contains("p_brand") && l.contains("Or(")),
      s"brand disjunction not pushed to part scan:\n$f")
    assert(f.contains("BroadcastHashJoin"), s"part side not broadcast:\n$f")
  }

  test("q22 threshold+anti-join: scalar avg broadcasts, NOT EXISTS is a hash anti join") {
    val p = plan("j_tpch_q22ish_idle_rich_customers")
    assert(p.contains("LeftAnti"), s"NOT EXISTS not an anti join:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"one-row threshold not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"threshold join degenerated:\n$p")
  }

  test("embedding decontamination broadcasts the benchmark, never shuffles to score") {
    val p = plan("vx_decontaminate_embedding")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"benchmark side not broadcast:\n$p")
    // scoring must happen before any corpus exchange: the only shuffles are
    // the hit-set aggregation and the id join back
    assert(!p.contains("CartesianProduct"), s"non-broadcast cartesian:\n$p")
  }

  test("fixed-k per-group caps push a WindowGroupLimit below the exchange (L1)") {
    // the dividing line from the mixture rewrite: a PROPORTIONAL quota must
    // avoid the per-group window entirely (GroupRank), but a FIXED-k cap is
    // fine IF the rank filter compiles to WindowGroupLimit — each map task
    // then forwards at most k rows per group, so the post-shuffle sort is
    // bounded by k x tasks, not corpus size. Losing the pushdown silently
    // reverts to the giant-partition sort.
    val p = plan("l1_seeded_group_sample")
    assert(p.contains("WindowGroupLimit"),
      s"L1 cap lost the group-limit pushdown:\n$p")
  }

  test("mixture and quality-gate plans never window-sort a source (r4 items 1-2)") {
    // `source` is low-cardinality: a `PARTITION BY source` window funnels
    // each source into ONE task at 100 TB. The GroupRank rewrite buckets on
    // the order key instead — no Window node may appear anywhere.
    for (q <- Seq("t_source_mixture_sample", "t_mixture_temperature_sample",
        "t_quality_gate_per_source", "t_training_mix_pipeline",
        "t_ntile_quality_per_source")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q fell back to a per-source window sort:\n$p")
    }
  }

  test("oov vocabulary broadcasts back to the token stream") {
    val p = plan("t_oov_rate")
    assert(p.contains("BroadcastHashJoin"), s"vocab not broadcast:\n$p")
  }

  test("semdedup prune joins on cluster id, never a cartesian product") {
    val p = plan("vx_semdedup_quantized")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"semdedup pair generation degenerated to a cross join:\n$p")
  }

  test("rate anomaly windows over day-partitioned buckets, never one partition") {
    val p = plan("e_rate_anomaly_zscore").toLowerCase
    assert(!p.contains("singlepartition"),
      s"anomaly window gathered to one partition:\n$p")
  }

  test("positional serving plans: per-doc windows, broadcast query sides") {
    // proximity's min-window pass partitions by doc_id — never a global
    // single-partition window over the timeline
    val prox = plan("t_proximity_search_topk")
    assert(!prox.toLowerCase.contains("singlepartition"),
      s"proximity timeline gathered to one partition:\n$prox")
    assert(prox.contains("BroadcastHashJoin"),
      s"proximity query slots not broadcast:\n$prox")
    // spell suggestion: the bounded query side broadcasts against the
    // vocabulary explode; no cartesian fallback
    val sp = plan("t_spell_suggest")
    assert(sp.contains("BroadcastHashJoin"),
      s"suggest query side not broadcast:\n$sp")
    assert(!sp.contains("CartesianProduct") &&
      !sp.contains("BroadcastNestedLoopJoin"),
      s"suggest degenerated to a cross join:\n$sp")
    // QL probe: query-term stats broadcast, corpus-side postings never
    // gather to one partition before the per-doc aggregation
    val ql = plan("t_ql_topk")
    assert(ql.contains("BroadcastHashJoin"),
      s"QL query stats not broadcast:\n$ql")
  }

  test("set-similarity join: freq table broadcasts, no cartesian anywhere") {
    val p = plan("t_setjoin_jaccard_pairs")
    assert(p.contains("BroadcastHashJoin"), s"freq table not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"set join degenerated to a cross join:\n$p")
  }

  test("moments profile is one partial+final aggregation pair, no extra pass") {
    val p = plan("stat_moments_quantity")
    // all four power sums ride ONE HashAggregate pair around one exchange
    assert("HashAggregate".r.findAllIn(p).size == 2,
      s"moments plan is not a single partial/final agg pair:\n$p")
  }

  test("q7 nation-pair: both nation dims broadcast, pair filter above no cartesian") {
    val p = plan("j_tpch_q7ish_nation_pair_volume")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"nation dims not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"pair restriction degenerated:\n$p")
  }

  test("q18 large-volume: lineitem is scanned once, aggregate feeds filter and output") {
    val p = plan("j_tpch_q18ish_large_volume_orders")
    assert("lineitem".r.findAllIn(p).size <= 2, // scan node prints name ≤2×
      s"lineitem re-scanned for the HAVING side:\n$p")
  }

  test("q4 priority-waiting EXISTS compiles to a left semi join") {
    // an inner join + distinct would duplicate each order per late line
    // before collapsing it back — the semi join forwards each order once
    val p = plan("j_tpch_q4ish_priority_waiting")
    assert(p.contains("LeftSemi"), s"EXISTS not a semi join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q6 scan-filter-agg: predicates pushed, one agg pair, no join") {
    val f = formatted("j_tpch_q6ish_forecast_revenue")
    assert(f.linesIterator.exists(l => l.contains("PushedFilters") &&
      l.contains("l_shipdate") && l.contains("l_quantity")),
      s"range predicates not pushed to the lineitem scan:\n$f")
    assert(!f.contains("Join"), s"Q6 must be join-free:\n$f")
    val p = plan("j_tpch_q6ish_forecast_revenue")
    assert("HashAggregate".r.findAllIn(p).size == 2,
      s"not a single partial/final agg pair:\n$p")
  }

  test("q8 market share: small dims broadcast, share folds into one agg pass") {
    val p = plan("j_tpch_q8ish_market_share")
    // nation x2 + region are the forced broadcasts; the type-filtered part
    // side must not degenerate to a cartesian either way AQE resolves it
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"small dims not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"join degenerated:\n$p")
    assert("HashAggregate".r.findAllIn(p).size == 2,
      s"share ratio split into extra agg passes:\n$p")
  }

  test("q15 top supplier: lineitem aggregates once, scalar max broadcasts back") {
    val p = plan("j_tpch_q15ish_top_supplier")
    val liScans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(liScans <= 2, s"lineitem scanned $liScans times:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"one-row max not broadcast:\n$p")
    assert(!p.contains("TakeOrdered") || !p.contains("Sort"),
      s"ties-kept max degenerated to a global sort:\n$p")
  }

  test("dpp query prunes fact partitions with a runtime dynamicpruning filter") {
    // the month dim is computed at runtime, so only DPP can restrict the
    // partitioned fact scan — without it every month partition is read and
    // filtered post-join, the exact full-corpus-scan failure the layout
    // exists to prevent
    val f = formatted("jx_dpp_partition_pruned")
    assert(f.contains("dynamicpruning"),
      s"fact scan has no runtime partition filter:\n$f")
  }

  test("epoch upsampling is map-only: no join, no aggregate, one generate") {
    // the expansion must be decided row-locally (hash + threshold) and
    // materialized by a generator — any join or aggregation means the plan
    // is consulting other rows for a per-row decision
    val p = plan("t_epoch_upsample")
    assert(!p.contains("Join"), s"epoch expansion grew a join:\n$p")
    assert(!p.contains("HashAggregate"), s"epoch expansion grew an aggregate:\n$p")
    assert(p.contains("Generate"), s"no generator for the copy explode:\n$p")
  }

  test("cross-source overlap: one gram shuffle, totals broadcast, no self-join") {
    val p = plan("t_cross_source_overlap")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"per-source totals not broadcast:\n$p")
    // the ONLY joins allowed are the two broadcast total-attachments — a
    // SortMergeJoin or ShuffledHashJoin means the gram set is being
    // self-joined (shuffled twice) instead of aggregated once
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"gram overlap degenerated to a self-join:\n$p")
  }

  test("q21 waiting-suppliers compiles to aggregations, not correlated self-joins") {
    val p = plan("j_tpch_q21ish_waiting_suppliers")
    // the EXISTS / NOT EXISTS pair must NOT become two extra joins of the
    // per-(order,supplier) relation against itself — the engine form is two
    // stacked aggregations plus one equi-join back
    assert(!p.contains("CartesianProduct"))
    val liScans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(liScans == 1, s"lineitem scanned $liScans times:\n$p")
  }

  test("equi-depth histogram never window-sorts a status partition") {
    // o_orderstatus has 3 values — a PARTITION BY window would funnel a
    // third of the fact table into one task; the GroupNtile plan buckets
    // on the price rank instead
    val p = plan("stat_histogram_equidepth")
    assert(!p.contains("Window"), s"equi-depth fell back to a window sort:\n$p")
  }

  test("PSI and stratified sampling never fall back to a global window sort") {
    // both bucket on GlobalRank's two-pass NTILE; a Window node would
    // mean the whole corpus funneled through one task's sort
    Seq("t_psi_drift_by_source", "t_stratified_decile_sample").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"), s"$q fell back to a window sort:\n$p")
    }
  }

  test("ed-join gate queries never build a cartesian product") {
    Seq("jx_edjoin_customer_typos", "jx_edjoin_canonical").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q fell back to a cross product:\n$p")
    }
  }

  test("bootstrap replicate means stay map-only up to the 64-key exchange") {
    // the 64x explode must partial-aggregate map-side: the only wide
    // exchange in the plan hashes on the replicate id, never on row data
    val p = plan("stat_bootstrap_poisson_means").toLowerCase
    assert(!p.contains("sortmergejoin") && !p.contains("cartesianproduct"),
      s"bootstrap grew a join:\n$p")
    // map-side combine proof: the 64x exploded rows partial-aggregate
    // BEFORE any exchange, so only 64 keys per task reach the shuffle
    assert(p.contains("partial_sum"),
      s"no map-side partial aggregation:\n$p")
  }

  test("snapshot diff ships fingerprints, not payloads, through the join") {
    val p = plan("t_snapshot_diff")
    assert(p.contains("md5"), s"fingerprint projection missing:\n$p")
    assert(p.contains("FullOuter") || p.contains("full_outer"),
      s"diff is not a single full-outer join:\n$p")
  }

  test("hybrid RRF builds both rank lists without a window or cartesian") {
    val p = plan("vx_hybrid_rrf_top10")
    assert(!p.contains("Window"), s"rank list fell back to a window:\n$p")
    assert(!p.contains("CartesianProduct"), s"fusion grew a cross product:\n$p")
  }

  test("dupspan detection prefilters on hashes; island merge windows per-doc") {
    val p = plan("t_dupspan_spans")
    // the 8-byte xxhash64 prefilter must reach the plan as a semi-join:
    // gram STRINGS only shuffle for prefilter survivors
    assert(p.contains("LeftSemi"), s"hash prefilter semi-join missing:\n$p")
    assert(!p.contains("CartesianProduct"), s"pair blow-up:\n$p")
    // gaps-and-islands windows are keyed by doc_id — a global window would
    // funnel every redundant occurrence into one task at 100 TB
    assert(p.contains("hashpartitioning(doc_id"),
      s"island merge not partitioned by doc_id:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"single-partition stage in the span pipeline:\n$p")
  }

  test("ntile runs as the two-pass bucket plan, never a one-partition window") {
    val p = plan("w_ntile_acctbal_quartiles").toLowerCase
    assert(!p.contains("window"), s"ntile fell back to a window:\n$p")
    // deterministic quantile buckets → ONE hash exchange on the bucket id.
    // repartitionByRange ON THE RANK KEY is banned: its per-job boundary
    // re-sampling made the count and join passes disagree (sf0.1 oracle
    // regression, 14547/15000 ranks drifted). The query's final output
    // orderBy may still range-partition on c_custkey — that one is fine.
    assert(p.contains("hashpartitioning(__pid"), s"no bucket repartition:\n$p")
    assert(!p.contains("rangepartitioning(c_acctbal"),
      s"ntile range-partitions on the sampled rank key:\n$p")
    assert(p.contains("broadcasthashjoin"), s"offsets not broadcast-joined:\n$p")
  }

  test("BowEmbed: vocab broadcasts to the token stream, aggregation is partial") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val texts = Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text"))
    val vocab = graft.operators.BowEmbed.vocabRanks(texts, "text")
    val p = graft.operators.BowEmbed.embed(texts, vocab, 16, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"vocab not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"vocab join shuffled the tokens:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no partial aggregation before the (id, bucket) shuffle:\n$p")
  }

  test("bm25ScoresByQuery: queries broadcast, posting scan prunes to their buckets") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val idx = graft.queries.TextQueries.prepareLexIndex(spark, sf001)
    val q = Seq((1L, "the"), (1L, "of"), (2L, "and")).toDF("query_id", "term")
    val scored = graft.operators.InvertedIndex.bm25ScoresByQuery(idx, q)
    val f = scored.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(f.contains("BroadcastHashJoin"), s"query relation not broadcast:\n$f")
    // the persisted postings are bucket-partitioned; the probe's bucket
    // set must reach the scan as PartitionFilters, not a post-scan filter
    assert(f.linesIterator.exists(l => l.contains("PartitionFilters") &&
      l.contains("bucket")), s"bucket pruning not at the scan:\n$f")
  }

  test("bm25 probe plan is the same for a term list and its reverse") {
    // the posting scan's bucket IN (…) list derives from a collect;
    // unsorted, its printed order followed the term order, so one query
    // planned differently run to run — normalized plans must not depend
    // on the order a caller lists its terms in. Four terms: above the
    // optimizer's InSet threshold (10 values) the list prints sorted
    // whatever its order, which would hide the defect
    val idx = graft.queries.TextQueries.prepareLexIndex(spark, sf001)
    val terms = Seq("the", "of", "and", "to")
    def planOf(ts: Seq[String]) = graft.tools.ExplainDump.normalize(
      graft.operators.InvertedIndex.bm25TopK(idx, ts, k = 10)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    val fwd = planOf(terms)
    assert(fwd.contains("bucket"), s"no bucket pruning in the plan:\n$fwd")
    assert(fwd == planOf(terms.reverse),
      s"plan depends on the term order:\n$fwd\n---\n${planOf(terms.reverse)}")
  }

  test("snippet text tokenize sits ABOVE the doc-id broadcast join (r16 weak mark)") {
    // the r16 plan bug: the split/filter tokenize projected BELOW the
    // broadcast join whose build side keeps only the ≤ k(·|Q|) result
    // docs, so every corpus row paid the tokenize per serve. Pin the
    // fixed shape: exactly one tokenize, printed ABOVE the first
    // broadcast join (tree prints parent-first; everything above the
    // docs⋈top join is the project/sort tail, so a tokenize below it
    // would print after the join line).
    for (name <- Seq("t_phrase_snippets", "t_phrase_snippets_batch")) {
      val p = plan(name)
      val tok = p.indexOf("split(")
      val join = p.indexOf("BroadcastHashJoin")
      assert(tok >= 0 && join >= 0,
        s"$name: expected a tokenize and a broadcast join:\n$p")
      assert(tok < join,
        s"$name: the tokenize must project above the k-result broadcast " +
          s"join, never on the corpus scan side:\n$p")
      assert(p.indexOf("split(", tok + 1) < 0,
        s"$name: exactly one tokenize expected — a second split below " +
          s"the join re-introduces the corpus-wide pass:\n$p")
    }
  }

  test("streaming quality scoring is shuffle-free row-local codegen") {
    val w = graft.queries.TextQueries
      .prepareQualityTermWeights(spark, sf001)
    val p = graft.streaming.StreamingQuality.scoreFlags(
        Tables.documents(spark, sf001), w)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"stateless scorer shuffles:\n$p")
    assert(!p.toLowerCase.contains("batchevalpython") &&
      !p.contains("ScalaUDF"), s"scorer left codegen:\n$p")
  }
}
