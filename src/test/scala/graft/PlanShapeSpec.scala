package graft

import org.apache.spark.sql.functions._

/** Physical-plan regression guards: the properties that make these
  * queries viable at 100 TB (scan-level filter pushdown, column pruning,
  * broadcast dim joins, top-k without global sort, whole-stage codegen)
  * must survive future edits. */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q1: shipdate filter reaches the parquet scan; only needed columns read") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(!p.contains("l_orderkey"), "q1 must not read join keys it never uses")
  }

  test("q5: dimension joins broadcast; region filter pushed to its scan") {
    val p = plan("q5_region_revenue")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("EqualTo(r_name,ASIA)"))
  }

  test("q3 top-10 plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("q3_shipping_priority")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("similarity: query side broadcast so candidates never shuffle") {
    val p = plan("q_sim_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("whole-stage codegen covers the scan-filter-project pipelines") {
    // the "*(n)" prefix marks whole-stage-codegen spans in plan toString
    val p = plan("q_string_ops")
    assert(p.contains("*(1)"))
  }

  test("at-rest consumers scan the pair index, never the minhash pipeline") {
    // a graph consumer's plan must contain a parquet scan of the at-rest
    // index and NONE of the LSH pipeline's fingerprints — if a future
    // edit silently reverts a consumer to recomputing signatures, this
    // trips before the bench does
    // the index reader itself is a bare parquet scan of the at-rest dir
    val reader = operators.Dedup.pairsAtRest(spark, sf)
      .queryExecution.executedPlan.toString
    assert(reader.contains("graft-atrest") && reader.toLowerCase.contains("parquet"),
      "pairsAtRest must be a parquet scan of the index directory")
    try {
      for (q <- Seq("q_graph_pagerank", "q_dedup_clusters", "q_graph_jaccard")) {
        // consumers run their iterative phases eagerly, so the returned
        // plan may read a cache/checkpoint — but NOTHING in it may be
        // the signature pipeline (minhash/shingling fingerprints)
        val p = try plan(q) finally CacheTracker.releaseAll()
        assert(!p.contains("minhash_perms") && !p.contains("shingles3"),
          s"$q must not re-run the signature pipeline")
      }
    } finally CacheTracker.releaseAll()
  }

  test("curriculum planner scans the at-rest LM-score index, never re-trains the LM") {
    // q_curriculum_schedule must read (doc_id, n_grams, xent) off the
    // lm_xent index — its analyzed plan may contain the index parquet
    // scan and the rank machinery, but none of the trigram pipeline
    // (substring explode / model-count aggregation fingerprints)
    val df = operators.Curation.qCurriculumSchedule(spark, sf)
    val p = try df.queryExecution.executedPlan.toString
      finally CacheTracker.releaseAll()
    assert(!p.contains("substring(text") && !p.contains("sequence(1, (length("),
      s"curriculum re-runs the LM scoring pipeline:\n${p.take(1200)}")
  }

  test("native as-of join plans through AsOfJoinExec (custom strategy fires)") {
    val p = plan("q_asof_join_native")
    assert(p.contains("AsOfJoin"), s"custom exec missing from plan:\n${p.take(600)}")
  }

  test("q7: derived nation-pair IN filter reaches the nation scans (pre-join pruning)") {
    val p = plan("q7_volume_shipping")
    assert(p.contains("In(n_name"), s"nation IN-filter not pushed:\n${p.take(800)}")
    assert(p.contains("BroadcastHashJoin"), "supplier-side prune must broadcast")
  }

  test("q_approx_distinct plans without Expand (two-phase distinct, not multi-COUNT DISTINCT)") {
    val p = plan("q_approx_distinct")
    assert(!p.contains("Expand"), "multi-distinct Expand regressed into the plan")
  }

  test("q8: part/region filters pushed to their scans; dims broadcast") {
    val p = plan("q8_market_share")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("EqualTo(p_type,ECONOMY)"))
    assert(p.contains("EqualTo(r_name,ASIA)"))
  }

  test("window top-k plans with WindowGroupLimit (rank filter pushed below the full window)") {
    // Spark's InferWindowGroupLimit turns rank<=k into a per-partition
    // group limit BEFORE the window sort — the difference between
    // sorting every group fully and keeping k rows per group at 100 TB
    val p = plan("q_window_topk")
    assert(p.contains("WindowGroupLimit"), s"group-limit pushdown missing:\n${p.take(600)}")
  }

  test("dp topk plans partial selections (WindowGroupLimit per release, TakeOrderedAndProject truth)") {
    // the vocabulary relation is unbounded at scale — both the true
    // top-k (orderBy+limit) and the per-ε noisy top-k (rank<=k) must
    // select partially per partition, never sort the full vocab
    val p = plan("q_dp_topk")
    assert(p.contains("TakeOrderedAndProject"), s"global sort for the truth:\n${p.take(600)}")
    assert(p.contains("WindowGroupLimit"), s"group-limit pushdown missing:\n${p.take(600)}")
  }

  test("lm perplexity broadcasts the trigram model (the corpus never shuffles for scoring)") {
    // the model is bounded by |alphabet|^3, so the score join must be a
    // broadcast — a sort-merge join here would shuffle the whole corpus
    val p = plan("q_lm_perplexity")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), s"corpus-shuffling join in:\n${p.take(800)}")
  }

  test("reservoir sample plans map-side top-k (WindowGroupLimit before the shuffle)") {
    // the exact-k sampler's rank<=20 filter must become a per-partition
    // group limit, so the exchange carries O(k * strata * tasks) rows,
    // not the corpus
    val p = plan("q_reservoir_sample")
    assert(p.contains("WindowGroupLimit"), s"group-limit pushdown missing:\n${p.take(600)}")
  }

  test("gateway auth dims broadcast (no shuffle of the event stream for auth)") {
    val p = plan("q_gw_auth_dispatch")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), "auth lookups must not sort-merge the stream")
  }

  test("q6: full predicate pushed to the lineitem scan (no join, one pass)") {
    // PushedFilters is truncated in plan toString — assert the scan-level
    // DataFilters via the Filter condition + the pushed-list prefix
    val p = plan("q6_forecast_revenue")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), s"nothing pushed:\n${p.take(800)}")
    assert("l_shipdate#\\d+ >= 1996-01-01".r.findFirstIn(p).isDefined
      && "l_quantity#\\d+ < 24".r.findFirstIn(p).isDefined,
      s"q6 predicate incomplete:\n${p.take(900)}")
    assert(!p.contains("Join"), "q6 must be a single-table pass")
  }

  test("decontamination: eval gram set broadcast (corpus never shuffles for the overlap test)") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"eval grams not broadcast:\n${p.take(800)}")
  }

  test("curation funnel reads the gated corpus once (s2/sigs cached, not recomputed per branch)") {
    // The funnel's a2/a3 branches and the signature build must come from
    // the persisted s2/sigs relations: the only parquet scans left in the
    // main job graph are the single gate pass over the 3-branch derived
    // corpus (the cache-population lineage executes once, inside the
    // InMemoryRelation). Counted on the optimized LOGICAL plan — cached
    // plan toString re-prints its lineage, so string counts lie.
    try {
      val qe = SparkEntry.queries("q_curation_pipeline")(spark, sf).queryExecution
      val scans = qe.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
      }
      val cached = qe.optimizedPlan.collect {
        case m: org.apache.spark.sql.execution.columnar.InMemoryRelation => m
      }
      assert(scans.length == 3,
        s"expected the single 3-union gate pass, got ${scans.length} parquet scans")
      assert(cached.length >= 3,
        s"s2/sigs branches must read the cache, got ${cached.length} InMemoryRelations")
    } finally CacheTracker.releaseAll()
  }

  test("PlanAudit reports the shapes the guards assert (self-audit surface)") {
    val m1 = PlanAudit.metrics(SparkEntry.queries("q1_pricing_summary")(spark, sf)).toMap
    assert(m1("parquet_scans") == 1)
    assert(m1("scans_with_pushed_filters") == 1)
    val m5 = PlanAudit.metrics(SparkEntry.queries("q5_region_revenue")(spark, sf)).toMap
    assert(m5("broadcast_hash_joins") >= 3, s"q5 dims should broadcast: $m5")
    val mp = PlanAudit.metrics(SparkEntry.queries("q_pii_scrub")(spark, sf)).toMap
    assert(mp("shuffle_exchanges") == 0, s"pii scrub must be shuffle-free: $mp")
    // codegen spans render pre-execution only for non-adaptive plans
    // (AQE wraps exchanges and finalizes codegen per stage at runtime)
    assert(mp("codegen_spans") >= 1, s"pii scrub should whole-stage-codegen: $mp")
    // and the DataFrame face renders one row per metric
    assert(PlanAudit.describe(SparkEntry.queries("q_pii_scrub")(spark, sf)).count() == 10)
  }

  test("lateral top-n decorrelates to a ranked join (no per-row subquery execution)") {
    val p = plan("q_lateral_topn")
    assert(p.contains("Window") || p.contains("WindowGroupLimit"),
      s"lateral should decorrelate to a window rank:\n${p.take(700)}")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "decorrelated lateral must not fall back to a per-row nested loop")
  }

  test("pii scrub is a pure projection; mix broadcasts rates; packing windows by shard") {
    // pii: map-side regex only — any Exchange would mean a needless shuffle
    assert(!plan("q_pii_scrub").contains("Exchange"),
      "pii scrub must not shuffle")
    // mix: the per-source rate table joins broadcast, the corpus never shuffles for it
    assert(plan("q_mix_temperature").contains("BroadcastHashJoin"),
      "mix rate table must broadcast")
    // pack: the running sum partitions by source (parallel), not a global window
    val pp = plan("q_seq_pack")
    assert(pp.contains("hashpartitioning(source"),
      s"packing window must partition by shard:\n${pp.take(600)}")
  }

  test("entropy is shuffle-free; span dedup and winnowing shuffle only where the algorithm must") {
    // entropy: the histogram is a HOF over the words array — a projection
    assert(!plan("q_text_entropy").contains("Exchange"),
      "entropy must stay map-side")
    // span dedup: exactly two shuffle keys — the span hash (occurrence
    // count) and doc_id (reassembly); a third would mean a redundant pass
    val sp = plan("q_dedup_span")
    val spEx = "Exchange hashpartitioning".r.findAllIn(sp).size
    assert(spEx <= 3, s"span dedup shuffled $spEx times:\n${sp.take(600)}")
    // winnowing: fingerprint extraction is map-side; the df cap and the
    // pair join share the fp-keyed partitioning
    val wn = plan("q_dedup_winnow")
    assert(!wn.contains("CartesianProduct") && !wn.contains("BroadcastNestedLoopJoin"),
      "winnow pair join must be an equi-join on fp, never a product")
  }

  test("vocab encode broadcasts the vocabulary (the corpus never shuffles for the id join)") {
    val p = plan("q_vocab_encode")
    assert(p.contains("BroadcastHashJoin"),
      s"vocab join must broadcast:\n${p.take(600)}")
    graft.CacheTracker.releaseAll() // builder persists the freq relation
  }

  test("q_roc_auc: the rank cumulative sum is the two-level pattern — every window is partitioned") {
    // the distinct-score relation grows with the corpus' score range,
    // so the Mann-Whitney cumulative count must never run as a
    // single-partition global window (the one-task-sorts-everything
    // anti-pattern): the local prefix windows partition by the score
    // bucket, and the bucket offsets arrive via a bounded broadcast
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = SparkEntry.queries("q_roc_auc")(spark, sf)
    try {
      val winSpecs = df.queryExecution.optimizedPlan.collect {
        case w: LWindow => w.partitionSpec
      }
      assert(winSpecs.nonEmpty, "expected the bucket-local prefix window in the plan")
      winSpecs.foreach(ps => assert(ps.nonEmpty,
        "q_roc_auc regressed to a single-partition (unpartitioned) window"))
      // and the bucket offsets ride a broadcast join, not a shuffle
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"),
        s"bucket offsets must broadcast-join back:\n${p.take(600)}")
    } finally graft.CacheTracker.releaseAll()
  }

  test("vocab rank is range-partitioned — no global window, no single-partition exchange") {
    val df = operators.TextAnalysis.qVocabEncode(spark, sf)
    try {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Window"),
        s"vocabulary rank regressed to a window:\n${p.take(600)}")
      assert(!p.contains("SinglePartition"),
        s"single-partition exchange in the encode plan:\n${p.take(600)}")
    } finally graft.CacheTracker.releaseAll()
  }

  test("count-min: exact-count aggregate is gated by the map-side sketch filter (no full-vocab groupBy)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter}
    val df = operators.TextAnalysis.qCmsHeavyHitters(spark, sf)
    df.unpersist(true) // drop any identical-plan cache left by another suite
    val qe = df.queryExecution
    val termAggs = qe.optimizedPlan.collect {
      case a: Aggregate if a.groupingExpressions.exists(_.toString.contains("term")) => a
    }
    assert(termAggs.nonEmpty, "expected a groupBy(term) aggregate in the plan")
    // every term aggregate must sit ABOVE the cms_est >= threshold filter,
    // so only sketch-flagged candidate occurrences are ever counted
    termAggs.foreach { a =>
      // the probe is least(element_at(<table literal>, …) x4) since r18
      // (was array_min over an interpreted transform) — pin on the
      // sketch-table lookup itself, which both forms contain
      val gated = a.child.collectFirst {
        case f: Filter if f.condition.toString.contains("element_at") => f
      }
      assert(gated.isDefined,
        s"exact-count aggregate not gated by the sketch estimate:\n${qe.optimizedPlan.toString.take(900)}")
    }
  }

  test("round-7 sixth wave shapes: sq8 broadcasts queries, classifier and chi2 stay small") {
    // sq8: the query side must broadcast — the candidate scan stays
    // map-side (the q_id != c_id residual makes it a nested-loop build,
    // same as the float brute-force baseline)
    assert(plan("q_sim_sq8").contains("BroadcastNestedLoopJoin BuildRight") ||
      plan("q_sim_sq8").contains("BroadcastHashJoin"),
      "sq8 query set must broadcast against the candidate scan")
    // classifier: pure map-side inference (also asserted behaviorally in
    // PipelineSpec — here pinned at the plan level alongside its peers)
    assert(!plan("q_quality_classifier").contains("Exchange"),
      "classifier inference must not shuffle")
    // chi2: the two marginals and the total are broadcast back onto the
    // cell relation — three broadcasts, no second corpus shuffle
    val c2 = plan("q_chi2_contingency")
    assert("BroadcastHashJoin".r.findAllIn(c2).size >= 2 ||
      "BroadcastNestedLoopJoin".r.findAllIn(c2).nonEmpty,
      s"chi2 marginals should broadcast:\n${c2.take(600)}")
    // attribution: the conversion-touch join keys on user_id and the
    // position windows partition by conversion — no global window
    val at = plan("q_attribution")
    assert(at.contains("hashpartitioning(conv_id") || at.contains("hashpartitioning(user_id"),
      s"attribution must partition by user/conversion:\n${at.take(600)}")
    assert(!at.contains("SinglePartition"),
      "attribution must not collapse to a single partition")
  }

  test("round-7 eighth wave shapes: assoc rules broadcast dims, equi-depth has no global window, target encode pushes the sample filter") {
    // assoc rules: the singleton-count sides broadcast onto the pair
    // aggregate (the part-dim broadcast sits inside the persisted basket
    // relation), and the top-20 never global-sorts
    val ar = try plan("q_assoc_rules") finally graft.CacheTracker.releaseAll()
    assert("BroadcastHashJoin".r.findAllIn(ar).size >= 2,
      s"assoc rules must broadcast the singleton counts:\n${ar.take(600)}")
    assert(ar.contains("TakeOrderedAndProject"),
      "top-20 rules must not global-sort")
    // equi-depth: the global rank is zipWithIndex over a range
    // partitioning — a Window operator here means the scale-safe rank
    // regressed to the single-partition form
    val eq = operators.Advanced.qEquidepthHist(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!eq.contains("Window"),
      s"equi-depth rank regressed to a window:\n${eq.take(600)}")
    // target encode: the per-category table broadcasts, and the sample
    // filter reaches the probe-side scan (not evaluated post-join)
    val te = plan("q_target_encode")
    assert(te.contains("BroadcastHashJoin"),
      s"target encode must broadcast the category means:\n${te.take(600)}")
    assert(te.contains("(o_orderkey#") || te.contains("% 997"),
      s"sample filter should appear below the join:\n${te.take(600)}")
    // snapshot diff: one SortMergeJoin on the key is the intended shape
    // (both sides corpus-sized at 100 TB); no broadcast of a full snapshot
    val sd = plan("q_snapshot_diff")
    assert(sd.contains("SortMergeJoin") || sd.contains("ShuffledHashJoin"),
      s"snapshot diff full-outer should be a shuffled join:\n${sd.take(600)}")
  }

  test("round-7 ninth wave shapes: seasonal windows partition by type and broadcast the index") {
    // the moving-average window must partition by event_type (calendar-
    // bounded per-type work), and the type×7 seasonal index broadcasts
    val se = plan("q_seasonal_decompose")
    assert(se.contains("hashpartitioning(event_type"),
      s"seasonal windows must partition by type:\n${se.take(600)}")
    assert(se.contains("BroadcastHashJoin"),
      s"seasonal index join must broadcast:\n${se.take(600)}")
    // jackknife: the corpus-sized stage is one 32-key hash aggregate
    // with a partial (map-side combine) pass — no window over raw rows
    val jk = plan("q_jackknife")
    assert(jk.contains("HashAggregate"), "jackknife must hash-aggregate")
    assert(!jk.contains("Window"), "jackknife must not window over raw rows")
  }

  test("round-7 tenth wave shapes: session-wave queries keep their scale contracts") {
    // zone-map audit: two map-side-combined aggregates, never a join
    // (the whole point is predicting pruning from metadata alone)
    val zm = plan("q_zonemap_prune")
    assert(!zm.contains("Join"), s"zonemap audit must not join:\n${zm.take(600)}")
    // patches: pure generator fan-out — no exchange anywhere
    val pt = plan("q_multimodal_patches")
    assert(!pt.contains("Exchange"), s"patch grid must stay map-side:\n${pt.take(600)}")
    assert(pt.contains("Generate"), "patch grid explodes via a generator")
    // HITS: the type-side stats broadcast; the user-keyed round must NOT
    // broadcast (hub side scales with users) and must not cartesian
    val ht = plan("q_hits")
    assert(ht.contains("BroadcastHashJoin"), s"a1 must broadcast:\n${ht.take(600)}")
    assert(!ht.contains("Cartesian"), "HITS must stay equi-join only")
    // rank-based stats: windows, never an all-pairs form
    Seq("q_mannwhitney", "q_spearman", "q_gini").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
        s"$q must not form pairs:\n${p.take(400)}")
      assert(p.contains("Window") || p.contains("HashAggregate"), s"$q shape")
    }
    // NDCG eval: the query sample broadcasts onto candidates (the same
    // contract as q_sim_topk), and both rank windows partition by q_id
    val nd = plan("q_ndcg_eval")
    assert(nd.contains("BroadcastNestedLoopJoin") || nd.contains("BroadcastHashJoin"),
      s"ndcg queries must broadcast:\n${nd.take(600)}")
    assert("hashpartitioning\\(q_id".r.findAllIn(nd).nonEmpty,
      s"rank windows must partition by query:\n${nd.take(600)}")
    // assoc rules after the rewrite: basket build is the ONLY corpus
    // shuffle; pair generation is a generator over the basket arrays,
    // not a self-join (no SortMergeJoin anywhere)
    val ar = try plan("q_assoc_rules") finally graft.CacheTracker.releaseAll()
    assert(!ar.contains("SortMergeJoin"),
      s"assoc rules pair generation must not self-join:\n${ar.take(600)}")
    assert(ar.contains("Generate"), "assoc rules pairs come from the in-basket generator")
  }

  test("round-7 eleventh wave shapes: kcore lineage stays cut, lift and KN broadcast their totals") {
    // k-core: the localCheckpoint lineage cut must hold — without it the
    // double-reference peel rounds grow the ANALYZED tree 3x per round
    // (thousands of nodes); with the cut, the tree holds the LSH subtree
    // a constant number of times. Node count is stable across session
    // history, unlike plan-string length (InMemoryRelation prints its
    // cached plan, whose rendering depends on what else ran).
    val kcDf = SparkEntry.queries("q_graph_kcore")(spark, sf)
    val kcNodes = kcDf.queryExecution.analyzed.collect { case _ => 1 }.sum
    val kc = try kcDf.queryExecution.executedPlan.toString
      finally graft.CacheTracker.releaseAll()
    assert(kcNodes < 1500, s"kcore analyzed tree has $kcNodes nodes — lineage cut lost")
    assert(kc.contains("Scan ExistingRDD") || kc.contains("LogicalRDD"),
      "kcore rounds must read checkpointed leaves")
    // decile lift: boundaries are baked literals, so the customer
    // relation is never globally sorted in the returned plan; the
    // population totals broadcast onto the 10-row decile aggregate
    val dl = try plan("q_decile_lift") finally graft.CacheTracker.releaseAll()
    assert(dl.contains("BroadcastNestedLoopJoin") || dl.contains("BroadcastExchange"),
      s"lift totals must broadcast:\n${dl.take(600)}")
    assert(!dl.contains("rangepartitioning(m"),
      "decile assignment must not globally sort the customer relation in-plan")
    // Kneser-Ney: top-30 via TakeOrderedAndProject, bigram-type total broadcast
    val kn = try plan("q_kneser_ney") finally graft.CacheTracker.releaseAll()
    assert(kn.contains("TakeOrderedAndProject"), s"KN top-30 shape:\n${kn.take(600)}")
    assert(kn.contains("BroadcastNestedLoopJoin") || kn.contains("BroadcastExchange"),
      "KN bigram-type total must broadcast")
    // naive bayes: class totals and priors broadcast; the corpus-sized
    // relations join keyed, never cartesian
    val nb = try plan("q_naive_bayes") finally graft.CacheTracker.releaseAll()
    assert(nb.contains("BroadcastNestedLoopJoin") || nb.contains("BroadcastHashJoin"),
      s"NB class stats must broadcast:\n${nb.take(600)}")
    // daily-series stats: one corpus shuffle to (type, day), no pair blowup
    Seq("q_linreg_trend", "q_pacf", "q_cross_corr").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q must not cartesian:\n${p.take(400)}")
      assert("hashpartitioning\\(event_type".r.findAllIn(p).nonEmpty,
        s"$q daily counts must partition by type:\n${p.take(600)}")
    }
  }

  test("round-7 second-half waves keep their scale shapes") {
    // contribution cap: pure two-stage aggregation — the least(c, k) form
    // must never regress into a per-row rank window
    val cc = plan("q_contribution_cap")
    assert(!cc.contains("Window"), s"cap must not rank rows:\n${cc.take(400)}")
    // hard negatives: anchors broadcast; rank<=5 pushed below the
    // exchange by WindowGroupLimit so only local top-5 rows shuffle
    val hn = plan("q_hard_negatives")
    assert(hn.contains("BroadcastNestedLoopJoin") || hn.contains("BroadcastHashJoin"),
      s"anchor side must broadcast:\n${hn.take(600)}")
    assert(hn.contains("WindowGroupLimit"), s"rank filter must push down:\n${hn.take(600)}")
    // vocab coverage / zipf: the vocab rank must stay range-partitioned —
    // no single-partition Window over the corpus-sized relation (the
    // bounded 200-row zipf tail is the one allowed unpartitioned window)
    val vc = try plan("q_vocab_coverage") finally graft.CacheTracker.releaseAll()
    assert(!vc.contains("Window"), s"coverage rank must be zipWithIndex, not Window:\n${vc.take(400)}")
    // BLEU pairs: per-pair HOFs ride the id joins — never a cartesian
    val bp = try plan("q_bleu_pairs") finally graft.CacheTracker.releaseAll()
    assert(!bp.contains("CartesianProduct"), s"pair metric must not cartesian:\n${bp.take(400)}")
    // perceptual hash: banded equi-join candidates — no cartesian, and the
    // verify joins hash-partition on the pair ids
    val ph = try plan("q_multimodal_phash") finally graft.CacheTracker.releaseAll()
    assert(!ph.contains("CartesianProduct"), s"phash must stay banded:\n${ph.take(400)}")
    // video dedup: candidates come from the df-capped frame-hash
    // equi-join — never an all-pairs product over videos
    val vd = try plan("q_video_dedup") finally graft.CacheTracker.releaseAll()
    assert(!vd.contains("CartesianProduct"), s"video dedup must stay frame-indexed:\n${vd.take(400)}")
    // join-size sketch: the estimate side never shuffles a fact table by
    // the join key — only 2048-cell sketch relations join
    val js = plan("q_join_size_sketch")
    assert(!js.contains("SortMergeJoin"),
      s"sketch inner product must stay on tiny relations:\n${js.take(600)}")
  }

  test("every iterative query keeps a bounded analyzed plan (lineage-growth guard)") {
    // the k-core lesson generalized: an iterative builder that re-derives
    // its loop relation each round grows the ANALYZED tree multiplicatively
    // per iteration (k-core hit 20+ s of pure planning before its
    // localCheckpoint cut). Node count is stable across session history,
    // so each iterative query gets a hard cap well below the blow-up
    // regime but above its steady-state size.
    for (q <- Seq("q_graph_pagerank", "q_dedup_cc_largestar",
        "q_dedup_cc_incremental", "q_markov_stationary", "q_pca_power")) {
      val df = SparkEntry.queries(q)(spark, sf)
      val nodes = df.queryExecution.analyzed.collect { case _ => 1 }.sum
      CacheTracker.releaseAll()
      assert(nodes < 1500, s"$q analyzed tree has $nodes nodes — iteration lineage is growing")
    }
  }

  test("at-rest IVF search prunes to the probed cells (PartitionFilters on the cid-keyed index)") {
    // the cell index is written partitionBy("cid") and ivfSearch pushes
    // the probed-cid set as a literal predicate — the serving contract
    // "a tick reads ONLY its probed cells' files" holds only if that
    // predicate lands in the scan's PartitionFilters, not a post-scan
    // Filter. This is the guard for q_sim_ivf_at_rest AND the streaming
    // annQuerySink (same ivfSearch over the same index).
    val df = operators.Similarity.qSimIvfAtRest(spark, sf)
    val p = try df.queryExecution.executedPlan.toString
      finally CacheTracker.releaseAll()
    val partFilters = "PartitionFilters: \\[[^\\]]+\\]".r.findAllIn(p).toList
    assert(partFilters.exists(f => f.contains("cid") && f.contains("IN")),
      s"probed-cid IN predicate must be a PartitionFilter on the cell scan:\n" +
        partFilters.mkString("\n") + "\n" + p.take(1200))
    // and the index really is laid out as cid=<n> partition directories
    val (cellsDir, _) = operators.Similarity.ivfIndexDirs(spark, sf)
    val cellParts = Option(cellsDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("cid="))
    assert(cellParts.length >= 2,
      s"cell index must be hive-partitioned by cid, found: ${cellsDir.listFiles().map(_.getName).mkString(",")}")
    // the incremental form searches standing ∪ delta — BOTH on-disk
    // relations must prune to the probed cells, or the delta-refresh
    // economics die at scale exactly like the unpartitioned index did
    val inc = operators.Similarity.qSimIvfIncremental(spark, sf)
    val pInc = try inc.queryExecution.executedPlan.toString
      finally CacheTracker.releaseAll()
    val pfInc = "PartitionFilters: \\[[^\\]]+\\]".r.findAllIn(pInc).toList
      .filter(f => f.contains("cid") && f.contains("IN"))
    assert(pfInc.size >= 2,
      s"standing and delta scans must both carry probed-cid PartitionFilters:\n${pfInc.mkString("\n")}")
  }

  test("q_mv_rewrite: the aggregate is answered from the materialized view, not the fact") {
    // with the rule installed the consumer's whole Aggregate subtree is
    // redirected onto the |groups|-row MV parquet: the only scan in the
    // plan is the MV — the fact table is never touched
    val rewritten = plan("q_mv_rewrite")
    assert(rewritten.contains("mv_lineitem_rollup"),
      "consumer must read the at-rest MV")
    assert(!rewritten.contains("lineitem.parquet"),
      "consumer must not touch the fact table")
    // the same consumer WITHOUT the rule scans the fact (the rewrite,
    // not the builder, is what redirects it) — and both answers agree
    plans.MvRewrite.uninstall(spark, "mv_lineitem_rollup")
    try {
      val direct = operators.Scale.mvStoredRollup(spark, sf)
      assert(direct.queryExecution.executedPlan.toString.contains("lineitem.parquet"))
      val served = spark.read.parquet(
        operators.Scale.mvServingDir(spark, sf).getAbsolutePath)
      assert(served.exceptAll(direct).isEmpty && direct.exceptAll(served).isEmpty,
        "MV content must equal the from-scratch aggregate")
    } finally plans.MvRewrite.uninstall(spark, "mv_lineitem_rollup")
  }

  test("q_mv_refresh_serve: the consumer is served FROM the refresh-built generation") {
    // the round-11 verdict's missing face: installMv builds the serving
    // generation VIA incremental refresh (at-rest history partials ⊕
    // delta partials — never a full-fact rebuild), so the generation a
    // consumer is served from IS the one maintenance produced. Assert
    // (a) the plan reads the serving generation and never the fact,
    // (b) the history artifact the refresh folded from exists at rest,
    // (c) the refresh-built generation is bit-identical to a
    //     from-scratch build of the view definition.
    val executed = SparkEntry.queries("q_mv_refresh_serve")(spark, sf).queryExecution.executedPlan
    val p = executed.toString
    val servingDir = operators.Scale.mvServingDir(spark, sf)
    try {
      // the scans' root paths, not the plan text: the printed Location
      // is abbreviated (spark.sql.maxMetadataStringLength), so how much
      // of the generation name survives depends on the checkout path
      val roots = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
        .collect(executed) {
          case scan: org.apache.spark.sql.execution.FileSourceScanExec =>
            scan.relation.location.rootPaths.map(r => new java.io.File(r.toUri).getPath)
        }.flatten
      assert(roots.contains(servingDir.getAbsolutePath),
        s"consumer must read the refresh-built serving generation, read: ${roots.mkString(", ")}")
      assert(!p.contains("lineitem.parquet"),
        "served consumer must not touch the fact table")
      val histDir = new java.io.File(operators.Scale.mvHistAtRest(spark, sf))
      assert(AtRest.isBuilt(histDir),
        "the history generation the refresh folds from must exist at rest")
      plans.MvRewrite.uninstall(spark, "mv_lineitem_rollup")
      val refreshed = spark.read.parquet(servingDir.getAbsolutePath)
      val scratch = operators.Scale.mvStoredRollup(spark, sf)
      assert(refreshed.exceptAll(scratch).isEmpty && scratch.exceptAll(refreshed).isEmpty,
        "refresh-built generation must equal a from-scratch build exactly")
    } finally plans.MvRewrite.uninstall(spark, "mv_lineitem_rollup")
  }

  test("q_mv_standing_serve: generation plus an UNFOLDED tick serve the consumer, no fold, no fact") {
    // between-folds freshness: the rule's scan is history-generation ∪
    // the fresh tick tree, unioned RAW (no pre-aggregation anywhere —
    // the consumer's re-aggregation algebra absorbs duplicate group
    // rows); both relations must appear in the plan and the fact never
    val p = plan("q_mv_standing_serve")
    try {
      assert(p.contains("mv_lineitem_rollup_hist"),
        s"standing consumer must read the history generation:\n${p.take(1500)}")
      assert(p.contains("mv_lineitem_rollup_ticks"),
        s"standing consumer must read the unfolded tick tree:\n${p.take(1500)}")
      assert(!p.contains("lineitem.parquet"),
        "standing consumer must not touch the fact table")
      assert(p.contains("Union"),
        "the two partial relations union below the re-aggregation")
      // served ≡ from-scratch fact aggregate (materialize while installed)
      val served = SparkEntry.queries("q_mv_standing_serve")(spark, sf)
        .collect().toSeq.sortBy(r => (r.getString(0), r.getString(1)))
      plans.MvRewrite.uninstall(spark, "mv_lineitem_rollup")
      val directDf = operators.Scale.qMvStandingServe(spark, sf)
      plans.MvRewrite.uninstall(spark, "mv_lineitem_rollup") // install re-adds
      assert(directDf.queryExecution.executedPlan.toString.contains("lineitem.parquet"),
        "control run must scan the fact")
      assert(served == directDf.collect().toSeq.sortBy(r => (r.getString(0), r.getString(1))),
        "standing-served answer must equal the from-scratch aggregate exactly")
    } finally plans.MvRewrite.uninstall(spark, "mv_lineitem_rollup")
  }

  test("q_mv_expr_key_serve: an expression-valued view key matches at the view's grain") {
    // the consumer groups by the orders view's month EXPRESSION
    // (date_trunc), not a bare column — the matcher must recognize the
    // whole expression as a view key instead of descending to the
    // non-key o_orderdate leaf and bailing (the round-11 ADVICE gap)
    val p = plan("q_mv_expr_key_serve")
    try {
      assert(p.contains("mv_orders_rollup"),
        s"month-expression consumer must read the orders MV:\n${p.take(1200)}")
      assert(!p.contains("orders.parquet"),
        "month-expression consumer must not touch the fact table")
      // served ≡ from-scratch, bit-identical (materialize while installed)
      val served = SparkEntry.queries("q_mv_expr_key_serve")(spark, sf)
        .collect().toSeq.sortBy(_.getDate(0).toString)
      plans.MvRewrite.uninstall(spark, "mv_orders_rollup")
      val directDf = operators.Scale.qMvExprKeyServe(spark, sf)
      plans.MvRewrite.uninstall(spark, "mv_orders_rollup") // installMvOrders re-adds
      assert(directDf.queryExecution.executedPlan.toString.contains("orders.parquet"),
        "control run must scan the fact")
      assert(served == directDf.collect().toSeq.sortBy(_.getDate(0).toString),
        "expression-key derived answer must equal the from-scratch aggregate exactly")
    } finally plans.MvRewrite.uninstall(spark, "mv_orders_rollup")
  }

  test("mv rules are SCOPED: after the harness release point, later queries never see them") {
    // Verify/Bench uninstall every MvRewrite at each query's release
    // point (alongside CacheTracker.releaseAll) — replay that boundary
    // and prove a later derivable aggregate scans the fact, not the MV
    operators.Scale.installMv(spark, sf)
    operators.Scale.installMvOrders(spark, sf)
    assert(spark.experimental.extraOptimizations.exists(_.isInstanceOf[plans.MvRewrite]),
      "precondition: rules installed")
    plans.MvRewrite.uninstallAll(spark) // the harness boundary
    assert(!spark.experimental.extraOptimizations.exists(_.isInstanceOf[plans.MvRewrite]),
      "uninstallAll must remove every MvRewrite rule")
    val later = plan("q1_pricing_summary")
    assert(later.contains("lineitem.parquet") && !later.contains("mv_lineitem_rollup"),
      s"a post-boundary query must scan the fact, never the MV:\n${later.take(1200)}")
    // the sharper case: a GENUINELY DERIVABLE aggregate (q1's shipdate
    // predicate would bail regardless) must also scan the fact once the
    // rules are unscoped — this is what silent MV-benching would hit
    val derivable = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_items"))
      .queryExecution.executedPlan.toString
    assert(derivable.contains("lineitem.parquet") && !derivable.contains("mv_lineitem_rollup"),
      s"a derivable post-boundary aggregate must scan the fact:\n${derivable.take(1200)}")
  }

  test("q_mv_rollup_serve: a coarser grain + an avg are DERIVED from the view") {
    // the consumer's grouping is a strict subset of the view's keys and
    // its avg was never stored — the rule must still serve it from the
    // MV (count→sum(n), sum→sum(sum_x)), never scanning the fact
    val p = plan("q_mv_rollup_serve")
    assert(p.contains("mv_lineitem_rollup"),
      "derivable consumer must read the at-rest MV")
    assert(!p.contains("lineitem.parquet"),
      "derivable consumer must not touch the fact table")
    assert(p.contains("HashAggregate"),
      "a coarser grain re-aggregates the |groups|-row MV scan")
    // served answer ≡ the from-scratch fact aggregate, bit-identical.
    // Materialize the served rows WHILE the rule is installed (optimization
    // happens at action time — collecting after uninstall would silently
    // compare the fact path against itself).
    val servedRows = SparkEntry.queries("q_mv_rollup_serve")(spark, sf)
      .collect().toSeq.sortBy(_.getString(0))
    plans.MvRewrite.uninstall(spark, "mv_lineitem_rollup")
    try {
      val directDf = operators.Scale.qMvRollupServe(spark, sf)
      plans.MvRewrite.uninstall(spark, "mv_lineitem_rollup") // installMv re-adds
      assert(directDf.queryExecution.executedPlan.toString.contains("lineitem.parquet"),
        "control run must scan the fact")
      val directRows = directDf.collect().toSeq.sortBy(_.getString(0))
      assert(servedRows == directRows,
        s"derived answer must equal the from-scratch aggregate exactly:\n$servedRows\n$directRows")
    } finally plans.MvRewrite.uninstall(spark, "mv_lineitem_rollup")
  }

  test("q_mv_rewrite_filtered: keyed predicate is CARRIED onto the MV scan") {
    // the dashboard shape (WHERE key GROUP BY other_key): the plan must
    // read the MV, never the fact, and the rebased predicate must
    // survive as a filter on the MV scan — a rewrite that served the MV
    // but dropped the WHERE would be silently wrong, the exact r10
    // regression this guards against
    val p = plan("q_mv_rewrite_filtered")
    assert(p.contains("mv_lineitem_rollup"),
      "filtered derivable consumer must read the at-rest MV")
    assert(!p.contains("lineitem.parquet"),
      "filtered derivable consumer must not touch the fact table")
    assert(p.contains("l_returnflag"),
      s"the rebased key predicate must survive in the MV plan:\n${p.take(1500)}")
    // answer equality: served (rule installed) ≡ from-scratch fact scan
    val served = SparkEntry.queries("q_mv_rewrite_filtered")(spark, sf)
      .collect().toSeq.sortBy(_.getString(0))
    plans.MvRewrite.uninstall(spark, "mv_lineitem_rollup")
    try {
      val directDf = operators.Scale.qMvRewriteFiltered(spark, sf)
      plans.MvRewrite.uninstall(spark, "mv_lineitem_rollup") // installMv re-adds
      assert(directDf.queryExecution.executedPlan.toString.contains("lineitem.parquet"),
        "control run must scan the fact")
      assert(served == directDf.collect().toSeq.sortBy(_.getString(0)),
        "filtered derived answer must equal the from-scratch aggregate exactly")
    } finally plans.MvRewrite.uninstall(spark, "mv_lineitem_rollup")
  }

  test("mv rewrite: a predicate on a NON-key column bails to the fact scan") {
    // l_shipdate is finer than the view's grain — group members disagree
    // on it, so no MV filter can express the WHERE; the rewrite must
    // leave the plan untouched (and therefore correct), never serve the
    // MV with the predicate dropped or half-applied
    operators.Scale.installMv(spark, sf)
    try {
      val neg = Tables.lineitem(spark, sf)
        .where(col("l_shipdate") > "1995-06-01")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_items"))
      val pn = neg.queryExecution.executedPlan.toString
      assert(pn.contains("lineitem.parquet") && !pn.contains("mv_lineitem_rollup"),
        s"non-key predicate must bail to the fact scan:\n${pn.take(1500)}")
    } finally plans.MvRewrite.uninstall(spark, "mv_lineitem_rollup")
  }

  test("mv rewrite: count(NULL) stays 0 per group, never the row-count partial") {
    // count(NULL) matches the Count(literal) SHAPE but not its meaning:
    // mapping it to sum(n) would silently replace 0 with the group's
    // row count — the transparency property's worst violation, guarded
    // by the non-null-literal requirement in mapAggFn. In practice
    // Spark's own optimizer folds count(NULL) to literal 0 BEFORE the
    // rewrite runs, leaving a keys-only aggregate that IS derivable
    // (the MV's key set equals the fact's distinct keys — the view is
    // an unfiltered full-fact rollup), so assert the ANSWER: every
    // group's n_null is exactly 0 through whichever path serves it.
    operators.Scale.installMv(spark, sf)
    try {
      val q = Tables.lineitem(spark, sf)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(null)).as("n_null"))
      val rows = q.collect()
      assert(rows.nonEmpty && rows.forall(_.getLong(2) == 0L),
        "count(NULL) must stay 0 per group under the installed rewrite")
      val direct = Tables.lineitem(spark, sf)
        .groupBy(col("l_returnflag"), col("l_linestatus")).count().count()
      assert(rows.length == direct.toInt,
        "the served group set must equal the fact's distinct key set")
    } finally plans.MvRewrite.uninstall(spark, "mv_lineitem_rollup")
  }

  test("q_mv_catalog_serve: two installed views serve two facts in one query") {
    // the rewrite is a CATALOG: both rules coexist in one session, each
    // firing only on its own base relation — the lineitem panel reads
    // mv_lineitem_rollup, the orders panel mv_orders_rollup, and
    // NEITHER fact table is scanned
    try {
      val p = plan("q_mv_catalog_serve")
      assert(p.contains("mv_lineitem_rollup"),
        "lineitem consumer must read its view")
      assert(p.contains("mv_orders_rollup"),
        "orders consumer must read its view")
      assert(!p.contains("lineitem.parquet") && !p.contains("orders.parquet"),
        "neither fact may be scanned")
      // the whole catalog is refresh-built: BOTH views' history
      // generations exist at rest (serving gens are hist ⊕ delta folds)
      assert(AtRest.isBuilt(new java.io.File(operators.Scale.mvHistAtRest(spark, sf))),
        "lineitem history generation must exist")
      assert(AtRest.isBuilt(AtRest.dir(spark, sf, "mv_orders_rollup_hist", "orders",
        params = s"${operators.Scale.MvOrdersParams};hist<${operators.Scale.MvCutoff}")),
        "orders history generation must exist")
    } finally {
      plans.MvRewrite.uninstall(spark, "mv_lineitem_rollup")
      plans.MvRewrite.uninstall(spark, "mv_orders_rollup")
    }
  }

  test("q_mv_minmax_serve: min/max partials re-aggregate from the view") {
    val p = plan("q_mv_minmax_serve")
    assert(p.contains("mv_lineitem_rollup"),
      "min/max consumer must read the at-rest MV")
    assert(!p.contains("lineitem.parquet"),
      "min/max consumer must not touch the fact table")
  }

  test("q_bucketed_join: co-located bucketed SMJ with zero Exchange and zero Sort") {
    // both fact tables live at rest bucketed INTO the same 8 buckets ON
    // the join key and sorted within single-file buckets — the join must
    // read them co-located: any Exchange re-shuffles a fact table (the
    // exact cost bucketing exists to eliminate), and any Sort under the
    // SMJ means the bucket sort order was not trusted (multi-file
    // buckets would cause this — bucketedTable writes one file per
    // bucket precisely to avoid it).
    val df = operators.Scale.qBucketedJoin(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n${p.take(1200)}")
    // everything BELOW the join must be exchange-free and sort-free (the
    // one Exchange above it is the 5-group post-aggregation re-agg)
    val below = p.substring(p.indexOf("SortMergeJoin"))
    assert(!below.contains("Exchange"),
      s"bucketed join must not shuffle either side:\n${below.take(2000)}")
    assert(!below.contains("Sort ["),
      s"bucket sort order not exploited — Sort below the SMJ:\n${below.take(2000)}")
    assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
      s"scan did not use the bucket layout:\n${p.take(2000)}")
  }

  test("q_dpp_prune: dim filter reaches the fact scan as a dynamic PartitionFilter") {
    // the months worth reading come from the orders-side filter at
    // RUNTIME — the fact scan must carry a dynamicpruningexpression in
    // its PartitionFilters (static pruning cannot see through the join),
    // and the fact really is hive-partitioned by ship_month on disk.
    val df = operators.Scale.qDppPrune(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruningexpression"),
      s"expected DPP on the month-partitioned fact scan:\n${p.take(2000)}")
    val pf = "PartitionFilters: \\[[^\\]]+\\]".r.findAllIn(p).toList
    assert(pf.exists(f => f.contains("ship_month") && f.contains("dynamicpruning")),
      s"ship_month dynamic predicate must be a PartitionFilter:\n${pf.mkString("\n")}")
    val factDir = new java.io.File(operators.Scale.monthPartitionedLineitem(spark, sf))
    val monthParts = Option(factDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("ship_month="))
    assert(monthParts.length >= 12,
      s"fact must be hive-partitioned by ship_month, found ${monthParts.length} partitions")
  }
}
