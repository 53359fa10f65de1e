package graft

import graft.SparkTestSession
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/**
 * Physical-plan audit: asserts the plans the engine is DESIGNED to
 * produce — predicate/projection pushdown into the parquet scan,
 * broadcast joins for dims, a single exchange for stacked windows, no
 * full-width window shuffle in the top-k ranking. A regression that
 * silently flips a broadcast join to sort-merge or un-pushes a filter
 * fails here long before it burns a cluster at 100 TB.
 */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = SparkTestSession.sfDir

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("s01: filter and projection reach the parquet scan") {
    val p = plan("s01_scan_pushdown")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThan(l_quantity,10.0)"), p)
    // pruned read schema: only the 2 needed columns are read
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_returnflag:string>"), p)
  }

  test("j01: dimension joins are broadcast, not sort-merge") {
    val p = plan("j01_broadcast_enrich")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("w04: stacked same-partitioning windows share one exchange on user_id") {
    val p = plan("w04_segment_total")
    // exactly one hashpartitioning exchange on user_id for the two
    // stacked gap windows (the final orderBy adds a rangepartitioning)
    val hashExchanges = "hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(hashExchanges >= 1 && hashExchanges <= 2, s"user_id exchanges=$hashExchanges\n$p")
  }

  test("v01: ANN ranking is a bounded aggregation, not a row_number window") {
    val p = plan("v01_ann_brute_topk")
    assert(!p.contains("RunningWindowFunction"), p)
    assert(!p.toLowerCase.contains("window"), p) // no window operator at all
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"), p)
  }

  test("s13: bucketed fact-fact join runs with ZERO exchange on the join keys") {
    val p = plan("s13_bucketed_join")
    assert(p.contains("SortMergeJoin"), p)
    // co-location: neither side shuffles on its join key — the only
    // exchanges in the plan are the aggregation/order ones downstream
    assert(!p.contains("hashpartitioning(l_orderkey"), p)
    assert(!p.contains("hashpartitioning(o_orderkey"), p)
  }

  test("s14: with broadcast off, the salt column enters the shuffle key (hot key spreads)") {
    // the salting tool's whole point only shows on the shuffled path —
    // at test scale the dim would broadcast and the salt would be inert
    val conf = spark.conf
    val prev = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("s14_salted_join")
      assert(p.contains("__salt"), p)
      val saltedExchange = "hashpartitioning\\(l_returnflag[^)]*__salt".r.findFirstIn(p)
      assert(saltedExchange.isDefined, s"no (key, salt) exchange found\n$p")
    } finally conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("a05: kernel is one partial+final hash aggregation (map-side combine)") {
    val p = plan("a05_event_kernel")
    val aggs = "HashAggregate".r.findAllIn(p).length
    assert(aggs >= 2, p) // partial + final
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("t80: semantic decontamination broadcasts the suite side; the " +
      "per-doc arg-max combines map-side") {
    val p = plan("t80_semantic_decontam")
    // the |docs|×|suite| product lives only inside the per-task
    // broadcast loop — never in an exchange
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // the arg-max is the bounded TopKAgg (partial + final object hash
    // aggregate): one row per doc reaches the shuffle, and the task
    // never SORTS the doc×suite product (the max(struct) fallback)
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("asof01: one sort-shuffle on the key, no pair-explosion join") {
    val p = plan("asof01_backward_tolerance")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("entry: flagship plan broadcasts both dims and prunes columns") {
    val p = SparkEntry.entry(spark).queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(p).length === 2, p)
    assert(p.contains("ReadSchema: struct<l_suppkey:bigint,l_extendedprice:double>"), p)
  }

  test("bsr01: steal kernel is union → ONE hash aggregation, league rates broadcast") {
    val p = plan("bsr01_steal_stats")
    assert(p.contains("Union"), p)
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bsr02: wEBT runner-dests are one window pass; league rates via broadcast join") {
    val p = plan("bsr02_webt")
    // the only nest-loop allowed is the 1-row league-rate broadcast
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    // dest lead()s run in a single window over (contest_id, play_id)
    val winExchanges = "hashpartitioning\\(contest_id".r.findAllIn(p).length
    assert(winExchanges <= 2, s"contest_id exchanges=$winExchanges\n$p")
  }

  test("bsr03: composite joins stay hash/broadcast — no cartesian pair blowup") {
    val p = plan("bsr03_baserunning")
    assert(!p.contains("CartesianProduct"), p)
    // nested-loop joins are allowed ONLY as 1-row league-scalar cross
    // broadcasts (build-right Cross); any data-sized nested loop fails
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    val crossScalar = "BroadcastNestedLoopJoin BuildRight, Cross".r.findAllIn(p).length
    assert(bnl === crossScalar, s"non-scalar nested-loop joins\n$p")
  }

  test("val01: value table is ONE aggregation with inline ± splits") {
    val p = plan("val01_value_batter")
    assert(!p.contains("Union"), p) // NOT three separate groupbys unioned
    // min(string) reps force SortAggregate; still partial+final pairs
    val aggs = "(HashAggregate|SortAggregate)".r.findAllIn(p).length
    assert(aggs >= 2, p)
  }

  test("t08: simhash is a native codegen expression — no Scala UDF in the plan") {
    val p = plan("t08_simhash_pairs")
    assert(!p.contains("ScalaUDF"), p)
    assert(p.toLowerCase.contains("simhash60"), p) // the native expression prints its prettyName
  }

  test("pbp01: fold repartitions once by game; no cartesian anywhere") {
    val p = plan("pbp01_parse_enrich")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"), p)
  }

  test("t12: the benchmark gram set is broadcast — the training side never re-shuffles by gram") {
    val p = plan("t12_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t15: packing is exactly one hash exchange on the shard key") {
    val p = plan("t15_sequence_packing")
    val shardExchanges = "hashpartitioning\\(shard".r.findAllIn(p).length
    assert(shardExchanges === 1, s"shard exchanges=$shardExchanges\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("t14/t18: repetition signals and chunking are map-only — no exchange except the output sort") {
    for (name <- Seq("t14_repetition_signals", "t18_token_chunks")) {
      val p = plan(name)
      // the only exchange is the final presentation orderBy (range)
      assert(!p.contains("hashpartitioning"), s"$name:\n$p")
      assert(!p.contains("ScalaUDF"), s"$name:\n$p")
    }
  }

  test("t19: line dedup is linear shuffles only — no window, no sort-merge pair join") {
    val p = plan("t19_line_dedup")
    assert(!p.toLowerCase.contains("window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("ScalaUDF"), p)
  }

  test("t20: BM25 prunes the corpus side map-side and ranks via bounded aggregation") {
    val p = plan("t20_bm25_topk")
    // query-term set, df table, stats and query join are all broadcast;
    // ranking is TopKAgg — never a row_number window
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.toLowerCase.contains("window"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"), p)
  }

  test("t21: mixture sampling touches the corpus with one broadcast join + filter") {
    val p = plan("t21_mixture_sample")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.toLowerCase.contains("window"), p)
  }

  test("f10: position/division cleaning is a pure map-only projection") {
    val p = plan("f10_position_division_clean")
    assert(!p.contains("hashpartitioning"), p)
    assert(!p.contains("ScalaUDF"), p)
  }

  test("t22/t23/t24: the text-analysis family stays UDF-free with no pair blowup") {
    // note: the 1-row stats crossJoin(broadcast(...)) in t22/t23
    // compiles to a BroadcastNestedLoopJoin with a single build row —
    // that is the documented scalar-attach shape, not a pair blowup,
    // so only unbounded products are asserted against here
    for (name <- Seq("t22_tfidf_keywords", "t23_lm_perplexity", "t24_dup_spans")) {
      val p = plan(name)
      assert(!p.contains("ScalaUDF"), s"$name:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
    }
  }

  test("t55: winnowing runs on ONE document exchange — both windows, the distinct and the digest share it") {
    val p = plan("t55_winnowing")
    // the rightmost-min key folds the tie-break into a plain window
    // min(), so the whole selection is two Window passes + aggregates
    // over a single hashpartitioning(id) — no join, no second scan
    val idExchanges = "hashpartitioning\\(id".r.findAllIn(p).length
    assert(idExchanges === 1, s"id exchanges=$idExchanges\n$p")
    assert(!p.contains("Join"), p)
    assert(!p.contains("ScalaUDF"), p)
  }

  test("t56: novelty is one shingle-bucketed join — no pair blowup, no UDF") {
    val p = plan("t56_ngram_novelty")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("ScalaUDF"), p)
  }

  test("t27: the Bloom prefilter probe is a native codegen expression, not a UDF") {
    // VERDICT r8: the per-row mightContainLong UDF broke codegen in an
    // otherwise map-only prefilter stage; BloomMightContainExpr must
    // keep the whole probe projection inside WholeStageCodegen
    val p = plan("t27_incremental_dedup")
    assert(!p.contains("ScalaUDF"), p)
    assert(!p.contains("BatchEvalPython"), p)
    assert(p.contains("bloom_might_contain"), p)
  }

  test("v02/v05: bucketed ANN joins broadcast the query side — corpus never re-shuffles") {
    // the corpus side is the 100 TB side; the probed-query side is
    // KB-sized at any scale and must be the broadcast build side
    for (name <- Seq("v02_ann_lsh_topk", "v05_ann_ivf_topk")) {
      val p = plan(name)
      assert(p.contains("BroadcastHashJoin"), s"$name:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$name:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
    }
  }

  test("o05: grouped top-k rides the bounded aggregate — no window, no per-group sort") {
    val p = plan("o05_grouped_topk_agg")
    assert(!p.contains("Window"), p)
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"), p)
    assert(p.contains("partial_"), p) // map-side combined k-state
  }

  test("w14: the EWMA's 12 lag terms share ONE user exchange and stay codegen") {
    val p = plan("w14_ewma_smooth")
    val userExchanges = "hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(userExchanges === 1, s"user_id exchanges=$userExchanges\n$p")
    assert(!p.contains("ScalaUDF"), p)
    assert(!p.contains("Join"), p)
  }

  test("dq03: PSI is two count aggregates + broadcast scalar attaches — no row-sized shuffle") {
    val p = plan("dq03_psi_drift")
    assert(!p.contains("ScalaUDF"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the only nested-loop joins are the 1-row broadcast scalar
    // attaches (min/max and totals)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ses10: the windowed drift monitor is ONE aggregate over the stream side") {
    val p = plan("ses10_drift_window")
    assert(!p.contains("ScalaUDF"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_"), p) // map-side combined histogram
  }

  test("ses03: the streaming windowed aggregate's batch form is one partial+final hash agg") {
    val p = plan("ses03_windowed_type_counts")
    // map-side combine: partial_ aggregate functions before the exchange
    assert(p.contains("partial_"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // one hash exchange for the agg keys (plus the presentation range sort)
    val hashExchanges = "hashpartitioning\\(".r.findAllIn(p).length
    assert(hashExchanges === 1, s"hash exchanges=$hashExchanges\n$p")
  }

  test("t28: budget selection joins the corpus to BROADCAST bucket tables — no corpus-wide sort-merge") {
    val p = plan("t28_budget_select")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t29: rank normalization never sorts the corpus — broadcast lookup join only") {
    val p = plan("t29_rank_normalize")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the only unpartitioned window runs over the bucket table; the
    // corpus side must not pass through a SinglePartition exchange
    // followed by a corpus-wide Window — assert no Window consumes the
    // parquet scan directly
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t30: sliding chunks is a map-only narrow plan — no hash shuffle, no join, no window") {
    val p = plan("t30_sliding_chunks")
    // the final orderBy contributes the only exchange (range); the
    // chunking itself must never hash-shuffle
    assert(!p.contains("hashpartitioning"), p)
    assert(!p.contains("Join"), p)
    assert(!p.toLowerCase.contains("window"), p)
    assert(p.contains("Generate explode"), p)
  }

  test("t28: budget selection joins by broadcast only — no corpus sort-merge") {
    val p = plan("t28_budget_select")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t31: grouped budget selection joins by broadcast only") {
    val p = plan("t31_budget_mixture")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t32: incremental near-dup candidates come from an equi-join, never a cross product") {
    val p = plan("t32_incremental_neardup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("ses04: the stream-dedup batch form is key-partitioned dedup — no window, no join") {
    val p = plan("ses04_stream_dedup_keys")
    assert(!p.toLowerCase.contains("window"), p)
    assert(!p.contains("Join"), p)
    assert(p.contains("hashpartitioning(fp"), p)
  }

  test("t39: DSIR scoring is map-only and the top-k is TakeOrdered, not a global sort") {
    val p = plan("t39_dsir_resample")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("Exchange rangepartitioning"), p)
    assert(!p.contains("UDF"), p)
  }

  test("ses06: the interval join is an equi join on user_id with a range residual — no cartesian") {
    val p = plan("ses06_interval_join")
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
    assert(p.contains("user_id"), p)
  }

  test("t40/t42: HTML extraction and language-ID scoring are map-only codegen (no join in scoring)") {
    val p40 = plan("t40_html_extract")
    assert(!p40.contains("Join") && !p40.toLowerCase.contains("window"), p40)
    assert(!p40.contains("UDF"), p40)
    // t42 trains driver-side (profiles are literals); the CLASSIFY plan
    // must carry no join — only the scan, the fold projection, and the
    // output sort
    val p42 = plan("t42_langid_ngram")
    assert(!p42.contains("Join"), p42)
    assert(!p42.contains("UDF"), p42)
  }

  test("v10/v11: PQ ADC scoring broadcasts the query LUT and ranks via bounded aggregation") {
    Seq("v10_ann_pq_adc", "v11_ann_ivfpq").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
        s"$q: query/LUT side must broadcast\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q\n$p")
      assert(!p.toLowerCase.contains("runningwindow"), s"$q\n$p")
      assert(!p.contains("UDF") && !p.contains("BatchEvalPython"), s"$q\n$p")
    }
  }

  test("v12: the persisted-codes search scans ONLY integer codes — no float vectors") {
    // run the query once (writes + reloads the index), then audit the
    // reloaded-search plan: the codes parquet scan must read id +
    // code columns only, and the probe join must be broadcast.
    val df = SparkEntry.queries("v12_ann_pq_persisted")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    val readSchemas = "ReadSchema: struct<[^>]*>".r.findAllIn(p).toSeq
    assert(readSchemas.nonEmpty, p)
    assert(readSchemas.exists(s => s.contains("code0") && !s.contains("vec")),
      s"codes scan must be ints-only: $readSchemas\n$p")
    // float vectors appear ONLY on the query side (vec_id < 10 pushed
    // into the scan) — the candidate/corpus side reads codes alone
    assert(readSchemas.count(_.contains("embedding")) ==
      "PushedFilters: \\[[^\\]]*LessThan\\(vec_id,10\\)".r.findAllIn(p).length,
      s"every float scan must be the filtered query side: $readSchemas\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("a19: the KMV sketch aggregates with map-side partials — bounded state, no distinct rewrite") {
    // the whole point of the sketch: partial aggregation bounds every
    // map task's contribution at k longs per group, so the plan must
    // be ObjectHashAggregate(partial) -> exchange -> final, with NO
    // count-distinct double-exchange rewrite and no join/sort
    val p = plan("a19_kmv_distinct")
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_kmindistinctagg"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // one shuffle for the aggregation (plus the global orderBy's range
    // exchange) — a distinct-expand rewrite would add a third
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges:\n$p")
  }

  test("v15: filtered ANN pushes the metadata predicate into the codes scan, not after ranking") {
    val df = SparkEntry.queries("v15_ann_filtered")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // the id-range predicate must reach the codes parquet reader as
    // PushedFilters — pre-filtering semantics, pruned at the scan
    assert("PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(id,100\\)".r
      .findFirstIn(p).isDefined, p)
    assert("PushedFilters: \\[[^\\]]*LessThan\\(id,400\\)".r
      .findFirstIn(p).isDefined, p)
    // and no residual id-filter ABOVE the top-k ranking (the TopKAgg
    // aggregate): post-filtering would sit between the root and the
    // first topkagg node in the plan dump (root-first ordering)
    val topkIdx = p.indexOf("topkagg")
    assert(topkIdx > 0, s"expected a TopKAgg ranking node:\n$p")
    val aboveRanking = p.substring(0, topkIdx)
    assert("Filter.*id#\\d+L? >= 100".r.findFirstIn(aboveRanking).isEmpty,
      s"id predicate must not re-appear above the ranking:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("a21: overlap matrix = bounded sketch partials + a broadcast pair join, corpus touched once") {
    // the corpus appears ONLY under the partial KMV aggregation (map-
    // side combine bounds every task at k longs per group); the G²/2
    // pair join runs over the tiny cached sketch table via a broadcast
    // nested-loop (non-equi g1 < g2) — never a shuffle of corpus rows
    val p = plan("a21_kmv_overlap")
    assert(p.contains("partial_kmindistinctagg"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("t44: heavy hitters rank via bounded aggregation and broadcast the winners — no window") {
    // the window form (row_number over the per-group vocabulary) would
    // show a Window node and shuffle the full histogram per group; the
    // bounded form must be histogram agg -> TopKAgg -> broadcast
    // join-back, with the big histogram side never re-shuffled for a
    // sort-merge
    val p = plan("t44_topk_tokens")
    assert(!p.contains("Window"), p)
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_topkagg"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("ses07/ses08: funnel and cohort chains are broadcast-join + hash-agg only") {
    // the funnel's later steps and the cohort's first-week side are
    // small relative to the events scan — they must broadcast; a
    // window or sort-merge join would mean a per-user sort crept in
    Seq("ses07_funnel", "ses08_cohort_retention").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), s"$q\n$p")
      assert(!p.contains("Window"), s"$q\n$p")
      assert(!p.contains("UDF") && !p.contains("BatchEvalPython"), s"$q\n$p")
    }
  }

  test("t48: uniform domain quota keeps the bounded two-phase shape (no full-corpus window)") {
    val p = plan("t48_domain_quota")
    // exactly the boundary-bucket ranking window may appear — its
    // partitions are (host, score) buckets, not corpus rows; the
    // full-keep path must stay a broadcast semi/equi join
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // count Window NODES (header "Window ["): the bucket prefix-sum
    // window (planned once per consumer branch above the persisted
    // bucket table — bucket-sized, so the duplication is cheap) and
    // the ≤1 boundary-bucket ranking window; all of them partition by
    // bucket/host keys, never corpus rows
    assert("Window \\[".r.findAllIn(p).length <= 3, p)
    assert(!p.contains("Window [") ||
      !"Window \\[[^\\]]*\\] \\[\\]".r.findFirstIn(p).isDefined,
      s"unpartitioned window found:\n$p")
  }

  test("t52: registrable-domain quota keeps the t48 bounded shape; suffix match is map-only") {
    val p = plan("t52_registrable_domain_quota")
    // the eTLD+1 extraction must compile to in-row higher-order exprs
    // — never a join against a suffix table, never a UDF
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
    assert("Window \\[".r.findAllIn(p).length <= 3, p)
  }

  test("t53: BPE roundtrip is a map-only projection (no shuffle before the harness sort)") {
    val p = plan("t53_bpe_roundtrip")
    assert(!p.contains("hashpartitioning"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("ScalaUDF"), p)
  }

  test("t54: temperature mixture is one dim-sized broadcast join + map-only gate") {
    val p = plan("t54_temperature_mix")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.toLowerCase.contains("window"), p)
    assert(!p.contains("ScalaUDF"), p)
  }

  test("dq02: row-wise enforcement is inline; only the Unique rule adds an exchange") {
    val p = plan("dq02_enforce")
    // no join anywhere — routing is a projection + one window per
    // Unique rule (partitioned by its key, never corpus-unpartitioned)
    assert(!p.contains("Join"), p)
    assert(!"Window \\[[^\\]]*\\] \\[\\]".r.findFirstIn(p).isDefined,
      s"unpartitioned window found:\n$p")
    assert(!p.contains("ScalaUDF"), p)
  }

  test("t50: RRF fusion joins only bounded lists; no cartesian anywhere") {
    val p = plan("t50_hybrid_rrf")
    // the dense side's query×candidate scoring is the deliberate
    // brute-force baseline (BroadcastNestedLoop on the tiny query
    // side); the ONLY sort-merge join allowed is the full-outer
    // fusion of two top-k lists (full outer cannot broadcast, and
    // both inputs are <= k rows per query by construction)
    assert(!p.contains("CartesianProduct"), p)
    assert("SortMergeJoin".r.findAllIn(p).length <= 1, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("UDF") && !p.contains("BatchEvalPython"), p)
  }

  test("e05/a26: unpivot and rollup are single Expand + aggregate chains") {
    // both reshape via ONE Expand (3x for the melt, level-count x for
    // the rollup) feeding a partial-aggregated hash agg — no join, no
    // window, exactly one hash exchange (plus the orderBy's range)
    Seq("e05_unpivot", "a26_rollup", "a27_grouping_sets").foreach { q =>
      val p = plan(q)
      assert(p.contains("Expand"), s"$q must reshape via Expand\n$p")
      assert(p.contains("HashAggregate"), s"$q\n$p")
      assert(!p.contains("Join") && !p.contains("Window"), s"$q\n$p")
      val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(hashEx <= 1, s"$q: expected <=1 hash exchange, got $hashEx\n$p")
      // EXACTLY one Expand: arbitrary grouping sets must not plan as
      // per-level re-scans or unioned aggregates
      val expands = "Expand".r.findAllIn(p).length
      assert(expands == 1, s"$q: expected exactly 1 Expand, got $expands\n$p")
      assert(!p.contains("Union"), s"$q must not union per-level scans\n$p")
    }
  }

  test("a24: CMS builds with map-side partial counts and the probe join broadcasts the sketch") {
    // each build partial is a plain HashAggregate(partial count) —
    // bounded at depth*width cells per task; the estimate side must
    // join the KB-sized sketch via broadcast, never a shuffle of the
    // probe items against corpus-sized state
    val p = plan("a24_cms_counts")
    assert(p.contains("HashAggregate"), p)
    assert("partial_count".r.findFirstIn(p).isDefined, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(!p.contains("UDF") && !p.contains("BatchEvalPython"), p)
  }

  test("t60: the backoff LM scores via equi-joins on ngram keys — no cartesian, no UDF") {
    // five left equi-joins (tri once, bigram twice, unigram twice) +
    // the 1-row N/V broadcast attach; nothing may degenerate into a
    // cartesian or a per-row closure
    val p = plan("t60_trigram_backoff_perplexity")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("ScalaUDF"), p)
    val joins = "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r
      .findAllIn(p).length
    assert(joins === 5, s"expected 5 LM equi-joins, saw $joins\n$p")
    assert("LeftOuter".r.findAllIn(p).length >= 5, p)
  }

  test("t66: the KN LM scores via equi-joins on gram keys — no cartesian, no UDF") {
    // ten left equi-joins (5-gram, ctx4 twice via c4/λ5, the six
    // continuation/λ tables, continuation unigrams) + the 1-row
    // scalar broadcast; nothing may degenerate into a cartesian or a
    // per-row closure
    val p = plan("t66_kn5_perplexity")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("ScalaUDF"), p)
    val joins = "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r
      .findAllIn(p).length
    assert(joins === 10, s"expected 10 LM equi-joins, saw $joins\n$p")
    assert("LeftOuter".r.findAllIn(p).length >= 10, p)
  }

  test("KN: plain and modified score through one join chain; no distinct-count aggregate") {
    // plain KN's λ and denominators come from the continuation tables'
    // bucket aggregates, so no count(DISTINCT) is left in its plan;
    // modified KN scores inside its cut, whose checkpoint plan reports
    // through withAction
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables.documents(spark, dir)
    val (ref, tgt) = (docs.filter(col("doc_id") % 10 === 0), docs.filter(col("doc_id") % 10 =!= 0))
    val plain = executions(graft.operators.TextModel.knFivegramCrossPerplexity(
      ref, "text", tgt, "doc_id", "text").collect())
    val modified = graft.util.Caches.scoped(executions(
      graft.operators.TextModel.modifiedKnFivegramCrossPerplexity(
        ref, "text", tgt, "doc_id", "text").collect()))
    assert(plain.map(KnPlan.distinctAggregates).sum === 0)
    val joins = (plain.map(KnPlan.joins).max, modified.map(KnPlan.joins).max)
    assert(joins._1 >= 10 && joins._1 === joins._2, s"plain, modified joins: $joins")
  }

  test("m12: the dHash pair join is a banded equi-join; decode stays out of the exchange") {
    val p = plan("m12_image_neardup_dhash")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // candidate generation keys on (chunk, chunk_val) — codes, never pixels
    assert("hashpartitioning\\(chunk".r.findFirstIn(p).isDefined ||
      p.contains("chunk_val"), p)
  }

  test("llm01: the composed pipeline gates row-locally before any shuffle; no cartesian") {
    val p = plan("llm01_corpus_pipeline")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
    // the disposition CASE is pure projection work — the only heavy
    // operators are the dedup window/aggregate and the gram joins
    assert(p.contains("HashAggregate"), p)
  }

  /** FileSourceScanExec nodes reading `documents`, summed over every
    * plan the session reports while `run` executes: the query's own
    * action plus each eager checkpoint and driver-side collect it
    * triggers (`Dataset.localCheckpoint` reports through `withAction`). */
  private def documentScans(run: => Unit): Int =
    executions(run).map(DocumentScans.in).sum

  /** Every query execution the session reports while `run` executes. */
  private def executions(run: => Unit): Seq[QueryExecution] = {
    val sc = spark.sparkContext
    val done = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        done.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
    }
    ListenerBusDrain(sc)
    spark.listenerManager.register(listener)
    try { run; ListenerBusDrain(sc) }
    finally spark.listenerManager.unregister(listener)
    done.toArray(Array.empty[QueryExecution]).toSeq
  }

  test("llm01/llm02: the per-document gates are columns, so the pipelines scan " +
      "documents fewer times") {
    // with the gates as frames joined back on doc_id, llm01 reported
    // 13 documents scans and llm02 14
    val scans = (
      documentScans(SparkEntry.queries("llm01_corpus_pipeline")(spark, dir).collect()),
      documentScans(SparkEntry.queries("llm02_corpus_multilang")(spark, dir).collect()))
    assert(scans === ((11, 12)))
  }

  test("t65: the gate consumes the bucketed history-shingle scan with ZERO exchange") {
    // the steady-state contract of the persisted dedup index: the
    // history shingle table is bucketed by `sh`, so the verification
    // join's history side is co-located at write time — only the
    // (batch-sized) probe side shuffles into the bucket layout. With
    // an exchange here, every daily batch would re-shuffle the full
    // history shingle table at 100 TB.
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val docs = graft.sources.Tables.documents(spark, dir)
    val path = java.nio.file.Files.createTempDirectory("graft_planaudit_didx").toString
    graft.operators.DedupIndex.write(path, docs.filter(col("doc_id") % 10 < 6),
      "doc_id", "text", 3, 12, 4)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // AQE off for a deterministic static plan; broadcast off so the
      // bucket CO-LOCATION property is what the plan must stand on
      // (with broadcast allowed the pruned history side just
      // broadcasts — also shuffle-free, but vacuously)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      graft.util.Caches.scoped {
        val drops = graft.operators.DedupIndex.gateParts(
          spark, path, docs.filter(col("doc_id") % 10 >= 6),
          "doc_id", "text", 3, 12, 4, 0.5)
        val root = drops.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case other => other
        }
        def nodes(p: SparkPlan): Seq[SparkPlan] = p +: p.children.flatMap(nodes)
        def isHistShingleScan(p: SparkPlan): Boolean = p match {
          case f: FileSourceScanExec =>
            f.relation.location.rootPaths.exists(_.toString.contains("/shingles/v"))
          case _ => false
        }
        val scans = nodes(root).filter(isHistShingleScan)
        assert(scans.nonEmpty, s"no history shingle scan in the gate plan\n$root")
        assert(scans.forall { case f: FileSourceScanExec => f.bucketedScan },
          s"history shingle scan is not bucketed\n$root")
        // no shuffle between the history scan and the join that consumes
        // it: the scan's HashPartitioning(sh) must satisfy the join's
        // clustering directly. (Exchanges ABOVE the join — the
        // candidate-bounded n_inter aggregation etc. — are legitimate.)
        def pathToScan(p: SparkPlan): Option[List[SparkPlan]] =
          if (isHistShingleScan(p)) Some(List(p))
          else p.children.flatMap(pathToScan).headOption.map(p :: _)
        val path0 = pathToScan(root).getOrElse(fail("scan path vanished"))
        val belowJoin = path0.reverse.takeWhile(n =>
          !n.nodeName.contains("Join")) // scan-side segment up to the join
        val shuffled = belowJoin.collect { case e: ShuffleExchangeExec => e }
        assert(shuffled.isEmpty,
          s"history shingle side shuffles before its join:\n${belowJoin.mkString("\n")}")
        assert(path0.exists(_.nodeName.contains("Join")),
          s"no join consumes the history shingle scan\n$root")
        // the candidate-id predicate reaches the scan (row-group pruning
        // against the per-file id sort — bytes bounded by candidates)
        assert(scans.exists(_.toString.contains("PushedFilters: [In(id")),
          s"candidate-id pushdown missing from the shingle scan\n${scans.head}")
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("t65/m16 band tables: the persisted band probes consume their history scans " +
      "bucketed with ZERO exchange") {
    // the r15 contract: the LAST history-proportional read in each
    // persisted gate — the band-bucket probe — is bucketed BY THE
    // PROBE KEY (DedupIndex: `bucket`; MediaIndex: `bkey`), so the
    // probe join co-locates on the files as written and only the
    // batch side ever shuffles. Broadcast off so co-location is what
    // the plan stands on.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val docs = graft.sources.Tables.documents(spark, dir)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def rootOf(df: org.apache.spark.sql.DataFrame): SparkPlan =
        df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case other => other
        }
      def auditBandScan(df: org.apache.spark.sql.DataFrame, what: String): Unit = {
        val root = rootOf(df)
        def isBandScan(p: SparkPlan): Boolean = p match {
          case f: FileSourceScanExec =>
            f.relation.location.rootPaths.exists(_.toString.contains("/bands/v"))
          case _ => false
        }
        // ALL root→scan paths: a gate may scan the band table more
        // than once (the audio gate's stage-2 chunk-0 slice re-keys
        // on (id, off) and legitimately shuffles); the contract is
        // that every band scan is bucketed and the PROBE path — at
        // least one — reaches its join with zero exchange
        def pathsToScans(p: SparkPlan): Seq[List[SparkPlan]] =
          if (isBandScan(p)) Seq(List(p))
          else p.children.flatMap(pathsToScans).map(p :: _)
        val paths = pathsToScans(root)
        assert(paths.nonEmpty, s"$what: no band scan in the probe plan\n$root")
        def bucketedProbe(path0: List[SparkPlan]): Boolean = {
          val bucketed = path0.last match {
            case f: FileSourceScanExec => f.bucketedScan
            case _ => false
          }
          val belowJoin = path0.reverse.takeWhile(n => !n.nodeName.contains("Join"))
          bucketed && path0.exists(_.nodeName.contains("Join")) &&
            belowJoin.collect { case e: ShuffleExchangeExec => e }.isEmpty
        }
        assert(paths.exists(bucketedProbe),
          s"$what: no band-scan path is bucketed and exchange-free to its join\n$root")
      }
      // MediaIndex (m16): the wide dHash store's gate probe, keyed on bkey
      val mPath = java.nio.file.Files.createTempDirectory("graft_planaudit_midx").toString
      val mCodes = docs.select(col("doc_id").as("media_id"),
        xxhash64(col("doc_id")).as("dhash"))
      graft.multimodal.MediaIndex.write(mPath, mCodes.filter(col("media_id") % 10 < 6))
      auditBandScan(graft.multimodal.MediaIndex.gateDrops(
        spark, mPath, mCodes.filter(col("media_id") % 10 >= 6), maxHamming = 3),
        "m16 media band probe")
      // AudioHash (m17): the narrow-code store's two-stage gate — the
      // stage-1 bkey probe must co-locate; the stage-2 chunk-0 slice
      // may re-key (candidate-bounded)
      val aPath = java.nio.file.Files.createTempDirectory("graft_planaudit_aidx").toString
      val aCodes = docs.select(col("doc_id").as("media_id"),
        (col("doc_id") % 100).as("off"),
        xxhash64(col("doc_id")).bitwiseAND(lit(0xffffffL)).as("ahash"))
      graft.multimodal.AudioHash.writeIndex(
        aPath, aCodes.filter(col("media_id") % 10 < 6))
      auditBandScan(graft.multimodal.AudioHash.gateDrops(
        spark, aPath, aCodes.filter(col("media_id") % 10 >= 6),
        maxHamming = 3, minRun = 5, maxAvgHam = 6),
        "m17 audio band probe")
      // the EXACT-candidate probe (the 100 TB mode): its contract is
      // that the HISTORY slice never shuffles — the batch side is
      // broadcast BY HINT, so the property must hold even with the
      // size-estimator threshold forced to -1 (as it is here): the
      // stage-1 join consuming the band scan must be a broadcast
      // join with zero exchange below the scan path
      locally {
        val root = rootOf(graft.multimodal.AudioHash.gateDrops(
          spark, aPath, aCodes.filter(col("media_id") % 10 >= 6),
          maxHamming = 3, minRun = 5, maxAvgHam = 6, exactCandidates = true))
        def isBandScan(p: SparkPlan): Boolean = p match {
          case f: FileSourceScanExec =>
            f.relation.location.rootPaths.exists(_.toString.contains("/bands/v"))
          case _ => false
        }
        def pathsToScans(p: SparkPlan): Seq[List[SparkPlan]] =
          if (isBandScan(p)) Seq(List(p))
          else p.children.flatMap(pathsToScans).map(p :: _)
        val paths = pathsToScans(root)
        assert(paths.nonEmpty, s"m17 exact probe: no band scan in plan\n$root")
        def exchangeFreeBroadcastProbe(path0: List[SparkPlan]): Boolean = {
          val toJoin = path0.reverse.takeWhile(n => !n.nodeName.contains("Join"))
          val join = path0.reverse.drop(toJoin.length).headOption
          join.exists(_.nodeName.contains("BroadcastHashJoin")) &&
            toJoin.collect { case e: ShuffleExchangeExec => e }.isEmpty
        }
        assert(paths.exists(exchangeFreeBroadcastProbe),
          s"m17 exact probe: no band-scan path reaches a broadcast join " +
            s"exchange-free (history side must never shuffle)\n$root")
      }
      // DedupIndex (t65): the REAL candidate probe of the gate (the
      // exact candProbe/histBandsFrame path gateParts uses, taken
      // before its persist so the plan is inspectable): bucket-keyed
      // join, band equality residual, zero exchange on the history side
      val dPath = java.nio.file.Files.createTempDirectory("graft_planaudit_dbands").toString
      graft.operators.DedupIndex.write(dPath, docs.filter(col("doc_id") % 10 < 6),
        "doc_id", "text", 3, 12, 4)
      auditBandScan(
        graft.operators.DedupIndex.candProbe(
          graft.operators.DedupIndex.histBandsFrame(spark, dPath,
            graft.io.StoreManifest.current(spark, dPath)),
          graft.operators.DedupIndex.batchBandsFrame(
            docs.filter(col("doc_id") % 10 >= 6), "doc_id", "text", 3, 12, 4)),
        "t65 dedup band probe")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("g01/g02: the persisted EdgeStore feeds the iteration join and the degree " +
      "aggregate with ZERO edge exchange from a cold start") {
    // the per-iteration shape of PageRank (edges⋈ranks on src +
    // groupBy(src) degrees) over the src-bucketed store copy: the
    // edge side must never shuffle — only the node-sized score frame
    // moves. Broadcast off so co-location is what the plan stands on.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val docs = graft.sources.Tables.documents(spark, dir).select(col("doc_id"))
    val n = docs.count()
    val edges = docs.select(col("doc_id").as("src"),
        explode(array((col("doc_id") * 17 + 3) % n,
          (col("doc_id") * 31 + 7) % n)).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val path = java.nio.file.Files.createTempDirectory("graft_planaudit_edges").toString
    graft.io.EdgeStore.write(path, docs, "doc_id", edges, "src", "dst")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def nodes(p: SparkPlan): Seq[SparkPlan] = p +: p.children.flatMap(nodes)
      def rootOf(df: org.apache.spark.sql.DataFrame): SparkPlan =
        df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case other => other
        }
      def isEdgeScan(p: SparkPlan): Boolean = p match {
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.exists(_.toString.contains("/by_src/v"))
        case _ => false
      }
      val e = graft.io.EdgeStore.bySrc(spark, path)
      // degree aggregate: partial+final collapse onto the bucket
      // layout — no exchange anywhere in the plan
      val degRoot = rootOf(e.groupBy("src").count())
      assert(nodes(degRoot).exists(isEdgeScan), degRoot.toString)
      assert(nodes(degRoot).collect { case x: ShuffleExchangeExec => x }.isEmpty,
        s"degree aggregate shuffles the edge store\n$degRoot")
      // iteration join: ranks side shuffles into the bucket layout,
      // edge side must reach its join through Sort alone (the
      // groupBy(dst) re-key above the join is the legitimate
      // contribution shuffle — node-sized values, not raw edges)
      val ranks = docs.withColumn("pr", lit(1.0 / n))
      val joinRoot = rootOf(
        e.join(ranks, e("src") === ranks("doc_id"))
          .groupBy("dst").agg(sum("pr")))
      def pathToScan(p: SparkPlan): Option[List[SparkPlan]] =
        if (isEdgeScan(p)) Some(List(p))
        else p.children.flatMap(pathToScan).headOption.map(p :: _)
      val path0 = pathToScan(joinRoot).getOrElse(fail("edge scan vanished"))
      val belowJoin = path0.reverse.takeWhile(n => !n.nodeName.contains("Join"))
      val offending = belowJoin.collect { case x: ShuffleExchangeExec => x }
      assert(path0.exists(_.nodeName.contains("Join")), joinRoot.toString)
      assert(offending.isEmpty,
        s"edge-store side shuffles before its join:\n${belowJoin.mkString("\n")}")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }
}

/** File scans of the `documents` table in a query's executed plan,
  * through adaptive stages and subqueries. */
private object DocumentScans extends AdaptiveSparkPlanHelper {
  def in(qe: QueryExecution): Int = collectWithSubqueries(qe.executedPlan) {
    case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("documents")) => s
  }.size
}

/** Plan nodes of the KN scorers' executions, AQE stages included. */
private object KnPlan extends AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
  import org.apache.spark.sql.execution.joins.BaseJoinExec
  def joins(qe: QueryExecution): Int =
    collect(qe.executedPlan) { case j: BaseJoinExec => j }.size
  def distinctAggregates(qe: QueryExecution): Int = collect(qe.executedPlan) {
    case a: BaseAggregateExec if a.aggregateExpressions.exists(_.isDistinct) => a
  }.size
}
