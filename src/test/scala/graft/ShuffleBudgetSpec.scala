package graft

/** Shuffle-budget contracts for the headline queries: upper bounds on
  * data-moving Exchange operators in the PRE-execution physical plan
  * (stable, not AQE-rewritten). A regression that adds a shuffle to one
  * of these plans is a 100 TB incident even when local timings barely
  * move — every extra exchange re-materializes the whole fact at scale.
  * Broadcast exchanges are excluded (they move the SMALL side by
  * design). Run `Smoke audit` for the full per-query table.
  */
class ShuffleBudgetSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def shuffles(name: String): Int =
    SparkEntry.query(name).run(spark, sf)
      .queryExecution.executedPlan.toString
      .linesIterator.count(l => l.contains("Exchange hashpartitioning")
        || l.contains("Exchange rangepartitioning")
        || l.contains("Exchange SinglePartition"))

  // (query, max data shuffles) — the plan-shape contract
  private val budgets = Seq(
    "q_global_summary" -> 1,          // one partial->final agg
    "q_revenue_by_order" -> 1,        // filter pushed, one grouped agg
    "q_revenue_type_supplier" -> 1,   // dims broadcast; fact shuffles once
    "q_customers_by_region" -> 1,
    "q_exact_dedup_docs" -> 1,        // one digest shuffle, never the text
    "q_sessions" -> 1,                // one user_id shuffle feeds window+agg
    "q_rollup_lineitem" -> 2,         // pre-agg + rollup of the tiny aggregate
    "q_cube_spend" -> 2,
    "q_grouping_sets" -> 2,
    "q_asof_join" -> 2,               // union alignment + key window
    "q_category_totals" -> 2,         // agg + range-partitioned rank
    "q_top10_orders" -> 0,            // TakeOrderedAndProject: no exchange
    "q_top3_orders_per_customer" -> 1,
    "q_running_spend" -> 2,
    "q_monthly_spend" -> 1,
    "q_simhash16" -> 1,               // one doc_id vote aggregation
    "q_heavy_hitters" -> 1,           // sketch partials, never the token stream
    "q_percentiles_custom" -> 1,      // custom agg partials -> one exchange
    "q_simhash64_neardup" -> 2,       // vote agg feeds checkpoint; band join + distinct
    "q_simhash64_wide" -> 2,          // combi-table join off the same checkpoint + distinct
    "q_decontaminate" -> 4,           // train-shingle distinct+count keyed on doc_id; bench side broadcasts
    "q_repetition" -> 5,              // (doc,tok)/(doc,2gram) aggs + doc-keyed join, nothing global
    "q_chunking" -> 0,                // pure map-side: tokenize + explode, NO shuffle at any size
    "q_bpe_train" -> 0,               // merge rules are driver-collected per
                                      // round from the vocab table (eager
                                      // jobs); the emitted plan is a
                                      // LocalRelation of k rules
    "q_bpe_apply" -> 0,               // trained replace chain applied in the
                                      // scan stage: one pass, map-side only
    "q_bpe_fertility" -> 1,           // the apply plan (map-side) + ONE
                                      // lang-keyed fertility agg
    "q_packing" -> 2,                 // shard-partitioned window + grouped agg
    "q_redact_pii" -> 0,              // pure map-side regex pipeline
    "q_quality_classifier" -> 0,      // hashing-trick features, weight
                                      // lookup and integer sum all
                                      // inside the row — scan-stage only
    "q_incremental_dedup" -> 0,       // final pass = broadcast anti-join over
                                      // the batch scan; the bloom/verify jobs
                                      // ran eagerly and never shuffle either
    "q_corpus_filter" -> 7,           // repetition's doc-keyed aggs + quality
                                      // join chain, all on doc_id — no global
    "q_dup_spans" -> 7,               // digest-keyed df agg + semi join, then
                                      // doc_id window/agg — never on raw text
    "q_token_histogram" -> 1,         // one grouped agg, output is bucket-sized
    "q_salted_join" -> 2,             // (key,salt) join shuffle + grouped agg;
                                      // the salt splits hot keys, adds none
    "q_collocations" -> 2,            // vocab totals (2 scalar aggs over the
                                      // checkpointed counts); word joins
                                      // broadcast, top-k is TakeOrdered
    "q_funnel" -> 0,                  // single user-keyed sort ran in the
                                      // eager checkpoint job; emitted plan
                                      // unions the 1-row counts
    "q_retention_cohorts" -> 0,       // user-keyed agg ran in the eager
                                      // checkpoint; sizes broadcast back
    "q_trimmed_mean" -> 1,            // bounds broadcast onto the scan;
                                      // one kept-range agg shuffle
    "q_mad" -> 1,                     // medians checkpointed + broadcast;
                                      // one |x-med| percentile agg
    "q_fuzzy_vendors" -> 0,           // value dictionary checkpointed;
                                      // band join broadcasts
    "q_corpus_diff" -> 2,             // one digest agg per side; the
                                      // full-outer join is co-partitioned
    "q_scd2_users" -> 2,              // (user,day) combine agg + user
                                      // window; combine-before-shuffle
                                      // beats 1 raw-row exchange at scale
    "q_dedup_corpus_by" -> 3,         // CC labels join + cluster rank
                                      // window + loser anti-join
    "q_crossmodal_dedup" -> 2,        // both edge families + union CC ran
                                      // eagerly into checkpoints; final
                                      // plan is the loser anti-join pair
    "q_dedup_savings" -> 3,           // loser flag join + per-source agg
                                      // off the same memoized CC fixpoint
    "q_crossmodal_savings" -> 5,      // three loser-flag joins (text/
                                      // payload/union CC, all memoized
                                      // checkpoints) + per-source agg;
                                      // loser sides are dup-cluster-sized
    "q_tpch_q16" -> 2,                // anti + part joins broadcast; the
                                      // 2-phase distinct-agg pair is the
                                      // only data movement
    "q_media_phash" -> 1,             // payload synthesis + aHash are
                                      // map-side; one slim banded
                                      // self-join dedup exchange
    "q_zorder_skip" -> 2,             // scalar bounds agg (broadcast
                                      // back) + ONE bucket-keyed agg —
                                      // the interleave is map-side
    "q_dup_pagerank" -> 2,            // iterations ran eagerly into
                                      // edge-sized checkpoints; the
                                      // final plan is one rank-deg join
    "q_hll_merge" -> 4,               // (range,slice) sketch agg +
                                      // range union agg + the exact
                                      // 2-phase distinct + range join;
                                      // sketches cross wires, not keys
    "q_theta_setops" -> 2,            // one scalar agg builds both
                                      // audience sketches + the exact
                                      // conditional distincts (expand
                                      // + final): set ops are driver-
                                      // free column functions
    "q_kll_merge" -> 3,               // (range,slice) sketch agg +
                                      // range merge agg + the rank
                                      // flag pass (estimates broadcast
                                      // back onto the scan)
    "q_cms_freq" -> 0,                // sketch + dictionary counts ran
                                      // eagerly (metadata-sized driver
                                      // rows); the emitted plan is a
                                      // LocalRelation of flag rows
    "q_dedup_by_rank" -> 6,           // CC + rank checkpoints join +
                                      // cluster rank window + loser
                                      // anti-join — all dup-graph-sized
    "q_zorder_compare" -> 6,          // both layouts' bucket aggs +
                                      // their 1-row rollups + bounds;
                                      // every frame is bucket-sized
    "q_leakage_split" -> 4,           // CC labels join pair (AQE
                                      // broadcasts the tiny side at
                                      // runtime) + the 2-stage
                                      // distinct-cluster count
    "q_dup_spans_apply" -> 4,         // df count over digests + covered
                                      // distinct + kept rebuild agg +
                                      // the final doc join — digests/
                                      // ids/positions only, text
                                      // reassembles once per doc
    "q_dup_spans_savings" -> 5,       // the apply's 4 + one per-source
                                      // rollup over the per-doc frame
    "q_cc_incremental" -> 10,         // two slice fixpoints + the
                                      // bridge fixpoint checkpoint
                                      // eagerly; the emitted plan is
                                      // the merge contraction (outer
                                      // join + min-id agg + map-back),
                                      // every frame dup-cluster-sized
    "q_tpch_q2" -> 5,                 // partsupp derivation agg + the
                                      // decorrelated regional-min agg
                                      // + their equality join; dims
                                      // broadcast, top-100 bounded
    "q_tpch_q20" -> 1,                // ONE partsupp/volume shuffle:
                                      // the decorrelated correlated
                                      // sum folds into the derivation
                                      // agg; both IN memberships and
                                      // the dims broadcast
    "q_ann_filtered_sq8" -> 1,        // code scan semi-filtered map-
                                      // side; one bounded top-k agg
    "q_table_checksum" -> 1,          // map-side lane partials, one scalar
                                      // per partition crosses the wire
    "q_checksum_groups" -> 1,         // one group-key agg exchange
    "q_checksum_diff" -> 4,           // grouped agg per side + bounds
    "q_outliers" -> 1,                // one moment agg; stats broadcast back
    "q_mad_outliers" -> 2,            // flag-pass agg + final group agg;
                                      // madByKey's checkpointed stats
                                      // pay their own aggs eagerly
    "q_drift" -> 1,                   // key counts ran in the eager
                                      // checkpoint; only totals' scalar
                                      // agg remains in the final plan
    "q_dup_rate" -> 2,                // two-phase distinct: (slice,digest)
                                      // partial then slice final — digests
                                      // shuffle, the text never does
    "q_date_gaps" -> 3,               // keys+observed distincts + final
                                      // agg; the calendar grid is generated,
                                      // span broadcast
    "q_tfidf_keywords" -> 4,          // (doc,term) tf agg + term df agg
                                      // + term join + per-doc rank
                                      // window — all keyed
    "q_doc_rarity" -> 3,              // (doc,term) distinct, term-keyed
                                      // df window, doc_id agg — text
                                      // dropped before the first shuffle
    "q_source_overlap" -> 3,          // (source,shingle) distinct ran in
                                      // the eager checkpoint; shingle-keyed
                                      // self-join + source-pair agg remain
    "q_rate_spikes" -> 2,             // (type,day) count agg + type
                                      // window — both over the daily
                                      // grid, never raw events
                                      // scalar; join reuses key partitioning
    "q_event_dedup_window" -> 1,      // one identity-key window shuffle
    "q_dup_degree_hist" -> 5,         // sig checkpointed; band join +
                                      // distinct + degree agg + doc join
                                      // + histogram agg — all id-keyed
    "q_minhash_probe" -> 0,           // final plan reads the verified-
                                      // pair checkpoint; probe jobs ran
                                      // eagerly, batch-sized
    "q_locf_spend" -> 3,              // daily agg + grid join + category
                                      // window; grid sides broadcast
    "q_pareto_vendors" -> 1,          // totals range-partitioned in the
                                      // checkpoint; one _pid window
    "q_ann_filtered" -> 1,            // filtered scan + broadcast queries;
                                      // one per-query top-k window
    "q_ann_serve" -> 6,               // dispatches to the flat-IVF rung:
                                      // q_ivf_topk's own budget (assign/
                                      // probe aggs + cell join + top-k);
                                      // the policy choice itself is
                                      // driver-side integer math, zero
                                      // exchanges added
    "q_ann_serve_tight" -> 1,         // sq8 rung: code scan + one
                                      // bounded top-k agg, like
                                      // q_sq8_topk
    "q_hard_negatives" -> 1,          // same shape: label inequality in
                                      // the broadcast-join condition,
                                      // one per-query top-k window
    "q_bpe_pairs" -> 1,               // map-side pair build from the
                                      // row's own tokens; one combined
                                      // pair agg + TakeOrdered
    "q_bloom_semi" -> 2,              // bloom-pruned fact scan; dim
                                      // key distinct + final group agg
                                      // (bloom build is its own tiny
                                      // job at construction time)
    "q_ngram_novelty" -> 2,           // distinct (doc, digest) rows are
                                      // checkpointed; first-occurrence
                                      // agg + per-doc ownership agg
    "q_ivf_sq8_auto" -> 4,            // probe window + top-k agg; the
                                      // code scan reads the memoized
                                      // (codes x cells) checkpoint
                                      // against broadcast probe/query
                                      // sides
    "q_curate_ledger" -> 0,           // the per-stage counts run as
                                      // eager jobs over checkpointed
                                      // stage frames; the emitted plan
                                      // is a 7-row LocalRelation
    "q_sq8_topk" -> 1,                // byte-code index reads the memoized
                                      // checkpoint, queries broadcast —
                                      // ONE bounded TopK agg exchange
    "q_sq8_rerank" -> 3,              // the shared refine shape: pool
                                      // checkpoint + id distinct +
                                      // semi-join exchange + rerank tail
    "q_multimodal_dedup" -> 0,        // banding+distinct live in the pair
                                      // checkpoint job; digest enrich is
                                      // broadcast-only downstream
    "q_multimodal_frame_dup" -> 3,    // frame-digest distinct rides the
                                      // checkpoint; df-count agg + posting
                                      // self-join pair agg + final filter
    "q_semdedup_hier" -> 5,           // same shape as q_semdedup: hier
                                      // assignment reads its checkpoint,
                                      // cell self-join sides + dup
                                      // distinct + summary agg
    "q_semdedup" -> 5,                // assignment read from the kmeans
                                      // checkpoint; cell self-join pair
                                      // sides + dup distinct + final
                                      // cell summary agg — all id-keyed,
                                      // raw embeddings move once
    "q_quality_calibrated" -> 3,      // globalRank's range partition is
                                      // checkpointed; the _pid rank
                                      // window subtree feeds BOTH the
                                      // per-source offset agg and the
                                      // final join (2 counted) + the
                                      // offset agg itself
    "q_rrf_fusion" -> 10,             // composes the FULL lsh + ivf
                                      // top-k pipelines (their budgets,
                                      // LSH bucketing memo-shared) +
                                      // one fuse agg + rank window over
                                      // top-k-sized lists
    "q_embedding_centroids" -> 1,     // one (label,dim) hash agg
    "q_autocorr" -> 2,                // (key,day) grid agg + one key
                                      // window; the final agg rides the
                                      // window's partitioning
    "q_fulfillment_latency" -> 2,     // l_orderkey agg reused by the
                                      // orders join; priority agg tiny
    "q_dup_hops" -> 0,                // BFS rounds ran eagerly into
                                      // cluster-member-sized checkpoints
    "q_tpch_q20_lite" -> 3,           // one repartition(l_partkey) feeds
                                      // agg + window; flagged distinct +
                                      // supplier semi join
    "q_mmr_rerank" -> 0,              // pool/sims/rounds all ran eagerly
                                      // into query-bounded checkpoints;
                                      // the final frame is their union
    "q_seasonal_anomalies" -> 1,      // baseline agg over the checkpointed
                                      // keys×days daily grid; flag join
                                      // reuses its partitioning
    "q_conversion_lag" -> 3,          // first-touch agg + conversion join
                                      // reuse the user partitioning; the
                                      // histogram agg is day-bucket-sized
    "q_path_trigrams" -> 2,           // one user window (both leads share
                                      // it) + type³-bounded count agg;
                                      // top-k is TakeOrderedAndProject
    "q_benford" -> 1,                 // digit agg checkpointed at 9 rows;
                                      // the 1-row total SinglePartition
    "q_filter_attrition" -> 4,        // cascade ran into the checkpoint;
                                      // tiny reason/total aggs + the
                                      // 4-row stage window
    "q_cooccurrence" -> 5,            // over the checkpointed basket
                                      // frame: (user,day) join pair +
                                      // type² pair agg + support agg +
                                      // the 1-row basket-count scalar
                                      // (SinglePartition, not data)
    "q_event_transitions" -> 1,       // totals agg over the
                                      // checkpointed type²-sized count
                                      // grid; the user window + pair
                                      // agg pay eagerly into it
    "q_peak_concurrency" -> 2,        // per-_pid window + day agg; the
                                      // checkpointed sweep input pays
                                      // the session shuffle + range
                                      // partition eagerly
    "q_session_window" -> 1,          // one user-keyed session-merge agg
    "q_normalize_text" -> 0,          // pure map-side regexp chain
    "q_tpch_q1" -> 1,                 // the canonical scan + one agg
    "q_tpch_q3" -> 2,                 // dims broadcast; orderkey join
                                      // (agg reuses its partitioning),
                                      // top-k is TakeOrdered
    "q_tpch_q5" -> 3,                 // orderkey join both sides + the
                                      // nation-cardinality agg
    "q_tpch_q10" -> 2,                // orderkey join + custkey agg;
                                      // customer/nation broadcast
    "q_dup_triangles" -> 4,           // checkpointed edge list; two
                                      // edge-edge joins over the tiny
                                      // dup graph
    "q_tpch_q6" -> 1,                 // pushed filters + scalar agg
    "q_tpch_q14" -> 1,                // part broadcast; one scalar agg
    "q_time_weighted_value" -> 1,     // one key sort feeds lead + agg
    "q_temperature_mix" -> 3,         // stratum counts + kept counts;
                                      // fractions broadcast back
    "q_cumulative_users" -> 3,        // user min + day agg; the running
                                      // window is over the DAY frame
                                      // (calendar-sized, documented)
    "q_gini_vendors" -> 2,            // totals agg + range-partitioned
                                      // rank; final agg is scalar
    "q_tpch_q18" -> 2,                // HAVING agg; survivor joins
                                      // broadcast or reuse its key
    "q_tpch_q13" -> 3,                // custkey outer join + per-customer
                                      // count (shared key) + the tiny
                                      // count-of-counts histogram
    "q_tpch_q4" -> 2,                 // orderkey semi join + priority agg
    "q_min_price_supplier" -> 3,      // partkey min agg + equality join
                                      // back; supplier broadcast-or-
                                      // shuffle by size
    "q_tpch_q12" -> 2,                // orderkey join + returnflag agg
    "q_tpch_q22" -> 5,                // ONE data exchange (n_name agg);
                                      // the other 4 are the scalar avg
                                      // subquery's 1-ROW SinglePartition
                                      // aggs (planned once per use,
                                      // repeats collapse at execution) —
                                      // metadata-sized, not a shuffle of
                                      // data
    "q_token_budget_mix" -> 1,        // one stratum-keyed token agg;
                                      // weights literal + broadcast
    "q_tpch_q7" -> 3,                 // orderkey join + direction agg;
                                      // nation-filtered dims shrink at
                                      // the scan
    "q_tpch_q11" -> 5,                // ONE partkey agg exchange; the
                                      // rest are the global-sum scalar
                                      // subqueries' 1-row SinglePartition
                                      // aggs (same class as q_tpch_q22)
    "q_ref_integrity" -> 12,          // r13 one-scan-per-child fusion:
                                      // lineitem read ONCE for its 3
                                      // relations (was 6 scans); the
                                      // remaining exchanges are parent
                                      // key distincts (co-partitioning
                                      // the join they feed), slim
                                      // child-side join shuffles, and
                                      // one 1-row agg per child group
    "q_tpch_q8" -> 3,                 // orderkey join + year agg; the
                                      // region-pruned cust side joins
                                      // by size
    "q_tpch_q9" -> 1,                 // dim joins + one (nation,year) agg
    "q_tpch_q19" -> 1,                // partkey join broadcast here;
                                      // one scalar agg
    "q_minhash_estimate" -> 0,        // final plan reads the verified
                                      // checkpoint (sig jobs ran
                                      // eagerly; r20 measured the
                                      // checkpoint load-bearing — see
                                      // minhashEstimateQuality)
    "q_tpch_q15" -> 3,                // suppkey revenue agg + its 1-row
                                      // max scalar; supplier joins by
                                      // size
    "q_tpch_q17" -> 3,                // partkey count+sum decorrelated
                                      // agg joined back + final scalar
    "q_tpch_q21" -> 5,                // pre-AQE: the per-(order,supp)
                                      // late-count subtree prints twice
                                      // (stats + probe consumer) — AQE
                                      // stage reuse collapses the twins
                                      // at run time (sameResult); at
                                      // scale the whole decorrelation
                                      // rides ONE orderkey fact shuffle
                                      // (agg + stats + join all reuse
                                      // the clustering)
    "q_boilerplate" -> 5,             // gram digests to the df agg +
                                      // (doc,pos) coverage dedup +
                                      // doc/source rollups — grams are
                                      // built map-side from the row's
                                      // own array; the token stream
                                      // never shuffles, only md5/ids
    "q_gopher_filter" -> 3,           // (doc,tok) top-token agg + doc
                                      // join + source rollup (same
                                      // family as q_repetition)
    "q_regression" -> 1,              // one grouped exact-moment agg
                                      // (same family as q_corr_lineitem)
    "q_ohlc_bars" -> 1,               // ONE (key,day) hash agg —
                                      // min_by/max_by bars build
                                      // map-side, no window, no sort
    "q_pps_sample" -> 1,              // final action reads the
                                      // range-partitioned checkpoint:
                                      // one per-_pid prefix-sum window
                                      // (offsets broadcast back — the
                                      // globalRank/pareto pattern)
    "q_trade_rank" -> 1,              // final action reads the
                                      // driver-computed rank rows as a
                                      // LocalRelation (r20: the edge
                                      // agg collects <= 600 rows and
                                      // the damping fixpoint runs on
                                      // the driver; 0 exchanges)
    "q_boilerplate_apply" -> 4,       // shared covered subplan (digest
                                      // agg + coverage dedup) + the
                                      // doc-keyed anti join + ordered
                                      // rebuild agg — tokens shuffle
                                      // ONCE here (the rebuild is the
                                      // transform's output, not stats)
    "q_customer_quartiles" -> 2,      // final action reads globalRank's
                                      // range-partitioned checkpoint:
                                      // per-_pid window + quartile agg
                                      // (the custkey agg + range sort
                                      // ran eagerly into the checkpoint)
    "q_concentration" -> 2,           // (source,lang) counts + source
                                      // rollup — both partial-agg
                                      // map-side, nothing global
    "q_skyline_parts" -> 2,           // final action: per-_pid prefix
                                      // window over the range-
                                      // partitioned checkpoint + the
                                      // tiny-frontier join back to
                                      // parts (broadcast at any SF)
    "q_kmeans" -> 5)                  // final action only (iteration
                                      // centroids ran eagerly into
                                      // checkpoints): last assignment's
                                      // (vec,cell)+argmin aggs + output
                                      // agg + the k-row seed window's
                                      // SinglePartition; per iteration
                                      // the vector table never shuffles
                                      // — centroids broadcast, only
                                      // id-sized score rows move

  test("headline queries stay within their shuffle budgets") {
    val over = budgets.flatMap { case (q, max) =>
      val n = shuffles(q)
      if (n > max) Some(s"$q: $n > $max") else None
    }
    assert(over.isEmpty, s"shuffle budget exceeded: ${over.mkString("; ")}")
  }
}
