package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` has either a DuckDB-equivalent SQL string in
  * `oracleSql` (hash-compared by the driver at sf0.01) or is a
  * non-SQL-expressible operator checked rows-only + unit tests.
  *
  * Determinism contract for oracle-checked queries:
  *  - output fully sorted with a unique tie-break;
  *  - double aggregates computed via decimal(18,6) per-value casts
  *    (order-independent exact sum) then one cast back to double;
  *  - counts cast to BIGINT on both engines, no current_date().
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.snapshot(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.1-§2.4 scans / filters / joins / pipeline shapes
    "p_snapshot" -> (Relational.snapshot _),
    "s1_scan_project" -> (Relational.scanProject _),
    "f1_digit_filter" -> (Relational.digitIdFilter _),
    "s3_full_dump" -> (Relational.fullDump _),
    "j2_left_enrich" -> (Relational.leftEnrich _),
    "j3_join_revenue" -> (Relational.join3Revenue _),
    "j_anti" -> (Relational.antiJoin _),
    "j4_promo_revenue" -> (Relational.promoRevenue _),
    "j5_local_supplier" -> (Relational.q5LocalSupplier _),
    // classic OLAP join shapes (TPC-H Q3/Q7/Q8/Q10/Q13/Q19)
    "j03_shipping_priority" -> (Relational.q3ShippingPriority _),
    "j04_priority_check" -> (Relational.q4PriorityCheck _),
    "j06_forecast_revenue" -> (Relational.q6ForecastRevenue _),
    "j7_volume_shipping" -> (Relational.q7VolumeShipping _),
    "j8_market_share" -> (Relational.q8MarketShare _),
    "j09_product_profit" -> (Relational.q9ProductProfit _),
    "j10_returned_items" -> (Relational.q10ReturnedItems _),
    "j12_shipmode_priority" -> (Relational.q12ShipmodePriority _),
    "j13_order_histogram" -> (Relational.q13OrderHistogram _),
    "j19_disjunctive_revenue" -> (Relational.q19DisjunctiveRevenue _),
    "mv_summary_rewrite" -> (MaterializedView.rollupRewrite _),
    // partition-level incremental MV maintenance: month-partitioned
    // summary, late-arriving delta merged into ONLY its months
    // (partition-pruned base read + dynamic partition overwrite);
    // oracle recomputes the rollup from the raw fact
    "mv_incremental_refresh" -> (MaterializedView.incrementalRollup _),
    // delta-rule maintenance of a JOIN view (retract ∪ re-derive ∪
    // insert, with a dimension UPDATE delta); oracle recomputes
    // O_new ⋈ C_new from the raw tables
    "mv_join_delta" -> (MaterializedView.joinDeltaRollup _),
    // decorrelated-subquery family (TPC-H Q15/Q17/Q18/Q21/Q22 shapes)
    "j02_min_cost_supplier" -> (Subqueries.q2MinCostSupplier _),
    "j11_important_parts" -> (Subqueries.q11ImportantParts _),
    "j16_supplier_count" -> (Subqueries.q16SupplierCount _),
    "j20_dominant_supplier" -> (Subqueries.q20DominantSupplier _),
    "j15_top_supplier" -> (Subqueries.q15TopSupplier _),
    "j17_small_qty_revenue" -> (Subqueries.q17SmallQtyRevenue _),
    "j18_large_orders" -> (Subqueries.q18LargeOrders _),
    "j21_sole_failing_supplier" -> (Subqueries.q21SoleFailingSupplier _),
    "j22_idle_customers" -> (Subqueries.q22IdleCustomers _),
    "s2_jdbc_source" -> (Relational.jdbcSnapshot _),
    "s2_jdbc_agg_pushdown" -> (sources.JdbcSource.nationRollupPushdown _),
    // §2.5 aggregations
    "a1_pricing_summary" -> (Aggregates.pricingSummary _),
    "a1_explode_sum" -> (Aggregates.explodeSum _),
    "a2_pivot_daily" -> (Aggregates.pivotDaily _),
    "a3_count_if" -> (Aggregates.countIf _),
    "a4_argmax" -> (Aggregates.argmaxLatest _),
    "a5_count_gate" -> (Aggregates.countGate _),
    "a6_daily_counts" -> (Aggregates.dailyCounts _),
    "a7_exists_flag" -> (Aggregates.existsFlag _),
    "a8_round_avg" -> (Aggregates.roundAvg _),
    // KMV distinct sketch set algebra: exact sub-k regime at test sf
    "agg_kmv_overlap" -> (Aggregates.kmvOverlap _),
    // pairwise co-occurrence; the self-joined distinct's exchange is
    // computed once and reused (ReusedExchange pinned in spec)
    "agg_cooccurrence" -> (Aggregates.typeCooccurrence _),
    "agg_median_scale" -> (Aggregates.exactMedianScale _),
    // weighted sampling w/o replacement (A-ES keys + TopKAgg);
    // deterministic arithmetic hash → the oracle replays it exactly
    "agg_weighted_sample" -> ((s, d) => Aggregates.weightedSample(s, d)),
    // count-min frequency point queries, daily sketches driver-merged
    "agg_cms_pointq" -> (Aggregates.cmsPointQueries _),
    // dyadic half-life decayed counters (integer 1/256th units —
    // order-independent sums, no libm pow)
    "agg_decay_halflife" -> (Aggregates.decayHalflife _),
    // §2.7 sorts / limits / windows / set ops
    "w_topk" -> (Analytics.topCustomers _),
    // per-group top-k via mergeable aggregate, not a window
    "w_topk_group" -> ((s, d) => Analytics.topkPerGroup(s, d)),
    "w_running" -> (Analytics.windowRunning _),
    "set_union" -> (Analytics.unionNations _),
    "set_distinct" -> (Analytics.distinctPriorities _),
    "set_rollup" -> (Analytics.rollupCustomers _),
    "set_intersect" -> (Analytics.intersectNations _),
    "set_grouping_sets" -> (Analytics.groupingSets _),
    "set_except" -> (Analytics.exceptNations _),
    // §2.8 streaming cadences (batch analogs)
    "st1_tumbling_daily" -> (Analytics.tumblingDaily _),
    "st2_sliding_7day" -> (Analytics.sliding7Day _),
    // ST3 end-to-end STREAMING run: DSv2 MicroBatchStream drained with
    // Trigger.AvailableNow through update-mode foreachBatch upsert,
    // then the materialized table read back for the oracle compare
    "stream_feed_daily" -> ((s, d) => graft.streaming.StreamingAnalogs.feedDaily(s, d)),
    "stream_sessionize" -> (graft.streaming.StreamingAnalogs.feedSessions _),
    // running distinct per key: KMV sketch as transformWithState state
    "stream_distinct_running" ->
      (graft.streaming.StreamingAnalogs.feedDistinct _),
    // streaming trailing-7-day distinct: day→sketch MAPSTATE ledger
    // with horizon eviction — bounded state at any stream length
    "stream_sliding_distinct" ->
      (graft.streaming.StreamingAnalogs.feedSlidingDistinct _),
    // streaming weighted reservoir: TopKAgg buffer as TWS state,
    // deterministic A-ES keys → the drain is hash-exact vs the
    // generator replay
    "stream_weighted_sample" ->
      (graft.streaming.StreamingAnalogs.feedWeightedSample _),
    // streaming Misra-Gries heavy hitters: MG counter map as TWS
    // state (<= m counters at any stream length), id-ordered fold for
    // determinism; assertion form verifies MG completeness + the
    // undercount law against an in-plan exact generator replay
    "stream_heavy_hitters" ->
      (graft.streaming.StreamingAnalogs.feedHeavyHitters _),
    // streaming mergeable quantiles: HistSketch bins as TWS state;
    // HASH-EXACT (no bound booleans) — integer bin counts + the
    // deterministic bin-edge read-off replay fully in the oracle
    "stream_quantiles" ->
      (graft.streaming.StreamingAnalogs.feedQuantiles _),
    "stream_versioned_ingest" -> (Versioned.streamVersionedIngest _),
    // streaming mixture-drift monitor: per-domain TWS counters, the
    // share/drift/alarm math batch-side off the drained table
    "stream_mixture_drift" ->
      ((s, d) => graft.streaming.StreamingAnalogs.feedMixtureDrift(s, d)),
    // streaming exact dedup: a doubled at-least-once feed through
    // dropDuplicatesWithinWatermark — output = the generator, exactly
    "stream_dedup_feed" -> (graft.streaming.StreamingAnalogs.feedDedup _),
    // streaming per-event EWMA: one double of TWS state per key,
    // power-of-two decay → the drained level replays bit-for-bit
    "stream_ewma" -> (graft.streaming.StreamingAnalogs.feedEwma _),
    // streaming one-sided CUSUM drift alarm: four longs of TWS state
    // per key, integer-exact; oracle replays the closed form
    "stream_cusum" -> ((s, d) => graft.streaming.StreamingAnalogs.feedCusum(s, d)),
    // streaming open-interval concurrency: priority-queue state of
    // open ends, logical event-time sweep (deterministic, no timers)
    "stream_concurrency" ->
      (graft.streaming.StreamingAnalogs.feedConcurrency _),
    // stream-static ANTI join: admit only ids absent from the static
    // already-ingested index; no join state accumulates
    "stream_dedup_history" ->
      (graft.streaming.StreamingAnalogs.feedDedupHistory _),
    // streaming point-in-time enrichment: stream-static temporal join
    // against a versioned dim — the serving twin of p_pit_lookup
    "stream_pit_enrich" ->
      (graft.streaming.StreamingAnalogs.feedPitEnrich _),
    // S4/S5 custom DataSource V2 (paginated REST shape)
    "s4_rest_source" -> ((s, _) => {
      import org.apache.spark.sql.functions._
      s.read.format("graft.sources.RestSource")
        .option("pages", "16").option("pageSize", "250").load()
        .groupBy("page")
        .agg(count(lit(1)).as("n"),
          sum(col("score").cast("decimal(18,6)")).cast("double")
            .as("score_sum"),
          count(when(col("status") === "inactive", 1)).as("n_inactive"))
        .orderBy("page")
    }),
    // advanced joins / windows / skew tools
    "adv_asof_join" -> (Advanced.asofJoin _),
    // nearest-in-time join (both directions, ±24h band): day-exploded
    // equi candidates, one struct-argmin aggregate
    "adv_nearest_join" -> (Advanced.nearestJoin _),
    "adv_interval_join" -> (Advanced.intervalJoin _),
    "adv_session_window" -> (Advanced.sessionWindows _),
    "adv_salted_agg" -> (Advanced.saltedAgg _),
    // AQE runtime skew-join split (manual salt's runtime complement)
    "adv_skew_join" -> (Advanced.skewJoin _),
    "adv_dpp_prune" -> ((s: SparkSession, dir: String) =>
      Advanced.dppPrune(s, dir)),
    // spatial radius self-join via grid-cell blocking (cell = radius,
    // 9-cell probe explode, row-local exact distance); oracle = the
    // O(n²) brute-force scan the cells avoid
    "geo_cell_join" -> ((s, d) => Geo.cellJoin(s, d)),
    "adv_bucketed_join" -> ((s, d) => Advanced.bucketedJoin(s, d)),
    "adv_recursive_cte" -> (Advanced.recursiveChain _),
    // two Pareto frontiers over (price, size) via the bucketed
    // distributed min-min core — never a quadratic self-join or a
    // single-partition running min
    "adv_skyline" -> (Advanced.skyline _),
    "s_hash_sample" -> (Relational.hashSample _),
    "s_file_skipping" -> ((s, d) =>
      graft.sources.SkippingIndex.userSliceAgg(s, d)),
    "s_partition_prune" -> ((s, d) =>
      graft.sources.SkippingIndex.daySliceAgg(s, d)),
    "s_stratified_sample" -> ((s, d) => Relational.stratifiedSample(s, d)),
    "f4_housekeeping" -> (Relational.fileHousekeeping _),
    // window/aggregate extensions
    "w_leadlag" -> (Analytics.leadLagGaps _),
    "w_ntile" -> (Analytics.spendQuartiles _),
    "agg_percentile" -> (Analytics.percentiles _),
    "set_cube" -> (Analytics.cubeFlags _),
    // assertion form: HLL estimates vs exact distincts (Assertions)
    "agg_approx_distinct" -> (Assertions.approxDistinctBound _),
    // bitmap-word exact distinct (the bitmap-index pattern); oracle
    // counts DISTINCT directly — hash proves the planes equal
    "agg_bitmap_distinct" -> (Aggregates.bitmapDistinct _),
    // bitmap-index REUSE: per-type + TOTAL distincts answered from
    // the pooled word table; the fact is never rescanned
    "agg_bitmap_rollup" -> (Aggregates.bitmapRollup _),
    // exact pairwise Jaccard/overlap via word AND — the exact plane
    // of agg_kmv_overlap's sketch question, third index reuse
    "agg_bitmap_jaccard" -> (Aggregates.bitmapJaccard _),
    // assertion form: merged-sketch rollup vs exact per-level distincts
    "agg_sketch_rollup" -> (Assertions.sketchRollupBound _),
    "agg_profile" -> (Analytics.profileOrders _),
    "agg_histogram" -> (Analytics.histogram _),
    "agg_funnel" -> (Analytics.funnel _),
    "agg_cohort" -> (Analytics.cohortRetention _),
    "agg_quantile_rollup" -> (Analytics.quantileRollup _),
    // trailing-7-day moving median from merged day HistSketches
    "st_moving_median" -> ((s, d) => Analytics.movingMedian(s, d)),
    "j_fuzzy_match" -> (Advanced.fuzzyMatch _),
    "sim_random_proj" -> ((s, d) => Similarity.randomProjection(s, d)),
    // assertion form: orthonormality/eigen/variance invariants
    "sim_pca" -> ((s, d) => Assertions.pcaInvariants(s, d)),
    // Matryoshka retained-energy audit per truncation level
    "sim_mrl_energy" -> ((s, d) => Similarity.mrlEnergy(s, d)),
    // one NN-descent round over the IVF-seeded kNN graph: 2-hop
    // candidates rescored exactly; monotone by construction
    "sim_nn_descent" -> ((s, d) => Similarity.nnDescentRound(s, d)),
    // NN-descent to a bounded round budget: per-probe recall curve
    // across 2 refinement rounds (monotone per round by construction)
    "sim_nn_descent_curve" -> ((s, d) => Similarity.nnDescent(s, d)),
    "sim_corr_matrix" -> (Similarity.corrMatrix _),
    "sim_standardize" -> (Similarity.standardize _),
    "text_heavy_hitters" -> ((s, d) => TextAnalysis.heavyHitters(s, d)),
    // phrase search off the positional index: top-10 trigrams answered
    // by posting-list intersection (oracle = direct corpus slide)
    "text_phrase_search" -> ((s, d) => TextAnalysis.phraseSearch(s, d)),
    // per-doc OOV mass vs the broadcast top-16 vocabulary, div-ppm
    "text_oov_rate" -> ((s, d) => TextAnalysis.oovRate(s, d)),
    "st_gap_fill" -> (Analytics.gapFill _),
    // gaps-and-islands consecutive-day streaks (day − rank run id,
    // one window shuffle, no re-exchange after it)
    "w_streaks" -> (Analytics.streaks _),
    // LOCF forward fill per series over a calendar spine
    "st_locf" -> (Analytics.locfFill _),
    // exact EWMA: power-of-two decay folds bit-identically in both
    // engines (exponent decrements + in-mantissa integer adds)
    "st_ewma" -> ((s, d) => Analytics.ewmaDaily(s, d)),
    // CUSUM change point: n·prefix − t·total keeps the mean-deviation
    // sum in BIGINTs — argmax day + peak are hash-exact
    "st_cusum" -> (Analytics.cusumChangePoint _),
    // Holt's double exponential smoothing (level+trend forecast):
    // α=β=½ makes every step exact-or-deterministically-rounded; the
    // identical op sequence on both engines → bit-identical doubles
    "st_holt_winters" -> (Analytics.holtWinters _),
    // Kaplan–Meier retention: censoring-aware survival curve, ppm
    // floor-div recurrence over the calendar-bounded duration grain
    "st_kaplan_meier" -> (Analytics.kaplanMeier _),
    // CUPED variance-reduced A/B readout: exact BIGINT moments,
    // theta/effects/rho2 each a fixed double-op sequence
    "agg_cuped" -> (Analytics.cuped _),
    // difference-in-differences: Knuth top-bit assignment, micro
    // BIGINT cell means, integer DID end-to-end
    "agg_did" -> (Analytics.did _),
    // Wald SPRT per event type: precomputed micro-nat literal
    // weights make the LLR walk a pure BIGINT prefix sum
    "st_sprt" -> (Analytics.sprt _),
    // quantile treatment effects off mergeable per-arm HistSketches,
    // integer rank law, upper-bin-edge convention
    "agg_qte" -> (Analytics.qte _),
    // winsorized effect: [p5,p95] bin-edge clamp, micro BIGINT means
    "agg_winsorized" -> (Analytics.winsorized _),
    // MDE per event type: exact moments, literal z-sum, IEEE sqrt
    "agg_power_mde" -> (Analytics.powerMde _),
    // Neyman-allocation stratified sample design: isqrt σ, floor
    // allocation + largest-remainder top-up on the O(strata) table
    "p_neyman_alloc" -> ((s, d) => Pipelines.neymanAlloc(s, d)),
    // caliper 1-NN covariate matching (the adv_nearest_join band
    // discipline on the covariate axis); ATT vs the naive diff
    "p_psm" -> ((s, d) => Pipelines.psm(s, d)),
    // binary BBSE label-shift correction off the trained classifier
    "p_prior_shift" -> ((s, d) => Learn.priorShift(s, d)),
    // O'Brien-Fleming-style 5-look group-sequential monitor with
    // precomputed literal boundaries
    "st_group_seq" -> (Analytics.groupSeq _),
    // B-cubed precision/recall/F1 of the near-dup clusters against
    // the exact-duplicate ground truth, ppm integer arithmetic
    "dedup_bcubed" -> (Dedup.bcubed _),
    // Mann–Kendall S over calendar-bounded day pairs, all integers
    "st_trend" -> (Analytics.trendTest _),
    // lag-1..3 autocorrelation from exact BIGINT moments; the signed
    // square r·|r| dodges sqrt (libm) across engines
    "st_autocorr" -> ((s, d) => Analytics.autocorr(s, d)),
    // day-of-week chi-square uniformity in rational form
    // (7·Σo² − n²)/n; weekday = epoch-day mod 7, engine-neutral
    "st_seasonality" -> (Analytics.seasonality _),
    // sweep-line max open 30-min intervals per user (+1/−1 running
    // sum; −1 first at equal instants = half-open semantics)
    "st_concurrency" -> (Analytics.concurrency _),
    // coalesced interval coverage per user (islands via running
    // max-end; covered µs exact integers)
    "st_interval_union" -> (Analytics.intervalUnion _),
    // OHLC bars: open/close via min/max(struct) argmin — one
    // aggregate pass, no window over raw events; exact integer cents
    "st_ohlc" -> (Analytics.ohlcBars _),
    // MATCH_RECOGNIZE-lite: calendar-consecutive declining runs per
    // series via day-arithmetic lag + the islands trick
    "w_pattern_runs" -> (Analytics.patternRuns _),
    // step-function time-weighted average per user; exact cents×µs
    // integrals, arithmetic mean emitted alongside for the gap
    "st_twap" -> (Analytics.twap _),
    // max peak-to-trough drawdown per user: running sum + running max
    // share one window spec; first-attaining argmax, exact BIGINT
    "st_drawdown" -> (Analytics.drawdown _),
    // YoY monthly growth: exact 1e-4-unit revenue, (y−1, m) self
    // join (never lag(12) — month gaps misalign it), IEEE ratio
    "st_yoy" -> (Analytics.yoyGrowth _),
    // Fano-factor dispersion per type: exact rational moments, one
    // IEEE division; Poisson = 1, bursts above
    "st_burstiness" -> (Analytics.burstiness _),
    // records test: record-high days vs the exact scaled harmonic
    // expectation Σ 1e6 div k — trend evidence with no logs
    "st_records" -> (Analytics.recordsTest _),
    // anchored-window funnel: signup → click ≤7d → purchase ≤7d of
    // the click; each stage one argmin, conversions exact div-ppm
    "agg_funnel_windowed" -> (Analytics.funnelWindowed _),
    // additive trend/seasonal/residual decomposition; exact BIGINT
    // numerators, one division per emitted double
    "st_decompose" -> (Analytics.decompose _),
    // gap-sessionized top event-type flows (funnel discovery)
    "agg_session_paths" -> ((s, d) => Analytics.sessionPaths(s, d)),
    // week-over-week retention off one reused (user, week) distinct
    "agg_wow_retention" -> (Analytics.wowRetention _),
    // RFM customer-value grid: three bucketed global rankings, zero
    // single-partition windows, integer quintile-of-rank scores
    "agg_rfm" -> (Analytics.rfmSegments _),
    // linear multi-touch attribution: exact 1e6 div/mod credit split,
    // conservation-law checkable
    "agg_attribution" -> (Analytics.attribution _),
    // heavy-change top-k: first-half vs second-half per-user deltas,
    // one conditional-count groupBy + TakeOrdered
    "agg_heavy_change" -> ((s, d) => Aggregates.heavyChange(s, d)),
    // AQP audit: 1/16 hash-sample estimates (uniform HT vs
    // day-stratified ratio) with exact div-ppm errors, one scan
    "agg_aqp_estimate" -> (Aggregates.aqpEstimate _),
    // Pareto contribution analysis: brand revenue shares, cumulative
    // 80% head; exact 1e-4-unit BIGINTs, decimal floor-div ppm
    "agg_pareto" -> (Aggregates.pareto _),
    "p_entity_resolution" -> (Pipelines.entityResolution _),
    // dense alphabetical surrogate keys via the bucketed global rank
    // (order-preserving proxy; no single-partition window)
    "p_surrogate_keys" -> (Pipelines.surrogateKeys _),
    // partition backfill planner: day-grain truth vs manifest, missing/
    // stale/orphan classification, newest-first bounded batch
    "p_backfill_plan" -> (Pipelines.backfillPlan _),
    // per-language floor + global-quality fill (two-level quota);
    // global rank via the bucketed core, quota from a 1-row broadcast
    "p_quota_fill" -> ((s, d) => Pipelines.quotaFill(s, d)),
    // shard-rebalance audit: mod vs rendezvous-hash key movement when
    // 16 shards grow to 17; one 17-way explode + max(struct) argmax
    "p_shard_rebalance" -> (Pipelines.shardRebalance _),
    // VACUUM planner: keep-last-2 + 365d guard per key; kept-by-count
    // vs kept-by-time-only split; per-key windows
    "p_retention_gc" -> ((s, d) => Pipelines.retentionGc(s, d)),
    // GDPR erasure work list: per-table row/key counts for a subject
    // batch, incl. the transitive lineitem-via-orders hop
    "p_erasure_plan" -> (Pipelines.erasurePlan _),
    // PPS budget split by Hamilton largest-remainder apportionment:
    // exact floors + mod-ranked extras, Σseats = budget by law
    "p_pps_alloc" -> ((s, d) => Pipelines.ppsAlloc(s, d)),
    // survivorship merge after ER: one master row per entity cluster,
    // each attribute by its own deterministic rule (mode/max/min)
    "p_golden_record" -> (Pipelines.goldenRecord _),
    // first-order Markov transition matrix over per-user sequences
    "agg_transitions" -> (Analytics.transitions _),
    // trailing-7-day distinct users per day from merged day sketches
    // (sub-k regime → the oracle demands exact equality)
    "agg_sliding_distinct" -> ((s, d) => Aggregates.slidingDistinct(s, d)),
    // RLHF/DPO prep: per-source (chosen, rejected) quality pairs via
    // one groupBy argmax/argmin — no window, no per-source sort
    "p_preference_pairs" -> (Pipelines.preferencePairs _),
    // cluster-aware train/val/test split: near-dup components are the
    // split unit, so no near-dup pair straddles train/test; the
    // straddle count is proven in-plan and re-derived by the oracle
    "p_split_leakage_safe" -> (Dedup.leakageSafeSplit _),
    // contrastive batch packing: source-disjoint by construction
    "p_contrastive_batches" -> (Pipelines.contrastiveBatches _),
    "p_merge_cdc" -> (Pipelines.mergeCdc _),
    "p_incremental_agg" -> (Pipelines.incrementalAggRefresh _),
    "agg_mode" -> (Analytics.modePriority _),
    "agg_correlation" -> (Analytics.correlation _),
    "w_percent_rank" -> (Analytics.spendStanding _),
    "agg_weighted_avg" -> (Analytics.weightedAvg _),
    "graph_pagerank" -> ((s, d) => Graph.pagerank(s, d)),
    // personalized PageRank: teleport mass on a seed cohort — the
    // recommendation form of the rank loop; deterministic top-20
    "graph_ppr" -> ((s, d) => Graph.personalizedPagerank(s, d)),
    // synchronous label propagation, exact-integer scores + min-label
    // tie-break → the oracle replays every round deterministically
    "graph_label_prop" -> ((s, d) => Graph.labelPropagation(s, d)),
    // weighted modularity of the LPA communities: exact BIGINT
    // numerators, one IEEE division; rides the pooled LPA build
    "graph_modularity" -> ((s, d) => Graph.modularity(s, d)),
    // per-node local clustering: degree-ordered wedges, inner close,
    // 3 incidence rows per triangle, div-ppm coefficient
    "graph_local_cc" -> (Graph.localClustering _),
    // bounded-round k-core peel; the oracle unrolls the same rounds
    "graph_kcore" -> ((s, d) => Graph.kcore(s, d)),
    // multi-source BFS hop distances, level-synchronous frontier
    // rounds; the oracle unrolls the same rounds as chained CTEs
    "graph_bfs_hops" -> ((s, d) => Graph.bfsHops(s, d)),
    // weighted SSSP: 3 Bellman-Ford relaxation rounds, integer edge
    // lengths 1e6 div sup; exact ≤-3-edge shortest distances
    "graph_sssp" -> ((s, d) => Graph.sssp(s, d)),
    // sampled-subgraph companions (round-12, verdict ask #2): the
    // SAME bounded-round operators over the deterministic ¼-node
    // induced subgraph — their closure oracles stay replayable at
    // sf1.0, where the full graph's are prohibitive-excluded
    "graph_kcore_sample" -> ((s, d) => Graph.kcoreSample(s, d)),
    "graph_bfs_hops_sample" -> ((s, d) => Graph.bfsHopsSample(s, d)),
    "graph_modularity_sample" -> ((s, d) => Graph.modularitySample(s, d)),
    // §2.2 sinks (write → read-back round trips)
    "sink_csv_roundtrip" -> (Sinks.csvRoundTrip _),
    "sink_json_archive" -> (Sinks.jsonArchive _),
    "sink_latest_snapshot" -> (Sinks.latestSnapshot _),
    "sink_ctas_promote" -> (Sinks.ctasPromote _),
    "sink_upsert_by_date" -> (Sinks.upsertByDate _),
    "sink_time_travel" -> (Versioned.timeTravel _),
    // change data feed: diff two versions via the table's own asOf
    // reads — insert/delete/update classification, unchanged rows cut
    "sink_versioned_cdf" -> (Versioned.changeFeed _),
    "sink_versioned_merge" -> (Versioned.versionedMerge _),
    "sink_versioned_delete" -> (Versioned.versionedDelete _),
    "sink_compact" -> (Sinks.compact _),
    "sink_schema_evolution" -> (Sinks.schemaEvolution _),
    "sink_zorder" -> (Sinks.zorderCluster _),
    // data-quality gates
    "dq_expectations" -> (Quality.expectations _),
    "dq_observed_audit" -> (Quality.observedAudit _),
    "dq_volume_anomaly" -> (Quality.volumeAnomaly _),
    // total-variation drift between two slices, all-integer ppm
    "dq_dist_drift" -> (Quality.distributionDrift _),
    // Benford first-digit authenticity screen, literal ppm curve
    "dq_benford" -> (Quality.benfordAudit _),
    // per-column null-rate / ndv-density drift between two slices —
    // the profile diff of the observability stack, exact integer ppm
    "dq_profile_drift" -> (Quality.profileDrift _),
    // watermark-sizing audit: per-key max/p95 event-time disorder in
    // exact integer micros (ceiling-rank p95, no interpolation)
    "dq_late_arrivals" -> (Quality.lateArrivals _),
    // timeline causality gate: purchase before (or without) signup
    "dq_order_violations" -> (Quality.orderingViolations _),
    // candidate-key uniqueness audit over single + composite keys
    "dq_key_discovery" -> (Quality.keyDiscovery _),
    // sort-free sequence-gap audit: min/max/count arithmetic + a
    // shifted self anti join for run starts — no window, no lag
    "dq_id_gaps" -> (Quality.idGaps _),
    // CBO join-size audit: exact Σ cl·cr off ndv-sized count tables
    // vs the |L|·|R|/max(ndv) uniform estimate, div-ppm error
    "dq_join_card" -> (Quality.joinCard _),
    // FK fanout distribution incl. the k=0 class inner joins drop;
    // two groupBys + one anti join, no window
    "dq_fanout_profile" -> (Quality.fanoutProfile _),
    // k-anonymity audit over the QI tuple; suppression cost div-ppm
    "dq_k_anonymity" -> ((s, d) => Quality.kAnonymity(s, d)),
    "dq_referential" -> (Quality.referentialAudit _),
    // confusion matrix + rational Cohen's kappa: langId vs labels
    "dq_agreement_kappa" -> (Quality.agreementKappa _),
    // two-sample chi-square: hash sample vs population, Euclidean-
    // split integer quotients (no wide intermediates)
    "dq_sample_fit" -> (Quality.sampleFit _),
    // join-key skew audit: exact Gini coefficient per candidate key
    // via GlobalRank; integer num/den + div-ppm
    "dq_skew_gini" -> (Quality.skewGini _),
    // robust |x-med| > 3*MAD gate, discrete medians, integer cents
    "dq_outlier_mad" -> (Quality.madOutliers _),
    // the same gate with mergeable HistSketch medians — the 100 TB
    // form, with within-bin agreement columns vs the exact medians
    "dq_outlier_mad_sketch" -> (Quality.madOutliersSketch _),
    "dq_snapshot_diff" -> (Quality.snapshotDiff _),
    "set_unpivot" -> (Analytics.unpivotMetrics _),
    "w_range_frame" -> (Analytics.rangeFrameTrailing _),
    "set_union_evolve" -> (Analytics.unionEvolve _),
    "sim_ivfpq_topk" -> (Assertions.ivfPqTopKRecall _),
    "sink_infer_csv" -> (Sinks.inferredCsv _),
    "sink_orc_roundtrip" -> (Sinks.orcRoundTrip _),
    "sink_xml_roundtrip" -> (Sinks.xmlRoundTrip _),
    // federated-format union: parquet + csv + json + orc, one contract
    "sink_multi_format" -> (Sinks.multiFormatUnion _),
    // §3.2 pipeline B gold table
    "p_insight_gold" -> (Pipelines.insightGold _),
    // column-level lineage of the gold pipeline, extracted from the
    // ANALYZED plan (graft.plans.Lineage — never touches data); the
    // oracle is the hand-derived edge set, so a refactor that silently
    // changes which physical columns feed an output column fails here
    "plan_lineage" -> ((s, d) =>
      graft.plans.Lineage.edgesDf(Pipelines.insightGold(s, d))),
    // physical-plan linter over a deliberately pathological query
    // (graft.plans.PlanAudit — plan-only, never touches data); the
    // oracle is the hand-derived finding set, so a rule regression or
    // a planner change that flips a trigger shape fails the compare
    "plan_audit" -> (graft.plans.PlanAudit.lintDemo _),
    // ANALYZE-stats audit: catalog rowCount/ndv vs exact ground truth
    // (assertion form; raw estimates spec-asserted)
    "plan_stats_audit" -> ((s, d) => graft.plans.StatsAudit.audit(s, d)),
    "p_scd2" -> (Pipelines.scd2 _),
    // incremental SCD2 merge: stored history read back, delta-sized
    // close + chain; oracle = the full rebuild (incremental ≡ rebuild)
    "p_scd2_merge" -> (Pipelines.scd2Merge _),
    // point-in-time SCD2 lookup: facts enriched with the attribute in
    // effect at their OWN event time (training-serving skew guard)
    "p_pit_lookup" -> (Pipelines.pitLookup _),
    "p_corpus_clean" -> (Pipelines.corpusClean _),
    // §2.6 scalar function families
    "x_string_suite" -> (ScalarSuite.stringSuite _),
    "x_date_suite" -> (ScalarSuite.dateSuite _),
    "x11_ts_roundtrip" -> (ScalarSuite.timestampRoundtrip _),
    "x18_kv_parse" -> (ScalarSuite.kvParse _),
    "x8_status_case" -> (ScalarSuite.statusCase _),
    "x4_address" -> (ScalarSuite.addressConcat _),
    "x7_map_construct" -> (ScalarSuite.mapConstruct _),
    "x_hof_suite" -> (ScalarSuite.hofSuite _),
    // business-day SLA lateness via the closed-form weekday prefix
    // W(e) = 5·⌊(e+3)/7⌋ + min((e+3)%7+1, 5); exact both engines
    "x_business_days" -> (ScalarSuite.businessDays _),
    // semi-structured JSON layer (S4-S6, X3/X6)
    "ss_json_flatten" -> (SemiStructured.jsonFlatten _),
    "ss_props_extract" -> (SemiStructured.propsExtract _),
    "ss_variant_path" -> (SemiStructured.variantPath _),
    "ss_struct_traversal" -> (SemiStructured.structTraversal _),
    "ss_gmb_roundtrip" -> (SemiStructured.gmbPerformanceRoundTrip _),
    "ss_gmb_media" -> (SemiStructured.gmbMediaRoundTrip _),
    "ss_gmb_vom" -> (SemiStructured.gmbVomRoundTrip _),
    "ss_gmb_location" -> (SemiStructured.gmbLocationRoundTrip _),
    "ss_gmb_localposts" -> (SemiStructured.gmbLocalPostsRoundTrip _),
    "ss_quarantine" -> (SemiStructured.qualityQuarantine _),
    "ss_gmb_reviews" -> (SemiStructured.gmbReviewsRoundTrip _),
    "ss_gmb_services" -> (SemiStructured.gmbServicesRoundTrip _),
    // §2.10 north-star: deduplication
    "dedup_exact" -> (Dedup.exact _),
    "dedup_ngram_jaccard" -> (Dedup.ngramJaccard _),
    // asymmetric containment |A∩B|/min — catches short-doc-inside-
    // long-doc duplication symmetric Jaccard structurally misses
    "dedup_containment" -> ((s, d) => Dedup.containmentPairs(s, d)),
    // cross-source contamination matrix off the pooled shingle/pair
    // bases: shared shingles + cross-source candidate/near-dup pairs
    "dedup_source_overlap" -> (Dedup.sourceOverlap _),
    // prefix-filtered EXACT Jaccard join — same output as the full
    // index, candidate set provably complete and far smaller
    "dedup_prefix_jaccard" -> ((s, d) => Dedup.prefixJaccard(s, d)),
    // the prefix filter's pruning ratio through the gate: candidate
    // counts (prefix vs full index) re-derived independently in SQL
    "dedup_prefix_stats" -> ((s, d) => Dedup.prefixFilterStats(s, d)),
    // assertion forms: recall/precision vs the ngram-Jaccard truth
    "dedup_minhash" -> (Assertions.minhashRecall _),
    "dedup_simhash" -> (Assertions.simhashConsistency _),
    "dedup_simhash_pairs" -> (Assertions.simhashPairsRecall _),
    "dedup_cosine" -> (Similarity.cosineNearDup _),
    "dedup_clusters" -> (Dedup.nearDupClusters _),
    // in-plan conservation laws over the FULL pair graph (round-12):
    // cross-label edges / label>member / rootless labels, all 0 —
    // the CC gate that holds where a closure replay is prohibitive
    "dedup_cc_invariants" -> (Dedup.ccInvariants _),
    "graph_triangles" -> (Graph.triangleCount _),
    "graph_clustering_coeff" -> (Graph.clusteringCoeff _),
    // resource-allocation link prediction: integer 1e6 div deg(w)
    // contributions over the wedge space, anti-joined vs existing
    // edges, deterministic top-100
    "graph_linkpred" -> ((s, d) => Graph.linkPrediction(s, d)),
    // item-item CF: rational cosine² ppm over co-purchase counts,
    // per-item top-5 (basket-bounded pair space)
    "graph_item_cf" -> ((s, d) => Graph.itemCf(s, d)),
    "dedup_clusters_star" -> (Dedup.nearDupClustersStar _),
    "text_decontaminate" -> (Dedup.decontaminate _),
    // duplicate-8-gram coverage per doc (RefinedWeb metric), string
    // shingles joined verbatim, div-ppm law
    "text_dup_coverage" -> ((s, d) => TextAnalysis.dupCoverage(s, d)),
    // maximal duplicated-span extraction (islands over dup positions)
    "text_dup_spans" -> ((s, d) => TextAnalysis.dupSpans(s, d)),
    // Simpson diversity + type-token ratio, div-ppm laws
    "text_diversity" -> (TextAnalysis.diversity _),
    "dedup_incremental" -> (Dedup.incremental _),
    // the index-probe form: history band buckets pooled, delta
    // signatures probe them, candidates exact-verified (assertion
    // form — precision-1 law + recall bound vs the exact cross pairs)
    "dedup_incremental_lsh" -> (Dedup.incrementalLsh _),
    // quality-aware representative per near-dup cluster (argmax
    // quality, min-id tie-break) — the keep-best policy layer
    "dedup_keep_best" -> (Dedup.keepBestPerCluster _),
    // the persisted-index form: history bands as a bucketed table, so
    // the probe join has NO exchange on the (big) history side
    "dedup_lsh_index" -> ((s, d) => Dedup.incrementalLshBucketed(s, d)),
    // bloom-prefiltered semi join: candidates-only exact verify
    "j_bloom_semi" -> (Dedup.bloomSemiJoin _),
    // §2.10 north-star: similarity search
    "sim_topk" -> ((s, d) => Similarity.bruteForceTopK(s, d)),
    // assertion forms: ANN recall vs the exact baselines
    "sim_ann_lsh" -> (Assertions.annLshRecall _),
    "sim_ann_ivf" -> (Assertions.annIvfRecall _),
    // corpus-wide mutual-kNN graph (SemDeDup/SNN substrate): IVF
    // multi-probe candidates, round-3 rank, mutuality filter; exact
    // full-pair graph computed in-plan as the assertion ground truth
    "sim_knn_graph" -> ((s, d) => Assertions.knnGraphBounds(s, d)),
    "sim_quantize" -> (Assertions.quantizeBound _),
    "sim_centroids" -> (Similarity.labelCentroids _),
    // corrupt-embedding screen: integer-exact centroid distances
    // (n·x − Σx residuals), squared 3σ law — no sqrt, no division
    "sim_outlier_gate" -> (Similarity.outlierGate _),
    "sim_kmeans" -> ((s, d) => Similarity.kmeans(s, d)),
    "sim_pq" -> ((s, d) => Similarity.pqCodes(s, d)),
    "sim_pq_topk" -> (Assertions.pqTopKRecall _),
    "sim_hard_negatives" -> ((s, d) => Similarity.hardNegatives(s, d)),
    "sim_hybrid_rrf" -> ((s, d) => TextAnalysis.hybridRrf(s, d)),
    "sim_mmr_rerank" -> ((s, d) => Similarity.mmrRerank(s, d)),
    "dedup_semantic" -> ((s, d) => Similarity.semanticDedup(s, d)),
    "p_diverse_subset" -> ((s, d) => Pipelines.diverseSubset(s, d)),
    // §2.10 north-star: text analysis
    "text_lang_id" -> (TextAnalysis.langId _),
    "text_quality" -> (TextAnalysis.qualityScore _),
    "text_token_count" -> (TextAnalysis.tokenCount _),
    "text_fingerprint" -> (TextAnalysis.fingerprint _),
    // assertion forms: fingerprint determinism + coverage
    "text_winnow" -> (Assertions.winnowConsistency _),
    "dedup_winnow_pairs" -> (Assertions.winnowPairsRecall _),
    "text_vocab" -> (TextAnalysis.vocab _),
    "text_bigrams" -> (TextAnalysis.bigrams _),
    // interpolated Kneser–Ney bigram LM (continuation counts from the
    // one bigram-types table; rational probability, no logs)
    "text_kn_bigram" -> ((s, d) => TextAnalysis.knBigram(s, d)),
    // PMI collocations ranked by the exact integer ratio (log-free)
    "text_collocations" -> ((s, d) => TextAnalysis.collocations(s, d)),
    // Heaps-law vocabulary growth per corpus decile (saturation report)
    "text_vocab_growth" -> (TextAnalysis.vocabGrowth _),
    "text_chunk" -> ((s, d) => TextAnalysis.chunk(s, d)),
    "text_pack" -> ((s, d) => TextAnalysis.packSequences(s, d)),
    "text_tfidf" -> ((s, d) => TextAnalysis.tfidf(s, d)),
    "text_bm25" -> ((s, d) => TextAnalysis.bm25(s, d)),
    "text_lm_score" -> (TextAnalysis.lmScore _),
    // CCNet head/middle/tail terciles over the LM score — the
    // quality-stratification mixture knob; exact integer tercile law
    "text_ppl_buckets" -> (TextAnalysis.perplexityBuckets _),
    "text_pii_scrub" -> (TextAnalysis.piiScrub _),
    "text_holdout_split" -> (TextAnalysis.holdoutSplit _),
    "text_repetition" -> (TextAnalysis.repetition _),
    "text_gopher_quality" -> (TextAnalysis.gopherQuality _),
    "text_token_mixture" -> (TextAnalysis.tokenMixture _),
    "text_train_classifier" -> ((s, d) =>
      Learn.trainQualityClassifier(s, d)),
    "text_classifier_score" -> ((s, d) =>
      Learn.scoreQualityClassifier(s, d)),
    // reliability-diagram calibration audit of the trained classifier:
    // 10 bins, exact BIGINT micro-mass and |Σp−Σy| gap per bin
    "text_calibration_ece" -> ((s, d) => Learn.calibrationEce(s, d)),
    // margin-based uncertainty sampling (active learning): per-language
    // top-k docs nearest the 0.5 boundary via the mergeable TopKAgg
    "p_active_learning_margin" -> ((s, d) =>
      Learn.activeLearningMargin(s, d)),
    // Fellegi–Sunter probabilistic record linkage: blocked pairs →
    // 2³ agreement patterns → 2-round EM → per-pattern LR + posterior
    "p_linkage_fs" -> ((s, d) => Pipelines.linkageFellegiSunter(s, d)),
    // exact ROC-AUC of the trained classifier: Mann–Whitney rank
    // statistic with average-rank ties, all BIGINT, bucketed prefix
    "text_classifier_auc" -> ((s, d) => Learn.classifierAuc(s, d)),
    // split-conformal threshold (exact ppm rank ceil) + holdout
    // coverage — the distribution-free filter-shipping guarantee
    "p_conformal_threshold" -> ((s, d) => Learn.conformalThreshold(s, d)),
    // confident-learning label-noise joint counts off integer-div
    // self-confidence thresholds
    "p_label_noise" -> ((s, d) => Learn.labelNoise(s, d)),
    // IPS/SNIPS off-policy value per action: BIGINT importance
    // weights off a Knuth-multiplicative propensity
    "agg_ips_value" -> ((s, d) => Learn.ipsOffPolicy(s, d)),
    // doubly-robust off-policy value: even-half outcome model,
    // odd-half BIGINT correction, one double division
    "agg_dr_value" -> ((s, d) => Learn.drOffPolicy(s, d)),
    // Bradley–Terry preference strengths: deterministic pairing,
    // two integer MM iterations over the O(langs²) win matrix
    "p_bradley_terry" -> ((s, d) => Learn.bradleyTerry(s, d)),
    "text_quality_filter" -> (TextAnalysis.qualityFilter _),
    "text_resample" -> (TextAnalysis.resample _),
    // temperature-scaled domain mixture: p_d ∝ tokens_d^(1/2) via
    // exact integer isqrt + ppm/div laws (boosts low-resource langs)
    "text_mixture_temp" -> ((s, d) => TextAnalysis.mixtureTemperature(s, d)),
    // length-curriculum staging over GlobalRank
    "p_curriculum" -> ((s, d) => Pipelines.curriculumStages(s, d)),
    // DSIR importance resampling: target/proposal bigram-LM ratio as
    // the weight, deterministic A-ES draw — fully oracle-replayed
    "text_dsir_resample" -> ((s, d) => TextAnalysis.dsirResample(s, d)),
    "text_token_budget" -> ((s: SparkSession, dir: String) =>
      TextAnalysis.tokenBudgetFill(s, dir)),
    "text_unicode_norm" -> (TextAnalysis.unicodeNormalize _),
    "text_compression_ratio" -> (Assertions.compressionInvariants _),
    "text_span_dedup" -> ((s, d) => TextAnalysis.spanDedup(s, d)),
    "text_bpe_train" -> ((s, d) => TextAnalysis.bpeTrain(s, d)),
    "text_bpe_apply" -> ((s, d) => TextAnalysis.bpeApply(s, d)),
    "text_wordpiece_apply" -> ((s, d) => TextAnalysis.wordpieceApply(s, d)),
    // unigram-LM tokenizer (SentencePiece family): hard-EM training
    // over the compressed word table, Viterbi apply; assertion form
    // (reconstruction partition law, fertility range, vocab target,
    // EM-objective monotonicity) with replayable corpus totals
    "text_unigram_lm" -> ((s, d) => Unigram.unigramLm(s, d)),
    // §2.10 north-star: multimodal plumbing
    "mm_decode_meta" -> (Multimodal.decodeMeta _),
    "mm_frame_sample" -> (Multimodal.frameSample _),
    "mm_payload_neardup" -> (Multimodal.payloadNearDup _),
    // WebDataset shard packing: prefix-sum div law per source, shard-
    // grain manifest (counts/bytes/id range)
    "mm_shard_plan" -> ((s, d) => Multimodal.shardPlan(s, d)),
    // epoch-shuffled reader order over the shard manifest: row-local
    // multiplicative permutation key, bucketed global rank
    "p_epoch_shuffle" -> ((s, d) => Multimodal.epochShuffle(s, d)),
    "mm_resize" -> (Multimodal.resize _),
    "mm_features" -> (Multimodal.featureExtract _),
  )

  /** Queries whose builder functions eagerly EXECUTE work (writes,
    * CTAS) before returning the DataFrame — the write IS the operator.
    * Registered here, next to the queries, so plan-only tooling
    * (PlanQualitySpec's sweep) can skip them without maintaining a
    * drifting name list. Keep in sync when adding a query that runs
    * jobs inside its builder.
    */
  val eagerWriters: Set[String] =
    queries.keySet.filter(_.startsWith("sink_")) +
      "adv_bucketed_join" +
      "s2_jdbc_source" + // builder seeds the embedded Derby db (a write job)
      "s2_jdbc_agg_pushdown" + // same Derby seed job
      "dedup_clusters" + // builder runs the iterative CC fixpoint jobs
      "dedup_clusters_star" + // same fixpoint via star alternation
      "dedup_keep_best" + // reads the same CC fixpoint labels
      "dedup_lsh_index" + // builder writes the bucketed index table
      "p_entity_resolution" + // composes the CC fixpoint on fuzzy pairs
      "graph_pagerank" + // builder runs the rank-iteration jobs
      "graph_ppr" + // same loop with the seeded teleport
      "graph_label_prop" + // builder runs the propagation-round jobs
      "graph_modularity" + // rides the same pooled LPA round jobs
      "graph_local_cc" + // builder checkpoints the oriented edge set
      "graph_triangles" + // builder checkpoints the oriented edge set
      "graph_clustering_coeff" + // same checkpointed edge pipeline
      "sim_kmeans" +     // builder runs the Lloyd-iteration jobs
      "sim_pq" +         // builder runs per-subspace Lloyd jobs
      "sim_pq_topk" +    // builder trains the PQ books (Lloyd jobs)
      "p_diverse_subset" + // composes sim_kmeans (Lloyd jobs)
      "dedup_semantic" +   // composes sim_kmeans (Lloyd jobs)
      "text_bpe_train" + // builder runs the merge-iteration jobs
      "text_bpe_apply" + // builder trains (or reads the memo) first
      "text_wordpiece_apply" + // builder collects the vocab first
      "text_unigram_lm" + // builder runs the EM-round jobs
      "stream_feed_daily" + // builder runs the AvailableNow stream drain
      "stream_sessionize" + // same drain, append-mode session windows
      "stream_distinct_running" + // same drain, TWS KMV state
      "stream_sliding_distinct" + // same drain, TWS day→sketch MapState
      "stream_weighted_sample" + // same drain, TWS A-ES reservoir state
      "stream_heavy_hitters" + // same drain, TWS Misra-Gries state
      "stream_quantiles" + // same drain, TWS histogram-sketch state
      "stream_versioned_ingest" + // drain committing versions per batch
      "stream_mixture_drift" + // same drain, TWS domain counters
      "text_heavy_hitters" + // builder checkpoints the sketch pass
      "dedup_minhash" +  // builder counts candidates to gate the broadcast
      "j15_top_supplier" + // builder checkpoints the per-supplier revenue
      "j11_important_parts" + // builder checkpoints the per-part values
      "dq_snapshot_diff" + // builder checkpoints the base projection
      "sim_ivfpq_topk" + // builder trains the PQ books (Lloyd jobs)
      "sim_nn_descent_curve" + // eager localCheckpoints between rounds
      "sim_pca" +        // builder runs the covariance pass + eigensolve
      "mv_summary_rewrite" + // builder materializes the rollup summary
      "adv_dpp_prune" +  // builder writes the partitioned fact copy
      "adv_skew_join" +  // builder executes the join under tuned AQE confs
      "agg_median_scale" + // builder runs the stats + histogram jobs
      "dq_observed_audit" + // builder runs the observed pass
      "mv_incremental_refresh" + // builder writes base + merges the delta
      "mv_join_delta" + // builder materializes the stored join view
      "graph_bfs_hops" + // builder runs the frontier-round jobs
      "graph_sssp" + // builder runs the relaxation-round jobs
      "stream_concurrency" + // AvailableNow drain, TWS open-ends state
      "stream_dedup_history" + // AvailableNow drain, stream-static anti
      "p_scd2_merge" + // builder materializes the stored history table
      "plan_stats_audit" + // builder saves the table + runs ANALYZE
      "agg_kmv_overlap" + // builder collects the per-group sketches
      "agg_cms_pointq" + // builder merges day sketches (O(days) rows)
      "s_partition_prune" // builder writes the events_by_day layout (once)

  /** DuckDB-equivalent SQL per query key — assembled from the
    * per-family objects in graft.oracles (split out mechanically,
    * round-10 verdict ask #7). This map is still the single driver
    * contract surface; the require guards against a key landing in
    * two families and silently overriding.
    */
  def oracleSql: Map[String, String] = {
    val parts = Seq(
      oracles.TextOracles.sql, oracles.GraphOracles.sql,
      oracles.CoreOracles.sql, oracles.AnalyticsOracles.sql,
      oracles.AggOracles.sql, oracles.QualityOracles.sql,
      oracles.SourceOracles.sql, oracles.JoinOracles.sql,
      oracles.SimOracles.sql, oracles.StreamOracles.sql,
      oracles.DedupOracles.sql)
    val merged = parts.reduce(_ ++ _)
    require(merged.size == parts.map(_.size).sum,
      "duplicate oracle key across family objects")
    merged
  }
}
