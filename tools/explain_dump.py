"""Dump formatted physical plans for flagship queries into EXPLAIN.md.

The scale claims (pushdown, pruning, broadcast choice, codegen spans, no
corpus-keyed single-task operators) should be READABLE, not just asserted in
tests — this captures the actual `explain(formatted)` output the claims are
made about. Plans are captured at sf0.001 (plan shape is SF-independent;
only AQE runtime re-planning changes with size, which the bench exercises).

Run: python tools/explain_dump.py [out_md]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"

PICKS = [
    (
        "q1_pricing_summary",
        "Relational scan+agg: predicate pushdown and column pruning must reach "
        "the parquet scan (PushedFilters / ReadSchema); both aggregate halves "
        "inside WholeStageCodegen.",
    ),
    (
        "j3_calendar_anti",
        "P5/P7 calendar exclusions: tiny dim side broadcast, LeftAnti — the "
        "fact side never shuffles against a calendar.",
    ),
    (
        "s_lsh_near_pairs",
        "Banded-LSH near-dup: pairs form only inside (band, bucket) groups "
        "(one shuffle on the bucket key), per-bucket populations capped, fast "
        "double pre-filter before the decimal-exact verify.",
    ),
    (
        "ml_ann_scores_scale",
        "ANN scale mode: probe-cell selection and the posting-list 1-NN scan "
        "run in-row over broadcast arrays — after the embed island, only "
        "skinny (key, d2) rows move, into partial aggregations.",
    ),
    (
        "a1_price_quantiles_approx",
        "A1 scale mode: single-pass mergeable GK sketch (percentile_approx) — "
        "the 100 TB shape vs the exact variant's full sort.",
    ),
    (
        "o3_top_customers",
        "Top-k compiles to TakeOrderedAndProject (per-partition heaps merged "
        "on the driver), not a global-Window row_number.",
    ),
    (
        "s_sq8_topk",
        "SQ8-quantized ANN: tinyint vectors, integer dot-product folds in "
        "codegen, broadcast query side, WindowGroupLimit top-k — no decimal "
        "nodes anywhere in the plan.",
    ),
    (
        "j_asof_thresholds",
        "As-of join via union-and-carry: the join mechanism itself is one "
        "Exchange on the series key + a linear Window scan (the plan's other "
        "exchanges build the hourly/threshold inputs) — no join node at all, "
        "hence no range-join pair explosion.",
    ),
    (
        "t_tfidf_top_terms",
        "TF-IDF top-k: Generate (explode) feeding partial-aggregated "
        "HashAggregates, 1-row N as a broadcast, WindowGroupLimit per-doc "
        "top-k.",
    ),
    (
        "j_bloom_prune",
        "Bloom semi-join reduction: the 1-row bitmap build (aggregate HOF) "
        "broadcasts into a Filter BELOW the join — non-candidate fact rows "
        "drop before the exchange; the exact broadcast join then removes "
        "bloom false positives.",
    ),
    (
        "d_decontaminate",
        "Benchmark decontamination: the benchmark n-gram set broadcasts "
        "(BroadcastHashJoin on the shingle id); the training side pays one "
        "explode + per-doc Window + one groupBy(doc) shuffle.",
    ),
    (
        "s_kmeans_embed",
        "k-means final assignment: a pure map stage — argmin over the "
        "centroid array LITERAL (no join, no shuffle, no exchange above the "
        "scan); training's per-round update is one partial-aggregated "
        "(cell, dim) shuffle, k*dim rows to the driver.",
    ),
    (
        "j_range_gap_context",
        "Bucketized range join: both sides bucket to days and meet in a hash "
        "EQUI-join (SortMergeJoin/ShuffledHashJoin on the bucket key) with "
        "the exact BETWEEN as a post-filter — no BroadcastNestedLoopJoin, "
        "interval replication bounded by span/bucket.",
    ),
    (
        "j_salted_skew_revenue",
        "Skew salting: the hot build keys are replicated across N salt "
        "values so the probe shuffle spreads a skewed key over N tasks; the "
        "plan shows the salted join key feeding one Exchange, no single-task "
        "straggler partition.",
    ),
    (
        "sink_partition_prune",
        "Hive-partitioned sink readback: the partition predicate prunes at "
        "the file index (PartitionFilters on the scan node) — a 100 TB "
        "table read touches only the selected partition directories.",
    ),
    (
        "g_pagerank",
        "Iterative join+agg (Pregel step as DataFrames): per round one hash "
        "join of skinny ranks against the persisted degree-annotated edges "
        "(InMemoryTableScan) and one map-side-combinable groupBy(dst) sum; "
        "rank arithmetic on a 1e-9 integer lattice, no float reduction.",
    ),
    (
        "g_triangles",
        "Degree-oriented triangle count: canonical-edge distinct, degree "
        "annotation via two broadcast joins, oriented-edge self-join on src "
        "(out-degree capped at O(sqrt m) by the orientation — no hot build "
        "key), wedge closed by one hash join against the canonical edge "
        "set. Every join an equi-join; no nested loop anywhere.",
    ),
    (
        "w_cusum_flags",
        "Sequential recurrence as an aggregate HOF: one shuffle to "
        "collect_list per series, then the CUSUM fold runs inside codegen "
        "with the per-series constants (mean/allowance/threshold) hoisted "
        "to row columns — the lambda is O(1) per element, the fold O(n).",
    ),
    (
        "d_semantic_dedup",
        "SemDeDup cluster-blocked dedup (r7 shape): assignment is a "
        "map-side argmin over the checkpointed sqrt(n)-centroid literal; "
        "candidates are the SORTED-NEIGHBORHOOD pairs — rank by centroid "
        "distance inside the cluster, sequence-explode the 32-wide window, "
        "SHUFFLE_HASH equi-join on (cluster, rank) — volume <= 32n, LINEAR "
        "in corpus size; fast double dot pre-filters before the "
        "decimal-exact cosine decides the boundary.",
    ),
    (
        "mm_gif_frame_sample",
        "Real multi-frame codec island: one round-robin Exchange spreads "
        "the CPU-bound encode/decode Python work across every core (the "
        "small-SF parquet is a single split), then two mapInPandas islands "
        "(encode, frame-sample decode) run back to back with no shuffle "
        "between them.",
    ),
    (
        "s_pq_topk",
        "PQ-ADC scan: encoding is a map-side argmin over codebook literals "
        "(no join above the scan), the LUT broadcasts, and the per-query "
        "distance is one partial-aggregated integer sum — the plan never "
        "touches a float vector after encoding.",
    ),
    (
        "d_dup_spans",
        "Rolling-hash duplicate spans (r7 shape): one Generate (char "
        "explode), broadcast powers dim, ONE per-doc window computing "
        "every k-gram hash in O(len), a partial-aggregated hot-k-gram "
        "count + LeftAnti cap ahead of the candidate equi-join, and a "
        "SHUFFLE-side substring verify (no BroadcastExchange ever carries "
        "a text column) — no per-position substring materialization "
        "anywhere in the plan.",
    ),
    (
        "t_countmin_freq",
        "Count-Min build: explode to (row, bucket) cells feeding one "
        "map-side-combinable HashAggregate — d*w cells regardless of "
        "corpus size; probe side joins the broadcast sketch.",
    ),
    (
        "s_ivfpq_topk",
        "IVF-PQ composite ANN: broadcast centroid cross for coarse cells, "
        "map-side PQ encode over codebook literals, broadcast probe-list "
        "and LUT joins, ONE combinable integer sum — a single shuffle end "
        "to end; the plan never touches a float vector after encoding and "
        "scans only the probed n_probe/n_lists of the corpus.",
    ),
    (
        "d_dup_span_removal",
        "Duplicate-span text surgery: the island frame's intervals merge "
        "via a per-doc running-max window (never global), collect_list to "
        "one sorted interval array per doc, and the cut is a single "
        "aggregate-HOF fold concatenating kept substrings — O(len) per "
        "doc, no per-character explode, no UDF.",
    ),
    (
        "g_communities",
        "Synchronous label propagation: per round one labels-by-source "
        "hash join, one map-side-combinable (node, label) count, one "
        "combinable struct-min argmax — NO window and no per-node sort "
        "anywhere in the unrolled 4-round plan.",
    ),
    (
        "t_theta_setops",
        "Theta/KMV set algebra: per-set distinct hashing partial-"
        "aggregates; each k-smallest compiles to TakeOrderedAndProject "
        "(k rows of driver state, never the vocabulary); every set op "
        "runs on <= 2k-row frames via broadcast.",
    ),
    (
        "sink_zorder_box",
        "Z-ordered layout readback: the 2-D box predicate reaches the "
        "parquet scan as PushedFilters; because files cover compact "
        "Morton tiles, the min/max footers skip most of them — the "
        "multi-dimensional analog of partition pruning.",
    ),
    (
        "q3_shipping_priority",
        "TPC-H Q3: date/segment predicates pushed to all three scans, one "
        "orderkey shuffle, top-k as TakeOrderedAndProject (per-partition "
        "heaps) — never a global sort.",
    ),
    (
        "a_gini_revenue",
        "Per-nation Gini: the heavy lineitem join partial-aggregates before "
        "the nation-bounded rank window; only the skinny per-customer frame "
        "is sorted, final agg combinable.",
    ),
    (
        "a_retention_cohorts",
        "Retention cohorts: two combinable aggs + one custkey shuffle + a "
        "broadcast of #months cohort sizes — the whole triangle without a "
        "window.",
    ),
    (
        "t_bigram_perplexity",
        "Perplexity filter: bigrams form inside a JVM transform over the "
        "token array (no window, no self-join); count joins are AQE-sized; "
        "top-k is TakeOrdered.",
    ),
    (
        "s_weighted_sample",
        "Weighted reservoir sample: bounded explode (cap x N rows), "
        "map-side-combinable max, TakeOrderedAndProject — embarrassingly "
        "parallel, no reservoir state.",
    ),
    (
        "t_phrase_search",
        "Positional phrase search: per-term postings as pushed-down filters "
        "over the positional explosion, adjacency equi-joins, combinable "
        "per-doc rollup.",
    ),
    (
        "q13_custdist",
        "Zero-preserving custdist: aggregate-then-left-join (one row per "
        "customer enters the join), second combinable rollup.",
    ),
    (
        "a_join_size_est",
        "Join-size estimate: the coordinated key-sample predicate filters "
        "BOTH scans before any shuffle; frequency join runs on sampled key "
        "dims only.",
    ),
    (
        "d_fuzzy_edit_pairs",
        "r8 no-text-broadcast: the Levenshtein verify joins candidate texts "
        "shuffle-side (shuffle_hash hints) after a semi-prune on candidate "
        "ids — no BroadcastExchange carries a text column at any scale.",
    ),
    (
        "s_hard_negatives",
        "Contrastive hard-negative mining: the n_queries-row query side "
        "broadcasts with the label-disagreement predicate inside the join "
        "condition; per-query top-k windows only.",
    ),
    (
        "a_ks_drift",
        "Integer-exact KS drift: cumulative counts over per-type sorted "
        "distinct values (Window partitioned by event_type — bounded "
        "alphabet, never global), cross-multiplied max gap, one final "
        "division.",
    ),
    (
        "pipeline_near_dedup",
        "End-to-end keep-list dedup: the cluster non-representative set "
        "left-joins the corpus (keep-list shape — dedup never rewrites the "
        "corpus); upstream pair generation is the bounded LSH join above.",
    ),
    (
        "d_ngram_jaccard_pairs",
        "r10 map-only token hashing (the poly hash is inline per token instance — no vocabulary frame, no BroadcastExchange feeding the shingle window) + r9 hot-shingle df cap: the inverted-index self-join is preceded by "
        "a LeftAnti against the >cap document-frequency list (the only "
        "BroadcastNestedLoopJoin is the deliberate 1-row doc-count scalar "
        "carrying the relative cap) — C(df,2) rows per boilerplate shingle "
        "are structurally gone.",
    ),
    (
        "d_minhash_lsh_pairs",
        "Bounded text-LSH end to end: the (band, band_key) candidate "
        "self-join goes through the ranked sorted-neighborhood frame "
        "(bucket cap 2000, rank distance ≤ 32), and the r9 verify computes "
        "intersections via cands ⋈ sh(d1) ⋈ sh(d2) on equal shingle — no "
        "doc_id < doc_id self-join predicate anywhere; the df-cap LeftAnti "
        "guards the shingle side and every sizes join is shuffle_hash.",
    ),
    (
        "g_kcore",
        "Fixed-round k-core peel: per round a combinable degree count and "
        "two vertex-keyed LeftSemi joins; lineage cut every other round "
        "(the plan shows the final rounds only — earlier rounds are behind "
        "the localCheckpoint scan).",
    ),
    (
        "a_bootstrap_ci",
        "Poisson bootstrap: one explode (+repartition off the single scan "
        "split), the seeded draw computed once per row, one combinable "
        "200-group aggregate, CI picked from a bounded sorted array — no "
        "window, no with-replacement materialization.",
    ),
    (
        "q21_waiting_suppliers",
        "TPC-H Q21 shape: both correlations are per-order distinct-supplier "
        "counts joined back on orderkey — one fact shuffle, no per-line "
        "self-join; final top-20 is TakeOrderedAndProject.",
    ),
    (
        "s_pca_project",
        "PCA projection after the memoized driver fit: a PURE map stage — "
        "fold against component literals straight over the scan, no "
        "Exchange, no join, no Window anywhere in the plan.",
    ),
    (
        "t_textrank_keywords",
        "PageRank composed over the word co-occurrence graph: lead-window "
        "neighbors (linear, never a per-doc self-join), per-round hash join "
        "+ combinable aggregate on the integer rank lattice, TakeOrdered "
        "top-20.",
    ),
    (
        "d_incremental_dedup",
        "Delta-vs-corpus dedup: the delta band keys BROADCAST against the "
        "corpus band index (the corpus never self-joins), corpus buckets "
        "rank-capped, per-candidate-pair verify over the df-capped shingle "
        "view.",
    ),
    (
        "d_simhash_hamming_pairs",
        "Pigeonhole band blocking: Hamming ≤ 3 over 4×8-bit bands "
        "guarantees one exact band match, so candidates are an equi-join "
        "under the bucket cap + sorted-neighborhood window; verify is one "
        "bit_count(xor) per candidate.",
    ),
    (
        "s_knn_graph",
        "Approximate kNN graph: bounded banded-LSH candidates, exact-cosine "
        "verify, per-source rank window (bounded by bands × cap — never a "
        "global sort).",
    ),
    (
        "d_bloom_new_docs",
        "Bloom ingest screen: the 4096-bit bitmap builds as ONE aggregate-"
        "HOF row and broadcasts into the delta probe (kilobytes to every "
        "task at any corpus size); truth joins are shuffle-side.",
    ),
    (
        "a_equidepth_histogram",
        "Exact global ntile WITHOUT a single-task Window: approx-quantile "
        "value buckets bound each row_number partition, driver prefix "
        "offsets make ranks global, ntile is integer arithmetic.",
    ),
    (
        "q11_important_stock",
        "Price-book Q11: one (part, supplier) combinable rollup, nation dim "
        "broadcast, the HAVING scalar a 1-row broadcast aggregate — never a "
        "recomputation of the fact side.",
    ),
    (
        "mm_jpeg_real_features",
        "Baseline-JPEG round trip in one Arrow island pair: encode and "
        "decode are mapInPandas stages over pre-spread partitions; only "
        "(media_id, 8 doubles) leave the island.",
    ),
    (
        "t_gopher_rules",
        "Quality-rule battery as ONE map-only pass: every rule is a JVM "
        "HOF + integer cross-multiplication inside WholeStageCodegen — no "
        "shuffle, no join, no Python.",
    ),
    (
        "g_node_jaccard",
        "Degree-capped wedge similarity: adjacency restricted to bounded "
        "centers (semi joins), the wedge self-join an equi-join on the "
        "center key, full-degree denominators shuffle-side.",
    ),
    (
        "q4_order_priority",
        "EXISTS as a left-semi join with the 90-day date bound inside the "
        "join condition; the quarter filter reaches the orders scan "
        "(PushedFilters).",
    ),
    (
        "w_load_duration_curve",
        "Descending-demand duration curve: the sort window partitions by "
        "series (never SinglePartition); duration points are member "
        "selections at integer div positions — no percentile interpolation.",
    ),
    (
        "w_peak_coincidence",
        "System peak via TakeOrderedAndProject(1) broadcast back to the "
        "per-series agg — the global argmax never sorts the full frame.",
    ),
    (
        "a_pinball_loss",
        "Weekly-lag window per series over the filled spine, a 3-row tau "
        "explode (Generate), then one map-combinable decimal-exact agg.",
    ),
    (
        "w_ramp_rates",
        "Hour-to-hour deltas via one per-series lag window; p95 |ramp| is a "
        "rank-window member selection at an integer div position; all three "
        "stages keyed by series.",
    ),
    (
        "w_weekday_profile_divergence",
        "Three stacked map-combinable aggs (series,hour,regime) -> "
        "(series,hour) -> series; the peak-hour argmax is an explicit "
        "max-join, no engine-dependent min_by, no global window.",
    ),
    (
        "w_daily_peak_hour_hist",
        "Daily argmax as a rank-1 window keyed by (series, day) — window "
        "key cardinality grows with the data, so no task ever sees more "
        "than one day of one series.",
    ),
    (
        "w_ljung_box",
        "Five lag columns off ONE per-series window pass, one mean join, "
        "one combinable 7-moment agg; the Q statistic is a fixed "
        "left-associated expression, never a grouped float sum over k.",
    ),
    (
        "t_dsir_importance",
        "DSIR importance: map-only inline token hashing (zero vocabulary "
        "joins), ONE (doc, bucket) shuffle reused by both the bucket stats "
        "and the per-doc score via ReuseExchange, kilobyte LLR broadcast.",
    ),
    (
        "p_t_closeness",
        "Ordinal EMD over a 5-level spine: running-CDF gap as a bounded "
        "window over the levels frame, group cardinality never exceeds "
        "levels x groups.",
    ),
    (
        "w_dft_power",
        "Goertzel bins with constant-folded literal trig arrays: exactly "
        "one join (the per-series mean) and zero broadcasts — phase "
        "lookup is element_at on a folded constant, fully inside codegen.",
    ),
    (
        "g_assortativity",
        "Degree assortativity: two shuffle-hash edge->degree joins, one "
        "combinable 4-moment agg, single scalar out — no window anywhere.",
    ),
    (
        "g_local_clustering",
        "Wedge closure as an equi-join of degree-capped wedges against the "
        "canonical edge list (volume <= cap * m); zero-triangle centers "
        "kept by a left join.",
    ),
    (
        "w_theil_sen",
        "Bounded-lag median slope: one 7-lag window pass, a stack() "
        "Generate (no shuffle), then one per-series sorted-array collect — "
        "the mad_outliers bounded-state contract.",
    ),
    (
        "w_system_corr",
        "Per-series moments against the hour-keyed system sum: the grid "
        "cardinality side shuffles on ts (hours, tiny vs rows), Pearson/beta "
        "from five decimal-exact sums.",
    ),
    (
        "a_forecast_combo",
        "Inverse-MAE blend: one lag window pass shared by train weights and "
        "test eval, weights joined back shuffle-hash by series.",
    ),
    (
        "t_kl_unigram",
        "Source KL over the hashed 1024-bucket space: map-only token "
        "hashing, one (source, bucket) combinable agg, kilobyte bucket "
        "table broadcast into the smoothed grid — never a vocabulary frame.",
    ),
    (
        "s_ndcg_eval",
        "Rank-aware ANN eval: composes the brute-force broadcast scan and "
        "the IVF probe, discount weights as literal array lookups, one "
        "per-query agg.",
    ),
    (
        "p_randomized_response",
        "Local-DP release: K-row type dictionary broadcast twice (index "
        "draw + debias), events side map-only + two combinable counts — "
        "the corpus never broadcasts.",
    ),
    (
        "s_embedding_drift",
        "Cohort PSI over IVF cells: shared decimal-exact cell assignment, "
        "one combinable conditional count per cell, 1-row totals broadcast "
        "— nested loops are scalar crosses only.",
    ),
    (
        "g_hits",
        "Integer-lattice HITS: per round two hash joins + two map-side-"
        "combinable sums + two 1-row normalizer broadcasts; no window, no "
        "float reduction anywhere.",
    ),
    (
        "w_acf_pacf",
        "ACF/PACF: the Ljung-Box 5-lag window pass + one combinable agg, "
        "then the Durbin-Levinson levels as pure map-side column math — "
        "nothing shuffles after the moments.",
    ),
    (
        "mm_wav_band_energy",
        "Goertzel band energies through the real WAV round trip: one "
        "Arrow-island pass over repartitioned docs — no join, no window, "
        "no shuffle after the repartition.",
    ),
    (
        "w_ets_damped",
        "Damped-trend ETS: one aggregate-HOF fold per series — no window, no "
        "join; the recurrence is codegen'd integer arithmetic.",
    ),
    (
        "mm_phash_near_dup",
        "DCT pHash near-dup over the real JPEG path: hash frame "
        "localCheckpointed so the codec islands run once; candidates form "
        "only inside (band, value) buckets under a per-bucket rank window.",
    ),
    (
        "w_kpss_stat",
        "KPSS stationarity: quantized-BIGINT window cumsum (order-"
        "independent), one combinable two-moment agg; nullif-guarded eta.",
    ),
    (
        "w_hurst_rs",
        "Rescaled-range R/S: 3-row scale table crossed broadcast "
        "(unconditioned BNLJ), per-(series, scale, chunk) windows, chunk "
        "counts shrink 32-128x before the final agg.",
    ),
    (
        "w_perm_census",
        "Ordinal-pattern census: two lead windows per series, combinable "
        "count, 8-row-per-series share window — integer comparisons only.",
    ),
    (
        "a_harmonic_regression",
        "Harmonic OLS: constant-folded literal trig lookups (no dim join), "
        "one combinable 10-moment agg, Cramer solve as pure column math — "
        "join-free, window-free.",
    ),
    (
        "w_seasonal_strength",
        "STL-lite strengths: decimal-quantized 25h moving-average window, "
        "24-row-per-series seasonal agg joined back shuffle-hash, one "
        "combinable 6-moment agg.",
    ),
    (
        "a_crps_ensemble",
        "CRPS of the 7-lag ensemble: seven lag windows per series + one "
        "combinable agg — the 28 |.|-term row expression is codegen'd, no "
        "explode, no join.",
    ),
    (
        "g_resource_alloc",
        "Resource-Allocation link prediction: degree-capped wedge equi-joins "
        "(volume <= cap*m), anti join for the non-edge filter, decimal-exact "
        "contribution sum.",
    ),
    (
        "t_ttr_hapax",
        "Lexical diversity: map-only per-doc HOF arithmetic — the plan must "
        "show zero exchanges.",
    ),
    (
        "t_winnowing_fp",
        "Winnowing fingerprints: staged HOF chain behind a localCheckpoint "
        "barrier (generator re-expansion pathology), bucket join with rank "
        "cap, two count joins.",
    ),
    (
        "s_random_projection",
        "JL Rademacher probe: literal sign-matrix projection is map-only; "
        "the comparison joins are 1-to-1 equi on adjacent ids.",
    ),
    (
        "d_cdc_chunks",
        "Content-defined chunking: per-doc HOF boundary/hash pass behind the "
        "pre-explode barrier, then one combinable group-by-chunk-hash.",
    ),
    (
        "stream_ewma_control",
        "Streaming EWMA control chart (post-replay compaction shown): the "
        "stateful fold keeps five scalars per user; the batch finisher is "
        "one combinable struct-max per user.",
    ),
    (
        "stream_join_attrib",
        "Stream-stream attribution join, bench cost row #1 (post-replay sink "
        "read shown; the streaming plan carries EventTimeWatermark on BOTH "
        "sides and a two-way-bounded interval — asserted in "
        "tests/test_plans.py::test_stream_attribution_join_state_is_bounded). "
        "SCALING.md shows it FLAT across x10 SF steps: a fixed streaming-"
        "machinery floor, not a data-dependent cost.",
    ),
    (
        "d_cc_clusters",
        "BSP connected components, bench cost row #4: per round one hash "
        "join + one combinable min-agg, pointer jumping halves the diameter, "
        "localCheckpoint truncates lineage — log-diameter rounds total.",
    ),
    (
        "stream_upsert_sink",
        "CDC upsert sink, bench cost row #11: final compacted state table — "
        "the scan keeps the bucket partition column (hive layout), which is "
        "the per-batch partition-pruning contract; per-batch merge is "
        "map-side pre-compaction + keep-latest struct-max.",
    ),
    (
        "g_bfs_hops",
        "r13 traversal member of the graph family: the returned frame is the "
        "final assigned checkpoint, so the visible plan is flat scan+union — "
        "the per-round frontier⋈edges hash join + combinable min + anti join "
        "all ran eagerly behind localCheckpoint barriers (the PageRank "
        "lineage discipline; per-round shape pinned in tests).",
    ),
    (
        "w_spectral_peak_share",
        "r13 spectral concentration: ONE shuffle-hash mean join + ONE "
        "combinable 12-moment aggregate; the six harmonics' trig lookups are "
        "constant-folded array element_at's inside WholeStageCodegen — no "
        "libm, no extra shuffle vs the 2-moment w_dft_power.",
    ),
    (
        "stream_zjoin_incidents",
        "r14 two-sided stream-stream z-join (post-replay sink read shown; "
        "the streaming plan carries EventTimeWatermark on BOTH sides and "
        "bounds p_ts - e_ts in BOTH directions — the band straddles zero, "
        "so BOTH inequalities are load-bearing for state eviction; asserted "
        "in tests/test_plans.py::test_stream_zjoin_state_is_bounded_both_"
        "directions).",
    ),
    (
        "a_quantile_sketch",
        "r14 deterministic mergeable quantile sketch: Catalyst rewrites the "
        "rank filter into a map-side WindowGroupLimit Partial that caps "
        "each task at k=256 rows per group BEFORE the single hash exchange "
        "(the combiner, all-JVM), so the finishing windows order only "
        "O(k·tasks) survivors — never the corpus; the exact n side is one "
        "combinable count broadcast back.",
    ),
    (
        "mm_gif_motion_energy",
        "r14 GIF twin of the motion-energy island: scan → repartition to "
        "all cores → ONE MapInPandas (encode GIF89a, decode, diff² reduce "
        "to one row per media) — payloads never leave the executor, no "
        "shuffle after the spread.",
    ),
]


def main() -> None:
    from pyspark.sql import DataFrame

    import __spark_entry__ as entry_mod
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.session import (
        get_spark,
    )

    spark = get_spark("explain_dump")
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    qs = entry_mod.queries()

    sections = [
        "# EXPLAIN — formatted physical plans for the flagship queries",
        "",
        "Generated by `tools/explain_dump.py` at sf0.001 (plan shape is",
        "SF-independent). The scale properties asserted in `tests/test_plans.py`",
        "are visible here directly.",
        "",
    ]
    for name, note in PICKS:
        df: DataFrame = qs[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(mode)
        # keep the operator tree + scan details; drop the (long) per-node
        # column listings beyond a sane cap
        lines = plan.splitlines()
        if len(lines) > 120:
            lines = lines[:120] + [f"... (+{len(plan.splitlines()) - 120} detail lines)"]
        sections += [f"## `{name}`", "", note, "", "```", *lines, "```", ""]
    out = "\n".join(sections)
    path = sys.argv[1] if len(sys.argv) > 1 else "EXPLAIN.md"
    with open(path, "w") as f:
        f.write(out)
    print(f"wrote {path} ({len(out)} chars)")


if __name__ == "__main__":
    main()
