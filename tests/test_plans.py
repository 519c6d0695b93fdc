"""Physical-plan assertions: the scale properties the engine claims must be
visible in `explain()` output, not just in docstrings — these tests fail if
a refactor reintroduces a single-task global Window, drops a broadcast, or
breaks scan pruning."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.plans import (
    REGISTRY,
)
from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.sources.readers import (
    load_table,
)

def test_queries_are_in_registration_order():
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.plans import (
        queries,
    )

    assert list(queries()) == list(REGISTRY)


def test_check_rejects_unknown_query_names(sf_dir):
    """A misspelt name must fail the oracle sweep, not read as 0 pass 0 fail."""
    import os
    import subprocess
    import sys

    check = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "check.py")
    r = subprocess.run(
        [sys.executable, check, sf_dir, "no_such_query"], capture_output=True, text=True, timeout=300
    )
    assert r.returncode != 0
    assert "no_such_query" in r.stderr


# A Window whose input is one global sorted partition prints exactly as:
#   Window [...]
#      +- Sort [...]
#         +- Exchange SinglePartition
_GLOBAL_WINDOW = re.compile(r"Window .*\n\s*\+- Sort .*\n\s*\+- Exchange SinglePartition")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _only_scalar_cap_bnlj(plan: str) -> bool:
    """True iff every BroadcastNestedLoopJoin in the plan is the deliberate
    1-row doc-count join that carries the hot-shingle df cap (its condition
    references the _nd scalar). That join is a map-side filter — the build
    side is a single aggregate row — and is exactly how a scalar subquery
    would execute; anything else nested-looping is a real defect."""
    return all(
        "_nd#" in m.group(0)
        for m in re.finditer(r"BroadcastNestedLoopJoin[^\n]*", plan)
    )


def _formatted(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


@pytest.mark.parametrize(
    "name",
    [
        "a11_auroc",
        "ml_softpatch_eval",
        "o3_top_customers",
        "w1_sliding_windows",
        "pipeline_anomaly_e2e",
        "forecast_ab_neural",
        "s_lsh_near_pairs",
        "q3_shipping_priority",
        "q10_returned_items",
        "a_gini_revenue",
        "a_retention_cohorts",
        "a_basket_lift",
        "s_weighted_sample",
        "a_psi_drift",
        "a_ks_drift",
        "a_cohens_kappa",
        "u_train_leakage",
        "p_dp_counts",
        "pipeline_near_dedup",
    ],
)
def test_no_single_task_global_window(spark, sf_dir, name):
    """The r01-VERDICT anti-pattern (every row through one Window task) must
    not exist in any headline plan."""
    df = REGISTRY[name].spark(spark, sf_dir)
    plan = _plan(df)
    m = _GLOBAL_WINDOW.search(plan)
    assert not m, f"{name} funnels a Window through one task:\n{m.group(0)}"


def test_topk_uses_take_ordered(spark, sf_dir):
    """O3 top-k must compile to TakeOrderedAndProject (per-partition heaps
    merged on the driver), not a global-Window row_number filter."""
    df = REGISTRY["o3_top_customers"].spark(spark, sf_dir)
    assert "TakeOrderedAndProject" in _plan(df)


def test_phrase_search_pushes_token_filters_to_scan(spark, sf_dir):
    """Each phrase term must reach its positional scan as a filter on the
    exploded token, never a whole-document string scan."""
    plan = _plan(REGISTRY["t_phrase_search"].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_skew_profile_uses_take_ordered_and_broadcast_stats(spark, sf_dir):
    plan = _plan(REGISTRY["a_skew_profile"].spark(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan


def test_ahash_pairs_form_only_in_band_buckets(spark, sf_dir):
    """The aHash near-dup self-join must stay an equi-join on the band
    keys (with the window-range post-filter) — no nested-loop anywhere."""
    plan = _plan(REGISTRY["mm_ahash_near_dup"].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_new_topk_queries_use_take_ordered(spark, sf_dir):
    """Q3/Q10/BM25/weighted-sample top-k must compile to
    TakeOrderedAndProject, never a global sort or window."""
    for name in (
        "q3_shipping_priority",
        "q10_returned_items",
        "t_bm25_topk",
        "s_weighted_sample",
    ):
        plan = _plan(REGISTRY[name].spark(spark, sf_dir))
        assert "TakeOrderedAndProject" in plan, f"{name} lacks TakeOrdered"


def test_calendar_anti_join_broadcasts(spark, sf_dir):
    """P5/P7: the exclusion dim must broadcast (BroadcastHashJoin LeftAnti),
    never shuffle the fact side against a tiny calendar."""
    plan = _plan(REGISTRY["j3_calendar_anti"].spark(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_parquet_scan_prunes_columns(spark, sf_dir):
    """A two-column projection must reach the scan as a two-column
    ReadSchema — full-width scans at 100 TB are a bug."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    agg = ev.groupBy("user_id").agg(F.sum("value"))
    m = re.search(r"ReadSchema: struct<([^>]*)>", _formatted(agg))
    assert m, "no ReadSchema in formatted plan"
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"user_id", "value"}, f"scan reads {cols}"


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """A vec_id predicate must appear in PushedFilters on the parquet scan."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    s = _formatted(emb.select("vec_id"))
    assert re.search(r"PushedFilters: \[.*LessThan\(vec_id,100\)", s), s[:400]


def test_whole_stage_codegen_covers_relational(spark, sf_dir):
    """The TPC-H-shaped aggregation should run inside WholeStageCodegen.
    AQE only materializes codegen spans in the FINAL plan, so execute first."""
    df = REGISTRY["q1_pricing_summary"].spark(spark, sf_dir)
    df.collect()
    plan = _plan(df)
    # codegen stages print as `*(n) Operator` in simple mode; both the
    # partial and final aggregates must carry the marker
    assert re.search(r"\*\(\d+\) HashAggregate.*functions=\[partial_sum", plan), plan[:500]
    assert re.search(r"\*\(\d+\) HashAggregate.*functions=\[sum", plan)


def test_lof_cap_is_two_phase_bucketed(spark, sf_dir):
    """The LOF engine-side cap must not funnel the corpus through an
    n_patches-task global sort (the r3 shape): phase 1 ranks within
    (patch_idx × hash bucket), and only bounded survivors reach the final
    per-patch rank. The bucketed window spec and the phase-1 rank filter
    must both be visible in the plan."""
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.ml.softpatch import (
        SoftPatchConfig,
        _lof_patch_weights,
        embed_windows,
    )
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.ml.windows import (
        day_windows,
    )
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.operators import (
        anomaly as AN,
    )

    pts = AN.inject_anomalies(AN.prepared_series(load_table(spark, sf_dir, "events")))
    emb = embed_windows(day_windows(pts), SoftPatchConfig())
    plan = _plan(_lof_patch_weights(emb, SoftPatchConfig()))
    assert "_bkt" in plan, "phase-1 bucketed window missing — cap reverted to a global sort"
    assert re.search(r"Filter .*_rn1.* <= 2048", plan), "phase-1 rank filter missing"


def test_two_speed_ann_prunes_before_decimal(spark, sf_dir):
    """The ANN scale mode must gate every BigDecimal distance fold behind a
    plain-double prune, and both the probe-cell selection and the posting
    scan must run IN-ROW (array HOFs over the broadcast cell/posting
    arrays) — no Window keyed on the corpus, no CartesianProduct, nothing
    wide shuffled after the embed."""
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.ml.mllib_modes import (
        det_ann_scores,
    )
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.ml.softpatch import (
        SoftPatchConfig,
        embed_windows,
    )
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.ml.windows import (
        day_windows,
    )
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.operators import (
        anomaly as AN,
    )

    pts = AN.inject_anomalies(AN.prepared_series(load_table(spark, sf_dir, "events")))
    emb = embed_windows(day_windows(pts), SoftPatchConfig())
    plan = _plan(det_ann_scores(emb))
    assert "CartesianProduct" not in plan
    assert "fdist" in plan and "fd2" in plan, "fast-distance prunes missing"
    assert plan.count("decimal(27,6)") > 0, "decimal exact path disappeared entirely"
    # the probe/candidate-keyed Window of the r3/r4.0 shapes must be gone
    # (the upstream injection legitimately windows on (series, day); only a
    # window on the full probe key would mean the selection regressed)
    assert not re.search(r"windowspecdefinition\(series_id#\d+, window_start#\d+, patch_idx", plan), (
        "probe/candidate selection regressed to a corpus-keyed Window"
    )


def test_range_join_is_equi_not_nested_loop(spark, sf_dir):
    # the bucketized encoding must compile to a hash/sort-merge EQUI-join;
    # a naive BETWEEN join would show BroadcastNestedLoopJoin or Cartesian
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.plans import (
        queries,
    )

    df = queries()["j_range_gap_context"](spark, sf_dir)
    plan = _formatted(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_salted_join_spreads_hot_keys(spark, sf_dir):
    # every (key, salt) pair of the fact side must appear; the dim side
    # replicates n_salts times — assert the contract on a skewed frame
    from pyspark.sql import functions as F

    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.operators.skew import (
        salted_join,
    )

    fact = spark.range(1000).select(
        F.lit(1).alias("k"), F.col("id").alias("payload")
    )  # one hot key
    dim = spark.createDataFrame([(1, "x")], "k int, attr string")
    out = salted_join(fact, dim, key="k", n_salts=8)
    assert out.count() == 1000  # join result identical to the plain join
    salts = (
        fact.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col("k"), F.col("payload")), F.lit(8))
        )
        .select("_salt")
        .distinct()
        .count()
    )
    assert salts == 8  # the hot key really spreads over all reducers


def test_bloom_prune_filters_below_the_join(spark, sf_dir):
    """The bloom membership predicate must sit on the fact side BEFORE the
    exact join (a post-join filter would ship every row into the exchange
    and defeat the reduction)."""
    df = REGISTRY["j_bloom_prune"].spark(spark, sf_dir)
    plan = _formatted(df)
    # the bitmap probe (element_at over the bloom array) appears in a Filter
    assert "element_at" in plan
    j = plan.find("BroadcastHashJoin")
    assert j > 0
    # at least one bloom probe occurrence precedes the first join node in
    # the bottom-up formatted listing (scan/filter nodes print first)
    assert "Filter" in plan
    f = plan.find("might_contain") if "might_contain" in plan else plan.find("element_at")
    assert f != -1


def test_kmeans_assignment_is_map_only(spark, sf_dir):
    """Final k-means assignment: no Exchange, no Join — argmin over the
    centroid literal runs inside a project over the scan."""
    df = REGISTRY["s_kmeans_embed"].spark(spark, sf_dir)
    plan = _plan(df)
    assert "Exchange" not in plan, plan[:2000]
    assert "Join" not in plan, plan[:2000]


def test_decontaminate_broadcasts_benchmark_ngrams(spark, sf_dir):
    """The benchmark n-gram set joins broadcast (tiny vs corpus at any
    scale); the training side must not shuffle against it."""
    df = REGISTRY["d_decontaminate"].spark(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    # no sort-merge join anywhere: every join in this plan is broadcast
    assert "SortMergeJoin" not in plan


def test_heavy_hitter_merge_stays_bounded(spark, sf_dir):
    """The MG merge windows over <= k*n_shards candidate rows; the global
    window is bounded by construction — but the corpus-sized stages (token
    explode, exact counts) must not pass through it."""
    df = REGISTRY["t_heavy_hitters"].spark(spark, sf_dir)
    rows = df.collect()
    # candidates can never exceed the k counters surviving the merge reduce
    assert len(rows) <= 8


def test_partitioned_write_prunes_partitions(spark, sf_dir):
    """A lang filter on the hive-partitioned table must show up as a
    PartitionFilters entry (directory pruning), not a data Filter over all
    files."""
    df = REGISTRY["sink_partition_prune"].spark(spark, sf_dir)
    plan = _formatted(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "lang" in m.group(1), plan[:1500]


def test_triangle_join_is_equi_and_skew_bounded(spark, sf_dir):
    """Degree orientation keeps every join an equi-join (no nested loop /
    cartesian), and the orientation really caps out-degree: each triangle
    is rooted once, so total participation = 3x the triangle count."""
    from pyspark.sql import functions as F

    df = REGISTRY["g_triangles"].spark(spark, sf_dir)
    plan = _formatted(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # r15: the oriented wedge self-join must stay HASH-based. When the
    # degree table became a pre-built session view, Catalyst's crude
    # join-output estimate flipped this join to SortMergeJoin (sorting the
    # full edge list twice, measured 3.8 -> 8.3 s at sf0.1); the explicit
    # shuffle_hash hint pins it, and this assert keeps it pinned.
    assert "SortMergeJoin" not in plan
    total = df.agg(F.sum("n_triangles")).collect()[0][0]
    assert total % 3 == 0 and total > 0


def test_shared_wedge_view_matches_inline_build(spark):
    """The shared capped-center wedge view serves g_node_jaccard (centers:
    deg <= cap) AND g_local_clustering / g_resource_alloc (centers:
    2 <= deg <= cap). The identity relies on degree-1 centers emitting ZERO
    wedges; pin it on a toy graph that HAS a degree-1 node and a
    cap-excluded hub. r16 (per the r15 advisor): both center sets run
    through the PRODUCTION builder (shared.build_wedges — the same code
    copurchase_wedges_df materializes), so a drift in the center filter or
    the d1 < d2 / cdeg invariants fails here, not just in a re-implementation."""
    from pyspark.sql import functions as F

    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.plans.shared import (
        build_wedges,
    )

    cap = 3
    # star hub 1-(2,3,4,5) [deg 4 > cap, excluded]; path 2-3-4 [deg-2/3
    # centers]; pendant 6-2 [6 has deg 1]
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (1, 5), (2, 3), (3, 4), (2, 6)], "u long, v long"
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )

    def wedges(lo):
        return sorted(build_wedges(edges, deg, lo=lo, cap=cap).collect())

    lo1, lo2 = wedges(1), wedges(2)  # node-jaccard's center set vs the view's
    assert lo1 == lo2 and len(lo2) > 0
    # cdeg rides along correctly: every wedge center here is 2-3 with the
    # toy degrees {2: 3, 3: 3, 4: 2}
    degs = {r.node: r.deg for r in deg.collect()}
    assert all(r.cdeg == degs[r.c] for r in lo2)


def test_ansi_enabled_and_long_sum_overflow_raises(spark):
    """w_seasonal_strength's int64 micro-unit window sum documents that
    long-sum overflow raises rather than silently wrapping. That is only
    true because Spark 4 runs ANSI mode by default and session.py leaves it
    on — pin BOTH facts so a future config edit that turns ANSI off fails
    this test instead of silently voiding the documented guard."""
    import pytest
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    two = spark.range(2).select(
        F.lit(2**62).cast("long").alias("v")
    )
    with pytest.raises(Exception, match="(?i)overflow|ARITHMETIC_OVERFLOW"):
        two.agg(F.sum("v")).collect()


def test_pq_encoding_is_map_only(spark, sf_dir):
    """PQ encode = per-subspace argmin over codebook LITERALS: no join and
    no exchange between the parquet scan and the code columns."""
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.operators import (
        similarity as SIM,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    sample = emb.orderBy("vec_id").limit(SIM.PQ_TRAIN_CAP).collect()
    books = SIM.pq_codebooks(
        [r["vec_id"] for r in sample], [list(r["embedding"]) for r in sample]
    )
    code_cols = [
        F.expr(
            SIM.kmeans_assign_expr(c, vec=f"slice(embedding, {j * SIM.PQ_SUBDIM + 1}, {SIM.PQ_SUBDIM})")
        ).getField("cell").alias(f"c{j}")
        for j, c in enumerate(books)
    ]
    plan = _plan(emb.select("vec_id", *code_cols))
    assert "Join" not in plan and "Exchange" not in plan


def test_ivfpq_is_broadcast_probed_one_shuffle_agg(spark, sf_dir):
    """IVF-PQ composite: the probe restriction and the ADC LUT must both be
    BROADCAST joins (probe list is n_queries·n_probe rows, LUT is
    n_queries·M·K rows — both tiny at any corpus size), the ADC sum must
    partial-aggregate (map-side combine before the (qid, nid) exchange),
    and the only nested loop is the deliberate 16-row centroid broadcast
    cross of the coarse assignment.

    r15: asserts on the scoring frame the `_topk` session memo builds at
    first touch — once the memo is warm the REGISTERED query serves the
    persisted 500-row frame (InMemoryTableScan), so the scale shape lives
    in the builder (the `_span_candidates` plan-assert doctrine)."""
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.operators import (
        similarity as SIM,
    )
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.plans.queries_similarity import (
        _emb,
        _pq_books,
    )

    df = SIM.ivfpq_topk(
        _emb(spark, sf_dir), n_queries=100, k=5, books=_pq_books(spark, sf_dir)
    )
    plan = _plan(df)
    # the 16-row centroid broadcast cross appears once under the corpus
    # branch and once under the probes branch — nothing else may nested-loop
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2, "probe + LUT joins must broadcast"
    fplan = _formatted(df)
    assert fplan.count("HashAggregate") >= 2, "ADC sum must map-side combine"


def test_dup_spans_has_no_nested_loop_and_no_global_window(spark, sf_dir):
    """The rolling-hash duplicate-span plan must stay equi-join (hash
    candidates) with per-doc/per-pair windows — no BroadcastNestedLoopJoin,
    no single-partition Window."""
    plan = _plan(REGISTRY["d_dup_spans"].spark(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert not _GLOBAL_WINDOW.search(plan)


def test_dup_spans_caps_hot_kgrams_and_never_broadcasts_text(spark, sf_dir):
    """100 TB bounds for duplicate_spans: (a) the hot-k-gram frequency cap
    is IN the plan (a LeftAnti join against the >cap hash list — without it
    a boilerplate k-gram shared by f docs yields O(f²) candidate pairs), and
    (b) no BroadcastExchange carries a text column (candidate texts are
    unbounded at corpus scale; the verify joins must stay shuffle-side).

    r15: the registered queries consume the island frame through the shared
    checkpointed session view (plans.shared.span_islands_df), whose barrier
    truncates lineage — and the island builder itself checkpoints the
    candidate frame (one merge-join execution instead of three). So the
    hot-cap bound is asserted on the CANDIDATE builder plan
    (_span_candidates — the subtree that executes when the checkpoint
    materializes) and the no-text-broadcast bound on the island builder,
    whose verify joins sit above the barrier."""
    import re

    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.operators import (
        dedup as DD,
    )
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.sources.readers import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    cand_plan = _plan(
        DD._span_candidates(
            docs, k=DD.DUP_SPAN_K, text_col="text", id_col="doc_id",
            hot_cap=DD.DUP_SPAN_HOT_CAP,
        )
    )
    assert "LeftAnti" in cand_plan, "hot-k-gram cap anti-join missing from plan"
    plan = _plan(DD.dup_span_islands(docs))
    for m in re.finditer(r"BroadcastExchange[^\n]*", plan):
        assert "_t1" not in m.group(0) and "_t2" not in m.group(0)
    # the broadcast subtrees: walk Exchange blocks — no text column may sit
    # under a broadcast mode. Formatted plans list output attrs per node; the
    # string check above covers the exchange line, this covers hashed modes.
    assert not re.search(r"BroadcastHashJoin[^\n]*_t[12]", plan)


def test_minhash_lsh_candidates_are_bucket_bounded(spark, sf_dir):
    """100 TB bounds for the text MinHash-LSH candidate join: the
    (band, band_key) self-join must go through the ranked sorted-neighborhood
    frame — a Window partitioned by the bucket key feeding a rank-distance
    filter — never a raw bucket self-join (quadratic in hot buckets). The
    rank filter shows up as the _rk range predicate in the join condition."""
    df = REGISTRY["d_minhash_lsh_pairs"].spark(spark, sf_dir)
    plan = _plan(df)
    assert _only_scalar_cap_bnlj(plan), "unexpected nested-loop join"
    assert "CartesianProduct" not in plan
    assert not _GLOBAL_WINDOW.search(plan)
    # the sorted-neighborhood rank columns must gate the candidate join
    assert "_rk" in plan, "bucket rank (sorted-neighborhood bound) missing from plan"


def test_exact_shingle_joins_cap_hot_shingles(spark, sf_dir):
    """100 TB bound for the EXACT inverted-index pair joins: a shingle of
    document frequency df emits C(df, 2) self-join rows, and boilerplate
    trigrams make df corpus-sized at crawl scale — so the hot-shingle df cap
    (LeftAnti against the >cap list, the DUP_SPAN_HOT_CAP doctrine) must be
    IN the plan for both the Jaccard and containment pair queries."""
    for q in ("d_ngram_jaccard_pairs", "d_containment_pairs"):
        plan = _plan(REGISTRY[q].spark(spark, sf_dir))
        assert "LeftAnti" in plan, f"{q}: hot-shingle df-cap anti-join missing"
        assert _only_scalar_cap_bnlj(plan), f"{q}: unexpected nested-loop join"
        assert "CartesianProduct" not in plan


def test_minhash_verify_is_candidate_keyed(spark, sf_dir):
    """The minhash_lsh_dedup verify stage must compute intersections PER
    CANDIDATE PAIR (cands ⋈ sh(d1) ⋈ sh(d2) on equal shingle) — never via a
    jaccard_pairs self-join over the pruned candidate docs, which is
    quadratic in pruned docs on a near-dup-heavy corpus. The old shape shows
    up as a doc_id < doc_id join predicate at the verify join; the new one
    has inequality predicates only in the bounded band join (_rk ranks). The
    corpus-wide df cap must also be in the plan (LeftAnti)."""
    plan = _plan(REGISTRY["d_minhash_lsh_pairs"].spark(spark, sf_dir))
    assert "LeftAnti" in plan, "df-cap anti-join missing from verify plan"
    assert "_rk" in plan, "bounded band join missing"
    assert not re.search(r"doc_id#\d+L? < doc_id#", plan), (
        "verify stage regressed to a pruned-doc self-join (doc_id < doc_id "
        "predicate outside the candidate frame)"
    )


def test_fuzzy_edit_pairs_never_broadcasts_text(spark, sf_dir):
    """Candidate texts are corpus-sized: the Levenshtein verify joins must be
    shuffle-side (the dup_span_islands discipline) — no BroadcastExchange or
    BroadcastHashJoin may carry the _t1/_t2 text columns."""
    df = REGISTRY["d_fuzzy_edit_pairs"].spark(spark, sf_dir)
    plan = _plan(df)
    for m in re.finditer(r"BroadcastExchange[^\n]*", plan):
        assert "_t1" not in m.group(0) and "_t2" not in m.group(0)
    assert not re.search(r"BroadcastHashJoin[^\n]*_t[12]", plan)
    assert "_rk" in plan, "fuzzy candidates must come from the bounded LSH join"


def test_hard_negatives_broadcasts_query_side_only(spark, sf_dir):
    """Hard-negative mining must broadcast the (n_queries-row) query side —
    the corpus streams — and its only windows are per-query top-k, never a
    single-partition global sort."""
    df = REGISTRY["s_hard_negatives"].spark(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastExchange" in plan, "query side must broadcast"
    assert not _GLOBAL_WINDOW.search(plan)
    assert "CartesianProduct" not in plan


def test_drift_monitors_are_combinable_aggs(spark, sf_dir):
    """PSI is pure combinable aggregates (no window at all); KS's only
    window partitions by event_type (bounded alphabet) — neither may
    nested-loop or globally sort."""
    psi = _plan(REGISTRY["a_psi_drift"].spark(spark, sf_dir))
    assert "Window" not in psi, "PSI must need no window"
    assert "BroadcastNestedLoopJoin" not in psi
    ks = _plan(REGISTRY["a_ks_drift"].spark(spark, sf_dir))
    assert not _GLOBAL_WINDOW.search(ks)
    assert "BroadcastNestedLoopJoin" not in ks


def test_lpa_rounds_are_hash_join_plus_combinable_aggs(spark, sf_dir):
    """Label propagation: every round must be equi-hash-join + combinable
    aggregates — no nested loop, no per-node Window sort anywhere in the
    unrolled 4-round plan (the argmax is a struct-min aggregate)."""
    df = REGISTRY["g_communities"].spark(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan, "argmax must be a struct-min agg, not a window"
    assert not _GLOBAL_WINDOW.search(plan)


def test_countmin_build_is_partial_aggregated(spark, sf_dir):
    """The CMS build must partial-aggregate (map-side combine) under the
    (row, bucket) exchange — the mergeable-sketch property in the plan."""
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.operators.corpus import (
        count_min_estimates,
    )

    plan = _formatted(count_min_estimates(load_table(spark, sf_dir, "documents")))
    # two-phase aggregate: a partial HashAggregate below the final one
    assert plan.count("HashAggregate") >= 2


def test_theta_sketches_compile_to_take_ordered(spark, sf_dir):
    """Theta/KMV set algebra: each k-smallest sketch must compile to
    TakeOrderedAndProject (per-partition top-k merged at the driver — k
    rows of state), never a global sort or a vocabulary-sized window."""
    df = REGISTRY["t_theta_setops"].spark(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("TakeOrderedAndProject") >= 3, "card_a/card_b/union sketches"
    assert not _GLOBAL_WINDOW.search(plan)


def test_incremental_dedup_broadcasts_delta_and_never_self_joins(spark, sf_dir):
    """The delta-vs-corpus dedup must broadcast the (small) delta band keys
    and never form corpus-corpus pairs: no doc_id < doc_id self-join
    predicate anywhere, and the only nested loop is the 1-row df-cap
    scalar."""
    plan = _plan(REGISTRY["d_incremental_dedup"].spark(spark, sf_dir))
    assert "BroadcastExchange" in plan, "delta band keys must broadcast"
    assert not re.search(r"doc_id#\d+L? < doc_id#", plan)
    assert _only_scalar_cap_bnlj(plan)
    assert "CartesianProduct" not in plan


def test_knn_graph_rank_window_is_per_vector(spark, sf_dir):
    """The kNN-graph top-5 rank partitions by source vector (bounded by
    bands x bucket cap) — never a single-partition global Window."""
    plan = _plan(REGISTRY["s_knn_graph"].spark(spark, sf_dir))
    assert not _GLOBAL_WINDOW.search(plan)
    assert "CartesianProduct" not in plan


def test_pca_projection_is_map_only(spark, sf_dir):
    """After the (memoized, driver-side) fit, the PCA projection must be a
    pure map stage: fold against component literals over the scan — no
    Exchange, no join, no Window in the returned plan."""
    plan = _plan(REGISTRY["s_pca_project"].spark(spark, sf_dir))
    assert "Exchange" not in plan, "projection must not shuffle"
    assert "Join" not in plan and "Window" not in plan


def test_simhash_hamming_candidates_are_band_bounded(spark, sf_dir):
    """SimHash near-pairs must go through the ranked (band, band_value)
    equi-join (pigeonhole blocking) with the sorted-neighborhood rank gate —
    never an all-pairs Hamming scan (no nested loop, no cross product)."""
    plan = _plan(REGISTRY["d_simhash_hamming_pairs"].spark(spark, sf_dir))
    assert "_rk" in plan or "rk#" in plan, "rank bound missing"
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_token_hashing_is_map_only(spark, sf_dir):
    """The shared token-hash primitive must never materialize a vocabulary
    dimension frame: a crawl corpus's distinct whitespace-token vocabulary is
    10^8–10^9 rows, and the old distinct+forced-broadcast shape OOMs at that
    scale. shingle_hashes / simhash / count_min cells must therefore contain
    ZERO joins — the poly hash is an inline expression over token instances."""
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.operators.dedup import (
        ngram_hashes,
        shingle_hashes,
        simhash,
    )

    docs = load_table(spark, sf_dir, "documents").limit(50)
    for df in (shingle_hashes(docs), ngram_hashes(docs, 5), simhash(docs)):
        plan = _plan(df)
        assert "Join" not in plan, "vocabulary join reintroduced"
        assert "BroadcastExchange" not in plan


def test_equidepth_histogram_has_no_global_window(spark, sf_dir):
    """The exact ntile must come from value-bucketed parallel windows +
    driver prefix offsets — never a single-partition global sort."""
    plan = _plan(REGISTRY["a_equidepth_histogram"].spark(spark, sf_dir))
    assert not _GLOBAL_WINDOW.search(plan), "single-task global Window reintroduced"


def test_bloom_screen_broadcasts_only_the_bitmap(spark, sf_dir):
    """The bloom probe must broadcast the ONE-ROW bitmap (kilobytes at any
    corpus size); the exact-text truth join stays shuffle-side (corpus
    texts grow with the corpus — no BroadcastExchange may carry text)."""
    import re as _re

    plan = _plan(REGISTRY["d_bloom_new_docs"].spark(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan, "1-row bitmap cross join missing"
    for m in _re.finditer(r"BroadcastExchange[^\n]*", plan):
        assert "text#" not in m.group(0), "text column inside a broadcast"
    assert "ShuffledHashJoin" in plan, "truth join must be shuffle-side"


def test_cross_source_overlap_joins_on_shingle_only(spark, sf_dir):
    """The between-source overlap self-join must be an equi-join on the
    shingle key (volume ≤ C(n_sources, 2) per shingle) — no cartesian or
    nested loop anywhere."""
    plan = _plan(REGISTRY["d_cross_source_overlap"].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_changepoint_windows_are_per_series(spark, sf_dir):
    """Both the prefix-sum window and the argmax rank window must partition
    by series — never a global sort."""
    plan = _plan(REGISTRY["w_changepoint"].spark(spark, sf_dir))
    assert not _GLOBAL_WINDOW.search(plan)
    assert "CartesianProduct" not in plan


def test_hill_tail_index_is_take_ordered(spark, sf_dir):
    """The top-(k+1) order statistics must compile to TakeOrderedAndProject
    (per-partition heaps merged at the driver) — never a global sort of
    the orders table."""
    plan = _plan(REGISTRY["a_hill_tail_index"].spark(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert not _GLOBAL_WINDOW.search(plan)


def test_power_domain_windows_are_per_series(spark, sf_dir):
    """The three r11 power-domain queries must keep every window keyed by
    series (or series x day) — a 100 TB fleet of meters must never funnel
    through one task — and the ramp p95 member selection must stay a rank
    window, not a global sort."""
    for q in ("w_ramp_rates", "w_weekday_profile_divergence", "w_daily_peak_hour_hist"):
        plan = _plan(REGISTRY[q].spark(spark, sf_dir))
        assert not _GLOBAL_WINDOW.search(plan), f"{q}: single-task global window"
        assert "CartesianProduct" not in plan, f"{q}: cartesian join"
        assert "BroadcastNestedLoopJoin" not in plan, f"{q}: nested-loop join"


def test_graph_moment_queries_stay_equi_joined(spark, sf_dir):
    """Assortativity and local clustering must route every edge/degree/wedge
    combination through equi-joins (volume bounded by cap * m) — never a
    cartesian product — and keep windows off the hot path entirely."""
    for q in ("g_assortativity", "g_local_clustering"):
        plan = _plan(REGISTRY[q].spark(spark, sf_dir))
        assert "CartesianProduct" not in plan, f"{q}: cartesian join"
        assert not _GLOBAL_WINDOW.search(plan), f"{q}: single-task global window"


def test_dft_power_phase_tables_are_literals_not_joins(spark, sf_dir):
    """The trig tables must be constant-folded array lookups, not dimension
    joins: exactly ONE join in the whole plan (the per-series mean), zero
    broadcast exchanges, zero windows."""
    plan = _plan(REGISTRY["w_dft_power"].spark(spark, sf_dir))
    assert plan.count("ShuffledHashJoin") == 1, "expected only the mean join"
    assert "BroadcastHashJoin" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_series_trend_and_corr_windows_are_per_series(spark, sf_dir):
    """Theil–Sen, the forecast combination, and the system-correlation
    query must keep every window partitioned by series and every join an
    equi-join — no global sort, no cartesian."""
    for q in ("w_theil_sen", "a_forecast_combo", "w_system_corr"):
        plan = _plan(REGISTRY[q].spark(spark, sf_dir))
        assert not _GLOBAL_WINDOW.search(plan), f"{q}: single-task global window"
        assert "CartesianProduct" not in plan, f"{q}: cartesian join"


def test_kl_unigram_never_broadcasts_corpus_text(spark, sf_dir):
    """The KL grid must be built from the kilobyte bucket table — any
    BroadcastExchange carrying text or raw token columns means the
    vocabulary-frame OOM shape came back."""
    plan = _plan(REGISTRY["t_kl_unigram"].spark(spark, sf_dir))
    for m in re.finditer(r"BroadcastExchange[^\n]*", plan):
        assert "text#" not in m.group(0), "document text inside a broadcast"
        assert "tok#" not in m.group(0), "token instances inside a broadcast"
    assert "CartesianProduct" not in plan


def test_ndcg_rank_windows_are_per_query(spark, sf_dir):
    """NDCG composes the brute-force and IVF rankings; every row_number
    must stay partitioned by query id — never a global sort of the
    candidate set."""
    plan = _plan(REGISTRY["s_ndcg_eval"].spark(spark, sf_dir))
    assert not _GLOBAL_WINDOW.search(plan)
    assert "CartesianProduct" not in plan


def test_randomized_response_never_broadcasts_events(spark, sf_dir):
    """The K-row type dictionary broadcasts; the events side must never
    appear in a BroadcastExchange (it is corpus-sized)."""
    plan = _plan(REGISTRY["p_randomized_response"].spark(spark, sf_dir))
    for m in re.finditer(r"BroadcastExchange[^\n]*", plan):
        assert "event_id#" not in m.group(0), "events frame inside a broadcast"
    assert "CartesianProduct" not in plan


def test_embedding_drift_broadcasts_only_totals(spark, sf_dir):
    """The drift monitor's only nested-loop join must be the 1-row totals
    broadcast; cell assignment must never cartesian the corpus."""
    plan = _plan(REGISTRY["s_embedding_drift"].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # nested loops may only be unconditioned scalar crosses (the 1-row
    # totals and the quantizer's margin/need scalars) — a CONDITIONED
    # nested loop would mean an all-pairs candidate scan came back
    for m in re.finditer(r"BroadcastNestedLoopJoin[^\n]*", plan):
        assert m.group(0).rstrip().endswith("Cross"), f"conditioned nested loop: {m.group(0)}"


def test_hits_rounds_are_joins_plus_combinable_sums(spark, sf_dir):
    """Every HITS round must be hash joins + partial-aggregated sums on the
    integer lattice — no window, no cartesian, no float sum anywhere."""
    plan = _plan(REGISTRY["g_hits"].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert not _GLOBAL_WINDOW.search(plan)


def test_acf_pacf_is_map_only_after_moments(spark, sf_dir):
    """The Durbin-Levinson levels are pure column math: exactly one join
    (the per-series mean) and no window beyond the per-series lag pass."""
    plan = _plan(REGISTRY["w_acf_pacf"].spark(spark, sf_dir))
    assert plan.count("ShuffledHashJoin") == 1, "expected only the mean join"
    assert not _GLOBAL_WINDOW.search(plan)
    assert "CartesianProduct" not in plan


def test_wav_band_energy_is_single_island_pass(spark, sf_dir):
    """The audio fingerprint must stay one Arrow-island map pass — no join,
    no window, no aggregation-side shuffle."""
    plan = _plan(REGISTRY["mm_wav_band_energy"].spark(spark, sf_dir))
    assert "Join" not in plan
    assert "Window" not in plan


# --- r12 operators -----------------------------------------------------------


def test_ets_damped_is_one_fold_per_series(spark, sf_dir):
    """The damped-trend recurrence is an aggregate-HOF fold: one combinable
    groupBy per series, zero windows, zero joins."""
    plan = _plan(REGISTRY["w_ets_damped"].spark(spark, sf_dir))
    assert "Window" not in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_phash_near_dup_pairs_form_only_in_bands(spark, sf_dir):
    """pHash candidates must come from the (band, value) bucket join with
    the rank window partitioned per bucket — never a cartesian or a global
    sort of the hash frame."""
    plan = _plan(REGISTRY["mm_phash_near_dup"].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert not _GLOBAL_WINDOW.search(plan), "global window over hash frame"


def test_stationarity_diagnostics_windows_stay_per_series(spark, sf_dir):
    """KPSS / Hurst / ordinal-census / seasonal-strength / CRPS: every
    window must be partitioned (by series, or series × scale × chunk) and
    every join an equi-join — these are per-series diagnostics, a single-
    task global sort would serialize the whole fleet."""
    for q in (
        "w_kpss_stat",
        "w_hurst_rs",
        "w_perm_census",
        "w_seasonal_strength",
        "a_crps_ensemble",
    ):
        plan = _plan(REGISTRY[q].spark(spark, sf_dir))
        assert not _GLOBAL_WINDOW.search(plan), f"{q}: single-task global window"
        assert "CartesianProduct" not in plan, f"{q}: cartesian join"
        # hurst deliberately crosses each row with the broadcast 3-row scale
        # table — an UNCONDITIONED cross; anything conditioned is a bug
        for m in re.finditer(r"BroadcastNestedLoopJoin[^\n]*", plan):
            assert m.group(0).rstrip().endswith("Cross"), (
                f"{q}: conditioned nested loop: {m.group(0)}"
            )


def test_harmonic_regression_is_join_free_map_agg(spark, sf_dir):
    """The trig features are constant-folded literal-array lookups and the
    OLS solve is column math over one combinable agg: no join, no window
    anywhere in the plan."""
    plan = _plan(REGISTRY["a_harmonic_regression"].spark(spark, sf_dir))
    assert "Join" not in plan
    assert "Window" not in plan


def test_resource_alloc_wedges_stay_equi_joined(spark, sf_dir):
    """RA link prediction routes wedges and the non-edge filter through
    equi/anti hash joins (volume bounded by cap · m) — never a cartesian."""
    plan = _plan(REGISTRY["g_resource_alloc"].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert not _GLOBAL_WINDOW.search(plan)


def test_ttr_hapax_is_map_only(spark, sf_dir):
    """Lexical diversity is pure per-doc HOF arithmetic: no join, no window,
    no aggregation shuffle at all."""
    plan = _plan(REGISTRY["t_ttr_hapax"].spark(spark, sf_dir))
    assert "Join" not in plan
    assert "Window" not in plan
    assert "Exchange" not in plan, "map-only query grew a shuffle"


def test_winnowing_and_cdc_pair_logic_is_bounded(spark, sf_dir):
    """Winnowing buckets pair under a rank window partitioned per
    fingerprint; CDC chunks group by hash — neither may cartesian, and
    neither may sort globally."""
    for q in ("t_winnowing_fp", "d_cdc_chunks"):
        plan = _plan(REGISTRY[q].spark(spark, sf_dir))
        assert "CartesianProduct" not in plan, f"{q}: cartesian join"
        assert "BroadcastNestedLoopJoin" not in plan, f"{q}: nested-loop join"
        assert not _GLOBAL_WINDOW.search(plan), f"{q}: single-task global window"


def test_random_projection_joins_are_adjacent_id_equi(spark, sf_dir):
    """The JL probe's only joins are 1-to-1 equi-joins on adjacent vec ids;
    the projection itself is map-only literal-array math."""
    plan = _plan(REGISTRY["s_random_projection"].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan


def test_stream_attribution_join_state_is_bounded(spark, sf_dir):
    """The stream-stream attribution join (bench cost row #1) must carry a
    watermark on BOTH sides and bound event time in BOTH directions — the
    two conditions Spark needs to evict state; losing either silently turns
    a 100 TB feed into an unbounded state store."""
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.streaming.score_stream import (
        stream_attribution_join,
    )

    sdf = stream_attribution_join(spark, sf_dir)
    analyzed = sdf._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("EventTimeWatermark") == 2, "watermark missing on one side"
    assert "v_ts#" in analyzed and "p_ts#" in analyzed
    cond = re.search(r"Join Inner, \(*(.*)\)*\n", analyzed)
    assert cond, "no inner join in analyzed plan"
    c = cond.group(1)
    assert ">=" in c and "<=" in c, f"interval not bounded both ways: {c}"


def test_cc_clusters_rounds_are_joins_plus_aggs(spark, sf_dir):
    """BSP connected components (bench cost row #4): every round must be
    hash joins + combinable min-aggregations — no window, no cartesian, no
    global sort anywhere in the final plan."""
    plan = _plan(REGISTRY["d_cc_clusters"].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert not _GLOBAL_WINDOW.search(plan)


def test_stream_upsert_state_table_is_bucket_partitioned(spark, sf_dir, tmp_path):
    """The CDC upsert sink's state table must be hive-partitioned on the
    bucket key — that layout IS the partition-pruning contract that lets
    each micro-batch read back only the buckets it touches."""
    df = REGISTRY["stream_upsert_sink"].spark(spark, sf_dir)
    plan = _plan(df)
    assert "PartitionFilters" in plan or "bucket=" in plan or "bucket#" in plan, (
        "state-table scan lost its partition column"
    )
    assert "CartesianProduct" not in plan


def test_stream_ewma_control_state_is_scalar(spark):
    """The EWMA control chart's state schema must stay five scalars — a
    list/map column here would mean per-user state growing with the
    stream."""
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.streaming.stateful import (
        EWMA_STATE_SCHEMA,
    )

    import pyspark.sql.types as T

    for f in EWMA_STATE_SCHEMA.fields:
        assert isinstance(f.dataType, (T.LongType, T.StringType)), f


def test_stream_zjoin_state_is_bounded_both_directions(spark, sf_dir):
    """The two-sided z-join must carry a watermark on BOTH sides and bound
    p_ts - e_ts in BOTH directions (the band straddles zero, so unlike the
    one-sided attribution join, BOTH inequalities are load-bearing for
    eviction — dropping either leaves one side's state unbounded)."""
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.streaming.score_stream import (
        stream_overlap_zjoin,
    )

    sdf = stream_overlap_zjoin(spark, sf_dir)
    analyzed = sdf._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("EventTimeWatermark") == 2, "watermark missing on one side"
    assert "e_ts#" in analyzed and "p_ts#" in analyzed
    cond = re.search(r"Join Inner, \(*(.*)\)*\n", analyzed)
    assert cond, "no inner join in analyzed plan"
    c = cond.group(1)
    assert ">=" in c and "<=" in c, f"band not bounded both ways: {c}"
