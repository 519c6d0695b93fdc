"""Session views: derived intermediates built once per session and shared
by every query that reads them.

The paper's stages pass a chain of intermediates to each other (hourly
series -> prepared grid -> cleaned points -> SoftPatch embedding -> AE and
forecaster weights), and the dedup, similarity and graph families share
corpus-level frames the same way. Each such intermediate is a function
decorated with :func:`session_view`: the first call for an ``sf_dir`` builds
it under the view's lock, later calls return the stored value, and a call
for another ``sf_dir`` evicts the old entries first, so a session holds at
most one scale factor's working set. ``plans.prepare`` warms the views in a
thread pool; the per-view locks are what make concurrent first touches
build once.

Correctness is untouched: every view is a deterministic program of its
inputs, so an oracle compares against identical values whether or not the
view is warm. Spark's CacheManager would not share these on its own,
because each query builds its chain from a fresh ``load_table`` scan (equal
analyzed plans are only reused through an explicitly persisted DataFrame)
and Python-UDF plans do not canonicalize equal.
"""

from __future__ import annotations

import functools
import os
import threading
import time

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from ..operators import timeseries as TSO
from ..sources.readers import load_table

_VIEW_STATS: dict[str, dict[str, float]] = {}


def _release(value: object) -> None:
    """Unpersist an evicted entry: a DataFrame, or each DataFrame member of
    a tuple entry. Other values (codebooks, centroids, weight dicts) hold
    no Spark storage and are simply dropped."""
    for v in value if isinstance(value, tuple) else (value,):
        if isinstance(v, DataFrame):
            v.unpersist(False)


def session_view(build):
    """Make ``build(spark, sf_dir, *args, **hints)`` a session view.

    Entries are keyed on ``(sf_dir, *args)``; keyword arguments are build
    hints (such as a caller's already-persisted input frame) that do not
    change the value, so they are not part of the key. One lock per view
    makes check-build-store atomic: concurrent first touches build once and
    the other callers wait. A call with a new ``sf_dir`` evicts the entries
    of every other ``sf_dir`` before it builds. A build that raises stores
    nothing. Builds and their wall seconds (including any views the build
    touches first) are counted per view; see :func:`view_stats`."""
    name = f"{build.__module__.rsplit('.', 1)[-1]}.{build.__qualname__}"
    lock = threading.Lock()
    entries: dict[tuple, object] = {}
    stats = _VIEW_STATS[name] = {"builds": 0, "build_s": 0.0}

    @functools.wraps(build)
    def view(spark: SparkSession, sf_dir: str, *args, **hints):
        key = (sf_dir, *args)
        with lock:
            if key not in entries:
                for old in [k for k in entries if k[0] != sf_dir]:
                    _release(entries.pop(old))
                t0 = time.perf_counter()
                value = build(spark, sf_dir, *args, **hints)
                stats["build_s"] += time.perf_counter() - t0
                stats["builds"] += 1
                entries[key] = value
            return entries[key]

    return view


def view_stats() -> dict[str, dict[str, float]]:
    """{view name: {"builds": n, "build_s": seconds}} for every session view
    defined in this process, named ``<module>.<function>``."""
    return {n: dict(s) for n, s in _VIEW_STATS.items()}


def view_persist(df: DataFrame) -> DataFrame:
    """Storage policy for every pinned session view: persist at the level
    named by ``SPARK_GRAFT_VIEW_STORAGE`` (default ``MEMORY_AND_DISK_DESER``,
    pyspark's own DataFrame.persist default).

    Worst-case footprint argument (measured: tools/storage_probe.py — all
    22 pinned frames total 275.5 MB at sf0.1 against a 4.6 GB storage
    pool): every pinned view is either (a) AGGREGATE-BOUNDED — series×hours
    grids, node/degree tables, band keys, candidate/CC pair sets capped by
    the sorted-neighborhood bound, codebooks — i.e. orders of magnitude
    below the fact tables they derive from; or (b) stored MEMORY_AND_DISK,
    where Spark's unified memory manager EVICTS storage blocks to disk
    under execution pressure — a pinned view can therefore slow a 100 TB
    session down (eviction thrash), but can never OOM it; no view is
    MEMORY_ONLY and none is required to be resident for correctness. A
    deployment that measures eviction thrash sets
    ``SPARK_GRAFT_VIEW_STORAGE=DISK_ONLY`` (or any pyspark StorageLevel
    name) and every view follows."""
    name = os.environ.get("SPARK_GRAFT_VIEW_STORAGE", "MEMORY_AND_DISK_DESER")
    level = getattr(StorageLevel, name, None)
    if not isinstance(level, StorageLevel):
        allowed = sorted(k for k, v in vars(StorageLevel).items() if isinstance(v, StorageLevel))
        raise ValueError(
            f"SPARK_GRAFT_VIEW_STORAGE={name!r} is not a StorageLevel; "
            f"use one of: {', '.join(allowed)}"
        )
    df.persist(level)
    return df


def events_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


@session_view
def hourly_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted hourly-bucketed series per sf_dir (~rows = series × hours,
    ≪ the event count — cheap to pin)."""
    return view_persist(TSO.hourly_series(events_df(spark, sf_dir)))


@session_view
def prepared_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted prepared (regularized + gap-filled) series per sf_dir,
    built on the hourly view so the bucketing pass is shared too."""
    from ..operators import anomaly as AN

    return view_persist(AN.prepared_series(None, hourly=hourly_df(spark, sf_dir)))


@session_view
def cleaned_points_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted cleaned-series point frame — the full inject → detect →
    impute chain over the prepared grid (deterministic seeded-RNG column
    program, so the view changes nothing any oracle compares).

    `pipeline_anomaly_e2e` and `forecast_ab_neural` both read it; the
    cleaned corpus is a property of the data, not of either query. Row
    count equals the prepared grid's, so the pin is as cheap as
    `prepared_df`'s."""
    from ..operators import anomaly as AN

    return view_persist(AN.cleaned_series(None, prepared=prepared_df(spark, sf_dir)))


@session_view
def shingles_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted hashed-shingle inverted index (doc_id, shingle) for the
    documents table — the natural session-lifetime view of the dedup family
    (the index is a property of the corpus, not of any one query). Without
    it every exact-Jaccard/containment/stats consumer recomputes the
    tokenize→hash→lead-window→distinct chain several times per plan
    (Catalyst does not reuse the exchange across self-join aliases)."""
    from ..operators import dedup as DD

    return view_persist(DD.shingle_hashes(load_table(spark, sf_dir, "documents")))


@session_view
def span_islands_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed duplicate-span island frame over the raw documents
    corpus — (d1, d2, delta, p1s, n_matches), one row per maximal shared
    char run. `d_dup_spans` (detection rollup) and `d_dup_span_removal`
    (text surgery) both start from it, and the rolling-hash + candidate-join
    + verify chain is ~5 s at sf0.1; the pair count is tiny.
    pipeline_span_clean gates the corpus FIRST, so its island frame is a
    different input and deliberately not shared."""
    from ..operators import dedup as DD
    from ..operators.dedup import ckpt_coalesced

    return ckpt_coalesced(DD.dup_span_islands(load_table(spark, sf_dir, "documents")))


@session_view
def copurchase_edges_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted canonical co-purchase edge set: distinct (u < v) part pairs
    sharing an order. The lineitem self-join + dedup shuffle is the dominant
    cost of the triangle query and a natural session-lifetime view — the
    graph is a property of the data, not of any one query."""
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    )
    e = (
        li.alias("a")
        .join(li.alias("b"), "ok")
        .filter(F.col("a.pk") < F.col("b.pk"))
        .select(F.col("a.pk").alias("u"), F.col("b.pk").alias("v"))
        .distinct()
    )
    return view_persist(e)


# One degree cap for every bounded-wedge consumer (g_node_jaccard,
# g_local_clustering, g_resource_alloc) — the queries alias it so their
# oracle texts stay unchanged. A single constant is what makes the wedge
# frame below shareable at all.
WEDGE_CENTER_CAP = 64


@session_view
def copurchase_deg_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted degree table (node, deg) of the co-purchase graph, shared
    by g_node_jaccard, g_assortativity, g_local_clustering,
    g_resource_alloc, g_triangles and g_degree_hist.

    persist(), NOT localCheckpoint: an InMemoryRelation carries accurate
    size stats so consumers still auto-broadcast the node-count-skinny
    table (a checkpointed ExistingRDD has unknown stats — measured flipping
    g_triangles' oriented self-join from BroadcastHashJoin to
    SortMergeJoin, 3.8 s → 8.3 s)."""
    from pyspark.sql import functions as F

    und = copurchase_edges_df(spark, sf_dir)
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return view_persist(deg)


def build_wedges(und: DataFrame, deg: DataFrame, lo: int, cap: int) -> DataFrame:
    """Pure capped-center wedge construction over an undirected (u, v) edge
    frame and its (node, deg) table: one row (c, cdeg, d1, d2) per unordered
    neighbor pair (d1 < d2) around each center with lo <= deg <= cap.

    Factored out of :func:`copurchase_wedges_df` so the
    degree-1-centers-emit-zero-wedges identity test in tests/test_plans.py
    exercises THIS builder — a drift in the center filter or the d1 < d2 /
    cdeg-carry invariants fails the test rather than only a hand-rolled
    copy of it."""
    from pyspark.sql import functions as F

    ctr = deg.filter((F.col("deg") >= lo) & (F.col("deg") <= cap))
    adj = (
        und.join(ctr.withColumnRenamed("node", "u"), "u")
        .select(F.col("u").alias("c"), F.col("deg").alias("cdeg"), F.col("v").alias("n"))
        .unionAll(
            und.join(ctr.withColumnRenamed("node", "v"), "v")
            .select(F.col("v").alias("c"), F.col("deg").alias("cdeg"), F.col("u").alias("n"))
        )
    )
    a, b = adj.alias("a"), adj.alias("b")
    return a.join(
        b, (F.col("a.c") == F.col("b.c")) & (F.col("a.n") < F.col("b.n"))
    ).select(
        F.col("a.c").alias("c"),
        F.col("a.cdeg").alias("cdeg"),
        F.col("a.n").alias("d1"),
        F.col("b.n").alias("d2"),
    )


@session_view
def copurchase_wedges_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted capped-center wedge frame (c, cdeg, d1, d2) — one row per
    unordered neighbor pair (d1 < d2) around each center of degree
    2..WEDGE_CENTER_CAP.

    g_node_jaccard, g_local_clustering and g_resource_alloc all read it
    (two semi-joins + the adjacency self-join — the dominant shuffle of all
    three). Their center sets differ only by degree-1 nodes (g_node_jaccard
    admits them), which emit ZERO wedges (one adjacent row cannot form a
    d1 < d2 pair), so the three wedge multisets are identical and one
    materialization serves all. Carrying the center degree costs one long
    per row and saves g_resource_alloc's join back to the center table.
    Volume is bounded by cap·|E| regardless of hub skew. persist(), not
    checkpoint, for the same stats-preservation reason as
    copurchase_deg_df."""
    wedges = build_wedges(
        copurchase_edges_df(spark, sf_dir),
        copurchase_deg_df(spark, sf_dir),
        lo=2,
        cap=WEDGE_CENTER_CAP,
    )
    return view_persist(wedges)


@session_view
def trading_pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed distinct customer→supplier trading pairs ('c…', 's…'
    prefixed keys) with their line-item count — the orders⋈lineitem
    distinct that BOTH the symmetric bipartite view (PageRank/BFS) and the
    directed HITS graph start from."""
    from pyspark.sql import functions as F

    from ..operators.dedup import ckpt_coalesced

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # groupBy+count instead of distinct — identical (c, s) row set for the
    # same one-shuffle cost (both are a hash aggregation on the pair key),
    # and the line-item count lets g_communities' repeat-business
    # sparsification (pairs with >= 3 line items) filter this view instead
    # of re-running the whole fact join per query.
    pairs = (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("s"),
        )
        .agg(F.count(F.lit(1)).alias("n_li"))
    )
    return ckpt_coalesced(pairs)


@session_view
def bipartite_edges_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed symmetric customer–supplier bipartite edge list (both
    directions of each distinct (custkey, suppkey) trading pair) — the
    edge set PageRank and BFS iterate over.

    Eager checkpoint + scale-adaptive coalesce instead of a bare persist:
    the persisted union kept 64 near-empty partitions at small SF, and every
    graph consumer's setup (degree join, node distinct) paid 64-128 scan
    tasks per job; the consumers are all linear per-round (no wedge
    explosion), so sizing partitions by edge count is safe. See
    dedup.ckpt_coalesced."""
    from pyspark.sql import functions as F

    from ..operators.dedup import ckpt_coalesced

    pairs = trading_pairs_df(spark, sf_dir)
    e = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).union(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    return ckpt_coalesced(e)
