"""Distributed scale modes for the memory-bank pipeline.

The parity modes (ml/softpatch.py) mirror the reference's sequential
algorithms (greedy k-center on the driver, exact 1-NN against a broadcast
bank). These modes are the *distributed* alternatives for banks that
outgrow a driver/broadcast — flagged in SURVEY.md §4.2:

- M11 scale mode: a distributed bank subsample replaces greedy k-center.
  Two variants: KMeans(k)‖ cluster centers (JVM-side, seeded but not
  reproducible outside the JVM — pytest-covered), and the deterministic
  seeded-subset bank (cross-engine RNG, fully oracle-verifiable).
- J5/M12 scale mode: an ANN join replaces the broadcast cdist. Two
  variants: BucketedRandomProjectionLSH approxSimilarityJoin (JVM hash
  planes), and the deterministic IVF cell join (:func:`det_ann_scores`) —
  broadcast coarse centroids, one shuffle on cell id, decimal-exact
  distances, reproducible in the numpy mirror.

All operate on the same embedded-patch DataFrame contract
(series_id, window_start, patch_idx, feature ARRAY<DOUBLE>).
"""

from __future__ import annotations

from pyspark.ml.clustering import KMeans
from pyspark.ml.feature import BucketedRandomProjectionLSH
from pyspark.ml.functions import array_to_vector, vector_to_array
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

ANN_BANK_SALT = 61
ANN_N_BANK = 64
ANN_N_LISTS = 8
ANN_N_PROBE = 2

# decimal-exact squared L2 between two ARRAY<DOUBLE> columns: each element
# square is quantized tie-free at 1e-6 then summed exactly (associative ⇒
# partition-independent), matching operators/similarity.py's dist2 form.
_D2Q = (
    "cast(aggregate(zip_with({a}, {b}, (x, c) -> (x - c) * (x - c)), "
    "cast(0 as decimal(38,6)), (acc, v) -> acc + "
    "cast(floor(v * 1000000.0 + 0.5) / 1000000.0 as decimal(27,6))) as double)"
)

# fast double-precision squared L2 — the pruning pass of the two-speed
# pattern (operators/similarity.fdot_expr). Terms are non-negative, so
# |fast − decimal| ≤ dim·(quantization step)/2 + dim·eps·d2
# = dim·5e-7 + ~4e-15·d2; _d2_margin is ≥ 2× that bound, making the
# fast-filtered candidate set a provable superset of every decimal winner.
_F2 = (
    "aggregate(zip_with({a}, {b}, (x, c) -> (x - c) * (x - c)), "
    "cast(0 as double), (acc, v) -> acc + v)"
)


def _d2_margin(fcol: str) -> "F.Column":
    """2× the |fast − decimal| error bound for a squared-L2 fold, as a
    column over the fast value (absolute quantization term + relative fp
    term, both padded well past their analytic bounds)."""
    return F.lit(1e-3) + F.lit(1e-9) * F.greatest(F.col(fcol), F.lit(0.0))


def det_ann_scores(
    embedded: DataFrame,
    n_bank: int = ANN_N_BANK,
    n_lists: int = ANN_N_LISTS,
    n_probe: int = ANN_N_PROBE,
) -> DataFrame:
    """Deterministic distributed ANN window scores (M11+M12 scale mode,
    cross-engine verifiable).

    Bank = the ``n_bank`` patches minimizing the cross-engine RNG draw of
    their (series, day, patch) key — the same FAISS "arbitrary quantizer"
    subsample pattern as operators/similarity.ivf_topk, standing in for
    greedy k-center / KMeans‖ (sampler.py:118-174's own justification is
    that the coreset is an approximation). Scoring = IVF: the first
    ``n_lists`` bank rows are the coarse cells (broadcast — tiny by
    construction); bank rows shuffle once on their nearest cell id; each
    query patch probes its ``n_probe`` nearest cells; min patch distance →
    max over patches (W10), like the exact path but with neither side
    collected and the candidate join bounded by the inverted lists.

    Every distance is decimal-exact and every selection keyed by the
    hash-counter RNG, so the numpy mirror (softpatch_mirror.det_ann_scores_pd)
    reproduces the full approximate plan bit-for-bit — unlike the KMeans‖ /
    JVM-LSH variants below, which are seeded but JVM-internal."""
    skey = F.col("series_id").cast("bigint")
    eday = F.floor(F.unix_timestamp(F.col("window_start")) / 86400).cast("bigint")
    from ..functions.rng import rng_draw

    drawn = embedded.select(
        "series_id",
        "window_start",
        "patch_idx",
        "feature",
        rng_draw(skey, eday, F.col("patch_idx"), salt=ANN_BANK_SALT).alias("_d"),
        skey.alias("_sk"),
        eday.alias("_ed"),
    )
    # TakeOrdered n_bank rows (draw is tie-broken by the unique natural key)
    bank_rows = drawn.orderBy("_d", "_sk", "_ed", "patch_idx").limit(n_bank)
    bank = bank_rows.select(
        F.row_number().over(W.orderBy("_d", "_sk", "_ed", "patch_idx")).alias("bank_id"),
        F.col("feature").alias("bfeat"),
    )
    cells = bank.filter(F.col("bank_id") <= n_lists).select(
        F.col("bank_id").alias("cell"), F.col("bfeat").alias("centroid")
    )
    # inverted lists: each bank row joins its nearest cell (cells broadcast;
    # works at any bank size — the bank itself is never broadcast)
    bcell = (
        bank.crossJoin(F.broadcast(cells))
        .withColumn("cdist", F.expr(_D2Q.format(a="bfeat", b="centroid")))
        .withColumn(
            "crk",
            F.row_number().over(
                W.partitionBy("bank_id").orderBy(F.col("cdist").asc(), F.col("cell").asc())
            ),
        )
        .filter(F.col("crk") == 1)
        .select("cell", "bank_id", "bfeat")
    )
    # Two-speed probe selection, entirely IN-ROW: the cell dim is tiny by
    # construction, so it rides along as a broadcast 1-row array and the
    # whole fast-rank → margin-filter → decimal-rank pipeline runs as array
    # HOFs inside whole-stage codegen — NO shuffle, NO row explosion for
    # probe assignment (the r3 shape windowed an n_lists× exploded corpus).
    # Semantics are identical to the windowed form: fast fold ranks all
    # n_lists cells (struct sort = (fdist, cell) lexicographic), only cells
    # within the error margin of the n_probe-th fast value pay the
    # BigDecimal fold, and any cell outside the margin has decimal cdist
    # strictly above the decimal n_probe-th (|fast − decimal| ≤ margin/2
    # per fold), so the pruned decimal ranking selects the same cells as
    # ranking everything in decimal.
    cells_arr = cells.agg(
        F.array_sort(F.collect_list(F.struct("cell", "centroid"))).alias("_cs")
    )
    f2_cell = _F2.format(a="feature", b="cc.centroid")
    scored = (
        f"transform(_cs, cc -> struct({f2_cell} AS fdist, cc.cell AS cell, "
        "cc.centroid AS centroid))"
    )
    # Index clamped to the cell count: under ANSI mode (Spark 4 default)
    # element_at throws on out-of-range, and a bank yielding fewer than
    # n_probe cells is legal (tiny corpora / degenerate k-means); taking the
    # last cell's fdist then keeps every cell, which is the right semantics.
    kth = (
        "if(size(_scored) = 0, cast(null as double), "
        "element_at(array_sort(transform(_scored, s -> "
        "struct(s.fdist AS fdist, s.cell AS cell))), "
        f"least({n_probe}, size(_scored))).fdist)"
    )
    d2q_cell = (
        "cast(aggregate(zip_with(feature, s.centroid, (x2, c2) -> (x2 - c2) * (x2 - c2)), "
        "cast(0 as decimal(38,6)), (acc2, v2) -> acc2 + "
        "cast(floor(v2 * 1000000.0 + 0.5) / 1000000.0 as decimal(27,6))) as double)"
    )
    sel = (
        "slice(array_sort(transform(filter(_scored, s -> "
        "s.fdist <= _kth + (0.001D + 0.000000001D * greatest(_kth, 0D))), "
        f"s -> struct({d2q_cell} AS cdist, s.cell AS cell))), 1, {n_probe})"
    )
    probes = (
        embedded.crossJoin(F.broadcast(cells_arr))
        .withColumn("_scored", F.expr(scored))
        .withColumn("_kth", F.expr(kth))
        .withColumn("_pc", F.explode(F.expr(sel)))
        .select("series_id", "window_start", "patch_idx", "feature", F.col("_pc.cell").alias("cell"))
    )
    # Inverted lists as per-cell POSTING ARRAYS (the FAISS layout): each
    # cell's bank rows aggregate into one array row, the probe side joins it
    # (plain join — AQE broadcasts while lists are small, co-shuffles if a
    # bank outgrows the threshold), and the whole two-speed 1-NN scan runs
    # IN-ROW: fast fold per posting, array_min, margin filter, decimal fold
    # on the ≈1 survivor. Nothing wide ever shuffles after the embed — the
    # only post-join movement is skinny (key, pd2) rows into two partial
    # aggregations. A posting list is bank/n_lists rows by construction, so
    # the array row is bounded by the bank config, not the corpus.
    plists = bcell.groupBy("cell").agg(
        F.array_sort(F.collect_list(F.struct("bank_id", "bfeat"))).alias("_bl")
    )
    f2_post = _F2.format(a="feature", b="bb.bfeat")
    sc2 = f"transform(_bl, bb -> struct({f2_post} AS fd2, bb.bfeat AS bfeat))"
    d2q_post = (
        "cast(aggregate(zip_with(feature, s.bfeat, (x2, c2) -> (x2 - c2) * (x2 - c2)), "
        "cast(0 as decimal(38,6)), (acc2, v2) -> acc2 + "
        "cast(floor(v2 * 1000000.0 + 0.5) / 1000000.0 as decimal(27,6))) as double)"
    )
    pd2 = (
        "array_min(transform(filter(_sc2, s -> "
        "s.fd2 <= _fmin + (0.001D + 0.000000001D * greatest(_fmin, 0D))), "
        f"s -> {d2q_post}))"
    )
    patch_min = (
        probes.join(plists, "cell")
        .withColumn("_sc2", F.expr(sc2))
        .withColumn("_fmin", F.expr("array_min(transform(_sc2, s -> s.fd2))"))
        .withColumn("pd2", F.expr(pd2))
        .groupBy("series_id", "window_start", "patch_idx")
        .agg(F.min("pd2").alias("pd2"))
    )
    return patch_min.groupBy("series_id", "window_start").agg(
        F.sqrt(F.max("pd2")).alias("score")
    )


def det_ann_scores_np(
    embedded: DataFrame,
    n_bank: int = ANN_N_BANK,
    n_lists: int = ANN_N_LISTS,
    n_probe: int = ANN_N_PROBE,
) -> DataFrame:
    """:func:`det_ann_scores` with the probe + scoring folds in ONE Arrow
    island (r16, guide §4.2 — the s_pca_fit/int64-lattice precedent): same
    bank, same cells, same probe selection, same quantized distances, same
    scores, bit-for-bit.

    The HOF form evaluates ~n_lists fast folds + margin-gated BigDecimal
    folds per patch row in interpreted expression code (aggregate/zip_with
    lambdas never enter whole-stage codegen) — measured ~6 s floor at sf0.1
    with the plan already shuffle-minimal, i.e. all compute. Here the bank
    is selected by the same Spark TakeOrdered over the cross-engine RNG
    draw (one bounded 64-row collect at construction — the s_pca_project
    fit-at-construction pattern; never data-sized), and every per-patch
    distance runs vectorized in numpy using the mirror's exact arithmetic
    (softpatch_mirror._qd2_rows): per-element double square, tie-free
    floor(v·1e6 + 0.5) quantization — exact integer-valued doubles — an
    exact sum (dim · 1e6-scaled squares ≪ 2^53), one correctly-rounded
    /1e6. That IS the value the decimal(27,6) fold + double cast yields, so
    replacing the fold changes no bit (pinned by
    tests/test_mllib_stateful.py::test_det_ann_scores_np_matches_hof).
    Probe cells = stable argsort of the quantized cell distances (ties to
    the lower cell id, the row_number/lexsort order); the two-speed
    margin machinery has no job here — the quantized ranking is computed
    directly at numpy speed, which the margin filter only ever
    approximated conservatively.

    Scale shape: the island maps over the embedded view's partitions
    (only series_id/window_start/feature cross the boundary), emits one
    partial max per (series, window) per batch, and a skinny final
    max-aggregation finishes — the bank rides along as a ~n_bank·dim
    closure constant, never a join side."""
    import numpy as np

    skey = F.col("series_id").cast("bigint")
    eday = F.floor(F.unix_timestamp(F.col("window_start")) / 86400).cast("bigint")
    from ..functions.rng import rng_draw

    drawn = embedded.select(
        "series_id",
        "window_start",
        "patch_idx",
        "feature",
        rng_draw(skey, eday, F.col("patch_idx"), salt=ANN_BANK_SALT).alias("_d"),
        skey.alias("_sk"),
        eday.alias("_ed"),
    )
    bank_rows = (
        drawn.orderBy("_d", "_sk", "_ed", "patch_idx")
        .limit(n_bank)
        .select("feature")
        .collect()
    )
    bank = np.array([r["feature"] for r in bank_rows], dtype=np.float64)
    cells = bank[: min(n_lists, len(bank))]

    def _qd2(X: np.ndarray, C: np.ndarray) -> np.ndarray:
        # (n, dim) vs (m, dim) -> (n, m), the mirror's exact quantized d²
        d = X[:, None, :] - C[None, :, :]
        return np.floor(d * d * 1e6 + 0.5).sum(axis=2) / 1e6

    # bank row -> nearest cell, ties to the first (lowest-id) minimum
    bank_cell = np.argmin(_qd2(bank, cells), axis=1) if len(bank) else np.empty(0, np.int64)
    k_probe = min(n_probe, len(cells))

    def score_batches(batches):
        import numpy as np
        import pandas as pd

        # r16 second pass: the unchunked form allocated a FRESH
        # (batch_rows, n_bank, dim) float64 intermediate per 10k-row Arrow
        # batch (~130 MB) in every one of 32 freshly forked workers — a
        # first-touch page-fault storm on the query's ONE in-bench call
        # (measured: rep0 14.9 s vs rep1+ 1.4 s isolated; 13.4 s in-bench).
        # Same fix as the r15 SoftPatch kernel (ml/softpatch.py): row-chunk
        # to a fixed ~4 MB L2-resident budget and reuse ONE preallocated
        # intermediate across chunks. Every (row, bank-row, dim) cell is
        # computed independently by identical elementwise ops in identical
        # order, so chunking and buffer reuse change no bit.
        budget = 4 * 1024 * 1024
        dbuf = None
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.array([np.asarray(f, dtype=np.float64) for f in pdf["feature"]])
            n, dim = X.shape
            chunk = min(512, max(1, budget // max(1, len(bank) * dim * 8)))
            if (
                dbuf is None
                or dbuf.shape[1] != len(bank)
                or dbuf.shape[2] != dim
                or len(dbuf) < min(chunk, n)
            ):
                dbuf = np.empty((chunk, len(bank), dim))  # bank ⊇ cells
                d2buf = np.empty((chunk, len(bank)))
            d2min = np.empty(n)

            def _qd2_into(xc, C, m):
                # exact quantized d² (the mirror's arithmetic) into the
                # reused buffer: subtract, square, ·1e6, +0.5, floor, sum
                # — elementwise-identical to floor(d·d·1e6 + 0.5).sum()/1e6
                d = dbuf[:m, : len(C)]
                np.subtract(xc[:, None, :], C[None, :, :], out=d)
                np.multiply(d, d, out=d)
                np.multiply(d, 1e6, out=d)
                np.add(d, 0.5, out=d)
                np.floor(d, out=d)
                d2 = d2buf[:m, : len(C)]
                d.sum(axis=2, out=d2)
                np.divide(d2, 1e6, out=d2)
                return d2

            for s in range(0, n, chunk):
                xc = X[s : s + chunk]
                m = len(xc)
                cd = _qd2_into(xc, cells, m)  # (m, n_lists) exact values
                # stable argsort == sort by (cdist, cell id) — lexsort order
                probe = np.argsort(cd, axis=1, kind="stable")[:, :k_probe]
                allowed = (bank_cell[None, None, :] == probe[:, :, None]).any(axis=1)
                D = _qd2_into(xc, bank, m)  # (m, n_bank)
                d2min[s : s + chunk] = np.where(allowed, D, np.inf).min(axis=1)
            # a patch whose probed cells hold no postings drops out, exactly
            # like the HOF form's inner join probes⋈plists (cannot occur
            # unless duplicate centroids empty a cell; kept for parity)
            keep = np.isfinite(d2min)
            part = (
                pd.DataFrame(
                    {
                        "series_id": pdf["series_id"].to_numpy()[keep],
                        "window_start": pdf["window_start"].to_numpy()[keep],
                        "pd2": d2min[keep],
                    }
                )
                .groupby(["series_id", "window_start"], as_index=False)["pd2"]
                .max()
            )
            yield part

    ws_type = embedded.schema["window_start"].dataType.simpleString()
    sid_type = embedded.schema["series_id"].dataType.simpleString()
    partials = embedded.select("series_id", "window_start", "feature").mapInPandas(
        score_batches,
        schema=f"series_id {sid_type}, window_start {ws_type}, pd2 double",
    )
    return partials.groupBy("series_id", "window_start").agg(
        F.sqrt(F.max("pd2")).alias("score")
    )


def kmeans_coreset(embedded: DataFrame, k: int = 256, seed: int = 42) -> DataFrame:
    """M11 scale mode: k cluster centers as the memory bank.

    Returns (center_id, feature ARRAY<DOUBLE>). KMeans|| init, fixed seed —
    deterministic for a fixed partitioning of the input."""
    vecs = embedded.select(array_to_vector(F.col("feature")).alias("features"))
    model = KMeans(k=k, seed=seed, maxIter=10).fit(vecs)
    spark = embedded.sparkSession
    centers = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    return spark.createDataFrame(centers, "center_id int, feature array<double>")


def lsh_nn_join(
    bank: DataFrame, queries: DataFrame, threshold: float = 10.0, bucket_length: float = 1.0
) -> DataFrame:
    """J5/M12 scale mode: approximate NN join query-patches ↔ bank.

    Output: (query cols..., center_id, l2_dist) for pairs within `threshold`;
    downstream takes min(l2_dist) per query key — the ANN analog of the exact
    broadcast scoring. Both sides shuffle on LSH buckets; neither is
    broadcast, so the bank can be arbitrarily large."""
    b = bank.withColumn("features", array_to_vector(F.col("feature")))
    q = queries.withColumn("features", array_to_vector(F.col("feature")))
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=bucket_length, numHashTables=4, seed=42
    )
    model = lsh.fit(b)
    joined = model.approxSimilarityJoin(q, b, threshold, distCol="l2_dist")
    return joined.select(
        F.col("datasetA.series_id").alias("series_id"),
        F.col("datasetA.window_start").alias("window_start"),
        F.col("datasetA.patch_idx").alias("patch_idx"),
        F.col("datasetB.center_id").alias("center_id"),
        F.col("l2_dist"),
    )


def ann_window_scores(embedded: DataFrame, bank: DataFrame, threshold: float = 10.0) -> DataFrame:
    """Window score via the ANN join: min patch distance → max over patches
    (W10), matching the exact pipeline's shape with distributed physops."""
    nn = lsh_nn_join(bank, embedded, threshold=threshold)
    patch_min = nn.groupBy("series_id", "window_start", "patch_idx").agg(
        F.min("l2_dist").alias("patch_score")
    )
    return patch_min.groupBy("series_id", "window_start").agg(
        F.max("patch_score").alias("score")
    )
