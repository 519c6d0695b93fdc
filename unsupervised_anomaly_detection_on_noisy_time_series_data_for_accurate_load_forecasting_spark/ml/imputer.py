"""Anomaly imputation (reference stage 3) — mask generation, imputation,
splice-back, self-evaluation.

Reference semantics (citations into /root/reference/):
- M16 random contiguous training mask   src/anomaly_imputation/dataset_ai.py:15-25
- M17 LSTM-AE denoising autoencoder     src/anomaly_imputation/autoencoder.py:7-167
- M18 splice: fill masked points only   src/anomaly_imputation/autoencoder.py:187-199

The mask is the deterministic hash-counter RNG (per series-day, contiguous
``mask_size`` hours) so the whole mask→impute→evaluate loop is a pure column
program, mirrored in the DuckDB oracle. The model slot:
- default: **seasonal-profile imputer** — per (series, hour-of-day) exact
  mean over *unmasked* points; fully declarative, oracle-checkable.
- ``ml/neural.py`` hosts the torch LSTM-AE for environments that have torch
  (import-gated); it slots into the same splice contract (M18): output
  replaces masked points only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.exact import dsum
from ..functions.rng import rng_uniform
from ..operators.timeseries import SID, TS, VAL

MASK_SALT = 23
MASK_SIZE = 4  # hours; = reference's patch-sized mask (pipeline.py:261)


def with_training_mask(series: DataFrame, mask_size: int = MASK_SIZE) -> DataFrame:
    """M16: one contiguous mask of `mask_size` hours per series-day, start
    drawn from the deterministic RNG. mask=1 → hidden from the model."""
    skey = F.col(SID).cast("bigint")
    eday = F.floor(F.unix_timestamp(F.col(TS)) / 86400)
    h = F.hour(F.col(TS))
    start = F.floor(rng_uniform(skey, eday, salt=MASK_SALT) * (24 - mask_size)).cast("int")
    return series.withColumn(
        "mask", ((h >= start) & (h < start + mask_size)).cast("int")
    )


def profile_impute(masked: DataFrame) -> DataFrame:
    """Seasonal-profile model + M18 splice: masked points get the per
    (series, hour-of-day) exact mean of unmasked points; unmasked points pass
    through. One shuffle on (series, hod)."""
    hod = F.hour(F.col(TS))
    w = W.partitionBy(SID, hod)
    from ..functions.exact import dec

    prof_sum = F.sum(F.when(F.col("mask") == 0, dec(VAL))).over(w)
    prof_n = F.sum(F.when(F.col("mask") == 0, F.lit(1)).otherwise(F.lit(0))).over(w)
    profile = prof_sum.cast("double") / prof_n.cast("double")
    return masked.withColumn(
        "imputed", F.when(F.col("mask") == 1, profile).otherwise(F.col(VAL))
    )


def knn_impute_series(v, k: int = 3, day_size: int = 24):
    """M6 kernel: fill NaNs in one series' hourly vector from the k nearest
    day-windows by nan-euclidean distance (reference:
    fill_missing_values.py:6-11, sklearn KNNImputer semantics in numpy).
    Shared by the Spark island AND the oracle mirror — the sequential
    day loop (earlier imputations feed later donors) is part of the spec.
    Returns the imputed copy; caller derives was_null from the input."""
    import numpy as np

    v = np.asarray(v, dtype=float).copy()
    n_days = len(v) // day_size
    if n_days >= 2:
        mat = v[: n_days * day_size].reshape(n_days, day_size)
        nanmask = np.isnan(mat)
        gap_days = np.where(nanmask.any(axis=1))[0]
        if gap_days.size:
            # The sequential fill only WRITES originally-NaN slots, while a
            # pair's distance only READS slots where BOTH days are
            # originally non-NaN — so the full pairwise nan-euclidean
            # distance matrix is invariant to the fill order and computes
            # ONCE as three rank-day_size matmuls (Σ shared (a-b)² =
            # Σ a²m_am_b + Σ b²m_bm_a − 2Σ ab·m_am_b) instead of one
            # (n_days × day_size) broadcast pass per gap day — the per-gap
            # loop was the dominant kernel cost (r7 verdict: 9.1 s, ×4.6 on
            # a ×10 step). Donor VALUES still read the mutating matrix in
            # day order, preserving the earlier-imputations-feed-later-
            # donors semantics the mirror pins.
            # CONTRACT: donor selection is DEFINED by this expanded-form
            # distance (sq + sq.T - 2ab, clamped at 0). The expansion can
            # cancel catastrophically for near-identical large-magnitude
            # days, so near-tie donor ORDER may differ from a direct
            # (a-b)² evaluation (and from sklearn KNNImputer); both engines
            # share this kernel, so the spec — not float luck — pins ties.
            valid = (~nanmask).astype(np.float64)
            xm = np.where(nanmask, 0.0, mat)
            cnt = valid @ valid.T
            sq = (xm * xm) @ valid.T
            d2 = sq + sq.T - 2.0 * (xm @ xm.T)
            with np.errstate(invalid="ignore"):
                dist = np.sqrt(
                    np.maximum(d2, 0.0) * day_size / np.maximum(cnt, 1)
                )
            np.fill_diagonal(dist, np.inf)
            dist[cnt == 0] = np.inf
            orders = np.argsort(dist[gap_days], axis=1, kind="stable")[:, :k]
            for d, order in zip(gap_days, orders):
                donors = mat[order]
                # A slot where every donor is NaN stays NaN. Zero-filling
                # it first keeps nanmean from warning "Mean of empty slice"
                # (warnings.catch_warnings is not thread-safe); the other
                # slots' means are unchanged.
                empty = np.isnan(donors).all(axis=0)
                fill = np.nanmean(np.where(empty, 0.0, donors), axis=0)
                idx = np.where(nanmask[d] & ~empty)[0]
                mat[d, idx] = fill[idx]
        v[: n_days * day_size] = mat.reshape(-1)
    return v


def knn_impute_days(series: DataFrame, k: int = 3, day_size: int = 24) -> DataFrame:
    """M6: remaining NULLs filled via :func:`knn_impute_series`, one packed
    row per series through a mapInPandas island.

    Scale shape: the only shuffle is the per-series ``collect_list`` — the
    day matrix is assembled ENGINE-side (sorted struct collect → plain
    arrays), so the Arrow boundary transfers one array row per series
    instead of one row per point. The grouped-pandas per-row path was the
    dominant cost of the previous applyInPandas shape (~60 % of the
    island's wall at sf0.1 was row plumbing, not kernel); array columns
    move the same bytes in three vectors. Timestamps cross as epoch longs
    (the kernel needs ordering, not calendar types) and the imputed points
    are exploded back to rows JVM-side. A series-year is ≈ 365×24 doubles
    ≈ 70 KB per row — bounded by series length, not corpus size; 100 TB =
    many series, not big groups."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("series_id", T.StringType()),
            T.StructField("tsls", T.ArrayType(T.LongType())),
            T.StructField("vals", T.ArrayType(T.DoubleType())),
            T.StructField("wn", T.ArrayType(T.IntegerType())),
        ]
    )

    # NULL (grid gap) → NaN so the vector survives list<double> intact; the
    # kernel treats NaN as missing, matching the old to_numpy(dtype=float).
    val_nan = F.when(F.col(VAL).isNull(), F.lit(float("nan"))).otherwise(F.col(VAL))
    packed = (
        series.select(SID, F.unix_timestamp(F.col(TS)).alias("tsl"), val_nan.alias("v"))
        .groupBy(SID)
        .agg(F.array_sort(F.collect_list(F.struct("tsl", "v"))).alias("pts"))
        .select(
            SID,
            F.expr("transform(pts, s -> s.tsl)").alias("tsls"),
            F.expr("transform(pts, s -> s.v)").alias("vals"),
        )
    )

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            sids, tsls_o, vals_o, wn_o = [], [], [], []
            for sid, tsls, vals in zip(pdf["series_id"], pdf["tsls"], pdf["vals"]):
                v = np.asarray(vals, dtype=float)
                wn_o.append(np.isnan(v).astype("int32"))
                vals_o.append(knn_impute_series(v, k=k, day_size=day_size))
                tsls_o.append(np.asarray(tsls, dtype="int64"))
                sids.append(sid)
            yield pd.DataFrame(
                {"series_id": sids, "tsls": tsls_o, "vals": vals_o, "wn": wn_o}
            )

    packed_out = packed.mapInPandas(gen, schema=out_schema)
    z = F.explode(F.arrays_zip("tsls", "vals", "wn"))
    return (
        packed_out.select(SID, z.alias("z"))
        .select(
            SID,
            F.timestamp_seconds(F.col("z.tsls")).alias(TS),
            # still-missing points come back as NaN in the array; restore
            # NULL, which is what the row path produced via pandas→Arrow
            F.when(F.isnan(F.col("z.vals")), F.lit(None).cast("double"))
            .otherwise(F.col("z.vals"))
            .alias(VAL),
            F.col("z.wn").alias("was_null"),
        )
    )


def knn_impute_day_stats(series: DataFrame, k: int = 3, day_size: int = 24) -> DataFrame:
    """M6 rollup form of :func:`knn_impute_days`: the registry consumer
    (m6_knn_impute) only reads per-series AGGREGATES of the imputed grid, so
    the island emits them directly — (n, n_was_null, n_still_null, and the
    exact micro-unit sum of the filled values) as four scalars per series —
    instead of shipping every imputed point back through Arrow, exploding it
    to rows and re-shuffling the full grid into a decimal aggregation
    (guide §2.3: aggregate before you shuffle; the explode+groupBy path
    re-shuffled ~n_points rows to produce n_series rows).

    Arithmetic contract (bit-identical to the explode path's
    ``qround(dsum(coalesce(value, 0)), 6)``): dsum quantizes each double as
    ``floor(v*1e6 + 0.5)`` onto the exact decimal lattice, so the decimal
    sum IS the int64 micro-unit sum computed here (identical IEEE multiply/
    add/floor per element, associative integer addition); the final
    ``s_micro / 1e6`` long-by-double division is the same single rounding
    qround's ``floor(..)/1e6`` performs (the double product ``S*1e6`` sits
    within 0.5 of the integer for |S_micro| < ~2^52, so the floor recovers
    it exactly — the same bound qround itself documents). NaNs (grid gaps
    the kernel could not fill) contribute floor(0.5) = 0, exactly like
    ``coalesce(value, 0.0)``."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("series_id", T.StringType()),
            T.StructField("n", T.LongType()),
            T.StructField("n_was_null", T.LongType()),
            T.StructField("n_still_null", T.LongType()),
            T.StructField("s_micro", T.LongType()),
        ]
    )

    val_nan = F.when(F.col(VAL).isNull(), F.lit(float("nan"))).otherwise(F.col(VAL))
    packed = (
        series.select(SID, F.unix_timestamp(F.col(TS)).alias("tsl"), val_nan.alias("v"))
        .groupBy(SID)
        .agg(F.array_sort(F.collect_list(F.struct("tsl", "v"))).alias("pts"))
        .select(SID, F.expr("transform(pts, s -> s.v)").alias("vals"))
    )

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            sids, ns, nwn, nsn, sm = [], [], [], [], []
            for sid, vals in zip(pdf["series_id"], pdf["vals"]):
                v = np.asarray(vals, dtype=float)
                imputed = knn_impute_series(v, k=k, day_size=day_size)
                still = np.isnan(imputed)
                filled = np.where(still, 0.0, imputed)
                sids.append(sid)
                ns.append(len(v))
                nwn.append(int(np.isnan(v).sum()))
                nsn.append(int(still.sum()))
                sm.append(int(np.floor(filled * 1e6 + 0.5).astype(np.int64).sum()))
            yield pd.DataFrame(
                {
                    "series_id": sids,
                    "n": np.asarray(ns, dtype=np.int64),
                    "n_was_null": np.asarray(nwn, dtype=np.int64),
                    "n_still_null": np.asarray(nsn, dtype=np.int64),
                    "s_micro": np.asarray(sm, dtype=np.int64),
                }
            )

    return packed.mapInPandas(gen, schema=out_schema)


def imputation_eval(imputed: DataFrame) -> DataFrame:
    """Self-evaluation on masked points (the reference's imputation metric
    loop, anomaly_imputation/main.py:74-119): MAE/MSE on mask==1 only."""
    m = imputed.filter(F.col("mask") == 1)
    e = F.col("imputed") - F.col(VAL)
    n = F.count(F.lit(1)).cast("double")
    return m.groupBy(SID).agg(
        F.count(F.lit(1)).alias("n_masked"),
        (dsum(F.abs(e)) / n).alias("mae"),
        (dsum(e * e) / n).alias("mse"),
    )
