"""Forecasting layer (reference stage 4) — Spark-first re-expression.

Reference semantics (citations into /root/reference/):
- M22 forecast windowing        src/forecasting/main.py:73-78, dataset_f.py:17-34
- A12 regression metric suite   src/forecasting/seq2seq/wrapper.py:102-126
- W3 EWMA channel feature       src/anomaly_detection/feature_extractor.py:38-58
- A3 patch std channel feature  src/anomaly_detection/feature_extractor.py:61-96
- A11 AUROC                     src/anomaly_detection/metrics.py:22-27

The neural forecasters (seq2seq GRU / SCINet, M20/M21) are driver-side Torch
training loops in the reference; here the *pipeline* around them — windowing,
input/target splits, metric evaluation — is fully declarative, and the model
slot is filled by (a) the seasonal-naive baseline below (pure SQL, oracle-
checkable) and (b) the trained numpy forecasters in ml/forecaster.py.

EWMA is a sequential recurrence, which has no exact distributed form — we
*define* the engine's EWMA on a 1e-6 fixed-point lattice:
    q_t = (2·x_t + 8·q_{t-1}) div 10      (α = 0.2, integer arithmetic)
making the fold bit-exact in any engine, while differing from float EWMA by
< 1e-5 relative — documented, deterministic, and cross-engine reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.exact import dec, dsum, qround
from .timeseries import SID, TS, VAL


def forecast_windows(df: DataFrame, n_in: int = 24, n_out: int = 24) -> DataFrame:
    """M22: tumbling (n_in+n_out)-hour windows; first n_in hours are model
    input, the rest the target. One shuffle on (series, window_start)."""
    size = f"{n_in + n_out} hours"
    size_s = (n_in + n_out) * 3600
    with_w = df.withColumn("w", F.window(TS, size)).withColumn(
        "h_off", ((F.unix_timestamp(F.col(TS)) % size_s) / 3600).cast("int")
    )
    win = with_w.groupBy(SID, "w").agg(
        F.count(F.lit(1)).alias("n_points"),
        dsum(F.when(F.col("h_off") < n_in, F.col(VAL))).alias("sum_input"),
        dsum(F.when(F.col("h_off") >= n_in, F.col(VAL))).alias("sum_target"),
    )
    return win.select(
        SID, F.col("w.start").alias("window_start"), "n_points", "sum_input", "sum_target"
    )


def seasonal_naive_metrics(df: DataFrame, lag_hours: int = 168, ratio: float = 0.8) -> DataFrame:
    """A12 metric suite for the seasonal-naive forecaster f(t) = x(t−168 h),
    evaluated on the positional test split (last 1−ratio, day-aligned).

    All metrics from decimal-exact sums → identical across engines and
    partitionings: MAE, MSE, RMSE, sMAPE, R²."""
    ow = W.partitionBy(SID).orderBy(TS)
    cw = W.partitionBy(SID)
    rn = F.row_number().over(ow)
    cut = F.floor(F.lit(ratio) * F.count(F.lit(1)).over(cw) / 24) * 24
    t = (
        df.withColumn("f", F.lag(VAL, lag_hours).over(ow))
        .withColumn("rn", rn)
        .withColumn("cut", cut)
        .filter((F.col("rn") > F.col("cut")) & F.col("f").isNotNull())
    )
    e = F.col("f") - F.col(VAL)
    a = F.col(VAL)
    denom = F.abs(F.col("f")) + F.abs(a)
    n = F.count(F.lit(1)).cast("double")
    sum_e2 = dsum(e * e)
    sum_a = dsum(a)
    sum_a2 = dsum(a * a)
    mae = dsum(F.abs(e)) / n
    mse = sum_e2 / n
    smape = dsum(F.when(denom > 0, F.lit(2.0) * F.abs(e) / denom).otherwise(F.lit(0.0))) / n
    return t.groupBy(SID).agg(
        F.count(F.lit(1)).alias("n_eval"),
        mae.alias("mae"),
        mse.alias("mse"),
        F.sqrt(mse).alias("rmse"),
        smape.alias("smape"),
        (F.lit(1.0) - F.try_divide(sum_e2, sum_a2 - sum_a * sum_a / n)).alias("r2"),
    )


def ewma_fixed_point(df: DataFrame, alpha_num: int = 2, alpha_den: int = 10) -> DataFrame:
    """W3: fixed-point EWMA fold per series (final smoothed value).

    collect_list is bounded by series length (a year of hours ≈ 8.8k values —
    fine per executor); the fold itself is codegen'd integer arithmetic."""
    arr = F.array_sort(F.collect_list(F.struct(TS, VAL)))
    g = df.groupBy(SID).agg(arr.alias("pts"))
    q = f"transform(pts, s -> cast(round(s.{VAL} * 1000000) as bigint))"
    fold = (
        f"aggregate(slice({q}, 2, size({q}) - 1), element_at({q}, 1), "
        f"(acc, x) -> ({alpha_num} * x + {alpha_den - alpha_num} * acc) div {alpha_den})"
    )
    return g.select(
        SID,
        F.expr(fold).alias("ewma_q"),
        (F.expr(fold).cast("double") / F.lit(1e6)).alias("ewma"),
        F.size("pts").alias("n_points"),
    )


def patch_std(df: DataFrame, patch_size: int = 8) -> DataFrame:
    """A3: population std per non-overlapping intra-day patch of `patch_size`
    hours (reference repeats it across the patch; we emit one row per patch).
    Exact-moment arithmetic, ddof=0 (population) pinned."""
    day = F.date_trunc("day", F.col(TS)).alias("day")
    pidx = F.floor(F.hour(F.col(TS)) / patch_size).cast("int").alias("patch_idx")
    n = F.count(VAL).cast("double")
    s = F.sum(dec(VAL)).cast("double")
    s2 = F.sum(dec(F.col(VAL) * F.col(VAL))).cast("double")
    return (
        df.groupBy(SID, day, pidx)
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            # greatest(·,0): decimal quantization can push a constant patch's
            # exact-moment variance a hair negative; clamp in both engines.
            F.sqrt(F.greatest((s2 - s * s / n) / n, F.lit(0.0))).alias("patch_std"),
        )
    )


def auroc(scored: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """A11: exact AUROC via the Mann-Whitney rank statistic with midranks
    (tie-correct), computed distributed:

    1. collapse to distinct scores (groupBy score → count + positive count);
    2. exact global cumulative count below each score via value-bucketed
       prefix sums (`ranks.ordered_cumsum_before`) — parallel per-bucket
       Windows, no single-task global Window;
    3. midrank(score) = cum_before + (cnt+1)/2; rank-sum of positives.

    Midranks are dyadic rationals and counts are integers, so every product
    and sum below is exact in double — the result is partition-independent
    and bit-identical to the naive single-window formulation."""
    from .ranks import ordered_cumsum_before

    pos = (F.col(label_col) == 1).cast("long")
    g = scored.groupBy(score_col).agg(
        F.count(F.lit(1)).alias("_cnt"), F.sum(pos).alias("_pos")
    )
    g = ordered_cumsum_before(g, score_col, "_cnt")
    midrank = F.col("_cum_before") + (F.col("_cnt") + F.lit(1)) / F.lit(2.0)
    p = F.sum("_pos").cast("double")
    nn = (F.sum("_cnt") - F.sum("_pos")).cast("double")
    rank_pos = F.sum(F.col("_pos").cast("double") * midrank)
    return g.agg(
        ((rank_pos - p * (p + 1) / 2) / (p * nn)).alias("auroc"),
        F.sum("_pos").cast("bigint").alias("n_pos"),
        (F.sum("_cnt") - F.sum("_pos")).cast("bigint").alias("n_neg"),
    )


def _fd(e: str, d: int) -> str:
    """Floor-division on BIGINT expressions, negatives-safe and identical in
    both engines: Spark `div` and DuckDB `//` truncate toward zero, so the
    dividend is first reduced by its nonnegative pmod — making the division
    exact (and therefore truncation-mode-independent)."""
    return f"((({e}) - pmod(({e}), {d})) div {d})"


def holt_winters_fixed_point(df: DataFrame, period: int = 24) -> DataFrame:
    """Additive Holt-Winters (level + trend + seasonal) per series on a
    1e-6 fixed-point lattice — the triple-smoothing big brother of the W3
    EWMA fold, with the same bit-exact-recurrence discipline:
    alpha=0.2, beta=0.1, gamma=0.3 as exact rational steps, every divide a
    pmod-reduced floor division, so the whole recurrence is integer-exact
    and reproducible in any engine.

    Init: level = floor-mean of the first ``period`` values, trend = 0,
    seasonal[i] = x_i - level. Each later step updates (l, b, s[slot])
    in one aggregate-HOF fold over the collected series (per-series
    parallel; sequential within a series is inherent to the recurrence —
    the same boundedness argument as the EWMA fold: a year of hours is
    ~8.8k values per executor task).

    Output: final level/trend and the one-step-ahead forecast
    f = l + b + s[next slot], micro-units and doubles."""
    m = period
    arr = F.array_sort(F.collect_list(F.struct(TS, VAL)))
    g = df.groupBy(SID).agg(arr.alias("pts")).filter(F.size("pts") > m)
    q = f"transform(pts, s -> cast(floor(s.{VAL} * 1000000.0D + 0.5D) as bigint))"
    l0 = _fd(f"aggregate(slice({q}, 1, {m}), 0L, (a, v) -> a + v)", m)
    s0 = f"transform(slice({q}, 1, {m}), v -> v - ({l0}))"
    # one step: x joins the season slot pmod(t, m); l_new is inlined where
    # needed (no let-binding in SQL lambdas; Catalyst CSEs the repeats)
    sm = f"element_at(acc.s, pmod(acc.t, {m}) + 1)"
    l_new = _fd(f"2 * (x - {sm}) + 8 * (acc.l + acc.b)", 10)
    b_new = _fd(f"(({l_new}) - acc.l) + 9 * acc.b", 10)
    s_new = _fd(f"3 * (x - ({l_new})) + 7 * {sm}", 10)
    step = (
        "named_struct("
        f"'l', {l_new}, "
        f"'b', {b_new}, "
        f"'s', transform(acc.s, (v, i) -> IF(i = pmod(acc.t, {m}), {s_new}, v)), "
        "'t', acc.t + 1)"
    )
    fold = (
        f"aggregate(slice({q}, {m + 1}, size({q}) - {m}), "
        f"named_struct('l', {l0}, 'b', 0L, 's', {s0}, 't', {m}), "
        f"(acc, x) -> {step})"
    )
    out = g.select(SID, F.expr(fold).alias("hw"), F.size("pts").alias("n_points"))
    fc = F.expr(f"hw.l + hw.b + element_at(hw.s, pmod(hw.t, {m}) + 1)")
    return out.select(
        SID,
        F.col("hw.l").alias("level_q"),
        F.col("hw.b").alias("trend_q"),
        fc.alias("forecast_q"),
        (F.col("hw.l").cast("double") / F.lit(1e6)).alias("level"),
        (fc.cast("double") / F.lit(1e6)).alias("forecast"),
        F.col("n_points").cast("bigint").alias("n_points"),
    )


def ets_damped_fixed_point(df: DataFrame) -> DataFrame:
    """Damped-trend exponential smoothing — ETS(A,Ad,N), the Holt's-linear
    variant practitioners reach for first on load data because the damping
    keeps long-horizon forecasts from extrapolating a transient ramp —
    per series on the 1e-6 fixed-point lattice (the Holt-Winters
    discipline minus the seasonal state):

        pb  = floor(9·b / 10)                      (φ = 0.9 damped trend)
        l'  = floor((2·x + 8·(l + pb)) / 10)        (α = 0.2)
        b'  = floor(((l' − l) + 9·pb) / 10)         (β = 0.1)

    Every divide is a pmod-reduced floor division (:func:`_fd`), so the
    recurrence is integer-exact and replayable by a recursive CTE. Init is
    the classic Holt pair l₀ = x₂, b₀ = x₂ − x₁ (series shorter than 3
    points are dropped — no defined trend). Outputs the final state, the
    one-step forecast l + pb, and the damped asymptote l + 9·b (for
    φ = 0.9 the geometric sum φ/(1−φ) is exactly 9 — an integer
    expression, no float pow). One aggregate-HOF fold per series,
    per-series parallel, no per-row Python."""
    arr = F.array_sort(F.collect_list(F.struct(TS, VAL)))
    g = df.groupBy(SID).agg(arr.alias("pts")).filter(F.size("pts") > 2)
    q = f"transform(pts, s -> cast(floor(s.{VAL} * 1000000.0D + 0.5D) as bigint))"
    pb = _fd("9 * acc.b", 10)
    l_new = _fd(f"2 * x + 8 * (acc.l + ({pb}))", 10)
    b_new = _fd(f"(({l_new}) - acc.l) + 9 * ({pb})", 10)
    fold = (
        f"aggregate(slice({q}, 3, size({q}) - 2), "
        f"named_struct('l', element_at({q}, 2), "
        f"'b', element_at({q}, 2) - element_at({q}, 1)), "
        f"(acc, x) -> named_struct('l', {l_new}, 'b', {b_new}))"
    )
    out = g.select(SID, F.expr(fold).alias("ets"), F.size("pts").alias("n_points"))
    pbf = _fd("9 * ets.b", 10)
    return out.select(
        SID,
        F.col("ets.l").alias("level_q"),
        F.col("ets.b").alias("trend_q"),
        F.expr(f"ets.l + ({pbf})").alias("forecast1_q"),
        F.expr("ets.l + 9 * ets.b").alias("forecast_inf_q"),
        (F.col("ets.l").cast("double") / F.lit(1e6)).alias("level"),
        (F.expr(f"ets.l + ({pbf})").cast("double") / F.lit(1e6)).alias("forecast1"),
        F.col("n_points").cast("bigint").alias("n_points"),
    )


def cusum_flags_fixed_point(
    df: DataFrame, k_milli: int = 500, h_units: int = 4
) -> DataFrame:
    """One-sided CUSUM changepoint statistics per series on the 1e-6
    lattice: S+_t = max(0, S+_{t-1} + (z_t - k)), S-_t = max(0, S-_{t-1}
    - (z_t + k)), alarm when either exceeds h — the classic sequential
    drift detector, integer-exact like the EWMA/Holt-Winters folds.

    z_t is the micro-unit deviation from the series' exact-moment mean
    (decimal sums, one pass); k (allowance) and h (threshold) are in
    std-free micro-units scaled by the series' own mean magnitude — the
    cross-engine-deterministic normalization (an exact integer, unlike a
    std which would need a sqrt). Outputs final S+, S- and the alarm
    counts over the series; fold is one aggregate HOF per series."""
    arr = F.array_sort(F.collect_list(F.struct(TS, VAL)))
    g = df.groupBy(SID).agg(arr.alias("pts")).filter(F.size("pts") > 1)
    # Hoist the quantized array and the per-series constants (exact integer
    # mean, allowance kq, threshold hq) into columns BEFORE the fold: the
    # lambda references them as outer row attributes. Inlining mean_q's own
    # aggregate() inside the per-element step re-scanned the whole array for
    # every element — an O(n^2) fold that cost 22.7 s at sf0.1 for what is a
    # linear recurrence (1500 series x ~640 points).
    g = (
        g.withColumn(
            "qs", F.expr(f"transform(pts, s -> cast(floor(s.{VAL} * 1000000.0D + 0.5D) as bigint))")
        )
        .withColumn("_sum_q", F.expr("aggregate(qs, 0L, (a, v) -> a + v)"))
        .withColumn("mean_q", F.expr("(_sum_q - pmod(_sum_q, size(qs))) div size(qs)"))
        .withColumn("kq", F.expr(f"({k_milli}) * greatest(abs(mean_q), 1000L) div 1000"))
        .withColumn("hq", F.expr(f"({h_units}) * greatest(abs(mean_q), 1000L)"))
    )
    step = (
        "named_struct("
        "'sp', greatest(0L, acc.sp + (x - mean_q) - kq), "
        "'sn', greatest(0L, acc.sn - (x - mean_q) - kq), "
        "'ap', acc.ap + IF(greatest(0L, acc.sp + (x - mean_q) - kq) > hq, 1, 0), "
        "'an', acc.an + IF(greatest(0L, acc.sn - (x - mean_q) - kq) > hq, 1, 0))"
    )
    fold = (
        f"aggregate(qs, named_struct('sp', 0L, 'sn', 0L, 'ap', 0, 'an', 0), "
        f"(acc, x) -> {step})"
    )
    out = g.select(SID, F.expr(fold).alias("c"), F.size("pts").alias("n_points"))
    return out.select(
        SID,
        F.col("c.sp").alias("cusum_pos_q"),
        F.col("c.sn").alias("cusum_neg_q"),
        F.col("c.ap").cast("bigint").alias("n_pos_alarms"),
        F.col("c.an").cast("bigint").alias("n_neg_alarms"),
        F.col("n_points").cast("bigint").alias("n_points"),
    )


def seasonal_components(df: DataFrame, half: int = 12) -> DataFrame:
    """Per-point decomposition components shared by
    :func:`seasonal_decompose` and :func:`seasonal_strength`:
    (series_id, hod, detr, seas_q) on the 1e-6 integer lattice, with
    clipped-window edge rows already excluded."""
    n_win = 2 * half + 1
    fdiv = lambda a, b: f"((({a}) - pmod(({a}), ({b}))) div ({b}))"
    q = F.expr(f"cast(floor({VAL} * 1000000.0D + 0.5D) as bigint)")
    tw = W.partitionBy(SID).orderBy(TS).rowsBetween(-half, half)
    t = (
        df.withColumn("q", q)
        .withColumn("tsum", F.sum("q").over(tw))
        .withColumn("tn", F.count("q").over(tw))
    )
    de = t.filter(F.col("tn") == n_win).select(
        SID,
        F.hour(TS).cast("int").alias("hod"),
        (F.col("q") - F.expr(fdiv("tsum", "tn"))).alias("detr"),
    )
    sw = W.partitionBy(SID, "hod")
    s = de.withColumn("ssum", F.sum("detr").over(sw)).withColumn(
        "sn", F.count("detr").over(sw)
    )
    return s.withColumn("seas_q", F.expr(fdiv("ssum", "sn"))).select(
        SID, "hod", "detr", "seas_q"
    )


def seasonal_strength(df: DataFrame, half: int = 12) -> DataFrame:
    """Seasonality-strength diagnostic per series (Hyndman's FS measure):
    ``max(0, 1 − Σresid² / Σdetr²)`` over the decomposition components —
    ~1 for strongly daily-periodic load, ~0 for noise. The ranking that
    decides which series get hour-of-day features at all.

    Exactness: detr/resid come off the integer lattice; their squares are
    IEEE doubles of identical values routed through the decimal-exact sum
    (int64 square sums could overflow at long horizons); the closing
    ratio is pure double arithmetic.

    Output: (series_id, n_points, strength).
    """
    c = seasonal_components(df, half)
    detr_d = F.col("detr").cast("double") / F.lit(1e6)
    resid_d = (F.col("detr") - F.col("seas_q")).cast("double") / F.lit(1e6)
    agg = c.groupBy(SID).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        dsum(detr_d * detr_d).alias("dss"),
        dsum(resid_d * resid_d).alias("rss"),
    )
    strength = F.greatest(
        F.lit(0.0), F.lit(1.0) - F.try_divide(F.col("rss"), F.col("dss"))
    )
    return agg.select(
        SID, "n_points", qround(F.coalesce(strength, F.lit(0.0)), 9).alias("strength")
    )


def seasonal_decompose(df: DataFrame, half: int = 12) -> DataFrame:
    """Additive seasonal decomposition (STL-lite) per series on the 1e-6
    fixed-point lattice — the load-forecasting EDA primitive behind the
    reference's hour-of-day/weekday feature engineering
    (src/anomaly_detection/feature_extractor.py): trend = centered
    (2·half+1)-row moving average (ROWS-based over the hourly grid — run
    :func:`~.timeseries.regularize_grid` first if the series has holes),
    seasonal = per hour-of-day mean of the detrended values, residual =
    what's left.

    Every divide is a negatives-safe exact floor division (pmod-reduce
    then div), so the whole decomposition is integer arithmetic — bit-
    exact across engines and partitionings. Rows whose centered window is
    clipped by the series edge (count < 2·half+1) carry no trend and are
    excluded from the seasonal fit, the standard edge treatment.

    Scale shape: one (series, ts) window scan for the trend (rows frame,
    streaming state = 2·half+1 rows), one (series, hod) window + groupBy
    for the seasonal/residual — the second exchange is reused by the final
    aggregate (same keys). No collect, no UDF.

    Output: (series_id, hod, n_hours, seasonal, resid_abs_mean).
    """
    return (
        seasonal_components(df, half)
        .withColumn("resid_abs", F.abs(F.col("detr") - F.col("seas_q")))
        .groupBy(SID, "hod")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hours"),
            (F.max("seas_q").cast("double") / F.lit(1e6)).alias("seasonal"),
            (
                F.expr(
                    "(((sum(resid_abs)) - pmod((sum(resid_abs)), (count(1)))) div (count(1)))"
                ).cast("double")
                / F.lit(1e6)
            ).alias("resid_abs_mean"),
        )
    )


def rolling_median(df: DataFrame, half: int = 12) -> DataFrame:
    """Centered rolling-median filter per series — the robust denoiser for
    noisy load data (a median filter rejects the point anomalies the
    reference injects, where a moving average smears them): exact median
    of each full (2·half+1)-row centered window on the 1e-6 integer
    lattice (odd window → the median IS an element; no midpoint float).

    Scale shape: one (series, ts) window scan; the sliding collect_list
    state is bounded by the window width, and the sort is O(w log w) per
    row over w = 2·half+1 integers — embarrassingly parallel across
    series. Edge rows with clipped windows are excluded (standard filter
    treatment).

    Output, compact and fully value-sensitive: per series the window
    count, the exact integer SUM of all medians (any single changed
    median changes it), and the min/max median.
    """
    n_win = 2 * half + 1
    q = F.expr(f"cast(floor({VAL} * 1000000.0D + 0.5D) as bigint)")
    tw = W.partitionBy(SID).orderBy(TS).rowsBetween(-half, half)
    rows = df.withColumn("q", q).withColumn("arr", F.collect_list("q").over(tw))
    med = F.expr(f"element_at(array_sort(arr), {half + 1})")
    return (
        rows.filter(F.size("arr") == n_win)
        .select(SID, med.alias("med_q"))
        .groupBy(SID)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            F.sum("med_q").cast("bigint").alias("med_sum_q"),
            (F.min("med_q").cast("double") / F.lit(1e6)).alias("med_min"),
            (F.max("med_q").cast("double") / F.lit(1e6)).alias("med_max"),
        )
    )


def rolling_backtest(
    df: DataFrame,
    cutoffs: list[str],
    horizon_hours: int = 24,
    lag_hours: int = 168,
) -> DataFrame:
    """Rolling-origin backtest of the seasonal-naive forecaster: for each
    cutoff, score f(t) = x(t − lag) on the ``horizon_hours`` immediately
    after the cutoff, pooled across series — the standard leakage-safe
    forecast-evaluation protocol (each origin only ever uses data from
    before itself; lag ≥ horizon guarantees it here).

    Scale shape: one per-series lag window over the skinny regular
    series; the cutoff dim is a broadcast of |cutoffs| rows (each point
    joins at most the cutoffs whose horizon covers it); the metric rollup
    is combinable with decimal-exact sums.

    Output: (cutoff, n_eval, mae, rmse).
    """
    ow = W.partitionBy(SID).orderBy(TS)
    lagged = df.withColumn("f", F.lag(VAL, lag_hours).over(ow)).filter(
        F.col("f").isNotNull()
    )
    cuts = None
    for c in cutoffs:
        row = df.sparkSession.range(1).select(
            F.lit(c).cast("timestamp").alias("cutoff")
        )
        cuts = row if cuts is None else cuts.unionByName(row)
    j = lagged.join(
        F.broadcast(cuts),
        (F.col(TS) > F.col("cutoff"))
        & (
            F.col(TS)
            <= F.col("cutoff") + F.expr(f"INTERVAL {horizon_hours} HOURS")
        ),
    )
    e = F.col("f") - F.col(VAL)
    n = F.count(F.lit(1)).cast("double")
    mse = dsum(e * e) / n
    return j.groupBy("cutoff").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_eval"),
        (dsum(F.abs(e)) / n).alias("mae"),
        F.sqrt(mse).alias("rmse"),
    )
