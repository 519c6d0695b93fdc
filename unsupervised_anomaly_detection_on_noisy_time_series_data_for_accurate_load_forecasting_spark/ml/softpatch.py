"""TS-SoftPatch re-expressed for Spark: memory-bank anomaly detection with
patch features, outlier-weight denoising, greedy-coreset subsampling, and
1-NN scoring.

Reference semantics (citations into /root/reference/):
- M7 channel features (raw, patch-std, EWMA)  src/anomaly_detection/feature_extractor.py:38-112
- M8 deep embedding                           src/anomaly_detection/softpatch.py:120-180
- M9 patchify                                 src/anomaly_detection/softpatch.py:457-483
- M10 gaussian patch-weight denoising         src/anomaly_detection/softpatch.py:224-269,
                                              multi_variate_gaussian.py:77-104
- M11 greedy coreset (approx k-center)        src/anomaly_detection/sampler.py:118-174
- M12 1-NN scoring (FAISS L2 → here exact)    src/anomaly_detection/common.py:275-330,
                                              softpatch.py:365-397
- M13 score normalization                     src/anomaly_detection/main.py:157-167

Execution shape (the part that matters at 100 TB):
- Embedding is a **mapInPandas island**: Arrow-batched, weights broadcast,
  rows never leave the executor. The backbone here is a seeded random
  projection (torch/timm are unavailable in this environment — the
  ``_load_backbone`` hook is where a real frozen ResNet/timm model plugs in;
  the Spark plumbing is identical either way).
- Patch-weight fitting is **two-phase**: salted partial moments per
  (patch position × RNG bucket) — 96-way parallel, associative — combined
  on the driver into per-position (mean, inv cov), then Mahalanobis as a
  stateless map. No group ever holds more than an Arrow batch.
- Coreset is the reference's inherently-sequential greedy k-center: run on
  the **driver** over the weight-filtered candidate matrix, which is
  **bounded by construction** — an engine-side deterministic hash-stride
  filter caps what can ever reach the driver at ``candidate_cap`` rows.
  The bank is ≪ data (10 % of train patches) and is **broadcast** for
  scoring.
- Scoring is a second mapInPandas island: vectorized cdist argmin against
  the broadcast bank — the exact-search analog of FAISS IndexFlatL2.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.timeseries import SID


@dataclass(frozen=True)
class SoftPatchConfig:
    day_size: int = 24
    patch_size: int = 8  # -> 3 patches per day window
    embed_dim: int = 16
    coreset_ratio: float = 0.1
    coreset_max: int = 1024  # greedy k-center is O(k·n); cap k for the driver loop
    candidate_cap: int = 50000  # deterministic stride-subsample of the bank candidates
    weight_quantile: float = 0.15  # drop the most-outlying 15 % of patches
    weight_mode: str = "gaussian"  # M10 denoiser: 'gaussian' (two-phase) | 'lof'
    # LOF builds a cap² pairwise matrix per patch-position group; 2048 rows
    # ≈ 34 MB — the memory-derived bound, much tighter than candidate_cap
    lof_cap: int = 2048
    ewma_alpha: float = 0.2
    seed: int = 42

    @property
    def n_patches(self) -> int:
        return self.day_size // self.patch_size


def _channel_features(points: np.ndarray, cfg: SoftPatchConfig) -> np.ndarray:
    """M7: stack [raw, patch_std, ewma] -> (3, day_size). Pure numpy mirror of
    feature_extractor.py semantics (population std per patch, EWMA seeded with
    x0, adjust=False)."""
    raw = points
    ps = np.repeat(
        points.reshape(-1, cfg.patch_size).std(axis=1), cfg.patch_size
    )  # population std, repeated across the patch
    ewma = np.empty_like(points)
    acc = points[0]
    for i, x in enumerate(points):
        acc = cfg.ewma_alpha * x + (1 - cfg.ewma_alpha) * acc if i else x
        ewma[i] = acc
    return np.stack([raw, ps, ewma])


def _projection(cfg: SoftPatchConfig) -> np.ndarray:
    """Seeded dense projection — the original M8 stand-in, now a test
    fixture for the backbone plug point (the default backbone is the
    fixed-weight CNN below). Deterministic: same matrix on every executor,
    no broadcast needed beyond the closure."""
    rs = np.random.RandomState(cfg.seed)
    in_dim = 3 * cfg.patch_size
    return rs.standard_normal((in_dim, cfg.embed_dim)).astype(np.float64) / np.sqrt(in_dim)


def _adaptive_avg_pool(x: np.ndarray, out: int) -> np.ndarray:
    """torch F.adaptive_avg_pool1d semantics over the last axis: output bin
    i averages input[⌊i·L/out⌋ : ⌈(i+1)·L/out⌉]."""
    L = x.shape[-1]
    idx = np.arange(out)
    starts = (idx * L) // out
    ends = -(-((idx + 1) * L) // out)
    return np.stack(
        [x[..., s:e].mean(axis=-1) for s, e in zip(starts, ends)], axis=-1
    )


def _conv1d_same(x: np.ndarray, W: np.ndarray, b: np.ndarray) -> np.ndarray:
    """'same' 1-D convolution with replicate padding, einsum-evaluated so the
    bits are batch-shape-independent. x: (b, Cin, L), W: (Cout, Cin, k)."""
    k = W.shape[2]
    pad = k // 2
    xp = np.concatenate(
        [np.repeat(x[..., :1], pad, axis=-1), x, np.repeat(x[..., -1:], pad, axis=-1)],
        axis=-1,
    )
    win = np.stack([xp[..., i : i + x.shape[-1]] for i in range(k)], axis=-1)
    return np.einsum("bclk,ock->bol", win, W) + b[None, :, None]


def default_backbone(cfg: SoftPatchConfig, c1: int = 8, c2: int = 16):
    """M8 default: a small fixed-weight (frozen, seeded) numpy CNN with the
    reference's multi-layer extract-and-merge shape
    (softpatch.py:120-180, common.py:140-252):

        conv(k=3)→ReLU                         — 'layer1' feature map
        avg-pool /2 → conv(k=3)→ReLU           — 'layer2' feature map
        per-layer MeanMapper: flatten → adaptive_avg_pool1d → embed_dim
        Aggregator: stack layers → flatten → adaptive_avg_pool1d → embed_dim

    Frozen weights stand in for the pretrained ResNet the reference loads
    (torch/timm absent here); a real forward plugs into the same ``backbone``
    argument. Every op is einsum/elementwise with fixed-span reductions, so
    executor batches and the mirror's full-matrix pass agree bit-for-bit."""
    rs = np.random.RandomState(cfg.seed + 1)
    p_sz, E = cfg.patch_size, cfg.embed_dim
    W1 = rs.standard_normal((c1, 3, 3)) / np.sqrt(3.0 * 3.0)
    b1 = np.zeros(c1)
    W2 = rs.standard_normal((c2, c1, 3)) / np.sqrt(c1 * 3.0)
    b2 = np.zeros(c2)

    def forward(flat: np.ndarray) -> np.ndarray:
        b = len(flat)
        x = flat.reshape(b, 3, p_sz)
        f1 = np.maximum(_conv1d_same(x, W1, b1), 0.0)
        f2 = np.maximum(_conv1d_same(_adaptive_avg_pool(f1, p_sz // 2), W2, b2), 0.0)
        m1 = _adaptive_avg_pool(f1.reshape(b, -1), E)  # MeanMapper, layer1
        m2 = _adaptive_avg_pool(f2.reshape(b, -1), E)  # MeanMapper, layer2
        stacked = np.stack([m1, m2], axis=1).reshape(b, -1)
        return _adaptive_avg_pool(stacked, E)  # Aggregator

    return forward


def embed_windows(
    windows: DataFrame, cfg: SoftPatchConfig, backbone=None
) -> DataFrame:
    """M8/M9: window -> per-patch embeddings, as a mapInPandas island.

    Output: (series_id, window_start, window_label, patch_idx, feature[]).

    ``backbone``: the M8 plug point — a picklable callable
    ``(b, 3·patch_size) channel-patch matrix → (b, embed_dim) features``.
    Default is the seeded dense projection; a frozen ResNet/timm forward (or
    any numpy model, see tests/test_ml_softpatch.py::test_backbone_plug_point)
    slots in without touching the Spark plumbing — the island ships whatever
    weights the closure captures."""
    if backbone is None:
        backbone = default_backbone(cfg)  # frozen seeded CNN (M8 default)
    n_p, p_sz = cfg.n_patches, cfg.patch_size

    schema = T.StructType(
        [
            T.StructField("series_id", T.StringType()),
            T.StructField("window_start", T.TimestampType()),
            T.StructField("window_label", T.IntegerType()),
            T.StructField("patch_idx", T.IntegerType()),
            T.StructField("feature", T.ArrayType(T.DoubleType())),
        ]
    )

    alpha = cfg.ewma_alpha

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Fully vectorized over the Arrow batch: channels and projections are
        # (batch × …) matrix ops; the only Python loop is over time steps.
        for pdf in batches:
            if pdf.empty:
                continue
            pts = np.stack([np.asarray(p, dtype=np.float64) for p in pdf["points"]])
            b = len(pts)
            ps = np.repeat(pts.reshape(b, n_p, p_sz).std(axis=2), p_sz, axis=1)
            ew = np.empty_like(pts)
            acc = pts[:, 0].copy()
            ew[:, 0] = acc
            for t in range(1, pts.shape[1]):
                acc = alpha * pts[:, t] + (1 - alpha) * acc
                ew[:, t] = acc
            ch = np.stack([pts, ps, ew], axis=1)  # (b, 3, day)
            frames = []
            for p in range(n_p):
                feats = backbone(ch[:, :, p * p_sz : (p + 1) * p_sz].reshape(b, -1))
                frames.append(
                    pd.DataFrame(
                        {
                            "series_id": pdf["series_id"].to_numpy(),
                            "window_start": pdf["window_start"].to_numpy(),
                            "window_label": pdf["window_label"].astype("int32").to_numpy(),
                            "patch_idx": np.full(b, p, dtype="int32"),
                            "feature": feats.tolist(),
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    cols = ["series_id", "window_start", "window_label", "points"]
    return windows.select(*cols).mapInPandas(gen, schema=schema)


def _gaussian_weights(feats: np.ndarray) -> np.ndarray:
    """M10 (gaussian mode): Mahalanobis distance of each row to the patch
    population N(mean, cov + 0.01·I) — the reference's denoising score
    (multi_variate_gaussian.py:77-104, softpatch.py:241-245)."""
    mean = feats.mean(axis=0)
    d = feats - mean
    cov = (d.T @ d) / max(len(feats) - 1, 1) + 0.01 * np.eye(feats.shape[1])
    inv = np.linalg.inv(cov)
    return np.sqrt(np.maximum(np.einsum("ij,jk,ik->i", d, inv, d), 0.0))


def _lof_weights(feats: np.ndarray, k: int = 6) -> np.ndarray:
    """M10 (LOF mode): Local Outlier Factor, the reference's alternative
    denoiser (softpatch.py:279-286, k=6). Pure numpy (sklearn is absent):
    k-distance → reachability distance → local reachability density → LOF.
    Group sizes are bounded (patch-position populations), so the pairwise
    matrix is fine inside one group."""
    n = len(feats)
    kk = min(k, n - 1)
    if kk < 1:
        return np.zeros(n)
    d = np.sqrt(
        np.maximum(
            (feats * feats).sum(1)[:, None] - 2 * feats @ feats.T + (feats * feats).sum(1)[None, :],
            0.0,
        )
    )
    np.fill_diagonal(d, np.inf)
    knn_idx = np.argsort(d, axis=1, kind="stable")[:, :kk]  # k nearest neighbors
    kdist = d[np.arange(n)[:, None], knn_idx][:, -1]  # k-distance per point
    reach = np.maximum(d[np.arange(n)[:, None], knn_idx], kdist[knn_idx])
    lrd = kk / np.maximum(reach.sum(axis=1), 1e-12)
    lof = (lrd[knn_idx].sum(axis=1) / kk) / lrd
    return lof


BUCKET_SALT = 23
N_BUCKETS = 32

_WEIGHT_SCHEMA = T.StructType(
    [
        T.StructField("series_id", T.StringType()),
        T.StructField("window_start", T.TimestampType()),
        T.StructField("patch_idx", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
        T.StructField("weight", T.DoubleType()),
    ]
)


def _bucket_col() -> "F.Column":
    """Deterministic salt bucket for the two-phase moment shuffle — keyed on
    (series, epoch-day) via the cross-engine RNG so the numpy mirror can
    reproduce the exact same groups."""
    from ..functions.rng import rng_draw

    skey = F.col("series_id").cast("bigint")
    eday = F.floor(F.unix_timestamp(F.col("window_start")) / 86400)
    return F.pmod(rng_draw(skey, eday, salt=BUCKET_SALT), F.lit(N_BUCKETS)).cast("int")


def gaussian_patch_stats(embedded: DataFrame, cfg: SoftPatchConfig) -> dict[int, tuple[np.ndarray, np.ndarray]]:
    """A8 two-phase: exact per-patch (mean, inv(cov + 0.01I)) via salted
    partial moments.

    SURVEY §4.2(2)'s prescription: ``patch_idx`` alone has cardinality
    ``n_patches`` (3!), so a direct groupBy caps parallelism at 3 with each
    pandas group holding the whole corpus. Instead:

    - phase 1 shuffles on ``patch_idx × bucket`` (bucket = deterministic RNG
      of (series, day) mod 32 → 96-way parallelism, each group bounded), and
      reduces each group to one (n, Σx, Σxxᵀ) row — A8 moments are
      associative;
    - the ≤ n_patches·32 partial rows are combined on the driver in sorted
      bucket order (deterministic float order), giving
      cov = (Σxxᵀ − n·μμᵀ)/(n−1) + 0.01·I per
      multi_variate_gaussian.py:77-104.

    Rows inside a phase-1 group are sorted by (series_id, window_start)
    before summing so the result is partition-layout-independent."""
    dim = cfg.embed_dim
    part_schema = T.StructType(
        [
            T.StructField("patch_idx", T.IntegerType()),
            T.StructField("bkt", T.IntegerType()),
            T.StructField("n", T.LongType()),
            T.StructField("s", T.ArrayType(T.DoubleType())),
            T.StructField("ss", T.ArrayType(T.DoubleType())),
        ]
    )

    def partials(key, pdf):
        pdf = pdf.sort_values(["series_id", "window_start"]).reset_index(drop=True)
        X = np.stack(pdf["feature"].to_numpy())
        return pd.DataFrame(
            {
                "patch_idx": [int(key[0])],
                "bkt": [int(key[1])],
                "n": [len(X)],
                "s": [X.sum(axis=0).tolist()],
                "ss": [(X.T @ X).ravel().tolist()],
            }
        )

    parts = (
        embedded.withColumn("bkt", _bucket_col())
        .groupBy("patch_idx", "bkt")
        .applyInPandas(partials, schema=part_schema)
        .collect()
    )
    by_patch: dict[int, list] = {}
    for r in parts:
        by_patch.setdefault(r["patch_idx"], []).append(r)
    stats: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    for p, rows in sorted(by_patch.items()):
        rows = sorted(rows, key=lambda r: r["bkt"])
        n = int(sum(r["n"] for r in rows))
        s = np.stack([np.asarray(r["s"]) for r in rows]).sum(axis=0)
        ss = np.stack([np.asarray(r["ss"]) for r in rows]).sum(axis=0).reshape(dim, dim)
        mean = s / n
        cov = (ss - n * np.outer(mean, mean)) / max(n - 1, 1) + 0.01 * np.eye(dim)
        stats[p] = (mean, np.linalg.inv(cov))
    return stats


def patch_weights(embedded: DataFrame, cfg: SoftPatchConfig, mode: str | None = None) -> DataFrame:
    """M10: per-patch-position outlier weights.

    ``gaussian`` (default): two-phase distributed moments
    (:func:`gaussian_patch_stats`) then Mahalanobis as a *stateless*
    mapInPandas — no group ever holds more than an Arrow batch, so this path
    scales to any corpus size.

    ``lof``: the reference's alternative denoiser needs the full pairwise
    matrix per patch position, which is inherently quadratic — each position
    group is capped at ``lof_cap`` rows (2048, derived from the quadratic
    memory footprint of the cap²-sized pairwise matrix; deterministic
    (series_id, window_start) key order), applied **engine-side** with a
    ``row_number`` filter so the Arrow transfer into the UDF is bounded by
    construction; documented as a sampled estimate at scale."""
    if mode is None:
        mode = cfg.weight_mode
    if mode == "lof":
        return _lof_patch_weights(embedded, cfg)

    stats = gaussian_patch_stats(embedded, cfg)
    sc = embedded.sparkSession.sparkContext
    stats_b = sc.broadcast(stats)

    def maha(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        st = stats_b.value
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack(pdf["feature"].to_numpy())
            w = np.empty(len(X))
            pidx = pdf["patch_idx"].to_numpy()
            for p in np.unique(pidx):
                mean, inv = st[int(p)]
                m = pidx == p
                d = X[m] - mean
                # einsum: shape-independent bits for any Arrow batching
                w[m] = np.sqrt(np.maximum(np.einsum("ij,jk,ik->i", d, inv, d), 0.0))
            yield pd.DataFrame(
                {
                    "series_id": pdf["series_id"],
                    "window_start": pdf["window_start"],
                    "patch_idx": pdf["patch_idx"],
                    "feature": pdf["feature"],
                    "weight": w,
                }
            )

    cols = ["series_id", "window_start", "patch_idx", "feature"]
    return embedded.select(*cols).mapInPandas(maha, schema=_WEIGHT_SCHEMA)


def _lof_patch_weights(embedded: DataFrame, cfg: SoftPatchConfig) -> DataFrame:
    def per_patch(key, pdf):
        # Pin row order: float kNN ties are order-sensitive, and Arrow batch
        # arrival order is not deterministic. The row SET is already capped
        # engine-side; this sort only fixes the in-matrix order.
        pdf = pdf.sort_values(["series_id", "window_start"]).reset_index(drop=True)
        feats = np.stack(pdf["feature"].to_numpy())
        return pd.DataFrame(
            {
                "series_id": pdf["series_id"],
                "window_start": pdf["window_start"],
                "patch_idx": pdf["patch_idx"],
                "feature": pdf["feature"],
                "weight": _lof_weights(feats),
            }
        )

    # Cap each patch-position group BEFORE the group is shipped to Python,
    # in two phases so no task ever sorts more than a bounded slice:
    #
    # 1. rank within (patch_idx × hash-bucket) — N_BUCKETS-way parallel, each
    #    sort group is ~group/N_BUCKETS rows — and keep each bucket's first
    #    ``lof_cap`` rows in (series_id, window_start) order. Any row in the
    #    global per-patch top-``lof_cap`` is necessarily within its bucket's
    #    top-``lof_cap`` (its bucket-rank ≤ its global rank), so this phase
    #    keeps a superset of the final set while discarding the unbounded
    #    tail engine-side.
    # 2. rank the ≤ N_BUCKETS·lof_cap survivors per patch globally and keep
    #    the first ``lof_cap`` — the same set a single global row_number
    #    selects, but the narrow per-patch sort now touches a bounded row
    #    count no matter how large the corpus is (the r3 shape funneled the
    #    whole corpus through n_patches sort tasks).
    #
    # (series_id, window_start) is unique within a patch position, so both
    # window orders are total and the selection deterministic; the bucket
    # hash only spreads phase-1 work and cannot change the selected set.
    bkt = F.pmod(F.xxhash64("series_id", "window_start"), F.lit(N_BUCKETS))
    pre = (
        embedded.withColumn("_bkt", bkt)
        .withColumn(
            "_rn1",
            F.row_number().over(
                Window.partitionBy("patch_idx", "_bkt").orderBy("series_id", "window_start")
            ),
        )
        .where(F.col("_rn1") <= cfg.lof_cap)
        .drop("_rn1", "_bkt")
    )
    capped = (
        pre.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("patch_idx").orderBy("series_id", "window_start")
            ),
        )
        .where(F.col("_rn") <= cfg.lof_cap)
        .drop("_rn")
    )
    return capped.groupBy("patch_idx").applyInPandas(per_patch, schema=_WEIGHT_SCHEMA)


def greedy_coreset(feats: np.ndarray, ratio: float, seed: int, k_max: int | None = None) -> np.ndarray:
    """M11: approximate greedy k-center (driver-side, mirrors
    sampler.py:118-174): iterative argmax of min-distance to the picked set.
    Returns selected row indices. ``k_max`` bounds the O(k·n) loop — the
    reference's own 'approximate greedy' justification (sampler.py:134-137)."""
    n = len(feats)
    k = max(1, int(round(n * ratio)))
    if k_max is not None:
        k = min(k, k_max)
    rs = np.random.RandomState(seed)
    start = int(rs.randint(n))
    picked = [start]
    # Track squared distances (argmax is sqrt-invariant) via the cached-norm
    # dot-product identity: one (n·dim) matvec per iteration instead of a
    # full (n×dim) difference matrix + sqrt — ~10× less memory traffic for
    # the same greedy semantics. The mirror shares this exact function, so
    # both engines pick identical indices by construction.
    feats = np.ascontiguousarray(feats)
    sq = np.einsum("ij,ij->i", feats, feats)
    dmin = np.maximum(sq - 2.0 * (feats @ feats[start]) + sq[start], 0.0)
    for _ in range(k - 1):
        nxt = int(np.argmax(dmin))
        picked.append(nxt)
        np.minimum(
            dmin, np.maximum(sq - 2.0 * (feats @ feats[nxt]) + sq[nxt], 0.0), out=dmin
        )
    return np.asarray(picked)


def fit_memory_bank(train_windows: DataFrame, cfg: SoftPatchConfig) -> np.ndarray:
    """Fit = embed → denoise-weight → weight-filter → greedy coreset."""
    return fit_memory_bank_from_embedded(embed_windows(train_windows, cfg), cfg)


STRIDE_SALT = 29


def fit_memory_bank_from_embedded(embedded: DataFrame, cfg: SoftPatchConfig) -> np.ndarray:
    """Fit from an already-embedded patch DataFrame (lets callers embed the
    corpus once and share it between fit and scoring).

    The driver collect here is **bounded by construction**: when the kept
    candidate set exceeds ``candidate_cap``, a deterministic hash-stride
    filter (RNG of the row key mod ⌈n/cap⌉) subsamples it *engine-side*
    before any row reaches the driver — ~cap rows arrive no matter how big
    the corpus is. Below the cap (every test SF) nothing is dropped, so the
    fit is exact there. Greedy k-center is inherently sequential, so the
    (bounded) candidate matrix runs on the driver and the resulting bank is
    broadcast back for scoring (SURVEY.md §4.2).

    ``F.percentile`` is exact for oracle parity; at 100 TB swap
    ``percentile_approx`` (single-pass sketch) — the cut only gates the
    candidate pool, not the scores."""
    from . import artifacts as AR

    # Checkpoint restore (the reference pickles its fitted bank + index,
    # softpatch.py:403-449). The corpus enters the key as a commutative
    # xor-of-row-hashes signature — one cheap agg over the (persisted)
    # embedding, partitioning-independent by construction — since the
    # input here is a frame, not a file; the independent numpy-mirror
    # oracle (which always refits) would hash-catch a signature collision.
    sig_row = embedded.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(
            F.xxhash64("series_id", "window_start", "patch_idx", "feature")
        ).alias("sig"),
    ).collect()[0]
    return AR.cached(
        "spbank",
        f"{sig_row['n']}|{sig_row['sig']}",
        repr(cfg),
        lambda: {"bank": {"bank": _fit_bank(embedded, cfg)}},
        AR.ARRAYS,
    )["bank"]["bank"]


def _fit_bank(embedded: DataFrame, cfg: SoftPatchConfig) -> np.ndarray:
    """The uncached fit behind :func:`fit_memory_bank_from_embedded`."""
    from ..functions.rng import rng_draw

    weighted = patch_weights(embedded, cfg)
    weighted.persist()  # two actions below (cut/count + collect) share lineage
    # one job for both driver scalars: the quantile cut and the kept-count
    # upper bound (count ≥ kept-count; the stride only needs an upper bound
    # to bound the collect, and total count is cheaper than a second action)
    row = weighted.agg(
        F.percentile("weight", F.lit(1.0 - cfg.weight_quantile)).alias("q"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    cut = row["q"]
    kept = weighted.filter(F.col("weight") <= F.lit(float(cut)))
    n_cand = int(row["n"])
    if n_cand > cfg.candidate_cap:
        stride = -(-n_cand // cfg.candidate_cap)  # ceil
        skey = F.col(SID).cast("bigint")
        eday = F.floor(F.unix_timestamp(F.col("window_start")) / 86400)
        kept = kept.filter(
            F.pmod(rng_draw(skey, eday, F.col("patch_idx"), salt=STRIDE_SALT), F.lit(stride)) == 0
        )
    # Deterministic candidate order → deterministic coreset (greedy k-center
    # picks by row index; unordered collect would vary with partitioning).
    pdf = kept.orderBy(SID, "window_start", "patch_idx").select("feature", "weight").toPandas()
    weighted.unpersist()
    feats = np.stack(pdf["feature"].to_numpy())
    w_all = pdf["weight"].to_numpy()
    idx = greedy_coreset(feats, cfg.coreset_ratio, cfg.seed, k_max=cfg.coreset_max)
    # J6 soft-weighting (softpatch.py:376-380): each bank row keeps its
    # denoising weight, normalized to [0,1]; scores multiply by the matched
    # row's weight so matches to noisy bank points score lower confidence.
    w = w_all[idx]
    w_norm = w / w.max() if w.max() > 0 else np.ones_like(w)
    return np.hstack([feats[idx], w_norm[:, None]])


def nn_weighted_scores(
    X: np.ndarray, bank: np.ndarray, row_chunk: int | None = None
) -> np.ndarray:
    """The 1-NN scoring kernel, shared verbatim by the Spark island and the
    numpy mirror (M12/J6): per row, min squared L2 to the bank → sqrt → × the
    matched bank row's denoising weight.

    Deliberately NOT the GEMM dot-product identity (‖x‖² − 2x·b + ‖b‖²):
    BLAS picks kernels — and therefore k-summation order — by matrix shape
    and thread count, so a batched executor GEMM and the mirror's one
    full-matrix GEMM can disagree in the low bits (observed: same rows,
    m=5000 vs m=12603, ≠ at ~1e-6 — enough to flip the 1e-9 oracle gate).
    Direct differences reduced over the fixed feature axis are computed
    per (row, bank-row) cell, so ANY row batching — Arrow batch, row chunk,
    full matrix — yields identical bits. Ties: first bank index wins, same
    as a global argmin; chunking over rows cannot reorder bank indices."""
    bk, bk_w = np.ascontiguousarray(bank[:, :-1]), bank[:, -1]
    if row_chunk is None:
        # The (row_chunk, bank_m, dim) float64 intermediate is the peak
        # allocation. Size the chunk to a fixed ~4 MB byte budget: small
        # enough to live in L2 (the subtract/square/sum chain re-reads the
        # intermediate 3x, so a DRAM-sized buffer is memory-bound — measured
        # 0.52 s/task at a 64 MB buffer vs 0.30 s at 4 MB for the same
        # rows), and small enough that 32 concurrent local tasks first-touch
        # 128 MB of fresh pages instead of 2 GB (the 64 MB buffer cost each
        # worker a ~5-6 s concurrent page-fault storm on its first island
        # call — measured rep0 6.4 s -> 0.33 s at chunk=32). Peak memory
        # stays flat as the bank grows, same as the old 64 MB budget.
        budget = 4 * 1024 * 1024
        row_chunk = min(512, max(1, budget // max(1, bk.shape[0] * bk.shape[1] * 8)))
    out = np.empty(len(X), dtype=np.float64)
    # r15 (guide §4.2/§4.5): ONE preallocated intermediate reused across
    # chunks. In-place subtract/square into a reused buffer performs the
    # IDENTICAL per-cell operations in the identical order as fresh
    # temporaries — same bits, no allocator traffic (row chunking cannot
    # change results: each (row, bank-row) cell is computed independently).
    dbuf = np.empty((min(row_chunk, len(X)), bk.shape[0], bk.shape[1]))
    d2buf = np.empty((min(row_chunk, len(X)), bk.shape[0]))
    for s in range(0, len(X), row_chunk):
        xc = X[s : s + row_chunk]
        d = dbuf[: len(xc)]
        d2 = d2buf[: len(xc)]
        np.subtract(xc[:, None, :], bk[None, :, :], out=d)
        np.square(d, out=d)
        d.sum(axis=2, out=d2)
        idx = d2.argmin(axis=1)
        rows = np.arange(len(xc))
        out[s : s + row_chunk] = np.sqrt(np.maximum(d2[rows, idx], 0.0)) * bk_w[idx]
    return out


def score_windows(test_windows: DataFrame, bank: np.ndarray, cfg: SoftPatchConfig) -> DataFrame:
    """M12/M13: 1-NN L2 distance to the broadcast bank per patch; window score
    = max patch score (W10). Exact search in a vectorized mapInPandas island —
    the IndexFlatL2 analog; swap in LSH/IVF for billion-row banks."""
    return score_embedded(embed_windows(test_windows, cfg), bank)


def score_embedded(embedded: DataFrame, bank: np.ndarray) -> DataFrame:
    """Score an already-embedded patch DataFrame against the broadcast bank."""
    sc = embedded.sparkSession.sparkContext
    bank_b = sc.broadcast(np.ascontiguousarray(bank))

    schema = T.StructType(
        [
            T.StructField("series_id", T.StringType()),
            T.StructField("window_start", T.TimestampType()),
            T.StructField("window_label", T.IntegerType()),
            T.StructField("patch_idx", T.IntegerType()),
            T.StructField("patch_score", T.DoubleType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bank_full = bank_b.value
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack(pdf["feature"].to_numpy())
            # J6 weighting happens inside the shared shape-independent kernel
            score = nn_weighted_scores(x, bank_full)
            yield pd.DataFrame(
                {
                    "series_id": pdf["series_id"],
                    "window_start": pdf["window_start"],
                    "window_label": pdf["window_label"],
                    "patch_idx": pdf["patch_idx"],
                    "patch_score": score,
                }
            )

    patch_scores = embedded.mapInPandas(gen, schema=schema)
    return patch_scores.groupBy(SID, "window_start", "window_label").agg(
        F.max("patch_score").alias("score")
    )


_live_caches: list[DataFrame] = []


def _release_caches() -> None:
    """Unpersist caches left behind by the *previous* softpatch run. The
    returned score DataFrame must stay cache-backed until the caller's
    action, so each run releases its predecessor's instead of its own —
    bounding a long-lived session to one run's working set."""
    while _live_caches:
        _live_caches.pop().unpersist(False)


def softpatch_scores(
    windows: DataFrame | None,
    cfg: SoftPatchConfig | None = None,
    embedded: DataFrame | None = None,
    release_previous: bool = True,
) -> DataFrame:
    """End-to-end M7-M13: train on clean windows, score all windows, min-max
    normalize scores globally (M13). Returns
    (series_id, window_start, window_label, score, score_norm).

    Pass ``embedded`` (already persisted) to share one corpus-embedding pass
    across several consumers in a session (plans/queries_ml.py memoizes it —
    Python-UDF plans don't canonicalize equal, so CacheManager can't dedupe
    them; explicit sharing can)."""
    cfg = cfg or SoftPatchConfig()
    if release_previous:
        _release_caches()
    own_embedded = embedded is None
    if own_embedded:
        # Embed the whole corpus ONCE; fit consumes the clean subset, scoring
        # the full set — the expensive windows→channels→projection pass is shared.
        embedded = embed_windows(windows, cfg)
        embedded.persist()
    bank = fit_memory_bank_from_embedded(embedded.filter(F.col("window_label") == 0), cfg)
    scored = score_embedded(embedded, bank)
    scored.persist()  # min/max action + the caller's collect share lineage
    lo_hi = scored.agg(F.min("score").alias("lo"), F.max("score").alias("hi")).collect()[0]
    # ^ materializes the scored cache end-to-end; registered handles are
    #   released by the next ML query's run (or owned by the caller's memo).
    if own_embedded:
        _live_caches.append(embedded)
    _live_caches.append(scored)
    lo, hi = float(lo_hi["lo"]), float(lo_hi["hi"])
    rng = (hi - lo) or 1.0
    return scored.withColumn("score_norm", (F.col("score") - F.lit(lo)) / F.lit(rng))
