"""Invariant tests for the ML memory-bank layer (golden-free but pinned:
determinism, coreset size law, mask/window alignment, score separation)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.ml.softpatch import (
    SoftPatchConfig,
    _channel_features,
    fit_memory_bank,
    greedy_coreset,
    score_windows,
    softpatch_scores,
)
from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.ml.windows import (
    day_windows,
)
from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.operators import (
    anomaly as AN,
)
from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.sources.readers import (
    load_table,
)


@pytest.fixture(scope="module")
def windows(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    points = AN.inject_anomalies(AN.prepared_series(ev))
    w = day_windows(points)
    w.cache().count()
    return w


def test_windows_shape(windows):
    cfg = SoftPatchConfig()
    rows = windows.limit(5).collect()
    assert rows, "no complete day windows materialized"
    for r in rows:
        assert len(r.points) == cfg.day_size
        assert len(r.gt) == cfg.day_size
        assert r.window_label == int(any(g == 1 for g in r.gt))


def test_channel_features_shape():
    cfg = SoftPatchConfig()
    pts = np.arange(cfg.day_size, dtype=float)
    ch = _channel_features(pts, cfg)
    assert ch.shape == (3, cfg.day_size)
    assert np.allclose(ch[0], pts)
    # EWMA is seeded with x0 and bounded by the running min/max
    assert ch[2][0] == pts[0]
    assert (ch[2] <= pts.max()).all() and (ch[2] >= pts.min()).all()


def test_greedy_coreset_size_and_membership():
    rs = np.random.RandomState(0)
    feats = rs.standard_normal((200, 8))
    idx = greedy_coreset(feats, ratio=0.1, seed=42)
    assert len(idx) == 20
    assert len(set(idx.tolist())) == 20  # no repeats


def test_scores_deterministic(windows):
    cfg = SoftPatchConfig()
    a = {(r.series_id, str(r.window_start)): r.score_norm for r in softpatch_scores(windows, cfg).collect()}
    b = {(r.series_id, str(r.window_start)): r.score_norm for r in softpatch_scores(windows, cfg).collect()}
    assert a == b


def test_anomalous_windows_score_higher(windows):
    cfg = SoftPatchConfig()
    scored = softpatch_scores(windows, cfg)
    m = (
        scored.groupBy("window_label")
        .agg(F.avg("score_norm").alias("avg_s"))
        .collect()
    )
    by_label = {r.window_label: r.avg_s for r in m}
    assert set(by_label) == {0, 1}
    assert by_label[1] > by_label[0], f"anomalous windows should score higher: {by_label}"


def test_bank_fits_and_scores(windows):
    cfg = SoftPatchConfig()
    train = windows.filter(F.col("window_label") == 0)
    bank = fit_memory_bank(train, cfg)
    # features + the J6 soft-weight column
    assert bank.ndim == 2 and bank.shape[1] == cfg.embed_dim + 1
    assert (bank[:, -1] >= 0).all() and (bank[:, -1] <= 1).all()
    scored = score_windows(windows.limit(20), bank, cfg)
    rows = scored.collect()
    assert all(r.score >= 0 for r in rows)


@pytest.mark.filterwarnings("error::UserWarning")
def test_lof_weights_mode(windows):
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.ml.softpatch import (
        embed_windows,
        patch_weights,
    )

    cfg = SoftPatchConfig()
    emb = embed_windows(windows.limit(100), cfg)
    w = patch_weights(emb, cfg, mode="lof")
    rows = w.collect()
    assert rows and all(r.weight >= 0 for r in rows)
    # LOF ≈ 1 for inliers; population mean should sit near 1
    mean_w = sum(r.weight for r in rows) / len(rows)
    assert 0.8 < mean_w < 2.0, mean_w


def test_lof_numpy_basics():
    import numpy as np

    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.ml.softpatch import (
        _lof_weights,
    )

    rs = np.random.RandomState(0)
    cluster = rs.standard_normal((50, 4)) * 0.1
    outlier = np.full((1, 4), 5.0)
    lof = _lof_weights(np.vstack([cluster, outlier]))
    assert lof[-1] > 2.0  # far point flagged
    assert np.median(lof[:-1]) < 1.5


def test_backbone_plug_point(windows):
    """M8: a real (CNN-shaped) numpy backbone slots into the embedding island
    without touching any Spark plumbing — proving the torch/timm plug point
    is load-bearing, not decorative."""
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.ml.softpatch import (
        embed_windows,
        score_embedded,
        fit_memory_bank_from_embedded,
    )

    cfg = SoftPatchConfig()
    rs = np.random.RandomState(7)
    k1 = rs.standard_normal((4, 1, 3)) * 0.5   # conv: 4 filters, kernel 3
    w2 = rs.standard_normal((4 * (cfg.patch_size * 3 - 2) // 2, cfg.embed_dim)) * 0.1

    def cnn_backbone(flat):
        # flat: (b, 3*patch) -> 1D conv over the flattened channel-patch,
        # ReLU, stride-2 pool, dense head -> (b, embed_dim)
        b, L = flat.shape
        x = flat[:, None, :]
        conv = np.stack(
            [sum(k1[f, 0, j] * x[:, 0, j : L - 2 + j] for j in range(3)) for f in range(4)],
            axis=1,
        )  # (b, 4, L-2)
        act = np.maximum(conv, 0.0)[:, :, ::2]  # pool
        return act.reshape(b, -1) @ w2

    emb = embed_windows(windows, cfg, backbone=cnn_backbone)
    rows = emb.limit(10).collect()
    assert rows and all(len(r.feature) == cfg.embed_dim for r in rows)
    # end-to-end: fit + score run unchanged on the swapped backbone
    bank = fit_memory_bank_from_embedded(emb.filter(F.col("window_label") == 0), cfg)
    assert bank.shape[1] == cfg.embed_dim + 1  # features + J6 weight
    scored = score_embedded(emb, bank)
    assert scored.filter(F.col("score").isNull()).count() == 0
    # determinism of the swapped-backbone pipeline
    a = {(r.series_id, str(r.window_start)): r.score for r in scored.collect()}
    b2 = {(r.series_id, str(r.window_start)): r.score for r in score_embedded(emb, bank).collect()}
    assert a == b2
