"""The keyed artifact store (ml/artifacts.py): restore == build for both
codecs, racing writers, failed builds, and the package-source key rule."""

from __future__ import annotations

import os
import shutil
import sys
import threading

import numpy as np
import pytest
from pyspark.sql import functions as F

from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.ml import (
    artifacts as AR,
)


@pytest.fixture
def store(tmp_path, monkeypatch):
    d = tmp_path / "weights"
    monkeypatch.setenv("SPARK_GRAFT_WEIGHTS_DIR", str(d))
    return d


def _groups(seed: int = 0) -> dict:
    rs = np.random.RandomState(seed)
    return {
        "g1": {"w": rs.standard_normal((5, 3)), "b": np.array([np.nan, -0.0, np.inf])},
        "g2": {"n": np.arange(7, dtype=np.int64), "s": np.array(1.5)},
    }


def _same_arrays(a: dict, b: dict) -> bool:
    return a.keys() == b.keys() and all(
        a[g].keys() == b[g].keys()
        and all(
            x.dtype == y.dtype and x.shape == y.shape and x.tobytes() == y.tobytes()
            for x, y in ((np.asarray(a[g][p]), np.asarray(b[g][p])) for p in a[g])
        )
        for g in a
    )


def test_arrays_restore_equals_build(store):
    built = _groups()
    cold = AR.cached("t_arrays", "sig", "h", lambda: built, AR.ARRAYS)

    def no_build():
        raise AssertionError("a warm key must not build")

    warm = AR.cached("t_arrays", "sig", "h", no_build, AR.ARRAYS)
    assert _same_arrays(built, cold) and _same_arrays(built, warm)
    assert AR.artifact_access_log()["t_arrays"] == "cold"
    # any part of the key rotates it: inputs, hyper, kind
    assert AR.artifact_key("t_arrays", "sig", "h") != AR.artifact_key("t_arrays", "sig2", "h")
    assert AR.artifact_key("t_arrays", "sig", "h") != AR.artifact_key("t_arrays", "sig", "h2")
    assert AR.artifact_key("t_arrays", "sig", "h") != AR.artifact_key("t_other", "sig", "h")


def test_frame_restore_equals_build(spark, store):
    def build():
        return spark.createDataFrame(
            [(i, float(i) / 3.0, [float(i), -0.0, 1e-300]) for i in range(50)]
            + [(99, float("nan"), [float("inf")])],
            "id long, x double, v array<double>",
        )

    def bits(rows):
        return sorted((r.id, r.x.hex(), tuple(v.hex() for v in r.v)) for r in rows)

    expected = bits(build().collect())
    cold = AR.cached("t_frame", "sig", "", build, AR.frame(spark, n_files=2))
    warm = AR.cached("t_frame", "sig", "", lambda: None, AR.frame(spark, n_files=2))
    assert bits(cold.collect()) == expected and bits(warm.collect()) == expected


def test_racing_writers_leave_one_complete_artifact(store):
    n = 8
    barrier = threading.Barrier(n)
    results: list = [None] * n
    errors: list = []

    def build():
        barrier.wait(timeout=30)  # every thread misses before any stores
        return _groups(seed=7)

    def run(i):
        try:
            results[i] = AR.cached("t_race", "sig", "", build, AR.ARRAYS)
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(n)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and not errors
    assert os.listdir(store) == [f"t_race-{AR.artifact_key('t_race', 'sig', '')}"]
    assert all(_same_arrays(results[0], r) for r in results)
    assert _same_arrays(results[0], _groups(seed=7))


def test_failed_build_stores_nothing(spark, store):
    def failing_build():
        raise RuntimeError("fit failed")

    with pytest.raises(RuntimeError, match="fit failed"):
        AR.cached("t_fail", "sig", "", failing_build, AR.ARRAYS)
    # a frame whose tasks fail mid-write leaves no partial parquet dir
    bad = spark.range(20).select(
        F.when(F.col("id") == 13, F.raise_error(F.lit("row 13"))).otherwise(F.col("id")).alias("id")
    )
    with pytest.raises(Exception, match="row 13"):
        AR.cached("t_fail", "sig", "", lambda: bad, AR.frame(spark))
    assert not store.exists() or os.listdir(store) == []
    # and the next, good build of the same key stores normally
    assert _same_arrays(AR.cached("t_fail", "sig", "", _groups, AR.ARRAYS), _groups())


class _Seen(Exception):
    pass


def test_rng_source_edit_rotates_embedding_and_band_keys(spark, sf_dir, tmp_path, monkeypatch):
    """The mlembed and lshbands builds import functions/rng.py (anomaly
    injection and the LSH planes), so editing it must rotate both keys."""
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.plans import (
        queries_ml as QML,
        queries_similarity as QS,
    )

    seen: dict[str, tuple] = {}

    def spy(kind, inputs, hyper, build, codec):
        seen[kind] = (inputs, hyper)
        raise _Seen

    monkeypatch.setattr(AR, "cached", spy)
    for view in (QML._embedded, QS._bands):
        with pytest.raises(_Seen):
            view.__wrapped__(spark, sf_dir)  # the build behind the session view
    assert set(seen) == {"mlembed", "lshbands"}

    def keys():
        AR._package_fingerprint.cache_clear()
        return {kind: AR.artifact_key(kind, *args) for kind, args in seen.items()}

    copy = tmp_path / "pkg"
    shutil.copytree(AR._PKG_DIR, copy, ignore=shutil.ignore_patterns("__pycache__"))
    try:
        before = keys()
        monkeypatch.setattr(AR, "_PKG_DIR", str(copy))
        assert keys() == before  # an unedited copy keys the same
        with open(copy / "functions" / "rng.py", "ab") as f:
            f.write(b"\n# edited\n")
        after = keys()
        assert all(after[k] != before[k] for k in seen), (before, after)
    finally:
        monkeypatch.undo()
        AR._package_fingerprint.cache_clear()
