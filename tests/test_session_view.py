"""The session-view mechanism (plans.shared.session_view): first-touch
races build once, a new sf_dir evicts and unpersists the old entries, a
failed build stores nothing, and a cold prepare() builds every view once."""

from __future__ import annotations

import shutil
import sys
import threading
import time

import pytest
from pyspark import StorageLevel

from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark import (
    plans,
)
from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.plans.shared import (
    session_view,
    view_persist,
    view_stats,
)


def _builds(fn) -> int:
    return view_stats()[f"{fn.__module__.rsplit('.', 1)[-1]}.{fn.__qualname__}"]["builds"]


def test_concurrent_first_touch_builds_once():
    calls = []

    @session_view
    def slow_view(spark, sf_dir):
        calls.append(sf_dir)
        time.sleep(0.05)  # keep the build open while the others arrive
        return object()

    n = 16
    barrier = threading.Barrier(n)
    got = [None] * n

    def touch(i):
        barrier.wait(timeout=10)
        got[i] = slow_view(None, "sf")

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=touch, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert calls == ["sf"]
    assert _builds(slow_view) == 1
    assert all(g is got[0] for g in got)


def test_new_sf_dir_unpersists_old_entries(spark):
    # every build gets its own plan: the CacheManager matches cached data
    # by plan, so equal plans would share one cache entry
    sizes = iter(range(100, 200))

    def frame():
        return spark.range(next(sizes))

    @session_view
    def frame_view(spark, sf_dir):
        return view_persist(frame())

    @session_view
    def tuple_view(spark, sf_dir, method):
        # (result, *cache handles): every DataFrame member is released
        return (frame(), frame().persist(), frame().persist())

    old = frame_view(spark, "sf_a")
    old.count()
    handles = tuple_view(spark, "sf_a", "m1")[1:] + tuple_view(spark, "sf_a", "m2")[1:]
    assert old.storageLevel != StorageLevel.NONE
    assert all(h.storageLevel != StorageLevel.NONE for h in handles)
    assert tuple_view(spark, "sf_a", "m1") is tuple_view(spark, "sf_a", "m1")

    new = frame_view(spark, "sf_b")
    assert new is not old
    assert old.storageLevel == StorageLevel.NONE
    tuple_view(spark, "sf_b", "m1")
    assert all(h.storageLevel == StorageLevel.NONE for h in handles)
    new.unpersist(False)


def test_failed_build_stores_nothing():
    attempts = []

    @session_view
    def flaky_view(spark, sf_dir):
        attempts.append(sf_dir)
        if len(attempts) == 1:
            raise RuntimeError("transient build failure")
        return len(attempts)

    with pytest.raises(RuntimeError):
        flaky_view(None, "sf")
    assert _builds(flaky_view) == 0
    assert flaky_view(None, "sf") == 2
    assert flaky_view(None, "sf") == 2
    assert attempts == ["sf", "sf"]
    assert _builds(flaky_view) == 1


def test_view_storage_env_is_validated(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_VIEW_STORAGE", "MEMORY_AND_DISKK")
    with pytest.raises(ValueError, match="SPARK_GRAFT_VIEW_STORAGE.*DISK_ONLY"):
        view_persist(spark.range(1))


def test_cold_prepare_builds_each_view_once(spark, sf_dir, tmp_path, monkeypatch):
    # a fresh sf_dir and an empty artifact store: every view and every
    # model artifact is built from scratch, concurrently, by prepare()
    data = tmp_path / "data"
    shutil.copytree(sf_dir, data)
    (tmp_path / "weights").mkdir()
    monkeypatch.setenv("SPARK_GRAFT_WEIGHTS_DIR", str(tmp_path / "weights"))

    before = view_stats()
    items = plans.prepare(spark, str(data))
    built = {
        n: s["builds"] - before.get(n, {"builds": 0})["builds"]
        for n, s in view_stats().items()
    }
    built = {n: b for n, b in built.items() if b}
    assert "shared.hourly_df" in built
    assert {n.rsplit(".", 1)[1] for n in built} >= set(items) - {"_ensure_banks"}
    assert built == {n: 1 for n in built}
