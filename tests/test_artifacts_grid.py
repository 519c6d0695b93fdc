"""M6 KNN-impute invariants, M23 grid runner (the S9 artifact store is
covered by tests/test_artifact_store.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.ml.imputer import (
    knn_impute_days,
)
from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.operators.timeseries import (
    regularize,
)
from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.plans.grid import (
    run_grid,
)
from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.sources.readers import (
    load_table,
)


def test_m6_knn_impute_invariants(spark, sf_dir):
    reg = regularize(load_table(spark, sf_dir, "events"))
    out = knn_impute_days(reg)
    joined = out.withColumnRenamed("value", "v_new").join(
        reg.withColumnRenamed("value", "v_old"), ["series_id", "ts"]
    )
    # observed points untouched
    touched = joined.filter(
        F.col("v_old").isNotNull() & (F.col("v_new") != F.col("v_old"))
    ).count()
    assert touched == 0
    # imputation fills a substantial share of the gaps
    stats = joined.agg(
        F.sum(F.col("v_old").isNull().cast("int")).alias("was_null"),
        F.sum((F.col("v_old").isNull() & F.col("v_new").isNotNull()).cast("int")).alias("filled"),
    ).collect()[0]
    assert stats.was_null > 0 and stats.filled > 0


def test_m23_grid_runner(spark):
    configs = {
        "exp_a": {"n": 10},
        "exp_b": {"n": 100},
        "exp_bad": {"n": -1},
    }

    def fn(s, cfg):
        if cfg["n"] < 0:
            raise ValueError("bad config")
        return s.range(cfg["n"]).count()

    res = run_grid(spark, configs, fn, max_concurrency=3)
    assert res["exp_a"] == {"ok": True, "result": 10}
    assert res["exp_b"] == {"ok": True, "result": 100}
    assert res["exp_bad"]["ok"] is False and "bad config" in res["exp_bad"]["error"]
