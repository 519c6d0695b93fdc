"""Smoke + semantics for the end-to-end pipeline orchestrator."""

from __future__ import annotations

from pyspark.sql import functions as F

from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.plans.pipeline import (
    PipelineConfig,
    run_pipeline,
)


def test_pipeline_end_to_end(spark, sf_dir, tmp_path):
    out = run_pipeline(
        spark, sf_dir, PipelineConfig(persist_dir=str(tmp_path / "stages"))
    )
    assert {"series", "injected", "flagged", "cleaned", "metrics", "forecast_ab"} <= set(out)
    m = out["metrics"].agg(
        F.sum("tp").alias("tp"), F.sum("fp").alias("fp"), F.sum("fn").alias("fn")
    ).collect()[0]
    assert m.tp + m.fn > 0  # injected anomalies exist
    assert m.tp > 0  # and the detector finds some
    ab = out["forecast_ab"].collect()
    assert ab and all(r.smape_cleaned is not None for r in ab)
    # stage contract persisted and re-readable
    back = spark.read.parquet(str(tmp_path / "stages" / "cleaned"))
    assert back.count() == out["cleaned"].count()


def test_metrics_log_contract(spark, sf_dir, tmp_path):
    """The persisted experiment-log (MLflow analog) round-trips with the
    documented schema and carries both pipeline stages."""
    out = run_pipeline(
        spark, sf_dir, PipelineConfig(persist_dir=str(tmp_path / "st"), run_id="r1")
    )
    mlog = out["metrics_log"]
    assert set(mlog.columns) == {"run_id", "stage", "metric", "value"}
    stages = {r.stage for r in mlog.select("stage").distinct().collect()}
    assert {"detection", "forecast_ab"} <= stages
    assert mlog.filter(F.col("value").isNull()).count() == 0
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.plans.metrics_log import (
        MetricsLog,
    )

    log = MetricsLog(spark, str(tmp_path / "st" / "mlog"))
    params = log.params()
    assert set(params.columns) == {"run_id", "stage", "param", "value"}
    assert params.filter(F.col("param") == "z_threshold").count() == 1
    # append semantics: a second run accumulates, partitioned by run_id
    log.log_metrics("r2", "extra", {"x": 1.0})
    assert log.metrics().filter(F.col("run_id") == "r2").count() == 1
    assert log.metrics().filter(F.col("run_id") == "r1").count() > 0


def test_grid_logs_metrics(spark, tmp_path):
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.plans.grid import (
        run_grid,
    )
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.plans.metrics_log import (
        MetricsLog,
    )

    log = MetricsLog(spark, str(tmp_path / "g"))
    res = run_grid(
        spark,
        {"a": {"k": 1}, "b": {"k": 2}},
        lambda s, cfg: {"score": cfg["k"] * 2.0},
        log=log,
        run_id="g1",
    )
    assert res["a"]["ok"] and res["b"]["ok"]
    m = {(r.stage, r.metric): r.value for r in log.metrics().collect()}
    assert m[("a", "score")] == 2.0 and m[("b", "score")] == 4.0
    assert log.params().filter(F.col("param") == "k").count() == 2


def test_holiday_calendar_builder(spark):
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.operators.calendar import (
        easter_sunday,
        french_holidays,
    )
    import datetime

    # known Easters (public record)
    assert easter_sunday(2024) == datetime.date(2024, 3, 31)
    assert easter_sunday(2025) == datetime.date(2025, 4, 20)
    h24 = dict(french_holidays([2024]))
    assert datetime.date(2024, 4, 1) in h24  # Lundi de Pâques
    assert datetime.date(2024, 5, 9) in h24  # Ascension
    assert datetime.date(2024, 7, 14) in h24
    assert len(h24) == 11
