"""End-to-end pipeline orchestrator — the engine's analog of the reference's
``run_pipeline`` (src/pipeline.py:20-508), re-expressed as one lazy DataFrame
program per stage with explicit parquet contracts between stages.

Stages (reference stage → engine op):
1. ingest+regularize  (process_*.run)        → operators.anomaly.prepared_series
2. inject             (synth_anomaly)        → operators.anomaly.inject_anomalies
3. detect             (AD / TS-SoftPatch)    → M15 window-function detector
                                                (the SoftPatch memory bank is
                                                ml.softpatch; it does not feed
                                                this chain yet)
4. impute             (LSTM-AE)              → weekly-lag + profile imputer
5. reconstruct        (pipeline.py:314-345)  → cleaned point series
6. forecast-eval      (LF_run ×2)            → seasonal-naive A12 metrics on
                                               contaminated vs cleaned series

Unlike the reference there are no .npy/csv handoffs: each stage returns a
DataFrame; `persist_dir` optionally parquets each boundary so any stage can
be re-run/checked independently (same file-contract philosophy, columnar).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import anomaly as AN
from ..operators import forecast as FC
from ..sources.readers import load_table


@dataclass(frozen=True)
class PipelineConfig:
    contam_rate: float = AN.CONTAM_RATE
    z_threshold: float = 2.5
    forecast_lag_hours: int = 168
    split_ratio: float = 0.8
    persist_dir: str | None = None
    run_id: str = "run0"  # experiment-log key (metrics_log.MetricsLog)


def run_pipeline(spark: SparkSession, sf_dir: str, cfg: PipelineConfig | None = None) -> dict[str, DataFrame]:
    """Run the full slice; returns every stage's DataFrame keyed by name."""
    cfg = cfg or PipelineConfig()
    out: dict[str, DataFrame] = {}

    events = load_table(spark, sf_dir, "events")
    series = AN.prepared_series(events)
    out["series"] = series

    injected = AN.inject_anomalies(series, cfg.contam_rate)
    out["injected"] = injected

    flagged = AN.detect_flags(injected, z_threshold=cfg.z_threshold)
    out["flagged"] = flagged

    cleaned = AN.impute_flagged(flagged)
    out["cleaned"] = cleaned

    out["metrics"] = AN.pipeline_metrics(cleaned)

    contam_series = cleaned.select("series_id", "ts", F.col("value_contam").alias("value"))
    clean_series = cleaned.select("series_id", "ts", F.col("cleaned").alias("value"))
    fm_contam = FC.seasonal_naive_metrics(contam_series, cfg.forecast_lag_hours, cfg.split_ratio)
    fm_clean = FC.seasonal_naive_metrics(clean_series, cfg.forecast_lag_hours, cfg.split_ratio)
    out["forecast_contam"] = fm_contam
    out["forecast_cleaned"] = fm_clean
    # The reference's headline A/B: forecaster quality on cleaned vs raw
    out["forecast_ab"] = (
        fm_clean.select("series_id", F.col("smape").alias("smape_cleaned"))
        .join(fm_contam.select("series_id", F.col("smape").alias("smape_contam")), "series_id")
        .withColumn("smape_gain", F.col("smape_contam") - F.col("smape_cleaned"))
    )

    if cfg.persist_dir:
        for name in ("injected", "cleaned"):
            out[name].write.mode("overwrite").partitionBy("series_id").parquet(
                f"{cfg.persist_dir}/{name}"
            )
        # experiment-log contract (reference: mlflow log_params/log_metrics at
        # every stage, pipeline.py:136-148) — params once, metric tables per
        # stage, all columnar and re-readable
        from dataclasses import asdict

        from .metrics_log import MetricsLog

        log = MetricsLog(spark, f"{cfg.persist_dir}/mlog")
        log.log_params(cfg.run_id, "pipeline", asdict(cfg))
        log.log_metrics_df(cfg.run_id, "detection", out["metrics"], ["series_id"])
        log.log_metrics_df(cfg.run_id, "forecast_ab", out["forecast_ab"], ["series_id"])
        out["metrics_log"] = log.metrics()
    return out
