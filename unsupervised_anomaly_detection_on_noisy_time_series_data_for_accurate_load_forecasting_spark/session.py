"""SparkSession factory.

Local test mode runs on ``local[N]`` threads, but every config here is chosen
so the same plans hold on a 1000-executor cluster at 100 TB:

- AQE on (runtime coalescing, skew-join splitting) so shuffle partition counts
  adapt to real data sizes instead of being hand-tuned per scale factor.
- UTC session timezone pins timestamp semantics to the DuckDB oracle.
- Arrow enabled for the Pandas-UDF islands (vectorized transfer).
- ANSI mode stays at the Spark 4 default (on): overflow/invalid-cast become
  errors, matching DuckDB's strictness instead of silently wrapping.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "uadlf_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session. Idempotent per-JVM."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # r15: ContextCleaner reclaims shuffle files, broadcast blocks and
        # localCheckpointed RDD blocks only after their JVM references are
        # garbage-collected — and a mostly-idle multi-GB heap can go the
        # whole session without a full GC, so a resident engine accumulates
        # dead blocks and slows down over hundreds of queries (measured:
        # median per-query inflation grows 1.08x -> 1.25x from the first to
        # the last fifth of a 271-query bench run). Spark ships a periodic
        # safety GC for exactly this (spark.cleaner.periodicGC.interval);
        # its 30min default never fires inside a ~10min run. 90s keeps
        # steady-state heap flat at any scale (the cost is one concurrent
        # full-GC cycle every interval, amortized across all queries).
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "90s"),
        )
        # r16 (§5, the mm_*/codec-family in-bench inflation): the IDLE
        # Python-worker pool is unbounded by default, and a long bench run
        # grows it monotonically (measured via tools/gc_sampler.py: 33
        # workers / 3.7 GB RSS after prepare -> 98 workers / 11.6 GB by the
        # mm_* family's slot, the exact stretch whose queries ran 3-6x over
        # their isolated walls). Capping the pool at the core count keeps a
        # full complement of warm workers for every concurrent task while
        # evicting the LRU tail — the leak, not the working set. Busy
        # workers are never evicted, and a re-fork after a burst is
        # copy-on-write-cheap because the daemon pre-imports everything
        # (below). A resident 100 TB executor has the same leak shape, just
        # slower — idle-pool bounding is the standing fix, sized to the
        # executor's task slots (overridable for deployments that want a
        # deeper warm pool).
        .config(
            "spark.python.factory.idleWorkerMaxPoolSize",
            os.environ.get("SPARK_GRAFT_PY_IDLE_POOL", cpus),
        )
        # r15: pre-import numpy/pandas/pyarrow + the engine package in the
        # worker DAEMON so forked workers inherit them copy-on-write — a
        # drained worker pool otherwise makes the next Arrow-island stage
        # pay ~2-4 s of imports in every concurrent fresh worker (measured:
        # codec islands 1.4 s isolated vs 5-15 s in-bench on a cold pool).
        # See worker_daemon.py.
        .config(
            "spark.python.daemon.module",
            "unsupervised_anomaly_detection_on_noisy_time_series_data_for_"
            "accurate_load_forecasting_spark.worker_daemon",
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextlib.contextmanager
def conf_override(spark: SparkSession, **conf: str):
    """Set session confs for the body of a ``with`` block and restore each
    one's previous value (or unset it if it had none) on the way out, also
    when the body raises. Keys are conf names, passed as ``**{name: value}``."""
    prev = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
