"""Per-query probe: time individual registry queries in isolation (bench
methodology: drain via collect) and optionally dump their
`explain("formatted")` plans.

Usage:
    python tools/probe.py [--sf SF_DIR] [--explain-dir DIR] [--reps N]
                          [--tag before|after] [--no-prepare] query [query ...]

For each query:
  - dumps <DIR>/<query>_<tag>.txt when --explain-dir is given
  - runs the query ``reps`` times (fresh DataFrame each rep, results drained
    with collect like bench.py) and prints min wall seconds plus each rep's
    split: ``build`` is the ``fn(spark, sf)`` call (driver-side DataFrame
    construction, including eager view builds and checkpoints), ``collect``
    is the execution and drain of the returned plan.

prepare() runs first (untimed), exactly like bench.py, so probes measure the
same thing the bench measures.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--tag", default="before")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--no-prepare", action="store_true")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark import (
        plans as _plans,
    )
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.session import (
        get_spark,
    )

    unknown = [n for n in args.queries if n not in _plans.REGISTRY]
    if unknown:
        ap.error(f"unknown query name(s): {' '.join(unknown)}")

    spark = get_spark("probe")
    spark.range(1).count()
    if not args.no_prepare:
        t0 = time.time()
        _plans.prepare(spark, args.sf)
        print(f"prepare: {time.time() - t0:.2f}s", flush=True)

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for name in args.queries:
        fn = _plans.REGISTRY[name].spark
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            df = fn(spark, args.sf)
            plan = df._jdf.queryExecution().explainString(mode)
            with open(os.path.join(args.explain_dir, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(plan)
        if args.reps <= 0:
            continue
        splits = []
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"probe:{name}")
            t0 = time.time()
            df = fn(spark, args.sf)
            t1 = time.time()
            n = len(df.collect())
            splits.append((t1 - t0, time.time() - t1))
        spark.sparkContext.setJobDescription(None)
        reps = " ".join(f"build={b:.3f}/collect={c:.3f}" for b, c in splits)
        print(f"{name}: min={min(b + c for b, c in splits):.3f}s reps=[{reps}] rows={n}", flush=True)


if __name__ == "__main__":
    main()
