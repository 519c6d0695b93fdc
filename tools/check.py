"""Local stand-in for the driver's correctness gate.

Runs every registry query on Spark and its oracle SQL on DuckDB over the same
parquet tables, then compares row count, column names, and values
(order-insensitive; floats must match to 1e-9 relative — we aim for bit-exact
via decimal-exact aggregation). Usage:

    python tools/check.py [sf_dir] [query ...]

Query names restrict the sweep; an unknown name exits 2 before Spark starts.
"""

from __future__ import annotations

import math
import sys
import time

import duckdb


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def compare(spark_rows, duck_rows, cols):
    if len(spark_rows) != len(duck_rows):
        return f"row count {len(spark_rows)} vs {len(duck_rows)}"
    key = lambda r: tuple(str(c) for c in r)
    s = sorted([tuple(_norm_cell(c) for c in r) for r in spark_rows], key=key)
    d = sorted([tuple(_norm_cell(c) for c in r) for r in duck_rows], key=key)
    n_close = 0
    for i, (sr, dr) in enumerate(zip(s, d)):
        for j, (a, b) in enumerate(zip(sr, dr)):
            if a == b:
                continue
            if isinstance(a, float) and isinstance(b, float):
                if abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b)):
                    n_close += 1
                    continue
                return f"row {i} col {cols[j]}: {a!r} vs {b!r}"
            return f"row {i} col {cols[j]}: {a!r} vs {b!r}"
    return f"OK-approx ({n_close} non-bit-exact floats)" if n_close else None


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import os

    # numpy-mirror oracles read their input at this SF (defaults to the
    # driver's correctness SF); keep them aligned with the tables we check.
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry_mod
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.plans import (
        REGISTRY,
    )

    unknown = sorted(only - set(REGISTRY))
    if unknown:
        print(f"unknown query name(s): {' '.join(unknown)}", file=sys.stderr)
        sys.exit(2)

    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.session import (
        get_spark,
    )
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.sources.readers import (
        TABLES,
    )

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entry_mod.queries()
    if only:
        # Resolve only the selected oracles: a callable oracle trains its
        # numpy mirror, so oracle_sql() would build every one of them.
        qs = {name: fn for name, fn in qs.items() if name in only}
        specs = [REGISTRY[name] for name in qs]
        oracles = {s.name: s.oracle() if callable(s.oracle) else s.oracle for s in specs if s.oracle is not None}
    else:
        oracles = entry_mod.oracle_sql()

    n_pass = n_fail = n_weak = 0
    for name, fn in qs.items():
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spark_cols = sdf.columns
            spark_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"weak {name}: rows-only ({len(spark_rows)} rows, {time.time()-t0:.1f}s)")
            n_weak += 1
            continue
        try:
            res = con.execute(oracles[name])
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        if sorted(spark_cols) != sorted(duck_cols):
            print(f"FAIL {name}: columns {sorted(spark_cols)} vs {sorted(duck_cols)}")
            n_fail += 1
            continue
        order = [spark_cols.index(c) for c in sorted(spark_cols)]
        sr = [tuple(r[i] for i in order) for r in spark_rows]
        dorder = [duck_cols.index(c) for c in sorted(duck_cols)]
        dr = [tuple(r[i] for i in dorder) for r in duck_rows]
        diff = compare(sr, dr, sorted(spark_cols))
        if diff is None:
            print(f"PASS {name} ({len(sr)} rows, {time.time()-t0:.1f}s)")
            n_pass += 1
        elif diff.startswith("OK-approx"):
            print(f"PASS~ {name} {diff} ({len(sr)} rows)")
            n_pass += 1
        else:
            print(f"FAIL {name}: {diff}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_weak} rows-only")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
