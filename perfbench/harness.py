"""The measured process: one Spark session, one client issuing one call at a
time, every call checked against its oracle after the timed window.

Started by run.py with the environment it owns (see run.py); run directly
only through it. Two modes:

  harness.py build <out dir>       expected rows for every call, plus the
                                   registry_mix artifact warm-up
  harness.py run <args json>       one workload run; writes its result json
"""

from __future__ import annotations

import importlib.util
import json
import os
import pickle
import random
import sys
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import probes  # noqa: E402
import stats  # noqa: E402

PKG = "unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark"
DATA = os.path.join(HERE, "data", "sf0.001")

# The paper's chain, in the only order its data dependencies allow
# (ml_softpatch_eval reads the score view ml_softpatch_scores builds), so the
# seed does not change it. "ingest" is plans.shared.prepared_df forced by a
# count; it has no oracle and is covered by every downstream one.
PAPER_CHAIN = (
    ("ingest", None),
    ("inject", "m4_inject_anomalies"),
    ("detect", "ml_softpatch_scores"),
    ("detect", "ml_softpatch_eval"),
    ("impute", "pipeline_anomaly_e2e"),
    ("impute", "m17_ae_imputation"),
    ("forecast", "forecast_ab_neural"),
)
# The ROADMAP per-query targets that fit the run budget (README: which were
# left out and why) ...
TARGETS = (
    "g_triangles", "g_pagerank", "g_kcore", "w8_heatmap_upsample", "j_range_gap_context",
    "s_sq8_topk", "a1_price_quantiles",
)  # fmt: skip
# ... a registration-order stride sample of the other non-stream, non-chain
# queries (every 48th of 240, cheapest two kept, frozen so later registry
# edits do not move it) ...
STRIDE = ("w6_zscore_outliers", "t_ttr_hapax")
# ... and the write side: one stateful AvailableNow stream and one partitioned sink.
STREAM = ("stream_sessions", "sink_partition_prune")
REGISTRY_MIX = TARGETS + STRIDE + STREAM
WORKLOADS = ("paper_chain", "registry_mix")


@dataclass
class Call:
    name: str  # registry query name, or "ingest"
    stage: str
    query: str | None  # whose oracle checks the rows; None: no oracle
    fn: Callable  # (spark, sf_dir) -> DataFrame


@dataclass
class Record:
    call: Call
    pass_no: int
    build_s: float = 0.0
    collect_s: float = 0.0
    cols: list = field(default_factory=list)
    rows: list = field(default_factory=list)
    error: str | None = None
    spark: dict = field(default_factory=dict)

    @property
    def latency_s(self) -> float:
        return self.build_s + self.collect_s


def calls_for(workload: str, seed: int) -> list[Call]:
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark import plans

    def query(stage, name):
        return Call(name, stage, name, plans.REGISTRY[name].spark)

    if workload == "paper_chain":
        # plans.shared is looked up per call so a traced run's wrapper sees it.
        ingest = Call("ingest", "ingest", None, lambda spark, sf: plans.shared.prepared_df(spark, sf))
        return [ingest] + [query(stage, q) for stage, q in PAPER_CHAIN if q]
    if workload == "registry_mix":
        names = list(REGISTRY_MIX)
        random.Random(seed).shuffle(names)
        return [query("query", n) for n in names]
    raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")


def all_queries() -> list[str]:
    return [q for _, q in PAPER_CHAIN if q] + list(REGISTRY_MIX)


def _load_compare():
    """tools/check.py's row comparison: the same gate as the oracle sweep."""
    spec = importlib.util.spec_from_file_location("_perfbench_check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


def check_rows(compare, cols: list, rows: list, expected: tuple[list, list]) -> str | None:
    """None when ``rows`` match the oracle's, else the first difference
    (columns compared by name, rows order-insensitively, as tools/check.py)."""
    exp_cols, exp_rows = expected
    if sorted(cols) != sorted(exp_cols):
        return f"columns {sorted(cols)} vs {sorted(exp_cols)}"
    names = sorted(cols)
    order = [cols.index(c) for c in names]
    exp_order = [exp_cols.index(c) for c in names]
    diff = compare(
        [tuple(r[i] for i in order) for r in rows],
        [tuple(r[i] for i in exp_order) for r in exp_rows],
        names,
    )
    return None if diff is None or diff.startswith("OK-approx") else diff


def gate(records: list[Record], expected: dict, compare) -> int:
    """Count failed calls: an exception, or rows that differ from the oracle."""
    failed = 0
    for r in records:
        if r.error is None and r.call.query is not None:
            r.error = check_rows(compare, r.cols, r.rows, expected[r.call.query])
        if r.error is not None:
            failed += 1
            print(f"# FAIL {r.call.name} (pass {r.pass_no}): {r.error[:300]}", file=sys.stderr)
    return failed


def expected_rows(names: list[str], sf_dir: str) -> dict[str, tuple[list, list]]:
    """Oracle output per query: DuckDB SQL, or the numpy mirror's VALUES table."""
    import duckdb

    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark import plans
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.sources.readers import (
        TABLES,
    )

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        out = {}
        for n in names:
            oracle = plans.REGISTRY[n].oracle
            res = con.execute(oracle() if callable(oracle) else oracle)
            out[n] = ([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def start_session():
    """Session start plus the warm-up bench.py does: JVM, Python worker pool
    (the daemon pre-imports the package), parquet footers."""
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.session import (
        get_spark,
    )

    spark = get_spark("perfbench")
    spark.range(1).count()

    def _ident(it):
        yield from it

    spark.range(64).select("id").mapInPandas(_ident, schema="id long").count()
    for t in ("region nation customer supplier part orders lineitem events documents embeddings").split():
        spark.read.parquet(f"{DATA}/{t}.parquet").schema
    return spark


def run_call(spark, call: Call, sf_dir: str, pass_no: int) -> Record:
    """Build (the callable) and drain (collect, or count without an oracle)."""
    rec = Record(call, pass_no)
    t0 = time.perf_counter()
    try:
        df = call.fn(spark, sf_dir)
        t1 = time.perf_counter()
        if call.query is None:
            rec.rows = [(df.count(),)]
        else:
            rec.cols = list(df.columns)
            rec.rows = [tuple(r) for r in df.collect()]
        rec.build_s, rec.collect_s = t1 - t0, time.perf_counter() - t1
    except Exception as e:  # a failing call is counted, not fatal
        rec.build_s = time.perf_counter() - t0
        rec.error = f"{type(e).__name__}: {e}"
    return rec


def _fresh_chain_state(run_dir: str, pass_no: int) -> str:
    """A later paper_chain pass must be as cold as the first: an empty
    artifact dir, and a new copy of the tables so every session view keyed
    by the table path is built again."""
    import shutil

    weights = os.path.join(run_dir, f"weights-{pass_no}")
    os.makedirs(weights)
    os.environ["SPARK_GRAFT_WEIGHTS_DIR"] = weights
    sf_dir = os.path.join(run_dir, f"data-{pass_no}")
    shutil.copytree(DATA, sf_dir)
    return sf_dir


def install_wraps(tracer: probes.Tracer) -> None:
    """Spans around the public functions of the layers the trace splits."""
    import importlib

    def mod(name):
        return importlib.import_module(f"{PKG}.{name}")

    shared = mod("plans.shared")
    for attr in sorted(vars(shared)):
        if attr.endswith("_df") and callable(getattr(shared, attr)):
            tracer.wrap(shared, attr, f"plans.shared.{attr}")
    tracer.wrap(mod("ml.softpatch"), "fit_memory_bank_from_embedded", "ml.softpatch.fit")
    tracer.wrap(mod("plans.queries_neural"), "ensure_ae_weights", "ml.ae.fit")
    tracer.wrap(mod("plans.queries_neural"), "ensure_fc_weights", "ml.fc.ensure")
    tracer.wrap(mod("ml.forecaster"), "collect_train", "ml.fc.collect_train")
    tracer.wrap(mod("ml.forecaster"), "fit_ab_models", "ml.fc.fit")
    for name in ("streaming.score_stream", "streaming.stateful"):
        m = mod(name)
        for attr, fn in sorted(vars(m).items()):
            if not attr.startswith("_") and callable(fn) and getattr(fn, "__module__", None) == m.__name__:
                tracer.wrap(m, attr, f"{name}.{attr}")


def run_workload(a: dict) -> dict:
    workload, seed, seconds, traced = a["workload"], a["seed"], a["seconds"], a["trace"]
    t_spawn, run_dir = a["t_spawn"], a["run_dir"]
    sampler = probes.ProcSampler(os.getpid()).start() if traced else None

    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark import plans
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.ml import (
        artifacts,
    )

    spark = start_session()
    sc = spark.sparkContext
    cores = sc.defaultParallelism
    session_s = time.time() - t_spawn
    run_id = f"{workload}-{seed}-{os.getpid()}"
    tracer = probes.Tracer(run_id) if traced else None
    jobs = probes.SparkJobs(sc) if traced else None
    listener = probes.stream_listener(spark) if traced else None
    if traced:
        install_wraps(tracer)
    layer: dict[str, float] = {}

    prepare_items: dict[str, float] = {}
    if workload == "registry_mix":
        span = tracer.open("plans.prepare") if traced else None
        if traced:
            jobs.begin("prepare")
        t0 = time.perf_counter()
        prepare_items = plans.prepare(spark, DATA)
        layer["plans.prepare_s"] = time.perf_counter() - t0
        if traced:
            tracer.close(span)
            span.attrs = {"spark": jobs.end("prepare"), "items": prepare_items}
    if traced:
        layer["plans.cached_views.setup"], layer["plans.cached_mb.setup"] = probes.cached_storage(sc)

    calls = calls_for(workload, seed)
    records: list[Record] = []
    pass_walls: list[float] = []
    hook_s = 0.0
    cpu0 = probes.cpu_by_class(os.getpid(), probes.process_tree(os.getpid())) if traced else None
    setup_s = time.time() - t_spawn
    steal0 = probes.host_steal_s()
    window0 = time.perf_counter()
    pass_no = 0
    # Closed loop: whole passes over the call list until --seconds is used up.
    while pass_no == 0 or time.perf_counter() - window0 < seconds:
        sf_dir = DATA if pass_no == 0 or workload != "paper_chain" else _fresh_chain_state(run_dir, pass_no)
        p0 = time.perf_counter()
        for call in calls:
            group = f"{run_id}/{pass_no}/{call.name}"
            if traced:
                jobs.begin(group)
                span = tracer.open(f"call.{call.stage}", call=call.name)
            rec = run_call(spark, call, sf_dir, pass_no)
            if traced:
                tracer.close(span)
                h0 = time.perf_counter()
                rec.spark = jobs.end(group)
                span.attrs.update(spark=rec.spark, build_s=rec.build_s, collect_s=rec.collect_s)
                hook_s += time.perf_counter() - h0
            records.append(rec)
        pass_walls.append(time.perf_counter() - p0)
        pass_no += 1
    window_s = time.perf_counter() - window0
    steal_s = probes.host_steal_s() - steal0

    compare = _load_compare()
    with open(a["expected"], "rb") as f:
        expected = pickle.load(f)
    failed = gate(records, expected, compare)
    attempted = len(records)
    wall_s = stats.median(pass_walls)
    metrics = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "wall_s": {"value": wall_s, "unit": "s"},
        "query_p50_s": {"value": stats.median([r.latency_s for r in records]), "unit": "s"},
    }
    info = {
        "workload": workload,
        "seed": seed,
        "traced": traced,
        "passes": pass_no,
        "calls_per_pass": len(calls),
        "order": [c.name for c in calls],
        "seed_effect": "none: data dependencies fix the stage order" if workload == "paper_chain" else "call order",
        "failed_ratio": stats.failed_ratio(attempted, failed),
        "artifacts": artifacts.artifact_access_log(),
        "prepare_items": prepare_items,
        "host_steal_s": steal_s,
    }

    if traced:
        cpu1 = probes.cpu_by_class(os.getpid(), probes.process_tree(os.getpid()))
        layer.update(_layer_metrics(records, tracer, window0, window_s, cores))
        layer["session.start_s"] = session_s
        layer["plans.prepare.items_sum_s"] = sum(prepare_items.values())
        layer["plans.prepare.longest_item_s"] = max(prepare_items.values(), default=0.0)
        layer.setdefault("plans.prepare_s", 0.0)
        log = artifacts.artifact_access_log()
        layer["ml.artifacts.warm"] = sum(1 for v in log.values() if v == "warm")
        layer["ml.artifacts.cold"] = sum(1 for v in log.values() if v == "cold")
        layer["cpu.jvm_s"] = cpu1["jvm"] - cpu0["jvm"]
        layer["cpu.pyworkers_s"] = cpu1["pyworker"] - cpu0["pyworker"]
        layer["cpu.driver_py_s"] = cpu1["driver"] - cpu0["driver"]
        layer["plans.cached_views.end"], layer["plans.cached_mb.end"] = probes.cached_storage(sc)
        layer["mem.jvm_live_heap_mb"] = probes.jvm_live_heap_mb(spark)
        # Listener events arrive asynchronously; let the last ones land.
        n = -1
        while n != len(listener.progress):
            n = len(listener.progress)
            time.sleep(0.5)
        layer.update(probes.stream_metrics(listener.progress))
        layer["trace.hook_s"] = hook_s
        layer["host.steal_s"] = steal_s
        info["traced_wall_s"] = wall_s
        info["unseen_calls"] = tracer.unseen
        sampler.stop()
        layer["mem.tree_rss_peak_mb"] = sampler.peak_tree / probes.MB
        layer["pyworkers.peak"] = sampler.peak_workers
        layer["mem.jvm_rss_peak_mb"] = sampler.peak["jvm"] / probes.MB
        layer["mem.pyworkers_rss_peak_mb"] = sampler.peak["pyworker"] / probes.MB
        tracer.write(a["trace_path"])
    return {
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
        "layer": layer,
        "info": info,
        "calls": [
            {"name": r.call.name, "pass": r.pass_no, "build_s": r.build_s, "collect_s": r.collect_s, "rows": len(r.rows),
             "error": r.error, **({"spark": r.spark} if r.spark else {})}
            for r in records
        ],
    }  # fmt: skip


def _layer_metrics(records, tracer, window0, window_s, cores) -> dict[str, float]:
    out: dict[str, float] = {}
    out["plans.query.build_s"] = sum(r.build_s for r in records)
    out["plans.query.collect_s"] = sum(r.collect_s for r in records)
    for stage in ("ingest", "inject", "detect", "impute", "forecast"):
        out[f"chain.{stage}_s"] = sum(r.latency_s for r in records if r.call.stage == stage)
    in_window = [s for s in tracer.spans if s.start >= window0]
    for name, metric in (
        ("ml.softpatch.fit", "ml.softpatch.fit_s"),
        ("ml.ae.fit", "ml.ae.fit_s"),
        ("ml.fc.collect_train", "ml.fc.collect_train_s"),
        ("ml.fc.fit", "ml.fc.fit_s"),
    ):
        out[metric] = sum(s.duration for s in in_window if s.name == name)
    spark = [r.spark for r in records]
    for k in spark[0]:
        out[k] = max(s[k] for s in spark) if k == "spark.peak_exec_mem_mb" else sum(s[k] for s in spark)
    out["spark.core_busy"] = out["spark.task_s"] / (window_s * cores)
    return out


def build(out_dir: str) -> None:
    """Expected rows for every call, then one untimed prepare() that fills
    registry_mix's private artifact dir (so every timed run restores warm)."""
    t0 = time.time()
    exp = expected_rows(all_queries(), DATA)
    with open(os.path.join(out_dir, "expected.pkl"), "wb") as f:
        pickle.dump(exp, f)
    print(f"# build: {len(exp)} oracles in {time.time() - t0:.1f}s", file=sys.stderr)
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark import plans

    spark = start_session()
    plans.prepare(spark, DATA)
    print(f"# build: warm-up done in {time.time() - t0:.1f}s", file=sys.stderr)


def main() -> int:
    mode, arg = sys.argv[1], sys.argv[2]
    if mode == "build":
        build(arg)
        return 0
    with open(arg) as f:
        a = json.load(f)
    try:
        result = run_workload(a)
    except Exception:
        traceback.print_exc()
        return 1
    with open(a["result_path"], "w") as f:
        json.dump(result, f)
    sys.stderr.flush()
    # run.py kills the JVM and its workers; skipping spark.stop() saves the
    # seconds of an orderly shutdown in every run.
    os._exit(0)


if __name__ == "__main__":
    sys.exit(main())
