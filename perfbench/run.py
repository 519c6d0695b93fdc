"""Benchmark entry point.

    python3 perfbench/run.py --workload {paper_chain,registry_mix} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. It owns the run environment: Spark's Python
workers get PYTHONPATH=<repo root>, local[<cores>] comes from
SPARK_GRAFT_CPUS, and every scratch, spill, checkpoint and artifact path lies
under <repo root>/.perfbench_work, so nothing is read or written outside the
checkout (the repository's own .weights_cache is never touched).

The first run in a checkout builds: it computes every call's expected rows
from the registry oracles and warms registry_mix's private artifact dir; the
build is keyed by a hash of the sources and tables and is redone when they
change. Each run then starts harness.py in its own process group, waits for
it, kills whatever it left behind, and prints one JSON result line last.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

import stats  # noqa: E402
from harness import PKG, WORKLOADS  # noqa: E402

RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700


def source_key() -> str:
    """Hash of everything the expected rows and warm artifacts depend on."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "__spark_entry__.py"), os.path.join(ROOT, "tools", "check.py")]
    for base in (os.path.join(ROOT, PKG), HERE):
        for d, dirs, names in os.walk(base):
            dirs[:] = sorted(x for x in dirs if not x.startswith((".", "__pycache__")))
            files += [os.path.join(d, n) for n in sorted(names) if n.endswith((".py", ".parquet"))]
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def child_env(run_dir: str, weights: str) -> dict[str, str]:
    env = dict(os.environ)
    cores = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(run_dir, "tmp")
    for d in ("tmp", "local", "stream"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.makedirs(weights, exist_ok=True)
    env.update(
        PYTHONPATH=ROOT,
        SPARK_GRAFT_CPUS=cores,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        SPARK_GRAFT_WEIGHTS_DIR=weights,
        SPARK_GRAFT_ORACLE_SF_DIR=os.path.join(HERE, "data", "sf0.001"),
        SPARK_GRAFT_STREAM_CKPT_DIR=os.path.join(run_dir, "stream"),
        TMPDIR=tmp,
        # UsePerfData would write /tmp/hsperfdata_<user> whatever the tmpdir.
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONDONTWRITEBYTECODE="1",
    )
    env.pop("OMP_NUM_THREADS", None)
    return env


def run_child(argv: list[str], run_dir: str, weights: str, timeout: float) -> int:
    """Run ``harness.py argv`` in a new session; afterwards kill and reap
    every process left in that session. The harness leaves its JVM for this
    (a clean shutdown costs seconds per run), and Spark's worker daemon moves
    to its own process group, so the whole session is swept, not the group."""
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "harness.py"), *argv],
        cwd=run_dir,
        env=child_env(run_dir, weights),
        stdout=sys.stderr,
        start_new_session=True,
    )
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"# harness exceeded {timeout}s", file=sys.stderr)
        code = -1
    finally:
        deadline = time.time() + 30
        while (pids := _session_pids(proc.pid)) and time.time() < deadline:
            for pid in pids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            if proc.poll() is None:
                proc.wait()
            time.sleep(0.05)
        if pids:
            print(f"# processes {pids} outlived the run", file=sys.stderr)
            code = code or -1
    return code


def _session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes in session ``sid``."""
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[3]) == sid and fields[0] != "Z":
                out.append(int(name))
    return out


def ensure_build() -> str:
    key = source_key()
    marker = os.path.join(WORK, "build.json")
    out = os.path.join(WORK, "build")
    try:
        with open(marker) as f:
            if json.load(f).get("key") == key:
                return out
    except (OSError, ValueError):
        pass
    for stale in (out, os.path.join(WORK, "weights-registry_mix")):
        shutil.rmtree(stale, ignore_errors=True)
    # Runs of other sources would skew the tracing-overhead baseline.
    if os.path.exists(os.path.join(WORK, "runs.jsonl")):
        os.remove(os.path.join(WORK, "runs.jsonl"))
    os.makedirs(out)
    run_dir = os.path.join(WORK, "run-build")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    t0 = time.time()
    code = run_child(["build", out], run_dir, os.path.join(WORK, "weights-registry_mix"), BUILD_TIMEOUT_S)
    shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0:
        raise SystemExit(f"perfbench: build failed (exit {code})")
    with open(marker, "w") as f:
        json.dump({"key": key, "build_s": time.time() - t0}, f)
    return out


def untraced_median_wall(workload: str) -> tuple[float, int] | None:
    """(median wall_s, count) over this checkout's untraced runs of ``workload``."""
    try:
        with open(os.path.join(WORK, "runs.jsonl")) as f:
            walls = [
                r["metrics"]["wall_s"]["value"]
                for r in map(json.loads, f)
                if r["info"]["workload"] == workload and not r["info"]["traced"]
            ]
    except OSError:
        return None
    return (stats.median(walls), len(walls)) if walls else None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in ("__spark_entry__.py", PKG, os.path.join("tools", "check.py")) if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine (missing {', '.join(missing)})", file=sys.stderr)
        return 2

    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    build_dir = ensure_build()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    weights = os.path.join(WORK, "weights-registry_mix") if args.workload == "registry_mix" else os.path.join(run_dir, "weights-0")
    result_path = os.path.join(run_dir, "result.json")
    trace_path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
    spec = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "run_dir": run_dir,
        "expected": os.path.join(build_dir, "expected.pkl"),
        "result_path": result_path,
        "trace_path": trace_path,
    }
    with open(os.path.join(run_dir, "spec.json"), "w") as f:
        spec["t_spawn"] = time.time()
        json.dump(spec, f)
        f.flush()
    code = run_child(["run", os.path.join(run_dir, "spec.json")], run_dir, weights, RUN_TIMEOUT_S)
    try:
        with open(result_path) as f:
            res = json.load(f)
    except OSError:
        res = None
    shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0 or res is None:
        print(f"perfbench: {args.workload} run failed (exit {code})", file=sys.stderr)
        return 1

    info = res["info"]
    with open(os.path.join(WORK, "runs.jsonl"), "a") as f:
        f.write(json.dumps({k: res[k] for k in ("metrics", "layer", "info", "calls", "attempted", "failed")}) + "\n")
    for name, m in res["metrics"].items():
        print(f"{args.workload} {name} = {m['value']:.4f} {m['unit']}")
    print(f"{args.workload} failed_ratio = {info['failed_ratio']} ({res['failed']}/{res['attempted']} calls)")
    print(f"{args.workload} host steal during the timed window = {info['host_steal_s']:.2f} CPU s")
    metrics = res["metrics"]
    if args.trace:
        base = untraced_median_wall(args.workload)
        overhead = (
            f"{info['traced_wall_s'] - base[0]:+.3f} s against the median of {base[1]} untraced runs in this checkout"
            if base
            else "unknown: no untraced run in this checkout yet"
        )
        print(f"{args.workload} tracing overhead (traced wall_s minus untraced median) = {overhead}")
        print(f"{args.workload} trace written to {os.path.relpath(trace_path, ROOT)}")
        for u in info["unseen_calls"]:
            print(f"{args.workload} not traced: {u}")
        units = _layer_units()
        metrics = {k: {"value": float(res["layer"][k]), "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}))
    return 0


def _layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
