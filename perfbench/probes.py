"""Measurement from outside the program: /proc sampling, Spark status-store
reads, a streaming listener and function wrappers that record spans.

An untraced run reads only the host's steal counter; everything else here is
installed by a traced run alone.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time

from stats import Span, self_times

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
MB = 1024.0 * 1024.0


def _read_stat(pid: int) -> tuple[int, str, float, float, int] | None:
    """(ppid, comm, own cpu s, reaped-children cpu s, rss bytes) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode(errors="replace")
    except OSError:
        return None
    lp, rp = raw.index("("), raw.rindex(")")
    comm = raw[lp + 1 : rp]
    f = raw[rp + 2 :].split()
    # fields after comm: state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14 rss=21
    own = (int(f[11]) + int(f[12])) / _TICK
    reaped = (int(f[13]) + int(f[14])) / _TICK
    return int(f[1]), comm, own, reaped, int(f[21]) * _PAGE


def host_steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests since boot, summed
    over this machine's CPUs; a run that overlaps a burst of it is slow for
    reasons outside the program."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def process_tree(root: int) -> dict[int, tuple[int, str, float, float, int]]:
    """Every live process under ``root`` (inclusive), keyed by pid."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                stats[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, st in stats.items():
        kids.setdefault(st[0], []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(kids.get(pid, ()))
    return out


def classify(root: int, tree: dict) -> dict[int, str]:
    """driver (the benchmark's own Python), jvm, or pyworker (everything the
    JVM forked: the worker daemon and the workers it forks)."""
    return {pid: "driver" if pid == root else "jvm" if st[1] == "java" else "pyworker" for pid, st in tree.items()}


def cpu_by_class(root: int, tree: dict) -> dict[str, float]:
    """CPU seconds per class. A worker that exits is reaped by the daemon, so
    its time moves into the daemon's reaped-children counter; counting the
    daemon's reaped time plus every live worker's own time loses nothing."""
    cls = classify(root, tree)
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid, (ppid, _comm, own, reaped, _rss) in tree.items():
        out[cls[pid]] += own
        if cls[pid] == "pyworker" and cls.get(ppid) == "jvm":
            out["pyworker"] += reaped
    return out


class ProcSampler:
    """Samples the process tree's RSS on a background thread."""

    def __init__(self, root: int, interval: float = 0.05):
        self.root = root
        self.interval = interval
        self.peak_tree = 0
        self.peak = {"jvm": 0, "pyworker": 0}
        self.peak_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="perfbench-proc", daemon=True)

    def sample(self) -> None:
        tree = process_tree(self.root)
        cls = classify(self.root, tree)
        by = {"driver": 0, "jvm": 0, "pyworker": 0}
        for pid, st in tree.items():
            by[cls[pid]] += st[4]
        self.peak_tree = max(self.peak_tree, sum(by.values()))
        for k in self.peak:
            self.peak[k] = max(self.peak[k], by[k])
        self.peak_workers = max(self.peak_workers, sum(1 for c in cls.values() if c == "pyworker"))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> ProcSampler:
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()


# Stage fields read from Spark's status store: StageData accessor -> (metric, scale).
_STAGE_FIELDS = (
    ("numTasks", "spark.tasks", 1),
    ("executorRunTime", "spark.task_s", 1e-3),
    ("executorCpuTime", "spark.cpu_s", 1e-9),
    ("jvmGcTime", "spark.gc_s", 1e-3),
    ("inputBytes", "spark.input_mb", 1 / MB),
    ("shuffleReadBytes", "spark.shuffle_read_mb", 1 / MB),
    ("shuffleWriteBytes", "spark.shuffle_write_mb", 1 / MB),
    ("memoryBytesSpilled", "spark.spill_mb", 1 / MB),
    ("diskBytesSpilled", "spark.spill_mb", 1 / MB),
    ("numFailedTasks", "spark.failed_tasks", 1),
)


class SparkJobs:
    """Per-call Spark metrics from the status store. Read right after each
    call: the store keeps only ~1000 jobs and stages."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.store = sc._jsc.sc().statusStore()
        self._next = max(self.tracker.getJobIdsForGroup(), default=-1) + 1

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def _new_jobs(self) -> set[int]:
        """Job ids are handed out in sequence, so every job since the last
        call has an id at or above ``_next``; stop after a run of ids with no
        record."""
        new, jid, misses = set(), self._next, 0
        while misses < 8:
            if self.tracker.getJobInfo(jid) is None:
                misses += 1
            else:
                new.add(jid)
                misses = 0
                self._next = jid + 1
            jid += 1
        return new

    def end(self, group: str) -> dict:
        from py4j.protocol import Py4JJavaError

        grouped = set(self.tracker.getJobIdsForGroup(group))
        # Jobs that do not carry the call's group: those submitted from
        # threads the call starts itself (prepare()'s pool does not pass the
        # group on) and streaming micro-batches (Spark sets the query's own
        # group). One client issues one call at a time, so they still belong
        # to this call.
        ungrouped = self._new_jobs() - grouped
        out = {m: 0.0 for _, m, _ in _STAGE_FIELDS}
        out["spark.peak_exec_mem_mb"] = 0.0
        out["spark.jobs"] = len(grouped | ungrouped)
        out["spark.jobs_ungrouped"] = len(ungrouped)
        stage_ids = set()
        for jid in grouped | ungrouped:
            info = self.tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        n_stages = 0
        for sid in stage_ids:
            try:
                st = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted or never submitted: nothing to read
                continue
            if str(st.status()) == "SKIPPED":
                continue
            n_stages += 1
            for field, metric, scale in _STAGE_FIELDS:
                out[metric] += getattr(st, field)() * scale
            out["spark.peak_exec_mem_mb"] = max(out["spark.peak_exec_mem_mb"], st.peakExecutionMemory() / MB)
        out["spark.stages"] = n_stages
        return out


def cached_storage(sc) -> tuple[int, float]:
    """(persisted RDDs with at least one cached partition, their MB)."""
    n, size = 0, 0
    for info in sc._jsc.sc().getRDDStorageInfo():
        if info.numCachedPartitions() > 0:
            n += 1
            size += info.memSize() + info.diskSize()
    return n, size / MB


def jvm_live_heap_mb(spark) -> float:
    """Used heap after an explicit full GC."""
    rt = spark._jvm.java.lang.Runtime.getRuntime()
    spark._jvm.java.lang.System.gc()
    return (rt.totalMemory() - rt.freeMemory()) / MB


def stream_listener(spark):
    """Register a listener that keeps every micro-batch's progress."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.progress: list = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.progress.append(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Listener()
    spark.streams.addListener(listener)
    return listener


def stream_metrics(progress: list) -> dict:
    out = dict.fromkeys(
        ("stream.batches", "stream.input_rows", "stream.trigger_s", "stream.add_batch_s", "stream.planning_s", "stream.commit_s"),
        0.0,
    )
    state_rows: dict[str, int] = {}
    state_bytes: dict[str, int] = {}
    for p in progress:
        d = p.durationMs or {}
        out["stream.batches"] += 1
        out["stream.input_rows"] += p.numInputRows
        out["stream.trigger_s"] += d.get("triggerExecution", 0) / 1e3
        out["stream.add_batch_s"] += d.get("addBatch", 0) / 1e3
        out["stream.planning_s"] += d.get("queryPlanning", 0) / 1e3
        out["stream.commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
        # State is per query: keep each query's largest, then sum over queries.
        q = str(p.runId)
        state_rows[q] = max(state_rows.get(q, 0), sum(s.numRowsTotal for s in p.stateOperators))
        state_bytes[q] = max(state_bytes.get(q, 0), sum(s.memoryUsedBytes for s in p.stateOperators))
    out["stream.state_rows"] = float(sum(state_rows.values()))
    out["stream.state_mb"] = sum(state_bytes.values()) / MB
    return out


def _short(module_name: str) -> str:
    return module_name.split(".", 1)[1] if "." in module_name else module_name


class Tracer:
    """Spans in memory, written once at the end."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        self.unseen: list[str] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, **attrs) -> Span:
        stack = self._stack()
        # A span opened on a pool thread hangs off whatever the client
        # thread has open (prepare() -> its items).
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            span = Span(len(self.spans), name, time.perf_counter(), 0.0, parent, self.run_id, attrs or None)
            self.spans.append(span)
        stack.append(span.id)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] == span.id:
            stack.pop()

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a span-recording wrapper, and note
        every module that bound the original at import time: calls made
        through those names bypass the wrapper and are not traced."""
        orig = getattr(module, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            span = tracer.open(name)
            try:
                return orig(*args, **kwargs)
            finally:
                tracer.close(span)

        setattr(module, attr, wrapper)
        for mname, mod in list(sys.modules.items()):
            if mod is None or mod is module or not mname.startswith(module.__name__.split(".")[0]):
                continue
            for k, v in list(vars(mod).items()):
                if v is orig:
                    self.unseen.append(f"{_short(mname)}.{k} is {_short(module.__name__)}.{attr}, bound at import: calls through it are not traced")

    def write(self, path: str) -> None:
        selfs = self_times(self.spans)
        rows = [
            {
                "id": s.id,
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "run_id": s.run_id,
                "self_s": selfs[s.id],
                **({"attrs": s.attrs} if s.attrs else {}),
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "unseen_calls": self.unseen, "spans": rows}, f)
