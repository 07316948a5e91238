"""Tracing for the benchmark's traced run, and /proc readings for both runs.

Spans are recorded from outside the program: the traced run replaces each
public function of the layer modules with a wrapper that opens a span
(name, start, end, parent, op id) around the call. Spans stay in memory and
are written out once at the end. Spark counters are read per op from the
driver's status store, keyed by the op's job group.
"""
from __future__ import annotations

import contextlib
import functools
import inspect
import json
import os
import threading
import time
from dataclasses import asdict, dataclass, field

# module → layer name. spectral is reported with metrics; expr (SQL text
# builders, called thousands of times per plan) is left unwrapped, so its
# time counts as the calling generators span's self time.
LAYER_MODULES = {
    "tsgen.generators": "generators",
    "tsgen.normalize": "normalize",
    "tsgen.io": "io",
    "tsgen.schedules": "schedules",
    "tsgen.diffusion": "diffusion",
    "tsgen.metrics": "metrics",
    "tsgen.spectral": "metrics",
    "tsgen.decompose": "decompose",
    "tsgen.analytics": "analytics",
    "tsgen.dedup": "dedup",
    "tsgen.similarity": "similarity",
    "tsgen.text": "text",
}
QUERY_LAYERS = ("analytics", "dedup", "similarity", "text")
# io spans that set up a parquet scan (the rest of io is writes)
SCAN_SPANS = ("io.scan", "io.fanout_scan", "io.load_series", "io.load_run", "io.load_table")

# StageData accessor → (counter name, scale to the reported unit)
STAGE_FIELDS = {
    "numTasks": ("tasks", 1),
    "numFailedTasks": ("failed_tasks", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
    "executorRunTime": ("executor_run_s", 1e-3),
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleFetchWaitTime": ("fetch_wait_s", 1e-3),
}
COUNTERS = ("jobs", "stages") + tuple(dict.fromkeys(v[0] for v in STAGE_FIELDS.values()))


class _Traced:
    """A span-recording stand-in for a layer function.

    Pickles as the original function (a UDF closure that refers to a
    wrapped module global must not drag the tracer into a Python worker,
    where the module is not wrapped), and binds like a function when set
    on a class."""

    def __init__(self, tracer: "Tracer", fn, name: str, layer: str):
        functools.update_wrapper(self, fn)
        self._tracer, self._fn, self._name, self._layer = tracer, fn, name, layer

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._name, self._layer):
            return self._fn(*args, **kwargs)

    def __get__(self, obj, objtype=None):
        return self if obj is None else functools.partial(self, obj)

    def __reduce__(self):
        return getattr, (inspect.getmodule(self._fn), self._fn.__name__)


@dataclass
class Span:
    name: str
    layer: str
    op: str | None
    parent: int | None
    start: float
    end: float = 0.0
    children: list[int] = field(default_factory=list)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.op: str | None = None
        self._patched: list[tuple[object, str, object]] = []

    def open(self, name: str, layer: str) -> int:
        parent = self.stack[-1] if self.stack else None
        self.spans.append(Span(name, layer, self.op, parent, time.perf_counter()))
        i = len(self.spans) - 1
        if parent is not None:
            self.spans[parent].children.append(i)
        self.stack.append(i)
        return i

    def close(self, i: int) -> None:
        self.spans[i].end = time.perf_counter()
        self.stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        i = self.open(name, layer)
        try:
            yield
        finally:
            self.close(i)

    def patch(self, owner, attr: str, name: str, layer: str) -> None:
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, _Traced(self, orig, name, layer))

    def install(self) -> None:
        """Wrap every public function of the layer modules, plus the parquet
        reader (scan set-up is reported under io)."""
        import importlib

        from pyspark.sql.readwriter import DataFrameReader

        for modname, layer in LAYER_MODULES.items():
            mod = importlib.import_module(modname)
            for attr, fn in vars(mod).copy().items():
                if attr.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != modname:
                    continue
                self.patch(mod, attr, f"{layer}.{attr}", layer)
        self.patch(DataFrameReader, "parquet", "io.scan", "io")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def self_time(self, i: int) -> float:
        s = self.spans[i]
        return (s.end - s.start) - sum(self.spans[c].end - self.spans[c].start for c in s.children)

    def by_layer(self, pred=lambda s: True) -> dict[str, float]:
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if pred(s):
                out[s.layer] = out.get(s.layer, 0.0) + self.self_time(i)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({k: v for k, v in asdict(s).items() if k != "children"}) + "\n")


def spark_counters(spark, group: str) -> dict[str, float]:
    """Sum the status-store metrics of every stage of every job in `group`.

    The listener bus is drained first so the finished stages' metrics are
    final. Counts are exact; skipped stages contribute nothing."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = dict.fromkeys(COUNTERS, 0.0)
    tracker = sc.statusTracker()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - skipped stage: no attempt recorded
                continue
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            for acc, (key, scale) in STAGE_FIELDS.items():
                out[key] += getattr(st, acc)() * scale
    return out


def descendants(pid: int) -> list[int]:
    """Pids of every live process below `pid` (the Spark JVM and its Python
    workers, for the benchmark process)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _proc_kb(pid: int, name: str, field: str) -> int:
    """A `field:  N kB` line of /proc/<pid>/<name>, or 0 once it exited."""
    try:
        with open(f"/proc/{pid}/{name}") as fh:
            for line in fh:
                if line.startswith(field):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().startswith("python")
    except OSError:
        return False


class MemoryPeak:
    """Peak memory of the Spark JVM plus its Python workers.

    The JVM's own peak resident set (VmHWM) is exact. Python workers are
    forked from one daemon and share its pages, and they come and go, so
    their share is sampled: the largest sum of their proportional set size
    (Pss, shared pages split between the sharers) seen while the run goes."""

    EVERY_S = 0.25

    def __init__(self, pid: int) -> None:
        self.pid, self.workers_kb = pid, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        while not self._stop.wait(self.EVERY_S):
            kb = sum(_proc_kb(p, "smaps_rollup", "Pss:")
                     for p in descendants(self.pid) if _is_python(p))
            self.workers_kb = max(self.workers_kb, kb)

    def mb(self) -> float:
        """Stop sampling; the JVM peak plus the sampled workers' peak, in MB."""
        self._stop.set()
        self._thread.join()
        jvm_kb = sum(_proc_kb(p, "status", "VmHWM:")
                     for p in descendants(self.pid) if not _is_python(p))
        return (jvm_kb + self.workers_kb) / 1024.0
