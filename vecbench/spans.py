"""Spans around the library's layers, and Spark's own counters read back
after a traced run.

Spans come from this benchmark only: ``Tracer.install`` wraps every public
function (and public method of every public class) of each layer module
listed in ``LAYERS``, and rebinds each reference the library's modules
hold to it. A span sets the Spark job group to its own id while it is
open, so each Spark job is attributed to the innermost span that launched
it. After the run the jobs, stages and SQL-node metrics are read from
Spark's status stores, which are kept with the UI off.

A span's self time is its duration minus the part of it covered by its
child spans and by the Spark jobs it launched; so for one operation the
self times of its spans plus the union of its jobs' intervals add up to
its wall-clock, and ``driver.self_s`` (wall-clock minus that union) is the
sum of the self times.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import re
import sys
import time
from dataclasses import dataclass

#: layer name -> module whose public functions are wrapped in spans
LAYERS = {
    "sql": "sqlite_vector_spark.sql",
    "router": "sqlite_vector_spark.router",
    "catalog": "sqlite_vector_spark.catalog",
    "operators.search": "sqlite_vector_spark.operators.search",
    "operators.quantize": "sqlite_vector_spark.operators.quantize",
    "operators.knn_join": "sqlite_vector_spark.operators.knn_join",
    "sinks": "sqlite_vector_spark.sinks",
}
#: the span of one measured operation, opened by the benchmark itself;
#: its self time is the benchmark's side of the action (e.g. ``collect``
#: turning rows into Python objects)
ROOT = "bench"

GROUP_PREFIX = "vecbench-span-"


# ------------------------------------------------------------------ interval arithmetic


def union_length(intervals, lo: float = float("-inf"), hi: float = float("inf")) -> float:
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Span:
    sid: int
    layer: str
    fn: str
    parent: int | None
    op: int | None  # index of the measured operation, None outside one
    start: float
    end: float = 0.0


@dataclass
class Job:
    jid: int
    group: str | None
    start: float
    end: float
    stages: list[int]


def self_times(spans: list[Span], jobs_by_span: dict[int, list[tuple[float, float]]]) -> dict[int, float]:
    """sid -> span duration minus the union of its children's intervals
    (child spans and the jobs the span launched)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        kids = children.get(s.sid, []) + jobs_by_span.get(s.sid, [])
        out[s.sid] = (s.end - s.start) - union_length(kids, s.start, s.end)
    return out


# ------------------------------------------------------------------ Spark metric strings

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40, "PiB": 1 << 50, "EiB": 1 << 60}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str | None) -> float:
    """The total of one formatted SQL metric, in bytes, seconds or a count.

    Spark formats a metric as a plain total (``5,000``, ``3.8 MiB``,
    ``12 ms``) or, when tasks differ, as
    ``total (min, med, max (stageId: taskId))\\n<total> (<min>, <med>, ...)``.
    """
    if text is None:
        return 0.0
    t = text.strip()
    if t.startswith("total"):
        t = t.split("\n", 1)[1].split(" (", 1)[0]
    parts = t.replace(",", "").split()
    value = float(parts[0])
    if len(parts) == 1:
        return value
    unit = parts[1]
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME:
        return value * _TIME[unit]
    raise ValueError(f"unknown unit in Spark metric {text!r}")


# ------------------------------------------------------------------ tracer


class NullTracer:
    """The untraced run: operations are timed by the caller, nothing else."""

    enabled = False

    @contextlib.contextmanager
    def op(self, kind: str, index: int):
        yield


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op: int | None = None
        self._restore: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, layer: str, fn: str):
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), layer, fn, parent, self._op, time.time())
        self.spans.append(s)
        self._stack.append(s)
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{s.sid}")
        try:
            yield s
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self._stack.pop()
            s.end = time.time()

    @contextlib.contextmanager
    def op(self, kind: str, index: int):
        self._op = index
        try:
            with self.span(ROOT, kind):
                yield
        finally:
            self._op = None

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, fn.__name__):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap each layer's public functions and methods in spans."""
        wrapped = {}
        for layer, name in LAYERS.items():
            mod = importlib.import_module(name)
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or getattr(obj, "__module__", None) != name:
                    continue
                if inspect.isfunction(obj):
                    wrapped[obj] = self._wrap(layer, obj)
                elif inspect.isclass(obj):
                    for mattr, m in list(vars(obj).items()):
                        if not mattr.startswith("_") and inspect.isfunction(m):
                            self._restore.append((obj, mattr, m))
                            setattr(obj, mattr, self._wrap(layer, m))
        # every module-level name bound to a wrapped function, including
        # names imported with ``from ... import``
        for mname, mod in list(sys.modules.items()):
            if mod is None or not mname.startswith("sqlite_vector_spark"):
                continue
            for attr, obj in list(vars(mod).items()):
                if inspect.isfunction(obj) and obj in wrapped:
                    self._restore.append((mod, attr, obj))
                    setattr(mod, attr, wrapped[obj])

    def uninstall(self) -> None:
        for owner, attr, obj in reversed(self._restore):
            setattr(owner, attr, obj)
        self._restore.clear()


# ------------------------------------------------------------------ status-store readback


def _seq(x) -> list:
    return [x.apply(i) for i in range(x.size())]


def _opt(x):
    return x.get() if x.isDefined() else None


@dataclass
class SparkRecords:
    jobs: list[Job]
    stages: dict[int, dict[str, float]]  # stage id -> summed task metrics
    sql: dict[int, dict[str, float]]  # job id -> SQL-node metric sums of its execution


_STAGE_FIELDS = {
    "tasks": lambda s: s.numTasks(),
    "run_s": lambda s: s.executorRunTime() / 1e3,
    "cpu_s": lambda s: s.executorCpuTime() / 1e9,
    "gc_s": lambda s: s.jvmGcTime() / 1e3,
    "deser_s": lambda s: s.executorDeserializeTime() / 1e3,
    "output_bytes": lambda s: s.outputBytes(),
    "output_rows": lambda s: s.outputRecords(),
    "shuffle_bytes": lambda s: s.shuffleWriteBytes(),
    "shuffle_records": lambda s: s.shuffleWriteRecords(),
    "spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
}

_SCAN_NODE = re.compile(r"^(Scan |InMemoryTableScan)")


def _node_metrics(name: str, pairs: list[tuple[str, float]], into: dict[str, float]) -> None:
    """Fold one plan node's (metric name, value) pairs into the sums."""
    def add(key, v):
        into[key] = into.get(key, 0.0) + v

    for mname, v in pairs:
        if _SCAN_NODE.match(name):
            if mname == "number of output rows":
                add("scan_rows", v)
            elif mname == "size of files read":
                add("scan_bytes", v)
            elif mname == "number of files read":
                add("files_read", v)
        if name == "BroadcastExchange" and mname == "data size":
            add("broadcast_bytes", v)
        if mname == "number of written files":
            add("output_files", v)
        # Spark's "time to initialize Python workers" is left out: a reused
        # worker starts that clock when it begins to wait for its next task,
        # so it counts the idle time between tasks, not work
        if mname == "time to start Python workers":
            add("python_init_s", v)
        elif mname == "time to run Python workers":
            add("python_run_s", v)
        elif mname == "data sent to Python workers":
            add("python_bytes_sent", v)
        elif mname == "data returned from Python workers":
            add("python_bytes_returned", v)


def _wanted_node(name: str) -> bool:
    """Whether ``_node_metrics`` reads anything from a node of this name;
    reading only those keeps the number of JVM calls down."""
    return bool(_SCAN_NODE.match(name)) or name == "BroadcastExchange" or "Python" in name \
        or "Pandas" in name or "Insert" in name


def read_spark(spark, job_groups: set[str]) -> SparkRecords:
    """Jobs, stages and SQL-node metrics of the jobs whose group is in
    ``job_groups``, from Spark's status stores."""
    sc = spark.sparkContext
    gw = sc._gateway
    store = sc._jsc.sc().statusStore()
    jobs = []
    for j in _seq(store.jobsList(None)):
        group = _opt(j.jobGroup())
        if group not in job_groups:
            continue
        start, end = _opt(j.submissionTime()), _opt(j.completionTime())
        if start is None or end is None:
            continue
        jobs.append(Job(j.jobId(), group, start.getTime() / 1e3, end.getTime() / 1e3,
                        [int(x) for x in _seq(j.stageIds())]))
    wanted_stages = {s for j in jobs for s in j.stages}
    stages: dict[int, dict[str, float]] = {}
    all_stages = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList())
    for s in _seq(all_stages):
        sid = s.stageId()
        if sid not in wanted_stages or s.status().toString() != "COMPLETE":
            continue
        acc = stages.setdefault(sid, {"attempts": 0.0})
        acc["attempts"] += 1
        for key, get in _STAGE_FIELDS.items():
            acc[key] = acc.get(key, 0.0) + float(get(s))

    wanted_jobs = {j.jid for j in jobs}
    sql: dict[int, dict[str, float]] = {}
    sqlstore = spark._jsparkSession.sharedState().statusStore()
    for e in _seq(sqlstore.executionsList()):
        it = e.jobs().keysIterator()
        ejobs = []
        while it.hasNext():
            ejobs.append(int(it.next()))
        mine = [j for j in ejobs if j in wanted_jobs]
        if not mine:
            continue
        eid = e.executionId()
        values = sqlstore.executionMetrics(eid)
        sums: dict[str, float] = {}
        for node in _seq(sqlstore.planGraph(eid).allNodes()):
            name = node.name()
            if not _wanted_node(name):
                continue
            pairs = []
            for m in _seq(node.metrics()):
                v = values.get(m.accumulatorId())
                pairs.append((m.name(), parse_metric(_opt(v))))
            _node_metrics(name, pairs, sums)
        # an execution's node metrics belong to its first job that is ours
        sql[min(mine)] = sums
    return SparkRecords(jobs, stages, sql)


def jvm_memory(spark, reset: bool = False) -> tuple[float, float]:
    """(sum of heap pools' peak used bytes, total GC seconds) of the JVM;
    ``reset`` restarts the peaks."""
    mf = spark.sparkContext._gateway.jvm.java.lang.management.ManagementFactory
    peak = 0.0
    for pool in mf.getMemoryPoolMXBeans():
        if pool.getType().name() == "HEAP":
            if reset:
                pool.resetPeakUsage()
            peak += pool.getPeakUsage().getUsed()
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3
    return peak, gc


# ------------------------------------------------------------------ per-layer metrics


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_per_result"):
        return "ratio"
    if name.endswith("bytes") or name.endswith("bytes_sent") or name.endswith("bytes_returned"):
        return "B"
    return "count"


#: slack per measured operation for Spark's rounding of formatted times
#: ("1.6 s" is 1.55 s to 1.65 s)
TIME_ROUNDING_S = 0.05


def check_python_within_tasks(sums: dict[str, float]) -> None:
    """Python-worker time runs inside tasks, so over the same operations it
    cannot exceed the tasks' run time; raise when the readback says it
    does, since then a counter is mis-attributed."""
    python_s = sums["python.init_s"] + sums["python.run_s"]
    if python_s > sums["spark.task_run_s"] + TIME_ROUNDING_S * max(1.0, sums[f"{ROOT}.calls"]):
        raise ValueError(f"Python-worker time {python_s:.3f} s exceeds task run time "
                         f"{sums['spark.task_run_s']:.3f} s")


def layer_metrics(tracer: Tracer, rec: SparkRecords, ops: list[dict], kind: str | None = None) -> dict[str, float]:
    """Per-layer metrics, each summed over the measured operations (of
    ``kind`` only, when given) and divided by their number. ``ops``: one
    dict per measured operation, indexed like ``Span.op``, with its
    ``kind`` and ``results`` (rows returned, or rows written for a write)."""
    chosen = {i for i, o in enumerate(ops) if kind is None or o["kind"] == kind}
    n_ops = len(chosen)
    spans = [s for s in tracer.spans if s.op in chosen]
    by_sid = {s.sid: s for s in spans}
    jobs_by_span: dict[int, list[tuple[float, float]]] = {}
    op_jobs: dict[int, list[Job]] = {}
    for j in rec.jobs:
        sid = int(j.group[len(GROUP_PREFIX):])
        if sid in by_sid:
            jobs_by_span.setdefault(sid, []).append((j.start, j.end))
            op_jobs.setdefault(by_sid[sid].op, []).append(j)
    selfs = self_times(spans, jobs_by_span)

    out: dict[str, float] = {}

    def add(key, v):
        out[key] = out.get(key, 0.0) + v

    for layer in [ROOT, *LAYERS]:
        out[f"{layer}.calls"] = 0.0
        out[f"{layer}.self_s"] = 0.0
    for s in spans:
        add(f"{s.layer}.calls", 1)
        add(f"{s.layer}.self_s", selfs[s.sid])

    roots = [s for s in spans if s.parent is None]
    keys = ["jobs", "stages", "tasks", "job_s", "task_deser_s", "task_run_s", "task_cpu_s", "task_gc_s",
            "scan_rows", "scan_bytes", "files_read", "shuffle_bytes", "shuffle_records", "spill_bytes",
            "broadcast_bytes", "output_rows", "output_bytes", "output_files"]
    for k in keys:
        out[f"spark.{k}"] = 0.0
    for k in ("init_s", "run_s", "bytes_sent", "bytes_returned"):
        out[f"python.{k}"] = 0.0
    out["driver.self_s"] = 0.0
    out["trace.unaccounted_s"] = 0.0
    for r in roots:
        wall = r.end - r.start
        jobs = op_jobs.get(r.op, [])
        covered = union_length([(j.start, j.end) for j in jobs], r.start, r.end)
        add("driver.self_s", wall - covered)
        add("spark.job_s", covered)
        op_self = sum(selfs[s.sid] for s in spans if s.op == r.op)
        add("trace.unaccounted_s", wall - covered - op_self)
        add("spark.jobs", len(jobs))
        for j in jobs:
            for sid in j.stages:
                st = rec.stages.get(sid)
                if st is None:
                    continue  # skipped: its output was reused
                add("spark.stages", st["attempts"])
                add("spark.tasks", st["tasks"])
                add("spark.task_deser_s", st["deser_s"])
                add("spark.task_run_s", st["run_s"])
                add("spark.task_cpu_s", st["cpu_s"])
                add("spark.task_gc_s", st["gc_s"])
                for k in ("output_rows", "output_bytes", "shuffle_bytes", "shuffle_records", "spill_bytes"):
                    add(f"spark.{k}", st[k])
            sums = rec.sql.get(j.jid, {})
            for k in ("scan_rows", "scan_bytes", "files_read", "broadcast_bytes", "output_files"):
                add(f"spark.{k}", sums.get(k, 0.0))
            add("python.init_s", sums.get("python_init_s", 0.0))
            add("python.run_s", sums.get("python_run_s", 0.0))
            add("python.bytes_sent", sums.get("python_bytes_sent", 0.0))
            add("python.bytes_returned", sums.get("python_bytes_returned", 0.0))
    check_python_within_tasks(out)
    results = sum(ops[i]["results"] for i in chosen)
    # ratios over all measured operations, before the per-op division
    out["spark.scan_rows_per_result"] = out["spark.scan_rows"] / results if results else 0.0
    out["spark.shuffle_records_per_result"] = out["spark.shuffle_records"] / results if results else 0.0
    for k in list(out):
        if not k.endswith("_per_result") and n_ops:
            out[k] /= n_ops
    return out
