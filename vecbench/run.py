"""Benchmark entry point: one workload, one fresh process, one result line.

    python3 vecbench/run.py --workload churn --seed 1 --seconds 20 --trace 0

Run it from anywhere inside a checkout of the repository: it imports the
library from the checkout that holds this file, and writes only under
``.vecbench_work/`` there, which it removes before it exits.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it
holds the details (sample counts, the tail's percentile, input digest,
and with ``--trace 1`` the end-to-end values of the traced run).

Why each run is a fresh process with a fixed session, untimed warm-up and
medians: see "Steadiness rules" in README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
import traceback

# One BLAS thread for the NumPy checks: idle OpenBLAS threads spin for a
# while after a call and would take CPU from the next timed operation.
# Set before NumPy is imported; the JVM and Python workers inherit it.
os.environ["OPENBLAS_NUM_THREADS"] = "1"

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

RECALL_TARGET = 0.95  # BASELINE.md: quantized vs exact recall@k
# two task threads on a 4-vCPU box leave room for the driver, the JVM's own
# threads and the host's other guests; see "Steadiness rules" in README.md
MASTER = "local[2]"
SHUFFLE_PARTITIONS = 4


def session_conf(work: str) -> dict[str, str]:
    """The benchmark's own settings, on top of the library's
    ``session.make_session`` (AQE, Arrow, UTC) with ``MASTER`` and
    ``SHUFFLE_PARTITIONS``."""
    return {
        "spark.driver.memory": "1g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.default.parallelism": "2",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": "-Xms1g",
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
        "spark.sql.ui.retainedExecutions": "20000",
    }


# ------------------------------------------------------------------ process tree


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class TreeRss(threading.Thread):
    """Peak of the summed RSS of this process and all its descendants
    (driver, JVM, Python workers), sampled every ``interval`` seconds.
    Sampling is sparse because each sample walks /proc while holding the
    GIL that the driver's own calls into the JVM need.

    A process counts from its second sample on, at the lower of its last
    two readings: between a fork and an exec the child briefly reports the
    parent's pages, which would otherwise count the JVM twice."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval, self.peak = interval, 0
        self._last: dict[int, int] = {}
        self._stop_evt = threading.Event()

    def run(self):
        while not self._stop_evt.wait(self.interval):
            self.sample()

    def sample(self):
        me = os.getpid()
        now = {p: _rss_bytes(p) for p in [me, *descendants(me)]}
        self.peak = max(self.peak, sum(min(v, self._last[p]) for p, v in now.items() if p in self._last))
        self._last = now

    def stop(self):
        self._stop_evt.set()
        self.join()


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session and wait until the JVM and every process under it
    have exited."""
    procs = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    jvm = gateway.proc
    spark.stop()
    gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()  # the JVM exits when its stdin closes
        try:
            jvm.wait(timeout)
        except Exception:
            jvm.kill()
            jvm.wait()
    deadline = time.time() + timeout
    while True:
        alive = [p for p in procs if os.path.exists(f"/proc/{p}") and not _is_zombie(p)]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + timeout
        time.sleep(0.1)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


# ------------------------------------------------------------------ main


def end_to_end(run: workloads.Run, rss_peak: int) -> tuple[dict, dict]:
    """(metrics, details) of one run."""
    primary = run.writes if run.writes else run.reads
    tail = stats.tail(run.reads)
    measured = sum(o["wall_s"] for o in run.ops)
    metrics = {
        "op_p50_s": (statistics.median(primary), "s"),
        "read_p50_s": (statistics.median(run.reads), "s"),
        "pairs_per_s": (run.pairs / measured, "1/s"),
        "recall_at_10": (sum(run.recall) / len(run.recall) if run.recall else 0.0, "ratio"),
        "store_bytes_per_input_byte": (run.store_bytes / (run.live_rows * workloads.DIM * 4), "ratio"),
        "setup_s": (statistics.median(run.setup_s), "s"),
        "peak_rss_mb": (rss_peak / 2**20, "MB"),
    }
    details = {
        "reads": len(run.reads),
        "writes": len(run.writes),
        # not an end-to-end metric: an 18 s run makes 6-13 reads, too few
        # for a percentile with 10 reads beyond it to be a tail
        "read_tail_s": tail[0] if tail else max(run.reads),
        "read_tail_percentile": tail[1] if tail else 100,
        "read_tail_beyond": tail[2] if tail else 0,
        "write_p50_s": statistics.median(run.writes) if run.writes else None,
        "setup_runs_s": run.setup_s,
        "recall_target": RECALL_TARGET,
        "recall_meets_target": bool(run.recall) and sum(run.recall) / len(run.recall) >= RECALL_TARGET,
        "failures": run.failures,
        "read_samples_s": [round(x, 4) for x in run.reads],
        "write_samples_s": [round(x, 4) for x in run.writes],
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, details


def traced_metrics(tracer, rec, run: workloads.Run, heap_peak: float, gc_s: float) -> dict:
    """Per-layer metrics of a traced run, with their units."""
    layers = spans.layer_metrics(tracer, rec, run.ops)
    layers.update({
        "jvm.heap_peak_mb": heap_peak / 2**20,
        "jvm.gc_s": gc_s / max(1, len(run.ops)),
        "store.files": run.store_files,
        "store.bytes": run.store_bytes,
    })
    return {k: {"value": v, "unit": spans.unit_of(k)} for k, v in layers.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(CHECKOUT, "sqlite_vector_spark", "__init__.py")):
        print(f"no library to measure: {CHECKOUT}/sqlite_vector_spark is missing", file=sys.stderr)
        return 2
    work = os.path.join(CHECKOUT, ".vecbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # the JVM and the Python workers inherit these; nothing is written
    # outside the work directory
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # every JVM, the launcher spark-submit starts first included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tempfile.tempdir}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [CHECKOUT, os.environ.get("PYTHONPATH")]))
    sys.path.insert(0, CHECKOUT)
    t_start = time.perf_counter()
    phases = {}
    rss = TreeRss()
    rss.start()
    spark = None
    try:
        data = os.path.join(work, "data")
        inputs = workloads.make_inputs(args.workload, data, args.seed)
        input_digest = gen.digest(inputs.files)
        phases["inputs"] = time.perf_counter() - t_start
        from sqlite_vector_spark import session

        spark = session.make_session(f"vecbench-{args.workload}", master=MASTER,
                                     shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=session_conf(work))
        spark.sparkContext.setLogLevel("ERROR")
        phases["session"] = time.perf_counter() - t_start - phases["inputs"]
        tracer = spans.Tracer(spark) if args.trace else spans.NullTracer()
        if args.trace:
            tracer.install()
            _, gc0 = spans.jvm_memory(spark, reset=True)
        steal0 = cpu_steal()
        run = workloads.WORKLOADS[args.workload](spark, inputs, work, data, args.seconds, tracer)
        steal1 = cpu_steal()
        if args.trace:
            heap_peak, gc1 = spans.jvm_memory(spark)
            groups = {f"{spans.GROUP_PREFIX}{s.sid}" for s in tracer.spans if s.op is not None}
            rec = spans.read_spark(spark, groups)
            layers = traced_metrics(tracer, rec, run, heap_peak, gc1 - gc0)
            by_kind = {k: spans.layer_metrics(tracer, rec, run.ops, kind=k)
                       for k in sorted({o["kind"] for o in run.ops})}
            tracer.uninstall()
        t0 = time.perf_counter()
        stop_spark(spark)
        spark = None
        phases.update(run.phases, stop=time.perf_counter() - t0, total=time.perf_counter() - t_start)
        rss.stop()
        metrics, details = end_to_end(run, rss.peak)
        details.update(workload=args.workload, seed=args.seed, input_digest=input_digest,
                       sizes=workloads.SIZES[args.workload], phases_s=phases,
                       # share of CPU time the host gave to other guests: whole runs
                       # slow down with it
                       cpu_steal_share=(steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]))
        if args.trace:
            details["traced_end_to_end"] = {k: v["value"] for k, v in metrics.items()}
            details["per_layer_by_kind"] = by_kind
            metrics = layers
        print(json.dumps(details))
        print(json.dumps({"correct": run.failed == 0 and run.attempted > 0, "attempted": run.attempted,
                          "failed": run.failed, "metrics": metrics}))
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
