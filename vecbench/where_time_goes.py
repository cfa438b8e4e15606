"""Write the "where the time goes" note from untraced and traced runs of
each workload, same seed:

    python3 vecbench/where_time_goes.py --seed 1 --seconds 18 --pairs 3 > vecbench/WHERE_TIME_GOES.md

Per workload and kind of operation it lists the layers by self time, and the
Spark job, stage, task and shuffle counts per operation (medians over the
traced runs); then the tracing overhead: the median traced minus the median
untraced value of each end-to-end metric.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run as run_mod  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

COUNTERS = ("spark.jobs", "spark.stages", "spark.tasks", "spark.job_s", "spark.task_run_s", "spark.task_cpu_s",
            "spark.task_deser_s", "spark.task_gc_s", "spark.scan_rows", "spark.files_read", "spark.scan_bytes",
            "spark.shuffle_records", "spark.shuffle_bytes", "spark.broadcast_bytes", "spark.output_rows",
            "spark.output_files", "python.init_s", "python.run_s", "python.bytes_sent", "python.bytes_returned",
            "driver.self_s", "trace.unaccounted_s")


def run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    """(details line, result line) of one benchmark run."""
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True, check=True)
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown CPU"


def med(dicts: list[dict], key: str) -> float:
    return statistics.median(d[key] for d in dicts)


def section(workload: str, seed: int, seconds: float, pairs: int) -> list[str]:
    plain, traced = [], []
    for _ in range(pairs):
        plain.append(run(workload, seed, seconds, 0))
        traced.append(run(workload, seed, seconds, 1))
    kinds = sorted(traced[0][0]["per_layer_by_kind"])
    by_kind = {k: [d["per_layer_by_kind"][k] for d, _ in traced] for k in kinds}
    out = [f"## {workload}", "",
           f"Sizes: `{json.dumps(workloads.SIZES[workload])}`. Traced runs: "
           + ", ".join(f"{r['attempted']} operations ({d['reads']} reads, {d['writes']} writes), "
                       f"correct={r['correct']}" for d, r in traced) + ".", "",
           "Self time per operation by layer, driver side; the Spark jobs an operation waited for are "
           "their own row (medians over the traced runs):", "",
           "| layer | " + " | ".join(f"{k} calls | {k} self s" for k in kinds) + " |",
           "|---|" + "---:|---:|" * len(kinds)]
    layers = sorted([spans.ROOT, *spans.LAYERS],
                    key=lambda x: -max(med(by_kind[k], f"{x}.self_s") for k in kinds))
    for layer in layers:
        cells = (f"{med(by_kind[k], f'{layer}.calls'):.2f} | {med(by_kind[k], f'{layer}.self_s'):.4f}" for k in kinds)
        out.append(f"| {layer} | " + " | ".join(cells) + " |")
    out.append("| Spark jobs (union of intervals) | " + " | ".join(
        f"{med(by_kind[k], 'spark.jobs'):.2f} jobs | {med(by_kind[k], 'spark.job_s'):.4f}" for k in kinds) + " |")
    out += ["", "Spark and Python-worker work per operation (medians over the traced runs):", "",
            "| counter | " + " | ".join(kinds) + " |", "|---|" + "---:|" * len(kinds)]
    for c in COUNTERS:
        out.append(f"| `{c}` | " + " | ".join(f"{med(by_kind[k], c):.4g}" for k in kinds) + " |")
    out += ["", "Task-time counters (`spark.task_*`, `python.*_s`) are sums over tasks, which run two at a "
            "time, so they can exceed the wall-clock. `python.init_s` is the JVM side of getting a Python "
            "worker; Spark's \"time to initialize Python workers\" is left out, since a reused worker starts "
            "that clock while it waits for its next task.", "",
            f"Tracing overhead: median of {pairs} traced runs minus median of {pairs} untraced runs, same seed:", "",
            "| metric | untraced | traced | traced - untraced |", "|---|---:|---:|---:|"]
    for name in plain[0][1]["metrics"]:
        u = statistics.median(r["metrics"][name]["value"] for _, r in plain)
        t = statistics.median(d["traced_end_to_end"][name] for d, _ in traced)
        out.append(f"| `{name}` | {u:.4g} | {t:.4g} | {t - u:+.4g} |")
    out.append("")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=18)
    ap.add_argument("--pairs", type=int, default=3)
    args = ap.parse_args(argv)
    lines = ["# Where the time goes", "",
             f"Generated by `python3 vecbench/where_time_goes.py --seed {args.seed} --seconds {args.seconds:g} "
             f"--pairs {args.pairs}` on {os.cpu_count()} vCPUs ({cpu_model()}), Spark `{run_mod.MASTER}`.", ""]
    for w in workloads.WORKLOADS:
        lines += section(w, args.seed, args.seconds, args.pairs)
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
