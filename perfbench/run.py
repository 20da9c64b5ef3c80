#!/usr/bin/env python3
"""Repository benchmark: one named workload at one seed.

    python3 perfbench/run.py --workload topk-broad --seed 1 --seconds 8 --trace 0

Run from the repository root.  ``--seconds`` is the shortest query
window: the loop finishes the pass it is in, so every run holds whole
passes over the workload's query mix.  Prints a report line (run metadata, ops_failed_frac, the
tail percentile and its sample count, per-shape medians), then, as the
last line, the result object ``{"correct", "attempted", "failed",
"metrics"}``: end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``.  Everything the run writes stays under
``.bench_work/`` in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from perfbench.workloads import SPECS, BenchRun, cleanup  # noqa: E402


def git_commit(root: str):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def cpu_times():
    """Aggregate jiffies from /proc/stat: (total, steal)."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPECS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "lucene_spark", "__init__.py")):
        print("perfbench: run from the repository root (lucene_spark/ not found)",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the engine from this checkout; every scratch
    # file Spark, the JVM and the workers write stays inside it
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell')
    import pyarrow
    import pyspark

    meta = {
        "seed": args.seed, "workload": args.workload, "trace": args.trace,
        "seconds": args.seconds, "commit": git_commit(ROOT),
        "nproc": len(os.sched_getaffinity(0)),
        "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "loadavg_before": os.getloadavg(),
    }
    cpu0 = cpu_times()
    t0 = time.perf_counter()
    try:
        result = BenchRun(args.workload, args.seed, args.seconds, bool(args.trace), work).run()
    finally:
        cleanup(work)
    meta["loadavg_after"] = os.getloadavg()
    # CPU time the hypervisor gave to other guests: a contended window
    # shows here, in the run's own output
    cpu1 = cpu_times()
    meta["cpu_steal_pct"] = round(100.0 * (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0]), 2)
    meta["wall_s"] = round(time.perf_counter() - t0, 2)
    report = result.pop("report")
    meta.update(report.pop("versions"))
    print(json.dumps({"report": report, "meta": meta}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
