#!/usr/bin/env python3
"""Closed-loop benchmark of the engine's public functions.

    python3 perfbench/run.py --workload wordcount --seed 1 --seconds 10 --trace 0

One process, one client, one operation in flight, ``local[<cores>]``.
The run starts the session and imports the catalog once, builds the
seeded inputs three times (set-up time counts their median) and the
fixtures once, runs one cold pass, then runs a fixed
``ceil(--seconds / pass_seconds)`` whole passes of the workload. Every
output is checked outside the timed region. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it carries the run settings, the host-noise record and the
details behind the metrics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "1g"


def _process_start_epoch() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat", encoding="ascii") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def _cpu_times() -> list[int]:
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _loadavg() -> float:
    with open("/proc/loadavg", encoding="ascii") as fh:
        return float(fh.read().split()[0])


def hermetic_settings(run_dir: str) -> dict[str, str]:
    """Environment for one run: fresh scratch, warehouse and Spark local
    dirs under ``run_dir``, the engine on the workers' import path, the
    core count of this host and a driver heap that fits it."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "warehouse", "spark-local", "java-tmp")}
    for d in dirs.values():
        os.makedirs(d)
    return {
        "TMPDIR": dirs["tmp"],
        "SPARK_GRAFT_WAREHOUSE": dirs["warehouse"],
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs['java-tmp']} -XX:-UsePerfData",
    }


def main(argv: list[str] | None = None) -> int:
    t_start = _process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch)
    settings = hermetic_settings(run_dir)
    os.environ.update(settings)
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, ROOT)
    try:
        try:
            from perfbench import harness
            from perfbench.workloads import WORKLOADS
        except ImportError as exc:
            print(f"perfbench: the engine is not importable here: {exc}", file=sys.stderr)
            return 2
        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; "
                  f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        cpu0, load0 = _cpu_times(), _loadavg()
        res = harness.run(WORKLOADS[args.workload], args.seed, args.seconds,
                          bool(args.trace), run_dir, t_start)
        cpu1 = _cpu_times()
        d = [b - a for a, b in zip(cpu0, cpu1)]
        res.info["host"] = {
            "steal_pct": round(100.0 * d[7] / max(1, sum(d[:8])), 3),
            "load_start": load0,
            "load_end": _loadavg(),
            "cores": int(settings["SPARK_GRAFT_CPUS"]),
        }
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    res.info["settings"] = settings
    print(json.dumps(res.info, sort_keys=True))
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": res.metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
