"""The measurement loop: setup, cold pass, measured passes, metrics."""

from __future__ import annotations

import math
import os
import statistics
import time
import traceback
from dataclasses import dataclass, field
from typing import Any

from map_reduce_spark import registry
from map_reduce_spark.session import get_spark, release_caches

from perfbench.trace import GroupStats, Tracer, group_stats, union_length
from perfbench.workloads import FOLD_QUERIES

# Builds of the seeded inputs per run; set-up time counts their median.
SETUP_REPS = 3


@dataclass
class OpRecord:
    name: str
    layer: str
    kind: str
    pass_no: int
    start: float  # epoch seconds, comparable with the status store's stage times
    end: float
    error: str | None = None
    stats: GroupStats | None = None
    rows: int = 0
    release_s: float = 0.0
    build_s: float = 0.0
    files_written: int = 0
    bytes_written: int = 0
    commits: int = 0
    trace_s: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Result:
    attempted: int
    failed: int
    metrics: dict[str, dict]
    info: dict[str, Any] = field(default_factory=dict)


def _file_sizes(table_dirs: list[str]) -> dict[str, int]:
    out = {}
    for top in table_dirs:
        for root, _dirs, files in os.walk(top):
            for f in files:
                p = os.path.join(root, f)
                try:
                    out[p] = os.path.getsize(p)
                except FileNotFoundError:
                    pass
    return out


def _is_log(path: str) -> bool:
    parts = path.split(os.sep)
    return "_delta_log" in parts or "metadata" in parts


def _is_commit(path: str) -> bool:
    base = os.path.basename(path)
    if "_delta_log" in path.split(os.sep):
        return base.endswith(".json") and base[:20].isdigit()
    return base.endswith(".metadata.json")


def _rows(result: Any) -> int:
    try:
        return len(result)
    except TypeError:
        return 0


class Runner:
    def __init__(self, wl_cls, seed: int, trace: bool, run_dir: str) -> None:
        self.tracer = Tracer(trace)
        self.trace = trace
        self.wl = wl_cls(seed, self.tracer)
        self.run_dir = run_dir
        self.spark = None
        self.records: list[OpRecord] = []
        self.errors: list[str] = []  # per-operation failures, for the report
        self.layer_times: dict[str, float] = {}

    # -- setup ----------------------------------------------------------------
    def setup(self, t_process_start: float) -> float:
        """Set up and return the set-up time. The process part (interpreter
        and imports, JVM launch and session, catalog import) runs once; the
        seeded inputs are built SETUP_REPS times, each into a fresh
        directory, and count with their median; the fixtures are built
        once, over the last of them."""
        t = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark("perfbench")
        self.layer_times["session.start_s"] = time.perf_counter() - t
        t = time.perf_counter()
        with self.tracer.span("registry.import"):
            registry.all_queries()
        self.layer_times["registry.import_s"] = time.perf_counter() - t
        process_s = time.time() - t_process_start
        builds = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            with self.tracer.span("setup.inputs"):
                self.wl.build_inputs(os.path.join(self.run_dir, f"inputs-{rep}"))
            builds.append(time.perf_counter() - t)
        t = time.perf_counter()
        with self.tracer.span("setup.fixtures"):
            self.wl.build_fixtures(self.spark)
        fixtures_s = time.perf_counter() - t
        self.layer_times["setup.inputs_s"] = statistics.median(builds) + fixtures_s
        self.setup_builds = builds
        self.wl.prepare_checks()
        return process_s + self.layer_times["setup.inputs_s"]

    # -- one operation -----------------------------------------------------------
    def run_op(self, op, pass_no: int) -> OpRecord:
        sc = self.spark.sparkContext
        group = f"perfbench-{len(self.records)}"
        watch = self.trace and bool(self.wl.table_dirs())
        before = _file_sizes(self.wl.table_dirs()) if watch else None
        if self.trace:
            sc.setJobGroup(group, op.name)
            self.tracer.op = len(self.records)
        result, error = None, None
        t0 = time.time()
        try:
            with self.tracer.span(op.layer):
                result = op.call()
                r0 = time.perf_counter()
                with self.tracer.span("session.release"):
                    release_caches()
                release_s = time.perf_counter() - r0
        except Exception as exc:  # one failed operation must not end the run
            error = f"{type(exc).__name__}: {exc}".splitlines()[0][:300]
            traceback.print_exc()
            release_caches()
            release_s = 0.0
        t1 = time.time()
        rec = OpRecord(op.name, op.layer, op.kind, pass_no, t0, t1, error,
                       rows=_rows(result), release_s=release_s)
        if self.trace:
            tr0 = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.tracer.op = None
            rec.stats = group_stats(self.spark, group)
            rec.build_s = sum(s.dur for s in self.tracer.spans
                              if s.op == len(self.records) and s.name == "sources.read_build")
            if watch:
                after = _file_sizes(self.wl.table_dirs())
                new = [p for p in after if p not in before]
                rec.files_written = sum(1 for p in new if not _is_log(p) and p.endswith(".parquet"))
                rec.bytes_written = sum(after[p] for p in new if not _is_log(p) and p.endswith(".parquet"))
                rec.commits = sum(1 for p in new if _is_commit(p))
            rec.trace_s = time.perf_counter() - tr0
        if error is None:
            try:
                rec.error = self.wl.check(op, result)
            except Exception as exc:
                rec.error = f"check raised {type(exc).__name__}: {exc}"
        if rec.error:
            self.errors.append(f"{op.name}: {rec.error}")
        self.records.append(rec)
        return rec

    def run_pass(self, pass_no: int) -> float:
        return sum(self.run_op(op, pass_no).wall for op in self.wl.pass_ops(pass_no))

    def stop(self) -> dict[str, float]:
        """Stop Spark and its JVM, returning peak RSS (MB) of both."""
        from pyspark import SparkContext

        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = {"python": _vm_hwm_mb("self"), "jvm": _vm_hwm_mb(jvm_pid)}
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        return rss


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM"))
    return kb / 1024.0


def tail_latency(lat: list[float]) -> dict:
    """Latency at the highest percentile with at least ten samples beyond
    it. With fewer than 40 samples that percentile falls below p75, which
    is no tail, so the largest sample stands in (``beyond`` then reads 0)."""
    lat = sorted(lat)
    i = len(lat) - 11 if len(lat) >= 40 else len(lat) - 1
    return {"value": lat[i], "pct": round(100.0 * (i + 1) / len(lat), 1),
            "n": len(lat), "beyond": len(lat) - 1 - i}


def _m(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def per_layer(runner: Runner, measured: list[OpRecord], passes: int) -> dict[str, dict]:
    """Per-layer metrics of the traced run (means per measured operation
    unless the name says otherwise; 0 where the workload has no such layer)."""
    n = max(1, len(measured))
    st = [r.stats for r in measured]

    def mean(get) -> float:
        return sum(get(x) for x in st) / n

    out = {k: _m(v, "s") for k, v in runner.layer_times.items()}
    out["spark.jobs"] = _m(mean(lambda s: s.jobs), "count")
    out["spark.stages"] = _m(mean(lambda s: s.stages), "count")
    out["spark.skipped_stages"] = _m(mean(lambda s: s.skipped_stages), "count")
    out["spark.tasks"] = _m(mean(lambda s: s.tasks), "count")
    out["spark.shuffle_write_mb"] = _m(mean(lambda s: s.shuffle_write_mb), "MB")
    out["spark.shuffle_read_mb"] = _m(mean(lambda s: s.shuffle_read_mb), "MB")
    out["spark.shuffle_write_records"] = _m(mean(lambda s: s.shuffle_write_records), "count")
    mr = [r for r in measured if r.layer == "mapreduce"]
    out["mapreduce.records_per_key"] = _m(
        sum(r.stats.shuffle_write_records for r in mr) / max(1, sum(r.rows for r in mr)), "count")
    out["spark.task_run_s"] = _m(mean(lambda s: s.task_run_s), "s")
    out["spark.task_cpu_s"] = _m(mean(lambda s: s.task_cpu_s), "s")
    busy = [union_length([(max(a, r.start), min(b, r.end)) for a, b in r.stats.intervals if b > r.start])
            for r in measured]
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "1"))
    out["spark.stage_busy_s"] = _m(sum(busy) / n, "s")
    out["spark.core_util"] = _m(
        sum(s.task_run_s for s in st) / max(1e-9, sum(busy) * cores), "ratio")
    out["spark.gc_s"] = _m(mean(lambda s: s.gc_s), "s")
    out["spark.spill_mb"] = _m(mean(lambda s: s.spill_mb), "MB")
    self_s = [r.wall - b for r, b in zip(measured, busy)]
    out["driver.self_s"] = _m(sum(self_s) / n, "s")
    muts = [(r, s) for r, s in zip(measured, self_s) if r.kind == "mutation"]
    reads = [r for r in measured if r.kind == "read"]
    out["sources.commit_s"] = _m(sum(s for _, s in muts) / max(1, len(muts)), "s")
    out["sources.read_build_s"] = _m(sum(r.build_s for r in reads) / max(1, len(reads)), "s")
    out["sources.commits"] = _m(sum(r.commits for r in measured) / max(1, passes), "count")
    out["sources.files_written"] = _m(sum(r.files_written for r in measured) / max(1, passes), "count")
    out["sources.bytes_written_per_row"] = _m(
        sum(r.bytes_written for r in runner.records) / max(1, runner.wl.rows_affected()), "B")
    logs = [p for p in _file_sizes(runner.wl.table_dirs()) if _is_log(p)]
    out["sources.log_bytes"] = _m(float(sum(os.path.getsize(p) for p in logs)), "B")
    out["session.release_s"] = _m(sum(r.release_s for r in measured) / n, "s")
    for key, layer in (("mapreduce.run_job_s", "mapreduce"), ("operators.wordcount_s", None)):
        rs = [r for r in measured if (r.layer == layer if layer else r.name in ("mr_pipeline", "group_by_key"))]
        out[key] = _m(sum(r.wall for r in rs) / max(1, len(rs)), "s")
    for fold in FOLD_QUERIES:
        rs = [r for r in measured if r.name == fold]
        k = max(1, len(rs))
        out[f"fold.{fold}.jobs"] = _m(sum(r.stats.jobs for r in rs) / k, "count")
        out[f"fold.{fold}.shuffle_write_mb"] = _m(sum(r.stats.shuffle_write_mb for r in rs) / k, "MB")
        out[f"fold.{fold}.wall_s"] = _m(sum(r.wall for r in rs) / k, "s")
    out["trace.overhead_s"] = _m(sum(r.trace_s for r in measured) / n, "s")
    return out


def count_spread(measured: list[OpRecord]) -> dict[str, dict]:
    """Per operation name: [min, max] of jobs and shuffle MB across reps."""
    out: dict[str, dict] = {}
    for r in measured:
        d = out.setdefault(r.name, {"jobs": [r.stats.jobs] * 2, "shuffle_write_mb": [r.stats.shuffle_write_mb] * 2})
        for k, v in (("jobs", r.stats.jobs), ("shuffle_write_mb", r.stats.shuffle_write_mb)):
            d[k] = [min(d[k][0], v), max(d[k][1], v)]
    return {k: {m: [round(x, 3) for x in v] for m, v in d.items()} for k, d in out.items()}


def run(wl_cls, seed: int, seconds: float, trace: bool, run_dir: str, t_start: float) -> Result:
    runner = Runner(wl_cls, seed, trace, run_dir)
    setup_s = runner.setup(t_start)
    cold_s = runner.run_pass(0)
    passes = max(1, math.ceil(seconds / wl_cls.pass_seconds))
    for pass_no in range(1, passes + 1):
        runner.run_pass(pass_no)
    rss = runner.stop()
    measured = [r for r in runner.records if r.pass_no > 0 and r.error is None]
    lat = [r.wall for r in measured]
    attempted = len(runner.records)
    failed = sum(1 for r in runner.records if r.error)
    tail = tail_latency(lat) if lat else {"value": 0.0, "pct": 0, "n": 0, "beyond": 0}
    throughput = len(lat) / max(1e-9, sum(lat))
    info = {
        "workload": wl_cls.name, "seed": seed, "trace": int(trace), "passes": passes,
        "error_rate": failed / max(1, attempted), "errors": runner.errors[:5],
        "op_tail": {k: v for k, v in tail.items() if k != "value"},
        "setup_builds_s": [round(x, 3) for x in runner.setup_builds], "cold_pass_s": cold_s,
        "throughput_ops_s": throughput,  # in both modes: traced vs untraced is the tracing overhead
        "peak_rss_mb": rss,
        "op_p50_by_name": {
            n: round(statistics.median(r.wall for r in measured if r.name == n), 4)
            for n in sorted({r.name for r in measured})
        },
    }
    if trace:
        runner.tracer.write(os.path.join(_out_dir(), f"spans-{wl_cls.name}-{seed}.jsonl"))
        info["count_spread"] = count_spread(measured)
        metrics = per_layer(runner, measured, passes)
    else:
        metrics = {
            "setup_s": _m(setup_s, "s"),
            "cold_pass_s": _m(cold_s, "s"),
            "throughput_ops_s": _m(throughput, "1/s"),
            "op_p50_s": _m(statistics.median(lat) if lat else 0.0, "s"),
            "op_tail_s": _m(tail["value"], "s"),
            "success_rate": _m(1.0 - failed / max(1, attempted), "ratio"),
            "peak_rss_mb": _m(rss["python"] + rss["jvm"], "MB"),
        }
    return Result(attempted, failed, metrics, info)


def _out_dir() -> str:
    d = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".perfbench_out")
    os.makedirs(d, exist_ok=True)
    return d
