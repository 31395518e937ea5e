"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The smoke runs start one JVM each (the whole file takes about five
minutes on a 4-core host); the other tests need no Spark session except
the status-store test.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, datagen  # noqa: E402
from perfbench.harness import tail_latency  # noqa: E402
from perfbench.trace import Tracer, group_stats, union_length  # noqa: E402
from perfbench.workloads import CurationMix, LakehouseRW, Op, WordCount  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
    SPEC = json.load(fh)


# -- smoke: every named metric, with its unit ---------------------------------


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_prints_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "0.1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    named = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in named} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    """Run from a tree holding only the benchmark: no result, non-zero exit."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "wordcount", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


# -- each checker flags a corrupted output -------------------------------------


def _bump_first(df: pd.DataFrame, col: str) -> pd.DataFrame:
    bad = df.copy()
    bad.loc[bad.index[0], col] = bad[col].iloc[0] + 1
    return bad


def test_wordcount_checks_flag_corruption(tmp_path):
    from map_reduce_spark.mapreduce import word_count_mapper

    wl = WordCount(seed=3, tracer=Tracer(False))
    wl.words_per_file = 2000
    wl.build_inputs(str(tmp_path))
    wl.prepare_checks()
    counts: dict[str, int] = {}
    splits = tmp_path / "splits"
    for name in sorted(os.listdir(splits)):
        for word, _one in word_count_mapper(name, (splits / name).read_text()):
            counts[word] = counts.get(word, 0) + 1
    run_job = Op("run_job", "mapreduce", None)
    good = sorted(counts.items())
    assert wl.check(run_job, good) is None
    assert wl.check(run_job, [(w, c + 1 if i == 0 else c) for i, (w, c) in enumerate(good)])
    assert wl.check(run_job, good[1:])
    for name in ("mr_pipeline", "group_by_key"):
        op = Op(name, "operators", None)
        want = wl.expected[name]
        assert wl.check(op, want.copy()) is None
        assert wl.check(op, _bump_first(want, "cnt"))


def test_curation_checks_flag_corruption(tmp_path):
    wl = CurationMix(seed=3, tracer=Tracer(False))
    wl.build_inputs(str(tmp_path))
    wl.prepare_checks()
    for name, want in wl.expected.items():
        op = Op(name, "operators", None)
        assert wl.check(op, want.sample(frac=1.0, random_state=0)) is None, name
        assert wl.check(op, want.iloc[1:]), name
        numeric = [c for c in want.columns if pd.api.types.is_numeric_dtype(want[c])]
        if numeric:
            assert wl.check(op, _bump_first(want, numeric[0])), name


def test_lakehouse_checks_flag_corruption(tmp_path):
    wl = LakehouseRW(seed=3, tracer=Tracer(False))
    wl.build_inputs(str(tmp_path))
    wl.prepare_checks()
    sql = "SELECT count(*) AS n, CAST(sum(acctbal_cents) AS BIGINT) AS s FROM cust_delta"
    read = Op("delta.read", "sources.delta", None, "read", "cust_delta", sql)
    want = wl.mirror.execute(sql).fetchdf()
    assert wl.check(read, want.copy()) is None
    assert wl.check(read, _bump_first(want, "s"))
    # a mutation advances the mirror; the next read must see it
    delete = Op("delta.delete_where", "sources.delta", None, "mutation", "cust_delta",
                ["DELETE FROM cust_delta WHERE c_custkey < 10"], "c_custkey < 10")
    assert wl.check(delete, 7) is None
    assert wl.check(read, want.copy())
    # a replayed stream epoch must not commit
    replay = Op("delta.stream_replay", "sources.delta", None, "mutation", "orders_delta", replay=True)
    assert wl.check(replay, None) is None
    assert wl.check(replay, 5)
    # the full-content scan that ends each pass
    scan = Op("iceberg.scan", "sources.iceberg", None, "read", "cust_ice", "SELECT * FROM cust_ice")
    content = wl.mirror.execute(scan.sql).fetchdf()
    assert wl.check(scan, content.iloc[::-1].copy()) is None
    assert wl.check(scan, _bump_first(content, "acctbal_cents"))
    assert wl.check(scan, content.iloc[1:])


# -- status-store reader on a frozen plan -------------------------------------


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]").appName("perfbench-test")
         .config("spark.ui.enabled", "false").config("spark.driver.memory", "1g")
         .config("spark.sql.adaptive.enabled", "false")
         .config("spark.sql.shuffle.partitions", "4").getOrCreate())
    yield s
    s.stop()


def test_status_store_reader(spark):
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    sc.setJobGroup("perfbench-frozen", "range-groupby")
    rows = (spark.range(0, 200_000, numPartitions=4)
            .groupBy((F.col("id") % 100).alias("k")).count().collect())
    sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 100
    st = group_stats(spark, "perfbench-frozen")
    assert st.jobs >= 1
    assert st.stages == 2  # map side, then the reduce side after one exchange
    assert st.tasks == 4 + 4
    assert st.task_cpu_s > 0 and st.task_run_s > 0
    assert st.shuffle_write_mb > 0 and st.shuffle_read_mb > 0
    assert st.shuffle_write_records == 4 * 100  # partial aggregation: one row per key per map task
    assert 0 < st.stage_busy_s
    assert group_stats(spark, "no-such-group").jobs == 0


# -- seeded inputs are byte-identical -----------------------------------------


def _same_tree(a, b) -> bool:
    names_a = sorted(os.path.relpath(os.path.join(r, f), a) for r, _d, fs in os.walk(a) for f in fs)
    names_b = sorted(os.path.relpath(os.path.join(r, f), b) for r, _d, fs in os.walk(b) for f in fs)
    return names_a == names_b and all(
        filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names_a
    )


@pytest.mark.parametrize("make", [
    lambda d, seed: datagen.make_catalog_tables(d, seed, 1.0),
    lambda d, seed: datagen.make_corpus(d, seed, 3, 3000),
    lambda d, seed: LakehouseRW(seed, Tracer(False)).build_inputs(d),
], ids=["catalog", "corpus", "lakehouse"])
def test_same_seed_same_bytes(tmp_path, make):
    make(str(tmp_path / "a"), 5)
    make(str(tmp_path / "b"), 5)
    make(str(tmp_path / "c"), 6)
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert not _same_tree(tmp_path / "a", tmp_path / "c")


# -- small helpers --------------------------------------------------------------


def test_union_length_and_tail():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert union_length([]) == 0.0
    t = tail_latency([float(i) for i in range(1, 41)])
    assert t["value"] == 30.0 and t["beyond"] == 10 and t["pct"] == 75.0
    t = tail_latency([1.0, 3.0, 2.0] * 6)
    assert t["value"] == 3.0 and t["beyond"] == 0 and t["n"] == 18


def test_frames_differ_ignores_order_and_float_noise():
    a = pd.DataFrame({"x": [1, 2], "y": [0.1 + 0.2, 1.5]})
    b = pd.DataFrame({"y": [1.5, 0.3], "x": [2, 1]})
    assert checks.frames_differ(a, b) is None
    assert checks.frames_differ(a, b.assign(y=[1.5, 0.31]))
