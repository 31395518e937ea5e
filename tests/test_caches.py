"""Warm queries reuse plan-time work: compiled codegen classes stay in
Spark's class cache across passes (``session.CODEGEN_CACHE_MAX_ENTRIES``),
and ``io.load_table`` infers a file's parquet schema once per session."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from map_reduce_spark import io as mio
from map_reduce_spark import registry
from map_reduce_spark.session import release_caches

# perfbench's curation_mix pass: its six queries need about 170 classes,
# more than Spark's default cap of 100.
CURATION_MIX = (
    "q1_pricing_summary",
    "join_fact_fact",
    "session_window",
    "asof_join",
    "select_pretraining_data",
    "incremental_rollup",
)


def _compiles(spark) -> int:
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def _jobs_in_group(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_pass_reuses_compiled_classes(spark, sf_dir):
    qs = registry.all_queries()
    counts = []
    for _ in range(2):
        before = _compiles(spark)
        for name in CURATION_MIX:
            qs[name].fn(spark, sf_dir).toPandas()
            release_caches()
        counts.append(_compiles(spark) - before)
    cold, warm = counts
    assert cold > 0
    assert warm * 10 <= cold, f"warm pass compiled {warm} classes, cold {cold}"


def _copy_table(sf_dir, tmp_path, name: str) -> str:
    shutil.copy(os.path.join(sf_dir, f"{name}.parquet"), tmp_path / f"{name}.parquet")
    return str(tmp_path)


def test_load_table_reuses_schema_of_unchanged_file(spark, sf_dir, tmp_path):
    d = _copy_table(sf_dir, tmp_path, "nation")
    first, jobs1 = _jobs_in_group(spark, "schema-cold", lambda: mio.load_table(spark, d, "nation"))
    second, jobs2 = _jobs_in_group(spark, "schema-warm", lambda: mio.load_table(spark, d, "nation"))
    assert jobs1 >= 1  # footer-reading inference job
    assert jobs2 == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_load_table_reinfers_rewritten_file(spark, sf_dir, tmp_path):
    d = _copy_table(sf_dir, tmp_path, "nation")
    assert mio.load_table(spark, d, "nation").columns == ["n_nationkey", "n_name", "n_regionkey"]
    path = os.path.join(d, "nation.parquet")
    pq.write_table(pa.table({"n_nationkey": pa.array([7, 8], pa.int64()), "n_flag": [True, False]}), path)
    df = mio.load_table(spark, d, "nation")
    assert df.schema.simpleString() == "struct<n_nationkey:bigint,n_flag:boolean>"
    assert sorted(df.collect()) == [(7, True), (8, False)]


def test_load_table_events_types_unchanged_when_cached(spark, sf_dir):
    cold = mio.load_table(spark, sf_dir, "events")
    warm, jobs = _jobs_in_group(spark, "events-warm", lambda: mio.load_table(spark, sf_dir, "events"))
    assert jobs == 0
    types = dict(warm.dtypes)
    assert types["ts"] == "timestamp_ntz" and types["ts_us"] == "bigint"
    assert warm.schema == cold.schema
    cols = ["event_id", "ts", "ts_us"]
    assert sorted(warm.select(cols).collect()) == sorted(cold.select(cols).collect())
