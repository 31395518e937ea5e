"""SparkSession factory tuned for this engine.

Local test posture is ``local[N]`` (one JVM), but every setting here is
chosen to also hold on a 1000-executor cluster at ~100 TB:

- AQE on (coalesce shuffle partitions, auto broadcast conversion,
  skew-join splitting) so plans re-optimize at runtime when the static
  estimate is off — the key knob at scale.
- UTC session timezone so timestamp semantics match the DuckDB oracle
  and are cluster-location independent.
- Arrow enabled so any unavoidable Python boundary (Pandas UDFs,
  ``applyInPandas``) is batch-vectorized, never row-at-a-time pickling.
- ``spark.sql.shuffle.partitions`` defaults to local core count here;
  on a real cluster AQE's coalescing makes the static value mostly a
  ceiling, and we'd raise it to ~2-3× total cores.
- ``spark.sql.codegen.cache.maxEntries`` = ``CODEGEN_CACHE_MAX_ENTRIES``
  (Spark's default is 100). Compiled whole-stage-codegen classes live in
  a Guava cache of 4 segments, each evicting on its own at a quarter of
  the cap, so eviction starts before the cache is full. A working set
  larger than that evicts each class before its next use, and every
  warm pass recompiles it (19-25 ms a class). Cold-pass compile counts
  (``CodegenMetrics``, local[4]): perfbench ``curation_mix`` 171,
  ``lakehouse_rw`` 98, ``wordcount`` 20; bench.py's 92-query headline
  pass at sf0.1 about 1580. Warm headline passes recompiled 2086
  classes at 100 and 1375 at 1000; 4096 leaves room for per-segment
  imbalance and recompiles 56.
- Driver heap sizing is pinned so that identical runs end with the same
  footprint. Left to itself G1 starts the heap at 1/64 of host memory,
  shrinks it to about 110 MB after its first marking cycle, then grows
  it in steps of up to a fifth of the uncommitted heap. It takes a step
  whenever GC pauses cross a share of recent wall time (7.7 %), and
  bursts of back-to-back young GCs cross it: with 1 MB regions every
  array of 512 KB or more (broadcast blocks, task binaries, serialized
  results) is a humongous allocation, and above the marking threshold
  each one starts a young GC. The step count therefore follows timing:
  identical perfbench ``curation_mix`` runs (1 GB heap, local[4]) ended
  with a JVM peak RSS anywhere from 1010 to 1364 MB (16 runs). Two
  settings remove the steps: the heap starts at ``DRIVER_HEAP_START_MB``
  (``-Xms``, capped at the maximum), so it is never shrunk below what a
  pass needs, and below 8 GB (where G1 would pick 1-2 MB) regions are
  ``G1_REGION_MB`` = 4 MB, which halves the humongous-triggered GCs.
  With both the heap stayed at 512 MB (JVM peak RSS 953-1027 MB, 15
  runs); with ``-Xms`` alone 9 of 24 runs still grew it once.
"""

from __future__ import annotations

import logging
import os
import re
import threading

from pyspark.sql import DataFrame, SparkSession

_log = logging.getLogger(__name__)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# --- tracked stage caches -------------------------------------------------
#
# Operators persist multi-consumer subtrees (stage barriers). Persisted
# frames outlive the operator call: Spark has no scope-exit unpersist, so
# a long-lived session that calls many operators would accumulate cached
# frames without bound (the r4 ADVICE leak: _coarse_cells / bench had to
# clearCache() between queries to compensate). The engine-wide convention:
#
# - every operator-internal ``persist()`` goes through ``stage_cache``,
#   which tracks the frame in a session-scoped list;
# - callers (bench.py, tests, library users) call ``release_caches()``
#   once the operator's result has been FULLY materialized (collected /
#   written). Releasing earlier is unsafe for the barriers that guard
#   nondeterministic subtrees (sampling, repartitionByRange boundary
#   sampling — NOTES rule 24): an un-persisted nondeterministic frame
#   recomputed by a later action can diverge from what the first action
#   saw. After materialization, release is always safe.
#
# tests/test_oracle_parity.py asserts the convention catalog-wide: after
# each query materializes and releases, the JVM reports zero persisted
# RDDs.
#
# The tracked list is THREAD-LOCAL (r5 ADVICE): two concurrent operator
# invocations sharing one SparkSession each track into their own list,
# so one caller's release_caches() can never unpersist another caller's
# still-live stage barrier (which, for barriers guarding
# nondeterministic subtrees — NOTES rule 24 — could make a post-release
# recompute silently diverge). The invariant this relies on: an
# operator's stage_cache/stage_checkpoint calls and the caller's
# release_caches() happen on the same thread, which holds for every
# caller in the repo (bench, tests, parity scripts) and is the natural
# library contract (materialize, then release, in the calling thread).


class _CacheTracker(threading.local):
    def __init__(self) -> None:
        # (handle, SparkContext): the context rides along so release can
        # distinguish "session stopped" (nothing to do) from a genuine
        # unpersist failure (logged, counted).
        self.items: list[tuple[object, object]] = []


_TRACKED = _CacheTracker()

# Every tracked item ALSO enters this lock-guarded global registry so
# ``release_all_caches`` can free barriers tracked on threads that no
# longer exist (r6 ADVICE: a pool-thread caller whose worker exits, or
# a library user releasing from a different thread, would otherwise
# leak the persisted RDDs for the session's lifetime — the per-thread
# lists are unreachable from outside their thread).
_ALL_LOCK = threading.Lock()
_ALL_TRACKED: dict[int, tuple[object, object]] = {}


def _track(handle: object, sc: object) -> None:
    item = (handle, sc)
    _TRACKED.items.append(item)
    with _ALL_LOCK:
        _ALL_TRACKED[id(item)] = item


def stage_cache(df: DataFrame) -> DataFrame:
    """Persist a multi-consumer subtree and track it for ``release_caches``.

    SAME-THREAD CONTRACT: the tracked list is thread-local, so the
    ``release_caches()`` that frees this barrier must run on the SAME
    thread that called ``stage_cache`` (materialize, then release, in
    the calling thread — the natural library flow). A caller that
    builds frames on a worker/pool thread but releases elsewhere must
    use ``release_all_caches()`` instead, or the barrier leaks for the
    session's lifetime."""
    df.persist()
    _track(df, df.sparkSession.sparkContext)
    return df


def stage_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``localCheckpoint`` with tracked release.

    Iterative operators (connected components, PageRank, BPE) checkpoint
    each round to truncate lineage (NOTES rule 12); the checkpoint blocks
    are persisted RDDs and would otherwise accumulate exactly like stage
    caches. ``DataFrame.unpersist`` cannot release them (localCheckpoint
    persists the internal RDD directly, bypassing the CacheManager), so
    we track the checkpointed RDD off the returned frame's LogicalRDD
    plan node and unpersist THAT. NOTE: unlike a released cache, a
    released checkpoint cannot recompute (lineage is gone) — release
    only after the operator's result is fully materialized, per the
    module convention."""
    out = df.localCheckpoint(eager=eager)
    _track(out._jdf.queryExecution().logical().rdd(), out.sparkSession.sparkContext)
    return out


def release_caches() -> int:
    """Unpersist every frame tracked by ``stage_cache``/``stage_checkpoint``
    ON THIS THREAD; returns the count. Call after materializing operator
    results (see module comment). Blocking so callers can assert the JVM
    cache map is empty immediately after.

    A stopped session is skipped silently (its JVM cache died with it);
    any OTHER unpersist failure is logged and counted rather than
    swallowed (r5 ADVICE), so a py4j/plan-shape regression surfaces in
    logs instead of masquerading as a clean release."""
    items = _TRACKED.items
    popped = []
    while items:
        popped.append(items.pop())
    with _ALL_LOCK:
        for item in popped:
            _ALL_TRACKED.pop(id(item), None)
    return _release(popped, "release_caches")


def release_all_caches() -> int:
    """Cross-thread escape hatch: unpersist EVERY tracked barrier in the
    session, regardless of which thread tracked it; returns the count.

    For callers that cannot honor ``stage_cache``'s same-thread
    contract (frames built on a pool thread, released from the main
    thread, or a worker thread that has exited). Entries stay in their
    origin thread's local list, but a later same-thread
    ``release_caches()`` just re-unpersists — a harmless no-op on an
    already-released frame. Unsafe while ANY thread's operator results
    are not yet fully materialized (same rule as ``release_caches``,
    applied globally)."""
    with _ALL_LOCK:
        popped = list(_ALL_TRACKED.values())
        _ALL_TRACKED.clear()
    return _release(popped, "release_all_caches")


def _release(popped: list[tuple[object, object]], who: str) -> int:
    n = 0
    failures = 0
    for handle, sc in popped:
        if getattr(sc, "_jsc", None) is None:
            n += 1  # session stopped — nothing left to release
            continue
        try:
            if isinstance(handle, DataFrame):
                handle.unpersist(blocking=True)
            else:  # java RDD handle from stage_checkpoint
                handle.unpersist(True)
        except Exception as exc:
            failures += 1
            _log.warning(
                "%s: unpersist failed for %s: %s", who, type(handle).__name__, exc
            )
        n += 1
    if failures:
        _log.warning("%s: %d of %d tracked releases failed", who, failures, n)
    return n


def _cpus() -> int:
    """Core count from ``SPARK_GRAFT_CPUS``; unset, empty or ``0`` means
    the host's core count. Any other non-integer or a negative value
    raises rather than silently sizing the session to the host."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "").strip() or "0"
    if not raw.isdecimal():
        raise ValueError(f"SPARK_GRAFT_CPUS must be a non-negative integer, got {raw!r}")
    return int(raw) or (os.cpu_count() or 8)


# Compiled whole-stage-codegen classes per JVM (a static conf: it takes
# effect only when the session's JVM starts). See the module docstring
# for the working sets this covers.
CODEGEN_CACHE_MAX_ENTRIES = 4096

# Initial driver heap and the smallest G1 region size; see the module
# docstring.
DRIVER_HEAP_START_MB = 512
G1_REGION_MB = 4

_MEM_UNIT_MB = {"b": 1 / 2**20, "k": 1 / 1024, "m": 1, "g": 1024, "t": 2**20}


def _driver_java_options(mem: str) -> str:
    """Driver JVM heap options for a heap maximum of ``mem``, a Spark
    memory string (``16g``, ``512m``, ``1024kb``; no unit means MB)."""
    m = re.fullmatch(r"(\d+)\s*([kmgt]?)(b?)", mem.strip().lower())
    if not m:
        raise ValueError(f"SPARK_GRAFT_DRIVER_MEM must be a memory size such as 16g, got {mem!r}")
    heap_mb = int(m.group(1)) * _MEM_UNIT_MB[m.group(2) or m.group(3) or "m"]
    opts = f"-Xms{int(min(DRIVER_HEAP_START_MB, heap_mb))}m"
    if heap_mb < 2048 * G1_REGION_MB:  # from here up G1 picks heap/2048 itself
        opts += f" -XX:G1HeapRegionSize={G1_REGION_MB}m"
    return opts


def get_spark(app_name: str = "map_reduce_spark", cpus: int | None = None) -> SparkSession:
    """Create (or fetch) the engine's SparkSession.

    Safe to call repeatedly — Spark returns the active session.
    """
    n = cpus or _cpus()
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", mem)
        # the admin-level slot, so a user's extraJavaOptions can override
        .config("spark.driver.defaultJavaOptions", _driver_java_options(mem))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        # managed-table location for bucketed tables (kept out of the
        # repo; on a cluster this is the metastore-governed warehouse)
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
