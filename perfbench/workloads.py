"""The three benchmark workloads.

Each workload builds its inputs from the seed, then yields passes of
operations. An operation is a zero-argument callable that calls into the
engine's public functions and returns a fully materialized result (rows
on the driver, or a committed table version); the harness times it and
calls ``release_caches()`` after it. ``check`` runs outside the timed
region and returns an error string for a wrong output, else None.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd

from perfbench import checks, datagen


@dataclass
class Op:
    name: str  # stable operation name, used for checks and per-op metrics
    layer: str  # engine layer the call enters
    call: Callable[[], Any]
    kind: str = "query"  # "query", "mutation" or "read"
    # lakehouse only: the mirror's table, the SQL it replays (a read's
    # aggregate, a mutation's statements), the predicate whose matching
    # rows the mutation touches, and a source batch it registers
    table: str = ""
    sql: Any = ()
    affected: str | None = None
    frame: pd.DataFrame | None = None
    frame_name: str = ""
    replay: bool = False


class Workload:
    name = ""
    # Seconds of ``--seconds`` one pass stands for: a run measures
    # ceil(--seconds / pass_seconds) whole passes, a fixed amount of work,
    # so every run of a workload has the same operation mix and sample
    # count whatever the host's speed.
    pass_seconds = 1.0

    def __init__(self, seed: int, tracer) -> None:
        self.seed = seed
        self.tracer = tracer
        self.spark = None

    def build_inputs(self, out_dir: str) -> None:
        """Write the seeded inputs (no Spark)."""
        raise NotImplementedError

    def build_fixtures(self, spark) -> None:
        """Build what the operations need from the inputs (may use Spark)."""
        self.spark = spark

    def prepare_checks(self) -> None:
        """Compute expected outputs once, outside every timed region."""

    def pass_ops(self, pass_no: int) -> list[Op]:
        raise NotImplementedError

    def check(self, op: Op, result: Any) -> str | None:
        raise NotImplementedError

    def table_dirs(self) -> list[str]:
        """Table directories whose files the traced run watches."""
        return []

    def rows_affected(self) -> int:
        return 0


def _queries() -> dict:
    from map_reduce_spark import registry

    return registry.all_queries()


def _registry_op(spark, q, sf_dir: str, layer: str) -> Op:
    return Op(q.name, layer, lambda: q.fn(spark, sf_dir).toPandas())


# -- wordcount ---------------------------------------------------------------


class WordCount(Workload):
    """The paper's job: Python-lambda MapReduce (``run_job``, groupByKey,
    no combiner) beside the Catalyst word count over the same corpus."""

    name = "wordcount"
    pass_seconds = 3.0
    n_files = 8
    words_per_file = 100_000

    def build_inputs(self, out_dir: str) -> None:
        self.dir = datagen.make_corpus(out_dir, self.seed, self.n_files, self.words_per_file)

    def prepare_checks(self) -> None:
        qs = _queries()
        con = checks.duck_catalog(self.dir, ["documents"])
        self.expected = {n: con.execute(qs[n].oracle).fetchdf() for n in ("mr_pipeline", "group_by_key")}
        con.close()

    def pass_ops(self, pass_no: int) -> list[Op]:
        from map_reduce_spark import mapreduce

        spark, qs = self.spark, _queries()
        splits = os.path.join(self.dir, "splits")
        return [
            Op("run_job", "mapreduce", lambda: mapreduce.word_count(spark, splits).collect()),
            _registry_op(spark, qs["mr_pipeline"], self.dir, "operators"),
            _registry_op(spark, qs["group_by_key"], self.dir, "operators"),
        ]

    def check(self, op: Op, result: Any) -> str | None:
        if op.name == "run_job":
            # run_job must agree with the Catalyst path, whose oracle is below
            got = pd.DataFrame(list(result), columns=["word", "cnt"])
            err = checks.frames_differ(got, self.expected["mr_pipeline"])
            return err and f"run_job vs mr_pipeline oracle: {err}"
        return checks.frames_differ(result, self.expected[op.name])


# -- curation_mix --------------------------------------------------------------

# Few-stage queries: fixed per-job cost dominates.
SHORT_QUERIES = (
    "q1_pricing_summary",
    "join_fact_fact",
    "session_window",
    "asof_join",
)
# Multi-round operations, each with the layer it enters: the composed
# decontaminate-and-select pipeline (about 30 small Spark jobs a call) and
# the hourly rollup folded over three event batches by
# ``incremental.merge_rollup`` (6 jobs).
FOLD_QUERIES = {
    "select_pretraining_data": "pipelines",
    "incremental_rollup": "incremental",
}


class CurationMix(Workload):
    """Registered, oracled catalog queries in a seeded order per pass."""

    name = "curation_mix"
    pass_seconds = 6.0
    scale = 2.0

    def build_inputs(self, out_dir: str) -> None:
        self.dir = datagen.make_catalog_tables(out_dir, self.seed, self.scale)

    def prepare_checks(self) -> None:
        qs = _queries()
        con = checks.duck_catalog(self.dir)
        self.expected = {n: con.execute(qs[n].oracle).fetchdf() for n in SHORT_QUERIES + tuple(FOLD_QUERIES)}
        con.close()

    def pass_ops(self, pass_no: int) -> list[Op]:
        mix = SHORT_QUERIES + tuple(FOLD_QUERIES)
        qs = _queries()
        order = np.random.default_rng([self.seed, pass_no]).permutation(len(mix))
        return [
            _registry_op(self.spark, qs[mix[i]], self.dir, FOLD_QUERIES.get(mix[i], "operators"))
            for i in order
        ]

    def check(self, op: Op, result: Any) -> str | None:
        return checks.frames_differ(result, self.expected[op.name])


# -- lakehouse_rw -------------------------------------------------------------

# Aggregate each read op returns; the DuckDB mirror answers the same SQL.
CUST_AGG = ["count(*) AS n", "CAST(sum(acctbal_cents) AS BIGINT) AS s_bal",
            "CAST(sum(c_nationkey) AS BIGINT) AS s_nat", "max(c_custkey) AS max_key"]
ORDER_AGG = ["count(*) AS n", "CAST(sum(price_cents) AS BIGINT) AS s_price",
             "max(o_orderkey) AS max_key"]


class LakehouseRW(Workload):
    """Writes beside reads on Delta and Iceberg tables: MERGE, DELETE,
    UPDATE, positional deletes and exactly-once stream appends, each
    followed by a read aggregate, then compaction and cleanup of the
    append and delete logs, then a full read of every table. A DuckDB
    mirror replays every mutation and answers every read."""

    name = "lakehouse_rw"
    pass_seconds = 8.0
    n_cust = 3000
    n_orders = 4000
    batch = 60

    def build_inputs(self, out_dir: str) -> None:
        rng = np.random.default_rng(self.seed)
        self.dir = out_dir
        os.makedirs(out_dir, exist_ok=True)
        self.cust = pd.DataFrame(
            {
                "c_custkey": np.arange(self.n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(self.n_cust)],
                "c_nationkey": rng.integers(0, 25, self.n_cust).astype(np.int64),
                "acctbal_cents": rng.integers(-99999, 999999, self.n_cust).astype(np.int64),
                "c_mktsegment": [datagen.SEGMENTS[j] for j in rng.integers(0, 5, self.n_cust)],
            }
        )
        self.orders = self._order_rows(rng, 0, self.n_orders)
        self.next_order = self.n_orders
        self.cust.to_parquet(os.path.join(out_dir, "customer.parquet"), index=False)
        self.orders.to_parquet(os.path.join(out_dir, "orders.parquet"), index=False)

    def _order_rows(self, rng, first_key: int, n: int) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "o_orderkey": np.arange(first_key, first_key + n, dtype=np.int64),
                "o_custkey": rng.integers(0, self.n_cust, n).astype(np.int64),
                "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n)],
                "price_cents": rng.integers(100_000, 49_999_999, n).astype(np.int64),
                "o_orderpriority": [datagen.PRIORITIES[j] for j in rng.integers(0, 5, n)],
            }
        )

    def build_fixtures(self, spark) -> None:
        from map_reduce_spark.sources import delta_py, iceberg_py

        self.spark = spark
        t = {k: os.path.join(self.dir, k) for k in ("cust_delta", "cust_ice", "orders_delta", "orders_ice")}
        self.tables = t
        cust = spark.createDataFrame(self.cust)
        orders = spark.createDataFrame(self.orders)
        delta_py.write_delta_py(cust.repartition(4), t["cust_delta"], mode="overwrite")
        delta_py.write_delta_py(orders.repartition(2), t["orders_delta"], mode="overwrite")
        iceberg_py.append_iceberg_snapshot(
            cust.repartitionByRange(4, "c_custkey"), t["cust_ice"], [("c_nationkey", "bucket[4]")]
        )
        iceberg_py.append_iceberg_snapshot(orders.repartition(2), t["orders_ice"])

    def prepare_checks(self) -> None:
        import duckdb

        self.mirror = duckdb.connect()
        self._affected = 0  # rows the mutations touched, for write amplification
        self.mirror.register("cust_df", self.cust)
        self.mirror.register("orders_df", self.orders)
        for name in ("cust_delta", "cust_ice"):
            self.mirror.execute(f"CREATE TABLE {name} AS SELECT * FROM cust_df")
        for name in ("orders_delta", "orders_ice"):
            self.mirror.execute(f"CREATE TABLE {name} AS SELECT * FROM orders_df")
        self.mirror.unregister("cust_df")
        self.mirror.unregister("orders_df")

    def table_dirs(self) -> list[str]:
        return list(self.tables.values())

    def rows_affected(self) -> int:
        return self._affected

    # each op carries the SQL the mirror replays once the op has run
    def pass_ops(self, pass_no: int) -> list[Op]:
        from pyspark.sql import functions as F

        from map_reduce_spark.sources import delta_py as D
        from map_reduce_spark.sources import iceberg_py as I

        spark, t = self.spark, self.tables
        rng = np.random.default_rng([self.seed, pass_no])
        ops: list[Op] = []

        def read(table: str, fmt: str, full: bool = False) -> None:
            # an aggregate, or with ``full`` every row: the full-content check
            agg = ["*"] if full else CUST_AGG if table.startswith("cust") else ORDER_AGG
            if fmt == "delta":
                fn = lambda: D.read_delta_py(spark, t[table])  # noqa: E731
            else:
                fn = lambda: I.read_iceberg_py(spark, t[table])  # noqa: E731

            def call():
                with self.tracer.span("sources.read_build"):
                    df = fn()
                return df.selectExpr(*agg).toPandas()

            ops.append(Op(f"{fmt}.{'scan' if full else 'read'}", f"sources.{fmt}", call, "read", table,
                          f"SELECT {', '.join(agg)} FROM {table}"))

        def mutate(name, fmt, table, fn, sql, affected=None, frame=None, frame_name="") -> None:
            ops.append(Op(name, f"sources.{fmt}", fn, "mutation", table, sql, affected, frame, frame_name))
            read(table, fmt)

        # MERGE: update a sample of live keys, insert new keys above the max
        for fmt, table, fn in (("delta", "cust_delta", D.merge_upsert), ("iceberg", "cust_ice", I.merge_iceberg_upsert)):
            live = self.mirror.execute(f"SELECT c_custkey FROM {table} ORDER BY 1").fetchnumpy()["c_custkey"]
            upd = rng.choice(live, self.batch // 2, replace=False)
            top = int(live.max()) + 1
            keys = np.concatenate([upd, np.arange(top, top + self.batch // 2)]).astype(np.int64)
            src = pd.DataFrame(
                {
                    "c_custkey": keys,
                    "c_name": [f"Customer#{k:09d}" for k in keys],
                    "c_nationkey": rng.integers(0, 25, len(keys)).astype(np.int64),
                    "acctbal_cents": rng.integers(-99999, 999999, len(keys)).astype(np.int64),
                    "c_mktsegment": [datagen.SEGMENTS[j] for j in rng.integers(0, 5, len(keys))],
                }
            )
            name = f"merge_{pass_no}_{table}"
            mutate(
                f"{fmt}.merge_upsert", fmt, table,
                lambda fn=fn, table=table, src=src: fn(spark, t[table], spark.createDataFrame(src), "c_custkey"),
                [f"DELETE FROM {table} WHERE c_custkey IN (SELECT c_custkey FROM {name})",
                 f"INSERT INTO {table} SELECT * FROM {name}"],
                frame=src, frame_name=name,
            )
        # DELETE and UPDATE on seeded residues of the key
        r_del, r_upd, bump = int(rng.integers(0, 23)), int(rng.integers(0, 19)), int(rng.integers(1, 999))
        del_pred = f"c_custkey % 23 = {r_del} AND c_nationkey < 20"
        upd_pred = f"c_custkey % 19 = {r_upd}"
        for fmt, table, dfn, ufn in (
            ("delta", "cust_delta", D.delete_where, D.update_where),
            ("iceberg", "cust_ice", I.delete_iceberg_where, I.update_iceberg_where),
        ):
            mutate(f"{fmt}.delete_where", fmt, table,
                   lambda dfn=dfn, table=table: dfn(spark, t[table], F.expr(del_pred)),
                   [f"DELETE FROM {table} WHERE {del_pred}"], del_pred)
            mutate(f"{fmt}.update_where", fmt, table,
                   lambda ufn=ufn, table=table: ufn(
                       spark, t[table], F.expr(upd_pred),
                       {"acctbal_cents": F.expr(f"acctbal_cents + {bump}")}),
                   [f"UPDATE {table} SET acctbal_cents = acctbal_cents + {bump} WHERE {upd_pred}"],
                   upd_pred)
        # merge-on-read positional deletes on the Iceberg orders table
        pos_pred = f"o_orderkey % 29 = {int(rng.integers(0, 29))}"
        mutate("iceberg.positional_delete", "iceberg", "orders_ice",
               lambda: I.commit_positional_deletes(spark, t["orders_ice"], F.expr(pos_pred)),
               [f"DELETE FROM orders_ice WHERE {pos_pred}"], pos_pred)
        # exactly-once stream append, then a replay of the same epoch
        batch = self._order_rows(rng, self.next_order, self.batch)
        self.next_order += self.batch
        name = f"append_{pass_no}"
        append = lambda: D.append_stream_batch(  # noqa: E731
            spark.createDataFrame(batch), t["orders_delta"], "perfbench", pass_no
        )
        ops.append(Op("delta.stream_append", "sources.delta", append, "mutation", "orders_delta",
                      [f"INSERT INTO orders_delta SELECT * FROM {name}"], frame=batch, frame_name=name))
        ops.append(Op("delta.stream_replay", "sources.delta", append, "mutation", "orders_delta",
                      replay=True))
        read("orders_delta", "delta")
        # maintenance: compaction and cleanup of the two append/delete logs
        for name, fmt, table, fn in (
            ("delta.optimize", "delta", "orders_delta", lambda: D.optimize_compact(spark, t["orders_delta"])),
            ("delta.vacuum", "delta", "orders_delta", lambda: D.vacuum_delta(t["orders_delta"])),
            ("iceberg.compact", "iceberg", "orders_ice",
             lambda: I.compact_iceberg_files(spark, t["orders_ice"], out_files=2)),
            ("iceberg.expire", "iceberg", "orders_ice", lambda: I.expire_snapshots(t["orders_ice"], 2)),
        ):
            ops.append(Op(name, f"sources.{fmt}", fn, "mutation", table))
        # every table read in full and compared with the mirror row for row
        for table in t:
            read(table, "delta" if table.endswith("delta") else "iceberg", full=True)
        return ops

    def check(self, op: Op, result: Any) -> str | None:
        if op.kind == "read":
            want = self.mirror.execute(op.sql).fetchdf()
            return checks.frames_differ(result, want)
        if op.replay:
            return None if result is None else f"replayed epoch committed version {result}"
        frame = op.frame
        if frame is not None:
            self.mirror.register(op.frame_name, frame)
            self._affected += len(frame)
        if op.affected:
            self._affected += self.mirror.execute(
                f"SELECT count(*) FROM {op.table} WHERE {op.affected}"
            ).fetchone()[0]
        for sql in op.sql:
            self.mirror.execute(sql)
        if frame is not None:
            self.mirror.unregister(op.frame_name)
        return None


WORKLOADS = {w.name: w for w in (WordCount, CurationMix, LakehouseRW)}
