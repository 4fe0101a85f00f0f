"""Workload ``txlog``: writes beside reads on one txlog table.

Set-up lands the sf0.1 ``orders`` table (150k rows) as an 8-slice
base table with ``append_sliced``. The run is a closed loop of blocks;
each block is a MERGE upsert of ~1% of the keys, then the other ops of
``BLOCK`` in seeded order, then a row-level change-feed read over the
versions since the MERGE (``read_changes_rows`` is exact only over
deletion-vector DML, which a MERGE is not). Every write is applied to
a DuckDB shadow table too; every read is checked against it, and so
is the whole table at the end. ``checkpoint_every`` keeps its default,
so checkpoints fall inside the loop.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa

from perfbench import datagen
from perfbench.stats import percentile
from perfbench.trace import MERGE_REGIMES

ORDERS = 150_000
SLICES = 8
APPEND_ROWS = 500
MERGE_ROWS = ORDERS // 100
RANGE_ROWS = 200        # rows a predicate DELETE/UPDATE hits
READ_RANGE = 2_000
BLOCK = ("append", "append", "delete_where", "update_where",
         "read_point", "read_point", "read_range", "read_range", "read")
WRITES = {"merge_upsert", "append", "delete_where", "update_where"}


def session_extra() -> dict:
    return {}


def stage(ctx, spark, rep: int) -> dict:
    from gcp_data_engineering_workshop_spark.catalog import load_table
    from gcp_data_engineering_workshop_spark.sources import txlog as T

    d = ctx.dir(f"stage{rep}")
    sf_dir = os.path.join(d, "sf")
    datagen.write_tables(sf_dir, ctx.seed, {"orders": ORDERS})
    root = os.path.join(d, "table")
    T.append_sliced(load_table(spark, "orders", sf_dir), root,
                    f"cast(o_orderkey div {ORDERS // SLICES} as int)", SLICES)
    return {"dir": d, "sf_dir": sf_dir, "root": root}


class _Shadow:
    """The DuckDB twin of the txlog table."""

    def __init__(self, sf_dir: str):
        from perfbench.oracle import duckdb_conn

        self.con = duckdb_conn(sf_dir)
        self.con.execute("CREATE TABLE t AS SELECT * FROM orders")

    def rows(self, where: str = "TRUE"):
        cur = self.con.execute(f"SELECT * FROM t WHERE {where}")
        return [d[0] for d in cur.description], cur.fetchall()

    def count(self, where: str) -> int:
        return self.con.execute(
            f"SELECT count(*) FROM t WHERE {where}").fetchone()[0]


class _Loop:
    def __init__(self, ctx, spark, staged):
        from gcp_data_engineering_workshop_spark.sources import txlog as T

        self.ctx, self.spark, self.T = ctx, spark, T
        self.root = staged["root"]
        self.shadow = _Shadow(staged["sf_dir"])
        self.schema = T.read(spark, self.root).schema
        self.rng = np.random.default_rng([ctx.seed, 7])
        self.next_key = ORDERS
        self.lat: dict[str, list[float]] = {}
        self.expect: dict[int, dict[str, int]] = {}   # version -> CDF counts
        self.merge_version = None
        self.regimes: dict[str, int] = {}
        self.rows_written = 0
        self.file_ratio: list[float] = []

    def _df(self, table: pa.Table):
        return self.spark.createDataFrame(table.to_pandas(), schema=self.schema)

    def _timed(self, op: str, fn):
        with self.ctx.measuring(), self.ctx.query(f"txlog.{op}"):
            t0 = time.perf_counter()
            out = fn()
            self.lat.setdefault(op, []).append(time.perf_counter() - t0)
        return out

    def _range(self, n: int) -> str:
        lo = int(self.rng.integers(0, ORDERS - n))
        return f"o_orderkey >= {lo} AND o_orderkey < {lo + n}"

    def _check_read(self, op: str, cols, rows, where: str) -> None:
        from perfbench.oracle import digest

        ok = digest(cols, rows) == digest(*self.shadow.rows(where))
        self.ctx.check(f"txlog.{op}", ok, f"differs from shadow on {where}")

    def op(self, op: str) -> None:
        T, spark, root = self.T, self.spark, self.root
        if op == "append":
            new = datagen.orders(self.rng, APPEND_ROWS)
            keys = np.arange(self.next_key, self.next_key + APPEND_ROWS)
            new = new.set_column(0, "o_orderkey", pa.array(keys))
            self.next_key += APPEND_ROWS
            df = self._df(new)
            v = self._timed(op, lambda: T.append(df, root))
            self.shadow.con.register("u", new)
            self.shadow.con.execute("INSERT INTO t SELECT * FROM u")
            self.expect[v] = {"insert": APPEND_ROWS}
            self.rows_written += APPEND_ROWS
        elif op == "merge_upsert":
            keys = self.rng.choice(self.next_key, MERGE_ROWS, replace=False)
            upd = datagen.orders(self.rng, MERGE_ROWS)
            upd = upd.set_column(0, "o_orderkey", pa.array(np.sort(keys)))
            df = self._df(upd)
            v = self._timed(op, lambda: T.merge_upsert(spark, root, df,
                                                      "o_orderkey"))
            plan = T.last_merge_plan() or {}
            reg = plan.get("regime", "none")
            self.regimes[reg] = self.regimes.get(reg, 0) + 1
            self.shadow.con.register("u", upd)
            self.shadow.con.execute(
                "DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM u)")
            self.shadow.con.execute("INSERT INTO t SELECT * FROM u")
            self.merge_version = v
            self.rows_written += MERGE_ROWS
        elif op == "delete_where":
            cond = self._range(RANGE_ROWS)
            n = self.shadow.count(cond)
            v = self._timed(op, lambda: T.delete_where(spark, root, cond,
                                                      mode="dv"))
            self.shadow.con.execute(f"DELETE FROM t WHERE {cond}")
            if n:
                self.expect[v] = {"delete": n}
        elif op == "update_where":
            cond = self._range(RANGE_ROWS)
            n = self.shadow.count(cond)
            v = self._timed(op, lambda: T.update_where(
                spark, root, cond,
                {"o_totalprice": "o_totalprice + 1",
                 "o_orderstatus": "'F'"}, mode="dv"))
            self.shadow.con.execute(
                f"UPDATE t SET o_totalprice = o_totalprice + 1, "
                f"o_orderstatus = 'F' WHERE {cond}")
            if n:
                self.expect[v] = {"update_preimage": n, "update_postimage": n}
            self.rows_written += n
        elif op in ("read_point", "read_range"):
            if op == "read_point":
                cond = f"o_orderkey = {int(self.rng.integers(0, ORDERS))}"
            else:
                cond = self._range(READ_RANGE)
            df = None

            def read():
                nonlocal df
                df = T.read_where(spark, root, cond)
                return df.collect()
            rows = self._timed(op, read)
            self._check_read(op, df.columns, rows, cond)
            if self.ctx.tracer and op == "read_range":
                live = len(T.snapshot(root)["files"])
                self.file_ratio.append(len(df.inputFiles()) / max(live, 1))
        elif op == "read":
            got = self._timed(op, lambda: T.read(spark, root).selectExpr(
                "count(*)", "sum(o_orderkey)", "sum(o_custkey)").first())
            want = self.shadow.con.execute(
                "SELECT count(*), sum(o_orderkey)::BIGINT, "
                "sum(o_custkey)::BIGINT FROM t").fetchone()
            self.ctx.check("txlog.read", tuple(got) == tuple(want),
                           f"{tuple(got)} != {want}")
        elif op == "read_changes_rows":
            lo, hi = self.merge_version, T.snapshot(root)["version"]
            got = self._timed(op, lambda: T.read_changes_rows(
                spark, root, from_version=lo, to_version=hi)
                .groupBy("_commit_version", "_change_type").count().collect())
            have = {(r[0], r[1]): r[2] for r in got}
            want = {(v, t): n for v, d in self.expect.items()
                    if lo < v <= hi for t, n in d.items()}
            self.ctx.check("txlog.read_changes_rows", have == want,
                           f"{have} != {want}")

    def block(self) -> None:
        self.op("merge_upsert")
        for i in self.rng.permutation(len(BLOCK)):
            self.op(BLOCK[i])
        self.op("read_changes_rows")


def run(ctx, spark, staged) -> None:
    from perfbench.oracle import digest

    loop = _Loop(ctx, spark, staged)
    T, root = loop.T, loop.root
    blocks = max(1, round(ctx.seconds / 10.0))
    bytes0 = _dir_bytes(root)
    t0 = time.perf_counter()
    for _ in range(blocks):
        loop.block()
    wall = time.perf_counter() - t0
    final = T.read(spark, root)
    ctx.check("txlog.final_table",
              digest(final.columns, final.collect())
              == digest(*loop.shadow.rows()), "table differs from shadow")

    writes = [s for op, v in loop.lat.items() if op in WRITES for s in v]
    reads = [s for op, v in loop.lat.items() if op not in WRITES for s in v]
    n_ops = sum(len(v) for v in loop.lat.values())
    ctx.metric("txlog_write_p50_ms", percentile(writes, 50) * 1000, "ms")
    ctx.metric("txlog_read_p50_ms", percentile(reads, 50) * 1000, "ms")
    ctx.metric("txlog_ops_per_s", n_ops / wall, "1/s")
    ctx.metric("work_s", sum(sum(v) for v in loop.lat.values()), "s")
    snap = T.snapshot(root)
    live_rows = final.count()
    ctx.metric("txlog_store_bytes_per_row",
               _dir_bytes(root) / max(live_rows, 1), "B/row")
    ctx.notes["txlog_blocks"] = blocks
    ctx.notes["txlog_op_s"] = {k: float(np.median(v))
                               for k, v in loop.lat.items()}
    if ctx.tracer:
        L = ctx.tracer.layer
        L["txlog.log_versions"] = snap["version"]
        L["txlog.checkpoints"] = sum(
            1 for f in os.listdir(os.path.join(root, T.LOG_DIR))
            if f.startswith("checkpoint-") and f.endswith(".json"))
        L["txlog.read_files_ratio"] = float(np.median(loop.file_ratio))
        L["txlog.bytes_written_per_row"] = (
            (_dir_bytes(root) - bytes0) / max(loop.rows_written, 1))
        L["txlog.files_live"] = len(snap["files"])
        for reg in MERGE_REGIMES:
            L[f"txlog.merge_regime.{reg}"] = loop.regimes.get(reg, 0)


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total
