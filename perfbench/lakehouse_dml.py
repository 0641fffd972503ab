"""``lakehouse_dml``: one writer changing a spec Iceberg table through SQL.

The table is built from ``orders`` with ``IcebergTable.create`` and
registered with ``Engine.register_iceberg_table``. Each round, in a
closed loop, runs ``INSERT … SELECT`` of 4,000 new rows, ``UPDATE`` and
``DELETE`` on seeded key ranges, a current-state aggregate and a
``FOR VERSION AS OF`` read of the round's first snapshot. Every second
round also runs ``CALL system.rewrite_data_files`` and
``CALL system.expire_snapshots``; a pass is those two rounds.

Every statement is logged; after the measured rounds DuckDB replays the
log, and the reads and the final table state (folded into key buckets)
must match the replay.
"""

from __future__ import annotations

import os
import shutil
import time

import duckdb

from check import same_rows

TABLE = "ice_orders"
READ_CURRENT = (f"SELECT o_orderstatus, count(*) AS n, "
                f"sum(o_totalprice) AS revenue FROM {TABLE} "
                "GROUP BY o_orderstatus")
#: the final table state, folded into 1,000 key buckets per engine
FINAL_STATE = (f"SELECT o_orderkey % 1000 AS b, count(*) AS n, "
               "sum(o_orderkey) AS keys, sum(o_custkey) AS custs, "
               "sum(o_totalprice) AS revenue, "
               "sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS f, "
               "min(o_orderdate) AS first, max(o_orderdate) AS last, "
               "min(o_orderpriority) AS prio "
               f"FROM {TABLE} GROUP BY o_orderkey % 1000")
INSERT_ROWS = 4000
ROUNDS_PER_PASS = 2
COMMIT_KINDS = ("insert", "update", "delete", "rewrite", "expire")


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


class LakehouseDml:
    name = "lakehouse_dml"
    sf = 0.1
    setup_reps = 3
    warmup_passes = 1
    op_kinds = COMMIT_KINDS

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.rep = 0
        self.round = 0
        self.log: list[tuple] = []
        self.bytes_written = {k: 0 for k in COMMIT_KINDS}
        self.user_bytes = 0
        self.row_bytes = 0.0

    def setup(self) -> dict[str, float]:
        ctx = self.ctx
        iceberg = ctx.pkg("lakehouse.iceberg")
        src = ctx.spark.read.parquet(f"{ctx.sf_dir}/orders.parquet")
        src.createOrReplaceTempView("orders_src")
        if self.rep:
            # keep one table on disk: the previous repetition's goes
            shutil.rmtree(self.path)
        self.rep += 1
        self.path = os.path.join(ctx.run_dir, f"iceberg_{self.rep}")
        t0 = time.perf_counter()
        table = iceberg.IcebergTable.create(ctx.spark, self.path, src)
        t1 = time.perf_counter()
        self.engine = ctx.pkg("engine").Engine(ctx.spark)
        self.engine.register_iceberg_table(TABLE, table)
        t2 = time.perf_counter()
        live = self._live_bytes()
        n = src.count()
        self.row_bytes = live / n
        self.max_key = n
        return {"iceberg.create_s": t1 - t0, "engine.register_s": t2 - t1}

    def close(self) -> None:
        pass

    def _live_bytes(self) -> int:
        plan = self.ctx.pkg("lakehouse.iceberg").IcebergTable.load(
            self.ctx.spark, self.path).plan_scan()
        return sum(f.file_size for f in plan.files)

    def _snapshot_id(self) -> int:
        return self.ctx.pkg("lakehouse.iceberg").IcebergTable.load(
            self.ctx.spark, self.path).snapshots()[-1]["snapshot-id"]

    # -- statements ---------------------------------------------------

    def _commit(self, kind: str, sql: str, user_rows: int = 0) -> None:
        rec = self.ctx.rec
        before = _dir_files(self.path)
        with rec.op(kind):
            self.engine.sql(sql).collect()
        written = sum(size for p, size in _dir_files(self.path).items()
                      if p not in before)
        self.bytes_written[kind] += written
        self.user_bytes += user_rows * self.row_bytes
        rec.sample(f"iceberg.bytes_written.{kind}", written)
        if kind == "rewrite":
            rec.sample("iceberg.compaction_s", rec.ops[-1]["s"])
            rec.sample("iceberg.compaction_bytes_rewritten", written)
        if kind in ("insert", "update", "delete"):
            self.log.append(("sql", sql))

    def _read(self, sql: str, check) -> None:
        rec = self.ctx.rec
        with rec.op("read"):
            rows = [tuple(r) for r in self.engine.sql(sql).collect()]
        self.log.append(check + (rows,))

    def _trace_scan(self, lo: int, hi: int) -> None:
        """Plan a key-range scan of the current snapshot (traced runs)."""
        rec = self.ctx.rec
        iceberg = self.ctx.pkg("lakehouse.iceberg")
        with rec.op("plan_scan"):
            table = iceberg.IcebergTable.load(self.ctx.spark, self.path)
            t0 = time.perf_counter()
            plan = table.plan_scan(filter={"o_orderkey": (lo, hi)})
            rec.sample("iceberg.plan_scan_ms",
                       (time.perf_counter() - t0) * 1000)
        rec.sample("iceberg.files_skipped_frac",
                   plan.files_skipped / max(plan.total_files, 1))
        rec.sample("iceberg.live_files", plan.total_files)
        rec.sample("iceberg.delete_files", len(plan.deletes))
        rec.sample("iceberg.manifests", plan.manifests_total)

    def run_pass(self, checking: bool = False) -> list[tuple[str, str]]:
        """Two rounds, the second with the CALLs, so that every pass
        holds the same statements; the warm-up pass is one round with
        the CALLs. Every statement is checked by the replay in
        :meth:`final_check`."""
        if checking:
            return self._round(calls=True)
        problems = []
        for i in range(1, ROUNDS_PER_PASS + 1):
            problems += self._round(calls=i == ROUNDS_PER_PASS)
        return problems

    def _round(self, calls: bool) -> list[tuple[str, str]]:
        rng, rec = self.ctx.rng, self.ctx.rec
        self.round += 1
        problems = []
        sid = self._snapshot_id()
        self.log.append(("mark", sid))
        a = rng.randrange(0, self.max_key - INSERT_ROWS)
        offset = 1_000_000 * self.round
        b = rng.randrange(0, self.max_key - 2000)
        c = rng.randrange(0, self.max_key - 1000)
        steps = [
            lambda: self._commit(
                "insert",
                f"INSERT INTO {TABLE} SELECT o_orderkey + {offset}, "
                "o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
                f"o_orderpriority FROM orders_src WHERE o_orderkey "
                f"BETWEEN {a} AND {a + INSERT_ROWS - 1}",
                user_rows=INSERT_ROWS),
            lambda: self._commit(
                "update",
                f"UPDATE {TABLE} SET o_totalprice = o_totalprice + 1.5, "
                f"o_orderstatus = 'F' WHERE o_orderkey BETWEEN {b} AND "
                f"{b + 1999}",
                user_rows=2000),
            lambda: self._commit(
                "delete",
                f"DELETE FROM {TABLE} WHERE o_orderkey BETWEEN {c} AND "
                f"{c + 999}"),
            lambda: self._read(READ_CURRENT, ("current",)),
            lambda: self._read(
                f"SELECT count(*) AS n, sum(o_totalprice) AS revenue "
                f"FROM {TABLE} FOR VERSION AS OF {sid}", ("version", sid)),
        ]
        if calls:
            steps += [
                lambda: self._commit(
                    "rewrite",
                    f"CALL system.rewrite_data_files(table => '{TABLE}')"),
                lambda: self._commit(
                    "expire",
                    "CALL system.expire_snapshots("
                    f"table => '{TABLE}', retain_last => 3)"),
            ]
        for step in steps:
            try:
                step()
            except Exception as exc:  # noqa: BLE001 - counted as failed
                problems.append((rec.ops[-1]["kind"],
                                 f"{type(exc).__name__}: {exc}"))
        if rec.tracing:
            lo = rng.randrange(0, self.max_key - 5000)
            self._trace_scan(lo, lo + 4999)
        return problems

    # -- checks and report ----------------------------------------------

    def final_check(self) -> tuple[int, list[tuple[str, str]]]:
        """Replay the statement log in DuckDB; returns (checks, problems)."""
        ctx = self.ctx
        con = duckdb.connect()
        problems, checks = [], 0
        try:
            con.execute("CREATE VIEW orders_src AS SELECT * FROM "
                        f"read_parquet('{ctx.sf_dir}/orders.parquet')")
            con.execute(f"CREATE TABLE {TABLE} AS SELECT * FROM orders_src")
            state_at = {}
            for entry in self.log:
                if entry[0] == "sql":
                    con.execute(entry[1])
                elif entry[0] == "mark":
                    state_at[entry[1]] = con.execute(
                        f"SELECT count(*), sum(o_totalprice) FROM {TABLE}"
                    ).fetchall()
                elif entry[0] == "current":
                    checks += 1
                    bad = same_rows(entry[1],
                                    con.execute(READ_CURRENT).fetchall())
                    if bad:
                        problems.append(("read", bad))
                elif entry[0] == "version":
                    checks += 1
                    bad = same_rows(entry[2], state_at[entry[1]])
                    if bad:
                        problems.append(("read_version", bad))
            checks += 1
            got = self.engine.sql(FINAL_STATE).collect()
            bad = same_rows([tuple(r) for r in got],
                            con.execute(FINAL_STATE).fetchall())
            if bad:
                problems.append(("final_state", bad))
        finally:
            con.close()
        return checks, problems

    def report(self) -> dict[str, float]:
        total = sum(_dir_files(self.path).values())
        live = self._live_bytes()
        return {
            "iceberg.write_amp": sum(self.bytes_written.values())
            / max(self.user_bytes, 1.0),
            "iceberg.space_amp": total / max(live, 1),
        }
