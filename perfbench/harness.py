"""One benchmark run in its own process: ``python3 harness.py CONFIG``.

``run.py`` starts this process in a private run directory with the
environment already pinned (``SPARK_GRAFT_CPUS``, ``TMPDIR``,
``SPARK_LOCAL_DIRS``). It writes the synthetic tables, starts the
SparkSession, sets the workload up, runs the checked warm-up pass, then
measures whole passes for the configured number of seconds. The result
goes to the JSON file named in the config; the SparkSession and its JVM
are stopped before the process exits.
"""

from __future__ import annotations

import importlib
import json
import os
import random
import statistics
import sys
import time
import traceback

import duckdb

import datagen
from batch import CurationBatch, TpchAnalytics
from bi_wire import BiWire
from lakehouse_dml import LakehouseDml
from spans import (LAYERS, Recorder, SparkCounters, instrument,
                   median, tail)

WORKLOADS = {w.name: w for w in (BiWire, CurationBatch, TpchAnalytics,
                                 LakehouseDml)}
PACKAGE = "hands_on_trino_iceberg_superset_spark"
#: operations only the traced run makes, to split a layer's time
TRACE_ONLY_KINDS = ("replay", "plan_scan")

#: how the traced run folds each per-layer sample list into one value
PER_PASS = "per_pass"  # sum over the traced passes / number of passes
AGG = {
    "bi.compile_ms": median, "wire.first_page_ms": median,
    "wire.next_page_ms": median, "wire.pages": statistics.fmean,
    "wire.bytes": statistics.fmean, "engine.trino_sql_ms": median,
    "engine.collect_ms": median, "wire.overhead_ms": median,
    "catalyst.plan_ms": median, "build.s": PER_PASS, "build.jobs": PER_PASS,
    "exec.s": PER_PASS, "exec.jobs": PER_PASS, "exec.stages": PER_PASS,
    "exec.tasks": PER_PASS, "exec.failed_tasks": PER_PASS,
    "exec.shuffle_bytes": PER_PASS, "exec.spill_bytes": PER_PASS,
    "iceberg.plan_scan_ms": median, "iceberg.files_skipped_frac": median,
    "iceberg.live_files": max, "iceberg.delete_files": max,
    "iceberg.manifests": max, "iceberg.compaction_s": median,
    "iceberg.compaction_bytes_rewritten": statistics.fmean,
}


class Ctx:
    """What a workload needs: the session, its inputs and the recorder."""

    package = PACKAGE

    def __init__(self, cfg: dict) -> None:
        self.run_dir = cfg["run_dir"]
        self.rng = random.Random(cfg["seed"])
        self.rec = Recorder(tracing=False)
        self.spark = None
        self.counters = None
        self._duck = None

    def pkg(self, module: str):
        return importlib.import_module(f"{PACKAGE}.{module}")

    def duck(self) -> duckdb.DuckDBPyConnection:
        if self._duck is None:
            self._duck = duckdb.connect()
            for name in datagen.ALL_TABLES:
                self._duck.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{self.sf_dir}/{name}.parquet')")
        return self._duck

    def duck_tpch(self, sql: str) -> list[tuple]:
        return self.duck().execute(sql).fetchall()

    def duck_seed(self, sql: str) -> list[tuple]:
        seed_cte = self.pkg("queries.reference").SEED_CTE
        return self.duck().execute(seed_cte + sql).fetchall()


def _start_session(ctx: Ctx, ncpu: int) -> dict:
    session = ctx.pkg("session")
    tmp = os.environ["TMPDIR"]
    spark = session.get_spark("perfbench", extra_conf={
        "spark.sql.warehouse.dir": f"file:{ctx.run_dir}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    })
    ctx.spark = spark
    ctx.counters = SparkCounters(spark)
    sc = spark.sparkContext
    env = {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(
            spark.conf.get("spark.sql.shuffle.partitions")),
        "nproc": ncpu,
    }
    if (env["master"] != f"local[{ncpu}]"
            or env["default_parallelism"] != ncpu
            or env["shuffle_partitions"] != ncpu):
        raise RuntimeError(f"parallelism disagrees with nproc: {env}")
    if not tmp.startswith(ctx.run_dir):
        raise RuntimeError(f"TMPDIR {tmp} is outside the run directory")
    return env


def _stop_session(ctx: Ctx) -> None:
    """Stop the SparkSession and wait for its JVM to exit."""
    if ctx.spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    ctx.spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=60)


def _instrument(ctx: Ctx) -> None:
    """Record a span around every call into the layers' public
    functions, and around Spark actions."""
    engine = ctx.pkg("engine").Engine
    iceberg = ctx.pkg("lakehouse.iceberg").IcebergTable
    compiler = ctx.pkg("bi.compiler")
    frame = ctx.spark.range(1)
    targets = [(engine, m, f"engine.{m}")
               for m in ("sql", "trino_sql", "register_iceberg_table")]
    targets.append((ctx.pkg("dialect"), "trino_to_spark",
                    "dialect.trino_to_spark"))
    targets += [(iceberg, m, f"iceberg.{m}")
                for m in ("load", "plan_scan", "read", "append", "delete",
                          "update", "rewrite_data_files",
                          "expire_snapshots")]
    targets += [(compiler, m, f"bi.{m}")
                for m in ("form_data_to_sql", "pivot_form_data_to_sql")]
    targets += [(type(frame), m, f"exec.{m}")
                for m in ("collect", "count", "toPandas")]
    targets += [(type(frame.write), m, f"exec.write_{m}")
                for m in ("save", "parquet", "saveAsTable")]
    instrument(lambda: ctx.rec, targets)


def _measure(ctx: Ctx, wl, seconds: float, schedule=(False,)):
    """Whole passes until ``seconds`` have elapsed, repeating
    ``schedule`` (one tracing flag per pass) at least once. Returns the
    untraced and the traced recorder, the pass times of each, and the
    problems found."""
    recs = {False: Recorder(tracing=False), True: Recorder(tracing=True)}
    passes: dict[bool, list[float]] = {False: [], True: []}
    problems = []
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds or not passes[schedule[0]]:
        for tracing in schedule:
            ctx.rec = recs[tracing]
            p0 = time.perf_counter()
            problems += wl.run_pass()
            passes[tracing].append(time.perf_counter() - p0)
    return recs, passes, problems


def _user_ops(rec: Recorder, kinds) -> list[dict]:
    return [o for o in rec.ops if o["kind"] in kinds]


def _end_to_end(wl, rec, passes) -> dict:
    lat = [o["s"] * 1000 for o in _user_ops(rec, wl.op_kinds) if o["ok"]]
    done = [o for o in rec.ops
            if o["ok"] and o["kind"] not in TRACE_ONLY_KINDS]
    tail_ms, label, n = tail(lat)
    out = {
        "op_p50_ms": (median(lat), "ms", len(lat)),
        "op_tail_ms": (tail_ms, f"ms {label}", n),
        "pass_s": (median(passes), "s", len(passes)),
        "ops_per_s": (len(done) / sum(passes), "1/s", len(done)),
    }
    reads = [o["s"] * 1000 for o in rec.ops if o["kind"] == "read" and o["ok"]]
    if reads:
        out["read_p50_ms"] = (median(reads), "ms", len(reads))
    return out


def _per_layer(wl, rec, passes, setup_reps) -> dict:
    """Per-layer metrics of the traced passes (``rec``), with the
    set-up layers' medians and the tracing overhead per pass."""
    out = {}
    for key in {k for rep in setup_reps for k in rep}:
        out[key] = median([rep.get(key, 0.0) for rep in setup_reps])
    n_pass = len(passes[True])
    for name, values in rec.samples.items():
        how = AGG.get(name, statistics.fmean)
        out[name] = (sum(values) / n_pass if how == PER_PASS
                     else how(values))
    self_s, remainder = rec.self_times()
    for layer in LAYERS:
        out[f"self.{layer}_s"] = self_s.get(layer, 0.0) / n_pass
    user = {o["id"] for o in _user_ops(rec, wl.op_kinds)}
    per_op = [r for r, o in zip(remainder, rec.ops) if o["id"] in user]
    out["op.unattributed_ms"] = median(per_op) * 1000
    out["trace.overhead_s"] = median(passes[True]) - median(passes[False])
    return out


def run(cfg: dict) -> dict:
    wl_cls = WORKLOADS[cfg["workload"]]
    ctx = Ctx(cfg)
    ncpu = int(os.environ["SPARK_GRAFT_CPUS"])
    ctx.sf_dir = os.path.join(ctx.run_dir, "data")
    t0 = time.perf_counter()
    datagen.write_tables(ctx.sf_dir, wl_cls.sf)
    datagen_s = time.perf_counter() - t0
    wl = None
    try:
        t0 = time.perf_counter()
        env = _start_session(ctx, ncpu)
        session_s = time.perf_counter() - t0
        wl = wl_cls(ctx)
        reps = [wl.setup() for _ in range(wl.setup_reps)]
        for rep in reps:
            rep["session.start_s"] = session_s
        setup_s = session_s + median(
            [sum(v for k, v in r.items() if k != "session.start_s")
             for r in reps])

        t0 = time.perf_counter()
        problems = wl.run_pass(checking=True)
        for _ in range(wl.warmup_passes - 1):
            problems += wl.run_pass()
        warmup_s = time.perf_counter() - t0
        attempted = _attempted(ctx.rec)

        if cfg["trace"]:
            # untraced and traced passes in ABBA order, so that the
            # JIT warming through the run biases neither side
            _instrument(ctx)
            schedule = (False, True, True, False)
        else:
            schedule = (False,)
        recs, passes, more = _measure(ctx, wl, cfg["seconds"], schedule)
        rec = recs[False]
        attempted += _attempted(recs[False]) + _attempted(recs[True])
        problems += more
        if hasattr(wl, "final_check"):
            checks, more = wl.final_check()
            attempted += checks
            problems += more
        result = {
            "workload": wl.name, "seed": cfg["seed"], "sf": wl_cls.sf,
            "env": env, "datagen_s": datagen_s,
            "warmup_s": warmup_s, "setup_s": setup_s,
            "setup_reps": len(reps),
            "passes": [round(p, 3) for p in passes[False]],
            "seconds": sum(passes[False]),
            "attempted": attempted, "failed": len(problems),
            "problems": problems[:20],
            "end_to_end": _end_to_end(wl, rec, passes[False]),
            "op_kind_p50_ms": {
                kind: median([o["s"] * 1000 for o in rec.ops
                              if o["kind"] == kind and o["ok"]])
                for kind in sorted({o["kind"] for o in rec.ops})},
            "report": wl.report() if hasattr(wl, "report") else {},
        }
        if cfg["trace"]:
            result["per_layer"] = _per_layer(wl, recs[True], passes, reps)
            recs[True].dump(cfg["trace_out"])
        return result
    finally:
        if wl is not None:
            wl.close()
        if ctx._duck is not None:
            ctx._duck.close()
        _stop_session(ctx)


def _attempted(rec: Recorder) -> int:
    """Operations run for users (tracing-only replays and scan plans
    are not counted)."""
    return sum(o["kind"] not in TRACE_ONLY_KINDS for o in rec.ops)


def main() -> int:
    with open(sys.argv[1]) as fh:
        cfg = json.load(fh)
    sys.path.insert(0, cfg["root"])
    try:
        result = run(cfg)
        code = 0
    except Exception as exc:  # noqa: BLE001 - reported to the parent
        traceback.print_exc()
        result = {"error": f"{type(exc).__name__}: {exc}"}
        code = 1
    with open(cfg["result"], "w") as fh:
        json.dump(result, fh)
    return code


if __name__ == "__main__":
    sys.exit(main())
