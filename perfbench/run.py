"""lakeshine benchmark: one workload, checked, timed end to end or per layer.

    python3 perfbench/run.py --workload bi_wire --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout of the repository. Workloads and
metrics are listed in ``BENCHMARK.json``; ``--workload all`` runs every
listed workload in turn. ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer metrics of a traced run (spans are written
to ``perfbench/traces/``).

Each run gets a private directory under ``perfbench/_runs/`` that holds
its ``TMPDIR``, Spark local dirs, warehouse, tables and Iceberg data,
and is removed at the end. The workload runs in a child process in its
own session; this process samples the session's memory and CPU from
``/proc``, and after the child exits it kills and reports any process
of that session still alive, which fails the run. Human-readable
results go to standard output; the last line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True  # nothing lands in the checkout

from harness import PACKAGE, WORKLOADS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CHILD_TIMEOUT_S = 150
EXIT_GRACE_S = 10
PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
TICKS = os.sysconf("SC_CLK_TCK")


def _session_procs(sid: int) -> dict[int, tuple[int, float]]:
    """pid -> (rss_kb, cpu_s) of every live process in session ``sid``."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if int(fields[3]) != sid or fields[0] == "Z":
            continue
        cpu = (int(fields[11]) + int(fields[12])) / TICKS
        out[int(entry)] = (int(fields[21]) * PAGE_KB, cpu)
    return out


def _kill_session(sid: int) -> list[int]:
    pids = list(_session_procs(sid))
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return pids


def run_child(workload: str, seed: int, seconds: int, trace: bool,
              ncpu: int) -> dict:
    """Run one workload in a child process; returns its result with the
    process-tree measurements added. Raises when the child fails, times
    out, or leaves a process behind."""
    runs = os.path.join(HERE, "_runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{workload}-{seed}-", dir=runs)
    try:
        for sub in ("tmp", "local"):
            os.makedirs(os.path.join(run_dir, sub))
        traces = os.path.join(HERE, "traces")
        cfg = {
            "root": ROOT, "run_dir": run_dir, "workload": workload,
            "seed": seed, "seconds": seconds, "trace": trace,
            "result": os.path.join(run_dir, "result.json"),
            "trace_out": os.path.join(traces, f"{workload}-{seed}.json"),
        }
        if trace:
            os.makedirs(traces, exist_ok=True)
        with open(os.path.join(run_dir, "config.json"), "w") as fh:
            json.dump(cfg, fh)
        tmp = os.path.join(run_dir, "tmp")
        env = dict(os.environ)
        env.pop("PYSPARK_GATEWAY_PORT", None)
        env.update({
            "SPARK_GRAFT_CPUS": str(ncpu),
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONDONTWRITEBYTECODE": "1",
        })
        log_path = os.path.join(run_dir, "child.log")
        with open(log_path, "w") as log:
            child = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "harness.py"),
                 os.path.join(run_dir, "config.json")],
                cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True)
            peak_kb, cpu = 0, {}
            deadline = time.monotonic() + CHILD_TIMEOUT_S
            try:
                while child.poll() is None:
                    procs = _session_procs(child.pid)
                    peak_kb = max(peak_kb,
                                  sum(r for r, _ in procs.values()))
                    for pid, (_, c) in procs.items():
                        cpu[pid] = max(cpu.get(pid, 0.0), c)
                    if time.monotonic() > deadline:
                        raise RuntimeError(f"{workload}: no result within "
                                           f"{CHILD_TIMEOUT_S} s")
                    time.sleep(0.2)
            finally:
                if child.poll() is None:  # timed out or interrupted
                    _kill_session(child.pid)
                    child.wait()
        end = time.monotonic() + EXIT_GRACE_S
        while _session_procs(child.pid) and time.monotonic() < end:
            time.sleep(0.2)
        left = _kill_session(child.pid)
        with open(log_path) as fh:
            log_tail = fh.read()[-4000:]
        if left:
            raise RuntimeError(
                f"{workload}: processes still running after the run: "
                f"{left} (killed)")
        if child.returncode != 0 or not os.path.exists(cfg["result"]):
            raise RuntimeError(
                f"{workload}: run failed (exit {child.returncode})\n"
                f"{log_tail}")
        with open(cfg["result"]) as fh:
            result = json.load(fh)
        result["proc"] = {"peak_rss_mb": peak_kb / 1024,
                          "cpu_s": sum(cpu.values())}
        return result
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _report(result: dict) -> dict:
    """The workload's end-to-end metrics under workload-specific names
    (``bi_p50_ms``, ``dml_commit_p50_ms``, ...): name -> (value, unit,
    sample count)."""
    e2e = result["end_to_end"]
    wl = result["workload"]
    named = {"setup_s": (result["setup_s"], "s", result["setup_reps"]),
             "failed_frac": (result["failed"] / result["attempted"], "frac",
                             result["attempted"])}
    if wl == "bi_wire":
        named.update(bi_p50_ms=e2e["op_p50_ms"], bi_tail_ms=e2e["op_tail_ms"],
                     bi_stmts_per_s=e2e["ops_per_s"])
    elif wl == "curation_batch":
        named["curation_pass_s"] = e2e["pass_s"]
    elif wl == "tpch_analytics":
        named["analytics_pass_s"] = e2e["pass_s"]
    elif wl == "lakehouse_dml":
        commits = e2e["op_p50_ms"][2]
        named.update(
            dml_commit_p50_ms=e2e["op_p50_ms"],
            dml_commit_tail_ms=e2e["op_tail_ms"],
            dml_read_p50_ms=e2e["read_p50_ms"],
            dml_write_amp=(result["report"]["iceberg.write_amp"], "ratio",
                           commits),
            dml_space_amp=(result["report"]["iceberg.space_amp"], "ratio",
                           1))
    return named


def _print_human(result: dict) -> None:
    print(f"== {result['workload']} seed={result['seed']} "
          f"sf={result['sf']} env={json.dumps(result['env'])}")
    print(f"   warmup_s={result['warmup_s']:.3f} "
          f"datagen_s={result['datagen_s']:.3f} "
          f"passes={result['passes']} seconds={result['seconds']:.2f} "
          f"attempted={result['attempted']} failed={result['failed']}")
    rows = {**result["end_to_end"], **_report(result)}
    for name, (value, unit, n) in rows.items():
        print(f"   {name:<20} {value:12.3f} {unit:<10} n={n}")
    print("   p50 by op kind (ms): " + ", ".join(
        f"{k} {v:.1f}" for k, v in result["op_kind_p50_ms"].items()))
    for op, problem in result["problems"]:
        print(f"   FAILED {op}: {problem}")
    for name, value in sorted(result.get("per_layer", {}).items()):
        print(f"   {name:<36} {value:14.4f}")


def _metrics(result: dict, spec: list[dict], trace: bool) -> dict:
    if trace:
        values = {**result["report"], **result["per_layer"]}
        values["proc.peak_rss_mb"] = result["proc"]["peak_rss_mb"]
        values["proc.cpu_s"] = result["proc"]["cpu_s"]
    else:
        values = {k: v[0] for k, v in result["end_to_end"].items()}
        values["setup_s"] = result["setup_s"]
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                        "unit": m["unit"]} for m in spec}


def main(argv=None) -> int:
    # a terminated run still stops its child session (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: package {PACKAGE} not found under {ROOT}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    todo = names if args.workload == "all" else [args.workload]
    if args.workload not in WORKLOADS and args.workload != "all":
        print(f"error: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)} or 'all'", file=sys.stderr)
        return 2
    spec = bench["per_layer" if args.trace else "end_to_end"]
    ncpu = len(os.sched_getaffinity(0))
    final = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for wl in todo:
        try:
            result = run_child(wl, args.seed, args.seconds,
                               bool(args.trace), ncpu)
        except RuntimeError as exc:
            print(f"error: {exc}", file=sys.stderr)
            return 1
        _print_human(result)
        final["attempted"] += result["attempted"]
        final["failed"] += result["failed"]
        final["correct"] = final["correct"] and result["failed"] == 0
        metrics = _metrics(result, spec, bool(args.trace))
        if len(todo) > 1:
            metrics = {f"{wl}.{k}": v for k, v in metrics.items()}
        final["metrics"].update(metrics)
    sys.stdout.flush()
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.exit(main())
