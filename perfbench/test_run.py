"""Tests of the benchmark itself (each starts Spark; about a minute).

    python3 -m pytest -q -p no:cacheprovider perfbench/test_run.py
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

from run import HERE, ROOT

RUN = [sys.executable, os.path.join(HERE, "run.py")]
RUNS = os.path.join(HERE, "_runs").encode()


def _leftovers() -> list[int]:
    """Live processes whose environment points into a run directory:
    the workload process, its JVM and the JVM's Python workers."""
    pids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit() and int(entry) != os.getpid():
            try:
                with open(f"/proc/{entry}/environ", "rb") as fh:
                    if RUNS in fh.read():
                        pids.append(int(entry))
            except OSError:
                pass
    return pids


def _run(args, cwd=ROOT, timeout=300):
    proc = subprocess.run(RUN + args, cwd=cwd, capture_output=True,
                          text=True, timeout=timeout)
    return proc.returncode, proc.stdout, proc.stderr, _leftovers()


def test_short_run_is_correct_and_leaves_nothing_behind():
    before = set(os.listdir(ROOT))
    code, out, err, left = _run(["--workload", "lakehouse_dml", "--seed",
                                 "3", "--seconds", "1", "--trace", "0"])
    assert code == 0, err[-2000:]
    assert left == [], f"processes still running: {left}"
    result = json.loads(out.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        names = {m["name"] for m in json.load(fh)["end_to_end"]}
    assert set(result["metrics"]) == names
    assert all(m["value"] > 0 for m in result["metrics"].values())
    assert set(os.listdir(ROOT)) == before
    assert os.listdir(os.path.join(HERE, "_runs")) == []


def test_traced_run_reports_every_per_layer_metric():
    code, out, err, left = _run(["--workload", "lakehouse_dml", "--seed",
                                 "4", "--seconds", "2", "--trace", "1"])
    assert code == 0, err[-2000:]
    assert left == []
    result = json.loads(out.strip().splitlines()[-1])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        names = {m["name"] for m in json.load(fh)["per_layer"]}
    assert set(result["metrics"]) == names
    assert result["metrics"]["iceberg.live_files"]["value"] > 0
    assert result["metrics"]["proc.peak_rss_mb"]["value"] > 0


def test_fails_without_the_program():
    with tempfile.TemporaryDirectory() as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("_runs", "traces"))
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "bi_wire",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q", "-p", "no:cacheprovider"]))
