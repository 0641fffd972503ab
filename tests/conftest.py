from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from hands_on_trino_iceberg_superset_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", master="local[8]", extra_conf={
        "spark.sql.shuffle.partitions": "8",
    })
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` -> ``(fn(), Spark jobs fn started)``.

    ``fn`` runs in a thread of its own under a fresh job group, so
    jobs of any other thread are not counted, and the listener bus is
    drained before the count is read (job starts reach the status
    tracker asynchronously)."""
    import threading
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"count_jobs_{uuid.uuid4().hex}"
        out: dict = {}

        def body() -> None:
            sc.setJobGroup(group, group)
            try:
                out["result"] = fn()
            except BaseException as exc:  # noqa: BLE001 — re-raised
                out["error"] = exc

        thread = threading.Thread(target=body)
        thread.start()
        thread.join()
        if "error" in out:
            raise out["error"]
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out["result"], len(
            sc.statusTracker().getJobIdsForGroup(group))

    return run
