"""``session.local_frame``: driver-built frames as Arrow local relations.

Every case must give the same rows and schema as
``spark.createDataFrame(list)`` and run no Spark job, neither to build
the frame nor to collect it — for a DDL schema string (backticked
names included) and for a StructType alike."""

from __future__ import annotations

import datetime as dt
import time

import pytest

from hands_on_trino_iceberg_superset_spark.session import local_frame

#: every column type the call sites use
SCHEMA = (
    "s string, i int, l long, d double, b boolean, "
    "ts timestamp, `Return Type` string"
)
NAIVE = dt.datetime(2026, 3, 8, 6, 30, 15, 123456)
AWARE = dt.datetime(2026, 3, 8, 6, 30, 15, 123456,
                    tzinfo=dt.timezone(dt.timedelta(hours=5, minutes=30)))
FULL = ("a", 1, 2**40, 1.5, True, NAIVE, "varchar")


def _null_in_each_column() -> list[tuple]:
    return [FULL[:k] + (None,) + FULL[k + 1:] for k in range(len(FULL))]


CASES = {
    "all_types": [FULL, ("b", -7, -(2**40), -0.25, False, AWARE, "")],
    "nulls": _null_in_each_column() + [(None,) * len(FULL)],
    "zero_rows": [],
    "aware_and_naive": [FULL[:5] + (AWARE,) + FULL[6:], FULL],
}


@pytest.fixture(params=["UTC", "America/New_York", "Asia/Kolkata"])
def process_tz(request, monkeypatch):
    """Run with the Python process in a given local time zone: a
    naive datetime means local time to ``createDataFrame(list)``."""
    monkeypatch.setenv("TZ", request.param)
    time.tzset()
    yield request.param
    monkeypatch.undo()
    time.tzset()


@pytest.mark.parametrize("as_struct", [False, True],
                         ids=["ddl", "struct"])
@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_create_dataframe(spark, count_jobs,
                                              process_tz, case,
                                              as_struct):
    rows = CASES[case]
    want = spark.createDataFrame(rows, SCHEMA)
    schema = want.schema if as_struct else SCHEMA

    def build_and_collect():
        df = local_frame(spark, rows, schema)
        return df.schema, df.collect()

    (got_schema, got), jobs = count_jobs(build_and_collect)
    assert jobs == 0
    assert got_schema == want.schema
    assert got == want.collect()
    assert len(got) == len(rows)
