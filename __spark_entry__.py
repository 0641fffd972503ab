"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Everything is backed by the inventory in
``hands_on_trino_iceberg_superset_spark.queries`` (SURVEY.md §2).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from hands_on_trino_iceberg_superset_spark.queries import load_all  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    inventory = load_all()
    return inventory["q1_pricing_summary"].spark(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Dict order IS the driver's per-round check window (a ~50-entry
    prefix): ``load_all`` orders by re-check priority — failed or
    never-oracle-verified driver records first, then never-checked,
    then greens by oldest driver round first."""
    inv = load_all()
    return {name: spec.spark for name, spec in inv.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query (omitted for the
    genuinely non-SQL-expressible ops → rows-only check)."""
    inv = load_all()
    return {
        name: spec.oracle
        for name, spec in inv.items()
        if spec.oracle is not None
    }
