"""SparkSession factory with scale-aware defaults.

Single place where engine-wide Spark configuration lives. Tests and
``bench.py`` build sessions through :func:`get_spark`; driver-owned
sessions (the correctness harness hands us one) are normalized through
:func:`configure_runtime`, which only touches confs that are settable
on a live session.

Design notes for the 100 TB target (graded, see BASELINE.md):

- AQE on: runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic broadcast conversion replace hand-tuning per
  query. ``spark.sql.shuffle.partitions`` is only the *initial* value.
- Timestamps: session time zone pinned to UTC and parquet NTZ
  inference on, so naive parquet timestamps (all of the testdata)
  read as ``TIMESTAMP_NTZ`` and string-format identically to the
  DuckDB oracle.
- ``spark.sql.legacy.parquet.nanosAsLong``: the events table carries
  true nanosecond timestamps which Spark cannot represent; we read
  them as raw ``BIGINT`` nanos and derive a µs ``TIMESTAMP_NTZ``
  (exactly DuckDB's µs truncation) in the loader.
- Arrow on for the pandas-UDF paths (dedup / similarity / multimodal).
- Driver-built result frames (statement status rows, SHOW output,
  metadata views) go through :func:`local_frame`: an Arrow-backed
  local relation, so collecting one runs no Spark job.
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from datetime import timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: Confs that are safe to set on an already-running session.
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # map-side aggregation pushdown into the parquet scan for
    # count/min/max-only plans
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

#: Confs that must be set before the session starts.
STARTUP_CONF: dict[str, str] = {
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.driver.memory": "8g",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.ui.enabled": "false",
}

#: Catalog-alias plugin jar (compiled from jvm/src): registers the
#: catalog name `iceberg` as an alias of the session catalog, so the
#: reference's three-part identifiers (`iceberg.demo.events`,
#: seed.sh:65) resolve natively instead of via textual stripping.
ALIAS_CATALOG_JAR = os.path.join(
    os.path.dirname(__file__), "jvm", "session-alias-catalog.jar"
)
if os.path.exists(ALIAS_CATALOG_JAR):
    STARTUP_CONF["spark.jars"] = ALIAS_CATALOG_JAR
    STARTUP_CONF["spark.sql.catalog.iceberg"] = (
        "lakeshine.SessionAliasCatalog"
    )


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session.

    Idempotent; called at the top of every loader so that
    driver-created sessions behave identically to our own.
    """
    for key, value in RUNTIME_CONF.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # a conf may be immutable in exotic deployments; the
            # loaders fall back to explicit casts where it matters
            pass
    return spark


def get_spark(
    app_name: str = "hands-on-trino-iceberg-superset-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver
    contract) — on a real cluster the caller passes the cluster master
    or relies on spark-submit.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    for key, value in {**STARTUP_CONF, **RUNTIME_CONF, **(extra_conf or {})}.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    if extra_conf:
        # getOrCreate returning an EXISTING session silently ignores
        # builder confs; startup-only confs (spark.hadoop.*,
        # credentials, jars) then never reach the session — apply
        # what is runtime-settable, fail loudly for the rest instead
        # of letting the first s3a:// read die on auth
        for key, value in extra_conf.items():
            if spark.conf.get(key, None) == value:
                continue
            try:
                spark.conf.set(key, value)
            except Exception as exc:
                raise RuntimeError(
                    f"extra_conf {key!r} cannot be applied to the "
                    "already-running SparkSession; stop it first "
                    "(SparkSession.getActiveSession().stop())"
                ) from exc
    spark.sparkContext.setLogLevel("ERROR")
    return configure_runtime(spark)


def local_frame(spark: SparkSession, rows: Sequence[Sequence],
                schema: T.StructType | str) -> DataFrame:
    """A DataFrame over rows built on the driver, as an Arrow-backed
    LocalRelation.

    Same rows and schema as ``spark.createDataFrame(rows, schema)``,
    but that call parallelizes a pickled RDD, so collecting its result
    starts a Spark job and a Python worker (hundreds of ms for a
    one-row status frame). A local relation is collected, filtered and
    broadcast on the driver with no job, empty frames included.
    ``schema`` is a StructType or a DDL string (backticked names such
    as ```Return Type``` allowed); each row is a tuple in field order.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = []
    for i, field in enumerate(schema.fields):
        values = [row[i] for row in rows]
        if isinstance(field.dataType, T.TimestampType):
            # createDataFrame(list) reads a naive datetime in the
            # process's local time zone and an aware one at its own
            # offset; pyarrow would take either's wall clock as UTC.
            # Hand it UTC instants.
            values = [None if v is None else v.astimezone(timezone.utc)
                      for v in values]
        columns.append(pa.array(values, type=arrow_schema.field(i).type))
    table = pa.Table.from_arrays(columns, schema=arrow_schema)
    return spark.createDataFrame(table, schema)
