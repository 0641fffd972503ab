"""BI-layer query-inventory entries (SURVEY.md §2.6).

Each entry runs a Superset-shaped chart — form_data compiled by
``bi.compiler.compile_form_data`` — over the deterministic seed frames
(seed.sh:72-115 with fixed ``as_of``), so the oracle regenerates the
same tables via ``SEED_CTE`` and states the SQL the reference's
Superset would emit (init_db.py:148-154 raw mode; :150,153 agg mode).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hands_on_trino_iceberg_superset_spark.bi import compile_form_data
from hands_on_trino_iceberg_superset_spark.queries.base import register
from hands_on_trino_iceberg_superset_spark.queries.core import dbl, dec
from hands_on_trino_iceberg_superset_spark.queries.reference import SEED_CTE
from hands_on_trino_iceberg_superset_spark.seed import seed_frames


@register(
    "bi_chart_raw_orders",
    oracle=SEED_CTE
    + """
    SELECT order_id, user_id, product_id, quantity, price, status
    FROM seed_orders
    ORDER BY order_id
    LIMIT 100
    """,
    doc="Raw-mode table chart (init_db.py:148-154): preferred columns, "
        "row_limit 100, ordered for a deterministic page. Compiles to "
        "TakeOrderedAndProject — per-partition top-K, no global sort.",
)
def bi_chart_raw_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = seed_frames(spark)["orders"]
    return compile_form_data(
        orders,
        {
            "viz_type": "table",
            "query_mode": "raw",
            "all_columns": ["order_id", "user_id", "product_id", "quantity",
                            "price", "status"],
            "order_by": [["order_id", True]],
            "row_limit": 100,
            "time_range": "No filter",
        },
    )


@register(
    "bi_chart_agg_transactions",
    oracle=SEED_CTE
    + """
    SELECT currency, transaction_type,
           count(*) AS count,
           CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS sum_amount
    FROM seed_transactions
    GROUP BY currency, transaction_type
    ORDER BY count DESC, currency, transaction_type
    """,
    doc="Aggregate-mode chart (metrics: count + adhoc SUM, "
        "order_by count desc — init_db.py:150,153 generalized).",
)
def bi_chart_agg_transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    tx = seed_frames(spark)["transactions"].withColumn(
        "amount_dec", dec("amount")
    )
    out = compile_form_data(
        tx,
        {
            "query_mode": "aggregate",
            "groupby": ["currency", "transaction_type"],
            "metrics": [
                "count",
                {"aggregate": "SUM", "column": "amount_dec",
                 "label": "sum_amount"},
            ],
            "order_by": [["count", False], ["currency", True],
                         ["transaction_type", True]],
        },
    )
    return out.withColumn("sum_amount", dbl(F.col("sum_amount")))


@register(
    "bi_chart_virtual_dataset",
    oracle=SEED_CTE
    + """
    SELECT status, currency, count(*) AS count,
           CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_amount
    FROM seed_transactions
    WHERE transaction_type = 'payment'
    GROUP BY status, currency
    ORDER BY count DESC, status, currency
    """,
    doc="Chart over a VIRTUAL (SQL-defined) dataset layered on a "
        "persistent engine view — the most-used Superset feature "
        "beyond physical tables (SqlaTable.sql; the reference's "
        "init_db.py seeds physical datasets only): "
        "CREATE VIEW v_payment_tx AS <filter+cast over the seed> "
        "through Engine.sql records the defining SQL engine-side "
        "(M1/M2 introspection resolves the view like any table), a "
        "bi.Dataset(sql=...) virtual dataset selects FROM the view, "
        "and the chart's form_data compiles over the dataset frame "
        "— the full Superset virtual-dataset chain, Catalyst path; "
        "the SQL-text path over the same view is parity-tested in "
        "tests/test_bi.py. Catalyst dissolves the view + virtual "
        "layers into one plan (temp-view substitution happens at "
        "analysis) — the layering costs nothing at execution.",
)
def bi_chart_virtual_dataset(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    from hands_on_trino_iceberg_superset_spark.bi.entities import Database
    from hands_on_trino_iceberg_superset_spark.engine import Engine

    tx = seed_frames(spark)["transactions"]
    tx.createOrReplaceTempView("seed_transactions_vds")
    eng = Engine(spark)
    eng.sql(
        "CREATE OR REPLACE VIEW v_payment_tx AS "
        "SELECT status, currency, "
        "CAST(amount AS DECIMAL(18,2)) AS amount_dec "
        "FROM seed_transactions_vds WHERE transaction_type = 'payment'"
    )
    ds = Database("spark", eng).dataset(
        "v_payment_tx", sql="SELECT * FROM v_payment_tx"
    )
    out = compile_form_data(
        ds.df(),
        {
            "query_mode": "aggregate",
            "groupby": ["status", "currency"],
            "metrics": [
                "count",
                {"aggregate": "SUM", "column": "amount_dec",
                 "label": "sum_amount"},
            ],
            "order_by": [["count", False], ["status", True],
                         ["currency", True]],
        },
    )
    return out.withColumn("sum_amount", dbl(F.col("sum_amount")))


@register(
    "bi_chart_resample",
    oracle="""
    WITH agg AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS t,
             event_type, count(*) AS count
      FROM events WHERE value >= 300
      GROUP BY 1, 2
    ),
    bounds AS (SELECT min(t) AS lo, max(t) AS hi FROM agg),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS t
      FROM bounds
    ),
    grid AS (
      SELECT s.t AS t, k.event_type FROM spine s
      CROSS JOIN (SELECT DISTINCT event_type FROM agg) k
    )
    SELECT CAST(g.t AS VARCHAR) AS __timestamp,
           g.event_type AS event_type,
           coalesce(a.count, 0) AS count
    FROM grid g
    LEFT JOIN agg a ON a.t = g.t AND a.event_type = g.event_type
    """,
    doc="Superset resample post-processing (resample_rule='1D', "
        "resample_method='zerofill') as a form_data field: pandas "
        "reindexes the fetched timeseries at the rule frequency per "
        "series and fills gaps; the compiled twin is a DATE SPINE — "
        "bucket grid from min to max at the rule step, cross-joined "
        "with the distinct series, left-joined onto the aggregate, "
        "counts filled with 0 (asfreq/ffill/bfill are the other "
        "methods; the rule must evenly divide the grain, refusals "
        "documented in _validate_resample). The high-value slice is "
        "day-sparse, so real gaps materialize. Every resample stage "
        "runs over the already-aggregated chart-sized result — the "
        "events_daily_gapfill machinery reached from a Superset "
        "form_data blob, identical on both compilation paths "
        "(parity-tested).",
)
def bi_chart_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hands_on_trino_iceberg_superset_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    out = compile_form_data(
        ev,
        {
            "viz_type": "echarts_timeseries_line",
            "query_mode": "aggregate",
            "granularity_sqla": "ts",
            "time_grain_sqla": "P1D",
            "groupby": ["event_type"],
            "metrics": ["count"],
            "adhoc_filters": [
                {"expressionType": "SIMPLE", "clause": "WHERE",
                 "subject": "value", "operator": ">=",
                 "comparator": 300},
            ],
            "resample_rule": "1D",
            "resample_method": "zerofill",
            "time_range": "No filter",
        },
    )
    return out.select(
        F.col("__timestamp").cast("string").alias("__timestamp"),
        "event_type",
        "count",
    )


@register(
    "bi_chart_time_range",
    oracle=SEED_CTE
    + """
    SELECT event_type, count(*) AS count
    FROM seed_events
    WHERE ts >= TIMESTAMP '2025-12-20 00:00:00'
      AND ts < TIMESTAMP '2026-01-01 00:00:00'
    GROUP BY event_type
    ORDER BY count DESC, event_type
    """,
    doc="time_range + granularity_sqla filter hook on an agg chart "
        "(the Superset time-window pattern; init_db.py:147).",
)
def bi_chart_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = seed_frames(spark)["events"]
    return compile_form_data(
        events,
        {
            "query_mode": "aggregate",
            "granularity_sqla": "ts",
            "time_range": "2025-12-20 00:00:00 : 2026-01-01 00:00:00",
            "groupby": ["event_type"],
            "metrics": ["count"],
            "order_by": [["count", False], ["event_type", True]],
        },
    )


@register(
    "bi_chart_timeseries_events",
    oracle="""
    SELECT CAST(CAST(date_trunc('week', ts) AS TIMESTAMP) AS VARCHAR)
             AS __timestamp,
           event_type,
           count(*) AS count,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             AS total_value
    FROM events
    GROUP BY date_trunc('week', ts), event_type
    ORDER BY __timestamp, event_type
    """,
    doc="Timeseries chart with a non-null time grain — the first "
        "thing a real Superset user sets (granularity_sqla/"
        "time_grain_sqla, null in all five reference charts, "
        "init_db.py:145-146): P1W compiles to a leading "
        "date_trunc('week', ts) group key under Superset's reserved "
        "__timestamp label, on the driver events corpus. The SQL-"
        "text twin of the same compilation is unit-gated in "
        "tests/test_bi.py.",
)
def bi_chart_timeseries_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hands_on_trino_iceberg_superset_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").withColumn(
        "value_dec", dec("value")
    )
    out = compile_form_data(
        ev,
        {
            "viz_type": "echarts_timeseries_line",
            "query_mode": "aggregate",
            "granularity_sqla": "ts",
            "time_grain_sqla": "P1W",
            "groupby": ["event_type"],
            "metrics": [
                "count",
                {"aggregate": "SUM", "column": "value_dec",
                 "label": "total_value"},
            ],
            "time_range": "No filter",
        },
    )
    return (
        out.select(
            F.col("__timestamp").cast("string").alias("__timestamp"),
            "event_type",
            "count",
            dbl(F.col("total_value")).alias("total_value"),
        )
        .orderBy("__timestamp", "event_type")
    )


@register(
    "bi_chart_percent_metrics",
    oracle=SEED_CTE
    + """
    SELECT currency,
           count(*) AS count,
           CAST(count(*) AS DOUBLE) /
             CAST(sum(count(*)) OVER () AS DOUBLE) AS pct_count
    FROM seed_transactions
    GROUP BY currency
    ORDER BY currency
    """,
    doc="Table chart with percent_metrics — the other form_data "
        "field every reference chart carries empty (init_db.py:152) "
        "that a real Superset user fills: each listed metric also "
        "emits its share of the RESULT total (pct_<label>). Scale "
        "shape: the denominator is one scalar per metric, computed "
        "as a broadcast cross-join of a 1-row aggregate — never a "
        "global single-partition window. The oracle restates the "
        "same chart in SQL (count-based percent: integer totals, so "
        "the double division is bit-identical on both engines).",
)
def bi_chart_percent_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    tx = seed_frames(spark)["transactions"]
    return compile_form_data(
        tx,
        {
            "viz_type": "table",
            "query_mode": "aggregate",
            "groupby": ["currency"],
            "metrics": ["count"],
            "percent_metrics": ["count"],
            "order_by": [["currency", True]],
            "time_range": "No filter",
        },
    )


@register(
    "bi_chart_adhoc_filters",
    oracle=SEED_CTE
    + """
    SELECT status,
           count(*) AS count,
           CAST(sum(CAST(price AS DECIMAL(18,2)) * quantity) AS DOUBLE)
             AS revenue
    FROM seed_orders
    WHERE status IN ('pending', 'shipped') AND quantity >= 2
    GROUP BY status
    ORDER BY status
    """,
    doc="Aggregate chart with SIMPLE adhoc_filters — the Superset "
        "filter-bar field (IN + >= here), compiled to pre-aggregate "
        "predicates on both paths: Catalyst Column filters natively, "
        "and SQL text with quote-doubled literals so a stored blob "
        "can never break out of the WHERE (SQL-expressionType "
        "filters are refused outright as an injection channel — "
        "gated in tests/test_bi.py). The oracle restates the "
        "filtered aggregate from the regenerated seed.",
)
def bi_chart_adhoc_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = seed_frames(spark)["orders"].withColumn(
        "rev", dec("price") * F.col("quantity")
    )
    out = compile_form_data(
        orders,
        {
            "viz_type": "table",
            "query_mode": "aggregate",
            "adhoc_filters": [
                {"expressionType": "SIMPLE", "subject": "status",
                 "operator": "IN",
                 "comparator": ["pending", "shipped"]},
                {"expressionType": "SIMPLE", "subject": "quantity",
                 "operator": ">=", "comparator": 2},
            ],
            "groupby": ["status"],
            "metrics": [
                "count",
                {"aggregate": "SUM", "column": "rev",
                 "label": "revenue"},
            ],
            "order_by": [["status", True]],
            "time_range": "No filter",
        },
    )
    return out.withColumn("revenue", dbl(F.col("revenue")))


@register(
    "bi_chart_having_filter",
    oracle=SEED_CTE
    + """
    SELECT currency, transaction_type,
           count(*) AS count,
           CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_amount
    FROM seed_transactions
    GROUP BY currency, transaction_type
    HAVING count(*) >= 20
    ORDER BY currency, transaction_type
    """,
    doc="Aggregate chart with a HAVING-clause adhoc filter — "
        "Superset's metric filter: groups whose count falls below "
        "the threshold are dropped POST-aggregation, before "
        "ordering/limit/percent. Compiled as a post-agg predicate on "
        "the Catalyst path and a HAVING clause stating the aggregate "
        "EXPRESSION (alias-free, engine-portable) on the SQL path; "
        "path parity + refusal gates in tests/test_bi.py. The oracle "
        "restates the filtered aggregate from the regenerated seed.",
)
def bi_chart_having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    tx = seed_frames(spark)["transactions"].withColumn(
        "amount_dec", dec("amount")
    )
    out = compile_form_data(
        tx,
        {
            "viz_type": "table",
            "query_mode": "aggregate",
            "groupby": ["currency", "transaction_type"],
            "metrics": [
                "count",
                {"aggregate": "SUM", "column": "amount_dec",
                 "label": "sum_amount"},
            ],
            "adhoc_filters": [
                {"expressionType": "SIMPLE", "clause": "HAVING",
                 "subject": "count", "operator": ">=",
                 "comparator": 20},
            ],
            "order_by": [["currency", True],
                         ["transaction_type", True]],
            "time_range": "No filter",
        },
    )
    return out.withColumn("sum_amount", dbl(F.col("sum_amount")))


@register(
    "bi_chart_rolling_mean",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS t,
             event_type, count(*) AS c
      FROM events GROUP BY 1, 2
    )
    SELECT CAST(t AS VARCHAR) AS __timestamp, event_type,
           CASE WHEN count(c) OVER w >= 7
                THEN CAST(CAST(sum(c) OVER w AS DOUBLE)
                          / count(c) OVER w AS DOUBLE)
           END AS count
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY t
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    ORDER BY __timestamp, event_type
    """,
    doc="Timeseries chart with ROLLING-WINDOW post-processing "
        "(rolling_type=mean, rolling_periods=7 — Superset applies "
        "this as pandas rolling() on the fetched frame; the compiler "
        "restates it as a 7-row window per series, so it runs "
        "engine-side on both compilation paths). Each metric label "
        "is REPLACED by its rolled value; rows with fewer than "
        "min_periods (pandas default = window size) observations "
        "are NULL, exactly pandas' leading-edge behavior. Counts "
        "are exact integers, so the mean division is bit-identical "
        "on both engines. The SQL-text twin is unit-gated in "
        "tests/test_bi.py.",
)
def bi_chart_rolling_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hands_on_trino_iceberg_superset_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    out = compile_form_data(
        ev,
        {
            "viz_type": "echarts_timeseries_line",
            "query_mode": "aggregate",
            "granularity_sqla": "ts",
            "time_grain_sqla": "P1D",
            "groupby": ["event_type"],
            "metrics": ["count"],
            "rolling_type": "mean",
            "rolling_periods": 7,
            "time_range": "No filter",
        },
    )
    return out.select(
        F.col("__timestamp").cast("string").alias("__timestamp"),
        "event_type",
        "count",
    ).orderBy("__timestamp", "event_type")


@register(
    "bi_chart_series_limit",
    oracle="""
    WITH top3 AS (
      SELECT event_type FROM events GROUP BY event_type
      ORDER BY count(*) DESC, event_type LIMIT 3
    )
    SELECT CAST(CAST(date_trunc('day', ts) AS TIMESTAMP) AS VARCHAR)
             AS __timestamp,
           event_type, count(*) AS count
    FROM events
    WHERE event_type IN (SELECT event_type FROM top3)
    GROUP BY date_trunc('day', ts), event_type
    ORDER BY __timestamp, event_type
    """,
    doc="Timeseries chart with series_limit — Superset's top-N-"
        "series cap (keep every time bucket of the N biggest "
        "series, never a row_limit on buckets): an independent "
        "top-groups subquery over the same filtered frame "
        "(deterministic metric-then-key ordering) semi-joins the "
        "main aggregate, exactly Superset's two-query shape, on "
        "BOTH compilation paths. Scale: the series subquery "
        "aggregates to the series grid and broadcasts back. Oracle "
        "restates the two-query shape in SQL.",
)
def bi_chart_series_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hands_on_trino_iceberg_superset_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    out = compile_form_data(
        ev,
        {
            "viz_type": "echarts_timeseries_line",
            "query_mode": "aggregate",
            "granularity_sqla": "ts",
            "time_grain_sqla": "P1D",
            "groupby": ["event_type"],
            "metrics": ["count"],
            "series_limit": 3,
            "time_range": "No filter",
        },
    )
    return out.select(
        F.col("__timestamp").cast("string").alias("__timestamp"),
        "event_type",
        "count",
    ).orderBy("__timestamp", "event_type")


@register(
    "bi_chart_time_compare",
    oracle="""
    WITH cur AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS b,
             event_type, count(*) AS count
      FROM events GROUP BY 1, 2
    ), off AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP)
               + INTERVAL 1 WEEK AS b,
             event_type, count(*) AS count__1_week_ago
      FROM events GROUP BY 1, 2
    )
    SELECT CAST(cur.b AS VARCHAR) AS __timestamp,
           cur.event_type, cur.count, off.count__1_week_ago
    FROM cur LEFT JOIN off
      ON cur.b = off.b AND cur.event_type = off.event_type
    ORDER BY __timestamp, cur.event_type
    """,
    doc="Timeseries chart with time_compare — Superset's week-over-"
        "week overlay (the time-offset picker on every timeseries "
        "chart; form_data field absent from the reference's five "
        "charts, init_db.py:140-157, but standard in Superset "
        "4.1.4): the same aggregate re-run with buckets shifted "
        "forward one week, left-joined on (__timestamp, series) so "
        "last week's count lands beside this week's as "
        "count__1_week_ago — on BOTH compilation paths "
        "(bi/compiler.py compile_form_data + form_data_to_sql, "
        "parity-tested). Scale: both sides aggregate to chart-sized "
        "series grids before the join; the fact table is scanned "
        "twice linearly, never joined row-to-row. Oracle restates "
        "the self-join in SQL.",
)
def bi_chart_time_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hands_on_trino_iceberg_superset_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    out = compile_form_data(
        ev,
        {
            "viz_type": "echarts_timeseries_line",
            "query_mode": "aggregate",
            "granularity_sqla": "ts",
            "time_grain_sqla": "P1D",
            "groupby": ["event_type"],
            "metrics": ["count"],
            "time_compare": ["1 week ago"],
            "time_range": "No filter",
        },
    )
    return out.select(
        F.col("__timestamp").cast("string").alias("__timestamp"),
        "event_type",
        "count",
        "count__1_week_ago",
    ).orderBy("__timestamp", "event_type")


@register(
    "bi_chart_contribution",
    oracle=SEED_CTE
    + """
    SELECT CAST(CAST(date_trunc('day', "timestamp") AS TIMESTAMP)
                AS VARCHAR) AS __timestamp,
           currency,
           CAST(count(*) AS DOUBLE) /
             CAST(sum(count(*)) OVER (
                    PARTITION BY date_trunc('day', "timestamp"))
                  AS DOUBLE) AS count
    FROM seed_transactions
    GROUP BY date_trunc('day', "timestamp"), currency
    ORDER BY __timestamp, currency
    """,
    doc="Timeseries chart with contributionMode: row — Superset's "
        "contribution toggle (each series' share of its time "
        "bucket): metric values replaced by value / sum over the "
        "bucket, a window over the already-aggregated chart-sized "
        "result on BOTH compilation paths (parity-tested; series "
        "mode shares the code path). Count metrics divide as exact "
        "integers in f64, so both engines agree bit-for-bit. Runs "
        "on the regenerated seed transactions (seed.sh:112-115, "
        "reserved-word column 'timestamp'); the oracle restates the "
        "bucket-share window in SQL.",
)
def bi_chart_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    tx = seed_frames(spark)["transactions"]
    out = compile_form_data(
        tx,
        {
            "viz_type": "echarts_timeseries_bar",
            "query_mode": "aggregate",
            "granularity_sqla": "timestamp",
            "time_grain_sqla": "P1D",
            "groupby": ["currency"],
            "metrics": ["count"],
            "contributionMode": "row",
            "time_range": "No filter",
        },
    )
    return out.select(
        F.col("__timestamp").cast("string").alias("__timestamp"),
        "currency",
        "count",
    ).orderBy("__timestamp", "currency")


@register(
    "bi_chart_pivot_table",
    oracle=SEED_CTE
    + """
    SELECT status,
           count(CASE WHEN transaction_type = 'payment' THEN 1 END)
             AS payment__count,
           CAST(sum(CASE WHEN transaction_type = 'payment'
                    THEN CAST(amount AS DECIMAL(18,2)) END) AS DOUBLE)
             AS payment__total_amount,
           count(CASE WHEN transaction_type = 'refund' THEN 1 END)
             AS refund__count,
           CAST(sum(CASE WHEN transaction_type = 'refund'
                    THEN CAST(amount AS DECIMAL(18,2)) END) AS DOUBLE)
             AS refund__total_amount,
           count(CASE WHEN transaction_type = 'transfer' THEN 1 END)
             AS transfer__count,
           CAST(sum(CASE WHEN transaction_type = 'transfer'
                    THEN CAST(amount AS DECIMAL(18,2)) END) AS DOUBLE)
             AS transfer__total_amount,
           count(*) AS count
    FROM seed_transactions
    GROUP BY status
    ORDER BY status
    """,
    doc="Superset pivot_table_v2 chart (groupbyRows=status, "
        "groupbyColumns=transaction_type, metrics count + "
        "SUM(amount)): Superset pivots the fetched frame in pandas; "
        "the compiler pushes the pivot INTO the engine as "
        "conditional aggregation — one shuffle on the row keys, one "
        "(value, metric) FILTER-aggregate per output cell, computed "
        "in a single pass with map-side partials (never a per-value "
        "scan or a pivot operator). The pivoted schema is the sorted "
        "distinct value list, chart-schema-sized by contract; the "
        "row-total count column is a REAL count(*) in the same "
        "aggregate (row_total=True), exact even when pivot keys are "
        "NULL or outside the pinned value list. Both "
        "compilation paths share the CASE formulation verbatim "
        "(parity-tested); the oracle restates every cell. Sums "
        "aggregate in DECIMAL, cast once to DOUBLE.",
)
def bi_chart_pivot_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hands_on_trino_iceberg_superset_spark.bi.compiler import (
        compile_pivot_form_data,
    )

    tx = seed_frames(spark)["transactions"].withColumn(
        "amount_dec", dec("amount")
    )
    out = compile_pivot_form_data(
        tx,
        {
            "viz_type": "pivot_table_v2",
            "groupbyRows": ["status"],
            "groupbyColumns": ["transaction_type"],
            "metrics": [
                "count",
                {"aggregate": "SUM", "column": "amount_dec",
                 "label": "total_amount"},
            ],
            "time_range": "No filter",
        },
        # Superset's row-total column as a REAL count(*) in the same
        # aggregate (the oracle's count(*) mirrored exactly) — never
        # the sum of the count cells, which under-counts rows whose
        # pivot key is NULL or outside the pinned value list
        row_total=True,
    )
    cells = [c for c in out.columns if c != "status"]
    return out.select(
        "status",
        *[dbl(F.col(c)).alias(c) if c.endswith("total_amount")
          else F.col(c) for c in cells],
    ).orderBy("status")


@register(
    "bi_chart_ann_topk",
    oracle="""
    WITH q AS (SELECT * FROM embeddings WHERE vec_id % 100 = 0),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.embedding::DOUBLE[],
                                          c.embedding::DOUBLE[]), 6)
               AS cos_sim
      FROM q JOIN embeddings c ON q.vec_id != c.vec_id
    ),
    topk AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM scored
      ) WHERE rank <= 10
    )
    SELECT e.label AS neighbor_label,
           count(*) AS count,
           CAST(sum(CAST(t.cos_sim AS DECIMAL(10,6))) AS DOUBLE)
             AS sum_sim
    FROM topk t JOIN embeddings e ON t.neighbor_id = e.vec_id
    GROUP BY e.label
    ORDER BY count DESC, neighbor_label
    """,
    doc="A BI chart over SQL-reachable vector search — the VERDICT "
        "r10 seam closed end to end: the virtual dataset's defining "
        "SQL calls TABLE(ann_topk(corpus => ..., queries => ..., "
        "k => 10)) (Engine.sql table-function resolution, the exact "
        "brute-force arm) and joins neighbor ids back to their "
        "labels; the chart's form_data then aggregates neighbors per "
        "label (count + exact DECIMAL sum of the rounded "
        "similarities, cast to DOUBLE once). A Superset user charts "
        "similarity search with nothing but a virtual dataset — no "
        "Python API in the loop. The oracle replays top-10, the "
        "label join, and the aggregate from scratch in SQL.",
)
def bi_chart_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hands_on_trino_iceberg_superset_spark.bi.entities import Database
    from hands_on_trino_iceberg_superset_spark.engine import Engine
    from hands_on_trino_iceberg_superset_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    emb.createOrReplaceTempView("bi_ann_corpus_v")
    emb.where(F.col("vec_id") % 100 == 0).createOrReplaceTempView(
        "bi_ann_queries_v"
    )
    eng = Engine(spark)
    ds = Database("spark", eng).dataset(
        "ann_neighbors",
        sql=(
            "SELECT e.label AS neighbor_label, "
            "CAST(a.cos_sim AS DECIMAL(10,6)) AS sim_dec "
            "FROM TABLE(ann_topk(corpus => 'bi_ann_corpus_v', "
            "queries => 'bi_ann_queries_v', k => 10)) a "
            "JOIN bi_ann_corpus_v e ON a.neighbor_id = e.vec_id"
        ),
    )
    out = compile_form_data(
        ds.df(),
        {
            "query_mode": "aggregate",
            "groupby": ["neighbor_label"],
            "metrics": [
                "count",
                {"aggregate": "SUM", "column": "sim_dec",
                 "label": "sum_sim"},
            ],
            "order_by": [["count", False], ["neighbor_label", True]],
        },
    )
    return out.withColumn("sum_sim", dbl(F.col("sum_sim")))


def _bm25_chart_oracle() -> str:
    from hands_on_trino_iceberg_superset_spark.queries.text import (
        _BM25_SCORED_SQL,
    )

    return f"""
    WITH {_BM25_SCORED_SQL}
    SELECT d.source AS source,
           count(*) AS count,
           CAST(sum(CAST(CAST(r.score_dec AS DOUBLE)
                         AS DECIMAL(20,9))) AS DOUBLE) AS sum_score
    FROM ranked r JOIN documents d ON r.doc_id = d.doc_id
    WHERE r.rank <= 10
    GROUP BY d.source
    ORDER BY count DESC, source
    """


@register(
    "bi_chart_bm25_topk",
    oracle=_bm25_chart_oracle(),
    doc="A BI chart over SQL-reachable LEXICAL search — the "
        "bi_chart_ann_topk treatment applied to the retrieval "
        "family: the virtual dataset's defining SQL calls "
        "TABLE(bm25_topk(docs => ..., queries => ..., k => 10)) "
        "(Engine.sql table-function resolution) and joins hit "
        "doc_ids back to their corpus source; the chart's form_data "
        "aggregates hits per source (count + exact DECIMAL sum of "
        "the BM25 scores, cast to DOUBLE once — the double score "
        "round-trips DECIMAL(20,9) exactly at 9 dp, and the oracle "
        "mirrors both casts). A Superset user charts lexical search "
        "relevance with nothing but a virtual dataset — no Python "
        "API in the loop. The oracle replays BM25, the top-10 "
        "window, the metadata join, and the aggregate in SQL.",
)
def bi_chart_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hands_on_trino_iceberg_superset_spark.bi.entities import (
        Database,
    )
    from hands_on_trino_iceberg_superset_spark.engine import Engine
    from hands_on_trino_iceberg_superset_spark.queries.text import (
        _bm25_queries_df,
    )
    from hands_on_trino_iceberg_superset_spark.sources import (
        load_table,
    )

    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "bi_bm25_docs_v"
    )
    _bm25_queries_df(spark).createOrReplaceTempView(
        "bi_bm25_queries_v"
    )
    ds = Database("spark", Engine(spark)).dataset(
        "bm25_hits",
        sql=(
            "SELECT d.source AS source, "
            "CAST(h.score AS DECIMAL(20,9)) AS score_dec "
            "FROM TABLE(bm25_topk(docs => 'bi_bm25_docs_v', "
            "queries => 'bi_bm25_queries_v', k => 10)) h "
            "JOIN bi_bm25_docs_v d ON h.doc_id = d.doc_id"
        ),
    )
    out = compile_form_data(
        ds.df(),
        {
            "query_mode": "aggregate",
            "groupby": ["source"],
            "metrics": [
                "count",
                {"aggregate": "SUM", "column": "score_dec",
                 "label": "sum_score"},
            ],
            "order_by": [["count", False], ["source", True]],
        },
    )
    return out.withColumn("sum_score", dbl(F.col("sum_score")))


@register(
    "bi_chart_dedup_sources",
    oracle="""
    WITH g AS (
      SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
               AS fingerprint,
             min(doc_id) AS keep_id,
             count(*) AS n_dups
      FROM documents
      GROUP BY 1
    )
    SELECT d.source AS source,
           count(*) AS count,
           CAST(sum(g.n_dups) AS BIGINT) AS docs_covered
    FROM g JOIN documents d ON g.keep_id = d.doc_id
    GROUP BY d.source
    ORDER BY count DESC, source
    """,
    doc="A BI chart over SQL-reachable DEDUP — the bi_chart_ann_topk/"
        "bi_chart_bm25_topk treatment applied to the curation family: "
        "the virtual dataset's defining SQL calls "
        "TABLE(dedup_exact(docs => ...)) (Engine.sql table-function "
        "resolution) and joins each content group's survivor back to "
        "the corpus for its source; the chart's form_data counts "
        "distinct-content groups and covered docs per source — the "
        "dashboard a curation team watches. Same single fingerprint "
        "shuffle as dedup_exact plus the survivor equi-join; the "
        "oracle replays group-by, join, and aggregate in SQL.",
)
def bi_chart_dedup_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hands_on_trino_iceberg_superset_spark.bi.entities import (
        Database,
    )
    from hands_on_trino_iceberg_superset_spark.engine import Engine
    from hands_on_trino_iceberg_superset_spark.sources import (
        load_table,
    )

    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "bi_dedup_docs_v"
    )
    ds = Database("spark", Engine(spark)).dataset(
        "dedup_groups",
        sql=(
            "SELECT d.source AS source, g.n_dups AS n_dups "
            "FROM TABLE(dedup_exact(docs => 'bi_dedup_docs_v')) g "
            "JOIN bi_dedup_docs_v d ON g.keep_id = d.doc_id"
        ),
    )
    return compile_form_data(
        ds.df(),
        {
            "query_mode": "aggregate",
            "groupby": ["source"],
            "metrics": [
                "count",
                {"aggregate": "SUM", "column": "n_dups",
                 "label": "docs_covered"},
            ],
            "order_by": [["count", False], ["source", True]],
        },
    )


@register(
    "bi_chart_time_range_relative",
    oracle="""
    SELECT event_type,
           count(*) AS count,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-29 00:00:00' - INTERVAL 7 DAY
      AND ts <  TIMESTAMP '2024-01-29 00:00:00'
    GROUP BY event_type
    ORDER BY count DESC, event_type
    """,
    doc="Superset RELATIVE time range ('Last week' — the picker "
        "default a real user clicks first; init_db.py:147 carries "
        "time_range on every reference chart) through BOTH compiler "
        "paths: the phrase resolves against the injectable "
        "time_range_anchor (the seeder's as_of pattern — wall clock "
        "when absent, pinned here so the oracle can restate the "
        "bounds) to [anchor-midnight - 7 days, anchor-midnight) with "
        "SIP-15 [inclusive, exclusive) endpoints. The row UNION "
        "DISTINCTs the Catalyst compilation with the SQL-text "
        "compilation executed over the same view — if the two paths "
        "ever disagree on the resolved bounds, the union grows extra "
        "rows and the oracle hash-check fails. The oracle derives "
        "the same window by its own date arithmetic (anchor - "
        "INTERVAL 7 DAY), not by copying resolved literals.",
)
def bi_chart_time_range_relative(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    from hands_on_trino_iceberg_superset_spark.bi.compiler import (
        form_data_to_sql,
    )
    from hands_on_trino_iceberg_superset_spark.sources import load_table

    ev = (
        load_table(spark, sf_dir, "events")
        .select("ts", "event_type", dec("value").alias("value_dec"))
    )
    ev.createOrReplaceTempView("bi_relative_events_v")
    fdata = {
        "viz_type": "table",
        "query_mode": "aggregate",
        "granularity_sqla": "ts",
        "time_range": "Last week",
        "time_range_anchor": "2024-01-29 00:00:00",
        "groupby": ["event_type"],
        "metrics": [
            "count",
            {"aggregate": "SUM", "column": "value_dec",
             "label": "sum_value"},
        ],
        "order_by": [["count", False], ["event_type", True]],
    }
    cols = ["event_type", "count", "sum_value"]
    catalyst = compile_form_data(ev, fdata).select(*cols)
    via_sql = spark.sql(
        form_data_to_sql("bi_relative_events_v", fdata)
    ).select(*cols)
    return (
        catalyst.unionAll(via_sql).distinct()
        .withColumn("sum_value", dbl(F.col("sum_value")))
    )


def _hybrid_chart_oracle() -> str:
    from hands_on_trino_iceberg_superset_spark.queries.text import (
        _HYBRID_RANKED_SQL,
    )

    return f"""
    WITH {_HYBRID_RANKED_SQL}
    SELECT d.source AS source,
           count(*) AS count,
           CAST(sum(CASE WHEN h.r_lex IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS lex_hits,
           CAST(sum(CASE WHEN h.r_vec IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS vec_hits
    FROM hranked h JOIN documents d ON h.doc_id = d.doc_id
    WHERE h.rank <= 10
    GROUP BY d.source
    ORDER BY count DESC, source
    """


@register(
    "bi_chart_hybrid_topk",
    oracle=_hybrid_chart_oracle(),
    doc="A BI chart over SQL-reachable HYBRID retrieval — closing "
        "the retrieval family's BI seam (ann + bm25 charts shipped "
        "r11/r12): the virtual dataset's defining SQL calls "
        "TABLE(hybrid_topk(docs => ..., corpus => ..., "
        "queries => ..., k => 10)) and joins fused hits back to the "
        "corpus; the chart counts hybrid hits per source and how "
        "many arrived with a lexical / vector rank (arm-coverage "
        "flags as exact 0/1 integer sums — no float aggregation). "
        "The dashboard a retrieval team watches to see which corpus "
        "sources each arm actually surfaces. The oracle replays "
        "BM25, exact cosine, RRF fusion, the top-10 window, the "
        "metadata join, and the aggregate in SQL "
        "(queries/text.py:_HYBRID_RANKED_SQL, shared with "
        "sql_hybrid_topk).",
)
def bi_chart_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hands_on_trino_iceberg_superset_spark.bi.entities import (
        Database,
    )
    from hands_on_trino_iceberg_superset_spark.engine import Engine
    from hands_on_trino_iceberg_superset_spark.queries.text import (
        _anchor_hybrid_queries,
    )
    from hands_on_trino_iceberg_superset_spark.sources import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    docs.createOrReplaceTempView("bi_hyb_docs_v")
    emb.createOrReplaceTempView("bi_hyb_corpus_v")
    _anchor_hybrid_queries(docs, emb).createOrReplaceTempView(
        "bi_hyb_queries_v")
    ds = Database("spark", Engine(spark)).dataset(
        "hybrid_hits",
        sql=(
            "SELECT d.source AS source, "
            "CASE WHEN h.r_lex IS NOT NULL THEN 1 ELSE 0 END "
            "AS lex_hit, "
            "CASE WHEN h.r_vec IS NOT NULL THEN 1 ELSE 0 END "
            "AS vec_hit "
            "FROM TABLE(hybrid_topk(docs => 'bi_hyb_docs_v', "
            "corpus => 'bi_hyb_corpus_v', "
            "queries => 'bi_hyb_queries_v', k => 10)) h "
            "JOIN bi_hyb_docs_v d ON h.doc_id = d.doc_id"
        ),
    )
    return compile_form_data(
        ds.df(),
        {
            "query_mode": "aggregate",
            "groupby": ["source"],
            "metrics": [
                "count",
                {"aggregate": "SUM", "column": "lex_hit",
                 "label": "lex_hits"},
                {"aggregate": "SUM", "column": "vec_hit",
                 "label": "vec_hits"},
            ],
            "order_by": [["count", False], ["source", True]],
        },
    )


@register(
    "bi_chart_time_compare_windowed",
    oracle="""
    WITH cur AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS b,
             event_type, count(*) AS count
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-29 00:00:00' - INTERVAL 7 DAY
        AND ts <  TIMESTAMP '2024-01-29 00:00:00'
      GROUP BY 1, 2
    ), off AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP)
               + INTERVAL 1 WEEK AS b,
             event_type, count(*) AS count__1_week_ago
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-29 00:00:00' - INTERVAL 14 DAY
        AND ts <  TIMESTAMP '2024-01-29 00:00:00' - INTERVAL 7 DAY
      GROUP BY 1, 2
    )
    SELECT CAST(cur.b AS VARCHAR) AS __timestamp,
           cur.event_type, cur.count, off.count__1_week_ago
    FROM cur LEFT JOIN off
      ON cur.b = off.b AND cur.event_type = off.event_type
    ORDER BY __timestamp, cur.event_type
    """,
    doc="time_compare WITH a time range — the canonical Superset "
        "timeseries config ('Last week' + compare '1 week ago') the "
        "r12 compiler refused: the main arm covers the resolved "
        "window [anchor-7d, anchor) and each offset arm reads its "
        "SHIFTED window [anchor-14d, anchor-7d) from the pre-range "
        "frame (Superset's shifted-range fetch; r13, both compiler "
        "paths), so every main bucket — including the window's "
        "first — finds its week-ago value instead of NULL. The row "
        "UNION DISTINCTs the Catalyst compilation with the SQL-text "
        "compilation executed over the same view: a path divergence "
        "grows extra rows and fails the hash gate. The oracle "
        "derives both windows by its own date arithmetic from the "
        "pinned anchor. Scale: two chart-sized aggregates, two "
        "linear scans, never a row-to-row join.",
)
def bi_chart_time_compare_windowed(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    from hands_on_trino_iceberg_superset_spark.bi.compiler import (
        form_data_to_sql,
    )
    from hands_on_trino_iceberg_superset_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("bi_tc_windowed_events_v")
    fdata = {
        "viz_type": "echarts_timeseries_line",
        "query_mode": "aggregate",
        "granularity_sqla": "ts",
        "time_grain_sqla": "P1D",
        "groupby": ["event_type"],
        "metrics": ["count"],
        "time_compare": ["1 week ago"],
        "time_range": "Last week",
        "time_range_anchor": "2024-01-29 00:00:00",
    }

    def shape(out: DataFrame) -> DataFrame:
        return out.select(
            F.col("__timestamp").cast("string").alias("__timestamp"),
            "event_type", "count", "count__1_week_ago",
        )

    catalyst = shape(compile_form_data(ev, fdata))
    via_sql = shape(spark.sql(
        form_data_to_sql("bi_tc_windowed_events_v", fdata)
    ))
    return (catalyst.unionAll(via_sql).distinct()
            .orderBy("__timestamp", "event_type"))


@register(
    "bi_chart_asof_attribution",
    oracle="""
    WITH u AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'click' THEN event_id END AS c_id,
             CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS side,
             event_type
      FROM events WHERE event_type IN ('click', 'purchase')
    ), w AS (
      SELECT user_id, ts, event_type,
             last_value(c_id IGNORE NULLS) OVER (
               PARTITION BY user_id
               ORDER BY ts, side, event_id
               ROWS UNBOUNDED PRECEDING) AS last_click_id
      FROM u
    )
    SELECT CAST(CAST(date_trunc('day', ts) AS TIMESTAMP) AS VARCHAR)
             AS __timestamp,
           count(*) AS count,
           CAST(sum(CASE WHEN last_click_id IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS attributed
    FROM w WHERE event_type = 'purchase'
    GROUP BY 1
    ORDER BY __timestamp
    """,
    doc="Click-attribution dashboard over the SQL-reachable as-of "
        "join (r13): the virtual dataset's defining SQL calls "
        "TABLE(asof_join(...)) pairing each purchase with the "
        "user's latest at-or-before click, and the timeseries chart "
        "counts purchases per day with the attributed subset as an "
        "exact 0/1 integer sum — the conversion-tracking view a "
        "growth team watches. The whole chain — events-family "
        "operator -> table function -> virtual dataset -> form-data "
        "compiler — with no Python API in the loop; the asof plan "
        "stays union + one window shuffle, no join (plan-gated on "
        "the seam). The oracle replays the carry-forward window, "
        "the day trunc, and the aggregate in SQL.",
)
def bi_chart_asof_attribution(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    from hands_on_trino_iceberg_superset_spark.bi.entities import (
        Database,
    )
    from hands_on_trino_iceberg_superset_spark.engine import Engine
    from hands_on_trino_iceberg_superset_spark.sources import (
        load_table,
    )

    ev = load_table(spark, sf_dir, "events")
    ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("ats"),
        F.col("event_id").alias("purchase_id"),
        F.col("event_id").alias("_evt_tb"),
    ).createOrReplaceTempView("bi_asof_purchases_v")
    ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("ats"),
        F.col("event_id").alias("last_click_id"),
        F.col("event_id").alias("_evt_tb"),
    ).createOrReplaceTempView("bi_asof_clicks_v")
    ds = Database("spark", Engine(spark)).dataset(
        "purchase_attribution",
        sql=(
            "SELECT CAST(ats AS TIMESTAMP) AS pts, "
            "CASE WHEN last_click_id IS NOT NULL THEN 1 ELSE 0 END "
            "AS is_attributed "
            "FROM TABLE(asof_join(left => 'bi_asof_purchases_v', "
            "right => 'bi_asof_clicks_v', on => 'user_id', "
            "order_col => 'ats', carry_cols => 'last_click_id', "
            "tiebreak_col => '_evt_tb'))"
        ),
    )
    out = compile_form_data(
        ds.df(),
        {
            "viz_type": "echarts_timeseries_line",
            "query_mode": "aggregate",
            "granularity_sqla": "pts",
            "time_grain_sqla": "P1D",
            "metrics": [
                "count",
                {"aggregate": "SUM", "column": "is_attributed",
                 "label": "attributed"},
            ],
            "order_by": [["__timestamp", True]],
            "time_range": "No filter",
        },
    )
    return out.select(
        F.col("__timestamp").cast("string").alias("__timestamp"),
        "count", "attributed",
    ).orderBy("__timestamp")


@register(
    "bi_chart_native_filter",
    oracle="""
    SELECT event_type,
           count(*) AS count,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_value
    FROM events
    WHERE user_id >= 10
      AND event_type IN ('click', 'view', 'purchase')
      AND ts >= TIMESTAMP '2024-01-29 00:00:00' - INTERVAL 7 DAY
      AND ts <  TIMESTAMP '2024-01-29 00:00:00'
    GROUP BY event_type
    ORDER BY count DESC, event_type
    """,
    doc="SIP-68 dashboard NATIVE FILTERS through both compiler "
        "paths (VERDICT r13 top item): the filter bar on a Superset "
        ">=1.5 dashboard (where the reference's own dashboard "
        "attaches, init_db.py:208-329) delivers the user's "
        "selections to every chart as extra_form_data — "
        "query-object-shaped .filters appended to the chart's own "
        "adhoc_filters and .time_range overriding the chart's ('No "
        "filter' here, overridden to 'Last week' against the pinned "
        "anchor). Before r14 the key was silently dropped: the one "
        "silent-wrong-answer hazard left (unfiltered rows, no "
        "error); unmodeled sub-keys now refuse loudly instead "
        "(bi/compiler.merge_extra_form_data). The row UNION "
        "DISTINCTs the Catalyst compilation with the SQL-text "
        "compilation — a merge divergence between paths grows rows "
        "and fails the hash gate. The oracle restates the merged "
        "WHERE (own filter AND both native filters AND the "
        "overridden window) by its own date arithmetic.",
)
def bi_chart_native_filter(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    from hands_on_trino_iceberg_superset_spark.bi.compiler import (
        form_data_to_sql,
    )
    from hands_on_trino_iceberg_superset_spark.sources import load_table

    ev = (
        load_table(spark, sf_dir, "events")
        .select("ts", "event_type", "user_id",
                dec("value").alias("value_dec"))
    )
    ev.createOrReplaceTempView("bi_native_events_v")
    fdata = {
        "viz_type": "table",
        "query_mode": "aggregate",
        "granularity_sqla": "ts",
        "time_range": "No filter",
        "time_range_anchor": "2024-01-29 00:00:00",
        "groupby": ["event_type"],
        "metrics": [
            "count",
            {"aggregate": "SUM", "column": "value_dec",
             "label": "sum_value"},
        ],
        "adhoc_filters": [
            {"expressionType": "SIMPLE", "clause": "WHERE",
             "subject": "user_id", "operator": ">=",
             "comparator": 10},
        ],
        "order_by": [["count", False], ["event_type", True]],
        "extra_form_data": {
            "filters": [{"col": "event_type", "op": "IN",
                         "val": ["click", "view", "purchase"]}],
            "time_range": "Last week",
        },
    }
    cols = ["event_type", "count", "sum_value"]
    catalyst = compile_form_data(ev, fdata).select(*cols)
    via_sql = spark.sql(
        form_data_to_sql("bi_native_events_v", fdata)
    ).select(*cols)
    return (
        catalyst.unionAll(via_sql).distinct()
        .withColumn("sum_value", dbl(F.col("sum_value")))
    )


@register(
    "bi_chart_native_compare",
    oracle="""
    WITH f AS (
      SELECT ts FROM events
      WHERE event_type IN ('click', 'purchase')
    ), cur AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS b,
             count(*) AS count
      FROM f
      WHERE ts >= TIMESTAMP '2024-01-29 00:00:00' - INTERVAL 7 DAY
        AND ts <  TIMESTAMP '2024-01-29 00:00:00'
      GROUP BY 1
    ), off AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP)
               + INTERVAL 1 WEEK AS b,
             count(*) AS count__1_week_ago
      FROM f
      WHERE ts >= TIMESTAMP '2024-01-29 00:00:00' - INTERVAL 14 DAY
        AND ts <  TIMESTAMP '2024-01-29 00:00:00' - INTERVAL 7 DAY
      GROUP BY 1
    )
    SELECT CAST(cur.b AS VARCHAR) AS __timestamp,
           cur.count, off.count__1_week_ago
    FROM cur LEFT JOIN off ON cur.b = off.b
    ORDER BY __timestamp
    """,
    doc="The r13/r14 surfaces COMPOSED: a native dashboard filter "
        "(extra_form_data.filters) + time_compare '1 week ago' + a "
        "relative time_range delivered BY the native channel "
        "(extra_form_data.time_range override) over a VIRTUAL "
        "dataset — the exact interaction the r13 verdict flagged: "
        "each time_compare offset arm re-reads the pre-range frame "
        "(bi/compiler.py compile_form_data), so a native filter "
        "merged after that point would compare filtered current "
        "buckets against UNFILTERED history; merging at entry makes "
        "both arms see it. Both compiler paths UNION DISTINCTed; "
        "the oracle derives both shifted windows and the filter by "
        "its own arithmetic. Scale: two chart-sized aggregates over "
        "one filtered linear scan each, joined on day buckets — "
        "never a row-to-row join.",
)
def bi_chart_native_compare(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    from hands_on_trino_iceberg_superset_spark.bi.compiler import (
        form_data_to_sql,
    )
    from hands_on_trino_iceberg_superset_spark.bi.entities import (
        Database,
    )
    from hands_on_trino_iceberg_superset_spark.engine import Engine
    from hands_on_trino_iceberg_superset_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("bi_native_cmp_events_v")
    eng = Engine(spark)
    eng.sql(
        "CREATE OR REPLACE VIEW v_native_cmp AS "
        "SELECT ts, event_type FROM bi_native_cmp_events_v"
    )
    ds = Database("spark", eng).dataset(
        "v_native_cmp", sql="SELECT * FROM v_native_cmp"
    )
    fdata = {
        "viz_type": "echarts_timeseries_line",
        "query_mode": "aggregate",
        "granularity_sqla": "ts",
        "time_grain_sqla": "P1D",
        "metrics": ["count"],
        "time_compare": ["1 week ago"],
        "time_range_anchor": "2024-01-29 00:00:00",
        "order_by": [["__timestamp", True]],
        "extra_form_data": {
            "filters": [{"col": "event_type", "op": "IN",
                         "val": ["click", "purchase"]}],
            "time_range": "Last week",
        },
    }

    def shape(out: DataFrame) -> DataFrame:
        return out.select(
            F.col("__timestamp").cast("string").alias("__timestamp"),
            "count", "count__1_week_ago",
        )

    catalyst = shape(compile_form_data(ds.df(), fdata))
    via_sql = shape(spark.sql(
        form_data_to_sql("v_native_cmp", fdata)
    ))
    return (catalyst.unionAll(via_sql).distinct()
            .orderBy("__timestamp"))


def _quality_chart_oracle() -> str:
    from hands_on_trino_iceberg_superset_spark.queries.text import (
        _SW_SQL,
    )

    return f"""
    SELECT source,
           count(*) AS count,
           CAST(sum(CASE WHEN n_tokens >= 20
                          AND n_types * 2 >= n_tokens
                          AND n_stop > 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_passed
    FROM (
      SELECT source,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' '))) AS n_types,
             len(list_filter(string_split(text, ' '),
                             t -> t IN {_SW_SQL})) AS n_stop
      FROM documents
    )
    GROUP BY source
    ORDER BY count DESC, source
    """


@register(
    "bi_chart_quality_sources",
    oracle=_quality_chart_oracle(),
    doc="The corpus-quality dashboard a curation team watches, over "
        "the r14 text-analysis seam: the virtual dataset's defining "
        "SQL calls TABLE(quality_scores(docs => ..., carry_cols => "
        "'source')) — the source label CARRIED through the "
        "zero-exchange map, so the per-source pass-rate aggregate "
        "needs no join back to the corpus (at 100 TB: one map pass "
        "+ one source-sized aggregate exchange, no join node). The "
        "chart counts documents and quality-gate passes per source "
        "as exact 0/1 integer sums; the oracle replays the token "
        "statistics, the gate, and the aggregate in SQL.",
)
def bi_chart_quality_sources(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    from hands_on_trino_iceberg_superset_spark.bi.entities import (
        Database,
    )
    from hands_on_trino_iceberg_superset_spark.engine import Engine
    from hands_on_trino_iceberg_superset_spark.sources import (
        load_table,
    )

    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "bi_quality_docs_v"
    )
    ds = Database("spark", Engine(spark)).dataset(
        "doc_quality",
        sql=(
            "SELECT source, CASE WHEN passes_quality THEN 1 ELSE 0 "
            "END AS passed "
            "FROM TABLE(quality_scores(docs => 'bi_quality_docs_v', "
            "chars_col => 'n_chars', carry_cols => 'source'))"
        ),
    )
    return compile_form_data(
        ds.df(),
        {
            "query_mode": "aggregate",
            "groupby": ["source"],
            "metrics": [
                "count",
                {"aggregate": "SUM", "column": "passed",
                 "label": "n_passed"},
            ],
            "order_by": [["count", False], ["source", True]],
        },
    )


# the 30-minute session gap shared with the streaming oracles — ONE
# definition so the bi and streaming rows can never drift
from hands_on_trino_iceberg_superset_spark.queries.streaming import (  # noqa: E402,E501
    _GAP_US,
)


@register(
    "bi_chart_stream_sessions",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= {_GAP_US}
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
      SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ), sessions AS (
      SELECT user_id,
             sum(CAST(value AS DECIMAL(18,2))) AS session_value
      FROM sess GROUP BY user_id, sid
    )
    SELECT user_id, count(*) AS n_sessions,
           CAST(sum(session_value) AS DOUBLE) AS sum_value
    FROM sessions
    GROUP BY user_id
    ORDER BY sum_value DESC, user_id
    LIMIT 10
    """,
    doc="A Superset chart whose VIRTUAL dataset is the STREAMING "
        "engine: the dataset's defining SQL is "
        "TABLE(stream_sessionize(events => ..., gap => '30 "
        "minutes')) — Dataset.df() resolves it through Engine.sql, "
        "which snapshots, streams through session_window, and "
        "drains the availableNow memory sink; the chart's "
        "form_data (top-10 users by total session value) compiles "
        "over that frame like over any table. The three r14 seams "
        "compose: streaming -> SQL -> BI with no special-case code "
        "anywhere. Session values re-enter as DECIMAL(18,2) in the "
        "dataset SQL (double -> 2-dp decimal is a lossless "
        "round-trip here) so the per-user sums stay order-exact.",
)
def bi_chart_stream_sessions(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    from hands_on_trino_iceberg_superset_spark.bi.entities import (
        Database,
    )
    from hands_on_trino_iceberg_superset_spark.engine import Engine
    from hands_on_trino_iceberg_superset_spark.sources import (
        load_table,
    )

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "bi_sess_events_v"
    )
    ds = Database("spark", Engine(spark)).dataset(
        "v_stream_sessions",
        sql=(
            "SELECT user_id, "
            "CAST(total_value AS DECIMAL(18,2)) AS session_value "
            "FROM TABLE(stream_sessionize("
            "events => 'bi_sess_events_v', gap => '30 minutes'))"
        ),
    )
    out = compile_form_data(
        ds.df(),
        {
            "query_mode": "aggregate",
            "groupby": ["user_id"],
            "metrics": [
                {"aggregate": "COUNT", "column": "session_value",
                 "label": "n_sessions"},
                {"aggregate": "SUM", "column": "session_value",
                 "label": "sum_value"},
            ],
            "order_by": [["sum_value", False], ["user_id", True]],
            "row_limit": 10,
        },
    )
    return out.withColumn("sum_value", dbl(F.col("sum_value")))
