"""``bi_wire``: Superset-shaped statements over the Trino wire protocol.

One client in a closed loop POSTs each statement to one long-lived
``server.TrinoWireServer`` and drains its ``nextUri`` pages before it
sends the next. A pass sends, in a seeded order:

- the reference dashboard's five raw table charts over the ``demo``
  schema that ``seed.seed_into_catalog`` writes;
- aggregate, time-series, pivot and paged raw charts compiled by
  ``bi.compiler`` over the ``orders``/``lineitem``/``events`` tables;
- Trino-dialect ad-hoc SQL: ``iceberg.demo.*`` three-part names,
  ``information_schema`` and ``system.runtime.queries``.

The seed picks every filter value once per run and the order of each
pass. The first two passes warm up; the first is checked: the dashboard
grids against DuckDB over the seed CTEs, every other statement against
a DuckDB twin of its SQL or the tables' own columns.
"""

from __future__ import annotations

import json
import time
import urllib.request
from decimal import ROUND_HALF_UP, Decimal

from check import same_rows

#: the reference dashboard's charts: (table, columns with wire types, key)
DASHBOARD = [
    ("events", [("id", "bigint"), ("ts", "timestamp"),
                ("event_type", "varchar"), ("user_id", "bigint"),
                ("amount", "double")], "id"),
    ("users", [("user_id", "bigint"), ("username", "varchar"),
               ("email", "varchar"), ("country", "varchar"),
               ("active", "boolean")], "user_id"),
    ("orders", [("order_id", "bigint"), ("user_id", "bigint"),
                ("product_id", "bigint"), ("quantity", "integer"),
                ("price", "double"), ("status", "varchar")], "order_id"),
    ("products", [("product_id", "bigint"), ("name", "varchar"),
                  ("category", "varchar"), ("price", "double"),
                  ("stock", "integer")], "product_id"),
    ("transactions", [("transaction_id", "bigint"), ("user_id", "bigint"),
                      ("amount", "double"), ("currency", "varchar"),
                      ("transaction_type", "varchar"),
                      ("status", "varchar")], "transaction_id"),
]
TPCH = ("orders", "lineitem", "events")


def _canon(value, wire_type: str) -> str:
    if wire_type == "boolean":
        return "true" if value else "false"
    if wire_type == "double":
        return str(Decimal(str(value)).quantize(Decimal("0.01"),
                                                ROUND_HALF_UP))
    if wire_type.startswith("timestamp"):
        return str(value)[:19]
    return str(value)


def _typed(types, rows):
    """Wire JSON cells back to comparable values: numbers as numbers,
    timestamps at second precision."""
    def cell(v, t):
        if v is None:
            return None
        if t.startswith("timestamp"):
            return str(v)[:19]
        if t in ("double", "real") or t.startswith("decimal"):
            return float(v)
        return v
    return [[cell(v, t) for v, t in zip(r, types)] for r in rows]


def _grid_oracle(table: str, cols, key: str) -> str:
    cells = []
    for c, typ in cols:
        if typ == "double":
            cells.append(f"CAST(CAST({c} AS DECIMAL(18,2)) AS VARCHAR)")
        elif typ == "timestamp":
            cells.append(f"strftime({c}, '%Y-%m-%d %H:%M:%S')")
        else:
            cells.append(f"CAST({c} AS VARCHAR)")
    line = " || '|' || ".join(cells)
    return (f"SELECT {line} FROM (SELECT * FROM seed_{table} "
            f"ORDER BY {key} LIMIT 100) p")


class Statement:
    """One wire statement: its SQL (compiled from form_data inside the
    pass when ``form_data`` is set), the schema it runs in, and the
    DuckDB twin that checks it."""

    def __init__(self, name, sql=None, form_data=None, table=None,
                 schema="demo", twin=None, check=None, replay=True,
                 pivot_values=None):
        self.name, self.sql, self.form_data = name, sql, form_data
        self.table, self.schema, self.twin = table, schema, twin
        self.check, self.replay = check, replay
        self.pivot_values = pivot_values


class BiWire:
    name = "bi_wire"
    sf = 0.1
    setup_reps = 3
    #: the checked first pass leaves the JIT cold enough that the next
    #: pass still runs ~30% slow, so one more pass warms up untimed
    warmup_passes = 2
    op_kinds = ("stmt",)

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.server = None
        self._statements = None

    # -- set-up -------------------------------------------------------

    def setup(self) -> dict[str, float]:
        ctx = self.ctx
        seed = ctx.pkg("seed")
        if self.server is not None:
            self.server.stop()
            self.server = None
        t0 = time.perf_counter()
        seed.seed_into_catalog(ctx.spark, "demo")
        t1 = time.perf_counter()
        # the demo schema is the session's current database, as for a
        # Superset connection to trino://…/iceberg/demo
        ctx.spark.catalog.setCurrentDatabase("demo")
        ctx.spark.sql("CREATE DATABASE IF NOT EXISTS tpch")
        for t in TPCH:
            ctx.spark.sql(f"DROP TABLE IF EXISTS tpch.{t}")
            ctx.spark.sql(f"CREATE TABLE tpch.{t} USING parquet "
                          f"LOCATION '{ctx.sf_dir}/{t}.parquet'")
        t2 = time.perf_counter()
        self.engine = ctx.pkg("engine").Engine(ctx.spark)
        self.server = ctx.pkg("server").TrinoWireServer(
            self.engine, port=0)
        self.server.start()
        t3 = time.perf_counter()
        return {"seed.write_s": t1 - t0, "engine.register_s": t2 - t1,
                "server.start_s": t3 - t2}

    def close(self) -> None:
        if self.server is not None:
            self.server.stop()
            self.server = None

    # -- statements ---------------------------------------------------

    def statements(self) -> list[Statement]:
        """The run's statement set: the seed picks every filter value
        once, and each pass sends the same statements in a new order, as
        a dashboard refresh does."""
        if self._statements is None:
            self._statements = self._generate()
        out = list(self._statements)
        self.ctx.rng.shuffle(out)
        return out

    def _generate(self) -> list[Statement]:
        rng = self.ctx.rng
        out = []
        for table, cols, key in DASHBOARD:
            out.append(Statement(
                f"dash_{table}", table=table, schema="demo",
                form_data={"viz_type": "table", "query_mode": "raw",
                           "all_columns": [c for c, _ in cols],
                           "order_by": [[key, True]], "row_limit": 100,
                           "time_range": "No filter"},
                check=("grid", table, cols, key)))
        y = rng.randrange(1995, 2001)
        out.append(Statement(
            "orders_by_priority", table="orders", schema="tpch",
            form_data={"query_mode": "aggregate",
                       "granularity_sqla": "o_orderdate",
                       "time_range": f"{y}-01-01 : {y + 1}-01-01",
                       "groupby": ["o_orderpriority"],
                       "metrics": ["count", {"aggregate": "SUM",
                                             "column": "o_totalprice",
                                             "label": "revenue"}],
                       "order_by": [["o_orderpriority", True]]},
            twin=("SELECT o_orderpriority, count(*), sum(o_totalprice) "
                  f"FROM orders WHERE o_orderdate >= TIMESTAMP '{y}-01-01'"
                  f" AND o_orderdate < TIMESTAMP '{y + 1}-01-01' "
                  "GROUP BY 1")))
        d = rng.randrange(1, 24)
        lo, hi = f"2024-01-{d:02d}", f"2024-01-{d + 7:02d}"
        out.append(Statement(
            "events_daily", table="events", schema="tpch",
            form_data={"query_mode": "aggregate", "granularity_sqla": "ts",
                       "time_grain_sqla": "P1D",
                       "time_range": f"{lo} : {hi}",
                       "groupby": ["event_type"],
                       "metrics": ["count", {"aggregate": "AVG",
                                             "column": "value",
                                             "label": "avg_value"}],
                       "order_by": [["__timestamp", True],
                                    ["event_type", True]]},
            twin=("SELECT CAST(date_trunc('day', ts) AS TIMESTAMP), "
                  "event_type, count(*), "
                  f"avg(value) FROM events WHERE ts >= TIMESTAMP '{lo}' "
                  f"AND ts < TIMESTAMP '{hi}' GROUP BY 1, 2")))
        y = rng.randrange(1995, 2001)
        h = rng.choice(("01", "07"))
        lo, hi = f"{y}-{h}-01", (f"{y}-07-01" if h == "01"
                                 else f"{y + 1}-01-01")
        out.append(Statement(
            "lineitem_flags", table="lineitem", schema="tpch",
            form_data={"query_mode": "aggregate",
                       "granularity_sqla": "l_shipdate",
                       "time_range": f"{lo} : {hi}",
                       "groupby": ["l_returnflag", "l_linestatus"],
                       "metrics": ["count",
                                   {"aggregate": "SUM", "column": "l_quantity",
                                    "label": "sum_qty"},
                                   {"aggregate": "SUM",
                                    "column": "l_extendedprice",
                                    "label": "sum_price"}],
                       "order_by": [["l_returnflag", True],
                                    ["l_linestatus", True]]},
            twin=("SELECT l_returnflag, l_linestatus, count(*), "
                  "sum(l_quantity), sum(l_extendedprice) FROM lineitem "
                  f"WHERE l_shipdate >= TIMESTAMP '{lo}' AND l_shipdate < "
                  f"TIMESTAMP '{hi}' GROUP BY 1, 2")))
        y = rng.randrange(1995, 2001)
        out.append(Statement(
            "orders_pivot", table="orders", schema="tpch",
            form_data={"viz_type": "pivot_table_v2",
                       "granularity_sqla": "o_orderdate",
                       "time_range": f"{y}-01-01 : {y + 1}-01-01",
                       "groupbyRows": ["o_orderpriority"],
                       "groupbyColumns": ["o_orderstatus"],
                       "metrics": ["count"]},
            pivot_values=["F", "O", "P"],
            twin=("SELECT o_orderpriority, "
                  + ", ".join(f"count(CASE WHEN o_orderstatus = '{v}' "
                              "THEN 1 END)" for v in "FOP")
                  + f" FROM orders WHERE o_orderdate >= TIMESTAMP "
                  f"'{y}-01-01' AND o_orderdate < TIMESTAMP '{y + 1}-01-01'"
                  " GROUP BY 1")))
        k = rng.randrange(0, 140_000)
        out.append(Statement(
            "lineitem_page", table="lineitem", schema="tpch",
            form_data={"query_mode": "raw",
                       "all_columns": ["l_orderkey", "l_linenumber",
                                       "l_quantity", "l_extendedprice",
                                       "l_shipdate"],
                       "adhoc_filters": [{"clause": "WHERE",
                                          "subject": "l_orderkey",
                                          "operator": ">=",
                                          "comparator": k},
                                         {"clause": "WHERE",
                                          "subject": "l_orderkey",
                                          "operator": "<",
                                          "comparator": k + 400}],
                       "order_by": [["l_orderkey", True],
                                    ["l_linenumber", True]],
                       "row_limit": 1500},
            twin=("SELECT l_orderkey, l_linenumber, l_quantity, "
                  "l_extendedprice, l_shipdate FROM lineitem "
                  f"WHERE l_orderkey >= {k} AND l_orderkey < {k + 400} "
                  "ORDER BY l_orderkey, l_linenumber LIMIT 1500")))
        u = rng.randrange(1, 42)
        out.append(Statement(
            "demo_orders_status",
            sql=("SELECT status, count(*) AS n, sum(price) AS revenue "
                 "FROM iceberg.demo.orders "
                 f"WHERE user_id BETWEEN {u} AND {u + 9} "
                 "GROUP BY status ORDER BY status"),
            twin=("SELECT status, count(*), sum(price) FROM seed_orders "
                  f"WHERE user_id BETWEEN {u} AND {u + 9} GROUP BY 1"),
            check=("seed",)))
        p = rng.randrange(5, 21)
        out.append(Statement(
            "demo_orders_by_country",
            sql=("SELECT u.country, count(*) AS n, sum(o.quantity) AS qty "
                 "FROM iceberg.demo.orders o JOIN iceberg.demo.users u "
                 f"ON o.user_id = u.user_id WHERE o.product_id <= {p} "
                 "GROUP BY u.country ORDER BY u.country"),
            twin=("SELECT u.country, count(*), sum(o.quantity) "
                  "FROM seed_orders o JOIN seed_users u "
                  f"ON o.user_id = u.user_id WHERE o.product_id <= {p} "
                  "GROUP BY 1"),
            check=("seed",)))
        t = rng.choice(TPCH)
        out.append(Statement(
            "information_schema",
            sql=('SELECT "column_name", "data_type" '
                 'FROM "information_schema"."columns" '
                 f"WHERE \"table_schema\" = 'tpch' AND \"table_name\" = "
                 f"'{t}' ORDER BY \"ordinal_position\""),
            check=("columns", t)))
        out.append(Statement(
            "runtime_queries",
            sql=("SELECT state, count(*) AS n FROM system.runtime.queries "
                 "GROUP BY state ORDER BY state"),
            check=("states",), replay=False))
        return out

    def compile(self, st: Statement) -> str:
        if st.form_data is None:
            return st.sql
        compiler = self.ctx.pkg("bi.compiler")
        t0 = time.perf_counter()
        if st.pivot_values is not None:
            sql = compiler.pivot_form_data_to_sql(
                st.table, st.form_data, st.pivot_values)
        else:
            sql = compiler.form_data_to_sql(st.table, st.form_data)
        self.ctx.rec.sample("bi.compile_ms",
                            (time.perf_counter() - t0) * 1000)
        return sql

    # -- the wire client ------------------------------------------------

    def _get(self, req):
        with urllib.request.urlopen(req, timeout=120) as resp:
            body = resp.read()
        payload = json.loads(body)
        if "error" in payload:
            raise RuntimeError(f"{payload['error'].get('message')}")
        return payload, len(body)

    def send(self, sql: str, schema: str):
        """POST one statement and drain its pages: (types, rows)."""
        rec = self.ctx.rec
        req = urllib.request.Request(
            f"{self.server.url}/v1/statement", data=sql.encode(),
            method="POST",
            headers={"X-Trino-User": "bench", "X-Trino-Catalog": "iceberg",
                     "X-Trino-Schema": schema})
        t0 = time.perf_counter()
        with rec.span("wire.post"):
            payload, nbytes = self._get(req)
        rec.sample("wire.first_page_ms", (time.perf_counter() - t0) * 1000)
        types = [c["type"] for c in payload.get("columns", [])]
        rows = list(payload.get("data", []))
        pages = 1
        while "nextUri" in payload:
            t1 = time.perf_counter()
            with rec.span("wire.page"):
                payload, n = self._get(payload["nextUri"])
            rec.sample("wire.next_page_ms",
                       (time.perf_counter() - t1) * 1000)
            nbytes += n
            pages += 1
            rows.extend(payload.get("data", []))
        rec.sample("wire.pages", pages)
        rec.sample("wire.bytes", nbytes)
        return types, rows

    def replay(self, st: Statement, sql: str, wire_s: float) -> None:
        """Run the statement in process, layer by layer (traced runs)."""
        ctx, rec = self.ctx, self.ctx.rec
        db = ctx.spark.catalog.currentDatabase()
        ctx.spark.catalog.setCurrentDatabase(st.schema)
        counts: dict = {}
        build: dict = {}
        t0 = time.perf_counter()
        try:
            with rec.op("replay", st.name):
                with ctx.counters.group("build", build):
                    df = self.engine.trino_sql(sql)
                t1 = time.perf_counter()
                with rec.span("catalyst.plan"):
                    df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                with ctx.counters.group("exec", counts):
                    df.collect()
                t3 = time.perf_counter()
        finally:
            ctx.spark.catalog.setCurrentDatabase(db)
        rec.sample("engine.trino_sql_ms", (t1 - t0) * 1000)
        rec.sample("build.s", t1 - t0)
        rec.sample("build.jobs", build.get("jobs", 0))
        rec.sample("catalyst.plan_ms", (t2 - t1) * 1000)
        rec.sample("engine.collect_ms", (t3 - t2) * 1000)
        rec.sample("wire.overhead_ms", (wire_s - (t3 - t0)) * 1000)
        for k, v in counts.items():
            rec.sample(f"exec.{k}", v)

    # -- passes -------------------------------------------------------

    def run_pass(self, checking: bool = False) -> list[tuple[str, str]]:
        """One pass over the statement set; with ``checking`` returns
        (statement, problem) for every result that is wrong."""
        ctx = self.ctx
        problems = []
        for st in self.statements():
            try:
                sql = self.compile(st)
                with ctx.rec.op("stmt", st.name) as op:
                    types, rows = self.send(sql, st.schema)
                if ctx.rec.tracing and st.replay:
                    self.replay(st, sql, op["s"])
            except Exception as exc:  # noqa: BLE001 - counted as failed
                problems.append((st.name, f"{type(exc).__name__}: {exc}"))
                continue
            if checking:
                bad = self.check(st, types, rows)
                if bad:
                    problems.append((st.name, bad))
        return problems

    def check(self, st: Statement, types, rows) -> str:
        ctx = self.ctx
        kind = (st.check or ("twin",))[0]
        if kind == "grid":
            _, table, cols, key = st.check
            got = ["|".join(_canon(v, t) for v, t in zip(r, types))
                   for r in rows]
            want = ctx.duck_seed(_grid_oracle(table, cols, key))
            return "" if sorted(got) == sorted(w[0] for w in want) \
                else f"grid of {table} differs from the DuckDB oracle"
        if kind == "seed":
            return same_rows(_typed(types, rows), ctx.duck_seed(st.twin))
        if kind == "twin":
            return same_rows(_typed(types, rows), ctx.duck_tpch(st.twin))
        if kind == "columns":
            want = ctx.duck_tpch(f"DESCRIBE {st.check[1]}")
            got_names = [r[0] for r in rows]
            return "" if got_names == [w[0] for w in want] \
                else f"columns {got_names} != {[w[0] for w in want]}"
        if kind == "states":
            states = {r[0] for r in rows}
            return "" if rows and states <= {"FINISHED", "RUNNING"} \
                else f"statement log states {sorted(states)}"
        return "" if rows else "no rows"
