"""SQL-over-HTTP wire entry: a minimal Trino client-protocol server.

In the reference every query crosses the network — the seeder drives
``http://trino:8080`` through the Trino CLI
(``/root/reference/compose/seed.sh:6-9``) and Superset connects with
SQLAlchemy URI ``trino://trino@trino:8080/iceberg``
(``compose/superset/init_db.py:8-9``). This module closes that
surface for the PySpark engine: :class:`TrinoWireServer` speaks the
documented Trino REST client protocol (the public
``/v1/statement`` + ``nextUri`` polling loop) over the stdlib HTTP
server, executing statements through :meth:`Engine.trino_sql` so
Trino-dialect SQL (three-part identifiers, varchar casts, ...) works
over the wire exactly as it does in-process.

Protocol subset implemented (enough for CLI/driver-style clients):

- ``POST /v1/statement`` with the SQL as the request body starts a
  query; the response carries ``id``, ``columns``, the first data
  page, and a ``nextUri`` while more pages remain.
- ``GET  /v1/statement/<id>/<page>`` fetches subsequent pages.
- ``DELETE /v1/statement/<id>/<page>`` cancels: drops any buffered
  result AND cancels the statement's running Spark jobs (job group
  = query id, interrupt-on-cancel), so a kill issued from a second
  connection stops burning executors; the statement records
  CANCELED with a USER_CANCELED error shape.
- errors surface as ``{"error": {...}, "stats": {"state": "FAILED"}}``
  with HTTP 200, per protocol (transport succeeded, query failed).
- ``PREPARE q FROM <sql>`` / ``EXECUTE q USING <literals>`` /
  ``DEALLOCATE PREPARE q`` with the protocol's CLIENT-SIDE statement
  store: PREPARE answers with ``X-Trino-Added-Prepare: name=sql``
  and the client re-presents its statements on later requests via
  ``X-Trino-Prepared-Statement`` headers (exactly how Trino's JDBC/
  SQLAlchemy drivers connect) — the server stays stateless across
  requests. EXECUTE substitutes ``?`` placeholders (outside string
  literals) with the USING arguments, each validated to be a SQL
  LITERAL (number/string/boolean/NULL/typed literal) so the
  substitution cannot smuggle expressions; type coercion is the
  engine's normal cast semantics. ``EXECUTE IMMEDIATE '<sql>'
  [USING ...]`` is the one-round-trip form (no headers involved).
- ``SET SESSION k = v`` / ``RESET SESSION k`` with the matching
  ``X-Trino-Set-Session`` response header and ``X-Trino-Session``
  request header; properties are WHITELISTED and map to the Spark
  conf that carries the same meaning (``hash_partition_count`` ->
  shuffle partitions, ``join_distribution_type`` -> broadcast
  threshold), applied around the one statement and restored after.
- session catalog/schema context: ``USE schema`` / ``USE
  catalog.schema`` validates the context and echoes it in
  ``X-Trino-Set-Catalog`` / ``X-Trino-Set-Schema``; the client
  re-presents it on later requests via ``X-Trino-Catalog`` /
  ``X-Trino-Schema`` (exactly how the Trino CLI and SQLAlchemy URI
  ``trino://trino@trino:8080/iceberg`` carry context — reference
  init_db.py:8-9), and unqualified names then resolve against that
  schema: the engine default schema is the session temp-view
  namespace, any other known schema maps onto Spark's CURRENT
  DATABASE for the one statement (write-lock scoped, restored
  after). Unknown catalogs/schemas are refused loudly.
- ``system.runtime.queries`` / ``system.runtime.nodes`` /
  ``system.runtime.tasks`` (extensions mirroring Trino's
  operational introspection): every statement's lifecycle is logged
  (bounded to the newest 1000) and any SELECT referencing the
  tables composes over the log — the in-flight statement shows
  RUNNING, exactly as on a Trino coordinator; tasks serves one row
  per statement (the local execution model) with honest lifecycle
  instants and output_rows.

Results are fully materialized on POST and paged from driver memory:
the wire entry is a control-plane surface (BI tools page through
modest result sets); bulk data movement belongs to the parquet/object
-store path, same division of labor as the reference stack.

Scale note: one Spark driver hosts the server; concurrent statements
share the SparkSession (Spark's scheduler interleaves jobs). The
``ThreadingHTTPServer`` handles each request in its own thread, so a
slow query does not block readiness probes.
"""

from __future__ import annotations

import json
import re
import threading
import uuid
from contextlib import contextmanager
from datetime import date, datetime, timezone
from decimal import Decimal
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import quote, unquote

from hands_on_trino_iceberg_superset_spark.dialect import (
    trino_type as _trino_type,
)
from hands_on_trino_iceberg_superset_spark.engine import (
    Engine,
    _split_top_level,
)
from hands_on_trino_iceberg_superset_spark.session import local_frame

#: rows per protocol page
PAGE_SIZE = 1000

#: whitelisted SET SESSION properties -> (spark conf, validate+map).
#: Each maps onto the Spark conf that carries the same semantics;
#: anything else is refused loudly (a silently-ignored session
#: property would let a client believe it tuned something).
_SESSION_PROPS = {
    # Trino: number of hash buckets for distributed joins/aggs
    "hash_partition_count": (
        "spark.sql.shuffle.partitions",
        lambda v: str(int(v)),
    ),
    # Trino: AUTOMATIC|PARTITIONED|BROADCAST join distribution
    "join_distribution_type": (
        "spark.sql.autoBroadcastJoinThreshold",
        lambda v: {
            "AUTOMATIC": "10485760",   # Spark's default threshold
            "PARTITIONED": "-1",       # never broadcast
            "BROADCAST": "536870912",  # prefer broadcast
        }[v.strip().strip("'\"").upper()],
    ),
}

_PREPARE_RE = re.compile(
    r"^\s*PREPARE\s+([A-Za-z_]\w*)\s+FROM\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_EXECUTE_RE = re.compile(
    r"^\s*EXECUTE\s+([A-Za-z_]\w*)\s*(?:\s+USING\s+(.+))?$",
    re.IGNORECASE | re.DOTALL,
)
_DEALLOCATE_RE = re.compile(
    r"^\s*DEALLOCATE\s+PREPARE\s+([A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)
#: Trino's one-shot form: the statement text rides inside a quoted
#: literal ('' = escaped quote), no session state at all
_EXEC_IMMEDIATE_RE = re.compile(
    r"^\s*EXECUTE\s+IMMEDIATE\s+'((?:[^']|'')*)'"
    r"\s*(?:\s+USING\s+(.+))?$",
    re.IGNORECASE | re.DOTALL,
)
_DESCRIBE_RE = re.compile(
    r"^\s*DESCRIBE\s+(INPUT|OUTPUT)\s+([A-Za-z_]\w*)\s*;?\s*$",
    re.IGNORECASE,
)
#: Trino's EXPLAIN [( option [, ...] )] <statement>; options are
#: TYPE {LOGICAL|DISTRIBUTED|VALIDATE|IO} and FORMAT TEXT
_EXPLAIN_RE = re.compile(
    r"^\s*EXPLAIN\s*(?:\(([^)]*)\))?\s+(.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _count_params(sql: str) -> int:
    """``?`` placeholders outside string literals."""
    n_params, i, n = 0, 0, len(sql)
    while i < n:
        if sql[i] == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'" and not (j + 1 < n and sql[j + 1] == "'"):
                    break
                j += 2 if sql[j] == "'" else 1
            i = j + 1
        else:
            n_params += sql[i] == "?"
            i += 1
    return n_params
#: Trino's USE statement: ``USE schema`` / ``USE catalog.schema``,
#: bare or double-quoted identifiers (the forms the Trino CLI and
#: drivers emit)
_USE_RE = re.compile(
    r'^\s*USE\s+(?:"?([A-Za-z_]\w*)"?\s*\.\s*)?"?([A-Za-z_]\w*)"?'
    r"\s*;?\s*$",
    re.IGNORECASE,
)
_SET_SESSION_RE = re.compile(
    r"^\s*SET\s+SESSION\s+([A-Za-z_][\w.]*)\s*=\s*(.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_RESET_SESSION_RE = re.compile(
    r"^\s*RESET\s+SESSION\s+([A-Za-z_][\w.]*)\s*;?\s*$",
    re.IGNORECASE,
)

#: a USING argument must be a bare SQL literal — number, string,
#: boolean, NULL, or a typed literal like DATE '…' / INTERVAL '1' DAY
_LITERAL_RE = re.compile(
    r"""^\s*(?:
        -?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?
      | '(?:[^']|'')*'
      | (?i:true|false|null)
      | (?i:date|time|timestamp|double|real|decimal|varchar|interval)
        \s+'(?:[^']|'')*'
        (?:\s+(?i:year|month|day|hour|minute|second))?
    )\s*$""",
    re.VERBOSE,
)


def _substitute_params(sql: str, args: list[str]) -> str:
    """Replace ``?`` placeholders OUTSIDE string literals with the
    validated literal arguments, in order. Counts must match."""
    out, i, n, ai = [], 0, len(sql), 0
    while i < n:
        ch = sql[i]
        if ch == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'" and not (j + 1 < n and sql[j + 1] == "'"):
                    break
                j += 2 if sql[j] == "'" else 1
            out.append(sql[i : j + 1])
            i = j + 1
        elif ch == "?":
            if ai >= len(args):
                raise ValueError(
                    f"EXECUTE: statement has more parameters than the "
                    f"{len(args)} USING argument(s)"
                )
            out.append(args[ai].strip())
            ai += 1
            i += 1
        else:
            out.append(ch)
            i += 1
    if ai != len(args):
        raise ValueError(
            f"EXECUTE: {len(args)} USING argument(s) for {ai} "
            "parameter(s)"
        )
    return "".join(out)

# Trino type spellings live in dialect.trino_type — shared with the
# engine's information_schema surface so clients see one spelling.


def _json_value(v):
    """JSON-encodable cell value, Trino-client shaped."""
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")[:-3]
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, bytes):
        import base64

        return base64.b64encode(v).decode()
    if isinstance(v, list):
        return [_json_value(x) for x in v]
    if isinstance(v, dict):
        return {k: _json_value(x) for k, x in v.items()}
    return v


class _RWLock:
    """Writer-preferring readers-writer lock: any number of plain
    statements execute concurrently (read side), while a statement
    that temporarily mutates session-global Spark conf (SET SESSION /
    X-Trino-Session properties) takes the write side EXCLUSIVELY — so
    a concurrent plain statement can never plan under another
    request's temporarily-applied confs (e.g. a raised broadcast
    threshold OOM-broadcasting an unrelated large join). A waiting
    writer blocks new readers, so conf statements cannot starve under
    a continuous read stream."""

    def __init__(self) -> None:
        self._cond = threading.Condition()
        self._readers = 0
        self._writer = False
        self._writers_waiting = 0

    @contextmanager
    def read(self):
        with self._cond:
            while self._writer or self._writers_waiting:
                self._cond.wait()
            self._readers += 1
        try:
            yield
        finally:
            with self._cond:
                self._readers -= 1
                if not self._readers:
                    self._cond.notify_all()

    @contextmanager
    def write(self):
        with self._cond:
            self._writers_waiting += 1
            try:
                while self._writer or self._readers:
                    self._cond.wait()
            finally:
                self._writers_waiting -= 1
            self._writer = True
        try:
            yield
        finally:
            with self._cond:
                self._writer = False
                self._cond.notify_all()


class _Query:
    """Materialized result of one statement, paged."""

    def __init__(self, qid: str, columns: list[dict], rows: list[list]):
        self.qid = qid
        self.columns = columns
        self.rows = rows

    def page(self, idx: int) -> tuple[list[list], bool]:
        start = idx * PAGE_SIZE
        chunk = self.rows[start : start + PAGE_SIZE]
        has_more = len(self.rows) > start + PAGE_SIZE
        return chunk, has_more


class TrinoWireServer:
    """Serve :class:`Engine` over the Trino REST client protocol.

    >>> srv = TrinoWireServer(engine, port=0)  # ephemeral port
    >>> srv.start()
    >>> srv.url
    'http://127.0.0.1:54321'
    >>> ... POST f"{srv.url}/v1/statement" ...
    >>> srv.stop()
    """

    def __init__(self, engine: Engine | None = None, host: str = "127.0.0.1",
                 port: int = 8080):
        self.engine = engine or Engine()
        self._queries: dict[str, _Query] = {}
        #: statement log backing system.runtime.queries (extension;
        #: Trino serves the same surface from its coordinator).
        #: Bounded to the newest _STMT_LOG_CAP records.
        self._stmt_log: list[dict] = []
        #: qids cancelled via DELETE while RUNNING — the executing
        #: thread reads this to record CANCELED (not FAILED) and
        #: shape the error as USER_CANCELED
        self._cancelled: set[str] = set()
        self._lock = threading.Lock()
        self._conf_lock = _RWLock()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            # silence per-request stderr logging
            def log_message(self, *args) -> None:
                pass

            def _reply(self, payload: dict, status: int = 200,
                       extra_headers: list[tuple[str, str]] | None = None,
                       ) -> None:
                body = json.dumps(payload).encode()
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                for k, v in extra_headers or ():
                    self.send_header(k, v)
                self.end_headers()
                self.wfile.write(body)

            def _kv_headers(self, name: str) -> dict[str, str]:
                """Collect repeated ``name=value`` protocol headers
                (values URL-encoded, per the Trino client spec)."""
                out: dict[str, str] = {}
                for raw in self.headers.get_all(name) or ():
                    for part in raw.split(","):
                        k, _, v = part.strip().partition("=")
                        if k:
                            out[k.lower()] = unquote(v)
                return out

            def do_POST(self) -> None:  # noqa: N802 (http.server API)
                if self.path.rstrip("/") != "/v1/statement":
                    self._reply({"error": "not found"}, 404)
                    return
                n = int(self.headers.get("Content-Length", 0))
                sql_text = self.rfile.read(n).decode()
                payload, hdrs = outer._execute(
                    sql_text,
                    prepared=self._kv_headers("X-Trino-Prepared-Statement"),
                    session=self._kv_headers("X-Trino-Session"),
                    catalog=self.headers.get("X-Trino-Catalog"),
                    schema=self.headers.get("X-Trino-Schema"),
                    user=self.headers.get("X-Trino-User"),
                )
                self._reply(payload, extra_headers=hdrs)

            def do_GET(self) -> None:  # noqa: N802
                if self.path == "/v1/info":
                    self._reply({"starting": False,
                                 "nodeVersion": {"version": "spark-engine"}})
                    return
                parts = self.path.strip("/").split("/")
                if len(parts) == 4 and parts[:2] == ["v1", "statement"]:
                    self._reply(outer._next_page(parts[2], int(parts[3])))
                    return
                self._reply({"error": "not found"}, 404)

            def do_DELETE(self) -> None:  # noqa: N802
                parts = self.path.strip("/").split("/")
                if len(parts) >= 3 and parts[:2] == ["v1", "statement"]:
                    outer._cancel(parts[2])
                self._reply({})

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self._thread: threading.Thread | None = None

    # ------------------------------------------------------------ http

    @property
    def url(self) -> str:
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}"

    def start(self) -> None:
        # poll_interval bounds how long shutdown() blocks waiting for
        # the accept loop to notice the stop flag — the stdlib default
        # of 0.5s charged ~half a second of pure sleep to every
        # server lifecycle (one per wire inventory row and per test)
        self._thread = threading.Thread(
            target=lambda: self._httpd.serve_forever(poll_interval=0.02),
            daemon=True,
        )
        self._thread.start()

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)

    # -------------------------------------------------------- protocol

    @staticmethod
    def _ack(qid: str, kind: str,
             headers: list[tuple[str, str]]) -> tuple[dict, list]:
        """Zero-data OK payload for a session-control statement, with
        its protocol response header(s)."""
        return (
            {
                "id": qid,
                "columns": [{"name": "result", "type": "boolean"}],
                "data": [[True]],
                "stats": {"state": "FINISHED", "statement": kind},
            },
            headers,
        )

    def _session_confs(self, session: dict) -> dict[str, str]:
        """X-Trino-Session properties -> Spark conf assignments, with
        unknown properties refused loudly."""
        confs: dict[str, str] = {}
        for key, val in session.items():
            if key not in _SESSION_PROPS:
                raise ValueError(
                    f"unsupported session property: {key!r} "
                    f"(whitelist: {sorted(_SESSION_PROPS)})"
                )
            conf, convert = _SESSION_PROPS[key]
            confs[conf] = convert(val)
        return confs

    # --------------------------------------- session catalog/schema

    def _schema_database(self, catalog: str | None,
                         schema: str | None) -> str | None:
        """Validate the request's session context (X-Trino-Catalog /
        X-Trino-Schema headers, or a USE statement's operands) and
        return the Spark database unqualified names must resolve
        against — ``None`` when the engine's defaults already apply
        (the default schema is the session temp-view namespace, which
        Spark resolves first regardless of current database). Unknown
        catalog/schema are refused loudly, like session properties:
        a silently-ignored context would let a client read the wrong
        tables. The check runs on every statement, so it asks the
        engine membership questions (no listing, no Spark job); the
        known names are listed only for the refusal message."""
        engine = self.engine
        if catalog is not None and not engine.has_catalog(catalog):
            raise ValueError(
                f"unknown catalog: {catalog!r} (connect with "
                f"{sorted({c.lower() for c in engine._catalog_names()})})"
            )
        if schema is None:
            return None
        if schema.lower() == engine.default_schema.lower():
            return None
        if not engine.has_schema(schema):
            dbs = {d.lower() for d in engine._schema_names()}
            raise ValueError(
                f"unknown schema: {schema!r} (one of "
                f"{sorted(dbs | {engine.default_schema.lower()})})"
            )
        return schema

    #: newest statement-log records kept for system.runtime.queries
    _STMT_LOG_CAP = 1000

    #: ``system.runtime.queries`` reference (quoted spellings too) —
    #: Trino's operational introspection table, served here from the
    #: wire server's own statement log (documented extension: Trino
    #: exposes coordinator state the same way)
    _RUNTIME_QUERIES_RE = re.compile(
        r'(?<![\w`"])["`]?system["`]?\s*\.\s*["`]?runtime["`]?'
        r'\s*\.\s*["`]?queries["`]?',
        re.IGNORECASE,
    )

    #: ``system.runtime.nodes`` — Trino's cluster-membership table
    #: (the first thing an ops runbook and some BI connection testers
    #: read). This engine is one Spark driver serving the wire, so
    #: the answer is a single coordinator row; on a real cluster the
    #: executors are Spark-internal and not wire-addressable, which
    #: is exactly what "nodes" means to a Trino client here.
    _RUNTIME_NODES_RE = re.compile(
        r'(?<![\w`"])["`]?system["`]?\s*\.\s*["`]?runtime["`]?'
        r'\s*\.\s*["`]?nodes["`]?',
        re.IGNORECASE,
    )

    def _resolve_runtime_nodes(self, text: str, qid: str) -> str:
        """Rewrite ``system.runtime.nodes`` onto a one-row snapshot
        view (same literal-aware machinery and per-qid keying as
        ``system.runtime.queries``). Columns are Trino's: node_id,
        http_uri, node_version, coordinator, state."""
        from hands_on_trino_iceberg_superset_spark.dialect import (
            _outside_literals,
        )

        hit = []

        def scan(seg: str) -> str:
            if self._RUNTIME_NODES_RE.search(seg):
                hit.append(True)
            return seg

        _outside_literals(text, scan)
        if not hit:
            return text
        import pyspark

        view = f"__system_runtime_nodes_{qid}"
        local_frame(
            self.engine.spark,
            [("local", self.url, f"spark-{pyspark.__version__}",
              True, "active")],
            "node_id string, http_uri string, node_version string, "
            "coordinator boolean, state string",
        ).createOrReplaceTempView(view)
        return _outside_literals(
            text,
            lambda seg: self._RUNTIME_NODES_RE.sub(view, seg),
        )

    #: ``system.runtime.tasks`` — Trino's per-task execution table
    #: (SQL Lab's query-detail pane reads it). One statement here is
    #: one driver-coordinated task (local wire server; Spark's own
    #: tasks are executor-internal), so each logged statement serves
    #: one row with the honestly-known values filled (wall-clock
    #: schedule time, output rows, lifecycle instants) and the
    #: executor-private counters zero.
    _RUNTIME_TASKS_RE = re.compile(
        r'(?<![\w`"])["`]?system["`]?\s*\.\s*["`]?runtime["`]?'
        r'\s*\.\s*["`]?tasks["`]?',
        re.IGNORECASE,
    )

    def _resolve_runtime_tasks(self, text: str, qid: str) -> str:
        """Rewrite ``system.runtime.tasks`` onto a per-qid snapshot
        view (same literal-aware machinery and concurrency posture
        as ``system.runtime.queries``): one row per logged
        statement, Trino's column set. ``output_rows`` is the
        materialized row count the statement actually produced;
        split counters reflect the one-task-per-statement execution
        model; CPU/bytes counters the coordinator cannot observe
        are 0, not invented."""
        from hands_on_trino_iceberg_superset_spark.dialect import (
            _outside_literals,
        )

        hit = []

        def scan(seg: str) -> str:
            if self._RUNTIME_TASKS_RE.search(seg):
                hit.append(True)
            return seg

        _outside_literals(text, scan)
        if not hit:
            return text
        from pyspark.sql import types as T

        with self._lock:
            rows = []
            for r in self._stmt_log:
                done = r["finished"] is not None
                wall_ms = int(
                    (r["finished"] - r["created"]).total_seconds()
                    * 1000) if done else 0
                rows.append((
                    "local", f"{r['query_id']}.0.0.0",
                    f"{r['query_id']}.0", r["query_id"],
                    r["state"], 1, 0,
                    0 if done else 1, 1 if done else 0,
                    wall_ms, 0, 0, 0, 0, 0, 0, 0,
                    int(r.get("rows") or 0), 0, 0,
                    r["created"], r["created"],
                    r["finished"] or r["created"], r["finished"],
                ))
        fields = [
            ("node_id", T.StringType()), ("task_id", T.StringType()),
            ("stage_id", T.StringType()),
            ("query_id", T.StringType()), ("state", T.StringType()),
        ] + [(n, T.LongType()) for n in (
            "splits", "queued_splits", "running_splits",
            "completed_splits", "split_scheduled_time_ms",
            "split_cpu_time_ms", "split_blocked_time_ms",
            "raw_input_bytes", "raw_input_rows",
            "processed_input_bytes", "processed_input_rows",
            "output_bytes", "output_rows", "physical_input_bytes",
            "physical_written_bytes",
        )] + [(n, T.TimestampType()) for n in (
            "created", "start", "last_heartbeat", "end",
        )]
        schema = T.StructType(
            [T.StructField(n, t, True) for n, t in fields]
        )
        view = f"__system_runtime_tasks_{qid}"
        local_frame(
            self.engine.spark, rows, schema
        ).createOrReplaceTempView(view)
        return _outside_literals(
            text,
            lambda seg: self._RUNTIME_TASKS_RE.sub(view, seg),
        )

    def _resolve_runtime_queries(self, text: str, qid: str) -> str:
        """Materialize the statement log as a PER-STATEMENT temp view
        (``__system_runtime_queries_<qid>``) and rewrite
        ``system.runtime.queries`` references onto it (literal-aware).
        Columns are the Trino subset a client actually reads:
        query_id, state, user, query, created, finished — the
        in-flight introspection statement itself shows RUNNING,
        exactly as on a Trino coordinator.

        Keying the view by qid makes concurrent readers airtight:
        with a session-global name, two concurrent statements could
        each replace the view before the other collected, so one
        served the other's snapshot (r12 ADVICE). The caller drops
        the view after execution; the snapshot itself is taken under
        ``self._lock``, the same lock every record mutation holds."""
        from hands_on_trino_iceberg_superset_spark.dialect import (
            _outside_literals,
        )

        hit = []

        def scan(seg: str) -> str:
            if self._RUNTIME_QUERIES_RE.search(seg):
                hit.append(True)
            return seg

        _outside_literals(text, scan)
        if not hit:
            return text
        with self._lock:
            rows = [
                (r["query_id"], r["state"], r["user"], r["query"],
                 r["created"], r["finished"])
                for r in self._stmt_log
            ]
        view = f"__system_runtime_queries_{qid}"
        local_frame(
            self.engine.spark, rows,
            "query_id string, state string, user string, "
            "query string, created timestamp, finished timestamp",
        ).createOrReplaceTempView(view)
        return _outside_literals(
            text,
            lambda seg: self._RUNTIME_QUERIES_RE.sub(view, seg),
        )

    def _execute(self, sql_text: str,
                 prepared: dict[str, str] | None = None,
                 session: dict[str, str] | None = None,
                 catalog: str | None = None,
                 schema: str | None = None,
                 user: str | None = None,
                 ) -> tuple[dict, list]:
        """Log the statement's lifecycle around :meth:`_execute_inner`
        (the record is visible to system.runtime.queries as RUNNING
        while the statement executes, then FINISHED/FAILED)."""
        qid = uuid.uuid4().hex
        # tz-AWARE instants (r12 ADVICE): a naive utcnow() would be
        # read as process-local time when the runtime views are
        # built, shifting created/finished by the local offset on
        # non-UTC hosts (utcnow is also deprecated)
        rec = {
            "query_id": qid, "state": "RUNNING", "user": user or "",
            "query": sql_text,
            "created": datetime.now(timezone.utc),
            "finished": None,
        }
        with self._lock:
            self._stmt_log.append(rec)
            del self._stmt_log[:-self._STMT_LOG_CAP]
        # job group = qid, set in THIS executing thread (Spark job
        # groups are thread-local): a DELETE /v1/statement/<qid>/...
        # arriving on another connection maps to
        # cancelJobGroup(qid), so a cancelled statement stops
        # burning executors instead of just dropping its result.
        # interruptOnCancel interrupts the running task threads.
        sc = self.engine.spark.sparkContext
        sc.setJobGroup(qid, f"wire statement {qid}",
                       interruptOnCancel=True)
        # streaming drains run their jobs in the MICROBATCH thread,
        # outside the job group — the engine registers them under
        # this statement's cancel scope (the qid: unique, unlike an
        # OS thread ident, which per-request threads recycle)
        self.engine.enter_cancel_scope(qid)
        try:
            payload, hdrs = self._execute_inner(
                qid, sql_text, prepared, session, catalog, schema
            )
        finally:
            self.engine.exit_cancel_scope()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.interruptOnCancel", None)
        # record mutations hold the same lock the snapshot reader
        # takes — no torn RUNNING/finished fields across threads
        with self._lock:
            if ("error" not in payload and qid in self._cancelled
                    and Engine._EXPLAINABLE.match(sql_text)):
                # the cancel raced a READ statement's completion (or
                # arrived before its streaming drain even started —
                # nothing registered yet to stop): the client asked
                # for CANCELED while the statement was RUNNING, so
                # honoring the completed result would silently
                # ignore the kill. DML is deliberately excluded —
                # its side effects are already committed, and
                # reporting USER_CANCELED would invite a retry and
                # a duplicate write; the truthful answer there is
                # the FINISHED result.
                self._queries.pop(qid, None)
                payload = {
                    "id": qid, "stats": {"state": "FAILED"},
                    "error": {
                        "message": "statement cancelled",
                        "errorCode": 0,
                        "errorName": "USER_CANCELED",
                        "errorType": "USER_ERROR",
                    },
                }
            if "error" in payload:
                if qid in self._cancelled:
                    rec["state"] = "CANCELED"
                    payload["error"]["errorName"] = "USER_CANCELED"
                    payload["error"]["errorType"] = "USER_ERROR"
                else:
                    rec["state"] = "FAILED"
            else:
                rec["state"] = "FINISHED"
            rec["finished"] = datetime.now(timezone.utc)
            self._cancelled.discard(qid)
        return payload, hdrs

    def _execute_inner(self, qid: str, sql_text: str,
                       prepared: dict[str, str] | None = None,
                       session: dict[str, str] | None = None,
                       catalog: str | None = None,
                       schema: str | None = None,
                       ) -> tuple[dict, list]:
        prepared = prepared or {}
        try:
            m = _USE_RE.match(sql_text)
            if m:
                # Trino's USE: validate the context and echo it back
                # in X-Trino-Set-Catalog/Schema — the CLIENT carries
                # session context (it re-presents the headers on
                # later requests, same statelessness as prepared
                # statements)
                use_cat, use_schema = m.group(1), m.group(2)
                self._schema_database(use_cat, use_schema)
                # raw identifier values: the client copies these
                # verbatim into its X-Trino-Catalog/Schema request
                # headers (identifier charset needs no encoding)
                hdrs = [("X-Trino-Set-Schema", use_schema)]
                if use_cat:
                    hdrs.insert(0, ("X-Trino-Set-Catalog", use_cat))
                return self._ack(qid, "USE", hdrs)
            m = _EXPLAIN_RE.match(sql_text)
            if m:
                # EXPLAIN over the wire — the statement Trino clients
                # (and Superset's ESTIMATE_QUERY_COST preview, off in
                # the reference at superset_config.py:3-5) issue.
                # Analysis-only; Trino's shape: one 'Query Plan'
                # varchar row.
                opts, stmt = m.group(1) or "", m.group(2)
                if re.match(r"(?is)^ANALYZE\b", stmt):
                    # Trino's EXPLAIN ANALYZE [VERBOSE]: EXECUTE the
                    # read statement and return the executed plan
                    # with real per-operator metrics (SQL Lab's
                    # "Run with EXPLAIN ANALYZE" habit). The
                    # read-shape guard lives in
                    # Engine.explain_analyze — ANALYZE of DML still
                    # refuses rather than double-executes (r12).
                    if opts.strip():
                        raise ValueError(
                            "EXPLAIN ANALYZE takes no "
                            "(TYPE/FORMAT) options"
                        )
                    inner = re.sub(r"(?is)^ANALYZE\s+(?:VERBOSE\s+)?",
                                   "", stmt, count=1)
                    confs = self._session_confs(session or {})
                    database = self._schema_database(catalog, schema)
                    with self._apply_confs(confs, database=database):
                        plan = self.engine.explain_analyze(inner)
                    return ({
                        "id": qid,
                        "columns": [{"name": "Query Plan",
                                     "type": "varchar"}],
                        "data": [[plan]],
                        "stats": {"state": "FINISHED",
                                  "statement": "EXPLAIN ANALYZE"},
                    }, [])
                etype, fmt = "DISTRIBUTED", "TEXT"
                for part in _split_top_level(opts):
                    kw = part.split()
                    if len(kw) == 2 and kw[0].upper() == "TYPE":
                        etype = kw[1].upper()
                    elif len(kw) == 2 and kw[0].upper() == "FORMAT":
                        fmt = kw[1].upper()
                    elif part.strip():
                        raise ValueError(
                            f"unknown EXPLAIN option: {part.strip()!r}"
                        )
                if fmt != "TEXT":
                    raise ValueError(
                        f"EXPLAIN FORMAT {fmt} not supported "
                        "(TEXT only)"
                    )
                # planning happens under THIS request's session confs
                # AND catalog/schema context (same scope + RW-lock
                # side as execution — an EXPLAIN must never plan
                # under another request's temporarily-applied state)
                confs = self._session_confs(session or {})
                database = self._schema_database(catalog, schema)
                if etype == "VALIDATE":
                    # analyze, never execute: the read-shape guard
                    # first (Engine.sql eagerly executes routed
                    # DDL/DML, so an unguarded VALIDATE of 'DELETE
                    # FROM t ...' would commit the delete), then
                    # .schema forces analysis only
                    if not Engine._EXPLAINABLE.match(stmt):
                        raise ValueError(
                            "EXPLAIN (TYPE VALIDATE) supports read "
                            "statements only (DDL/DML routes through "
                            "handlers that execute)"
                        )
                    with self._apply_confs(confs, database=database):
                        self.engine.trino_sql(stmt).schema
                    return ({
                        "id": qid,
                        "columns": [{"name": "Valid",
                                     "type": "boolean"}],
                        "data": [[True]],
                        "stats": {"state": "FINISHED",
                                  "statement": "EXPLAIN"},
                    }, [])
                with self._apply_confs(confs, database=database):
                    plan = self.engine.explain(stmt, type_=etype,
                                               trino=True)
                return ({
                    "id": qid,
                    "columns": [{"name": "Query Plan",
                                 "type": "varchar"}],
                    "data": [[plan]],
                    "stats": {"state": "FINISHED",
                              "statement": "EXPLAIN"},
                }, [])
            m = _PREPARE_RE.match(sql_text)
            if m:
                name, stmt = m.group(1).lower(), m.group(2).strip()
                return self._ack(qid, "PREPARE", [(
                    "X-Trino-Added-Prepare",
                    f"{name}={quote(stmt.rstrip(';'))}",
                )])
            m = _DEALLOCATE_RE.match(sql_text)
            if m:
                return self._ack(qid, "DEALLOCATE PREPARE", [(
                    "X-Trino-Deallocated-Prepare", m.group(1).lower()
                )])
            m = _SET_SESSION_RE.match(sql_text)
            if m:
                key = m.group(1).lower()
                val = m.group(2)
                self._session_confs({key: val})  # validate now
                return self._ack(qid, "SET SESSION", [(
                    "X-Trino-Set-Session", f"{key}={quote(val)}"
                )])
            m = _RESET_SESSION_RE.match(sql_text)
            if m:
                return self._ack(qid, "RESET SESSION", [(
                    "X-Trino-Reset-Session", m.group(1).lower()
                )])
            m = _DESCRIBE_RE.match(sql_text)
            if m:
                kind, name = m.group(1).upper(), m.group(2).lower()
                if name not in prepared:
                    raise ValueError(
                        f"prepared statement not found: {name} (send "
                        "it via the X-Trino-Prepared-Statement header)"
                    )
                stmt = prepared[name]
                if kind == "INPUT":
                    # parameter types are not inferred (Trino itself
                    # emits 'unknown' where inference fails); the
                    # POSITION list is what drivers bind against
                    cols = [
                        {"name": "Position", "type": "integer"},
                        {"name": "Type", "type": "varchar"},
                    ]
                    data = [[i, "unknown"]
                            for i in range(_count_params(stmt))]
                else:
                    # analyze (never execute): placeholders bind to
                    # NULL for schema inference, .schema is lazy
                    probe = self.engine.trino_sql(
                        _substitute_params(
                            stmt, ["NULL"] * _count_params(stmt)
                        )
                    )
                    cols = [
                        {"name": "Column Name", "type": "varchar"},
                        {"name": "Catalog", "type": "varchar"},
                        {"name": "Schema", "type": "varchar"},
                        {"name": "Table", "type": "varchar"},
                        {"name": "Type", "type": "varchar"},
                        {"name": "Type Size", "type": "bigint"},
                        {"name": "Aliased", "type": "boolean"},
                    ]
                    data = [
                        [f.name, "", "", "",
                         _trino_type(f.dataType.simpleString()),
                         0, False]
                        for f in probe.schema.fields
                    ]
                return ({
                    "id": qid,
                    "columns": cols,
                    "data": data,
                    "stats": {"state": "FINISHED",
                              "statement": f"DESCRIBE {kind}"},
                }, [])
            m = _EXEC_IMMEDIATE_RE.match(sql_text)
            if m:
                # Trino's EXECUTE IMMEDIATE: PREPARE+EXECUTE+
                # DEALLOCATE in one round trip — the statement text
                # arrives as a quoted literal, parameters bind the
                # same way as the prepared path
                stmt = m.group(1).replace("''", "'")
                args = (_split_top_level(m.group(2))
                        if m.group(2) else [])
                for a in args:
                    if not _LITERAL_RE.match(a):
                        raise ValueError(
                            f"EXECUTE IMMEDIATE argument is not a "
                            f"SQL literal: {a.strip()!r}"
                        )
                sql_text = _substitute_params(stmt, args)
                m = None
            else:
                m = _EXECUTE_RE.match(sql_text)
            if m:
                name = m.group(1).lower()
                if name not in prepared:
                    raise ValueError(
                        f"prepared statement not found: {name} (send "
                        "it via the X-Trino-Prepared-Statement header)"
                    )
                args = (_split_top_level(m.group(2))
                        if m.group(2) else [])
                for a in args:
                    if not _LITERAL_RE.match(a):
                        raise ValueError(
                            f"EXECUTE argument is not a SQL literal: "
                            f"{a.strip()!r}"
                        )
                sql_text = _substitute_params(prepared[name], args)
            confs = self._session_confs(session or {})
            database = self._schema_database(catalog, schema)
            sql_text = self._resolve_runtime_queries(sql_text, qid)
            sql_text = self._resolve_runtime_nodes(sql_text, qid)
            sql_text = self._resolve_runtime_tasks(sql_text, qid)
            with self._apply_confs(confs, database=database):
                df = self.engine.trino_sql(sql_text)
                columns = [
                    {
                        "name": f.name,
                        "type": _trino_type(f.dataType.simpleString()),
                    }
                    for f in df.schema.fields
                ]
                rows = [
                    [_json_value(v) for v in row]
                    for row in df.collect()
                ]
        except Exception as exc:  # noqa: BLE001 — protocol error shape
            return ({
                "id": qid,
                "error": {
                    "message": str(exc),
                    "errorCode": 1,
                    "errorName": "GENERIC_USER_ERROR",
                    "errorType": "USER_ERROR",
                },
                "stats": {"state": "FAILED"},
            }, [])
        finally:
            # per-statement snapshot views (rows are materialized
            # by now); a name appears in the resolved text iff its
            # view was created — no catalog round-trip otherwise
            for view in (f"__system_runtime_queries_{qid}",
                         f"__system_runtime_nodes_{qid}",
                         f"__system_runtime_tasks_{qid}"):
                if view in sql_text:
                    try:
                        self.engine.spark.catalog.dropTempView(view)
                    except Exception:  # noqa: BLE001 — best-effort
                        pass
        q = _Query(qid, columns, rows)
        with self._lock:
            self._queries[qid] = q
            # output_rows for system.runtime.tasks: the statement's
            # materialized row count (log scan is cap-bounded)
            for r in reversed(self._stmt_log):
                if r["query_id"] == qid:
                    r["rows"] = len(rows)
                    break
        return self._page_payload(q, 0), []

    @contextmanager
    def _apply_confs(self, confs: dict[str, str],
                     database: str | None = None):
        """Apply per-request session confs — and, when the request's
        schema context names a real Spark database, the CURRENT
        DATABASE — around one statement and restore afterwards. Both
        are session-global in Spark, so a statement carrying either
        takes the WRITE side of a readers-writer lock (exclusive:
        nothing else plans while the state is altered) and plain
        statements take the read side (concurrent with each other,
        never with a state-carrying statement) — without the read
        side, a concurrent plain statement could plan under another
        request's temporarily-applied confs or resolve unqualified
        names in another request's schema."""
        if not confs and database is None:
            with self._conf_lock.read():
                yield
            return
        with self._conf_lock.write():
            saved = {
                k: self.engine.spark.conf.get(k, None) for k in confs
            }
            # current-database read happens INSIDE the write lock so
            # it can never observe another writer's temporary value
            saved_db = None
            if database is not None:
                saved_db = self.engine.spark.catalog.currentDatabase()
                if saved_db == database:
                    saved_db = None
            try:
                if saved_db is not None:
                    self.engine.spark.catalog.setCurrentDatabase(
                        database)
                for k, v in confs.items():
                    self.engine.spark.conf.set(k, v)
                yield
            finally:
                for k, v in saved.items():
                    if v is None:
                        self.engine.spark.conf.unset(k)
                    else:
                        self.engine.spark.conf.set(k, v)
                if saved_db is not None:
                    self.engine.spark.catalog.setCurrentDatabase(
                        saved_db)

    def _next_page(self, qid: str, idx: int) -> dict:
        with self._lock:
            q = self._queries.get(qid)
        if q is None:
            return {
                "id": qid,
                "error": {"message": "unknown or cancelled query",
                          "errorCode": 2,
                          "errorName": "QUERY_NOT_FOUND",
                          "errorType": "USER_ERROR"},
                "stats": {"state": "FAILED"},
            }
        return self._page_payload(q, idx)

    def _cancel(self, qid: str) -> None:
        """DELETE /v1/statement/<qid>/<page>: drop any buffered
        result AND cancel the statement's running Spark jobs — the
        job group is the qid (set in the executing thread by
        :meth:`_execute`), so a kill issued from a second connection
        (the Trino workflow: read query_id off
        system.runtime.queries, then DELETE) stops burning executors
        instead of letting the statement run to completion."""
        with self._lock:
            self._queries.pop(qid, None)
            running = any(r["query_id"] == qid
                          and r["finished"] is None
                          for r in self._stmt_log)
            if running:
                self._cancelled.add(qid)
        if running:
            try:
                self.engine.spark.sparkContext.cancelJobGroup(qid)
            except Exception:  # noqa: BLE001 — cancel is best-effort
                pass
            # streaming drains run their jobs in the microbatch
            # thread, outside the job group: stop them through the
            # engine's registry, keyed by the statement's cancel
            # scope (the qid — never a recycled thread id)
            try:
                self.engine.stop_streams_for_scope(qid)
            except Exception:  # noqa: BLE001 — cancel is best-effort
                pass

    def _page_payload(self, q: _Query, idx: int) -> dict:
        chunk, has_more = q.page(idx)
        payload: dict = {
            "id": q.qid,
            "columns": q.columns,
            "stats": {"state": "RUNNING" if has_more else "FINISHED"},
        }
        if chunk:
            payload["data"] = chunk
        if has_more:
            payload["nextUri"] = (
                f"{self.url}/v1/statement/{q.qid}/{idx + 1}"
            )
        else:
            with self._lock:
                self._queries.pop(q.qid, None)
        return payload
