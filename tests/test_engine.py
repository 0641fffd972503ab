"""Engine surface tests (SURVEY.md §2.1 DDL + §2.6 introspection +
§2.7 readiness)."""

from __future__ import annotations

from hands_on_trino_iceberg_superset_spark.engine import Engine


def test_ready_and_sql(spark) -> None:
    eng = Engine(spark)
    assert eng.ready()
    assert eng.sql("SELECT 1 AS x").collect()[0].x == 1


def test_ddl_roundtrip(spark, tmp_path) -> None:
    eng = Engine(spark)
    eng.create_schema("demo")
    eng.drop_table("demo.t_roundtrip")
    eng.sql(
        "CREATE TABLE demo.t_roundtrip (id BIGINT, ts TIMESTAMP_NTZ, payload STRING) "
        f"USING parquet LOCATION '{tmp_path}/t_roundtrip'"
    )
    # reference README.md:62 INSERT VALUES path
    eng.sql(
        "INSERT INTO demo.t_roundtrip VALUES (1, current_timestamp(), 'hello')"
    )
    rows = eng.sql("SELECT id, payload FROM demo.t_roundtrip").collect()
    assert [(r.id, r.payload) for r in rows] == [(1, "hello")]
    cols = eng.columns("demo.t_roundtrip")
    assert [c.name for c in cols] == ["id", "ts", "payload"]
    assert cols[0].type == "bigint"
    eng.drop_table("demo.t_roundtrip")


def test_register_table_adopts_existing_files(spark, tmp_path, sf_dir) -> None:
    eng = Engine(spark)
    eng.create_schema("demo")
    src = f"{sf_dir}/region.parquet"
    eng.drop_table("demo.t_registered")
    eng.register_table("demo.t_registered", src)
    assert eng.sql("SELECT count(*) AS n FROM demo.t_registered").collect()[0].n == 5
    # external semantics: drop leaves the files untouched
    eng.drop_table("demo.t_registered")
    assert spark.read.parquet(src).count() == 5


def test_to_csv_result_format(spark) -> None:
    eng = Engine(spark)
    out = eng.to_csv(eng.sql("SELECT 1 AS a, 'x,y' AS b"))
    assert out.splitlines() == ["a,b", '1,"x,y"']


def test_explain_cost_surface(spark) -> None:
    eng = Engine(spark)
    text = eng.explain_cost("SELECT count(*) FROM range(10)")
    assert "Statistics" in text or "sizeInBytes" in text


def test_show_catalogs_probe(spark) -> None:
    # reference seed.sh:46-59 readiness shape
    eng = Engine(spark)
    cats = [r[0] for r in eng.sql("SHOW CATALOGS").collect()]
    assert "spark_catalog" in cats


def test_catalog_helpers_match_pyspark_listings_without_jobs(
        spark, tmp_path, count_jobs) -> None:
    """The engine's catalog/schema/table listings name exactly what
    PySpark's Catalog.list* calls name (the oracle here), and none of
    them runs a Spark job (the list* calls do)."""
    eng = Engine(spark)
    spark.sql("CREATE DATABASE IF NOT EXISTS helper_parity_db")
    spark.range(3).write.mode("overwrite").parquet(str(tmp_path / "t"))
    spark.sql(
        "CREATE TABLE IF NOT EXISTS helper_parity_db.t "
        f"USING parquet LOCATION '{tmp_path / 't'}'"
    )
    spark.sql("CREATE OR REPLACE VIEW helper_parity_db.v AS "
              "SELECT id FROM helper_parity_db.t")
    spark.range(1).createOrReplaceTempView("helper_parity_tmp")
    spark.range(1).createOrReplaceTempView("__helper_parity_hidden")
    try:
        cats, jobs = count_jobs(eng._catalog_names)
        assert jobs == 0
        assert cats == {"iceberg", "spark_catalog"} | {
            c.name for c in spark.catalog.listCatalogs()}

        dbs, jobs = count_jobs(eng._schema_names)
        assert jobs == 0
        oracle_dbs = sorted(d.name for d in spark.catalog.listDatabases())
        assert sorted(dbs) == oracle_dbs
        assert "helper_parity_db" in dbs

        for db in oracle_dbs:
            names, jobs = count_jobs(lambda db=db: eng.tables(db))
            assert jobs == 0
            assert sorted(names) == sorted(
                t.name for t in spark.catalog.listTables(db))
        assert {"t", "v", "helper_parity_tmp"} <= set(
            eng.tables("helper_parity_db"))

        entries, jobs = count_jobs(eng._info_entries)
        assert jobs == 0
        oracle = set()
        for t in [*spark.catalog.listTables(),
                  *(t for db in oracle_dbs
                    for t in spark.catalog.listTables(db))]:
            if t.name.startswith("__"):
                continue
            schema = (eng.default_schema
                      if t.isTemporary and not t.namespace
                      else t.namespace[0])
            oracle.add((schema.lower(), t.name.lower()))
        assert {(s.lower(), n.lower()) for s, n, _, _ in entries} \
            == oracle
        assert ("helper_parity_db", "v") in oracle
        assert ("demo", "helper_parity_tmp") in oracle
    finally:
        spark.catalog.dropTempView("helper_parity_tmp")
        spark.catalog.dropTempView("__helper_parity_hidden")
        spark.sql("DROP DATABASE IF EXISTS helper_parity_db CASCADE")


def test_sql_time_travel_on_versioned_table(spark, tmp_path):
    """Trino/Iceberg time-travel syntax through the SQL entry point:
    FOR VERSION AS OF and FOR TIMESTAMP AS OF against a registered
    VersionedTable, including the Trino-dialect path with a catalog
    prefix."""
    from hands_on_trino_iceberg_superset_spark.lakehouse import VersionedTable

    eng = Engine(spark)
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, v double"
    )
    t = VersionedTable.create(spark, str(tmp_path / "tt"), df)
    eng.register_versioned_table("ledger", t)
    between = t.current().ts  # ISO-T UTC, sorts between v1 and v2
    t.delete("k = 1")
    eng.register_versioned_table("ledger", t)  # refresh current view

    assert eng.sql("SELECT count(*) AS n FROM ledger").collect()[0].n == 2
    assert (
        eng.sql(
            "SELECT count(*) AS n FROM ledger FOR VERSION AS OF 1"
        ).collect()[0].n == 3
    )
    ts_lit = between.replace("T", " ").rstrip("Z")
    assert (
        eng.sql(
            f"SELECT count(*) AS n FROM ledger FOR TIMESTAMP AS OF "
            f"TIMESTAMP '{ts_lit}'"
        ).collect()[0].n == 3
    )
    # Trino dialect with catalog prefix
    got = eng.trino_sql(
        "SELECT CAST(k AS varchar) AS ks FROM iceberg.ledger "
        "FOR VERSION AS OF 1 ORDER BY ks"
    ).collect()
    assert [r.ks for r in got] == ["1", "2", "3"]
    # unknown table names pass through to Spark untouched
    import pytest as _pytest
    from pyspark.errors import AnalysisException

    with _pytest.raises(AnalysisException):
        eng.sql("SELECT * FROM nope FOR VERSION AS OF 1").collect()


def test_sql_dml_on_versioned_table(spark, tmp_path):
    """The Iceberg-v2 SQL DML surface: DELETE/UPDATE/INSERT statements
    against a registered versioned table commit copy-on-write
    snapshots, report rows_affected, and keep time travel working —
    including through the Trino dialect and string literals with
    commas in SET."""
    from hands_on_trino_iceberg_superset_spark.lakehouse import VersionedTable

    eng = Engine(spark)
    df = spark.createDataFrame(
        [(1, "open", 10.0), (2, "open", 20.0), (3, "done", 30.0)],
        "k long, status string, v double",
    )
    t = VersionedTable.create(spark, str(tmp_path / "dml"), df)
    eng.register_versioned_table("jobs", t)

    out = eng.sql("DELETE FROM jobs WHERE k = 1").collect()
    assert out[0].rows_affected == 1
    assert eng.sql("SELECT count(*) AS n FROM jobs").collect()[0].n == 2

    eng.sql("UPDATE jobs SET status = 'a,b', v = v + least(1, 2) "
            "WHERE k = 2")
    got = {r.k: (r.status, r.v) for r in eng.sql(
        "SELECT * FROM jobs").collect()}
    assert got[2] == ("a,b", 21.0)
    assert got[3] == ("done", 30.0)

    ins = eng.trino_sql(
        "INSERT INTO iceberg.jobs VALUES (9, CAST('new' AS varchar), 1.5)"
    ).collect()
    assert ins[0].rows_affected == 1
    assert eng.sql("SELECT v FROM jobs WHERE k = 9").collect()[0].v == 1.5

    # the whole history is still addressable
    assert (
        eng.sql("SELECT count(*) AS n FROM jobs FOR VERSION AS OF 1")
        .collect()[0].n == 3
    )
    # DML against unregistered tables falls through to Spark
    import pytest as _pytest
    from pyspark.errors import AnalysisException, ParseException

    with _pytest.raises((AnalysisException, ParseException)):
        eng.sql("DELETE FROM not_registered WHERE x = 1").collect()


def test_sql_dml_update_count_and_case_insensitive(spark, tmp_path) -> None:
    """UPDATE reports the rows the predicate matched (not the table
    size), and routed DML/DDL/time travel resolve registered names
    case-insensitively, like Spark resolves the views themselves."""
    from hands_on_trino_iceberg_superset_spark.lakehouse import VersionedTable

    eng = Engine(spark)
    df = spark.createDataFrame(
        [(i, "open", float(i)) for i in range(1, 11)],
        "k long, status string, v double",
    )
    t = VersionedTable.create(spark, str(tmp_path / "updcount"), df)
    eng.register_versioned_table("Jobs2", t)

    out = eng.sql("UPDATE jobs2 SET status = 'hot' WHERE k <= 3").collect()
    assert out[0].rows_affected == 3
    out = eng.sql("DELETE FROM JOBS2 WHERE k = 10").collect()
    assert out[0].rows_affected == 1
    assert eng.sql("SELECT count(*) AS n FROM jobs2").collect()[0].n == 9
    # time travel with any case
    n0 = eng.sql(
        "SELECT count(*) AS n FROM JOBS2 FOR VERSION AS OF 1"
    ).collect()[0].n
    assert n0 == 10


def test_sql_time_travel_literal_shapes(spark, tmp_path) -> None:
    """Date-only and second-precision AS OF literals canonicalize
    through a real datetime parse; an exact-boundary snapshot is
    INCLUDED (AS OF is <=)."""
    from hands_on_trino_iceberg_superset_spark.lakehouse import VersionedTable

    eng = Engine(spark)
    df = spark.createDataFrame([(1,)], "k long")
    t = VersionedTable.create(spark, str(tmp_path / "asof"), df)
    eng.register_versioned_table("asof_t", t)
    snap_ts = t.current().ts  # ISO ...T...Z with microseconds
    day = snap_ts[:10]
    # a date-only literal for the day AFTER the snapshot must see it
    import datetime as dt

    next_day = (dt.date.fromisoformat(day)
                + dt.timedelta(days=1)).isoformat()
    n = eng.sql(
        f"SELECT count(*) AS n FROM asof_t FOR TIMESTAMP AS OF "
        f"TIMESTAMP '{next_day}'"
    ).collect()[0].n
    assert n == 1
    # the snapshot's own exact timestamp is inclusive
    lit = snap_ts.rstrip("Z").replace("T", " ")
    n = eng.sql(
        f"SELECT count(*) AS n FROM asof_t FOR TIMESTAMP AS OF "
        f"TIMESTAMP '{lit}'"
    ).collect()[0].n
    assert n == 1


def test_sql_time_travel_offset_literal(spark, tmp_path) -> None:
    """An AS OF literal carrying a non-UTC offset denotes an
    INSTANT: '+05:30' wall-clock must be converted to UTC, not
    reinterpreted as UTC (which selects a different snapshot)."""
    import datetime as dt

    from hands_on_trino_iceberg_superset_spark.lakehouse import VersionedTable

    eng = Engine(spark)
    df = spark.createDataFrame([(1,), (2,)], "k long")
    t = VersionedTable.create(spark, str(tmp_path / "tz"), df)
    eng.register_versioned_table("tz_t", t)
    v1_ts = t.current().ts  # ISO ...T...Z UTC, microseconds
    eng.sql("DELETE FROM tz_t WHERE k = 2")  # v2: 1 row

    # v1's exact instant written as a +05:30 wall clock — the SAME
    # instant, so it must (inclusively) see v1's 2 rows. Dropping
    # the offset reads it as UTC, 5h30m late -> v2's 1 row.
    aware = dt.datetime.fromisoformat(v1_ts.rstrip("Z")).replace(
        tzinfo=dt.timezone.utc
    ).astimezone(dt.timezone(dt.timedelta(hours=5, minutes=30)))
    lit = aware.strftime("%Y-%m-%d %H:%M:%S.%f") + "+05:30"
    n = eng.sql(
        f"SELECT count(*) AS n FROM tz_t FOR TIMESTAMP AS OF "
        f"TIMESTAMP '{lit}'"
    ).collect()[0].n
    assert n == 2
    # the same wall clock with a -05:30 offset is a LATER instant
    # (after v2): must see v2's single row
    lit_late = lit[:-6] + "-05:30"
    n = eng.sql(
        f"SELECT count(*) AS n FROM tz_t FOR TIMESTAMP AS OF "
        f"TIMESTAMP '{lit_late}'"
    ).collect()[0].n
    assert n == 1


def test_show_stats_surface(spark):
    """SHOW STATS FOR t: Trino's column-statistics shape — exact NDV,
    null fractions, string data_size, numeric low/high, and the
    summary row_count row; non-matching SQL still parses normally."""
    from hands_on_trino_iceberg_superset_spark.engine import Engine

    spark.createDataFrame(
        [(1, "ab", 2.5), (2, "c", None), (2, None, 7.5)],
        "k long, s string, v double",
    ).createOrReplaceTempView("stats_t")
    eng = Engine(spark)
    rows = {r.column_name: r for r in eng.sql("SHOW STATS FOR stats_t").collect()}
    assert rows["k"].distinct_values_count == 2.0
    assert rows["k"].nulls_fraction == 0.0
    assert rows["k"].low_value == "1" and rows["k"].high_value == "2"
    assert rows["k"].data_size is None
    assert rows["s"].data_size == 3.0  # "ab" + "c"
    assert abs(rows["s"].nulls_fraction - 1 / 3) < 1e-15
    assert rows["v"].low_value == "2.5" and rows["v"].high_value == "7.5"
    summary = rows[None]
    assert summary.row_count == 3.0
    assert summary.distinct_values_count is None
    # anything else falls through to plain SQL
    assert eng.sql("SELECT 41 + 1 AS x").collect()[0].x == 42


def test_view_ddl_lifecycle(spark):
    """CREATE [OR REPLACE] VIEW / DROP VIEW / SHOW CREATE VIEW with
    engine-side SQL registry and M1/M2 introspection parity."""
    import pytest

    from hands_on_trino_iceberg_superset_spark.engine import Engine

    eng = Engine(spark)
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0)],
        "id long, k string, v double",
    ).createOrReplaceTempView("vddl_base")

    eng.sql("CREATE VIEW vddl AS SELECT k, v FROM vddl_base "
            "WHERE v > 15")
    # the registry is session-shared (other Engines' views may
    # coexist), so assert membership rather than whole-dict equality
    assert eng.views()["vddl"] \
        == "SELECT k, v FROM vddl_base WHERE v > 15"
    assert {r.k for r in eng.sql("SELECT * FROM vddl").collect()} \
        == {"a", "b"}
    # introspection resolves the view like any table (M1/M2)
    assert [(c.name, c.type) for c in eng.columns("vddl")] \
        == [("k", "string"), ("v", "double")]
    # DESCRIBE parity with the defining query's schema
    desc = {r.col_name: r.data_type
            for r in eng.describe("vddl").collect()}
    assert desc == {"k": "string", "v": "double"}
    # SHOW CREATE VIEW round-trips the recorded SQL
    assert eng.sql("SHOW CREATE VIEW vddl").first()[0] \
        == "CREATE VIEW vddl AS SELECT k, v FROM vddl_base WHERE v > 15"

    # duplicate create refuses without OR REPLACE; replace rebinds
    with pytest.raises(ValueError, match="already exists"):
        eng.sql("CREATE VIEW vddl AS SELECT 1 AS x")
    eng.sql("CREATE OR REPLACE VIEW vddl AS SELECT id FROM vddl_base")
    assert eng.sql("SELECT count(*) AS n FROM vddl").first().n == 3

    # default-schema qualifier accepted, foreign qualifier refused
    eng.sql("CREATE VIEW demo.vddl2 AS SELECT 1 AS one")
    assert eng.sql("SELECT * FROM vddl2").first().one == 1
    with pytest.raises(ValueError, match="default schema"):
        eng.sql("CREATE VIEW other.vddl3 AS SELECT 1 AS one")

    # drop removes registry + resolution; IF EXISTS is a no-op
    eng.sql("DROP VIEW vddl2")
    assert "vddl2" not in eng.views()
    with pytest.raises(ValueError, match="not found"):
        eng.sql("DROP VIEW vddl2")
    assert eng.sql("DROP VIEW IF EXISTS vddl2").first().dropped is False
    with pytest.raises(ValueError, match="not found"):
        eng.sql("SHOW CREATE VIEW vddl2")
    eng.sql("DROP VIEW vddl")

    # Spark's own TEMPORARY VIEW DDL passes through untouched
    eng.sql("CREATE OR REPLACE TEMPORARY VIEW vddl_tmp AS "
            "SELECT 2 AS two")
    assert "vddl_tmp" not in eng.views()
    assert eng.sql("SELECT * FROM vddl_tmp").first().two == 2


def test_view_registry_is_session_shared(spark):
    """Two Engine instances over ONE SparkSession observe the same
    view state — the backing temp views are session-global, so the
    SQL registry must be too: a CREATE through one is visible (and
    protected from silent clobber) through the other, and a DROP
    through one is observed by both."""
    import pytest

    from hands_on_trino_iceberg_superset_spark.engine import Engine

    e1, e2 = Engine(spark), Engine(spark)
    e1.sql("CREATE OR REPLACE VIEW vshared AS SELECT 1 AS one")
    # visible through the sibling Engine's registry + SHOW CREATE
    assert e2.views()["vshared"] == "SELECT 1 AS one"
    assert e2.sql("SHOW CREATE VIEW vshared").first()[0] \
        == "CREATE VIEW vshared AS SELECT 1 AS one"
    # the sibling cannot silently clobber it without OR REPLACE
    with pytest.raises(ValueError, match="already exists"):
        e2.sql("CREATE VIEW vshared AS SELECT 2 AS two")
    # a drop through the sibling is observed by the creator
    e2.sql("DROP VIEW vshared")
    assert "vshared" not in e1.views()
    with pytest.raises(ValueError, match="not found"):
        e1.sql("SHOW CREATE VIEW vshared")


def test_ann_table_function_surface(spark, sf_dir):
    """TABLE(ann_topk(...)) argument contract: named args only,
    exactly one of corpus/index, registered index required, unknown
    args refused, and the resolved view composes with plain SQL."""
    import pytest

    from hands_on_trino_iceberg_superset_spark.engine import Engine

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb.createOrReplaceTempView("ann_tf_corpus")
    emb.limit(2).createOrReplaceTempView("ann_tf_queries")
    eng = Engine(spark)

    out = eng.sql(
        "SELECT query_id, count(*) AS n FROM TABLE(ann_topk("
        "corpus => 'ann_tf_corpus', queries => 'ann_tf_queries', "
        "k => 3)) GROUP BY query_id"
    ).collect()
    assert len(out) == 2 and all(r.n == 3 for r in out)

    with pytest.raises(ValueError, match="exactly one"):
        eng.sql("SELECT * FROM TABLE(ann_topk("
                "queries => 'ann_tf_queries', k => 3))")
    with pytest.raises(ValueError, match="exactly one"):
        eng.sql("SELECT * FROM TABLE(ann_topk("
                "corpus => 'a', index => 'b', queries => 'q'))")
    with pytest.raises(ValueError, match="missing argument"):
        eng.sql("SELECT * FROM TABLE(ann_topk(corpus => 'a'))")
    with pytest.raises(ValueError, match="no ANN index registered"):
        eng.sql("SELECT * FROM TABLE(ann_topk(index => 'nope', "
                "queries => 'ann_tf_queries'))")
    with pytest.raises(ValueError, match="unknown ann_topk"):
        eng.sql("SELECT * FROM TABLE(ann_topk(corpus => 'a', "
                "queries => 'q', frobnicate => 1))")
    with pytest.raises(ValueError, match="named"):
        eng.sql("SELECT * FROM TABLE(ann_topk('a', 'q', 3))")


def test_information_schema_covers_versioned_tables(spark, tmp_path):
    """The information_schema snapshot must include tables that enter
    the catalog through the ENGINE's own registries (versioned /
    Iceberg registration), not just plain temp views — a SQLAlchemy
    client introspecting after register_versioned_table sees the
    table with its current schema and Trino type spellings."""
    from hands_on_trino_iceberg_superset_spark.engine import Engine
    from hands_on_trino_iceberg_superset_spark.lakehouse import (
        VersionedTable,
    )

    eng = Engine(spark)
    df = spark.createDataFrame(
        [(1, "a", 1.5)], "k long, name string, score double"
    )
    t = VersionedTable.create(spark, str(tmp_path / "infot"), df)
    eng.register_versioned_table("ledger_info", t)
    rows = eng.sql(
        "SELECT column_name, data_type FROM information_schema.columns "
        "WHERE table_name = 'ledger_info' ORDER BY ordinal_position"
    ).collect()
    assert [(r.column_name, r.data_type) for r in rows] == [
        ("k", "bigint"), ("name", "varchar"), ("score", "double"),
    ]
    # schema evolution is visible on the next introspection
    eng.sql("ALTER TABLE ledger_info ADD COLUMN tag string")
    rows = eng.sql(
        "SELECT column_name FROM information_schema.columns "
        "WHERE table_name = 'ledger_info' ORDER BY ordinal_position"
    ).collect()
    assert [r.column_name for r in rows] == ["k", "name", "score",
                                             "tag"]
    # the engine's hidden twin views never leak into the listing
    hidden = eng.sql(
        "SELECT table_name FROM information_schema.tables "
        "WHERE table_name LIKE '!_!_%' ESCAPE '!'"
    ).collect()
    assert hidden == []


def test_explain_on_views_and_time_travel(spark, tmp_path):
    """Engine.explain analyzes (never executes) statements over the
    engine's own resolution layers: persistent views and versioned
    time travel both plan; DDL/DML shapes are refused."""
    import pytest

    from hands_on_trino_iceberg_superset_spark.engine import Engine
    from hands_on_trino_iceberg_superset_spark.lakehouse import (
        VersionedTable,
    )

    eng = Engine(spark)
    spark.createDataFrame([(1, 2.0)], "k long, v double") \
        .createOrReplaceTempView("exp_base")
    eng.sql("CREATE OR REPLACE VIEW exp_view AS "
            "SELECT k, v * 2 AS v2 FROM exp_base")
    plan = eng.explain("SELECT sum(v2) AS s FROM exp_view",
                       type_="LOGICAL")
    assert "Optimized Logical Plan" in plan

    t = VersionedTable.create(spark, str(tmp_path / "expt"),
                              spark.createDataFrame([(1,)], "k long"))
    eng.register_versioned_table("exp_tt", t)
    plan = eng.explain(
        "SELECT count(*) AS n FROM exp_tt FOR VERSION AS OF 1")
    assert "Aggregate" in plan or "HashAggregate" in plan

    snaps_before = len(t.snapshots()) if hasattr(t, "snapshots") \
        else None
    with pytest.raises(ValueError, match="read statements only"):
        eng.explain("DELETE FROM exp_tt WHERE k = 1")
    # nothing executed: the table still has its row
    assert eng.sql("SELECT count(*) AS n FROM exp_tt").first().n == 1
    assert snaps_before is None or len(t.snapshots()) == snaps_before


def test_information_schema_name_boundary(spark):
    """ADVICE r11: a user table whose name merely ENDS in
    information_schema must not have its suffix rewritten onto the
    virtual views."""
    from hands_on_trino_iceberg_superset_spark.engine import Engine

    eng = Engine(spark)
    out = eng._resolve_information_schema(
        "SELECT id FROM my_information_schema.tables "
        "JOIN x_information_schema.columns USING (id)"
    )
    assert "__information_schema" not in out
    # the real schema still rewrites, quoted or bare
    out2 = eng._resolve_information_schema(
        'SELECT * FROM "information_schema"."tables"'
    )
    assert "__information_schema_tables" in out2


def test_table_function_argument_validation(spark):
    """The retrieval table functions refuse malformed calls loudly:
    positional args, unknown names, missing required tables, and
    corpus/index exclusivity."""
    import pytest

    from hands_on_trino_iceberg_superset_spark.engine import Engine

    eng = Engine(spark)
    spark.createDataFrame(
        [(1, "a b")], "doc_id long, text string"
    ).createOrReplaceTempView("tfv_docs")
    spark.createDataFrame(
        [("q", "a")], "qid string, qtext string"
    ).createOrReplaceTempView("tfv_q")

    with pytest.raises(ValueError, match="must be named"):
        eng.sql("SELECT * FROM TABLE(bm25_topk('tfv_docs'))")
    with pytest.raises(ValueError, match="unknown bm25_topk"):
        eng.sql("SELECT * FROM TABLE(bm25_topk(docs => 'tfv_docs', "
                "queries => 'tfv_q', nope => 1))")
    with pytest.raises(ValueError, match="missing argument"):
        eng.sql("SELECT * FROM TABLE(bm25_topk(docs => 'tfv_docs'))")
    with pytest.raises(ValueError, match="exactly one of"):
        eng.sql("SELECT * FROM TABLE(hybrid_topk(docs => 'tfv_docs', "
                "queries => 'tfv_q'))")
    with pytest.raises(ValueError, match="exactly one of"):
        eng.sql("SELECT * FROM TABLE(ann_topk(corpus => 'x', "
                "index => 'y', queries => 'tfv_q'))")
    # a call inside a string literal is NOT resolved
    got = eng.sql(
        "SELECT 'TABLE(bm25_topk(docs => 1))' AS s"
    ).collect()[0].s
    assert got == "TABLE(bm25_topk(docs => 1))"
    # the working call still resolves end to end
    n = eng.sql(
        "SELECT count(*) AS n FROM TABLE(bm25_topk("
        "docs => 'tfv_docs', queries => 'tfv_q', k => 3))"
    ).collect()[0].n
    assert n == 1


def test_information_schema_snapshot_cache(spark, tmp_path):
    """VERDICT r11 item 5: the information_schema snapshot is keyed
    on catalog state — consecutive introspection statements against
    an unchanged catalog rebuild NOTHING (no per-table schema
    analysis loop), while a new table, a view change, or same-name
    schema evolution through Engine.sql each invalidate it."""
    from hands_on_trino_iceberg_superset_spark.lakehouse import (
        VersionedTable,
    )

    eng = Engine(spark)
    builds = []
    orig = eng._build_information_schema

    def counting(kinds, entries):
        builds.append(set(kinds))
        return orig(kinds, entries)

    eng._build_information_schema = counting
    stmt = ("SELECT count(*) AS n FROM information_schema.columns "
            "WHERE table_name = 'isc_cache_t'")

    spark.createDataFrame([(1, "a")], "id long, k string") \
        .createOrReplaceTempView("isc_cache_t")
    n0 = eng.sql(stmt).collect()[0].n
    assert n0 == 2 and len(builds) == 1
    # unchanged catalog: no rebuild on the next two statements
    eng.sql(stmt).collect()
    eng.sql("SELECT table_name FROM information_schema.columns "
            "LIMIT 1").collect()
    assert len(builds) == 1
    # a table added OUTSIDE the engine changes the entry list
    spark.createDataFrame([(2,)], "x long") \
        .createOrReplaceTempView("isc_cache_u")
    eng.sql(stmt).collect()
    assert len(builds) == 2
    eng.sql(stmt).collect()
    assert len(builds) == 2
    # same-name schema evolution through Engine.sql: the entry list
    # is unchanged, the DDL version counter invalidates
    df = spark.createDataFrame([(1, "a")], "id long, k string")
    t = VersionedTable.create(spark, str(tmp_path / "isc_v"), df)
    eng.register_versioned_table("isc_cache_v", t)
    eng.sql(stmt).collect()
    n_before = len(builds)
    eng.sql("ALTER TABLE isc_cache_v ADD COLUMN extra double")
    assert eng.sql(
        "SELECT count(*) AS n FROM information_schema.columns "
        "WHERE table_name = 'isc_cache_v'"
    ).collect()[0].n == 3
    assert len(builds) == n_before + 1
    # same-name temp-view swap DIRECTLY on the SparkSession (not
    # through Engine.sql — the repo's dominant registration pattern,
    # r12 ADVICE): the plan digest invalidates, and the snapshot
    # reflects the new schema
    n_before = len(builds)
    spark.createDataFrame([(1, "a", 2.5)],
                          "id long, k string, extra double") \
        .createOrReplaceTempView("isc_cache_t")
    assert eng.sql(stmt).collect()[0].n == 3
    assert len(builds) == n_before + 1
    # ...and the swap-invalidated key is itself stable afterwards
    eng.sql(stmt).collect()
    assert len(builds) == n_before + 1
    # a second Engine over the same session shares the cache state
    eng2 = Engine(spark)
    assert eng2._infoschema_state is eng._infoschema_state


def test_sql_ann_filtered_and_hard_negative(spark, sf_dir, tmp_path):
    """match_cols / exclude_cols through TABLE(ann_topk(...)): the
    SQL surface reaches FILTERED vector search (equality pre-filter,
    both arms) and hard-negative mining (inequality, index arm), the
    two probe shapes a training-data pipeline runs daily."""
    import pytest

    from hands_on_trino_iceberg_superset_spark.operators import (
        similarity as S,
    )
    from hands_on_trino_iceberg_superset_spark.sources import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    emb.createOrReplaceTempView("fann_corpus_v")
    q = emb.where("vec_id % 200 = 0")
    q.createOrReplaceTempView("fann_queries_v")
    eng = Engine(spark)

    # exact arm, filtered: equals the direct operator call
    got = eng.sql(
        "SELECT query_id, neighbor_id, cos_sim, rank "
        "FROM TABLE(ann_topk(corpus => 'fann_corpus_v', "
        "queries => 'fann_queries_v', k => 5, "
        "match_cols => 'label'))"
    ).collect()
    want = S.cosine_topk(emb, q, k=5, match_cols=["label"]).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    labels = {r.vec_id: r.label for r in emb.collect()}
    assert all(labels[r.query_id] == labels[r.neighbor_id]
               for r in got)

    # exclude_cols needs the index arm — refused on the exact arm
    with pytest.raises(ValueError, match="requires index"):
        eng.sql("SELECT * FROM TABLE(ann_topk("
                "corpus => 'fann_corpus_v', "
                "queries => 'fann_queries_v', "
                "exclude_cols => 'label'))")

    # index arm: hard negatives are nearest DIFFERENT-label vectors
    idx = str(tmp_path / "fann_ivf")
    S.build_ivf_index(emb, idx, n_centroids=8, meta_cols=["label"])
    eng.register_ann_index("fann_ivf", idx)
    neg = eng.sql(
        "SELECT query_id, neighbor_id, neg_label, rank "
        "FROM TABLE(ann_topk(index => 'fann_ivf', "
        "queries => 'fann_queries_v', k => 5, n_probe => 4, "
        "exclude_cols => 'label'))"
    ).collect()
    assert neg
    assert all(labels[r.query_id] != r.neg_label for r in neg)


def test_sql_dedup_table_functions_parity(spark):
    """TABLE(dedup_exact(...)) / TABLE(simhash_pairs(...)) equal the
    direct operator calls on a planted duplicate set (whitespace/case
    variants collide; distinct texts survive; one near-dup pair at
    small Hamming distance)."""
    from hands_on_trino_iceberg_superset_spark.engine import Engine
    from hands_on_trino_iceberg_superset_spark.operators import (
        dedup as D,
    )

    docs = spark.createDataFrame(
        [
            (1, "The quick brown fox jumps over the lazy dog"),
            (2, "the  quick   brown fox jumps over the lazy dog"),
            (3, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG "),
            (4, "an entirely different document body here"),
            (5, "The quick brown fox jumps over the lazy cat"),
            (6, "an entirely different document body here"),
        ],
        "doc_id long, text string",
    )
    docs.createOrReplaceTempView("dedup_tf_docs")
    eng = Engine(spark)
    got = eng.sql(
        "SELECT fingerprint, keep_id, n_dups FROM "
        "TABLE(dedup_exact(docs => 'dedup_tf_docs'))"
    ).collect()
    want = D.exact_duplicates(docs).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    trio = next(r for r in got if r.n_dups == 3)
    assert trio.keep_id == 1  # 1/2/3 collide post-normalization
    pair = next(r for r in got if r.n_dups == 2)
    assert pair.keep_id == 4  # 4/6 verbatim duplicates

    got = eng.sql(
        "SELECT id_a, id_b, hamming FROM "
        "TABLE(simhash_pairs(docs => 'dedup_tf_docs', "
        "max_hamming => 10, hasher => 'md5_60'))"
    ).collect()
    want = D.simhash_pairs(docs, max_hamming=10,
                           hasher="md5_60").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    # the verbatim duplicate pair is Hamming 0 (simhash tokenizes
    # raw tokens — case variants are different tokens by design)
    zero = {(r.id_a, r.id_b) for r in got if r.hamming == 0}
    assert (4, 6) in zero


def test_sql_dedup_workhorse_table_functions_parity(spark):
    """TABLE(minhash_pairs(...)) / TABLE(containment_pairs(...))
    equal the direct operator calls on a planted corpus: a verbatim
    near-dup pair for minhash, a short doc quoted inside a longer
    page for containment (the asymmetric case Jaccard misses), and a
    decimal threshold travelling the named-scalar grammar."""
    from hands_on_trino_iceberg_superset_spark.engine import Engine
    from hands_on_trino_iceberg_superset_spark.operators import (
        dedup as D,
    )

    quote = ("alpha beta gamma delta epsilon zeta eta theta iota "
             "kappa lambda mu")
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog here"),
            (3, "a completely unrelated body of text about turbines"),
            (4, quote),
            (5, f"page header before the quote {quote} and a very "
                "long trailing tail of unrelated page content"),
        ],
        "doc_id long, text string",
    )
    docs.createOrReplaceTempView("workhorse_tf_docs")
    eng = Engine(spark)

    got = eng.sql(
        "SELECT id_a, id_b, jaccard_sim FROM "
        "TABLE(minhash_pairs(docs => 'workhorse_tf_docs', "
        "threshold => 0.4, n => 2, num_hashes => 32, bands => 16))"
    ).collect()
    want = D.minhash_lsh_pairs(docs, threshold=0.4, n=2).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert (1, 2) in {(r.id_a, r.id_b) for r in got}

    got = eng.sql(
        "SELECT id_a, id_b, containment, jaccard_sim FROM "
        "TABLE(containment_pairs(docs => 'workhorse_tf_docs', "
        "threshold => 0.9, n => 8, max_df => 10))"
    ).collect()
    want = D.containment_pairs_inverted(
        docs, threshold=0.9, n=8, max_df=10
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    quoted = next(r for r in got if (r.id_a, r.id_b) == (4, 5))
    assert quoted.containment == 1.0  # fully contained quote
    assert quoted.jaccard_sim < 0.9   # ...that Jaccard would miss


def test_sql_asof_table_function_parity(spark):
    """TABLE(asof_join(...)) equals the direct operator call on a
    planted fixture, including multi-column keys and the strict
    flag through the named-scalar grammar."""
    from hands_on_trino_iceberg_superset_spark.engine import Engine
    from hands_on_trino_iceberg_superset_spark.operators import (
        asof as A,
    )

    left = spark.createDataFrame(
        [("u1", "a", 10, 100), ("u1", "a", 20, 101),
         ("u2", "a", 15, 102)],
        "uid string, seg string, t long, lid long",
    )
    right = spark.createDataFrame(
        [("u1", "a", 10, 900), ("u1", "a", 19, 901),
         ("u2", "b", 1, 902)],
        "uid string, seg string, t long, rid long",
    )
    left.createOrReplaceTempView("asof_tf_l")
    right.createOrReplaceTempView("asof_tf_r")
    eng = Engine(spark)
    for strict in (0, 1):
        got = eng.sql(
            "SELECT uid, seg, t, lid, rid FROM "
            "TABLE(asof_join(left => 'asof_tf_l', "
            "right => 'asof_tf_r', on => 'uid,seg', "
            f"order_col => 't', carry_cols => 'rid', "
            f"strict => {strict}))"
        ).collect()
        want = A.asof_join(
            left, right, on=["uid", "seg"], order_col="t",
            carry_cols=["rid"], strict=bool(strict),
        ).select("uid", "seg", "t", "lid", "rid").collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    by_lid = {r.lid: r.rid for r in got}  # strict=1 run
    assert by_lid[100] is None    # t=10 has no right row with t<10
    assert by_lid[101] == 901     # latest strictly-before at t=19
    assert by_lid[102] is None    # u2's right row is in another seg


def test_table_fn_argument_errors_are_loud(spark):
    """The r13 table functions refuse malformed configs with the
    ENGINE's message, not a downstream Spark error: minhash bands
    must divide num_hashes; asof carry/overlap violations surface
    the operator's own refusal through the SQL seam."""
    import pytest

    from hands_on_trino_iceberg_superset_spark.engine import Engine

    eng = Engine(spark)
    spark.createDataFrame(
        [(1, "a b c")], "doc_id long, text string"
    ).createOrReplaceTempView("tferr_docs")
    with pytest.raises(ValueError, match="must divide"):
        eng.sql(
            "SELECT * FROM TABLE(minhash_pairs(docs => 'tferr_docs', "
            "threshold => 0.4, num_hashes => 32, bands => 7))"
        )
    with pytest.raises(ValueError, match="missing argument"):
        eng.sql(
            "SELECT * FROM TABLE(containment_pairs("
            "docs => 'tferr_docs'))"
        )
    spark.createDataFrame(
        [(1, 1, 5)], "uid long, t long, v long"
    ).createOrReplaceTempView("tferr_l")
    spark.createDataFrame(
        [(1, 1, 7)], "uid long, t long, v long"
    ).createOrReplaceTempView("tferr_r")
    # carry col collides with a left column: the operator's loud
    # refusal travels through the seam verbatim
    with pytest.raises(ValueError, match="also exist on the left"):
        eng.sql(
            "SELECT * FROM TABLE(asof_join(left => 'tferr_l', "
            "right => 'tferr_r', on => 'uid', order_col => 't', "
            "carry_cols => 'v'))"
        )


def test_tokenize_table_function_algos_and_refusal(spark, sf_dir):
    """TABLE(tokenize(...)): 'wordpiece' (default), 'unigram', and
    'bpe' resolve onto the three encode operators — word-level rows
    for the first two, document-level token streams for bpe — and an
    unknown algo refuses with the supported list."""
    import pytest

    from hands_on_trino_iceberg_superset_spark.engine import Engine
    from hands_on_trino_iceberg_superset_spark.sources import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("tok_fn_docs_v")
    eng = Engine(spark)

    wp = eng.sql(
        "SELECT * FROM TABLE(tokenize(docs => 'tok_fn_docs_v'))"
    )
    assert wp.columns == ["word", "freq", "n_pieces", "encoded"]
    n_words = docs.selectExpr(
        "explode(split(text, ' ')) AS w"
    ).where("w <> ''").select("w").distinct().count()
    assert wp.count() == n_words
    # every word round-trips: pieces stripped of the ## continuation
    # marker concatenate back to the word
    bad = wp.selectExpr(
        "word",
        "replace(replace(encoded, ' ##', ''), ' ', '') AS back",
    ).where("word <> back")
    assert bad.count() == 0

    ug = eng.sql(
        "SELECT * FROM TABLE(tokenize(docs => 'tok_fn_docs_v', "
        "algo => 'unigram', top_k => 20))"
    )
    assert ug.count() == n_words
    assert "n_pieces" in ug.columns

    bpe = eng.sql(
        "SELECT doc_id, n_words, n_chars "
        "FROM TABLE(tokenize(docs => 'tok_fn_docs_v', "
        "algo => 'bpe', n_merges => 4))"
    )
    assert bpe.count() == docs.count()

    with pytest.raises(ValueError, match="unknown algo"):
        eng.sql(
            "SELECT * FROM TABLE(tokenize(docs => 'tok_fn_docs_v', "
            "algo => 'sentencepiece'))"
        )
    with pytest.raises(ValueError, match="unknown tokenize"):
        eng.sql(
            "SELECT * FROM TABLE(tokenize(docs => 'tok_fn_docs_v', "
            "vocab => 'v'))"
        )


def test_stream_window_table_function(spark, sf_dir):
    """TABLE(stream_window(...)) runs the INCREMENTAL windowed
    aggregation (memory-sink snapshot of an availableNow streaming
    query) and matches the batch twin exactly; bad arguments refuse
    with the grammar."""
    import pytest

    from hands_on_trino_iceberg_superset_spark.engine import Engine
    from hands_on_trino_iceberg_superset_spark.sources import (
        load_table,
    )
    from hands_on_trino_iceberg_superset_spark.streaming.pipeline import (
        windowed_event_stats,
    )

    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("stream_fn_events_v")
    eng = Engine(spark)
    got = eng.sql(
        "SELECT window_start, window_end, event_type, n_events, "
        "total_value "
        "FROM TABLE(stream_window(events => 'stream_fn_events_v', "
        "window => '6 hours'))"
    )
    expect = windowed_event_stats(ev, window_duration="6 hours")
    keys = ["window_start", "window_end", "event_type", "n_events",
            "total_value"]

    def canon(df):
        return sorted(tuple(r[k] for k in keys)
                      for r in df.collect())

    assert canon(got) == canon(expect)
    # the memory sink's backing table exists — the streaming engine
    # actually ran (a batch shortcut would have no such table)
    sinks = [t.name for t in spark.catalog.listTables()
             if t.name.startswith("__stream_window_")]
    assert sinks
    # sliding windows through the seam too
    slid = eng.sql(
        "SELECT * FROM TABLE(stream_window("
        "events => 'stream_fn_events_v', window => '6 hours', "
        "slide => '3 hours'))"
    )
    assert slid.count() > got.count()  # ~2x the windows
    with pytest.raises(ValueError, match="unknown stream_window"):
        eng.sql(
            "SELECT * FROM TABLE(stream_window("
            "events => 'stream_fn_events_v', trigger => 'now'))"
        )


def test_stream_sessionize_table_function(spark, sf_dir):
    """TABLE(stream_sessionize(...)) runs dynamic-gap session
    windows through the STREAMING engine (memory-sink snapshot of an
    availableNow query) and matches the batch twin exactly; the gap
    argument is honored; bad arguments refuse with the grammar."""
    import pytest

    from hands_on_trino_iceberg_superset_spark.engine import Engine
    from hands_on_trino_iceberg_superset_spark.sources import (
        load_table,
    )
    from hands_on_trino_iceberg_superset_spark.streaming.pipeline import (
        sessionize,
    )

    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("stream_sess_events_v")
    eng = Engine(spark)
    got = eng.sql(
        "SELECT user_id, session_start, session_end, n_events, "
        "total_value "
        "FROM TABLE(stream_sessionize("
        "events => 'stream_sess_events_v', gap => '30 minutes'))"
    )
    expect = sessionize(ev, gap="30 minutes")
    keys = ["user_id", "session_start", "session_end", "n_events",
            "total_value"]

    def canon(df):
        return sorted(tuple(r[k] for k in keys)
                      for r in df.collect())

    assert canon(got) == canon(expect)
    # the memory sink's backing table exists — the streaming engine
    # actually ran (a batch shortcut would have no such table)
    sinks = [t.name for t in spark.catalog.listTables()
             if t.name.startswith("__stream_sessionize_")]
    assert sinks
    # a wider gap merges sessions — strictly fewer of them
    wide = eng.sql(
        "SELECT * FROM TABLE(stream_sessionize("
        "events => 'stream_sess_events_v', gap => '6 hours'))"
    )
    assert wide.count() < got.count()
    with pytest.raises(ValueError, match="unknown stream_sessionize"):
        eng.sql(
            "SELECT * FROM TABLE(stream_sessionize("
            "events => 'stream_sess_events_v', window => '1 hour'))"
        )


def test_stream_seam_sinks_are_content_keyed(spark, sf_dir):
    """Re-running the SAME streaming statement must replace its one
    memory-sink table, not leak a new registration per execution —
    a long-lived serving engine runs thousands of statements."""
    from hands_on_trino_iceberg_superset_spark.engine import Engine
    from hands_on_trino_iceberg_superset_spark.sources import (
        load_table,
    )

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "sink_key_events_v"
    )
    eng = Engine(spark)
    stmt = (
        "SELECT count(*) AS n FROM TABLE(stream_window("
        "events => 'sink_key_events_v', window => '12 hours'))"
    )

    def sinks():
        return {t.name for t in spark.catalog.listTables()
                if t.name.startswith("__stream_window_")}

    first = eng.sql(stmt).collect()
    after_one = sinks()
    assert eng.sql(stmt).collect() == first
    assert sinks() == after_one  # replaced, not accumulated


def test_stop_streams_for_thread_stops_registered_query(spark):
    """Engine's streaming-cancel registry: a live StreamingQuery
    registered by an executing thread is stopped (and flagged
    cancelled) when that thread's streams are cancelled — the only
    mechanism that reaches a drain, since its Spark jobs run in the
    microbatch thread outside any job group."""
    import threading

    from hands_on_trino_iceberg_superset_spark.engine import Engine

    eng = Engine(spark)
    q = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 10).load()
        .writeStream.format("memory")
        .queryName("cancel_mech_sink").outputMode("append").start()
    )
    try:
        eng._register_stream(q)
        tid = threading.get_ident()
        assert eng.stop_streams_for_thread(tid) == 1
        q.awaitTermination(20)
        assert not q.isActive
        assert q.id in eng._cancelled_streams
    finally:
        eng._cancelled_streams.discard(q.id)
        eng._thread_streams.pop(threading.get_ident(), None)
        if q.isActive:
            q.stop()


def test_stream_statement_registry_is_clean_after_drain(spark, sf_dir):
    """A completed streaming statement leaves no registry entry for
    its thread (and no cancelled flag) — the serving engine's
    bookkeeping must not grow per statement."""
    import threading

    from hands_on_trino_iceberg_superset_spark.engine import Engine
    from hands_on_trino_iceberg_superset_spark.sources import (
        load_table,
    )

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "clean_reg_events_v"
    )
    eng = Engine(spark)
    eng.sql(
        "SELECT count(*) AS n FROM TABLE(stream_window("
        "events => 'clean_reg_events_v', window => '24 hours'))"
    ).collect()
    assert threading.get_ident() not in eng._thread_streams
    assert not eng._cancelled_streams


def test_explain_refuses_streaming_table_functions(spark, sf_dir):
    """'EXPLAIN can never execute anything' must hold for the
    streaming seam too: resolving TABLE(stream_*) RUNS the
    availableNow drain, so plain EXPLAIN refuses loudly (EXPLAIN
    ANALYZE remains the execute-and-report path)."""
    import pytest

    from hands_on_trino_iceberg_superset_spark.engine import Engine
    from hands_on_trino_iceberg_superset_spark.sources import (
        load_table,
    )

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "explain_stream_events_v"
    )
    eng = Engine(spark)
    before = {t.name for t in spark.catalog.listTables()
              if t.name.startswith("__stream_")}
    with pytest.raises(ValueError, match="would execute"):
        eng.explain(
            "SELECT * FROM TABLE(stream_window("
            "events => 'explain_stream_events_v'))"
        )
    with pytest.raises(ValueError, match="would execute"):
        eng.explain(
            "SELECT * FROM TABLE(stream_sessionize("
            "events => 'explain_stream_events_v'))", type_="LOGICAL"
        )
    # nothing drained: no new memory sink appeared
    after = {t.name for t in spark.catalog.listTables()
             if t.name.startswith("__stream_")}
    assert after == before


def test_cancel_scope_tokens_beat_thread_ids(spark):
    """Streams registered inside an explicit cancel scope (the wire
    qid) are stoppable by scope token from ANY thread — and a
    recycled OS thread id can never be confused with them."""
    from hands_on_trino_iceberg_superset_spark.engine import Engine

    class _StubQuery:
        def __init__(self, qid):
            self.id = qid
            self.stopped = False

        def stop(self):
            self.stopped = True

    eng = Engine(spark)
    q = _StubQuery("stub-1")
    eng.enter_cancel_scope("stmt-abc")
    try:
        eng._register_stream(q)
    finally:
        eng.exit_cancel_scope()
    try:
        # a thread-ident key must NOT see the scoped stream
        import threading

        assert eng.stop_streams_for_thread(
            threading.get_ident()) == 0
        assert not q.stopped
        # the scope token stops it, from anywhere
        assert eng.stop_streams_for_scope("stmt-abc") == 1
        assert q.stopped
        assert q.id in eng._cancelled_streams
    finally:
        eng._cancelled_streams.discard(q.id)
        eng._thread_streams.pop("stmt-abc", None)


def test_concurrent_identical_stream_statements(spark, sf_dir):
    """Two clients running the SAME streaming statement at the same
    time must both succeed: the content-keyed sink name collides
    while the first drain is active (Spark refuses a second ACTIVE
    query with the name), and the engine retries under a unique
    suffix."""
    import threading

    from hands_on_trino_iceberg_superset_spark.engine import Engine
    from hands_on_trino_iceberg_superset_spark.sources import (
        load_table,
    )

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "concurrent_stream_events_v"
    )
    eng = Engine(spark)
    stmt = (
        "SELECT count(*) AS n FROM TABLE(stream_sessionize("
        "events => 'concurrent_stream_events_v', "
        "gap => '45 minutes'))"
    )
    results: dict[int, object] = {}

    def client(i: int) -> None:
        try:
            results[i] = eng.sql(stmt).collect()[0].n
        except Exception as exc:  # noqa: BLE001
            results[i] = exc

    threads = [threading.Thread(target=client, args=(i,))
               for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert all(not isinstance(v, Exception) for v in
               results.values()), results
    assert results[0] == results[1]


def test_explain_refusal_survives_leading_comments(spark, sf_dir):
    """'/* x */ EXPLAIN ...' is still an EXPLAIN to Spark — the
    streaming refusal must not be bypassable by a comment prefix on
    the Engine.sql entry."""
    import pytest

    from hands_on_trino_iceberg_superset_spark.engine import Engine
    from hands_on_trino_iceberg_superset_spark.sources import (
        load_table,
    )

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "cmt_explain_events_v"
    )
    eng = Engine(spark)
    for head in ("/* probe */ EXPLAIN", "-- probe\nEXPLAIN",
                 "EXPLAIN"):
        with pytest.raises(ValueError, match="would execute"):
            eng.sql(
                f"{head} SELECT * FROM TABLE(stream_window("
                "events => 'cmt_explain_events_v'))"
            )


def test_cancel_before_registration_stops_drain_at_start(spark):
    """A DELETE that lands before the statement's drain registers
    anything must still stop the drain: the cancelled SCOPE is
    remembered, and registration flag-and-stops the just-started
    query instead of letting it run to completion."""
    from hands_on_trino_iceberg_superset_spark.engine import Engine

    class _StubQuery:
        def __init__(self, qid):
            self.id = qid
            self.stopped = False

        def stop(self):
            self.stopped = True

    eng = Engine(spark)
    # the DELETE arrives first: nothing registered under the scope
    assert eng.stop_streams_for_scope("stmt-early") == 0
    q = _StubQuery("stub-early")
    eng.enter_cancel_scope("stmt-early")
    try:
        eng._register_stream(q)  # the drain starts AFTER the cancel
        assert q.stopped
        assert q.id in eng._cancelled_streams
    finally:
        eng.exit_cancel_scope()  # also clears the cancelled scope
        eng._cancelled_streams.discard(q.id)
        eng._thread_streams.pop("stmt-early", None)
    assert "stmt-early" not in eng._cancelled_scopes


def test_stream_result_immutable_after_sink_reuse(spark):
    """A drained result must be INDEPENDENT of the shared
    content-keyed sink: a later identical statement over changed
    data repopulates the sink, and a still-held earlier frame must
    keep its original rows (localCheckpoint decoupling)."""
    import pyspark.sql.functions as F

    from hands_on_trino_iceberg_superset_spark.engine import Engine

    def events(n):
        return spark.range(n).select(
            F.lit(1).cast("long").alias("user_id"),
            (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
             + (F.col("id") * F.expr("INTERVAL 2 HOUR"))).alias("ts"),
            F.lit("click").alias("event_type"),
            F.lit(1.0).alias("value"),
        )

    eng = Engine(spark)
    events(4).createOrReplaceTempView("immut_events_v")
    stmt = (
        "SELECT n_events FROM TABLE(stream_window("
        "events => 'immut_events_v', window => '12 hours'))"
    )
    first = eng.sql(stmt)
    first_rows = sorted(r.n_events for r in first.collect())
    # same statement, DIFFERENT data -> the sink repopulates
    events(12).createOrReplaceTempView("immut_events_v")
    second = eng.sql(stmt)
    assert sorted(r.n_events for r in second.collect()) != first_rows
    # the earlier frame still reads its ORIGINAL drain
    assert sorted(r.n_events for r in first.collect()) == first_rows
