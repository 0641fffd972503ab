"""Iceberg-spec metadata layer: write, adopt, time travel, and the
three-tier scan-pruning plan gates."""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pyspark.sql.functions as F
import pytest

from hands_on_trino_iceberg_superset_spark.engine import Engine
from hands_on_trino_iceberg_superset_spark.lakehouse.avro import write_ocf
from hands_on_trino_iceberg_superset_spark.lakehouse.iceberg import (
    IcebergTable,
    iceberg_to_spark_schema,
    load_iceberg,
    manifest_entry_schema,
    spark_to_iceberg_schema,
)
from hands_on_trino_iceberg_superset_spark.sources import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def tmp_root():
    d = tempfile.mkdtemp(prefix="iceberg_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def orders_table(spark, tmp_root):
    orders = load_table(spark, SF, "orders")
    path = os.path.join(tmp_root, "orders")
    t = IcebergTable.create(spark, path, orders,
                            partition_by="o_orderstatus")
    late = orders.limit(100)
    t.append(late)
    return t


def test_create_read_counts(spark, orders_table):
    n = load_table(spark, SF, "orders").count()
    assert IcebergTable.load(spark, orders_table.path).read().count() == n + 100


def test_schema_preserved(spark, orders_table):
    orig = load_table(spark, SF, "orders").schema
    adopted = IcebergTable.load(spark, orders_table.path)
    assert [f.name for f in adopted.spark_schema().fields] == \
        [f.name for f in orig.fields]
    assert [f.dataType for f in adopted.spark_schema().fields] == \
        [f.dataType for f in orig.fields]


def test_time_travel(spark, orders_table):
    t = IcebergTable.load(spark, orders_table.path)
    snaps = sorted(s["snapshot-id"] for s in t.snapshots())
    assert len(snaps) == 2
    n = load_table(spark, SF, "orders").count()
    assert t.read(snapshot_id=snaps[0]).count() == n
    assert t.read(snapshot_id=snaps[1]).count() == n + 100
    # as-of timestamp resolves to the first snapshot
    ts0 = next(s["timestamp-ms"] for s in t.snapshots()
               if s["snapshot-id"] == snaps[0])
    assert t.read(as_of_ms=ts0).count() == n


def test_partition_pruning_gate(spark, orders_table):
    """Plan gate: a partition filter must SKIP non-matching files at
    the metadata tier — the scan reads matching partitions only."""
    t = IcebergTable.load(spark, orders_table.path)
    full = t.plan_scan()
    pruned = t.plan_scan(filter={"o_orderstatus": "F"})
    assert pruned.total_files == full.total_files
    assert 0 < len(pruned.files) < full.total_files
    # correctness of the pruned read vs a straight filter
    orders = load_table(spark, SF, "orders")
    expected = orders.where("o_orderstatus = 'F'").count() + \
        orders.limit(100).where("o_orderstatus = 'F'").count()
    assert t.read(filter={"o_orderstatus": "F"}).count() == expected


def test_bounds_pruning_gate(spark, tmp_root):
    """Min/max file skipping on a NON-partition column: range-sorted
    files carry disjoint o_orderkey bounds, so a narrow range
    predicate plans a 1-file scan."""
    orders = load_table(spark, SF, "orders")
    path = os.path.join(tmp_root, "orders_ranged")
    t = IcebergTable.create(
        spark, path, orders.repartitionByRange(4, F.col("o_orderkey"))
    )
    plan = t.plan_scan(filter={"o_orderkey": (1, 10)})
    assert plan.total_files == 4
    assert len(plan.files) == 1
    got = t.read(filter={"o_orderkey": (1, 10)}).count()
    assert got == orders.where("o_orderkey between 1 and 10").count()
    # an impossible double-range prunes everything
    assert t.plan_scan(filter={"o_totalprice": (-2.0, -1.0)}).files == []


def test_null_partition_value(spark, tmp_root):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a")], "id long, k string"
    )
    path = os.path.join(tmp_root, "nullpart")
    t = IcebergTable.create(spark, path, df, partition_by="k")
    assert t.read().count() == 3
    rows = t.read(filter={"k": [None]}).collect()
    assert [r.id for r in rows] == [2]
    assert t.read(filter={"k": "a"}).count() == 2


def test_register_table_adopts_iceberg(spark, orders_table):
    eng = Engine(spark)
    eng.register_table("ice_orders", orders_table.path)
    n = load_table(spark, SF, "orders").count()
    assert spark.table("ice_orders").count() == n + 100
    spark.catalog.dropTempView("ice_orders")


def test_unknown_delete_content_raises(spark, tmp_root):
    """A delete file of unknown content id must fail loudly, not
    silently return un-deleted rows. (Positional AND equality
    deletes ARE applied — see the merge-on-read suite below.)"""
    df = spark.createDataFrame([(1,), (2,)], "id long")
    path = os.path.join(tmp_root, "mor_unknown")
    t = IcebergTable.create(spark, path, df)
    # forge a future-content delete entry into the manifest file
    plan = t.plan_scan()
    meta_dir = os.path.join(path, "metadata")
    man = [f for f in os.listdir(meta_dir) if f.endswith("-m0.avro")]
    schema = manifest_entry_schema([])
    entry = {
        "status": 1, "snapshot_id": 1, "sequence_number": None,
        "file_sequence_number": None,
        "data_file": {
            "content": 3,  # not a spec content id
            "file_path": plan.files[0].path,
            "file_format": "PARQUET", "partition": {},
            "record_count": 1, "file_size_in_bytes": 10,
            "column_sizes": None, "value_counts": None,
            "null_value_counts": None, "nan_value_counts": None,
            "lower_bounds": None, "upper_bounds": None,
            "key_metadata": None, "split_offsets": None,
            "equality_ids": None, "sort_order_id": None,
        },
    }
    write_ocf(os.path.join(meta_dir, man[0]), schema, [entry])
    with pytest.raises(NotImplementedError, match="unknown content"):
        IcebergTable.load(spark, path).read()


def test_v1_metadata_adoption(spark, tmp_root):
    """Read a (synthesized) format-version 1 table: singular
    ``schema``/``partition-spec`` keys, v1 manifests without
    sequence numbers or ``content`` fields."""
    root = os.path.join(tmp_root, "v1tbl")
    os.makedirs(os.path.join(root, "metadata"))
    os.makedirs(os.path.join(root, "data"))
    df = spark.createDataFrame([(1, "x"), (2, "y")], "id long, s string")
    df.coalesce(1).write.parquet(os.path.join(root, "data", "d0"))
    pq_file = next(
        os.path.join(root, "data", "d0", f)
        for f in os.listdir(os.path.join(root, "data", "d0"))
        if f.endswith(".parquet")
    )
    v1_entry_schema = {
        "type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"], "default": None},
            {"name": "data_file", "type": {
                "type": "record", "name": "r2", "fields": [
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "partition", "type": {
                        "type": "record", "name": "r102", "fields": []}},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                ]}},
        ]}
    write_ocf(
        os.path.join(root, "metadata", "m0.avro"), v1_entry_schema,
        [{"status": 1, "snapshot_id": 99, "data_file": {
            "file_path": os.path.relpath(pq_file, root),
            "file_format": "PARQUET", "partition": {},
            "record_count": 2,
            "file_size_in_bytes": os.path.getsize(pq_file)}}],
    )
    v1_list_schema = {
        "type": "record", "name": "manifest_file", "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "manifest_length", "type": "long"},
            {"name": "partition_spec_id", "type": "int"},
            {"name": "added_snapshot_id", "type": ["null", "long"],
             "default": None},
        ]}
    write_ocf(
        os.path.join(root, "metadata", "snap-99.avro"), v1_list_schema,
        [{"manifest_path": "metadata/m0.avro",
          "manifest_length": 100, "partition_spec_id": 0,
          "added_snapshot_id": 99}],
    )
    meta = {
        "format-version": 1,
        "table-uuid": "00000000-0000-0000-0000-000000000000",
        "location": root,
        "last-updated-ms": 0,
        "last-column-id": 2,
        "schema": {"type": "struct", "fields": [
            {"id": 1, "name": "id", "required": False, "type": "long"},
            {"id": 2, "name": "s", "required": False, "type": "string"},
        ]},
        "partition-spec": [],
        "properties": {},
        "current-snapshot-id": 99,
        "snapshots": [{"snapshot-id": 99, "timestamp-ms": 0,
                       "manifest-list": "metadata/snap-99.avro"}],
    }
    with open(os.path.join(root, "metadata", "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    got = load_iceberg(spark, root).orderBy("id").collect()
    assert [(r.id, r.s) for r in got] == [(1, "x"), (2, "y")]


def test_schema_conversion_roundtrip(spark):
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("a", T.LongType()),
        T.StructField("b", T.StringType()),
        T.StructField("c", T.ArrayType(T.FloatType())),
        T.StructField("d", T.DecimalType(18, 2)),
        T.StructField("e", T.MapType(T.StringType(), T.IntegerType())),
        T.StructField("f", T.StructType([
            T.StructField("x", T.DoubleType()),
        ])),
        T.StructField("g", T.TimestampNTZType()),
        T.StructField("h", T.DateType()),
        T.StructField("i", T.BinaryType()),
        T.StructField("j", T.BooleanType()),
    ])
    ice, last_id = spark_to_iceberg_schema(schema)
    assert last_id >= 10
    ids = [f["id"] for f in ice["fields"]]
    assert ids == list(range(1, 11))  # top-level ids first, in order
    back = iceberg_to_spark_schema(ice)
    assert back == schema


def test_deterministic_snapshot_ids(spark, orders_table):
    snaps = IcebergTable.load(spark, orders_table.path).snapshots()
    assert [s["snapshot-id"] for s in snaps] == [1, 2]
    assert [s["sequence-number"] for s in snaps] == [1, 2]


def test_versioned_table_export(spark, tmp_root):
    """Bespoke VersionedTable -> spec Iceberg migration."""
    from hands_on_trino_iceberg_superset_spark.lakehouse import (
        VersionedTable,
    )

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0)],
        "id long, k string, v double",
    )
    vt = VersionedTable.create(
        spark, os.path.join(tmp_root, "vt"), df, partition_col="k"
    )
    vt.delete("id = 2")
    ice = vt.export_iceberg(os.path.join(tmp_root, "vt_ice"))
    got = sorted(
        (r.id, r.k) for r in
        IcebergTable.load(spark, ice.path).read().collect()
    )
    assert got == [(1, "a"), (3, "a")]
    # exported table is partition-pruned like any spec table
    plan = ice.plan_scan(filter={"k": "a"})
    assert len(plan.files) == plan.total_files  # only 'a' remains


def test_cow_delete_rewrites_only_touched_files(spark, tmp_root):
    """File-granularity COW: a delete confined to one partition must
    carry every other partition's files VERBATIM (same paths, same
    sequence numbers) into the new snapshot."""
    orders = load_table(spark, SF, "orders")
    path = os.path.join(tmp_root, "cow")
    t = IcebergTable.create(spark, path, orders,
                            partition_by="o_orderstatus")
    before = {f.path: f.sequence_number for f in t.plan_scan().files}
    t.delete("o_orderstatus = 'F' AND o_orderkey % 10 = 0")
    after = {f.path: f.sequence_number for f in t.plan_scan().files}
    carried = set(before) & set(after)
    assert carried  # O and P partition files survive untouched
    for p in carried:
        assert after[p] == before[p]  # original sequence numbers
    assert set(after) - set(before)  # the rewritten F file is new
    expected = orders.where(
        "NOT (o_orderstatus = 'F' AND o_orderkey % 10 = 0)"
    ).count()
    assert t.read().count() == expected
    # pre-DML snapshot still reads the original rows
    assert t.read(snapshot_id=1).count() == orders.count()


def test_cow_update_and_noop(spark, tmp_root):
    orders = load_table(spark, SF, "orders")
    path = os.path.join(tmp_root, "cow_upd")
    t = IcebergTable.create(spark, path, orders,
                            partition_by="o_orderstatus")
    t.update({"o_totalprice": "o_totalprice + 1000"},
             "o_orderstatus = 'P'")
    got = (t.read().agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
    ).collect()[0][0])
    n_p = orders.where("o_orderstatus = 'P'").count()
    exp = (orders.agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
    ).collect()[0][0]) + 1000 * n_p
    assert got == exp
    # predicate matching nothing: NO new snapshot
    n_snaps = len(t.snapshots())
    t.delete("o_orderkey = -1")
    assert len(t.snapshots()) == n_snaps


def test_cow_visible_to_fresh_reader(spark, tmp_root):
    df = spark.createDataFrame(
        [(i, "k%d" % (i % 3)) for i in range(30)], "id long, k string"
    )
    path = os.path.join(tmp_root, "cow_fresh")
    t = IcebergTable.create(spark, path, df, partition_by="k")
    t.delete("id >= 20")
    fresh = IcebergTable.load(spark, path)
    assert fresh.read().count() == 20
    assert sorted(r.id for r in fresh.read(filter={"k": "k0"}).collect()) == \
        [0, 3, 6, 9, 12, 15, 18]


def test_expire_snapshots_reclaims_files(spark, tmp_root):
    orders = load_table(spark, SF, "orders")
    path = os.path.join(tmp_root, "expire")
    t = IcebergTable.create(spark, path, orders,
                            partition_by="o_orderstatus")
    t.delete("o_orderkey % 10 = 0")  # snapshot 2 rewrites every file
    n_parquet_before = sum(
        1 for _r, _d, ns in os.walk(os.path.join(path, "data"))
        for n in ns if n.endswith(".parquet")
    )
    expired = t.expire_snapshots(keep_last=1)
    assert expired == [1]
    n_parquet_after = sum(
        1 for _r, _d, ns in os.walk(os.path.join(path, "data"))
        for n in ns if n.endswith(".parquet")
    )
    assert n_parquet_after < n_parquet_before  # snapshot-1 files gone
    fresh = IcebergTable.load(spark, path)
    assert len(fresh.snapshots()) == 1
    assert fresh.read().count() == \
        orders.where("o_orderkey % 10 <> 0").count()
    with pytest.raises(ValueError, match="no snapshot"):
        fresh.read(snapshot_id=1)


def test_remove_orphan_files(spark, tmp_root):
    df = spark.createDataFrame([(1,), (2,)], "id long")
    path = os.path.join(tmp_root, "orphans")
    t = IcebergTable.create(spark, path, df)
    # crash debris: a parquet file no manifest references
    stray_dir = os.path.join(path, "data", "seq99")
    df.coalesce(1).write.parquet(stray_dir)
    found = t.remove_orphan_files(dry_run=True)
    assert len(found) == 1 and "seq99" in found[0]
    assert os.path.exists(found[0])  # dry run leaves it
    t.remove_orphan_files()
    assert not os.path.exists(found[0])
    assert t.read().count() == 2  # live data untouched


def test_stream_append_iceberg(spark, tmp_root):
    """Streaming micro-batches land as append snapshots on the
    spec-format table; snapshot history == batch history."""
    from hands_on_trino_iceberg_superset_spark.streaming.pipeline import (
        stream_append_iceberg,
    )

    base = spark.createDataFrame(
        [(0, "seed")], "id long, tag string"
    )
    path = os.path.join(tmp_root, "stream_ice")
    table = IcebergTable.create(spark, path, base)

    src = os.path.join(tmp_root, "stream_src")
    os.makedirs(src)
    ckpt = os.path.join(tmp_root, "stream_ckpt")
    spark.createDataFrame(
        [(i, "b0") for i in range(1, 6)], "id long, tag string"
    ).coalesce(1).write.parquet(os.path.join(src, "b0"))

    stream = (
        spark.readStream.schema("id long, tag string")
        .option("recursiveFileLookup", "true").parquet(src)
    )
    q = stream_append_iceberg(stream, table, ckpt)
    q.processAllAvailable()
    spark.createDataFrame(
        [(i, "b1") for i in range(6, 9)], "id long, tag string"
    ).coalesce(1).write.parquet(os.path.join(src, "b1"))
    q.processAllAvailable()
    q.stop()

    fresh = IcebergTable.load(spark, path)
    assert fresh.read().count() == 9
    ops = [s["summary"]["operation"] for s in fresh.snapshots()]
    assert ops == ["append"] * len(ops) and len(ops) >= 3
    # time travel to the pre-b1 ingest point
    pre_b1 = sorted(s["snapshot-id"] for s in fresh.snapshots())[-2]
    assert fresh.read(snapshot_id=pre_b1).count() == 6


def test_schema_evolution_add_column(spark, tmp_root):
    from pyspark.sql import types as T

    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, k string"
    )
    path = os.path.join(tmp_root, "evolve")
    t = IcebergTable.create(spark, path, df, partition_by="k")
    t.add_column("score", T.DoubleType())
    # old files read as NULL for the new column
    fresh = IcebergTable.load(spark, path)
    assert [f.name for f in fresh.spark_schema().fields] == \
        ["id", "k", "score"]
    rows = {r.id: r.score for r in fresh.read().collect()}
    assert rows == {1: None, 2: None}
    # new appends carry the column; old rows stay NULL
    fresh.append(spark.createDataFrame(
        [(3, "a", 0.5)], "id long, k string, score double"
    ))
    rows = {r.id: r.score for r in fresh.read().collect()}
    assert rows == {1: None, 2: None, 3: 0.5}
    # fresh field id is beyond the original id space
    schema = fresh.current_schema()
    assert schema["fields"][-1]["id"] == 3 and schema["schema-id"] == 1
    with pytest.raises(ValueError, match="already exists"):
        fresh.add_column("score", T.DoubleType())


def test_sql_surface_over_iceberg(spark, tmp_root):
    """Full SQL surface on spec metadata: SELECT, time travel by
    snapshot id, and routed DELETE/UPDATE through the engine."""
    df = spark.createDataFrame(
        [(i, "k%d" % (i % 2), float(i)) for i in range(1, 11)],
        "id long, k string, v double",
    )
    path = os.path.join(tmp_root, "sqltbl")
    t = IcebergTable.create(spark, path, df, partition_by="k")
    eng = Engine(spark)
    eng.register_iceberg_table("ice_sql", t)

    assert eng.sql("SELECT count(*) AS n FROM ice_sql").collect()[0].n == 10
    out = eng.sql("DELETE FROM ice_sql WHERE id > 8")
    assert out.collect()[0].rows_affected == 2
    eng.sql("UPDATE ice_sql SET v = v + 100 WHERE k = 'k0'")
    got = eng.sql(
        "SELECT CAST(sum(v) AS LONG) AS s FROM ice_sql"
    ).collect()[0].s
    expected = sum(
        i + (100 if i % 2 == 0 else 0) for i in range(1, 9)
    )
    assert got == expected
    # time travel to the original snapshot
    n0 = eng.sql(
        "SELECT count(*) AS n FROM ice_sql FOR VERSION AS OF 1"
    ).collect()[0].n
    assert n0 == 10
    # the three statements produced three snapshots
    assert len(IcebergTable.load(spark, path).snapshots()) == 3


def test_incremental_read(spark, tmp_root):
    """Snapshot-range consumption: a consumer holding the last seen
    snapshot id reads ONLY the appended delta."""
    df0 = spark.createDataFrame(
        [(i, "b0") for i in range(5)], "id long, tag string"
    )
    path = os.path.join(tmp_root, "incr")
    t = IcebergTable.create(spark, path, df0)
    t.append(spark.createDataFrame(
        [(i, "b1") for i in range(5, 8)], "id long, tag string"))
    t.append(spark.createDataFrame(
        [(i, "b2") for i in range(8, 12)], "id long, tag string"))

    delta = t.read_incremental(from_snapshot_id=1)
    assert sorted(r.id for r in delta.collect()) == list(range(5, 12))
    just_b1 = t.read_incremental(from_snapshot_id=1, to_snapshot_id=2)
    assert sorted(r.tag for r in just_b1.collect()) == ["b1"] * 3
    assert t.read_incremental(from_snapshot_id=3).count() == 0
    with pytest.raises(ValueError, match="no snapshot"):
        t.read_incremental(from_snapshot_id=99)


def test_merge_into_spec_table(spark, tmp_root):
    df = spark.createDataFrame(
        [(i, "k%d" % (i % 2), float(i)) for i in range(1, 7)],
        "id long, k string, v double",
    )
    path = os.path.join(tmp_root, "merge")
    t = IcebergTable.create(spark, path, df, partition_by="k")
    before = {f.path for f in t.plan_scan().files}
    src = spark.createDataFrame(
        [(2, "k0", 0.0), (100, "k0", 7.5)],  # one update, one insert
        "id long, k string, v double",
    )
    t.merge(src, on="id", when_matched_update={"v": "s.v + 1000"})
    rows = {r.id: r.v for r in t.read().collect()}
    assert rows[2] == 1000.0          # updated: 0.0 + 1000
    assert rows[100] == 7.5           # inserted
    assert rows[1] == 1.0             # untouched row intact
    assert len(rows) == 7
    # only files holding matched keys were rewritten: the k1
    # partition file (ids 1,3,5 — no matches) carried verbatim
    after = {f.path for f in t.plan_scan().files}
    assert before & after
    # duplicate/NULL source keys raise up front
    with pytest.raises(ValueError, match="duplicate"):
        t.merge(spark.createDataFrame(
            [(1, "k0", 0.0), (1, "k0", 1.0)],
            "id long, k string, v double"), on="id")
    with pytest.raises(ValueError, match="NULL"):
        t.merge(spark.createDataFrame(
            [(None, "k0", 0.0)], "id long, k string, v double"),
            on="id")


def test_incremental_survives_overwrite_carry(spark, tmp_root):
    """A file appended inside the range and then CARRIED through a
    later overwrite snapshot must still appear in the incremental
    read (status-0 entries keep their original sequence numbers)."""
    df0 = spark.createDataFrame(
        [(i, "k0") for i in range(3)], "id long, k string"
    )
    path = os.path.join(tmp_root, "incr_ow")
    t = IcebergTable.create(spark, path, df0, partition_by="k")
    t.append(spark.createDataFrame(
        [(i, "k1") for i in range(10, 13)], "id long, k string"))
    # overwrite touching ONLY the k0 partition; k1's file carries
    t.delete("k = 'k0' AND id = 0")
    delta = t.read_incremental(from_snapshot_id=1)
    got = sorted(r.id for r in delta.collect())
    # the k1 batch (seq 2) must be present despite the carry;
    # the rewritten k0 file (seq 3) also surfaces (overwrite
    # replay contract, documented)
    assert set(range(10, 13)) <= set(got)


def test_bucket_on_timestamp_with_nulls(spark, tmp_root):
    import datetime as dt

    df = spark.createDataFrame(
        [(1, dt.datetime(2020, 1, 1)), (2, None),
         (3, dt.datetime(2021, 6, 1))],
        "id long, ts timestamp_ntz",
    )
    path = os.path.join(tmp_root, "bucket_ts")
    t = IcebergTable.create(spark, path, df,
                            partition_by="bucket(4, ts)")
    assert t.read().count() == 3
    assert sorted(r.id for r in
                  t.read(filter={"ts": [None]}).collect()) == [2]


def test_concurrent_append_rebase(spark, tmp_root):
    """Two writer handles on the same table: the loser's append must
    rebase onto the winner's head — both commits land."""
    df = spark.createDataFrame([(0, "seed")], "id long, tag string")
    path = os.path.join(tmp_root, "cas")
    a = IcebergTable.create(spark, path, df)
    b = IcebergTable.load(spark, path)  # independent stale handle
    a.append(spark.createDataFrame([(1, "a")], "id long, tag string"))
    # b's in-memory head is stale: its publish attempt conflicts on
    # the version file and must rebase onto a's commit
    b.append(spark.createDataFrame([(2, "b")], "id long, tag string"))
    fresh = IcebergTable.load(spark, path)
    assert sorted(r.id for r in fresh.read().collect()) == [0, 1, 2]
    assert len(fresh.snapshots()) == 3


def test_concurrent_dml_conflict_raises(spark, tmp_root):
    from hands_on_trino_iceberg_superset_spark.lakehouse.iceberg import (
        CommitConflict,
    )

    df = spark.createDataFrame(
        [(i, "x") for i in range(10)], "id long, tag string"
    )
    path = os.path.join(tmp_root, "cas_dml")
    a = IcebergTable.create(spark, path, df)
    b = IcebergTable.load(spark, path)
    a.delete("id = 1")
    with pytest.raises(CommitConflict):
        b.delete("id = 2")  # stale read set: must not silently clobber


def test_partition_evolution(spark, tmp_root):
    """identity(k) -> bucket(4, id): both file generations keep
    pruning under their own spec; compaction migrates everything to
    the current layout."""
    df0 = spark.createDataFrame(
        [(i, "k%d" % (i % 3)) for i in range(30)], "id long, k string"
    )
    path = os.path.join(tmp_root, "evolve_part")
    t = IcebergTable.create(spark, path, df0, partition_by="k")
    t.update_partition_spec("bucket(4, id)")
    t.append(spark.createDataFrame(
        [(i, "k9") for i in range(100, 120)], "id long, k string"))

    fresh = IcebergTable.load(spark, path)
    assert fresh.read().count() == 50
    # old generation still prunes on k (identity spec)
    p_k = fresh.plan_scan(filter={"k": "k1"})
    assert len(p_k.files) < p_k.total_files
    assert fresh.read(filter={"k": "k1"}).count() == 10
    # new generation prunes on id (bucket spec)
    p_id = fresh.plan_scan(filter={"id": [105]})
    new_gen = [f for f in p_id.files if f.spec_id != 0]
    assert len(new_gen) <= 1
    assert fresh.read(filter={"id": [105]}).count() == 1

    # DML across mixed specs: carried files keep their spec
    fresh.delete("id = 0")
    assert fresh.read().count() == 49
    # compaction rewrites everything under the current (bucket) spec
    fresh.rewrite_data_files()
    after = IcebergTable.load(spark, path)
    assert after.read().count() == 49
    assert all(f.spec_id == after.meta["default-spec-id"]
               for f in after.plan_scan().files)
    assert after.read(filter={"k": "k1"}).count() == 10


# ---------------------------------------------------- merge-on-read


def test_mor_delete_leaves_data_files_untouched(spark, tmp_root):
    """merge-on-read DELETE: no data file is rewritten — the snapshot
    adds only positional delete files, reads subtract them, and time
    travel to the pre-delete snapshot still sees every row."""
    path = os.path.join(tmp_root, "mor_del")
    df = spark.range(100).selectExpr("id", "id % 7 as grp")
    t = IcebergTable.create(spark, path, df)
    files_before = {f.path for f in t.plan_scan().files}
    t.delete("id % 10 = 3", mode="merge-on-read")
    plan = t.plan_scan()
    assert {f.path for f in plan.files} == files_before  # untouched
    assert len(plan.deletes) >= 1
    assert t.read().count() == 90
    assert t.read().where("id % 10 = 3").count() == 0
    snaps = t.snapshots()
    assert snaps[-1]["summary"]["mode"] == "merge-on-read"
    assert t.read(snapshot_id=snaps[0]["snapshot-id"]).count() == 100
    # no matching rows -> no new snapshot
    n = len(t.snapshots())
    t.delete("id = -1", mode="merge-on-read")
    assert len(t.snapshots()) == n


def test_mor_update_one_snapshot(spark, tmp_root):
    """merge-on-read UPDATE: matched rows are positionally deleted
    and their updated images appended — ONE snapshot, both visible
    atomically, original files untouched."""
    path = os.path.join(tmp_root, "mor_upd")
    df = spark.range(50).selectExpr("id", "cast(id as double) as val")
    t = IcebergTable.create(spark, path, df)
    n_snaps = len(t.snapshots())
    t.update({"val": "val + 1000"}, "id < 10", mode="merge-on-read")
    assert len(t.snapshots()) == n_snaps + 1
    got = t.read().selectExpr("sum(val) as s").collect()[0].s
    assert got == sum(range(50)) + 10 * 1000
    assert t.read().count() == 50


def test_mor_stacks_and_survives_cow(spark, tmp_root):
    """Stacked MOR deletes both apply; a later COW DML carries the
    live delete manifests (carried files keep their deletes, touched
    files materialize them); compaction clears all delete files."""
    path = os.path.join(tmp_root, "mor_stack")
    df = spark.range(100).selectExpr("id", "id % 7 as grp")
    t = IcebergTable.create(spark, path, df)
    t.delete("id % 10 = 3", mode="merge-on-read")
    t.delete("id % 10 = 4", mode="merge-on-read")
    assert t.read().count() == 80
    t.delete("grp = 0", mode="copy-on-write")
    expect = len([i for i in range(100)
                  if i % 10 not in (3, 4) and i % 7 != 0])
    assert t.read().count() == expect
    assert len(t.plan_scan().deletes) >= 1  # carried forward
    t.rewrite_data_files()
    reloaded = IcebergTable.load(spark, path)
    assert reloaded.plan_scan().deletes == []
    assert reloaded.read().count() == expect


def test_mor_partitioned_pruned_read_applies_deletes(spark, tmp_root):
    """Partition-pruned reads still subtract positional deletes:
    delete manifests are exempt from pruning, so a filtered scan of
    one partition never resurrects rows deleted in it."""
    path = os.path.join(tmp_root, "mor_part")
    df = spark.range(90).selectExpr(
        "id", "concat('k', id % 3) as k"
    )
    t = IcebergTable.create(spark, path, df, partition_by="k")
    t.delete("k = 'k1' and id < 40", mode="merge-on-read")
    plan = t.plan_scan(filter={"k": "k1"})
    assert len(plan.files) < plan.total_files  # data pruned
    assert len(plan.deletes) >= 1              # deletes kept
    got = t.read(filter={"k": "k1"}).count()
    assert got == len([i for i in range(90)
                       if i % 3 == 1 and not i < 40])
    # untouched partition unaffected
    assert t.read(filter={"k": "k0"}).count() == 30


def test_mor_merge_does_not_resurrect(spark, tmp_root):
    """MERGE on a table with live positional deletes reads the
    deletes during touched-file planning and rewrite — a MOR-deleted
    row must not reappear via the merge's file rewrite."""
    path = os.path.join(tmp_root, "mor_merge")
    df = spark.range(20).selectExpr("id", "cast(0 as long) as v")
    t = IcebergTable.create(spark, path, df)
    t.delete("id = 5", mode="merge-on-read")
    src = spark.createDataFrame([(6, 66), (100, 1)], "id long, v long")
    t.merge(src, on="id", when_matched_update={"v": "s.v"})
    out = {r.id: r.v for r in t.read().collect()}
    assert 5 not in out          # stayed deleted
    assert out[6] == 66          # matched update applied
    assert out[100] == 1         # unmatched inserted
    assert len(out) == 20        # 20 - 1 deleted + 1 inserted


def test_mor_incremental_read_skips_delete_manifests(spark, tmp_root):
    """Incremental consumption over a snapshot range containing MOR
    deletes returns only genuinely ADDED data rows."""
    path = os.path.join(tmp_root, "mor_inc")
    t = IcebergTable.create(
        spark, path, spark.range(10).selectExpr("id")
    )
    s0 = t.snapshots()[-1]["snapshot-id"]
    t.delete("id = 1", mode="merge-on-read")
    t.append(spark.range(100, 105).selectExpr("id"))
    inc = t.read_incremental(s0)
    got = sorted(r.id for r in inc.collect())
    assert got == [100, 101, 102, 103, 104]


def test_equality_delete_no_scan(spark, tmp_root):
    """equality_delete removes rows by key without planning a scan;
    strict sequence rule: only data STRICTLY older than the delete
    is affected, and null keys match null values null-safely."""
    path = os.path.join(tmp_root, "eq_del")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "c")], "id long, s string"
    )
    t = IcebergTable.create(spark, path, df)
    t.equality_delete(spark.createDataFrame([(2,), (None,)], "id long"))
    got = sorted(r.s for r in t.read().collect())
    assert got == ["a"]  # 2 gone; NULL key matched NULL id
    # rows appended AFTER the delete are untouched (strict <)
    t.append(spark.createDataFrame([(2, "b2")], "id long, s string"))
    got = sorted(r.s for r in t.read().collect())
    assert got == ["a", "b2"]


def test_upsert_single_snapshot_no_table_scan(spark, tmp_root):
    """upsert = equality-delete keys + append rows in ONE snapshot;
    the batch's own rows survive its own delete (same sequence
    number, strict < rule) and older versions of the keys vanish."""
    path = os.path.join(tmp_root, "upsert")
    t = IcebergTable.create(
        spark,
        path,
        spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30)], "id long, v long"
        ),
    )
    n0 = len(t.snapshots())
    t.upsert(
        spark.createDataFrame([(2, 200), (9, 900)], "id long, v long"),
        on="id",
    )
    assert len(t.snapshots()) == n0 + 1
    out = {r.id: r.v for r in t.read().collect()}
    assert out == {1: 10, 2: 200, 3: 30, 9: 900}
    # stacked upserts: later one wins for overlapping keys
    t.upsert(
        spark.createDataFrame([(9, 999)], "id long, v long"), on="id"
    )
    out = {r.id: r.v for r in t.read().collect()}
    assert out[9] == 999 and out[2] == 200
    # a fresh foreign-style adoption sees the same state
    out2 = {r.id: r.v
            for r in IcebergTable.load(spark, path).read().collect()}
    assert out2 == out
    # compaction materializes equality deletes away
    t.rewrite_data_files()
    fresh = IcebergTable.load(spark, path)
    assert fresh.plan_scan().deletes == []
    assert {r.id: r.v for r in fresh.read().collect()} == out


def test_upsert_composite_key_and_time_travel(spark, tmp_root):
    path = os.path.join(tmp_root, "upsert_ck")
    t = IcebergTable.create(
        spark,
        path,
        spark.createDataFrame(
            [(1, "x", 10), (1, "y", 11), (2, "x", 20)],
            "a long, b string, v long",
        ),
    )
    s0 = t.snapshots()[-1]["snapshot-id"]
    t.upsert(
        spark.createDataFrame([(1, "y", 111)], "a long, b string, v long"),
        on=["a", "b"],
    )
    out = {(r.a, r.b): r.v for r in t.read().collect()}
    assert out == {(1, "x"): 10, (1, "y"): 111, (2, "x"): 20}
    # time travel to pre-upsert state ignores the later delete file
    old = {(r.a, r.b): r.v
           for r in t.read(snapshot_id=s0).collect()}
    assert old[(1, "y")] == 11


# ------------------------------------------- refs + metadata tables


def test_tags_pin_snapshots_and_survive_expiry(spark, tmp_root):
    """A tag makes read(ref=) reproducible and pins its snapshot
    against expire_snapshots — the training-data-release primitive."""
    path = os.path.join(tmp_root, "refs")
    t = IcebergTable.create(spark, path, spark.range(10).selectExpr("id"))
    t.create_tag("v1.0")
    t.append(spark.range(100, 110).selectExpr("id"))
    t.append(spark.range(200, 210).selectExpr("id"))
    assert t.read(ref="v1.0").count() == 10
    assert t.read(ref="main").count() == 30
    # expiry keeps the tagged snapshot alive
    expired = t.expire_snapshots(keep_last=1)
    assert len(expired) == 1  # only the untagged middle snapshot
    assert t.read(ref="v1.0").count() == 10
    assert t.read().count() == 30
    # foreign adoption sees the refs
    fresh = IcebergTable.load(spark, path)
    assert fresh.refs()["v1.0"]["type"] == "tag"
    assert fresh.read(ref="v1.0").count() == 10
    # tags are immutable; branches fast-forward
    with pytest.raises(ValueError, match="immutable"):
        t.fast_forward("v1.0", t.snapshots()[-1]["snapshot-id"])
    t.create_branch("audit", t.snapshots()[0]["snapshot-id"])
    t.fast_forward("audit", t.snapshots()[-1]["snapshot-id"])
    assert t.read(ref="audit").count() == 30
    t.drop_ref("audit")
    with pytest.raises(ValueError, match="no ref"):
        t.read(ref="audit")
    with pytest.raises(ValueError, match="cannot drop"):
        t.drop_ref("main")


def test_metadata_tables(spark, tmp_root):
    """table$snapshots/history/manifests/files/partitions/refs as
    DataFrames — the introspection surface Trino exposes."""
    path = os.path.join(tmp_root, "meta_tbl")
    df = spark.range(40).selectExpr("id", "concat('k', id % 2) as k")
    t = IcebergTable.create(spark, path, df, partition_by="k")
    t.delete("id = 7", mode="merge-on-read")

    snaps = t.metadata_table("snapshots")
    assert snaps.count() == 2
    ops = [r.operation for r in snaps.orderBy("sequence_number").collect()]
    assert ops == ["append", "delete"]

    hist = t.metadata_table("history")
    assert hist.count() == 2
    assert all(r.is_current_ancestor for r in hist.collect())

    refs = {r.name: r.type for r in t.metadata_table("refs").collect()}
    assert refs == {"main": "branch"}

    mans = t.metadata_table("manifests")
    assert mans.where("content = 1").count() == 1  # delete manifest

    files = t.metadata_table("files")
    assert files.where("content = 1").count() >= 1
    data_rows = files.where("content = 0").count()
    assert data_rows == len(t.plan_scan().files)

    parts = {r.partition: r.record_count
             for r in t.metadata_table("partitions").collect()}
    assert sum(parts.values()) == 40  # record counts are pre-delete
    assert len(parts) == 2

    with pytest.raises(ValueError, match="unknown metadata table"):
        t.metadata_table("nope")


def test_sorted_compaction_enables_bounds_pruning(spark, tmp_root):
    """rewrite_data_files(sort_by=...) clusters the layout: before,
    a narrow range predicate scans every file (random layout = every
    file's bounds straddle the range); after, bounds pruning plans
    ~1 of N files, and the sort order is recorded in metadata."""
    path = os.path.join(tmp_root, "sorted")
    # deliberately scrambled layout: hash-partitioned on a hash
    df = (
        spark.range(40_000)
        .selectExpr("id", "id % 100 as g")
        .repartition(4, F.col("g"))
    )
    t = IcebergTable.create(spark, path, df)
    before = t.plan_scan(filter={"id": (100, 200)})
    assert len(before.files) == before.total_files  # nothing skipped

    t.rewrite_data_files(sort_by=["id"], target_files=8)
    after = t.plan_scan(filter={"id": (100, 200)})
    assert after.total_files == 8
    assert len(after.files) == 1  # clustered: one file covers range
    assert t.read(filter={"id": (100, 200)}).count() == 101
    assert t.read().count() == 40_000
    # sort order landed in metadata and is the default
    fresh = IcebergTable.load(spark, path)
    sid = fresh.meta["default-sort-order-id"]
    order = next(o for o in fresh.meta["sort-orders"]
                 if o["order-id"] == sid)
    assert [f["direction"] for f in order["fields"]] == ["asc"]


def test_sql_metadata_tables(spark, tmp_root):
    """Trino's tbl$snapshots-style introspection through the SQL
    surface, refreshed by SQL DML."""
    path = os.path.join(tmp_root, "sql_meta")
    t = IcebergTable.create(
        spark, path, spark.range(30).selectExpr("id")
    )
    eng = Engine(spark)
    eng.register_iceberg_table("mtbl", t)
    assert eng.sql("SELECT count(*) AS n FROM `mtbl$snapshots`") \
        .collect()[0].n == 1
    refs = eng.sql("SELECT name, type FROM `mtbl$refs`").collect()
    assert [(r.name, r.type) for r in refs] == [("main", "branch")]
    # SQL DML commits a snapshot AND refreshes the $views
    eng.sql("DELETE FROM mtbl WHERE id < 5")
    assert eng.sql("SELECT count(*) AS n FROM `mtbl$snapshots`") \
        .collect()[0].n == 2
    ops = [r.operation for r in eng.sql(
        "SELECT operation FROM `mtbl$snapshots` "
        "ORDER BY sequence_number").collect()]
    assert ops == ["append", "overwrite"]
    assert eng.sql("SELECT count(*) AS n FROM mtbl").collect()[0].n == 25


def test_sql_metadata_views_build_when_read(spark, tmp_root,
                                             monkeypatch):
    """The `t$kind` views are built from current metadata by the
    statement that reads them, never at registration or commit: after
    each of INSERT, UPDATE and CALL rewrite_data_files, `t$snapshots`
    and `t$files` (and an engine view over `t$snapshots`) show the new
    snapshot, while registration and the commits themselves call
    metadata_table zero times."""
    calls: list[str] = []
    original = IcebergTable.metadata_table

    def spy(self, kind):
        calls.append(kind)
        return original(self, kind)

    monkeypatch.setattr(IcebergTable, "metadata_table", spy)
    path = os.path.join(tmp_root, "lazy_meta")
    t = IcebergTable.create(spark, path, spark.range(40).selectExpr(
        "id", "id % 3 AS k"))
    eng = Engine(spark)
    eng.register_iceberg_table("lazy_t", t)
    assert calls == []
    eng.sql("CREATE OR REPLACE VIEW lazy_head_v AS SELECT max(snapshot_id) "
            "AS head FROM `lazy_t$snapshots`")
    assert calls == ["snapshots"]
    try:
        for stmt in (
            "INSERT INTO lazy_t SELECT id + 100, k FROM lazy_t "
            "WHERE id < 5",
            "UPDATE lazy_t SET k = 7 WHERE id BETWEEN 10 AND 14",
            "CALL system.rewrite_data_files(table => 'lazy_t')",
        ):
            calls.clear()
            eng.sql(stmt).collect()
            assert calls == [], stmt
            head = t.meta["current-snapshot-id"]
            snaps = eng.sql(
                "SELECT snapshot_id FROM `lazy_t$snapshots`").collect()
            assert head in {r.snapshot_id for r in snaps}, stmt
            files = eng.sql(
                'SELECT file_path FROM "lazy_t$files" WHERE content = 0'
            ).collect()
            assert {r.file_path for r in files} == \
                {f.path for f in t.plan_scan().files}, stmt
            assert eng.sql("SELECT head FROM lazy_head_v") \
                .collect()[0].head == head, stmt
            assert sorted(calls) == ["files", "snapshots", "snapshots"]
    finally:
        eng.sql("DROP VIEW IF EXISTS lazy_head_v")


def test_sql_update_rows_affected_from_probe(spark, tmp_root,
                                             count_jobs):
    """SQL UPDATE's rows_affected counts the rows its predicate
    matches: a row whose predicate is NULL is not counted, and the
    count comes from the touched-file probe, so the statement runs
    at most 3 Spark jobs."""
    path = os.path.join(tmp_root, "upd_rows")
    t = IcebergTable.create(spark, path, spark.range(100).selectExpr(
        "id", "IF(id % 10 = 0, NULL, id) AS n", "0 AS v"))
    eng = Engine(spark)
    eng.register_iceberg_table("upd_rows_t", t)
    out, jobs = count_jobs(lambda: eng.sql(
        "UPDATE upd_rows_t SET v = 1 WHERE n < 50").collect())
    # ids 1..49 minus the NULL-n ids 10, 20, 30, 40
    assert out[0].rows_affected == 45
    assert jobs <= 3
    assert eng.sql("SELECT count(*) AS c FROM upd_rows_t WHERE v = 1") \
        .collect()[0].c == 45
    none = eng.sql("UPDATE upd_rows_t SET v = 2 WHERE id < 0").collect()
    assert none[0].rows_affected == 0


def test_sql_update_rows_affected_skips_mor_deleted_rows(spark,
                                                         tmp_root):
    """On a table carrying merge-on-read position deletes, rows those
    deletes removed are not counted (nor updated) by a SQL UPDATE."""
    path = os.path.join(tmp_root, "upd_rows_mor")
    t = IcebergTable.create(spark, path, spark.range(100).selectExpr(
        "id", "0 AS v"))
    assert t.delete("id < 20", mode="merge-on-read") == 20
    assert t.plan_scan().deletes
    eng = Engine(spark)
    eng.register_iceberg_table("upd_rows_mor_t", t)
    out = eng.sql(
        "UPDATE upd_rows_mor_t SET v = 1 WHERE id < 50").collect()
    assert out[0].rows_affected == 30
    rows = eng.sql("SELECT count(*) AS c, sum(v) AS s "
                   "FROM upd_rows_mor_t").collect()[0]
    assert (rows.c, rows.s) == (80, 30)


def test_mor_dml_reports_matched_count(spark, tmp_root):
    """The merge-on-read DML path returns its matched row count too
    (one position-delete record per matched row); NULL predicates
    and already-deleted rows do not count."""
    path = os.path.join(tmp_root, "mor_count")
    t = IcebergTable.create(spark, path, spark.range(60).selectExpr(
        "id", "IF(id % 10 = 0, NULL, id) AS n", "0 AS v"))
    assert t.update({"v": "1"}, "n < 30", mode="merge-on-read") == 27
    assert t.delete("n < 10", mode="merge-on-read") == 9
    # ids 11..29 still live (minus NULL-n 20): updated again
    assert t.update({"v": "2"}, "n < 30", mode="merge-on-read") == 18
    assert t.delete("id < 0", mode="merge-on-read") == 0
    assert t.read().where("v = 2").count() == 18


def test_zorder_compaction_prunes_both_dimensions(spark, tmp_root):
    """Z-order clustering: after rewrite_data_files(zorder=True) on
    (x, y), a narrow range predicate on EITHER column prunes files —
    plain lexicographic sort would only prune on the leading one."""
    path = os.path.join(tmp_root, "zorder")
    # 100x100 grid in random layout
    df = (
        spark.range(10_000)
        .selectExpr("id % 100 as x",
                    "cast(id / 100 as long) as y",
                    "id as payload")
        .repartition(8)
    )
    t = IcebergTable.create(spark, path, df)
    before_x = t.plan_scan(filter={"x": (10, 15)})
    assert len(before_x.files) == before_x.total_files  # no skipping

    t.rewrite_data_files(sort_by=["x", "y"], target_files=16,
                         zorder=True)
    after_x = t.plan_scan(filter={"x": (10, 15)})
    after_y = t.plan_scan(filter={"y": (10, 15)})
    assert after_x.total_files == 16
    # both dimensions skip the majority of files
    assert len(after_x.files) <= 8
    assert len(after_y.files) <= 8
    # correctness: counts match the predicate exactly
    assert t.read(filter={"x": (10, 15)}).count() == 6 * 100
    assert t.read(filter={"y": (10, 15)}).count() == 6 * 100
    assert t.read().count() == 10_000
    fresh = IcebergTable.load(spark, path)
    assert fresh.meta["properties"]["write.zorder.columns"] == "x,y"


def test_write_audit_publish(spark, tmp_root):
    """WAP: a staged append is invisible to current-state readers,
    auditable by snapshot id, publishable via cherry_pick — and
    cherry_pick refuses when an interleaved commit moved the head."""
    path = os.path.join(tmp_root, "wap")
    t = IcebergTable.create(spark, path, spark.range(10).selectExpr("id"))
    t.append(spark.range(100, 120).selectExpr("id"), stage_only=True)
    staged = t.snapshots()[-1]
    assert staged["summary"]["wap.staged"] == "true"
    assert t.read().count() == 10                      # head unmoved
    assert t.read(ref="main").count() == 10
    audit = t.read(snapshot_id=staged["snapshot-id"])  # auditor view
    assert audit.count() == 30
    # audit passes -> publish
    t.cherry_pick(staged["snapshot-id"])
    assert t.read().count() == 30
    fresh = IcebergTable.load(spark, path)
    assert fresh.read().count() == 30

    # staleness: stage, interleave a commit, cherry-pick must refuse
    t.append(spark.range(200, 205).selectExpr("id"), stage_only=True)
    staged2 = t.snapshots()[-1]["snapshot-id"]
    t.append(spark.range(300, 303).selectExpr("id"))  # interleaved
    from hands_on_trino_iceberg_superset_spark.lakehouse.iceberg import (
        CommitConflict,
    )
    with pytest.raises(CommitConflict, match="re-stage"):
        t.cherry_pick(staged2)
    assert t.read().count() == 33  # 30 + 3, staged 5 still invisible


def test_continuous_aggregate_incremental_refresh(spark, tmp_root):
    """Hypertable-rollup pattern: the materialized hourly aggregate
    refreshes from the snapshot DELTA only and equals a full
    recompute; non-append source history refuses to refresh."""
    from hands_on_trino_iceberg_superset_spark.lakehouse.rollup import (
        ContinuousAggregate,
    )

    src_path = os.path.join(tmp_root, "ca_src")
    events = spark.range(2_000).selectExpr(
        "id",
        "timestampadd(HOUR, cast(id % 48 as int), "
        "timestamp'2024-01-01 00:00:00') as ts",
        "concat('t', id % 3) as typ",
        "cast(id % 7 as double) as v",
    )
    src = IcebergTable.create(spark, src_path, events)
    dims = {"hour": "date_trunc('HOUR', ts)", "typ": "typ"}
    aggs = {"n": ["count", "v"], "total": ["sum", "v"],
            "vmax": ["max", "v"]}
    ca = ContinuousAggregate.create(
        src, os.path.join(tmp_root, "ca"), dims, aggs
    )
    assert ca.refresh() == 0  # nothing new

    batch = spark.range(2_000, 2_500).selectExpr(
        "id",
        "timestampadd(HOUR, cast(id % 48 as int), "
        "timestamp'2024-01-01 00:00:00') as ts",
        "concat('t', id % 3) as typ",
        "cast(id % 7 as double) as v",
    )
    src.append(batch)
    import glob as _glob

    def _n_meta_files():
        return len(_glob.glob(
            os.path.join(ca.table.path, "metadata", "v*.metadata.json")
        ))

    versions_before = _n_meta_files()
    assert ca.refresh() == 500  # only the delta was read
    # fold + progress pointer land in ONE metadata commit: a crash
    # between two commits would double-fold the delta on retry
    assert _n_meta_files() == versions_before + 1
    fresh_meta = IcebergTable.load(spark, ca.table.path).meta
    assert fresh_meta["properties"][ca.PROP_SNAP] == str(
        src._snapshot(None, None)["snapshot-id"]
    )

    expect = (
        src.read()
        .selectExpr("date_trunc('HOUR', ts) as hour", "typ", "v")
        .groupBy("hour", "typ")
        .agg(F.count("v").alias("n"), F.sum("v").alias("total"),
             F.max("v").alias("vmax"))
    )
    got = ca.read()
    assert got.count() == expect.count()
    diff = got.exceptAll(expect).count() + expect.exceptAll(got).count()
    assert diff == 0
    # reload from disk: the fold state persisted
    ca2 = ContinuousAggregate.load(spark, ca.table.path, src)
    assert ca2.refresh() == 0

    # a source DELETE poisons incremental semantics: must refuse
    src.delete("id = 0")
    src.append(spark.range(9_000, 9_010).selectExpr(
        "id",
        "timestampadd(HOUR, cast(id % 48 as int), "
        "timestamp'2024-01-01 00:00:00') as ts",
        "concat('t', id % 3) as typ",
        "cast(id % 7 as double) as v",
    ))
    with pytest.raises(ValueError, match="rebuild"):
        ca2.refresh()


def test_bloom_index_prunes_point_lookups(spark, tmp_root):
    """Per-file Bloom bitsets: a point lookup on a high-cardinality
    UNCLUSTERED column (hash-like strings whose min/max bounds
    overlap across every file) skips the files that provably lack
    the value, at the configured false-positive rate."""
    path = os.path.join(tmp_root, "bloom")
    df = (
        spark.range(40_000)
        .selectExpr("id", "md5(cast(id as string)) as h")
        .repartition(16)  # random layout: bounds overlap everywhere
    )
    t = IcebergTable.create(spark, path, df)
    probe = spark.range(40_000).selectExpr(
        "md5(cast(id as string)) as h"
    ).where("id = 12345").collect()[0].h
    before = t.plan_scan(filter={"h": probe})
    assert len(before.files) == before.total_files == 16  # no help

    assert t.build_bloom_index("h", fpp=0.01) == 16
    after = t.plan_scan(filter={"h": probe})
    # the true file + expected-bounded false positives
    assert 1 <= len(after.files) <= 3
    assert t.read(filter={"h": probe}).count() == 1
    # an absent value prunes (almost) everything and reads zero rows
    miss = t.plan_scan(filter={"h": "not-a-real-hash-value"})
    assert len(miss.files) <= 2
    assert t.read(filter={"h": "not-a-real-hash-value"}).count() == 0
    # files appended AFTER the build are never bloom-skipped
    t.append(spark.createDataFrame([(999_999, probe)], "id long, h string"))
    again = t.plan_scan(filter={"h": probe})
    assert t.read(filter={"h": probe}).count() == 2
    assert any(f.path not in {x.path for x in after.files}
               for f in again.files)


def test_schema_evolution_rename_column(spark, tmp_root):
    """Rename keeps the field id: pre-rename files resolve through
    the name mapping (coalesce of former names), bounds pruning
    stays id-keyed, and DML sees the new name."""
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "id long, k string, v double"
    )
    path = os.path.join(tmp_root, "rename")
    t = IcebergTable.create(spark, path, df, partition_by="k")
    t.rename_column("v", "score")
    fresh = IcebergTable.load(spark, path)
    assert [f.name for f in fresh.spark_schema().fields] == \
        ["id", "k", "score"]
    # pre-rename file values survive under the new name
    assert {r.id: r.score for r in fresh.read().collect()} == \
        {1: 10.0, 2: 20.0}
    # post-rename appends mix with pre-rename files
    fresh.append(spark.createDataFrame(
        [(3, "a", 30.0)], "id long, k string, score double"
    ))
    assert {r.id: r.score for r in fresh.read().collect()} == \
        {1: 10.0, 2: 20.0, 3: 30.0}
    # bounds pruning on the renamed column is id-keyed: a filter on
    # the NEW name prunes files written under the OLD name
    plan = fresh.plan_scan(filter={"score": (25.0, 35.0)})
    assert len(plan.files) < plan.total_files
    assert {r.id for r in fresh.read(filter={"score": (25.0, 35.0)})
            .collect()} == {3}
    # DML through the new name, including pre-rename rows
    fresh.delete("score < 15.0")
    assert {r.id for r in fresh.read().collect()} == {2, 3}
    # former name is reserved forever
    import pyspark.sql.types as T
    with pytest.raises(ValueError, match="previous schema"):
        fresh.add_column("v", T.DoubleType())
    with pytest.raises(ValueError, match="previous schema"):
        fresh.rename_column("id", "v")
    # spec property round-trips for foreign readers
    import json as _json
    nm = _json.loads(
        IcebergTable.load(spark, path).meta["properties"][
            "schema.name-mapping.default"]
    )
    assert {"field-id": 3, "names": ["v", "score"]} in nm


def test_schema_evolution_drop_column(spark, tmp_root):
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "id long, k string, v double"
    )
    path = os.path.join(tmp_root, "dropcol")
    t = IcebergTable.create(spark, path, df, partition_by="k")
    t.drop_column("v")
    fresh = IcebergTable.load(spark, path)
    assert [f.name for f in fresh.spark_schema().fields] == ["id", "k"]
    assert {r.id for r in fresh.read().collect()} == {1, 2}
    # appends no longer need (or accept values for) the dropped column
    fresh.append(spark.createDataFrame([(3, "a")], "id long, k string"))
    assert fresh.read().count() == 3
    # the name is tombstoned: re-adding would resurrect old bytes
    import pyspark.sql.types as T
    with pytest.raises(ValueError, match="previous schema"):
        fresh.add_column("v", T.DoubleType())
    # partition-source columns refuse to drop
    with pytest.raises(ValueError, match="partition"):
        fresh.drop_column("k")


def test_schema_evolution_promote_column(spark, tmp_root):
    """int -> long promotion: old narrow files widen at scan time,
    old 4-byte manifest bounds decode by length, and post-promotion
    appends hold values beyond int range."""
    import pyspark.sql.types as T

    df = spark.createDataFrame(
        [(1, "a", 100), (2, "b", 200)],
        T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("k", T.StringType()),
            T.StructField("n", T.IntegerType()),
        ]),
    )
    path = os.path.join(tmp_root, "promote")
    t = IcebergTable.create(spark, path, df, partition_by="k")
    assert t.current_schema()["fields"][2]["type"] == "int"
    t.promote_column("n", "long")
    fresh = IcebergTable.load(spark, path)
    assert fresh.spark_schema()["n"].dataType == T.LongType()
    big = 2**40
    fresh.append(spark.createDataFrame(
        [(3, "a", big)], "id long, k string, n long"
    ))
    assert {r.n for r in fresh.read().collect()} == {100, 200, big}
    # bounds pruning across mixed 4-byte (pre) and 8-byte (post)
    # manifest bounds: the narrow-range filter keeps only old files
    plan = fresh.plan_scan(filter={"n": (150, 250)})
    assert len(plan.files) < plan.total_files
    assert {r.id for r in fresh.read(filter={"n": (150, 250)})
            .collect()} == {2}
    with pytest.raises(ValueError, match="cannot promote"):
        fresh.promote_column("n", "int")
    with pytest.raises(ValueError, match="cannot promote"):
        fresh.promote_column("k", "long")


def test_rename_column_with_live_equality_deletes(spark, tmp_root):
    """Equality-delete files written before a rename carry the old
    column name; the scan reads former names and coalesces, so the
    deletes keep applying and NULL-keyed rows are NOT wrongly
    deleted."""
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "d")], "id long, v string"
    )
    path = os.path.join(tmp_root, "ren_eqdel")
    t = IcebergTable.create(spark, path, df)
    t.equality_delete(spark.createDataFrame([("b",)], "v string"))
    t.rename_column("v", "val")
    fresh = IcebergTable.load(spark, path)
    got = {r.id: r.val for r in fresh.read().collect()}
    # id=2 deleted by the pre-rename equality delete; the NULL-keyed
    # row survives (eqNullSafe must not match it against NULL reads)
    assert got == {1: "a", 3: None, 4: "d"}


def test_promote_column_drops_stale_bloom_index(spark, tmp_root):
    """xxhash64 is type-sensitive, so a Bloom sidecar built under int
    would reject every long-typed probe; promotion drops it."""
    import pyspark.sql.types as T

    df = spark.createDataFrame(
        [(i, i * 10) for i in range(1, 2001)],
        T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("n", T.IntegerType()),
        ]),
    ).repartition(8)
    path = os.path.join(tmp_root, "promote_bloom")
    t = IcebergTable.create(spark, path, df)
    t.build_bloom_index("n")
    assert os.path.isdir(os.path.join(path, "metadata", "bloom_n"))
    t.promote_column("n", "long")
    assert not os.path.isdir(os.path.join(path, "metadata", "bloom_n"))
    fresh = IcebergTable.load(spark, path)
    assert {r.id for r in fresh.read(filter={"n": 700}).collect()} == {70}


def test_bloom_index_built_after_rename_hashes_old_files(spark, tmp_root):
    """build_bloom_index on a renamed column coalesces former names,
    so bitsets of pre-rename files contain the real values and the
    probe does not skip them."""
    df = spark.createDataFrame(
        [(i, f"h{i}") for i in range(2000)], "id long, v string"
    ).repartition(8)
    path = os.path.join(tmp_root, "ren_bloom")
    t = IcebergTable.create(spark, path, df)
    t.rename_column("v", "key")
    fresh = IcebergTable.load(spark, path)
    fresh.build_bloom_index("key")
    plan = fresh.plan_scan(filter={"key": "h1234"})
    assert plan.files, "bloom must not skip the file holding h1234"
    assert {r.id for r in fresh.read(filter={"key": "h1234"}).collect()} \
        == {1234}


def test_sql_alter_table_schema_evolution(spark, tmp_root):
    """ALTER TABLE routes to metadata-only evolution on a registered
    spec table, in both Trino (SET DATA TYPE) and Spark (TYPE)
    spellings, and the refreshed view reflects each step."""
    import pyspark.sql.types as T

    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)],
        T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("k", T.StringType()),
            T.StructField("n", T.IntegerType()),
        ]),
    )
    path = os.path.join(tmp_root, "sql_alter")
    t = IcebergTable.create(spark, path, df)
    eng = Engine(spark)
    eng.register_iceberg_table("alt_t", t)

    eng.sql("ALTER TABLE alt_t ADD COLUMN score double")
    assert [c.name for c in eng.columns("alt_t")] == \
        ["id", "k", "n", "score"]
    eng.sql("ALTER TABLE alt_t RENAME COLUMN score TO quality")
    eng.sql("ALTER TABLE alt_t ALTER COLUMN n SET DATA TYPE bigint")
    cols = {c.name: c.type for c in eng.columns("alt_t")}
    assert cols == {"id": "bigint", "k": "string", "n": "bigint",
                    "quality": "double"}
    eng.sql("ALTER TABLE alt_t DROP COLUMN quality")
    assert [c.name for c in eng.columns("alt_t")] == ["id", "k", "n"]
    # data survived all four statements
    assert {r.n for r in eng.sql("SELECT n FROM alt_t").collect()} == \
        {10, 20}
    # a non-registered table falls through to Spark SQL (which raises
    # its own resolution error)
    with pytest.raises(Exception):
        eng.sql("ALTER TABLE nosuch_t DROP COLUMN x").collect()


@pytest.mark.parametrize("seed", [1, 7, 13])
def test_schema_evolution_model_sequence(spark, tmp_root, seed):
    """Model-based sequence test: a random interleaving of append /
    add / rename / drop / promote must read back exactly what a
    plain-Python model of Iceberg evolution semantics predicts
    (adds backfill NULL, renames keep values, drops hide values,
    promotions widen in place)."""
    import random

    import pyspark.sql.types as T

    rng = random.Random(seed)
    type_pool = {"long": T.LongType(), "int": T.IntegerType(),
                 "double": T.DoubleType(), "string": T.StringType()}

    cols: list[tuple[str, str]] = [("rid", "long"), ("v0", "int")]
    next_name = [1]
    next_rid = [0]
    model: list[dict] = []

    def fresh() -> str:
        next_name[0] += 1
        return f"v{next_name[0]}"

    def gen_row() -> dict:
        next_rid[0] += 1
        row = {}
        for name, t in cols:
            if name == "rid":
                row[name] = next_rid[0]
            elif t in ("int", "long"):
                row[name] = rng.randrange(1000)
            elif t == "double":
                row[name] = float(rng.randrange(1000))
            else:
                row[name] = f"s{rng.randrange(1000)}"
        return row

    def spark_df(rows: list[dict]):
        schema = T.StructType([
            T.StructField(n, type_pool[t], True) for n, t in cols
        ])
        return spark.createDataFrame(
            [tuple(r[n] for n, _ in cols) for r in rows], schema
        )

    first = [gen_row() for _ in range(3)]
    model.extend(first)
    path = os.path.join(tmp_root, f"model_seq_{seed}")
    t = IcebergTable.create(spark, path, spark_df(first))

    for _ in range(6):
        op = rng.choice(["append", "add", "rename", "drop", "promote"])
        if op == "append":
            rows = [gen_row() for _ in range(2)]
            model.extend(rows)
            t.append(spark_df(rows))
        elif op == "add":
            name, ty = fresh(), rng.choice(list(type_pool))
            t.add_column(name, type_pool[ty])
            cols.append((name, ty))
            for r in model:
                r[name] = None
        elif op == "rename":
            old = rng.choice([n for n, _ in cols if n != "rid"])
            new = fresh()
            t.rename_column(old, new)
            cols[:] = [(new if n == old else n, ty) for n, ty in cols]
            for r in model:
                r[new] = r.pop(old)
        elif op == "drop":
            cands = [n for n, _ in cols if n != "rid"]
            if len(cands) < 2:
                continue
            victim = rng.choice(cands)
            t.drop_column(victim)
            cols[:] = [(n, ty) for n, ty in cols if n != victim]
            for r in model:
                r.pop(victim)
        else:
            ints = [n for n, ty in cols if ty == "int"]
            if not ints:
                continue
            name = rng.choice(ints)
            t.promote_column(name, "long")
            cols[:] = [(n, "long" if n == name else ty)
                       for n, ty in cols]

    got = sorted(
        tuple(row[n] for n, _ in cols)
        for row in (r.asDict() for r in
                    IcebergTable.load(spark, path).read().collect())
    )
    want = sorted(tuple(r[n] for n, _ in cols) for r in model)
    assert got == want, f"seed {seed}: table diverged from model"


def test_stream_to_continuous_aggregate(spark, tmp_root):
    """End-to-end streaming materialized view: micro-batches land as
    append snapshots (stream_append_iceberg) and the continuous
    aggregate folds each delta incrementally — equaling a full
    recompute after every refresh."""
    from hands_on_trino_iceberg_superset_spark.lakehouse.rollup import (
        ContinuousAggregate,
    )
    from hands_on_trino_iceberg_superset_spark.streaming.pipeline import (
        stream_append_iceberg,
    )

    base = spark.createDataFrame(
        [(i, f"t{i % 3}", float(i % 7)) for i in range(100)],
        "id long, typ string, v double",
    )
    path = os.path.join(tmp_root, "sca_src")
    table = IcebergTable.create(spark, path, base)
    ca = ContinuousAggregate.create(
        table, os.path.join(tmp_root, "sca_rollup"),
        dims={"typ": "typ"},
        aggs={"n": ["count", "v"], "total": ["sum", "v"]},
    )

    src = os.path.join(tmp_root, "sca_stream")
    os.makedirs(src)
    ckpt = os.path.join(tmp_root, "sca_ckpt")
    stream = (
        spark.readStream.schema("id long, typ string, v double")
        .option("recursiveFileLookup", "true").parquet(src)
    )
    q = stream_append_iceberg(stream, table, ckpt)
    for b, lo in enumerate((100, 150)):
        spark.createDataFrame(
            [(i, f"t{i % 3}", float(i % 7)) for i in range(lo, lo + 50)],
            "id long, typ string, v double",
        ).coalesce(1).write.parquet(os.path.join(src, f"b{b}"))
        q.processAllAvailable()
        assert ca.refresh() == 50  # exactly the micro-batch delta
        expect = {
            (r.typ, r.n, r.total)
            for r in table.read().groupBy("typ")
            .agg(F.count("v").alias("n"), F.sum("v").alias("total"))
            .collect()
        }
        got = {(r.typ, r.n, r.total) for r in ca.read().collect()}
        assert got == expect, f"batch {b} diverged"
    q.stop()


def test_add_files_adopts_foreign_parquet_in_place(spark, tmp_root):
    """The add_files procedure: foreign parquet files fold into the
    table as one append snapshot, in place (no rewrite, no move),
    with footer-harvested bounds that prune; files missing evolved
    columns read as NULL; stray columns refuse."""
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "id long, v double"
    )
    path = os.path.join(tmp_root, "addfiles")
    t = IcebergTable.create(spark, path, base)

    foreign = os.path.join(tmp_root, "foreign_pq")
    spark.createDataFrame(
        [(i, float(i)) for i in range(100, 160)], "id long, v double"
    ).repartitionByRange(2, "id").write.parquet(foreign)

    n_before = len(t.plan_scan().files)
    n_added = t.add_files(foreign)
    assert n_added == 2
    fresh = IcebergTable.load(spark, path)
    assert fresh.read().count() == 160
    # in place: manifest references the foreign dir, nothing copied
    assert any(
        f.path.startswith(os.path.abspath(foreign))
        for f in fresh.plan_scan().files
    )
    assert len(fresh.plan_scan().files) == n_before + 2
    # footer bounds prune: a range inside ONE foreign file's id span
    plan = fresh.plan_scan(filter={"id": (150, 159)})
    assert len(plan.files) == 1
    # snapshot history: one append, time-travel to pre-adopt works
    snaps = sorted(s["snapshot-id"] for s in fresh.snapshots())
    assert fresh.read(snapshot_id=snaps[0]).count() == 100

    # a file whose columns the schema lacks refuses
    bad = os.path.join(tmp_root, "foreign_bad")
    spark.createDataFrame([(1, "x")], "id long, mystery string") \
        .write.parquet(bad)
    with pytest.raises(ValueError, match="mystery"):
        fresh.add_files(bad)

    # a file lacking a column reads it as NULL
    narrow = os.path.join(tmp_root, "foreign_narrow")
    spark.createDataFrame([(1000,)], "id long").coalesce(1) \
        .write.parquet(narrow)
    fresh.add_files(narrow)
    fresh2 = IcebergTable.load(spark, path)
    row = [r for r in fresh2.read().collect() if r.id == 1000][0]
    assert row.v is None

    # a conflicting PHYSICAL type (string where the table says long)
    # refuses at adoption time — before the bad type would otherwise
    # surface only at scan time, after the snapshot committed
    clash = os.path.join(tmp_root, "foreign_clash")
    spark.createDataFrame([("oops", 1.0)], "id string, v double") \
        .coalesce(1).write.parquet(clash)
    n_snaps = len(fresh2.snapshots())
    with pytest.raises(ValueError, match="incompatible column types"):
        fresh2.add_files(clash)
    assert len(IcebergTable.load(spark, path).snapshots()) == n_snaps

    # Iceberg-legal widenings are accepted: int->long, float->double
    widen = os.path.join(tmp_root, "foreign_widen")
    spark.createDataFrame([(2000, 2.5)], "id int, v float") \
        .coalesce(1).write.parquet(widen)
    assert fresh2.add_files(widen) == 1
    wide_row = [r for r in IcebergTable.load(spark, path).read()
                .collect() if r.id == 2000][0]
    assert wide_row.v == 2.5


def test_call_procedures_sql_surface(spark, tmp_root):
    """CALL iceberg.system.<proc>(...) — the Trino procedure surface
    the reference's catalog enables: register_table, add_files,
    expire_snapshots, cherrypick_snapshot, remove_orphan_files."""
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(50)], "id long, v double"
    )
    path = os.path.join(tmp_root, "call_t")
    IcebergTable.create(spark, path, df)
    eng = Engine(spark)

    out = eng.sql(
        f"CALL iceberg.system.register_table("
        f"table_name => 'call_t', table_location => '{path}')"
    ).collect()
    assert "registered" in out[0].result
    assert eng.sql("SELECT count(*) AS n FROM call_t").collect()[0].n == 50

    foreign = os.path.join(tmp_root, "call_foreign")
    spark.createDataFrame([(100, 1.0)], "id long, v double") \
        .coalesce(1).write.parquet(foreign)
    out = eng.sql(
        f"CALL iceberg.system.add_files(table => 'call_t', "
        f"location => '{foreign}')"
    ).collect()
    assert "added 1 files" in out[0].result
    assert eng.sql("SELECT count(*) AS n FROM call_t").collect()[0].n == 51

    # stage + cherrypick through the procedure
    t = IcebergTable.load(spark, path)
    t.append(spark.createDataFrame([(200, 2.0)], "id long, v double"),
             stage_only=True)
    staged = max(s["snapshot-id"] for s in t.snapshots())
    eng.register_iceberg_table("call_t", t)
    eng.sql(
        f"CALL iceberg.system.cherrypick_snapshot('call_t', {staged})"
    )
    assert eng.sql("SELECT count(*) AS n FROM call_t").collect()[0].n == 52

    out = eng.sql(
        "CALL iceberg.system.expire_snapshots(table => 'call_t', "
        "retain_last => 1)"
    ).collect()
    assert "expired" in out[0].result
    out = eng.sql(
        "CALL iceberg.system.remove_orphan_files(table => 'call_t')"
    ).collect()
    assert "dry run" in out[0].result
    # manifest compaction over SQL: add_files + cherrypick left
    # several manifests; after the fold, counts are unchanged and a
    # repeat call is a no-op
    out = eng.sql(
        "CALL iceberg.system.rewrite_manifests(table => 'call_t')"
    ).collect()
    assert "manifests rewritten" in out[0].result
    assert eng.sql("SELECT count(*) AS n FROM call_t").collect()[0].n == 52
    out = eng.sql(
        "CALL iceberg.system.rewrite_manifests(table => 'call_t')"
    ).collect()
    assert "no-op" in out[0].result
    # unknown procedure fails loudly
    with pytest.raises(ValueError, match="unknown procedure"):
        eng.sql("CALL iceberg.system.nope('x')")


def test_add_files_rejects_timestamp_tz_mismatch(spark, tmp_root):
    """r4 ADVICE: tz-awareness and sub-micro units are part of the
    timestamp type. Adopting a tz-aware parquet column into a naive
    'timestamp' table column (or vice versa, or a ns-unit file)
    must refuse at adoption time, not shift values at scan time."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    naive = spark.sql(
        "SELECT id, timestamp_ntz'2024-01-01 00:00:00' + "
        "make_interval(0,0,0,0,cast(id as int),0,0) AS ts "
        "FROM range(4)"
    )
    path = os.path.join(tmp_root, "ts_naive")
    t = IcebergTable.create(spark, path, naive)

    # tz-AWARE file into the naive column: refuse
    aware = os.path.join(tmp_root, "foreign_aware")
    spark.sql(
        "SELECT id + 100 AS id, timestamp'2024-02-01 00:00:00' AS ts "
        "FROM range(2)"
    ).coalesce(1).write.parquet(aware)
    with pytest.raises(ValueError, match="incompatible column types"):
        t.add_files(aware)

    # ns-unit naive file: sub-micro precision would truncate; refuse
    ns_dir = os.path.join(tmp_root, "foreign_ns")
    os.makedirs(ns_dir)
    pq.write_table(
        pa.table({
            "id": pa.array([200], pa.int64()),
            "ts": pa.array([1_700_000_000_000_000_123],
                           pa.timestamp("ns")),
        }),
        os.path.join(ns_dir, "part-0.parquet"),
        use_deprecated_int96_timestamps=False,
        coerce_timestamps=None,
    )
    with pytest.raises(ValueError, match="incompatible column types"):
        t.add_files(ns_dir)

    # matching naive micros file adopts fine
    ok = os.path.join(tmp_root, "foreign_ok")
    spark.sql(
        "SELECT id + 300 AS id, "
        "timestamp_ntz'2024-03-01 00:00:00' AS ts FROM range(2)"
    ).coalesce(1).write.parquet(ok)
    assert t.add_files(ok) == 1

    # and the inverse: naive file into a timestamptz column refuses
    aware_tbl = spark.sql(
        "SELECT id, timestamp'2024-01-01 00:00:00' AS ts FROM range(2)"
    )
    path2 = os.path.join(tmp_root, "ts_aware")
    t2 = IcebergTable.create(spark, path2, aware_tbl)
    naive_file = os.path.join(tmp_root, "foreign_naive")
    spark.sql(
        "SELECT id + 50 AS id, "
        "timestamp_ntz'2024-04-01 00:00:00' AS ts FROM range(2)"
    ).coalesce(1).write.parquet(naive_file)
    with pytest.raises(ValueError, match="incompatible column types"):
        t2.add_files(naive_file)


def test_compact_if_delete_heavy_trigger(spark, tmp_root):
    """Automated MOR compaction: delete-file buildup past the ratio
    threshold triggers rewrite_data_files (read tax disappears:
    plan carries zero delete files), below-threshold tables are left
    alone, and the visible rows never change through the swap."""
    path = os.path.join(tmp_root, "mor_auto")
    df = spark.range(200).selectExpr("id", "id % 7 as grp")
    t = IcebergTable.create(spark, path, df)

    # below threshold: 2/200 = 1% < 5% -> no-op, deletes remain
    t.delete("id IN (3, 13)", mode="merge-on-read")
    n_snaps = len(t.snapshots())
    assert t.compact_if_delete_heavy(max_delete_ratio=0.05) is False
    assert len(t.snapshots()) == n_snaps
    assert len(t.plan_scan().deletes) >= 1

    # plant the degraded state: 20 more deleted rows -> 22/200 = 11%
    t.delete("id % 10 = 7", mode="merge-on-read")
    expect = t.read().count()
    assert t.compact_if_delete_heavy(max_delete_ratio=0.05) is True
    reloaded = IcebergTable.load(spark, path)
    assert reloaded.plan_scan().deletes == []      # read tax gone
    assert reloaded.read().count() == expect       # rows unchanged
    assert reloaded.read().where("id = 3").count() == 0

    # re-run on the clean table: nothing to do
    assert reloaded.compact_if_delete_heavy(max_delete_ratio=0.05) \
        is False

    # misuse guard
    import pytest

    with pytest.raises(ValueError):
        t.compact_if_delete_heavy(max_delete_ratio=0)


def test_compact_if_delete_heavy_unknown_counts_compact(
    spark, tmp_root, monkeypatch
):
    """Foreign metadata may omit record_count (plan_scan yields -1);
    unknown stats on EITHER side of the ratio must compact rather
    than silently skip — max(0,-1) on the data side would otherwise
    zero the denominator and the guard would never fire."""
    import dataclasses

    path = os.path.join(tmp_root, "mor_unknown_counts")
    t = IcebergTable.create(
        spark, path, spark.range(100).selectExpr("id")
    )
    t.delete("id = 1", mode="merge-on-read")  # 1% — below threshold

    real_plan = t.plan_scan()

    def doctored(*a, **k):
        files = [dataclasses.replace(f, record_count=-1)
                 for f in real_plan.files]
        return dataclasses.replace(real_plan, files=files)

    monkeypatch.setattr(t, "plan_scan", doctored)
    assert t.compact_if_delete_heavy(max_delete_ratio=0.05) is True
    monkeypatch.undo()
    assert t.plan_scan().deletes == []
    assert t.read().count() == 99


def test_rewrite_manifests_folds_metadata_tree(spark, tmp_root):
    """rewrite_manifests folds N data manifests into one per spec
    with EXISTING entries and original sequence numbers: values and
    MOR delete ordering unchanged, planning opens one manifest, time
    travel to pre-rewrite snapshots still works, and a fresh
    adoption sees the same table."""
    import pyspark.sql.functions as F

    from hands_on_trino_iceberg_superset_spark.lakehouse.iceberg import (
        IcebergTable,
    )

    import os as _os
    path = _os.path.join(str(tmp_root), "rm")
    t = IcebergTable.create(
        spark, path,
        spark.range(0, 100).select(
            "id", (F.col("id") % 4).alias("g")),
    )
    for lo in (100, 200, 300):
        t.append(spark.range(lo, lo + 100).select(
            "id", (F.col("id") % 4).alias("g")))
    # a MOR delete adds a delete manifest whose rows must keep
    # applying after the fold (sequence ordering preserved)
    t.delete("id % 10 = 7", mode="merge-on-read")
    before = t.plan_scan()
    assert before.manifests_total >= 5  # 4 data + 1 delete
    pre_snapshots = len(t.snapshots())
    want = sorted(r.id for r in t.read().collect())

    assert t.rewrite_manifests() is True
    after = t.plan_scan()
    # one folded data manifest + the carried delete manifest
    assert after.manifests_total == 2
    assert sorted(r.id for r in t.read().collect()) == want
    assert len(t.snapshots()) == pre_snapshots + 1
    # sequence numbers carried: the folded entries are EXISTING with
    # their ORIGINAL data sequence numbers, so the delete (seq 5)
    # still applies to all four original batches
    assert t.read().where("id % 10 = 7").count() == 0
    # time travel to the pre-rewrite snapshot still plans on the old
    # manifest tree
    first = sorted(s["snapshot-id"] for s in t.snapshots())[0]
    assert t.read(snapshot_id=first).count() == 100
    # fresh adoption through metadata on disk sees the same state
    adopted = IcebergTable.load(spark, path)
    assert sorted(r.id for r in adopted.read().collect()) == want
    # idempotence guard: a single data manifest is not re-folded
    assert t.rewrite_manifests() is False


def test_metadata_count_exactness_and_refusals(spark, tmp_root):
    """metadata_count answers identity-partition-aligned counts
    exactly without touching data, and refuses (None) whenever the
    metadata can't guarantee exactness: non-identity filters,
    bucket partitioning, or live merge-on-read deletes."""
    path = os.path.join(tmp_root, "meta_count")
    df = spark.range(60).selectExpr(
        "id", "concat('k', id % 3) as k", "id * 2 as v"
    )
    t = IcebergTable.create(spark, path, df, partition_by="k")
    assert t.metadata_count() == 60
    assert t.metadata_count(filter={"k": "k0"}) == 20
    assert t.metadata_count(filter={"k": ["k0", "k2"]}) == 40
    # v is not a partition column: bounds could only prune, never
    # prove all-rows-match
    assert t.metadata_count(filter={"v": (0, 10)}) is None
    # MOR delete: row-level subtraction needs the data
    t.delete("id = 7", mode="merge-on-read")
    assert t.metadata_count() is None
    assert t.read().count() == 59

    bpath = os.path.join(tmp_root, "meta_count_bucket")
    bt = IcebergTable.create(
        spark, bpath, df, partition_by="bucket(4, id)"
    )
    assert bt.metadata_count() == 60
    # bucket transform: a surviving file only MIGHT contain id=3
    assert bt.metadata_count(filter={"id": 3}) is None


def test_changelog_between_snapshots(spark, tmp_root):
    """changelog(): insert/delete pairs for COW DML, exact equality
    with the brute-force full-state diff, and the MOR fallback path
    (delete files present) produces the same answer."""
    path = os.path.join(tmp_root, "changelog_t")
    df = spark.range(30).selectExpr(
        "id", "concat('k', id % 3) as k", "CAST(id * 10 AS DOUBLE) as v"
    )
    t = IcebergTable.create(spark, path, df, partition_by="k")
    s1 = t.meta["snapshots"][-1]["snapshot-id"]
    t.delete("id % 10 = 0")                      # 3 rows out
    t.update({"v": "v + 1"}, "k = 'k1'")         # 10 -> update pairs
    s3 = t.meta["snapshots"][-1]["snapshot-id"]

    log = t.changelog(s1, s3).collect()
    by_type = {}
    for r in log:
        by_type.setdefault(r._change_type, set()).add((r.id, r.v))
    # brute force: full-state multiset diff
    old = {(r.id, r.v) for r in t.read(snapshot_id=s1).collect()}
    new = {(r.id, r.v) for r in t.read(snapshot_id=s3).collect()}
    assert by_type["insert"] == new - old
    assert by_type["delete"] == old - new
    # updates appear as pairs: every updated id is in both sets
    updated = {i for i, _ in by_type["insert"]}
    assert updated <= {i for i, _ in by_type["delete"]}

    # MOR fallback: a positional delete file forces the full-read
    # path; result must still be the exact state diff
    t.delete("id = 11", mode="merge-on-read")
    s4 = t.meta["snapshots"][-1]["snapshot-id"]
    log2 = {(r._change_type, r.id)
            for r in t.changelog(s3, s4).collect()}
    assert log2 == {("delete", 11)}


def test_changelog_applies_rename_mapping(spark, tmp_root):
    """Files written before a RENAME must diff with their real
    values (the name-mapping coalesce applies on the changed-files
    fast path too, not only in read()) — without it a COW rewrite
    of a pre-rename file emits spurious all-NULL delete/insert
    pairs."""
    path = os.path.join(tmp_root, "changelog_rename")
    df = spark.range(20).selectExpr(
        "id", "concat('k', id % 2) as k", "CAST(id AS DOUBLE) as v"
    )
    t = IcebergTable.create(spark, path, df, partition_by="k")
    s1 = t.meta["snapshots"][-1]["snapshot-id"]
    t.rename_column("v", "val")
    t.delete("id = 3")  # COW-rewrites a pre-rename file
    s2 = t.meta["snapshots"][-1]["snapshot-id"]
    log = t.changelog(s1, s2).collect()
    assert all(r.val is not None for r in log)
    assert {(r._change_type, r.id) for r in log} == {("delete", 3)}


def test_metadata_count_at_ref_and_changelog_across_spec_change(
        spark, tmp_root):
    """Two cross-feature seams: metadata_count honors ref/tag
    pinning (a tag's count never moves as main advances), and
    changelog() stays exact across a partition-spec change (both
    file generations diff under the current schema)."""
    path = os.path.join(tmp_root, "seams")
    df = spark.range(40).selectExpr("id", "concat('k', id % 2) as k")
    t = IcebergTable.create(spark, path, df, partition_by="k")
    t.create_tag("v1")
    s1 = t.meta["snapshots"][-1]["snapshot-id"]
    t.update_partition_spec("bucket(4, id)")
    t.append(spark.range(100, 120).selectExpr(
        "id", "concat('k', id % 2) as k"))
    s2 = t.meta["snapshots"][-1]["snapshot-id"]
    assert t.metadata_count() == 60
    assert t.metadata_count(ref="v1") == 40
    # identity filter still metadata-answerable for gen-0-only refs
    assert t.metadata_count(filter={"k": "k0"}, ref="v1") == 20
    # ...but on the mixed-spec head the bucket generation can't
    # prove all-rows-match for k -> honest refusal
    assert t.metadata_count(filter={"k": "k0"}) is None
    log = {(r._change_type, r.id) for r in t.changelog(s1, s2).collect()}
    assert log == {("insert", i) for i in range(100, 120)}
