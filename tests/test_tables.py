"""Lakehouse lifecycle tests: evolution, time travel, MERGE, partition
overwrite, compaction, snapshot expiry, and the end-to-end evolving-CSV
ingest (the test the reference meant to have — test_job_flow.py aligned a
DF to its own schema by accident, SURVEY §5.1)."""

from __future__ import annotations

import datetime
import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from spark_iceberg_schema_evolution_spark.operators.evolve import align_schema
from spark_iceberg_schema_evolution_spark.queries import load
from spark_iceberg_schema_evolution_spark.sources.csv_evolving import ingest_evolving_csvs
from spark_iceberg_schema_evolution_spark.sources.fixtures import generate_csv_files
from spark_iceberg_schema_evolution_spark.tables import (
    LakehouseCatalog,
    LakehouseTable,
)
from tests.conftest import SF_SMOKE


@pytest.fixture()
def catalog(spark, tmp_path):
    return LakehouseCatalog(spark, str(tmp_path / "warehouse"))


def _batches_planned(t, filters):
    """(scanned, total) batch counts the scan planner reports."""
    p = t.plan_scan(filters)
    return p["batches_scanned"], p["batches_total"]


def test_append_evolves_schema_and_null_pads(spark, catalog):
    t1 = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "x"])
    t2 = spark.createDataFrame([(3, 1.5), (4, 2.5)], ["id", "y"])
    catalog.write_evolving(t1, "db", "t")
    catalog.write_evolving(t2, "db", "t")
    t = catalog.table("db", "t")
    out = t.read()
    assert out.columns == ["id", "x", "y"]  # extras-last evolution order
    rows = {r.id: r for r in out.collect()}
    assert rows[1].x == "a" and rows[1].y is None
    assert rows[3].x is None and rows[3].y == 1.5


def test_append_coerces_to_table_types(spark, catalog):
    catalog.write_evolving(
        spark.createDataFrame([(1, 10)], ["id", "v"]), "db", "c"
    )
    # second batch: v arrives as string -> catalog-wins cast to long
    catalog.write_evolving(
        spark.createDataFrame([(2, "30")], ["id", "v"]), "db", "c"
    )
    out = catalog.table("db", "c").read()
    assert dict(out.dtypes)["v"] == "bigint"
    assert {r.v for r in out.collect()} == {10, 30}


def test_time_travel_and_snapshots(spark, catalog):
    df = spark.createDataFrame([(1,), (2,)], ["id"])
    catalog.write_evolving(df, "db", "tt")
    catalog.write_evolving(df, "db", "tt")
    t = catalog.table("db", "tt")
    assert t.read(version=1).count() == 2
    assert t.read(version=2).count() == 4
    assert [s["version"] for s in t.snapshots()] == [0, 1, 2]


def test_merge_into_updates_and_inserts(spark, catalog):
    target = spark.createDataFrame(
        [(1, "old"), (2, "old")], ["id", "val"]
    )
    catalog.write_evolving(target, "db", "m")
    source = spark.createDataFrame(
        [(2, "new"), (3, "new")], ["id", "val"]
    )
    t = catalog.table("db", "m")
    t.merge_into(source, on=["id"])
    rows = {r.id: r.val for r in t.read().collect()}
    assert rows == {1: "old", 2: "new", 3: "new"}


def test_partitioned_overwrite_touches_only_named_months(spark, catalog):
    def mk(rows):
        return spark.createDataFrame(rows, ["id", "ts", "v"]).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )

    base = mk(
        [
            (1, "2024-01-05", 10),
            (2, "2024-01-20", 20),
            (3, "2024-02-05", 30),
        ]
    )
    catalog.write_evolving(base, "db", "p", partition_month_of="ts")
    t = catalog.table("db", "p")
    t.overwrite_partitions(mk([(9, "2024-01-01", 99)]))
    rows = sorted((r.id, r.v) for r in t.read().collect())
    assert rows == [(3, 30), (9, 99)]  # feb kept, jan replaced
    assert t.read(months=["2024-02"]).count() == 1  # manifest pruning


def test_merge_partition_scoped(spark, catalog):
    def mk(rows):
        return spark.createDataFrame(rows, ["id", "ts", "v"]).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )

    catalog.write_evolving(
        mk([(1, "2024-01-05", 10), (2, "2024-02-05", 20)]),
        "db",
        "mp",
        partition_month_of="ts",
    )
    t = catalog.table("db", "mp")
    t.merge_into(mk([(1, "2024-01-06", 11)]), on=["id"])
    rows = sorted((r.id, r.v) for r in t.read().collect())
    assert rows == [(1, 11), (2, 20)]


def test_merge_moves_key_across_partitions(spark, catalog):
    """A matched key whose updated row lands in a DIFFERENT month must not
    leave a stale copy in its old partition (global key matching, like
    Iceberg COW MERGE — round-2 fix of the partition-scoped blind spot)."""

    def mk(rows):
        return spark.createDataFrame(rows, ["id", "ts", "v"]).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )

    catalog.write_evolving(
        mk([(1, "2024-01-05", 10), (2, "2024-02-05", 20), (3, "2024-03-05", 30)]),
        "db",
        "mmv",
        partition_month_of="ts",
    )
    t = catalog.table("db", "mmv")
    # id=1 moves from 2024-01 to 2024-04; id=4 is a plain insert
    t.merge_into(
        mk([(1, "2024-04-09", 111), (4, "2024-04-01", 40)]), on=["id"]
    )
    rows = sorted((r.id, r.v) for r in t.read().collect())
    assert rows == [(1, 111), (2, 20), (3, 30), (4, 40)]
    # the old partition no longer serves the moved key
    assert t.read(months=["2024-01"]).count() == 0
    # untouched months keep their manifests intact
    assert t.read(months=["2024-02", "2024-03"]).count() == 2


def test_compact_and_expire(spark, catalog):
    df = spark.createDataFrame([(1,)], ["id"])
    for _ in range(4):
        catalog.write_evolving(df, "db", "cx")
    t = catalog.table("db", "cx")
    assert t.read().count() == 4
    t.compact()
    assert t.snapshots()[-1]["n_batches"] == 1
    assert t.read().count() == 4
    dropped = t.expire_snapshots(keep_last=1)
    assert dropped and t.read().count() == 4
    # expired batch dirs physically removed
    live = {os.path.basename(b["path"]) for b in t._load().batches}
    on_disk = set(os.listdir(t.data_dir))
    assert on_disk == live


def test_compact_batches_bounded_fold_unpartitioned(spark, catalog):
    """r12 ask #5: the unpartitioned backlog fold rewrites ONLY the
    smallest surplus+1 batches — the big batch's files survive
    untouched (the bounded-inline-work witness), the count returns to
    max_live, content is identical (with retained equality deletes
    still applied), and a within-bounds table is a no-op."""

    def mk(lo, n):
        return spark.createDataFrame(
            [(i, float(i)) for i in range(lo, lo + n)], ["id", "v"]
        )

    catalog.write_evolving(mk(0, 500), "db", "cbf")  # the big batch
    t = catalog.table("db", "cbf")
    for k in range(4):  # four small epoch-sized appends
        t.append(mk(1000 + 10 * k, 10))
    # a MOR delete so the fold must apply retained delete files
    t.delete_where("id = 1001", mode="mor", keys=["id"])
    before = t._load()
    big_path = min(
        before.batches, key=lambda b: int(b.get("seq", 0))
    )["path"]
    assert len(before.batches) == 5 and before.deletes
    v = t.compact_batches(3)
    assert v is not None
    after = t._load()
    # bounded: exactly the 3 smallest folded (5 - 3 + 1), big survives
    assert len(after.batches) == 3
    assert big_path in {b["path"] for b in after.batches}
    assert after.deletes == before.deletes  # retained, not re-applied
    rows = sorted(r.id for r in t.read().collect())
    assert rows == sorted(
        set(range(500)) | set().union(
            *(range(1000 + 10 * k, 1010 + 10 * k) for k in range(4))
        ) - {1001}
    )
    # within bounds -> no-op (and a 1-batch fold is pointless -> no-op)
    assert t.compact_batches(3) is None
    assert t.compact_batches(len(after.batches)) is None
    assert t._load().version == v


def test_evolve_false_rejects_new_columns(spark, catalog):
    catalog.write_evolving(spark.createDataFrame([(1,)], ["id"]), "db", "s")
    t = catalog.table("db", "s")
    with pytest.raises(ValueError, match="evolution disabled"):
        t.append(spark.createDataFrame([(1, "x")], ["id", "extra"]), evolve=False)


def test_ingest_evolving_csvs_end_to_end(spark, catalog, tmp_path):
    csv_dir = str(tmp_path / "raw")
    generate_csv_files(csv_dir, n_files=3, rows_per_file=5, seed=42)
    v = ingest_evolving_csvs(
        spark,
        csv_dir,
        catalog,
        "db",
        "customers",
        ingest_ts=datetime.datetime(2024, 6, 1, 12, 0, 0),
        partition_month_of="created_at",
    )
    assert v == 1
    out = catalog.table("db", "customers").read()
    # created_at first (reference job.py:75-81), normalized names, 15 rows
    assert out.columns[0] == "created_at"
    assert out.count() == 15
    assert "index" in out.columns and "customer_id" in out.columns
    # ragged columns exist and are null-padded where files lacked them
    mandatory_nulls = out.where(F.col("index").isNull()).count()
    assert mandatory_nulls == 0


def test_delete_where_partition_scoped(spark, catalog):
    def mk(rows):
        return spark.createDataFrame(rows, ["id", "ts", "v"]).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )

    catalog.write_evolving(
        mk(
            [
                (1, "2024-01-05", 10),
                (2, "2024-02-05", 20),
                (3, "2024-02-06", 30),
            ]
        ),
        "db",
        "delp",
        partition_month_of="ts",
    )
    t = catalog.table("db", "delp")
    t.delete_where("v = 20")
    rows = sorted((r.id, r.v) for r in t.read().collect())
    assert rows == [(1, 10), (3, 30)]
    # the untouched month's batch is not rewritten
    assert t.read(months=["2024-01"]).count() == 1
    # no-match delete is a no-op (no new snapshot)
    v_before = t._load().version
    assert t.delete_where("v = 999") == v_before


def test_delete_where_null_predicate_keeps_row(spark, catalog):
    df = spark.createDataFrame([(1, None), (2, 5)], "id BIGINT, v BIGINT")
    catalog.write_evolving(df, "db", "deln")
    t = catalog.table("db", "deln")
    t.delete_where("v < 10")  # NULL < 10 is NULL -> row kept
    assert sorted(r.id for r in t.read().collect()) == [1]


def test_update_where_moves_partition(spark, catalog):
    def mk(rows):
        return spark.createDataFrame(rows, ["id", "ts", "v"]).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )

    catalog.write_evolving(
        mk([(1, "2024-01-05", 10), (2, "2024-02-05", 20)]),
        "db",
        "updp",
        partition_month_of="ts",
    )
    t = catalog.table("db", "updp")
    t.update_where(
        "id = 1",
        {"ts": "CAST('2024-05-01' AS TIMESTAMP)", "v": "v + 1"},
    )
    rows = {r.id: r.v for r in t.read().collect()}
    assert rows == {1: 11, 2: 20}
    assert t.read(months=["2024-01"]).count() == 0
    assert t.read(months=["2024-05"]).count() == 1
    with pytest.raises(ValueError, match="unknown"):
        t.update_where("id = 1", {"nope": "1"})


def test_read_months_prunes_partitions_in_plan(spark, catalog):
    """The month filter must become a partition filter on ONE scan per
    batch (planning-time directory pruning), not a scan per month dir."""
    def mk(rows):
        return spark.createDataFrame(rows, ["id", "ts", "v"]).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )

    catalog.write_evolving(
        mk([(i, f"2024-{1 + i % 6:02d}-05", i) for i in range(12)]),
        "db",
        "prune",
        partition_month_of="ts",
    )
    t = catalog.table("db", "prune")
    df = t.read(months=["2024-02"])
    from spark_iceberg_schema_evolution_spark.plans import explain

    plan = explain.physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "PartitionFilters" in plan
    assert df.count() == 2


def test_changes_incremental_read(spark, catalog):
    df1 = spark.createDataFrame([(1,), (2,)], ["id"])
    df2 = spark.createDataFrame([(3,)], ["id"])
    df3 = spark.createDataFrame([(4,), (5,)], ["id"])
    catalog.write_evolving(df1, "db", "inc")
    t = catalog.table("db", "inc")
    v1 = t._load().version
    t.append(df2)
    t.append(df3)
    got = sorted(r.id for r in t.changes(v1).collect())
    assert got == [3, 4, 5]
    v2 = t._load().version
    assert t.changes(v2).count() == 0  # nothing after head
    got12 = sorted(r.id for r in t.changes(v1, v1 + 1).collect())
    assert got12 == [3]


def test_changes_ignore_orphan_files(spark, catalog):
    """changes() plans each new batch from its manifest, like read(): a
    stray copy of a data file in the newest batch dir (a failed task
    retry's leftover) must not surface as changed rows."""
    catalog.write_evolving(spark.range(10).toDF("id"), "db", "incorph")
    t = catalog.table("db", "incorph")
    v1 = t._load().version
    t.append(spark.range(10, 15).toDF("id"))
    batch = t._load().batches[-1]["path"]
    live = max(
        (f for f in os.listdir(batch) if f.endswith(".parquet")),
        key=lambda f: os.path.getsize(os.path.join(batch, f)),
    )
    shutil.copy(
        os.path.join(batch, live),
        os.path.join(batch, "part-99999-orphan.c000.parquet"),
    )
    assert t.read().count() == 15
    assert sorted(r.id for r in t.changes(v1).collect()) == list(range(10, 15))
    t.commit_offset("etl", v1)
    df, _ = t.consume_changes("etl")
    assert df.count() == 5


def test_rollback_preserves_history(spark, catalog):
    df1 = spark.createDataFrame([(1,)], ["id"])
    df2 = spark.createDataFrame([(2,)], ["id"])
    catalog.write_evolving(df1, "db", "rb")
    t = catalog.table("db", "rb")
    v1 = t._load().version
    t.append(df2)
    assert t.read().count() == 2
    new_v = t.rollback_to(v1)
    assert t.read().count() == 1  # content is v1's
    assert new_v > v1 + 1 - 1  # a NEW version, history intact
    assert t.read(version=v1 + 1).count() == 2  # old head still readable


def test_rename_column_metadata_only(spark, catalog):
    catalog.write_evolving(
        spark.createDataFrame([(1, "a"), (2, "b")], ["id", "val"]),
        "db",
        "ren",
    )
    t = catalog.table("db", "ren")
    t.rename_column("val", "value")
    assert t.read().columns == ["id", "value"]
    assert sorted((r.id, r.value) for r in t.read().collect()) == [
        (1, "a"),
        (2, "b"),
    ]
    # appends under the new name land in the same column
    t.append(spark.createDataFrame([(3, "c")], ["id", "value"]))
    assert sorted(r.value for r in t.read().collect()) == ["a", "b", "c"]
    with pytest.raises(ValueError, match="no such column"):
        t.rename_column("nope", "x")
    with pytest.raises(ValueError, match="column exists"):
        t.rename_column("id", "value")


def test_drop_then_readd_does_not_resurrect(spark, catalog):
    catalog.write_evolving(
        spark.createDataFrame([(1, "OLD")], ["id", "tag"]), "db", "dr"
    )
    t = catalog.table("db", "dr")
    t.drop_column("tag")
    assert t.read().columns == ["id"]
    # re-add a column with the same name: historic 'OLD' must NOT leak in
    t.append(spark.createDataFrame([(2, "NEW")], ["id", "tag"]))
    rows = {r.id: r.tag for r in t.read().collect()}
    assert rows == {1: None, 2: "NEW"}


def test_rename_survives_time_travel_and_changes(spark, catalog):
    catalog.write_evolving(
        spark.createDataFrame([(1, 10)], ["id", "v"]), "db", "rtc"
    )
    t = catalog.table("db", "rtc")
    v1 = t._load().version
    t.rename_column("v", "metric")
    t.append(spark.createDataFrame([(2, 20)], ["id", "metric"]))
    # time travel to v1 shows the OLD schema
    assert t.read(version=v1).columns == ["id", "v"]
    # incremental changes since v1 arrive under the new name
    got = {(r.id, r.metric) for r in t.changes(v1).collect()}
    assert got == {(2, 20)}


def _mk_part(spark, rows):
    return spark.createDataFrame(rows, ["id", "ts", "v"]).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


@pytest.mark.parametrize("op", ["delete", "update", "merge", "overwrite"])
def test_dml_preserves_rename_epochs(spark, catalog, op):
    """Regression (round-2 verdict #1): DML rewrites must carry each kept
    batch's renames_at epoch. drop 'v' -> re-add 'v' -> DML on an UNRELATED
    partition: the re-added batch's values must survive (not null out via
    tombstone replay)."""
    catalog.write_evolving(
        _mk_part(spark, [(1, "2024-01-05", 10)]), "db", f"ep_{op}",
        partition_month_of="ts",
    )
    t = catalog.table("db", f"ep_{op}")
    t.drop_column("v")
    # re-add 'v' in a later batch, different month than the DML target
    t.append(_mk_part(spark, [(2, "2024-02-05", 20)]))
    t.append(_mk_part(spark, [(3, "2024-03-05", 30)]))
    if op == "delete":
        t.delete_where(F.col("id") == 3)
        expect = {1: None, 2: 20}
    elif op == "update":
        t.update_where(F.col("id") == 3, {"v": F.lit(99)})
        expect = {1: None, 2: 20, 3: 99}
    elif op == "merge":
        t.merge_into(
            _mk_part(spark, [(4, "2024-03-09", 40)]), on=["id"]
        )
        expect = {1: None, 2: 20, 3: 30, 4: 40}
    else:
        t.overwrite_partitions(_mk_part(spark, [(5, "2024-03-01", 50)]))
        expect = {1: None, 2: 20, 5: 50}
    rows = {r.id: r.v for r in t.read().collect()}
    assert rows == expect, f"{op}: re-added column lost its epoch"


def test_unpartitioned_dml_noop_keeps_version(spark, catalog):
    """A predicate matching nothing must not rewrite an unpartitioned
    table (round-2 ADVICE low): no new snapshot."""
    catalog.write_evolving(
        spark.createDataFrame([(1, "a")], ["id", "x"]), "db", "noop"
    )
    t = catalog.table("db", "noop")
    v = t._load().version
    assert t.delete_where(F.col("id") == 999) == v
    assert t.update_where(F.col("id") == 999, {"x": F.lit("z")}) == v
    assert t._load().version == v


def test_merge_clause_variants(spark, catalog):
    """Iceberg MERGE parity: conditional update, matched delete, and
    insert-only, driven by a CDC-style op column on the source."""
    catalog.write_evolving(
        spark.createDataFrame(
            [(1, 10, "keep"), (2, 20, "old"), (3, 30, "old")],
            ["id", "bal", "tag"],
        ),
        "db", "mv",
    )
    t = catalog.table("db", "mv")
    src = spark.createDataFrame(
        [(2, 200, "new", "U"), (3, 300, "new", "D"), (4, 400, "new", "U")],
        ["id", "bal", "tag", "op"],
    )
    # delete where op='D'; update bal only where op='U'; insert unmatched
    t.merge_into(
        src,
        on=["id"],
        matched_update={"bal": "s.bal"},
        matched_condition="s.op = 'U'",
        matched_delete_where="s.op = 'D'",
    )
    rows = {r.id: (r.bal, r.tag) for r in t.read().collect()}
    assert rows == {
        1: (10, "keep"),       # untouched
        2: (200, "old"),       # bal updated, tag kept (partial SET)
        4: (400, "new"),       # inserted
    }  # 3 deleted


def test_merge_insert_only(spark, catalog):
    catalog.write_evolving(
        spark.createDataFrame([(1, "a")], ["id", "x"]), "db", "io"
    )
    t = catalog.table("db", "io")
    t.merge_into(
        spark.createDataFrame([(1, "CHANGED"), (2, "b")], ["id", "x"]),
        on=["id"],
        matched_update=None,
    )
    rows = {r.id: r.x for r in t.read().collect()}
    assert rows == {1: "a", 2: "b"}  # matched untouched, unmatched inserted


def test_merge_update_only_no_insert(spark, catalog):
    catalog.write_evolving(
        spark.createDataFrame([(1, "a")], ["id", "x"]), "db", "uo"
    )
    t = catalog.table("db", "uo")
    t.merge_into(
        spark.createDataFrame([(1, "A"), (2, "b")], ["id", "x"]),
        on=["id"],
        insert_unmatched=False,
    )
    rows = {r.id: r.x for r in t.read().collect()}
    assert rows == {1: "A"}


def test_merge_clause_variants_partitioned(spark, catalog):
    """Clause arms against a partitioned table: the delete arm must drop
    the matched row even though its month has no source INSERT row."""
    catalog.write_evolving(
        _mk_part(spark, [(1, "2024-01-05", 10), (2, "2024-02-05", 20)]),
        "db", "mvp", partition_month_of="ts",
    )
    t = catalog.table("db", "mvp")
    src = _mk_part(spark, [(1, "2024-01-05", 0), (3, "2024-03-05", 30)])
    t.merge_into(
        src, on=["id"],
        matched_update=None,
        matched_delete_where=F.lit(True),
    )
    rows = {r.id: r.v for r in t.read().collect()}
    assert rows == {2: 20, 3: 30}


def test_consume_changes_checkpointed(spark, catalog):
    """Checkpointed incremental consumption: first poll sees the whole
    table, an un-acked poll re-delivers (at-least-once), an acked poll
    sees only newer commits, and offsets never rewind."""
    catalog.write_evolving(
        spark.createDataFrame([(i,) for i in range(5)], ["id"]), "db", "cc"
    )
    t = catalog.table("db", "cc")
    df, v1 = t.consume_changes("etl")
    assert df.count() == 5
    # crash before ack: the same rows come again
    df2, v1b = t.consume_changes("etl")
    assert v1b == v1 and df2.count() == 5
    t.commit_offset("etl", v1)
    df3, v2 = t.consume_changes("etl")
    assert df3.count() == 0 and v2 == v1
    t.append(spark.createDataFrame([(10,), (11,)], ["id"]))
    df4, v3 = t.consume_changes("etl")
    assert sorted(r.id for r in df4.collect()) == [10, 11]
    t.commit_offset("etl", v3)
    # a second consumer has its own cursor
    dfo, _ = t.consume_changes("other")
    assert dfo.count() == 7
    with pytest.raises(ValueError, match="rewind"):
        t.commit_offset("etl", v1)
    with pytest.raises(ValueError, match="bad consumer id"):
        t.consume_changes("../escape")


def test_sql_bloom_and_consumer_surface(spark, catalog):
    """SQL front door for the round-6 features: CALL build_bloom_index /
    commit_consumer_offset and the consumers/blooms metadata tables."""
    catalog.write_evolving(
        spark.createDataFrame([(i, i) for i in range(50)], ["id", "v"]),
        "db", "sqlb",
    )
    t = catalog.table("db", "sqlb")
    catalog.sql("CALL lake.system.build_bloom_index('db.sqlb', 'id')")
    bl = catalog.sql(
        "SELECT col, n_files FROM lake.db.sqlb.blooms"
    ).collect()
    assert bl and bl[0].col == "id" and bl[0].n_files >= 1
    _, v = t.consume_changes("nightly")
    catalog.sql(
        f"CALL lake.system.commit_consumer_offset('db.sqlb', 'nightly', {v})"
    )
    rows = catalog.sql(
        "SELECT consumer, committed_version, versions_behind "
        "FROM lake.db.sqlb.consumers"
    ).collect()
    assert [(r.consumer, r.versions_behind) for r in rows] == [
        ("nightly", 0)
    ]
    t.append(spark.createDataFrame([(99, 99)], ["id", "v"]))
    lag = catalog.sql(
        "SELECT versions_behind FROM lake.db.sqlb.consumers"
    ).collect()[0]
    assert lag.versions_behind == 1


def test_merge_dup_source_matched_raises(spark, catalog):
    """Iceberg/Delta/Spark MERGE cardinality contract: a source key with
    multiple rows that matches a target row must raise, not silently
    duplicate state (fast path: would insert both copies)."""
    from spark_iceberg_schema_evolution_spark.tables import (
        MergeCardinalityError,
    )

    catalog.write_evolving(
        spark.createDataFrame([(1, "old"), (2, "old")], ["id", "v"]),
        "db", "dup",
    )
    t = catalog.table("db", "dup")
    src = spark.createDataFrame(
        [(1, "a"), (1, "b"), (3, "c")], ["id", "v"]
    )
    with pytest.raises(MergeCardinalityError, match="multiple rows"):
        t.merge_into(src, on=["id"])
    # clause path (conditional update) hits the same guard
    with pytest.raises(MergeCardinalityError, match="multiple rows"):
        t.merge_into(
            src, on=["id"],
            matched_update={"v": "s.v"}, matched_condition="s.v = 'a'",
        )
    # delete-only arm is still an operate-on-target arm
    with pytest.raises(MergeCardinalityError, match="multiple rows"):
        t.merge_into(
            src, on=["id"],
            matched_update=None, matched_delete_where=F.lit(True),
        )
    # table unchanged by the refused merges
    assert {r.v for r in t.read().collect()} == {"old"}


def test_merge_dup_source_unmatched_keys_legal(spark, catalog):
    """Duplicate source keys that match NO target row are legal: each
    fires NOT MATCHED INSERT independently (Spark/Iceberg semantics)."""
    catalog.write_evolving(
        spark.createDataFrame([(1, "old")], ["id", "v"]), "db", "dupu"
    )
    t = catalog.table("db", "dupu")
    t.merge_into(
        spark.createDataFrame(
            [(1, "new"), (9, "x"), (9, "y")], ["id", "v"]
        ),
        on=["id"],
    )
    rows = sorted((r.id, r.v) for r in t.read().collect())
    assert rows == [(1, "new"), (9, "x"), (9, "y")]


def test_merge_mor_dup_source_raises(spark, catalog):
    from spark_iceberg_schema_evolution_spark.tables import (
        MergeCardinalityError,
    )

    catalog.write_evolving(
        spark.createDataFrame([(1, "old")], ["id", "v"]), "db", "dupm"
    )
    t = catalog.table("db", "dupm")
    with pytest.raises(MergeCardinalityError, match="multiple rows"):
        t.merge_into(
            spark.createDataFrame([(1, "a"), (1, "b")], ["id", "v"]),
            on=["id"], mode="mor",
        )


def test_merge_insert_only_skips_cardinality_guard(spark, catalog):
    """No UPDATE/DELETE arm -> multi-match cannot corrupt a target row,
    so insert-only MERGE accepts duplicate matched keys (like Spark,
    which raises MERGE_CARDINALITY_VIOLATION only for update/delete)."""
    catalog.write_evolving(
        spark.createDataFrame([(1, "keep")], ["id", "v"]), "db", "dupi"
    )
    t = catalog.table("db", "dupi")
    t.merge_into(
        spark.createDataFrame([(1, "a"), (1, "b")], ["id", "v"]),
        on=["id"], matched_update=None,
    )
    rows = sorted((r.id, r.v) for r in t.read().collect())
    assert rows == [(1, "keep")]  # both source copies matched: no insert


def test_merge_dedup_source_keeps_latest(spark, catalog):
    """dedup_source=<ts> opts out of the guard by keeping the greatest-ts
    row per key before the merge — the CDC change-feed shape."""
    catalog.write_evolving(
        spark.createDataFrame([(1, "old", 0)], ["id", "v", "ts"]),
        "db", "dupd",
    )
    t = catalog.table("db", "dupd")
    t.merge_into(
        spark.createDataFrame(
            [(1, "stale", 5), (1, "latest", 9), (2, "stale2", 1),
             (2, "latest2", 3)],
            ["id", "v", "ts"],
        ),
        on=["id"],
        dedup_source="ts",
    )
    rows = {r.id: r.v for r in t.read().collect()}
    assert rows == {1: "latest", 2: "latest2"}


def test_merge_rejects_key_assignment(spark, catalog):
    catalog.write_evolving(
        spark.createDataFrame([(1, "a")], ["id", "x"]), "db", "ka"
    )
    with pytest.raises(ValueError, match="key columns"):
        catalog.table("db", "ka").merge_into(
            spark.createDataFrame([(1, "b")], ["id", "x"]),
            on=["id"],
            matched_update={"id": "s.id"},
        )


def test_widen_column_type_metadata_only(spark, catalog):
    catalog.write_evolving(
        spark.createDataFrame([(1, 100)], "id INT, v INT"), "db", "w"
    )
    t = catalog.table("db", "w")
    t.widen_column_type("v", "bigint")
    assert dict(t.read().dtypes)["v"] == "bigint"
    # append a value only bigint can hold
    t.append(spark.createDataFrame([(2, 2**40)], "id INT, v BIGINT"))
    assert {r.v for r in t.read().collect()} == {100, 2**40}
    with pytest.raises(ValueError, match="unsafe type change"):
        t.widen_column_type("v", "int")
    with pytest.raises(ValueError, match="no such column"):
        t.widen_column_type("nope", "bigint")


def test_data_skipping_prunes_batches(spark, catalog):
    """Footer-stats batch skipping: disjoint-range appends are pruned at
    planning time; results always equal the full-scan filter."""
    for lo in (0, 100, 200):
        df = spark.createDataFrame(
            [(i, f"s{i:04d}") for i in range(lo, lo + 100)], ["id", "s"]
        )
        catalog.write_evolving(df, "db", "skip")
    t = catalog.table("db", "skip")
    assert _batches_planned(t, [("id", "<", 50)]) == (1, 3)
    assert _batches_planned(t, [("id", ">=", 250)]) == (1, 3)
    assert _batches_planned(t, [("id", "=", 150)]) == (1, 3)
    assert _batches_planned(t, [("id", ">", 99), ("id", "<", 200)]) == (1, 3)
    assert _batches_planned(t, [("s", "=", "s0042")]) == (1, 3)
    assert _batches_planned(t, [("id", ">=", 0)]) == (3, 3)
    # result equivalence on a range that spans two batches
    got = sorted(
        r.id for r in t.read_where([("id", ">", 150), ("id", "<=", 250)]).collect()
    )
    want = sorted(
        r.id
        for r in t.read()
        .where((F.col("id") > 150) & (F.col("id") <= 250))
        .collect()
    )
    assert got == want and len(got) == 100


def test_data_skipping_survives_rename(spark, catalog):
    """Stats are recorded under physical names; pruning on the CURRENT
    name must reverse the rename epoch mapping."""
    catalog.write_evolving(
        spark.createDataFrame([(i,) for i in range(100)], ["id"]),
        "db", "skipren",
    )
    t = catalog.table("db", "skipren")
    t.rename_column("id", "key")
    t.append(
        spark.createDataFrame([(i,) for i in range(100, 200)], ["key"])
    )
    assert _batches_planned(t, [("key", "<", 50)]) == (1, 2)
    assert _batches_planned(t, [("key", ">=", 150)]) == (1, 2)
    got = sorted(r.key for r in t.read_where([("key", "<", 50)]).collect())
    assert got == list(range(50))


def test_data_skipping_unknown_column_reads_all(spark, catalog):
    catalog.write_evolving(
        spark.createDataFrame([(1, None)], "id INT, b BOOLEAN"),
        "db", "skipnone",
    )
    t = catalog.table("db", "skipnone")
    # bool/missing stats: never skip
    assert _batches_planned(t, [("b", "=", True)]) == (1, 1)
    with pytest.raises(ValueError, match="unsupported skip ops"):
        t.read_where([("id", "!=", 1)])
    with pytest.raises(ValueError, match="unsupported skip ops"):
        t.plan_scan([("id", "!=", 1)])


def test_merge_with_schema_evolution(spark, catalog):
    """MERGE WITH SCHEMA EVOLUTION: a source column the target lacks
    extends the schema; pre-existing rows surface it as NULL."""
    catalog.write_evolving(
        spark.createDataFrame([(1, "a"), (2, "b")], ["id", "x"]), "db", "me"
    )
    t = catalog.table("db", "me")
    src = spark.createDataFrame(
        [(2, "B", 20), (3, "c", 30)], ["id", "x", "score"]
    )
    t.merge_into(src, on=["id"], evolve=True)
    out = t.read()
    assert out.columns == ["id", "x", "score"]
    rows = {r.id: (r.x, r.score) for r in out.collect()}
    assert rows == {1: ("a", None), 2: ("B", 20), 3: ("c", 30)}
    # without evolve, the extra column is simply not written
    t2src = spark.createDataFrame([(4, "d", 40)], ["id", "x", "extra"])
    t.merge_into(t2src, on=["id"])
    assert t.read().columns == ["id", "x", "score"]


def test_sorted_compaction_enables_file_skipping(spark, catalog):
    """Iceberg sort-order rewrite: shuffled appends have overlapping file
    ranges (no file skipping possible); compact(sort_by) range-clusters
    so a key-range read plans a strict subset of files."""
    import random

    rng = random.Random(7)
    ids = list(range(3000))
    rng.shuffle(ids)
    for part in (ids[:1000], ids[1000:2000], ids[2000:]):
        catalog.write_evolving(
            spark.createDataFrame([(i, i % 97) for i in part], ["id", "v"]),
            "db", "sorted",
        )
    t = catalog.table("db", "sorted")
    before = t.plan_scan([("id", "<", 100)])
    assert before["batches_scanned"] == 3  # shuffled: nothing skippable
    t.compact(sort_by=["id"], target_files=8)
    after = t.plan_scan([("id", "<", 100)])
    assert after["files_total"] == 8
    assert 0 < after["files_scanned"] < after["files_total"]
    got = sorted(r.id for r in t.read_where([("id", "<", 100)]).collect())
    assert got == list(range(100))


def test_sorted_compaction_partitioned(spark, catalog):
    """Sorted compaction of a month-partitioned table keeps partition
    dirs correct and file ranges tight within months."""
    rows = [
        (i, f"2024-{1 + (i % 3):02d}-15", i * 3 % 1000)
        for i in range(900)
    ]
    catalog.write_evolving(
        _mk_part(spark, rows), "db", "sortedp", partition_month_of="ts"
    )
    t = catalog.table("db", "sortedp")
    t.compact(sort_by=["v"], target_files=6)
    plan = t.plan_scan([("v", ">=", 900)])
    assert plan["files_scanned"] < plan["files_total"]
    want = sorted(
        (r.id, r.v)
        for r in t.read().where(F.col("v") >= 900).collect()
    )
    got = sorted(
        (r.id, r.v) for r in t.read_where([("v", ">=", 900)]).collect()
    )
    assert got == want
    # month pruning still composes with file skipping
    jan = t.read_where([("v", ">=", 900)], months=["2024-01"])
    assert jan.count() == sum(
        1 for i, m, v in rows if v >= 900 and m.startswith("2024-01")
    )


def test_zorder_compaction_skips_on_both_dims(spark, catalog):
    """Z-order clusters BOTH dimensions: a y-only box query skips files
    after z-order compaction, while a linear x-sort cannot skip on y."""
    # full 200x200 grid: x and y are independent, so an x-sorted file
    # spans ALL y values (unskippable on y) while z-order bounds both
    rows = [(i, i % 200, (i // 200) % 200) for i in range(40000)]
    df = spark.createDataFrame(rows, ["id", "x", "y"])
    for name in ("zord", "xsort"):
        catalog.write_evolving(df, "db", name)
    tz = catalog.table("db", "zord")
    tx = catalog.table("db", "xsort")
    tz.compact(z_order=["x", "y"], target_files=16)
    tx.compact(sort_by=["x"], target_files=16)
    q = [("y", "<", 13)]
    pz, px = tz.plan_scan(q), tx.plan_scan(q)
    assert pz["files_scanned"] < pz["files_total"]
    assert px["files_scanned"] == px["files_total"]
    # and x stays skippable too (both dims cluster)
    qx = [("x", ">=", 190)]
    pzx = tz.plan_scan(qx)
    assert pzx["files_scanned"] < pzx["files_total"]
    # value equivalence on a 2D box
    box = [("x", "<", 50), ("y", "<", 50)]
    got = sorted(r.id for r in tz.read_where(box).collect())
    want = sorted(
        r.id
        for r in tz.read()
        .where((F.col("x") < 50) & (F.col("y") < 50))
        .collect()
    )
    assert got == want


def test_zorder_validation(spark, catalog):
    catalog.write_evolving(
        spark.createDataFrame([(1, 2)], ["a", "b"]), "db", "zv"
    )
    t = catalog.table("db", "zv")
    with pytest.raises(ValueError, match="mutually exclusive"):
        t.compact(sort_by=["a"], z_order=["a", "b"])
    with pytest.raises(ValueError, match="at least two"):
        t.compact(z_order=["a"])


def test_row_count_metadata_only(spark, catalog):
    """Metadata COUNT(*) equals the scan count through appends, DML, and
    month pruning; legacy manifests (no file_rows) fall back to a scan."""
    import json
    import os as _os

    catalog.write_evolving(
        _mk_part(
            spark,
            [(i, f"2024-{1 + i % 3:02d}-10", i) for i in range(300)],
        ),
        "db", "rc", partition_month_of="ts",
    )
    t = catalog.table("db", "rc")
    t.append(_mk_part(spark, [(1000 + i, "2024-02-20", i) for i in range(50)]))
    assert t.row_count() == t.read().count() == 350
    t.delete_where(F.col("id") % 5 == 0)
    assert t.row_count() == t.read().count()
    assert t.row_count(months=["2024-02"]) == t.read(
        months=["2024-02"]
    ).count()
    # legacy manifest: strip file_rows -> scan fallback, same answer
    snap = t._load()
    mpath = _os.path.join(t.meta_dir, f"v{snap.version}.json")
    with open(mpath) as f:
        m = json.load(f)
    for b in m["batches"]:
        b.pop("file_rows", None)
    with open(mpath, "w") as f:
        json.dump(m, f)
    assert t.row_count() == t.read().count()


def test_diff_sees_through_rewrites(spark, catalog):
    """diff() is row-level CDC: an UPDATE shows as one D + one I; appends
    as I; deletes as D; bag semantics for duplicate rows."""
    catalog.write_evolving(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (2, "b"), (3, "c")], ["id", "x"]
        ),
        "db", "df",
    )
    t = catalog.table("db", "df")
    v1 = t._load().version
    t.update_where(F.col("id") == 1, {"x": F.lit("A")})
    t.delete_where(F.col("id") == 3)
    t.append(spark.createDataFrame([(4, "d")], ["id", "x"]))
    got = sorted(
        (r.id, r.x, r._change_type) for r in t.diff(v1).collect()
    )
    assert got == [
        (1, "A", "I"), (1, "a", "D"), (3, "c", "D"), (4, "d", "I")
    ]
    # duplicate-row multiplicity: dropping ONE of two (2,'b') copies
    v2 = t._load().version
    # rewrite the table with one less duplicate via merge delete on id=2
    # then re-adding a single copy
    t.delete_where(F.col("id") == 2)
    t.append(spark.createDataFrame([(2, "b")], ["id", "x"]))
    got2 = sorted((r.id, r.x, r._change_type) for r in t.diff(v2).collect())
    assert got2 == [(2, "b", "D")]  # net change: one copy gone


def test_diff_across_schema_evolution(spark, catalog):
    catalog.write_evolving(
        spark.createDataFrame([(1, "a")], ["id", "x"]), "db", "dfe"
    )
    t = catalog.table("db", "dfe")
    v1 = t._load().version
    t.append(spark.createDataFrame([(2, "b", 9)], ["id", "x", "y"]))
    got = sorted(
        (r.id, r.x, r.y, r._change_type) for r in t.diff(v1).collect()
    )
    assert got == [(2, "b", 9, "I")]  # old row (1,a,NULL) unchanged


def test_files_metadata_table(spark, catalog):
    catalog.write_evolving(
        _mk_part(
            spark,
            [(i, f"2024-{1 + i % 2:02d}-10", i) for i in range(100)],
        ),
        "db", "fmeta", partition_month_of="ts",
    )
    t = catalog.table("db", "fmeta")
    fl = t.files()
    assert fl and all(f["rows"] > 0 for f in fl)
    assert sum(f["rows"] for f in fl) == 100
    # after a partition-scoped delete, the dropped month's files vanish
    t.delete_where(F.date_format(F.col("ts"), "yyyy-MM") == "2024-01")
    fl2 = t.files()
    assert sum(f["rows"] for f in fl2) == t.read().count()


def test_zorder_empty_and_allnull_safe(spark, catalog):
    """z-order compaction degrades to a plain rewrite when there is
    nothing to bucket (empty table / all-NULL column)."""
    catalog.write_evolving(
        spark.createDataFrame([], "a BIGINT, b BIGINT"), "db", "ze"
    )
    t = catalog.table("db", "ze")
    t.compact(z_order=["a", "b"])  # must not raise
    assert t.read().count() == 0
    catalog.write_evolving(
        spark.createDataFrame([(None, 1), (None, 2)], "a BIGINT, b BIGINT"),
        "db", "zn",
    )
    t2 = catalog.table("db", "zn")
    t2.compact(z_order=["a", "b"])
    assert t2.read().count() == 2


def test_file_pruning_excludes_dead_month_files(spark, catalog):
    """After a DML trims a batch to a month subset, dead-month files must
    leave the PLAN (inputFiles), not merely be row-filtered."""
    catalog.write_evolving(
        _mk_part(
            spark,
            [(i, f"2024-{1 + i % 2:02d}-10", i) for i in range(200)],
        ),
        "db", "dead", partition_month_of="ts",
    )
    t = catalog.table("db", "dead")
    t.delete_where(F.date_format(F.col("ts"), "yyyy-MM") == "2024-01")
    # the original batch is live only for 2024-02 now; a read_where must
    # not plan its 2024-01 file
    files = t.read_where([("v", ">=", 0)]).inputFiles()
    assert files and not any("2024-01" in f for f in files)
    assert t.read_where([("v", ">=", 0)]).count() == t.read().count()


def test_catalog_sql_front_door(spark, catalog):
    catalog.write_evolving(
        spark.createDataFrame(
            [(1, "A"), (2, "B"), (3, "A")], ["id", "seg"]
        ),
        "db", "custs",
    )
    t = catalog.table("db", "custs")
    v1 = t._load().version
    t.append(spark.createDataFrame([(4, "B")], ["id", "seg"]))
    out = {
        r.seg: r.n
        for r in catalog.sql(
            "SELECT seg, COUNT(*) AS n FROM lake.db.custs GROUP BY seg"
        ).collect()
    }
    assert out == {"A": 2, "B": 2}
    # time travel via @v
    assert (
        catalog.sql(
            f"SELECT COUNT(*) AS n FROM lake.db.custs@v{v1}"
        ).collect()[0].n
        == 3
    )
    # join a lakehouse table with itself under two refs
    n = catalog.sql(
        "SELECT COUNT(*) AS n FROM lake.db.custs a "
        "JOIN lake.db.custs b ON a.seg = b.seg"
    ).collect()[0].n
    assert n == 8  # 2x2 + 2x2


def test_catalog_sql_dml_routing(spark, catalog):
    catalog.write_evolving(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], ["id", "x", "v"]
        ),
        "db", "dml",
    )
    # INSERT INTO ... SELECT (source may itself read lake tables)
    catalog.sql(
        "INSERT INTO lake.db.dml "
        "SELECT id + 10 AS id, x, v + 100 AS v FROM lake.db.dml"
    )
    t = catalog.table("db", "dml")
    assert t.read().count() == 4
    # UPDATE with multiple SETs incl. a function call with commas
    catalog.sql(
        "UPDATE lake.db.dml SET v = v * 2, x = concat(x, '!') "
        "WHERE id >= 11"
    )
    rows = {r.id: (r.x, r.v) for r in t.read().collect()}
    assert rows[11] == ("a!", 220) and rows[1] == ("a", 10)
    # DELETE
    catalog.sql("DELETE FROM lake.db.dml WHERE id > 10")
    assert sorted(r.id for r in t.read().collect()) == [1, 2]


def test_add_column_metadata_only(spark, catalog):
    """ALTER TABLE ADD COLUMN: no file rewritten; historic rows surface
    typed NULLs; a dropped-then-readded name never resurrects old data."""
    catalog.write_evolving(
        spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]), "db", "ac"
    )
    t = catalog.table("db", "ac")
    paths = [b["path"] for b in t._load().batches]
    t.add_column("score", "double")
    assert [b["path"] for b in t._load().batches] == paths  # metadata-only
    rows = {r.id: r.score for r in t.read().collect()}
    assert rows == {1: None, 2: None}
    with pytest.raises(ValueError, match="exists"):
        t.add_column("score", "double")
    # append now carries the column
    catalog.write_evolving(
        spark.createDataFrame([(3, "c", 9.5)], ["id", "v", "score"]),
        "db", "ac",
    )
    assert {r.id: r.score for r in t.read().collect()}[3] == 9.5
    # drop + re-add: tombstoned old values must NOT resurface
    t.drop_column("score")
    t.add_column("score", "double")
    assert all(r.score is None for r in t.read().where("id != 3").collect())
    assert {r.id: r.score for r in t.read().collect()}[3] is None


def test_sql_routes_schema_ddl(spark, catalog):
    catalog.write_evolving(
        spark.createDataFrame([(1, 10)], "id bigint, v int"), "db", "ddl"
    )
    catalog.sql("ALTER TABLE lake.db.ddl ADD COLUMN tag string")
    catalog.sql("ALTER TABLE lake.db.ddl RENAME COLUMN tag TO label")
    catalog.sql("ALTER TABLE lake.db.ddl ALTER COLUMN v TYPE bigint")
    t = catalog.table("db", "ddl")
    schema = {f.name: f.dataType.simpleString() for f in t._load().schema}
    assert schema == {"id": "bigint", "v": "bigint", "label": "string"}
    catalog.sql("ALTER TABLE lake.db.ddl DROP COLUMN label")
    assert [f.name for f in t._load().schema] == ["id", "v"]


def test_merge_failure_does_not_leak_cache(spark, catalog):
    """A merge that dies mid-planning must unpersist its cached join —
    otherwise the working set stays pinned for the session's lifetime."""
    catalog.write_evolving(
        spark.createDataFrame([(1, "a")], ["id", "val"]), "db", "leak"
    )
    t = catalog.table("db", "leak")
    baseline = spark.sparkContext._jsc.getPersistentRDDs().size()

    orig = type(t)._next_version

    def boom(self, snap):
        raise RuntimeError("injected planning failure")

    type(t)._next_version = boom
    try:
        with pytest.raises(RuntimeError, match="injected"):
            t.merge_into(
                spark.createDataFrame([(1, "b")], ["id", "val"]),
                on=["id"],
            )
    finally:
        type(t)._next_version = orig
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == baseline


# -- SQL front door: MERGE INTO routing (round 5) ----------------------------


def test_sql_merge_routes_clause_variants(spark, catalog):
    catalog.write_evolving(
        spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")],
            ["id", "bal", "seg"],
        ),
        "db", "sm",
    )
    spark.createDataFrame(
        [(2, 99, "D"), (3, 99, "U"), (4, 40, "U")],
        ["id", "bal", "op"],
    ).createOrReplaceTempView("sm_src")
    catalog.sql(
        "MERGE INTO lake.db.sm AS t USING sm_src AS s ON t.id = s.id "
        "WHEN MATCHED AND s.op = 'D' THEN DELETE "
        "WHEN MATCHED AND s.op = 'U' THEN UPDATE SET bal = s.bal "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    rows = {r.id: (r.bal, r.seg) for r in
            catalog.table("db", "sm").read().collect()}
    # 1 untouched, 2 deleted, 3 updated (seg kept), 4 inserted (seg NULL)
    assert rows == {1: (10, "a"), 3: (99, "c"), 4: (40, None)}


def test_sql_merge_subquery_source_and_mor(spark, catalog):
    catalog.write_evolving(
        spark.createDataFrame([(1, 10), (2, 20)], ["id", "v"]),
        "db", "sm2",
    )
    catalog.write_evolving(
        spark.createDataFrame([(2, 21), (3, 31)], ["id", "v"]),
        "db", "feed",
    )
    catalog.sql(
        "MERGE INTO lake.db.sm2 AS t "
        "USING (SELECT id, v FROM lake.db.feed WHERE v > 0) AS s "
        "ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT * "
        "OPTIONS (mode 'mor')"
    )
    t = catalog.table("db", "sm2")
    assert {(r.id, r.v) for r in t.read().collect()} == {
        (1, 10), (2, 21), (3, 31)
    }
    # MOR shape honored: one equality-delete file committed
    assert len(t._load().deletes) == 1


def test_sql_merge_rejects_malformed(spark, catalog):
    catalog.write_evolving(
        spark.createDataFrame([(1, 10)], ["id", "v"]), "db", "sm3"
    )
    spark.createDataFrame([(1, 11)], ["id", "v"]).createOrReplaceTempView(
        "sm3_src"
    )
    with pytest.raises(ValueError, match="key equality"):
        catalog.sql(
            "MERGE INTO lake.db.sm3 t USING sm3_src s ON t.id > s.id "
            "WHEN MATCHED THEN UPDATE SET *"
        )
    with pytest.raises(ValueError, match="same-named"):
        catalog.sql(
            "MERGE INTO lake.db.sm3 t USING sm3_src s ON t.id = s.v "
            "WHEN MATCHED THEN UPDATE SET *"
        )


def test_sql_ctas_drop_and_insert_values(spark, catalog):
    catalog.write_evolving(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0)], ["id", "seg", "bal"]
        ),
        "db", "src_t",
    )
    # CTAS from another lake table
    catalog.sql(
        "CREATE TABLE lake.db.ctas AS "
        "SELECT id, bal FROM lake.db.src_t WHERE id > 1"
    )
    t = catalog.table("db", "ctas")
    assert [(r.id, r.bal) for r in t.read().collect()] == [(2, 20.0)]
    with pytest.raises(FileExistsError):
        catalog.sql("CREATE TABLE lake.db.ctas AS SELECT 1 AS x")
    # INSERT VALUES, full-schema positional
    catalog.sql("INSERT INTO lake.db.ctas VALUES (3, 30.5), (4, 40.5)")
    # INSERT VALUES with explicit column list: bal null-pads
    catalog.sql("INSERT INTO lake.db.ctas (id) VALUES (5)")
    rows = {r.id: r.bal for r in t.read().collect()}
    assert rows == {2: 20.0, 3: 30.5, 4: 40.5, 5: None}
    # unknown column in the list errors instead of evolving
    with pytest.raises(Exception):
        catalog.sql("INSERT INTO lake.db.ctas (nope) VALUES (9)")
    catalog.sql("DROP TABLE lake.db.ctas")
    assert not catalog.table("db", "ctas").exists()
    with pytest.raises(FileNotFoundError):
        catalog.sql("DROP TABLE lake.db.ctas")


def test_sql_ctas_partitioned(spark, catalog):
    import datetime as _dt

    spark.createDataFrame(
        [(i, _dt.datetime(2024, 1 + (i % 2), 3)) for i in range(10)],
        ["id", "ts"],
    ).createOrReplaceTempView("ctas_src")
    catalog.sql(
        "CREATE TABLE lake.db.ctp PARTITIONED BY MONTH(ts) AS "
        "SELECT * FROM ctas_src"
    )
    t = catalog.table("db", "ctp")
    assert [p["month"] for p in t.partitions()] == ["2024-01", "2024-02"]
    assert t.read().count() == 10


def test_sql_metadata_tables(spark, catalog):
    import datetime as _dt

    df = spark.createDataFrame(
        [(i, _dt.datetime(2024, 1 + (i % 2), 3)) for i in range(10)],
        ["id", "ts"],
    )
    catalog.write_evolving(df, "db", "meta_t", partition_month_of="ts")
    catalog.sql("INSERT INTO lake.db.meta_t SELECT 100 AS id, "
                "TIMESTAMP '2024-03-05 00:00:00' AS ts")
    # partitions: month-level row counts straight from the manifest
    parts = catalog.sql(
        "SELECT month, rows FROM lake.db.meta_t.partitions ORDER BY month"
    ).collect()
    assert [(p.month, p.rows) for p in parts] == [
        ("2024-01", 5), ("2024-02", 5), ("2024-03", 1)
    ]
    # snapshots: commit log with parent lineage + timestamps
    snaps = catalog.sql(
        "SELECT version, parent_version, committed_at_us "
        "FROM lake.db.meta_t.snapshots ORDER BY version"
    ).collect()
    assert [s.version for s in snaps] == [0, 1, 2]
    assert [s.parent_version for s in snaps] == [None, 0, 1]
    assert snaps[0].committed_at_us <= snaps[-1].committed_at_us
    # files: one row per live data file, joinable like any table
    nfiles = catalog.sql(
        "SELECT COUNT(*) AS n, SUM(rows) AS r FROM lake.db.meta_t.files "
        "WHERE content = 'data'"
    ).collect()[0]
    assert nfiles.r == 11 and nfiles.n >= 3  # >=1 file per live month
    # history: branch ancestry matches the snapshot chain
    hist = catalog.sql(
        "SELECT version FROM lake.db.meta_t.history ORDER BY version"
    ).collect()
    assert [h.version for h in hist] == [0, 1, 2]


def test_sql_time_travel_ansi(spark, catalog):
    catalog.write_evolving(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], ["id", "bal"]),
        "db", "tt",
    )
    catalog.sql("INSERT INTO lake.db.tt VALUES (3, 30.0)")
    v1 = catalog.sql(
        "SELECT COUNT(*) AS n FROM lake.db.tt FOR VERSION AS OF 1"
    ).collect()[0].n
    head = catalog.sql("SELECT COUNT(*) AS n FROM lake.db.tt").collect()[0].n
    assert (v1, head) == (2, 3)
    # TIMESTAMP AS OF: each snapshot's own commit stamp resolves to it
    snaps = catalog.table("db", "tt").snapshots()
    for s in snaps:
        n = catalog.sql(
            "SELECT COUNT(*) AS n FROM lake.db.tt "
            f"FOR TIMESTAMP AS OF {s['committed_at_us']}"
        ).collect()[0].n
        assert n == {0: 0, 1: 2, 2: 3}[s["version"]]
    # a pre-creation timestamp is a loud error, not an empty frame
    with pytest.raises(ValueError):
        catalog.sql(
            "SELECT * FROM lake.db.tt FOR TIMESTAMP AS OF '1999-01-01'"
        )
    # string literal form (UTC): far-future date resolves to head
    n = catalog.sql(
        "SELECT COUNT(*) AS n FROM lake.db.tt "
        "FOR TIMESTAMP AS OF '2099-12-31 23:59:59'"
    ).collect()[0].n
    assert n == 3


def test_sql_show_and_describe(spark, catalog):
    import datetime as _dt

    catalog.write_evolving(
        spark.createDataFrame(
            [(1, _dt.datetime(2024, 1, 1))], ["id", "ts"]
        ),
        "db", "shown", partition_month_of="ts",
    )
    catalog.write_evolving(
        spark.createDataFrame([(1,)], ["x"]), "db2", "other"
    )
    ns = [r.namespace for r in catalog.sql("SHOW NAMESPACES").collect()]
    assert ns == ["db", "db2"]
    tabs = catalog.sql("SHOW TABLES IN lake.db").collect()
    assert [(t.namespace, t.table) for t in tabs] == [("db", "shown")]
    desc = catalog.sql("DESCRIBE TABLE lake.db.shown").collect()
    assert [(d.col_name, d.data_type) for d in desc] == [
        ("id", "bigint"), ("ts", "timestamp"),
        ("# partition", "months(ts)"),
    ]
    parts = catalog.sql("SHOW PARTITIONS lake.db.shown").collect()
    assert [(p.month, p.rows) for p in parts] == [("2024-01", 1)]


def test_history_follows_branch_ancestry(spark, catalog):
    catalog.write_evolving(
        spark.createDataFrame([(1,)], ["id"]), "db", "br"
    )
    t = catalog.table("db", "br")
    t.append(spark.createDataFrame([(2,)], ["id"]))          # v2 on main
    t.create_branch("audit")                                  # from head=2
    ta = catalog.table("db", "br").branch("audit")
    ta.append(spark.createDataFrame([(3,)], ["id"]))          # v3 on audit
    t.append(spark.createDataFrame([(4,)], ["id"]))           # v4 on main
    main_hist = [h["version"] for h in t.history()]
    audit_hist = [h["version"] for h in ta.history()]
    assert main_hist == [0, 1, 2, 4]    # v3 is not a main ancestor
    assert audit_hist == [0, 1, 2, 3]   # v4 is not an audit ancestor
    # timestamp resolution respects the ancestry: audit's newest commit
    # never resolves on main even though its timestamp is in range
    head_ts = t._load().committed_at_us
    assert t.version_as_of_timestamp(head_ts) == 4


def test_orphan_batch_dir_never_wedges_commits(spark, catalog):
    """A crashed/speculative writer leaves data/batch-N with no
    manifest referencing it. The next commit that would claim that
    name must pick a free suffixed dir instead of failing
    PATH_ALREADY_EXISTS forever (the r12 catalog probe's killed-writer
    table wedged compact() exactly this way); remove_orphan_files
    remains the reclaim path and live data survives it."""
    catalog.write_evolving(
        spark.createDataFrame([(1,)], ["id"]), "db", "orph"
    )
    t = catalog.table("db", "orph")
    for k in range(8):  # orphans squatting on every upcoming name
        os.makedirs(
            os.path.join(t.data_dir, f"batch-{k}"), exist_ok=True
        )
    t.append(spark.createDataFrame([(2,)], ["id"]))  # must not wedge
    t.compact()                                       # nor maintenance
    assert {r.id for r in t.read().collect()} == {1, 2}
    t.remove_orphan_files(older_than_s=0)
    assert {r.id for r in t.read().collect()} == {1, 2}


def test_commit_log_matches_manifest_walk(spark, catalog):
    """r12 commit-count probe follow-up: lineage walks read the O(1)
    commit_log.jsonl (one tiny line per commit) instead of parsing
    every manifest (each O(batches) — the walk was quadratic, 8.2s at
    1000 commits). The log is ADVISORY: deleting it must change no
    answer (per-hop manifest fallback), rebuild_commit_log backfills
    it, expiry compacts it to the live set, and timestamp resolution
    never lands on an expired snapshot (the probe tripped exactly
    that after expire_snapshots)."""
    catalog.write_evolving(
        spark.createDataFrame([(0,)], ["id"]), "db", "clog"
    )
    t = catalog.table("db", "clog")
    for i in range(1, 6):
        t.append(spark.createDataFrame([(i,)], ["id"]))
    assert os.path.isfile(t._commit_log_path)
    with_log = t.history()
    assert [h["version"] for h in with_log] == list(range(7))
    os.remove(t._commit_log_path)
    assert t.history() == with_log  # walk fallback, identical answer
    assert t.rebuild_commit_log() == len(t._versions())
    assert t.history() == with_log
    # a timestamp inside the soon-expired region resolves to an
    # expired version ONLY before expiry; after it, it raises instead
    # of handing back a version the read path must refuse
    mid_ts = t._load(t._versions()[2]).committed_at_us
    assert t.version_as_of_timestamp(mid_ts) == t._versions()[2]
    t.expire_snapshots(keep_last=2)
    assert len(t._commit_log()) == len(t._versions())  # log compacted
    with pytest.raises(ValueError, match="no snapshot at or before"):
        t.version_as_of_timestamp(mid_ts)
    head_ts = t._load().committed_at_us
    assert t.version_as_of_timestamp(head_ts) == t._versions()[-1]


def test_sql_tblproperties_roundtrip(spark, catalog):
    catalog.sql(
        "CREATE TABLE lake.db.props "
        "TBLPROPERTIES ('optimize_rewrite_delete_file_threshold'='2', "
        "'vacuum_min_snapshots_to_keep'='5') "
        "AS SELECT 1 AS id"
    )
    t = catalog.table("db", "props")
    assert t.properties() == {
        "optimize_rewrite_delete_file_threshold": "2",
        "vacuum_min_snapshots_to_keep": "5",
    }
    catalog.sql(
        "ALTER TABLE lake.db.props SET TBLPROPERTIES "
        "('optimize_rewrite_data_file_threshold'='8', "
        "'vacuum_min_snapshots_to_keep'='3')"
    )
    shown = {
        r.key: r.value
        for r in catalog.sql("SHOW TBLPROPERTIES lake.db.props").collect()
    }
    assert shown["optimize_rewrite_data_file_threshold"] == "8"
    assert shown["vacuum_min_snapshots_to_keep"] == "3"  # merge-set wins
    catalog.sql(
        "ALTER TABLE lake.db.props UNSET TBLPROPERTIES "
        "('optimize_rewrite_data_file_threshold')"
    )
    assert "optimize_rewrite_data_file_threshold" not in t.properties()
    # unset of a missing key is a no-op (Iceberg IF EXISTS semantics)
    catalog.sql(
        "ALTER TABLE lake.db.props UNSET TBLPROPERTIES ('nope')"
    )
    assert t.int_property("vacuum_min_snapshots_to_keep", 5) == 3


def test_sql_call_procedures(spark, catalog):
    catalog.write_evolving(
        spark.createDataFrame([(i, i % 3) for i in range(60)], ["id", "k"]),
        "db", "proc",
    )
    t = catalog.table("db", "proc")
    for j in range(3):
        t.append(
            spark.createDataFrame([(100 + j, j)], ["id", "k"])
        )
    n_before = len(t._load().batches)
    assert n_before == 4
    # rewrite_data_files with a sort order: one batch, content unchanged
    catalog.sql(
        "CALL lake.system.rewrite_data_files('db.proc', "
        "sort_order => 'id', target_files => 2)"
    )
    assert len(t._load().batches) == 1
    assert t.read().count() == 63
    # expire_snapshots returns the expired count
    n = catalog.sql(
        "CALL lake.system.expire_snapshots('db.proc', retain_last => 1)"
    ).collect()[0].expired
    assert n >= 1
    # rollback / branch / tag / fast_forward route end-to-end
    head = t._load().version
    catalog.sql(f"CALL lake.system.create_tag('db.proc', 'stable', {head})")
    catalog.sql("CALL lake.system.create_branch('db.proc', 'audit')")
    ta = catalog.table("db", "proc").branch("audit")
    ta.append(spark.createDataFrame([(999, 9)], ["id", "k"]))
    catalog.sql(
        "CALL lake.system.fast_forward('db.proc', 'main', 'audit')"
    )
    assert catalog.table("db", "proc").read().count() == 64
    with pytest.raises(ValueError, match="unknown procedure"):
        catalog.sql("CALL lake.system.nope('db.proc')")
    with pytest.raises(ValueError, match="ns.table"):
        catalog.sql("CALL lake.system.expire_snapshots(5)")


def test_sql_call_rewrite_delete_files(spark, catalog):
    catalog.write_evolving(
        spark.createDataFrame([(i, 0) for i in range(40)], ["id", "rev"]),
        "db", "procd",
    )
    t = catalog.table("db", "procd")
    for rev in (1, 2, 3):
        t.merge_into(
            spark.createDataFrame([(5, rev)], ["id", "rev"]),
            on=["id"], mode="mor",
        )
    assert len(t._load().deletes) == 3
    catalog.sql("CALL lake.system.rewrite_delete_files('db.procd')")
    assert t._load().deletes == []
    assert t.read().count() == 40
    assert {r.rev for r in t.read().where("id = 5").collect()} == {3}


def _pe_df(spark, year, month, n, base=0):
    import datetime as _dt

    return spark.createDataFrame(
        [
            (base + i, _dt.datetime(year, month, 1 + (i % 27)), i * 1.0)
            for i in range(n)
        ],
        ["id", "ts", "v"],
    )


def test_partition_evolution_none_to_month(spark, catalog):
    catalog.write_evolving(_pe_df(spark, 2024, 1, 10), "db", "pe")
    t = catalog.table("db", "pe")
    t.append(_pe_df(spark, 2024, 2, 10, base=100))
    assert t._load().partition_month_of is None
    t.set_partition_spec("ts")
    t.append(_pe_df(spark, 2024, 3, 10, base=200))   # new layout
    snap = t._load()
    assert snap.partition_month_of == "ts"
    assert t.read().count() == 30
    # read(months=) stays exact across layouts: old batches row-filter
    assert t.read(months=["2024-01"]).count() == 10
    assert t.read(months=["2024-03"]).count() == 10
    assert t.row_count(months=["2024-01"]) == 10
    assert t.row_count() == 30
    # partitions(): per-spec buckets — old rows under spec None
    parts = {(p["spec_col"], p["month"]): p["rows"] for p in t.partitions()}
    assert parts[("ts", "2024-03")] == 10
    assert parts[(None, None)] == 20


def test_partition_evolution_cow_dml_carries_foreign_rows(spark, catalog):
    catalog.write_evolving(_pe_df(spark, 2024, 1, 10), "db", "ped")
    t = catalog.table("db", "ped")
    t.append(_pe_df(spark, 2024, 2, 10, base=100))   # unpartitioned too
    t.set_partition_spec("ts")
    # COW DELETE scoped to 2024-01: the unpartitioned batches can't be
    # month-trimmed — their 2024-02 rows must survive via the carry path
    t.delete_where("ts < TIMESTAMP '2024-02-01 00:00:00' AND id < 5")
    rows = t.read()
    assert rows.count() == 15
    assert rows.where("ts < TIMESTAMP '2024-02-01'").count() == 5
    assert rows.where("ts >= TIMESTAMP '2024-02-01'").count() == 10
    # COW UPDATE after evolution: only matching rows change, all survive
    t.update_where("id >= 100", {"v": "v + 1000"})
    assert t.read().where("v >= 1000").count() == 10
    assert t.read().count() == 15


def test_partition_evolution_cow_null_timestamp_keeps_foreign_rows(
    spark, catalog
):
    # a NULL partition timestamp lies in no month, so a merge source or
    # a DML match holding one cannot be month-scoped: the rewrite must
    # still keep every foreign-layout row outside the change
    catalog.write_evolving(_pe_df(spark, 2024, 1, 6), "db", "pen")
    t = catalog.table("db", "pen")
    t.append(_pe_df(spark, 2024, 2, 6, base=100))
    t.set_partition_spec("ts")
    src = spark.createDataFrame(
        [(0, None, 50.0), (300, datetime.datetime(2024, 1, 9), 60.0)],
        "id long, ts timestamp, v double",
    )
    t.merge_into(src, on=["id"], matched_update={"v": "s.v"})
    rows = {r.id: r.v for r in t.read().collect()}
    assert sorted(rows) == [*range(6), *range(100, 106), 300]
    assert rows[0] == 50.0 and rows[300] == 60.0 and rows[101] == 1.0
    t.set_partition_spec(None)
    t.append(
        spark.createDataFrame(
            [(901, None, 9.0), (902, datetime.datetime(2024, 2, 20), 9.0)],
            "id long, ts timestamp, v double",
        )
    )
    t.set_partition_spec("ts")
    t.delete_where("ts IS NULL OR id < 2")
    ids = sorted(r.id for r in t.read().collect())
    assert ids == [*range(2, 6), *range(100, 106), 300, 902]


def test_dml_rejects_missing_condition(spark, catalog):
    catalog.write_evolving(
        spark.createDataFrame([(1, 1.0)], ["id", "v"]), "db", "dnc"
    )
    t = catalog.table("db", "dnc")
    before = t._load().version
    with pytest.raises(ValueError, match="needs a condition"):
        t.delete_where(None)
    with pytest.raises(ValueError, match="needs a condition"):
        t.update_where(None, {"v": "v + 1"})
    assert t._load().version == before


def test_null_partition_timestamp_rows_read_back(spark, catalog):
    # a NULL partition timestamp is written under the default-partition
    # month, which reads back as a NULL month: every read must still
    # return its rows, and a COW DELETE of another month must keep them
    rows = spark.createDataFrame(
        [
            (1, datetime.datetime(2024, 1, 5)),
            (2, None),
            (3, datetime.datetime(2024, 2, 5)),
        ],
        "id long, ts timestamp",
    )
    catalog.write_evolving(rows, "db", "nts", partition_month_of="ts")
    t = catalog.table("db", "nts")
    assert "__HIVE_DEFAULT_PARTITION__" in t._load().batches[0]["months"]
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 3]
    assert t.row_count() == 3
    t.delete_where("id = 1")
    assert sorted(r.id for r in t.read().collect()) == [2, 3]
    assert t.row_count() == 2


def test_partition_evolution_overwrite_keeps_foreign_out_of_scope(
    spark, catalog
):
    catalog.write_evolving(_pe_df(spark, 2024, 1, 8), "db", "peo")
    t = catalog.table("db", "peo")
    t.append(_pe_df(spark, 2024, 2, 8, base=100))
    t.set_partition_spec("ts")
    # overwrite ONLY 2024-01 with 3 fresh rows; the unpartitioned
    # batches' 2024-02 rows must survive (pre-fix they were dropped)
    t.overwrite_partitions(_pe_df(spark, 2024, 1, 3, base=500))
    out = t.read()
    assert out.count() == 11
    assert sorted(
        r.id for r in out.where("ts < TIMESTAMP '2024-02-01'").collect()
    ) == [500, 501, 502]
    assert out.where("ts >= TIMESTAMP '2024-02-01'").count() == 8


def test_partition_evolution_compact_migrates_layout(spark, catalog):
    catalog.write_evolving(_pe_df(spark, 2024, 1, 10), "db", "pec")
    t = catalog.table("db", "pec")
    t.set_partition_spec("ts")
    t.append(_pe_df(spark, 2024, 2, 10, base=100))
    t.compact()
    snap = t._load()
    assert len(snap.batches) == 1
    assert snap.batches[0]["spec_col"] == "ts"
    assert sorted(snap.batches[0]["months"]) == ["2024-01", "2024-02"]
    assert t.read().count() == 20
    # after migration, pruning is metadata-only again
    assert t.row_count(months=["2024-01"]) == 10


def test_partition_evolution_sql_and_validation(spark, catalog):
    catalog.write_evolving(_pe_df(spark, 2024, 1, 4), "db", "pes")
    catalog.sql("ALTER TABLE lake.db.pes SET PARTITION SPEC MONTH(ts)")
    t = catalog.table("db", "pes")
    assert t._load().partition_month_of == "ts"
    catalog.sql("ALTER TABLE lake.db.pes SET PARTITION SPEC NONE")
    assert t._load().partition_month_of is None
    with pytest.raises(ValueError, match="no such column"):
        t.set_partition_spec("nope")
    with pytest.raises(ValueError, match="date/timestamp"):
        t.set_partition_spec("v")
    # no-op spec set commits nothing
    before = t._load().version
    assert t.set_partition_spec(None) == before


def test_sql_insert_overwrite_and_truncate(spark, catalog):
    catalog.write_evolving(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], ["id", "bal"]),
        "db", "ovw",
    )
    t = catalog.table("db", "ovw")
    # unpartitioned: full replace in one commit
    catalog.sql(
        "INSERT OVERWRITE lake.db.ovw SELECT 9 AS id, 90.0 AS bal"
    )
    assert [(r.id, r.bal) for r in t.read().collect()] == [(9, 90.0)]
    # time travel still sees the replaced content
    assert catalog.sql(
        "SELECT COUNT(*) AS n FROM lake.db.ovw FOR VERSION AS OF 1"
    ).collect()[0].n == 2
    catalog.sql("TRUNCATE TABLE lake.db.ovw")
    assert t.read().count() == 0
    assert t.row_count() == 0
    # partitioned: INSERT OVERWRITE is dynamic (replaces only the months
    # present in the data)
    import datetime as _dt

    catalog.write_evolving(
        spark.createDataFrame(
            [(i, _dt.datetime(2024, 1 + (i % 2), 5)) for i in range(8)],
            ["id", "ts"],
        ),
        "db", "ovp", partition_month_of="ts",
    )
    spark.createDataFrame(
        [(100, _dt.datetime(2024, 1, 9))], ["id", "ts"]
    ).createOrReplaceTempView("ovp_new")
    catalog.sql("INSERT OVERWRITE lake.db.ovp SELECT * FROM ovp_new")
    tp = catalog.table("db", "ovp")
    out = tp.read()
    assert out.where("ts < TIMESTAMP '2024-02-01'").count() == 1  # replaced
    assert out.where("ts >= TIMESTAMP '2024-02-01'").count() == 4  # kept


def test_temporal_footer_stats_and_skipping(spark, catalog):
    import datetime as _dt

    catalog.write_evolving(
        spark.createDataFrame(
            [
                (i, _dt.datetime(2024, 1, 1 + i), _dt.date(2024, 2, 1 + i))
                for i in range(10)
            ],
            ["id", "ts", "d"],
        ),
        "db", "tstats",
    )
    t = catalog.table("db", "tstats")
    stats = t._load().batches[0]["stats"]
    # canonical full-width strings, chronological == lexicographic
    assert stats["ts"] == [
        "2024-01-01 00:00:00.000000", "2024-01-10 00:00:00.000000"
    ]
    assert stats["d"] == [
        "2024-02-01 00:00:00.000000", "2024-02-10 00:00:00.000000"
    ]
    # no-op DML gate: an out-of-range ts DELETE is metadata-only
    before = t._load().version
    assert t.delete_where("ts > TIMESTAMP '2025-06-01 00:00:00'") == before
    assert t.delete_where("d < DATE '2024-01-01'") == before
    # boundary soundness: equality at exact midnight MUST NOT be skipped
    v = t.delete_where("ts = TIMESTAMP '2024-01-03 00:00:00'")
    assert v > before
    assert t.read().count() == 9
    # in-range short-form string predicate still scans (and deletes)
    v2 = t.delete_where("d = '2024-02-05'")
    assert v2 > v
    assert t.read().count() == 8


def test_temporal_file_pruning_after_sorted_compact(spark, catalog):
    import datetime as _dt

    catalog.write_evolving(
        spark.createDataFrame(
            [
                (i, _dt.datetime(2024, 1, 1) + _dt.timedelta(hours=i))
                for i in range(2000)
            ],
            ["id", "ts"],
        ),
        "db", "tprune",
    )
    t = catalog.table("db", "tprune")
    t.compact(sort_by=["ts"], target_files=8)
    p = t.plan_scan(
        [("ts", "<", "2024-01-05 00:00:00")]
    )
    assert p["files_scanned"] < p["files_total"]
    # pruning changed the plan, not the answer
    n = t.read_where(
        [("ts", "<", "2024-01-05 00:00:00")]
    ).count()
    assert n == 4 * 24


def test_temporal_gate_never_misfires_on_string_columns(spark, catalog):
    """A STRING column holding date-shaped text keeps raw string stats;
    the literal must NOT be canonicalized for it (a full-width rewrite
    would lexically overshoot the raw stat and 'prove' a false no-match
    on equality — a silently dropped DELETE)."""
    catalog.write_evolving(
        spark.createDataFrame(
            [(1, "2024-01-05"), (2, "2024-03-09")], ["id", "s"]
        ),
        "db", "tstr",
    )
    t = catalog.table("db", "tstr")
    v = t.delete_where("s = '2024-01-05'")
    assert v > 0
    assert [r.s for r in t.read().collect()] == ["2024-03-09"]


def test_sql_views(spark, catalog):
    catalog.write_evolving(
        spark.createDataFrame(
            [(1, "A", 10.0), (2, "B", 20.0), (3, "A", 30.0)],
            ["id", "seg", "bal"],
        ),
        "db", "vsrc",
    )
    catalog.sql(
        "CREATE VIEW lake.db.seg_a AS "
        "SELECT id, bal FROM lake.db.vsrc WHERE seg = 'A'"
    )
    got = sorted(
        (r.id, r.bal)
        for r in catalog.sql("SELECT * FROM lake.db.seg_a").collect()
    )
    assert got == [(1, 10.0), (3, 30.0)]
    # a view is a saved query: new data appears on next reference
    catalog.sql("INSERT INTO lake.db.vsrc VALUES (4, 'A', 40.0)")
    assert catalog.sql(
        "SELECT COUNT(*) AS n FROM lake.db.seg_a"
    ).collect()[0].n == 3
    # views over views resolve recursively
    catalog.sql(
        "CREATE VIEW lake.db.seg_a_big AS "
        "SELECT * FROM lake.db.seg_a WHERE bal > 15"
    )
    assert catalog.sql(
        "SELECT COUNT(*) AS n FROM lake.db.seg_a_big"
    ).collect()[0].n == 2
    # OR REPLACE; plain CREATE on an existing view errors
    with pytest.raises(FileExistsError):
        catalog.sql("CREATE VIEW lake.db.seg_a AS SELECT 1 AS x")
    catalog.sql(
        "CREATE OR REPLACE VIEW lake.db.seg_a AS "
        "SELECT id FROM lake.db.vsrc WHERE seg = 'B'"
    )
    assert [r.id for r in catalog.sql(
        "SELECT * FROM lake.db.seg_a"
    ).collect()] == [2]
    # name shadowing a table is rejected; views listed; drop works
    with pytest.raises(ValueError, match="table named"):
        catalog.sql("CREATE VIEW lake.db.vsrc AS SELECT 1 AS x")
    shown = catalog.sql("SHOW VIEWS IN lake.db").collect()
    assert sorted(r.view for r in shown) == ["seg_a", "seg_a_big"]
    catalog.sql("DROP VIEW lake.db.seg_a_big")
    with pytest.raises(FileNotFoundError):
        catalog.sql("DROP VIEW lake.db.seg_a_big")
    # time travel on a view is a loud error
    with pytest.raises(ValueError, match="no snapshots"):
        catalog.sql("SELECT * FROM lake.db.seg_a FOR VERSION AS OF 1")


def test_sql_view_cycle_detection(spark, catalog):
    catalog.create_view("db", "v1", "SELECT * FROM lake.db.v2")
    catalog.create_view("db", "v2", "SELECT * FROM lake.db.v1")
    with pytest.raises(Exception, match="cyclic view"):
        catalog.sql("SELECT * FROM lake.db.v1").collect()


def test_partition_evolution_between_two_columns(spark, catalog):
    """colA -> colB evolution where both specs produce identical month
    STRINGS: colA batches must not be trimmed by colB-derived months
    (spec_col tracking, not month-value matching, decides prunability)."""
    import datetime as _dt

    rows = [
        # created_at in 2024-01 but updated_at in 2024-02 and vice versa
        (1, _dt.datetime(2024, 1, 5), _dt.datetime(2024, 2, 5), 10.0),
        (2, _dt.datetime(2024, 2, 6), _dt.datetime(2024, 1, 6), 20.0),
    ]
    catalog.write_evolving(
        spark.createDataFrame(
            rows, ["id", "created_at", "updated_at", "v"]
        ),
        "db", "pe2", partition_month_of="created_at",
    )
    t = catalog.table("db", "pe2")
    t.set_partition_spec("updated_at")
    t.append(
        spark.createDataFrame(
            [(3, _dt.datetime(2024, 1, 7), _dt.datetime(2024, 2, 7), 30.0)],
            ["id", "created_at", "updated_at", "v"],
        )
    )
    # read(months=) now means updated_at months. Row 2 (updated 2024-01)
    # lives in a created_at-partitioned batch whose month label is
    # "2024-02" — only the row-level filter can find it.
    assert sorted(
        r.id for r in t.read(months=["2024-01"]).collect()
    ) == [2]
    assert sorted(
        r.id for r in t.read(months=["2024-02"]).collect()
    ) == [1, 3]
    # DML scoped by the new spec: old-spec rows outside scope survive
    v = t.delete_where(
        "updated_at < TIMESTAMP '2024-02-01 00:00:00' AND v > 15"
    )
    assert v > 0
    assert sorted(r.id for r in t.read().collect()) == [1, 3]
    assert t.row_count() == 2


def test_remove_orphan_files_planted_and_crashed(spark, catalog):
    import shutil

    df = spark.range(50).toDF("id")
    catalog.write_evolving(df, "db", "orph")
    t = catalog.table("db", "orph")
    batch = t._load().batches[0]["path"]
    live = next(
        f for f in os.listdir(batch) if f.endswith(".parquet")
    )
    # orphan class 1: a data file no manifest lists (failed task retry)
    planted = os.path.join(batch, "part-99999-orphan.c000.parquet")
    shutil.copy(os.path.join(batch, live), planted)
    # orphan class 2: a whole batch dir from a writer that crashed
    # before committing
    crashed = os.path.join(t.data_dir, "batch-temp-crashed")
    shutil.copytree(batch, crashed)
    # manifest-planned reads never see uncommitted junk, even BEFORE
    # the cleanup runs (Iceberg plans from the manifest, not the dir)
    before = t.read().count()
    assert before == 50
    removed = t.remove_orphan_files(older_than_s=0)
    assert planted in removed
    assert any(p.startswith(crashed) for p in removed)
    assert not os.path.exists(crashed)  # emptied dir pruned
    assert os.path.exists(os.path.join(batch, live))
    assert t.read().count() == before == 50
    # age guard: a fresh orphan survives the default 3-day threshold
    shutil.copy(os.path.join(batch, live), planted)
    assert t.remove_orphan_files() == []
    assert os.path.exists(planted)


def test_remove_orphans_after_expire_reclaims_dead_months(spark, catalog):
    df = spark.range(100).select(
        F.col("id"),
        F.expr(
            "timestamp'2024-01-15 00:00:00' "
            "+ make_interval(0, cast(id % 2 as int))"
        ).alias("ts"),
    )
    catalog.create_namespace("db")
    t = catalog.table("db", "dm")
    t.create(df.schema, partition_month_of="ts")
    t.append(df)
    t.delete_where("ts >= timestamp'2024-02-01 00:00:00'")
    # while the pre-delete snapshot exists, the dead-month file is
    # REFERENCED (time travel must keep working): nothing is orphan
    assert t.remove_orphan_files(older_than_s=0) == []
    assert t.read(version=1).count() == 100
    t.expire_snapshots(keep_last=1)
    removed = t.remove_orphan_files(older_than_s=0)
    parqs = [p for p in removed if p.endswith(".parquet")]
    assert len(parqs) == 1 and "__p_month=2024-02" in parqs[0]
    assert all("__p_month=2024-02" in p for p in removed)
    assert t.read().count() == 50
    assert {r.id for r in t.read().collect()} == set(range(0, 100, 2))


def test_one_live_file_rule_behind_every_manifest_reader(spark, catalog):
    """A COW delete trims the older batch of a month-partitioned table to
    fewer months. The scan, the metadata count, files(), partitions() and
    the planner must agree on its live files; a parquet file outside
    every month dir of a month batch is not live for any of them; and
    reclaiming the dead files leaves read() unchanged."""
    import shutil

    catalog.write_evolving(
        _mk_part(
            spark, [(i, f"2024-{1 + i % 3:02d}-10", i) for i in range(90)]
        ),
        "db", "lr", partition_month_of="ts",
    )
    t = catalog.table("db", "lr")
    t.append(_mk_part(spark, [(100 + i, "2024-03-20", i) for i in range(10)]))
    older = t._load().batches[0]
    t.delete_where(F.col("id") == 1)  # a 2024-02 row
    [trimmed] = [b for b in t._load().batches if b["path"] == older["path"]]
    assert trimmed["months"] == ["2024-01", "2024-03"]
    dead_dir = os.path.abspath(
        os.path.join(older["path"], "__p_month=2024-02")
    )
    assert os.path.isdir(dead_dir)
    # a stray copy of a live file at the batch root, outside every month dir
    live_rel = next(r for r in older["file_rows"] if "2024-01" in r)
    stray = os.path.abspath(os.path.join(older["path"], "stray.parquet"))
    shutil.copy(os.path.join(older["path"], live_rel), stray)

    n = t.read().count()
    assert n == 99
    assert t.row_count() == n
    for m in ["2024-01", "2024-02", "2024-03"]:
        assert t.row_count(months=[m]) == t.read(months=[m]).count()
    files = t.files()
    assert sum(f["rows"] for f in files) == n
    assert sum(p["rows"] for p in t.partitions()) == n
    assert t.plan_scan([])["files_scanned"] == len(files)
    listed = {os.path.abspath(f["file"]) for f in files}
    assert stray not in listed
    assert not any(f.startswith(dead_dir + os.sep) for f in listed)

    before = sorted(t.read().collect())
    t.expire_snapshots(keep_last=1)
    removed = t.remove_orphan_files(older_than_s=0)
    assert stray in removed
    dead = [p for p in removed if p != stray]
    assert any(p.endswith(".parquet") for p in dead)
    assert all(p.startswith(dead_dir + os.sep) for p in dead)
    assert sorted(t.read().collect()) == before


def test_remove_orphans_protects_delete_files_and_sql_call(spark, catalog):
    df = spark.range(40).select(
        F.col("id"), (F.col("id") % 5).alias("k")
    )
    catalog.write_evolving(df, "db", "mor_orph")
    t = catalog.table("db", "mor_orph")
    t.delete_where("k = 3", mode="mor", keys=["id"])
    assert t._load().deletes
    # the MOR delete file's dir is protected wholesale
    assert t.remove_orphan_files(older_than_s=0) == []
    assert t.read().count() == 32
    out = catalog.sql(
        "CALL lake.system.remove_orphan_files('db.mor_orph', "
        "older_than_seconds => 0)"
    ).collect()
    assert out[0].orphans_removed == 0


def test_expire_snapshots_age_gate(spark, catalog):
    catalog.write_evolving(spark.range(3).toDF("id"), "db", "age")
    t = catalog.table("db", "age")
    for i in range(4):
        t.append(spark.range(3).toDF("id"))
    assert len(t._versions()) == 6  # create + 5 appends
    # every snapshot is seconds old: a 1-hour age gate expires nothing
    # even though the count window would
    assert t.expire_snapshots(keep_last=1, max_age_s=3600) == []
    assert len(t._versions()) == 6
    # age 0 restores pure count-based behavior
    dropped = t.expire_snapshots(keep_last=2, max_age_s=0)
    assert len(dropped) == 4 and len(t._versions()) == 2
    out = catalog.sql(
        "CALL lake.system.expire_snapshots('db.age', retain_last => 1, "
        "older_than_seconds => 3600)"
    ).collect()
    assert out[0].expired == 0


def test_maintenance_age_property_and_orphan_sweep(spark, catalog, tmp_path):
    from spark_iceberg_schema_evolution_spark.jobs.maintain_table import (
        build_parser,
        maintain,
    )

    catalog.write_evolving(spark.range(5).toDF("id"), "db", "mt")
    t = catalog.table("db", "mt")
    t.append(spark.range(5, 10).toDF("id"))
    t.set_properties({"vacuum_max_snapshot_age_seconds": "3600"})
    args = build_parser().parse_args(
        [
            "--warehouse", catalog.warehouse,
            "--namespace", "db", "--table", "mt",
            "--keep-snapshots", "1",
            "--remove-orphans", "--orphan-age-seconds", "0",
        ]
    )
    report = maintain(spark, args)
    # property-driven age gate kept the young snapshot alive
    assert report["snapshots_expired"] == 0
    assert report["orphans_removed"] == 0
    assert report["rows_after"] == report["rows"] == 10
    # CLI flag overrides the property: age 0 expires by count again
    args2 = build_parser().parse_args(
        [
            "--warehouse", catalog.warehouse,
            "--namespace", "db", "--table", "mt",
            "--keep-snapshots", "1",
            "--max-snapshot-age-seconds", "0",
        ]
    )
    report2 = maintain(spark, args2)
    assert report2["snapshots_expired"] == 2  # v0 create + v1 first append


def test_sql_explain_and_show_create_table(spark, catalog):
    spark.range(10).selectExpr(
        "id", "id % 3 AS k"
    ).createOrReplaceTempView("exp_src")
    catalog.sql(
        "CREATE TABLE lake.db.sct PARTITIONED BY BUCKET(4, id) "
        "TBLPROPERTIES ('owner'='me') AS SELECT * FROM exp_src"
    )
    plan = catalog.sql(
        "EXPLAIN SELECT k, COUNT(*) AS n FROM lake.db.sct GROUP BY k"
    ).first().plan
    assert "Physical Plan" in plan and "HashAggregate" in plan
    ext = catalog.sql(
        "EXPLAIN EXTENDED SELECT * FROM lake.db.sct"
    ).first().plan
    assert "Parsed Logical Plan" in ext
    stmt = catalog.sql(
        "SHOW CREATE TABLE lake.db.sct"
    ).first().createtab_stmt
    assert "CREATE TABLE lake.db.sct" in stmt
    assert "id bigint" in stmt
    assert "PARTITIONED BY (BUCKET(4, id))" in stmt
    assert "'owner'='me'" in stmt
    assert "write.bucket" not in stmt
    # DESCRIBE surfaces the bucket transform
    desc = catalog.sql("DESCRIBE TABLE lake.db.sct").collect()
    assert any(
        r.col_name == "# partition" and r.data_type == "bucket(4, id)"
        for r in desc
    )


def test_merge_not_matched_by_source_full_sync(spark, catalog):
    """The snapshot-sync clause: target rows absent from the source
    DELETE, everything else upserts -> final state == source."""
    t0 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["id", "v"]
    )
    catalog.write_evolving(t0, "db", "sync")
    t = catalog.table("db", "sync")
    src = spark.createDataFrame(
        [(2, "B"), (4, "d")], ["id", "v"]
    )
    t.merge_into(
        src, on=["id"], unmatched_source_delete_where=True
    )
    assert {(r.id, r.v) for r in t.read().collect()} == {
        (2, "B"), (4, "d")
    }


def test_merge_by_source_conditional_delete_and_update(spark, catalog):
    t0 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 99), (3, "c", 5)],
        ["id", "v", "score"],
    )
    catalog.write_evolving(t0, "db", "bsc")
    t = catalog.table("db", "bsc")
    src = spark.createDataFrame([(1, "A", 11)], ["id", "v", "score"])
    # unmatched-by-source: delete low scores, mark survivors stale
    t.merge_into(
        src,
        on=["id"],
        unmatched_source_delete_where="t.score < 50",
        unmatched_source_update={"v": "concat(t.v, '-stale')"},
    )
    got = {(r.id, r.v, r.score) for r in t.read().collect()}
    # id=1 matched-updated; id=3 deleted (score 5); id=2 kept + marked
    assert got == {(1, "A", 11), (2, "b-stale", 99)}


def test_merge_by_source_update_condition_gate(spark, catalog):
    t0 = spark.createDataFrame(
        [(1, "x", 1), (2, "y", 2)], ["id", "v", "g"]
    )
    catalog.write_evolving(t0, "db", "bsg")
    t = catalog.table("db", "bsg")
    src = spark.createDataFrame([(9, "z", 9)], ["id", "v", "g"])
    t.merge_into(
        src,
        on=["id"],
        unmatched_source_update={"v": "'flagged'"},
        unmatched_source_condition="t.g = 1",
    )
    got = {(r.id, r.v) for r in t.read().collect()}
    assert got == {(1, "flagged"), (2, "y"), (9, "z")}


def test_merge_by_source_partitioned_and_mor_reject(spark, catalog):
    df = spark.range(40).select(
        F.col("id"),
        F.expr(
            "timestamp'2024-01-10 00:00:00' "
            "+ make_interval(0, cast(id % 3 as int))"
        ).alias("ts"),
        (F.col("id") * 10).alias("v"),
    )
    catalog.create_namespace("db")
    t = catalog.table("db", "bsp")
    t.create(df.schema, partition_month_of="ts")
    t.append(df)
    src = df.where("id < 10").withColumn("v", F.col("v") + 1)
    t.merge_into(
        src, on=["id"], unmatched_source_delete_where="t.id >= 30"
    )
    got = {r.id: r.v for r in t.read().collect()}
    assert set(got) == set(range(30))
    assert got[5] == 51 and got[15] == 150
    with pytest.raises(ValueError, match="NOT MATCHED BY SOURCE"):
        t.merge_into(
            src, on=["id"], mode="mor",
            unmatched_source_delete_where=True,
        )
    with pytest.raises(ValueError, match="unknown columns"):
        t.merge_into(
            src, on=["id"], unmatched_source_update={"nope": "1"}
        )


def test_sql_merge_not_matched_by_source(spark, catalog):
    catalog.write_evolving(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], ["id", "v"]
        ),
        "db",
        "sqlsync",
    )
    spark.createDataFrame(
        [(2, "B"), (4, "d")], ["id", "v"]
    ).createOrReplaceTempView("sync_src")
    catalog.sql(
        "MERGE INTO lake.db.sqlsync t USING sync_src s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE"
    )
    got = {
        (r.id, r.v)
        for r in catalog.table("db", "sqlsync").read().collect()
    }
    assert got == {(2, "B"), (4, "d")}
    # conditional BY SOURCE UPDATE through SQL
    catalog.write_evolving(
        spark.createDataFrame([(7, "x"), (8, "y")], ["id", "v"]),
        "db",
        "sqlsync2",
    )
    catalog.sql(
        "MERGE INTO lake.db.sqlsync2 t USING sync_src s ON t.id = s.id "
        "WHEN NOT MATCHED BY SOURCE AND t.id = 7 "
        "THEN UPDATE SET v = concat(t.v, '!')"
    )
    got2 = {
        (r.id, r.v)
        for r in catalog.table("db", "sqlsync2").read().collect()
    }
    assert got2 == {(7, "x!"), (8, "y")}


def test_add_column_initial_default(spark, catalog):
    catalog.write_evolving(
        spark.createDataFrame([(1,), (2,)], ["id"]), "db", "dflt"
    )
    t = catalog.table("db", "dflt")
    t.add_column("score", "int", default=7)
    # pre-add rows surface the default, not NULL — no file rewritten
    assert {(r.id, r.score) for r in t.read().collect()} == {
        (1, 7), (2, 7)
    }
    # post-add rows keep their stored values, explicit NULL included
    t.append(
        spark.createDataFrame(
            [(3, 30), (4, None)], "id LONG, score INT"
        )
    )
    got = {r.id: r.score for r in t.read().collect()}
    assert got == {1: 7, 2: 7, 3: 30, 4: None}
    # rename keeps the default wiring; widening keeps it too
    t.rename_column("score", "points")
    t.widen_column_type("points", "bigint")
    got2 = {r.id: r.points for r in t.read().collect()}
    assert got2 == {1: 7, 2: 7, 3: 30, 4: None}
    # a COW rewrite materializes what reads already showed
    t.delete_where("id = 3")
    assert {r.id: r.points for r in t.read().collect()} == {
        1: 7, 2: 7, 4: None
    }
    # incremental read applies defaults to pre-add batches too
    # (changes pinned to a pre-add to_version correctly lacks the column)
    ch = {r.id: r.points for r in t.changes(0).collect()}
    assert ch[1] == 7 and ch[2] == 7
    assert "points" not in t.changes(0, 1).columns
    with pytest.raises(ValueError, match="scalar literal"):
        t.add_column("bad", "int", default=[1, 2])


def test_add_column_default_via_sql(spark, catalog):
    catalog.write_evolving(
        spark.createDataFrame([(1,)], ["id"]), "db", "dsql"
    )
    catalog.sql(
        "ALTER TABLE lake.db.dsql ADD COLUMN tag STRING DEFAULT 'new'"
    )
    catalog.sql(
        "ALTER TABLE lake.db.dsql ADD COLUMN w DOUBLE DEFAULT 1.5"
    )
    catalog.sql(
        "ALTER TABLE lake.db.dsql ADD COLUMN ok BOOLEAN DEFAULT true"
    )
    r = catalog.sql("SELECT * FROM lake.db.dsql").first()
    assert (r.id, r.tag, r.w, r.ok) == (1, "new", 1.5, True)
    # plain ADD COLUMN (no default) still null-pads
    catalog.sql("ALTER TABLE lake.db.dsql ADD COLUMN z INT")
    assert catalog.sql("SELECT z FROM lake.db.dsql").first().z is None


def test_commit_conflict_is_loud_not_lost_update(spark, catalog):
    """Optimistic concurrency: two writers racing to the same version
    number — the second must get CommitConflict, never silently
    overwrite the first's manifest (lost update)."""
    from spark_iceberg_schema_evolution_spark.tables import CommitConflict

    catalog.write_evolving(spark.range(5).toDF("id"), "db", "occ")
    t = catalog.table("db", "occ")
    # writer A plans against the current head...
    snap_a = t._load()
    # ...writer B commits first
    t.append(spark.range(5, 10).toDF("id"))
    # writer A's stale plan targets the now-taken version
    from spark_iceberg_schema_evolution_spark.tables import Snapshot

    with pytest.raises(CommitConflict, match="committed concurrently"):
        t._commit(
            Snapshot(
                snap_a.version + 1, snap_a.schema, snap_a.batches,
                snap_a.partition_month_of, snap_a.renames,
                snap_a.deletes,
            )
        )
    # writer B's commit survived intact; a fresh retry works
    assert t.read().count() == 10
    t.append(spark.range(10, 12).toDF("id"))
    assert t.read().count() == 12


def test_sql_optimize_and_vacuum_statements(spark, catalog):
    """Athena's OPTIMIZE / VACUUM statements (the operations the
    reference's TBLPROPERTIES thresholds tune) routed through the
    front door, property-driven."""
    catalog.write_evolving(spark.range(10).toDF("id"), "db", "av")
    t = catalog.table("db", "av")
    for i in range(1, 6):
        t.append(spark.range(i * 10, i * 10 + 10).toDF("id"))
    t.set_properties(
        {
            "optimize_rewrite_data_file_threshold": "2",
            "vacuum_min_snapshots_to_keep": "2",
        }
    )
    assert len(t._load().batches) == 6
    catalog.sql("OPTIMIZE lake.db.av REWRITE DATA USING BIN_PACK")
    assert len(t._load().batches) <= 2
    assert t.read().count() == 60
    before = len(t._versions())
    out = catalog.sql("VACUUM lake.db.av").collect()[0]
    assert out.expired == before - 2
    assert len(t._versions()) == 2
    assert t.read().count() == 60
    # second vacuum: nothing left to do
    out2 = catalog.sql("VACUUM lake.db.av").collect()[0]
    assert out2.expired == 0 and out2.orphans_removed == 0


def test_defaults_surface_in_describe_and_show_create(spark, catalog):
    catalog.write_evolving(
        spark.createDataFrame([(1,)], ["id"]), "db", "ddl"
    )
    catalog.sql(
        "ALTER TABLE lake.db.ddl ADD COLUMN tag STRING DEFAULT 'x'"
    )
    catalog.sql("ALTER TABLE lake.db.ddl ADD COLUMN n INT DEFAULT 5")
    stmt = catalog.sql(
        "SHOW CREATE TABLE lake.db.ddl"
    ).first().createtab_stmt
    assert "tag string DEFAULT 'x'" in stmt
    assert "n int DEFAULT 5" in stmt
    desc = {
        r.col_name: r.comment
        for r in catalog.sql("DESCRIBE TABLE lake.db.ddl").collect()
    }
    assert desc["tag"] == "default: 'x'"
    assert desc["n"] == "default: 5"
    assert desc["id"] is None


def test_schema_changes_audit(spark, catalog):
    """schema_changes reports add/rename/widen/drop at their versions,
    including a type widening and a post-rename re-add."""
    catalog.write_evolving(
        spark.createDataFrame([(1, 10)], "id INT, v INT"), "db", "aud"
    )
    t = catalog.table("db", "aud")
    t.widen_column_type("v", "bigint")
    t.rename_column("v", "w")
    t.append(spark.createDataFrame([(2, 5, "x")], "id INT, w BIGINT, v STRING"))
    t.drop_column("v")
    got = [
        (r.version, r.change, r.column, r.detail)
        for r in t.schema_changes().orderBy("version", "change", "column").collect()
    ]
    assert (0, "added", "id", "int") in got
    assert (0, "added", "v", "int") in got
    widen = [g for g in got if g[1] == "type_changed"]
    assert widen and widen[0][2] == "v" and widen[0][3] == "int -> bigint"
    assert any(g[1] == "renamed" and g[2] == "w" and g[3] == "from v" for g in got)
    # re-added v (string) after the rename, then dropped
    assert any(g[1] == "added" and g[2] == "v" and g[3] == "string" for g in got)
    assert got[-1][1] == "dropped" and got[-1][2] == "v"
    # SQL metadata-table face
    n = catalog.sql(
        "SELECT COUNT(*) AS n FROM lake.db.aud.schema_log"
    ).collect()[0].n
    assert n == len(got)


def test_compact_scoped_to_months(spark, catalog):
    """months= rewrites only the named partitions: the cold month's
    batch files survive untouched (same paths), the hot month's many
    small batches fold into one, and row content is unchanged."""

    def mk(lo, month, n=20):
        return spark.createDataFrame(
            [(i, f"{month}-05", float(i)) for i in range(lo, lo + n)],
            ["id", "ts", "v"],
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    catalog.write_evolving(
        mk(0, "2024-01"), "db", "csc", partition_month_of="ts"
    )
    t = catalog.table("db", "csc")
    for k in range(3):  # hot month accumulates small appends
        t.append(mk(100 + 20 * k, "2024-02"))
    before = t._load()
    jan_paths = {
        b["path"] for b in before.batches if b["months"] == ["2024-01"]
    }
    assert len(before.batches) == 4
    t.compact(months=["2024-02"])
    after = t._load()
    # january's batch rides through untouched; february folded to one
    assert jan_paths <= {b["path"] for b in after.batches}
    feb = [b for b in after.batches if "2024-02" in b["months"]]
    assert len(feb) == 1
    rows = sorted(r.id for r in t.read().collect())
    assert rows == list(range(0, 20)) + list(range(100, 160))
    assert t.read(months=["2024-01"]).count() == 20
    with pytest.raises(ValueError, match="partitioned"):
        catalog.write_evolving(
            spark.createDataFrame([(1,)], ["x"]), "db", "cscu"
        )
        catalog.table("db", "cscu").compact(months=["2024-01"])


def test_consume_diff_sees_through_rewrites(spark, catalog):
    """The row-level CDC cursor mirrors deletes/updates as D/I pairs
    where the append cursor sees only new batches."""
    catalog.write_evolving(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], ["id", "v"]
        ),
        "db", "cdiff",
    )
    t = catalog.table("db", "cdiff")
    df, v0 = t.consume_diff("mirror")
    assert {(r.id, r._change_type) for r in df.collect()} == {
        (1, "I"), (2, "I"), (3, "I")
    }
    t.commit_offset("mirror", v0)
    t.delete_where("id = 2")
    t.update_where("id = 3", {"v": F.lit("C")})
    df2, v1 = t.consume_diff("mirror")
    got = {(r.id, r.v, r._change_type) for r in df2.collect()}
    assert got == {
        (2, "b", "D"),
        (3, "c", "D"),
        (3, "C", "I"),
    }
    t.commit_offset("mirror", v1)
    df3, _ = t.consume_diff("mirror")
    assert df3.count() == 0


def test_shallow_clone_zero_copy(spark, catalog):
    from spark_iceberg_schema_evolution_spark.tables import LakehouseTable

    src_df = spark.createDataFrame(
        [(i, f"row{i}") for i in range(10)], ["id", "name"]
    )
    catalog.write_evolving(src_df, "db", "src")
    src = catalog.table("db", "src")
    src.set_properties({"custom.knob": "7"})
    v = src.clone_to(catalog.table("db", "dup"))
    dup = catalog.table("db", "dup")

    # same data, ZERO files copied: the clone's data_dir is empty
    assert sorted(map(tuple, dup.read().collect())) == sorted(
        map(tuple, src.read().collect())
    )
    assert os.listdir(dup.data_dir) == []
    assert dup.properties()["custom.knob"] == "7"

    # independent evolution: appends on either side stay invisible to
    # the other; the clone's new data lands in ITS OWN data_dir
    dup.append(spark.createDataFrame([(100, "dup-only")], ["id", "name"]))
    src.append(spark.createDataFrame([(200, "src-only")], ["id", "name"]))
    dup_ids = {r.id for r in dup.read().collect()}
    src_ids = {r.id for r in src.read().collect()}
    assert 100 in dup_ids and 100 not in src_ids
    assert 200 in src_ids and 200 not in dup_ids
    assert len(os.listdir(dup.data_dir)) == 1

    # DML on the clone never rewrites source files
    before = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(src.data_dir) for f in fs
    }
    dup.delete_where(F.col("id") < 5)
    after = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(src.data_dir) for f in fs
    }
    assert before == after
    assert src.row_count() == 11 and dup.row_count() == 6

    # clone of a PAST version (time-travel clone)
    src.clone_to(catalog.table("db", "dup_v"), version=v)
    assert {r.id for r in catalog.table("db", "dup_v").read().collect()} == set(
        range(10)
    )

    # refuses to overwrite an existing table
    with pytest.raises(FileExistsError):
        src.clone_to(catalog.table("db", "dup"))
    assert isinstance(dup, LakehouseTable)


def test_check_constraints_enforced_on_writes(spark, catalog):
    from spark_iceberg_schema_evolution_spark.tables import (
        ConstraintViolation,
    )

    catalog.write_evolving(
        spark.createDataFrame([(1, 10), (2, 20)], ["id", "v"]), "db", "c"
    )
    t = catalog.table("db", "c")
    t.add_constraint("v_pos", "v > 0")
    assert t.constraints() == {"v_pos": "v > 0"}

    # violating append is refused WHOLE; version and rows unchanged
    v_before = t.history()[-1]["version"] if t.history() else None
    with pytest.raises(ConstraintViolation, match="v_pos: 1 row"):
        t.append(spark.createDataFrame([(3, 30), (4, -1)], ["id", "v"]))
    assert t.row_count() == 2
    if v_before is not None:
        assert t.history()[-1]["version"] == v_before

    # NULL passes (SQL-standard CHECK), conforming rows commit
    t.append(
        spark.createDataFrame(
            [(5, None), (6, 60)], "id long, v long"
        )
    )
    assert t.row_count() == 4

    # MERGE routes through the same gate
    with pytest.raises(ConstraintViolation):
        t.merge_into(
            spark.createDataFrame([(6, -5)], ["id", "v"]), on=["id"]
        )

    # adding a constraint the EXISTING data violates is refused
    with pytest.raises(ConstraintViolation, match="existing"):
        t.add_constraint("v_small", "v < 50")

    # dropped constraint stops gating; constraints ride along on clone
    t.clone_to(catalog.table("db", "c2"))
    t.drop_constraint("v_pos")
    t.append(spark.createDataFrame([(7, -7)], ["id", "v"]))
    assert t.row_count() == 5
    c2 = catalog.table("db", "c2")
    assert c2.constraints() == {"v_pos": "v > 0"}
    with pytest.raises(ConstraintViolation):
        c2.append(spark.createDataFrame([(8, -8)], ["id", "v"]))


def test_check_constraints_single_scan(spark, catalog):
    """The constraint gate rides the write action via observe() — a
    constrained append evaluates the batch ONCE (pre-r8: a separate
    agg().first() validation pass doubled the ingest scan). Proven with
    a per-row side-effect accumulator: the batch pipeline ticks exactly
    n_rows times on a clean append, and a violating append still
    raises pre-commit with rows/version untouched."""
    from pyspark.sql.functions import udf

    from spark_iceberg_schema_evolution_spark.tables import (
        ConstraintViolation,
    )

    catalog.write_evolving(
        spark.createDataFrame([(0, 1)], ["id", "v"]), "db", "one_scan"
    )
    t = catalog.table("db", "one_scan")
    t.add_constraint("v_pos", "v > 0")

    acc = spark.sparkContext.accumulator(0)

    def _tick(x):
        acc.add(1)
        return x

    tick = udf(_tick, "long").asNondeterministic()
    batch = spark.range(10).select(
        F.col("id") + 100, tick(F.lit(7)).alias("v")
    ).toDF("id", "v")
    t.append(batch)
    assert t.row_count() == 11
    assert acc.value == 10  # one scan: each row evaluated exactly once

    acc2 = spark.sparkContext.accumulator(0)

    def _tick2(x):
        acc2.add(1)
        return x

    tick2 = udf(_tick2, "long").asNondeterministic()
    bad = spark.range(4).select(
        F.col("id") + 200, (tick2(F.lit(3)) - 10).alias("v")
    ).toDF("id", "v")
    with pytest.raises(ConstraintViolation, match="v_pos: 4 row"):
        t.append(bad)
    assert t.row_count() == 11  # pre-commit raise: nothing visible
    assert acc2.value == 4  # the refused batch also scanned only once


def test_sql_constraint_and_clone_faces(spark, catalog):
    from spark_iceberg_schema_evolution_spark.tables import (
        ConstraintViolation,
    )

    catalog.write_evolving(
        spark.createDataFrame([(1, 5), (2, 9)], ["id", "v"]), "db", "s"
    )
    catalog.sql("ALTER TABLE lake.db.s ADD CONSTRAINT v_pos CHECK (v > 0)")
    t = catalog.table("db", "s")
    assert t.constraints() == {"v_pos": "v > 0"}
    with pytest.raises(ConstraintViolation):
        catalog.sql("INSERT INTO lake.db.s VALUES (3, -1)")
    catalog.sql(
        "CREATE TABLE lake.db.s2 SHALLOW CLONE lake.db.s"
    )
    s2 = catalog.table("db", "s2")
    assert s2.row_count() == 2 and os.listdir(s2.data_dir) == []
    assert s2.constraints() == {"v_pos": "v > 0"}
    catalog.sql("ALTER TABLE lake.db.s DROP CONSTRAINT v_pos")
    catalog.sql("INSERT INTO lake.db.s VALUES (3, -1)")
    assert t.row_count() == 3
    # versioned clone face
    catalog.sql(
        "CREATE TABLE lake.db.s3 SHALLOW CLONE lake.db.s "
        "FOR VERSION AS OF 1"
    )
    assert catalog.table("db", "s3").row_count() == 2


def test_sql_call_analytic_procedures(spark, catalog):
    """Round-9 SQL front-door parity for the round-8 Python families:
    CALL lake.system.{pagerank,connected_components,kmeans,
    match_sequences} route to the operators and RETURN the analytic
    frame (not a version row)."""
    import datetime as dt

    # two disjoint 3-cycles -> 6 pagerank nodes (uniform), 2 components
    edges = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10)]
    catalog.write_evolving(
        spark.createDataFrame(edges, ["src", "dst"]), "db", "g_edges"
    )
    pr = catalog.sql(
        "CALL lake.system.pagerank('db.g_edges', n_iter => 5)"
    ).collect()
    assert len(pr) == 6
    assert abs(sum(r.rank for r in pr) - 1.0) < 1e-9
    cc = catalog.sql(
        "CALL lake.system.connected_components('db.g_edges')"
    ).collect()
    comps = {r.component for r in cc}
    assert len(cc) == 6 and comps == {1, 10}

    # renamed endpoint columns route through src/dst args
    catalog.write_evolving(
        spark.createDataFrame(edges, ["a", "b"]), "db", "g_edges2"
    )
    cc2 = catalog.sql(
        "CALL lake.system.connected_components('db.g_edges2', "
        "src => 'a', dst => 'b')"
    )
    assert cc2.count() == 6

    # kmeans: two well-separated blobs
    rows = [(i, [0.0 + i * 0.01, 0.0]) for i in range(10)]
    rows += [(100 + i, [10.0 + i * 0.01, 10.0]) for i in range(10)]
    catalog.write_evolving(
        spark.createDataFrame(rows, ["doc_id", "embedding"]),
        "db", "g_docs",
    )
    km = catalog.sql(
        "CALL lake.system.kmeans('db.g_docs', features => 'embedding', "
        "k => 2, id => 'doc_id')"
    ).collect()
    assert len(km) == 20 and set(km[0].asDict()) == {"doc_id", "cluster"}
    by_blob = {}
    for r in km:
        by_blob.setdefault(r.doc_id < 100, set()).add(r.cluster)
    assert by_blob[True] != by_blob[False]
    assert all(len(s) == 1 for s in by_blob.values())

    # match_sequences: one a->b chain for user 1
    ev = [
        (1, dt.datetime(2024, 1, 1, 0, 0, 1), "a"),
        (1, dt.datetime(2024, 1, 1, 0, 0, 2), "b"),
        (2, dt.datetime(2024, 1, 1, 0, 0, 3), "b"),
    ]
    catalog.write_evolving(
        spark.createDataFrame(
            ev, "user_id long, ts timestamp, event_type string"
        ),
        "db", "g_events",
    )
    ms = catalog.sql(
        "CALL lake.system.match_sequences('db.g_events', "
        "steps => 'a,b', within_seconds => 10)"
    ).collect()
    assert [(r.user_id, r.match_idx) for r in ms] == [(1, 1)]

    with pytest.raises(ValueError, match="steps"):
        catalog.sql("CALL lake.system.match_sequences('db.g_events')")
    with pytest.raises(ValueError, match="features"):
        catalog.sql("CALL lake.system.kmeans('db.g_docs')")


def test_sql_call_curation_procedures(spark, catalog):
    """Round-10 SQL front-door parity for the round-9 curation
    primitives: CALL lake.system.{pps_sample,domain_budget} route to
    operators.text and return the SAME row set as the Python API
    (both are deterministic by construction, so set-equality is
    exact)."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        domain_budget_select,
        pps_systematic_sample,
    )

    rows = [
        (i, "web" if i % 3 else "books", (i * 37) % 100 + 1, float(i % 7))
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, token_count long, lm_score double"
    )
    catalog.write_evolving(df, "db", "cur_docs")

    got = catalog.sql(
        "CALL lake.system.pps_sample('db.cur_docs', n => 20, "
        "weight => 'token_count', seed => 's1', n_shards => 8)"
    )
    want = pps_systematic_sample(
        df, 20, "token_count", seed="s1", n_shards=8
    )
    assert {r.doc_id for r in got.collect()} == {
        r.doc_id for r in want.collect()
    }

    # grouped face routes group_by
    got_g = catalog.sql(
        "CALL lake.system.pps_sample('db.cur_docs', n => 5, "
        "weight => 'token_count', group_by => 'source')"
    ).collect()
    assert {r.source for r in got_g} == {"web", "books"}

    got_b = catalog.sql(
        "CALL lake.system.domain_budget('db.cur_docs', p_bp => 3000, "
        "weight => 'token_count', quality => 'lm_score', "
        "domain => 'source')"
    )
    want_b = domain_budget_select(
        df, 3000, "token_count", "lm_score", domain_col="source"
    )
    assert {r.doc_id for r in got_b.collect()} == {
        r.doc_id for r in want_b.collect()
    }

    with pytest.raises(ValueError, match="weight"):
        catalog.sql(
            "CALL lake.system.pps_sample('db.cur_docs', n => 5)"
        )
    with pytest.raises(ValueError, match="p_bp"):
        catalog.sql(
            "CALL lake.system.domain_budget('db.cur_docs', "
            "weight => 'token_count', quality => 'lm_score')"
        )
    # out-of-range budget propagates the operator's own validation
    with pytest.raises(ValueError, match="p_bp"):
        catalog.sql(
            "CALL lake.system.domain_budget('db.cur_docs', "
            "p_bp => 20000, weight => 'token_count', "
            "quality => 'lm_score')"
        )


# --- the DML core: no-op detection and planner-bounded MOR scans ----------


def test_unpartitioned_dml_noop_probe_free(spark, tmp_path):
    """The unpartitioned COW no-op detection now rides the rewrite's own
    write action (Observation + rollback): a no-match DELETE/UPDATE that
    passes the stats gate must keep the version AND leave no stray batch
    directory behind."""
    cat = LakehouseCatalog(spark, str(tmp_path))
    cat.create_namespace("db")
    rows = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0)],
        ["id", "cat", "amt"],
    )
    t = cat.table("db", "np")
    t.create(rows.schema)
    t.append(rows)
    v1 = t._load().version
    n_dirs = len(os.listdir(t.data_dir))
    # stats-inconclusive no-match: 'c' is inside the [a,b]..? use a
    # predicate footer stats cannot refuse: cat = 'ab' sorts between
    # 'a' and 'b', so the batch min/max gate passes but nothing matches
    assert t.delete_where("cat = 'ab'") == v1
    assert t.update_where("cat = 'ab'", {"amt": "amt + 1"}) == v1
    assert t._load().version == v1
    assert len(os.listdir(t.data_dir)) == n_dirs  # rollback removed the dirs
    # and a matching DML still commits exactly as before
    v2 = t.delete_where("cat = 'b'")
    assert v2 == v1 + 1
    assert t.read().count() == 2
    v3 = t.update_where("cat = 'a'", {"amt": "amt + 5"})
    assert v3 == v2 + 1
    got = {r["id"]: r["amt"] for r in t.read().collect()}
    assert got == {1: 15.0, 3: 35.0}


def test_unpartitioned_nomatch_dml_above_gate_writes_nothing(
    spark, tmp_path, monkeypatch
):
    """Above DML_PROBE_ROWS a stats-inconclusive no-match DELETE/UPDATE
    runs a limit(1) existence probe and returns WITHOUT calling
    _write_batch — the O(table) discarded rewrite is the bug this
    bounds (VERDICT r13 'what's wrong #2')."""
    from spark_iceberg_schema_evolution_spark import tables as tables_mod

    cat = LakehouseCatalog(spark, str(tmp_path))
    cat.create_namespace("db")
    t = cat.table("db", "gated")
    rows = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0)],
        ["id", "cat", "amt"],
    )
    t.create(rows.schema)
    v1 = t.append(rows)
    monkeypatch.setattr(tables_mod, "DML_PROBE_ROWS", 0)

    def boom(*a, **k):
        raise AssertionError("no-match DML above the gate must not write")

    with monkeypatch.context() as m:
        # 'ab' sorts between the 'a'/'b' footer min/max, so the stats
        # gate is inconclusive — the probe must prove the no-match
        m.setattr(LakehouseTable, "_write_batch", boom)
        assert t.delete_where("cat = 'ab'") == v1
        assert t.update_where("cat = 'ab'", {"amt": "amt + 1"}) == v1
    # did-match DML above the gate still rewrites correctly (the probe
    # early-exits and falls through to the normal path)
    v2 = t.delete_where("cat = 'b'")
    assert v2 == v1 + 1
    assert t.read().count() == 2
    v3 = t.update_where("cat = 'a'", {"amt": "amt + 5"})
    assert v3 == v2 + 1
    assert {r["amt"] for r in t.read().collect()} == {15.0, 35.0}


def test_mor_dml_scans_only_planner_survivors(spark, catalog, tmp_path):
    """MOR DELETE (with and without ``keys``) and MOR UPDATE read only
    the batches the scan planner keeps for the predicate: with the data
    files of a batch that stats rule out moved aside, all three still
    run, and once the files are back the table holds exactly the
    expected rows."""
    for lo in (0, 100, 200):
        catalog.write_evolving(
            spark.createDataFrame(
                [(i, float(i)) for i in range(lo, lo + 100)], ["id", "v"]
            ),
            "db", "mor3",
        )
    t = catalog.table("db", "mor3")
    far = t._load().batches[2]["path"]  # ids 200..299
    aside = str(tmp_path / "aside")
    shutil.move(far, aside)
    try:
        t.delete_where("id < 10", mode="mor", keys=["id"])
        t.delete_where("id >= 100 AND id < 110", mode="mor")
        t.update_where("id >= 50 AND id < 60", {"v": "v + 1000"}, mode="mor")
    finally:
        shutil.move(aside, far)
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {
        i: float(i) + (1000.0 if 50 <= i < 60 else 0.0)
        for i in range(300)
        if not (i < 10 or 100 <= i < 110)
    }


# --- diff over the nightly ingest's commit shape ---------------------------


def _bag_symdiff(a, b) -> int:
    return a.exceptAll(b).count() + b.exceptAll(a).count()


def test_nightly_ingest_diff_span_scoped(spark, catalog):
    """Each ingest night commits an append, then build_bloom_index. The
    bloom commit changes a batch entry's non-month fields, so the
    per-commit walk cannot explain the span; the endpoint batch delta
    must still scope it to the new batches (I side only), and
    diff_additive must equal diff() as a bag."""
    def night(lo):
        return spark.createDataFrame(
            [(i, f"doc-{i:05d}") for i in range(lo, lo + 50)], ["id", "doc"]
        )

    catalog.write_evolving(night(0), "db", "nightly")
    t = catalog.table("db", "nightly")
    t.build_bloom_index("doc")
    v0 = t._load().version
    for lo in (100, 200):
        v_before = t._load().version
        t.append(night(lo))
        t.build_bloom_index("doc")
        assert t._diff_scope(t._load(v_before), t._load()) is not None
    v2 = t._load().version
    from_snap, to_snap = t._load(v0), t._load(v2)
    assert t._diff_steps(from_snap, to_snap) is None
    scoped = t._diff_scope(from_snap, to_snap)
    assert scoped is not None
    old_side, new_side = scoped
    assert old_side is None and new_side is not None
    d = t.diff(v0, v2)
    assert _bag_symdiff(t.diff_additive(v0, v2), d) == 0
    assert {r.id for r in d.where("_change_type = 'I'").collect()} == (
        set(range(100, 150)) | set(range(200, 250))
    )
    assert d.where("_change_type = 'D'").count() == 0


# --- partitioned-write width pin: layout invariant -------------------------


def test_partitioned_write_one_file_per_month(spark, tmp_path):
    """The r13 pinned-width repartition must keep the one-file-per-month
    layout (each month hashes wholly into one task at ANY width)."""
    cat = LakehouseCatalog(spark, str(tmp_path))
    cat.create_namespace("db")
    o = load(spark, SF_SMOKE, "orders").where("o_custkey < 500")
    cat.write_evolving(o, "db", "m", partition_month_of="o_orderdate")
    t = cat.table("db", "m")
    snap = t._load()
    [batch] = snap.batches
    months = batch["months"]
    files = glob.glob(os.path.join(batch["path"], "*", "*.parquet"))
    assert len(files) == len(months)
    # an append through the same write path keeps the layout
    t.append(o)
    batch = t._load().batches[-1]
    assert batch["months"] == months
    files = glob.glob(os.path.join(batch["path"], "*", "*.parquet"))
    assert len(files) == len(months)
    # and the read agrees with the source
    assert t.read().count() == 2 * o.count()


# --- write width: unpartitioned writes sized by their bytes ----------------


def _wide_small_frame(spark, rows=2000):
    """A small frame spread over at least 4 (and defaultParallelism)
    partitions, with a plan-known size (range stats, not an RDD)."""
    n = max(4, spark.sparkContext.defaultParallelism)
    return spark.range(0, rows, 1, n).select(
        F.col("id"),
        F.concat(F.lit("doc-"), F.col("id").cast("string")).alias("s"),
        (F.col("id") % 7).alias("g"),
    )


def _data_files(t):
    return [f for f in t.files() if f["content"] == "data"]


def test_small_unpartitioned_append_commits_one_file(spark, catalog):
    src = _wide_small_frame(spark)
    assert src.rdd.getNumPartitions() >= 4
    catalog.write_evolving(src, "db", "w")
    t = catalog.table("db", "w")
    assert len(_data_files(t)) == 1
    t.append(src)
    assert [len(b["file_rows"]) for b in t._load().batches] == [1, 1]
    # same rows as the input, as a bag
    assert t.read().exceptAll(src.unionAll(src)).count() == 0
    assert src.unionAll(src).exceptAll(t.read()).count() == 0


def test_unpartitioned_write_above_open_cost_keeps_upstream_width(
    spark, catalog
):
    """Only a write estimated at most spark.sql.files.openCostInBytes is
    narrowed to one file; a larger one keeps one file per upstream task."""
    src = _wide_small_frame(spark)
    n_src = src.rdd.getNumPartitions()
    est = src._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    key = "spark.sql.files.openCostInBytes"
    old = spark.conf.get(key, None)
    try:
        spark.conf.set(key, str(est))  # at the threshold: one file
        catalog.write_evolving(src, "db", "k")
        t = catalog.table("db", "k")
        spark.conf.set(key, str(est - 1))  # above it: upstream width
        t.append(src)
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert [len(b["file_rows"]) for b in t._load().batches] == [1, n_src]
    assert t.read().count() == 2 * src.count()


def test_narrowed_write_keeps_upstream_parallelism(spark, catalog):
    """The one-file write shuffles into its one task: the work before
    it (here a hash chain per row) still runs one task per upstream
    partition, not serially in the writing task."""
    src = _wide_small_frame(spark).withColumn(
        "h", F.sha2(F.repeat(F.col("s"), 64), 512)
    )
    n_src = src.rdd.getNumPartitions()
    sc = spark.sparkContext
    sc.setJobGroup("narrowed_write", "write_evolving of a small frame")
    try:
        catalog.write_evolving(src, "db", "nw")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    tasks = [
        tracker.getStageInfo(st).numTasks
        for j in tracker.getJobIdsForGroup("narrowed_write")
        for st in tracker.getJobInfo(j).stageIds
        if tracker.getStageInfo(st) is not None
    ]
    assert max(tasks) == n_src
    t = catalog.table("db", "nw")
    assert len(_data_files(t)) == 1
    assert _bag_symdiff(t.read(), src) == 0


def test_two_reads_of_one_table_join_by_column(spark, catalog):
    """Each read() has its own attribute ids even when every batch is
    already aligned (align_schema returns its input), so two reads of
    one table join by column reference like two tables."""
    catalog.write_evolving(_wide_small_frame(spark), "db", "rj")
    t = catalog.table("db", "rj")
    a, b = t.read(), t.read().where("g = 0")
    joined = a.join(b, a["id"] == b["id"]).select(a["id"], b["s"])
    assert joined.count() == b.count()


# --- scan-construction: recorded reader schema + relation memo -------------


def test_recorded_reader_schema_matches_inference(spark, tmp_path):
    """The write-time ``read_schema`` recorded in the manifest must equal
    what a fresh schema-inference read of the same batch dir returns —
    including after a rename, an added column, and with a bucket spec —
    so passing it explicitly can never change what a scan reads."""
    from pyspark.sql import types as T

    cat = LakehouseCatalog(spark, str(tmp_path))
    cat.create_namespace("db")
    o = load(spark, SF_SMOKE, "orders").where("o_custkey < 300")
    cat.write_evolving(o, "db", "t", partition_month_of="o_orderdate")
    t = cat.table("db", "t")
    t.set_bucket_spec("o_orderkey", 4)
    t.rename_column("o_orderpriority", "prio")
    t.append(
        t.read().limit(50).withColumn("extra", F.lit(7).cast("int")),
        evolve=True,
    )
    snap = t._load()
    for b in snap.batches:
        rs = b.get("read_schema")
        assert rs is not None
        inferred = spark.read.option("basePath", b["path"]).parquet(
            b["path"]
        ).schema
        recorded = T.StructType.fromJson(rs)
        assert [(f.name, f.dataType) for f in recorded.fields] == [
            (f.name, f.dataType) for f in inferred.fields
        ], f"batch {b['path']}: recorded {recorded} != inferred {inferred}"
    # and the table reads consistently end-to-end
    out = t.read()
    assert out.count() == o.count() + 50
    assert "prio" in out.columns and "extra" in out.columns


def test_scan_relation_memo_reuses_and_stays_correct(spark, tmp_path):
    """Two reads of the same immutable batch share one cached relation;
    a DML that trims the batch produces a DIFFERENT file list (new key)
    and reads the post-DML state correctly."""
    from spark_iceberg_schema_evolution_spark import tables as MT

    cat = LakehouseCatalog(spark, str(tmp_path))
    cat.create_namespace("db")
    o = load(spark, SF_SMOKE, "orders").where("o_custkey < 300")
    cat.write_evolving(o, "db", "t", partition_month_of="o_orderdate")
    t = cat.table("db", "t")
    snap = t._load()
    [b] = snap.batches
    r1 = t._read_batch(b)
    r2 = t._read_batch(b)
    assert r1 is r2  # memo hit: identical relation object
    n_before = t.read().count()
    assert n_before == o.count()
    # self-join through the shared relation must still work (Spark
    # deduplicates a relation appearing twice in one plan)
    a, bb = t.read().alias("a"), t.read().alias("b")
    j = a.join(
        bb, F.col("a.o_orderkey") == F.col("b.o_orderkey"), "inner"
    )
    assert j.count() == n_before
    # DML: the rewritten batch is a new dir; reads see the new state
    t.delete_where("o_orderstatus = 'F'")
    kept = t.read()
    assert kept.where("o_orderstatus = 'F'").count() == 0
    assert kept.count() == o.where("o_orderstatus <> 'F'").count()
    # cache stays bounded
    assert len(MT._SCAN_RELATION_CACHE) <= MT._SCAN_RELATION_CACHE_MAX


# --- the MERGE core: one clause compiler behind COW and MOR ------------------

_MERGE_BASE = [
    (1, "2024-01-05", 10), (2, "2024-01-20", 20), (3, "2024-02-05", 30),
    (4, "2024-02-15", 40), (5, "2024-02-25", 50), (6, "2024-03-05", 60),
]
# (variant, source rows (id, ts, v, op), merge_into clauses)
_MERGE_VARIANTS = [
    ("update-all + insert",
     [(1, "2024-01-07", 11, "U"), (7, "2024-03-01", 70, "I")], {}),
    ("dict update with matched_condition",
     [(2, "2024-01-20", 5, "U"), (3, "2024-02-05", 6, "X")],
     dict(matched_update={"v": "t.v + s.v"}, matched_condition="s.op = 'U'")),
    ("delete arm",
     [(4, "2024-02-15", 0, "D"), (5, "2024-02-25", 55, "U"),
      (8, "2024-03-09", 80, "I")],
     dict(matched_update={"v": "s.v"}, matched_delete_where="s.op = 'D'")),
    ("insert-only",
     [(1, "2024-01-01", -1, "I"), (9, "2024-01-09", 90, "I")],
     dict(matched_update=None)),
    ("update-only without insert",
     [(2, "2024-01-21", 22, "U"), (10, "2024-03-10", 100, "I")],
     dict(insert_unmatched=False)),
    ("partition-moving update", [(3, "2024-04-02", 33, "U")], {}),
]


@pytest.mark.parametrize("month_of", [None, "ts"])
def test_merge_cow_and_mor_agree(spark, catalog, month_of):
    """COW and MOR compile their clauses once, in one place: on a
    unique-key table every clause variant leaves both modes reading the
    same rows, partitioned and unpartitioned."""
    tables = {}
    for mode in ("cow", "mor"):
        name = f"{mode}_{month_of or 'flat'}"
        catalog.write_evolving(
            _mk_part(spark, _MERGE_BASE), "db", name,
            partition_month_of=month_of,
        )
        tables[mode] = catalog.table("db", name)
    for variant, rows, clauses in _MERGE_VARIANTS:
        src = spark.createDataFrame(
            rows, ["id", "ts", "v", "op"]
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        got = {}
        for mode, t in tables.items():
            t.merge_into(src, on=["id"], mode=mode, **clauses)
            got[mode] = sorted(map(tuple, t.read().collect()))
        assert got["cow"] == got["mor"], variant
    final = {r.id: r.v for r in tables["cow"].read().collect()}
    assert final == {1: 11, 2: 22, 3: 33, 5: 55, 6: 60, 7: 70, 8: 80, 9: 90}
    if month_of:
        for t in tables.values():
            assert [r.id for r in t.read(months=["2024-04"]).collect()] == [3]


def test_merge_empty_source_commits_nothing(spark, catalog):
    """An empty source changes no row, so the merge commits no snapshot:
    the month-partitioned COW merge learns it from its month probe (each
    source row brings its month, NULL timestamps included), MOR from its
    empty writes, and any layout from a counted ``source_rows=0``
    without a scan."""
    from unittest import mock

    rows = _mk_part(spark, [(1, "2024-01-05", 10), (2, "2024-02-05", 20)])
    catalog.write_evolving(rows, "db", "ep", partition_month_of="ts")
    catalog.write_evolving(rows, "db", "eu")
    empty = rows.limit(0)
    for name in ("ep", "eu"):
        t = catalog.table("db", name)
        snap = t._load()
        if name == "ep":
            assert t.merge_into(empty, on=["id"]) == snap.version
        assert t.merge_into(empty, on=["id"], mode="mor") == snap.version

        def boom(*a, **k):
            raise AssertionError("a counted empty source must not scan")

        with mock.patch.object(t, "_scan", boom):
            assert (
                t.merge_into(empty, on=["id"], source_rows=0)
                == snap.version
            )
        assert t._load().version == snap.version
        assert t._load().batches == snap.batches
        assert sorted((r.id, r.v) for r in t.read().collect()) == [
            (1, 10), (2, 20)
        ]


def test_merge_rollup_shape_job_count(spark, catalog):
    """The rollup refresh's merge shape (the corpus ingest runs one per
    night): unpartitioned target, a measured source under the broadcast
    ceiling, ``source_unique``, a delete arm plus a dict update, and
    inserts. Its job count is pinned (5 in this session): the one
    source broadcast is reused by every join derived from the source, so
    a plan that builds a second one shows here as one more job."""
    from tests.conftest import _jobs_in

    catalog.write_evolving(
        spark.createDataFrame(
            [("1-URGENT", 3, 300), ("2-HIGH", 2, 70), ("3-MEDIUM", 1, 10)],
            ["pri", "n_rows", "sum_c"],
        ),
        "db", "roll",
    )
    t = catalog.table("db", "roll")
    delta = spark.createDataFrame(
        [("1-URGENT", 2, 20), ("3-MEDIUM", -1, -10), ("9-NEW", 4, 40)],
        ["pri", "n_rows", "sum_c"],
    ).localCheckpoint()
    _v, jobs = _jobs_in(spark, "merge-rollup-shape", lambda: t.merge_into(
        delta, on=["pri"],
        matched_delete_where="t.n_rows + s.n_rows = 0",
        matched_update={
            "n_rows": "t.n_rows + s.n_rows", "sum_c": "t.sum_c + s.sum_c",
        },
        insert_unmatched=True,
        source_unique=True,
        source_rows=3,
    ))
    assert sorted(map(tuple, t.read().collect())) == [
        ("1-URGENT", 5, 320), ("2-HIGH", 2, 70), ("9-NEW", 4, 40)
    ]
    assert len(jobs) == 5


def _merged_frame(t, **merge_args):
    """Run ``t.merge_into`` and return the merged frame it wrote."""
    from unittest import mock

    seen = []
    real = t._write_batch

    def spy(df, *a, **k):
        seen.append(df)
        return real(df, *a, **k)

    with mock.patch.object(t, "_write_batch", spy):
        t.merge_into(**merge_args)
    [df] = seen
    return df


def test_merge_source_broadcast_hint_and_equivalence(spark, catalog):
    """A measured ``source_rows`` under the merge's ceiling must (a) put
    an explicit broadcast on every source-derived join even when size
    estimation would pick SMJ, and (b) change nothing about the merge's
    output; a count over the ceiling takes the shuffle path."""
    from spark_iceberg_schema_evolution_spark.plans import explain
    from spark_iceberg_schema_evolution_spark.tables import (
        MERGE_BROADCAST_ROWS,
    )

    tgt = spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    src = spark.range(100, 260).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    args = dict(
        source=src,
        on=["k"],
        matched_update={"v": "s.v + t.v"},
        matched_condition="s.v % 2 = 0",
        matched_delete_where="s.v % 37 = 0",
        insert_unmatched=True,
        source_unique=True,
    )
    catalog.write_evolving(tgt, "db", "bh")
    catalog.write_evolving(tgt, "db", "bu")
    hinted_t, unhinted_t = catalog.table("db", "bh"), catalog.table("db", "bu")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hinted = _merged_frame(hinted_t, source_rows=160, **args)
        unhinted = _merged_frame(
            unhinted_t, source_rows=MERGE_BROADCAST_ROWS + 1, **args
        )
        # with auto-broadcast off, only the HINT can produce BHJs
        assert explain.has_broadcast_join(hinted)
        assert not explain.has_broadcast_join(unhinted)
        assert sorted(map(tuple, hinted.collect())) == sorted(
            map(tuple, unhinted.collect())
        )
        assert sorted(map(tuple, hinted_t.read().collect())) == sorted(
            map(tuple, unhinted_t.read().collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_merge_insert_broadcast_keys_distinct_on_dup_key_target(
    spark, catalog
):
    """A duplicate-key target (legal when there is no update arm) must
    not inflate the NOT MATCHED probe's broadcast beyond source distinct
    keys — matched_keys is distinct'd before F.broadcast — and the
    insert arm's output must be identical to the unhinted plan's."""
    from spark_iceberg_schema_evolution_spark.plans import explain

    # 50 distinct keys, each duplicated 40x in the target
    tgt = (
        spark.range(0, 50)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .crossJoin(spark.range(40).select(F.lit(1).alias("__x")))
        .drop("__x")
    )
    src = spark.range(25, 75).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    catalog.write_evolving(tgt, "db", "dh")
    catalog.write_evolving(tgt, "db", "du")
    args = dict(source=src, on=["k"], matched_update=None)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hinted = _merged_frame(
            catalog.table("db", "dh"), source_rows=50, **args
        )
        unhinted = _merged_frame(catalog.table("db", "du"), **args)
        plan = explain.physical_plan(hinted)
        # the probe is still a broadcast anti-join (no shuffled target
        # keys), and its build side now carries a distinct aggregate
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
        assert sorted(map(tuple, hinted.collect())) == sorted(
            map(tuple, unhinted.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


# --- row-level diff: scoped and replayed spans equal the generic diff -----


def _generic_diff(t, a, b):
    to_snap = t._load(b)
    old = align_schema(t.read(version=a), to_snap.schema, keep_extras=False)
    new = t.read(version=b)
    return (
        new.exceptAll(old).withColumn("_change_type", F.lit("I"))
    ).unionByName(old.exceptAll(new).withColumn("_change_type", F.lit("D")))


def _symdiff(a, b) -> int:
    return a.exceptAll(b).count() + b.exceptAll(a).count()


def test_diff_scoped_equivalence_and_fallback(spark, tmp_path):
    cat = LakehouseCatalog(spark, str(tmp_path))
    cat.create_namespace("db")
    o = load(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    t = cat.table("db", "p")
    cat.write_evolving(
        o.where("o_orderkey < 2000"), "db", "p",
        partition_month_of="o_orderdate",
    )
    v1 = t._load().version
    t.append(o.where("o_orderkey >= 2000 AND o_orderkey < 4000"))
    v2 = t._load().version

    # append-only span: scoped, I-only, and provably no old side
    old_side, new_side = t._diff_scope(t._load(v1), t._load(v2))
    assert old_side is None and new_side is not None
    assert _symdiff(t.diff(v1, v2), _generic_diff(t, v1, v2)) == 0
    assert t.diff(v1, v2).where("_change_type = 'D'").count() == 0

    # month-trimming COW DELETE: scoped and exact
    t.delete_where("o_orderstatus = 'F'")
    v3 = t._load().version
    assert t._diff_scope(t._load(v2), t._load(v3)) is not None
    assert _symdiff(t.diff(v2, v3), _generic_diff(t, v2, v3)) == 0
    # ... and the composed append+delete span too
    assert _symdiff(t.diff(v1, v3), _generic_diff(t, v1, v3)) == 0

    # COW UPDATE span: scoped and exact (D of old values, I of new)
    t.update_where("o_totalprice > 100000", {"o_orderstatus": F.lit("X")})
    v4 = t._load().version
    assert _symdiff(t.diff(v3, v4), _generic_diff(t, v3, v4)) == 0

    # MOR delete changes the delete-file set: MUST fall back
    t.delete_where("o_orderkey < 100", mode="mor")
    v5 = t._load().version
    assert t._diff_scope(t._load(v4), t._load(v5)) is None
    assert _symdiff(t.diff(v4, v5), _generic_diff(t, v4, v5)) == 0

    # rename changes the rename log: MUST fall back
    t.rename_column("o_orderstatus", "status")
    v6 = t._load().version
    assert t._diff_scope(t._load(v5), t._load(v6)) is None

    # schema change: MUST fall back
    t.add_column("extra", "string")
    v7 = t._load().version
    assert t._diff_scope(t._load(v6), t._load(v7)) is None


def test_diff_empty_span_scoped(spark, tmp_path):
    cat = LakehouseCatalog(spark, str(tmp_path))
    cat.create_namespace("db")
    c = load(spark, SF_SMOKE, "customer").select("c_custkey", "c_name")
    cat.write_evolving(c, "db", "t")
    t = cat.table("db", "t")
    v = t._load().version
    d = t.diff(v, v)
    assert d.count() == 0
    assert d.columns[-1] == "_change_type"


def test_diff_dml_replay_exact_and_gated(spark, tmp_path):
    """String-predicate COW DMLs record replayable provenance; diff()
    over such spans re-evaluates the predicate against the pre-state
    and must equal the generic four-scan diff EXACTLY — including an
    update whose SET leaves some matched rows unchanged (the D'/I'
    intersection must cancel), a composed multi-DML span, and an
    unpartitioned table. Nondeterministic predicates must NOT record."""
    cat = LakehouseCatalog(spark, str(tmp_path))
    cat.create_namespace("db")
    o = load(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    t = cat.table("db", "r")
    cat.write_evolving(
        o.where("o_orderkey < 3000"), "db", "r",
        partition_month_of="o_orderdate",
    )
    v1 = t._load().version

    # string-cond delete records provenance
    t.delete_where("o_orderstatus = 'F'")
    v2 = t._load().version
    assert t._load(v2).dml == {
        "op": "delete",
        "cond": "o_orderstatus = 'F'",
        "months": t._load(v2).dml["months"],
    }
    assert t._load(v2).dml["months"]  # partitioned: scope recorded
    assert _symdiff(t.diff(v1, v2), _generic_diff(t, v1, v2)) == 0

    # string-SET update — including rows where SET is an identity
    # (o_totalprice <= 0 never happens, so use a CASE that keeps some):
    t.update_where(
        "o_totalprice > 50000",
        {"o_orderstatus": "CASE WHEN o_totalprice > 150000 "
                          "THEN 'X' ELSE o_orderstatus END"},
    )
    v3 = t._load().version
    rec = t._load(v3).dml
    assert rec is not None and rec["op"] == "update" and rec["set"]
    # matched rows below 150000 keep their value -> D' and I' overlap;
    # the replayed diff must still equal the generic multiset exactly
    assert _symdiff(t.diff(v2, v3), _generic_diff(t, v2, v3)) == 0
    # composed span: delete then update then an append
    t.append(o.where("o_orderkey >= 3000 AND o_orderkey < 3500"))
    v4 = t._load().version
    assert _symdiff(t.diff(v1, v4), _generic_diff(t, v1, v4)) == 0

    # nondeterministic predicate: must not record, diff still correct
    t.delete_where("o_totalprice * rand() < 0.0001")
    v5 = t._load().version
    assert t._load(v5).dml is None
    assert _symdiff(t.diff(v4, v5), _generic_diff(t, v4, v5)) == 0

    # Column (non-string) assignment: must not record
    t.update_where("o_totalprice > 400000", {"o_orderstatus": F.lit("Z")})
    v6 = t._load().version
    assert t._load(v6).dml is None


def test_diff_dml_replay_unpartitioned(spark, tmp_path):
    cat = LakehouseCatalog(spark, str(tmp_path))
    cat.create_namespace("db")
    o = load(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t = cat.table("db", "u")
    t.create(o.schema)
    t.append(o.where("o_orderkey < 4000"))
    v1 = t._load().version
    t.delete_where("o_orderstatus = 'F'")
    v2 = t._load().version
    rec = t._load(v2).dml
    assert rec == {"op": "delete", "cond": "o_orderstatus = 'F'",
                   "months": None}
    # replay plans a D-only frame: no exceptAll in the plan at all
    old_side, new_side = t._diff_scope(t._load(v1), t._load(v2))
    assert new_side is None and old_side is not None
    assert _symdiff(t.diff(v1, v2), _generic_diff(t, v1, v2)) == 0
    t.update_where("o_totalprice > 100000", {"o_totalprice":
                                             "o_totalprice + 1"})
    v3 = t._load().version
    assert t._load(v3).dml["op"] == "update"
    assert _symdiff(t.diff(v2, v3), _generic_diff(t, v2, v3)) == 0
    assert _symdiff(t.diff(v1, v3), _generic_diff(t, v1, v3)) == 0


# --- DML replay provenance is determinism-by-analysis ----------------------


def test_dml_replay_refuses_nondeterministic_udf(spark, tmp_path):
    """A nondeterministic REGISTERED UDF in a DML predicate passes the
    regex denylist (it cannot know the name) but must be refused by the
    analysis gate: no dml provenance recorded, diff() takes the generic
    path and stays exact."""
    import random

    nd = F.udf(lambda: random.random(), "double").asNondeterministic()
    spark.udf.register("r14_nd_rand", nd)
    cat = LakehouseCatalog(spark, str(tmp_path))
    cat.create_namespace("db")
    t = cat.table("db", "ndudf")
    rows = spark.createDataFrame(
        [(1, 5.0), (2, 15.0), (3, 25.0)], ["id", "amt"]
    )
    t.create(rows.schema)
    v1 = t.append(rows)
    # always true (rand in [0,1)), but nondeterministic BY ANALYSIS —
    # the denylist regex does not match "r14_nd_rand"
    v2 = t.delete_where("amt < 1000000 + r14_nd_rand()")
    assert t._load(v2).dml is None  # provenance refused
    d = {(r["id"], r["_change_type"]) for r in t.diff(v1, v2).collect()}
    assert d == {(1, "D"), (2, "D"), (3, "D")}
    # and a deterministic predicate still records provenance
    t2 = cat.table("db", "detp")
    t2.create(rows.schema)
    t2.append(rows)
    v3 = t2.delete_where("amt > 20.0")
    assert t2._load(v3).dml == {
        "op": "delete", "cond": "amt > 20.0", "months": None,
    }


def test_dml_replay_update_refuses_nondeterministic_udf_assignment(
    spark, tmp_path
):
    import random

    nd = F.udf(lambda: random.random(), "double").asNondeterministic()
    spark.udf.register("r14_nd_rand2", nd)
    cat = LakehouseCatalog(spark, str(tmp_path))
    cat.create_namespace("db")
    t = cat.table("db", "ndupd")
    rows = spark.createDataFrame([(1, 5.0), (2, 15.0)], ["id", "amt"])
    t.create(rows.schema)
    t.append(rows)
    v2 = t.update_where(
        "amt > 10.0", {"amt": "amt + floor(r14_nd_rand2() * 0)"}
    )
    assert t._load(v2).dml is None
