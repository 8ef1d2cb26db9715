"""SCD Type-2 operator semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_iceberg_schema_evolution_spark.operators.scd import scd2_apply
from spark_iceberg_schema_evolution_spark.tables import LakehouseCatalog


def _hist(spark, rows):
    return spark.createDataFrame(
        rows,
        "id BIGINT, seg STRING, valid_from STRING, valid_to STRING, "
        "is_current BOOLEAN",
    )


def _changes(spark, rows):
    return spark.createDataFrame(rows, ["id", "seg", "ts"])


def test_scd2_close_and_open(spark):
    hist = _hist(
        spark,
        [
            (1, "A", "2020-01-01", "2022-01-01", False),
            (1, "B", "2022-01-01", None, True),
            (2, "X", "2021-01-01", None, True),
        ],
    )
    ch = _changes(spark, [(1, "C", "2024-06-01")])
    out = scd2_apply(hist, ch, keys=["id"], change_ts="ts")
    rows = {
        (r.id, r.seg): (r.valid_from, r.valid_to, r.is_current)
        for r in out.collect()
    }
    assert rows[(1, "A")] == ("2020-01-01", "2022-01-01", False)  # closed kept
    assert rows[(1, "B")] == ("2022-01-01", "2024-06-01", False)  # now closed
    assert rows[(1, "C")] == ("2024-06-01", None, True)  # new current
    assert rows[(2, "X")] == ("2021-01-01", None, True)  # untouched
    assert out.count() == 4


def test_scd2_multiple_changes_chain(spark):
    hist = _hist(spark, [(1, "A", "2020-01-01", None, True)])
    ch = _changes(
        spark, [(1, "B", "2023-01-01"), (1, "C", "2024-01-01")]
    )
    out = scd2_apply(hist, ch, keys=["id"], change_ts="ts")
    rows = {
        (r.id, r.seg): (r.valid_from, r.valid_to, r.is_current)
        for r in out.collect()
    }
    assert rows[(1, "A")] == ("2020-01-01", "2023-01-01", False)
    assert rows[(1, "B")] == ("2023-01-01", "2024-01-01", False)
    assert rows[(1, "C")] == ("2024-01-01", None, True)


def test_scd2_new_key_inserts_current(spark):
    hist = _hist(spark, [(1, "A", "2020-01-01", None, True)])
    ch = _changes(spark, [(9, "Z", "2024-01-01")])
    out = scd2_apply(hist, ch, keys=["id"], change_ts="ts")
    rows = {(r.id, r.seg): r.is_current for r in out.collect()}
    assert rows[(9, "Z")] is True
    assert rows[(1, "A")] is True


def test_scd2_closed_rows_not_shuffled(spark):
    """Scale gate: closed history must not pass through the rebuild window
    — the plan's window operates only on open-changed + change rows."""
    from spark_iceberg_schema_evolution_spark.plans import explain

    hist = _hist(spark, [(1, "A", "2020-01-01", None, True)])
    ch = _changes(spark, [(1, "B", "2024-01-01")])
    out = scd2_apply(hist, ch, keys=["id"], change_ts="ts")
    plan = explain.physical_plan(out)
    assert plan.count("Window") == 1


def test_scd2_merge_incremental(spark, tmp_path):
    """Incremental SCD2 on a lakehouse dimension: batch chaining,
    close-on-merge, replay idempotence, late-change refusal — and the
    final history equals what the full-rebuild scd2_apply produces
    from the same inputs."""
    from spark_iceberg_schema_evolution_spark.operators.scd import (
        scd2_apply,
        scd2_merge,
    )
    from spark_iceberg_schema_evolution_spark.tables import LakehouseCatalog

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    dim = cat.table("db", "dim")

    b1 = spark.createDataFrame(
        [
            (1, "A", "2024-01-01"),
            (1, "B", "2024-02-01"),  # same key chains within the batch
            (2, "X", "2024-01-15"),
        ],
        ["id", "seg", "ts"],
    )
    r1 = scd2_merge(dim, b1, keys=["id"], change_ts="ts")
    assert r1["applied"] == 3 and r1["late_dropped"] == 0
    rows = {
        (r.id, r.valid_from): (r.seg, r.valid_to, r.is_current)
        for r in dim.read().collect()
    }
    assert rows[(1, "2024-01-01")] == ("A", "2024-02-01", False)
    assert rows[(1, "2024-02-01")] == ("B", None, True)
    assert rows[(2, "2024-01-15")] == ("X", None, True)

    # batch 2: key 1 changes again (closes B), key 3 is new, and a LATE
    # change for key 2 (before its current valid_from) is refused
    b2 = spark.createDataFrame(
        [
            (1, "C", "2024-03-01"),
            (3, "N", "2024-03-05"),
            (2, "OLD", "2024-01-01"),  # late: current is 2024-01-15
        ],
        ["id", "seg", "ts"],
    )
    r2 = scd2_merge(dim, b2, keys=["id"], change_ts="ts")
    assert r2["applied"] == 2 and r2["late_dropped"] == 1
    assert r2["replayed"] == 0  # the refused row was never committed
    rows = {
        (r.id, r.valid_from): (r.seg, r.valid_to, r.is_current)
        for r in dim.read().collect()
    }
    assert rows[(1, "2024-02-01")] == ("B", "2024-03-01", False)
    assert rows[(1, "2024-03-01")] == ("C", None, True)
    assert rows[(2, "2024-01-15")] == ("X", None, True)  # untouched
    assert rows[(3, "2024-03-05")] == ("N", None, True)
    n_before = dim.row_count()

    # replayed epoch converges: close is a no-op, append anti-joins away.
    # The two committed rows count as replayed (benign re-delivery), NOT
    # late; the never-committed late row is refused again, not a replay.
    r3 = scd2_merge(dim, b2, keys=["id"], change_ts="ts")
    assert r3["applied"] == 0
    assert r3["replayed"] == 2
    assert r3["late_dropped"] == 1
    assert dim.row_count() == n_before

    # equivalence with the full-rebuild path on the same inputs
    hist0 = spark.createDataFrame(
        [], "id long, seg string, valid_from string, valid_to string, "
        "is_current boolean"
    )
    expected = scd2_apply(
        scd2_apply(hist0, b1, ["id"], "ts"),
        b2.where("NOT (id = 2 AND ts = '2024-01-01')"),  # late row refused
        ["id"],
        "ts",
    )
    got = {
        tuple(r)
        for r in dim.read()
        .select("id", "seg", "valid_from", "valid_to", "is_current")
        .collect()
    }
    want = {
        tuple(r)
        for r in expected.select(
            "id", "seg", "valid_from", "valid_to", "is_current"
        ).collect()
    }
    assert got == want


def test_scd2_broadcast_bound_uses_pre_hit_frame(spark, tmp_path):
    """An abnormal dimension (external writer: committed
    (keys, valid_from) with NO current row) makes `applied` undercount
    first_ts keys; the close-merge broadcast decision must bound from
    the pre-__hit frame's observed count instead."""
    from unittest import mock

    from spark_iceberg_schema_evolution_spark import tables as tables_mod
    from spark_iceberg_schema_evolution_spark.operators.scd import scd2_merge

    cat = LakehouseCatalog(spark, str(tmp_path))
    cat.create_namespace("db")
    t = cat.table("db", "dim")
    base = spark.createDataFrame(
        [(1, "x", 100)], ["k", "attr", "ts"]
    )
    scd2_merge(t, base, keys=["k"], change_ts="ts")
    # external writer leaves a committed-but-not-current tuple for a
    # key with NO current row: (k=9, valid_from=50, is_current=false)
    t.append(
        spark.createDataFrame(
            [(9, "z", 50, 60, False)],
            ["k", "attr", "valid_from", "valid_to", "is_current"],
        )
    )
    # replaying (9, 50): __hit=1 but __late=False (no current row), so
    # chained filters it (applied == 0) while first_ts still keys it
    changes = spark.createDataFrame([(9, "z", 50)], ["k", "attr", "ts"])
    captured = {}
    real = t.merge_into

    def spy(*a, **k):
        captured.update(k)
        return real(*a, **k)

    with mock.patch.object(
        tables_mod, "MERGE_BROADCAST_ROWS", 0
    ), mock.patch.object(t, "merge_into", spy):
        rep = scd2_merge(t, changes, keys=["k"], change_ts="ts")
    assert rep["applied"] == 0  # the undercounting quantity
    # bound from the pre-__hit frame (1 row), over the ceiling of 0
    assert captured["source_rows"] == 1
