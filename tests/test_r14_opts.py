"""Round-14 optimization-round pins.

Same discipline as tests/test_r13_opts.py: each pin holds one r14
change at the level that matters — exact-output equivalence for the
semantics-preserving rewrites, behavioral gates for the scale-safety
fixes (determinism-by-analysis replay provenance, deduplicated merge
broadcast keys). The probe-gated DML pin lives in tests/test_tables.py
and the SCD2 broadcast-bound pin in tests/test_scd.py.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from spark_iceberg_schema_evolution_spark.plans import explain
from spark_iceberg_schema_evolution_spark.tables import (
    LakehouseCatalog,
    LakehouseTable,
)


# --- VERDICT r13 #8: NOT MATCHED broadcast keys are deduplicated ------------


def test_merge_insert_broadcast_keys_distinct_on_dup_key_target(spark):
    """A duplicate-key target (legal when there is no update arm) must
    not inflate the NOT MATCHED probe's broadcast beyond source distinct
    keys — matched_keys is distinct'd before F.broadcast — and the
    insert arm's output must be identical to the unhinted plan's."""
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
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hinted = LakehouseTable._apply_merge_clauses(
            tgt, src, tgt.schema, ["k"], None, None, None, True,
            source_broadcast=True,
        )
        unhinted = LakehouseTable._apply_merge_clauses(
            tgt, src, tgt.schema, ["k"], None, None, None, True,
            source_broadcast=False,
        )
        plan = explain.physical_plan(hinted)
        # the probe is still a broadcast anti-join (no shuffled target
        # keys), and its build side now carries a distinct aggregate
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
        assert sorted(map(tuple, hinted.collect())) == sorted(
            map(tuple, unhinted.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


# --- VERDICT r13 #6: replay provenance is determinism-by-analysis ----------


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


# --- r14: CC edge-dedup exchange elision is assertion-safe -----------------


def test_connected_components_pairs_distinct_equivalence(spark):
    """pairs_distinct=True must produce identical clusters — including
    under a MIS-assertion (duplicate pairs): min-label propagation is
    idempotent over duplicate messages, so the flag can only waste
    work, never change a label."""
    from spark_iceberg_schema_evolution_spark.operators.dedup import (
        connected_components,
    )

    rows = [(1, 2), (2, 3), (5, 6), (8, 9), (1, 3)]
    clean = spark.createDataFrame(rows, ["id_a", "id_b"])
    dup = spark.createDataFrame(rows * 3, ["id_a", "id_b"])
    want = {
        (r["id"], r["cluster_id"])
        for r in connected_components(clean).collect()
    }
    for pairs in (clean, dup):
        got = {
            (r["id"], r["cluster_id"])
            for r in connected_components(
                pairs, pairs_distinct=True
            ).collect()
        }
        assert got == want
