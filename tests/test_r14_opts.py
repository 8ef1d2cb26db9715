"""Round-14 optimization-round pins.

Same discipline as tests/test_r13_opts.py: each pin holds one r14
change at the level that matters — exact-output equivalence for the
semantics-preserving rewrites, behavioral gates for the scale-safety
fixes (determinism-by-analysis replay provenance). The probe-gated DML
pin and the deduplicated merge broadcast keys pin live in
tests/test_tables.py, the SCD2 broadcast-bound pin in tests/test_scd.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_iceberg_schema_evolution_spark.tables import LakehouseCatalog


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
