"""Round-14 optimization-round pins.

Same discipline as tests/test_r13_opts.py: each pin holds one r14
change at the level that matters — exact-output equivalence for the
semantics-preserving rewrites. The determinism-by-analysis replay
provenance pins, the probe-gated DML pin and the deduplicated merge
broadcast keys pin live in tests/test_tables.py, the SCD2
broadcast-bound pin in tests/test_scd.py.
"""

from __future__ import annotations


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
