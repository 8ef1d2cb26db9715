"""Round-13 optimization pins.

Each test pins one of the r13 performance changes at the level that
matters — the plan property or the exact-output equivalence — so a
refactor that silently regresses the optimization (or, worse, its
semantics) fails here, not in a bench run nobody is watching.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_iceberg_schema_evolution_spark.operators.dedup import (
    bind_once,
    normalized_words,
    shingles,
)
from spark_iceberg_schema_evolution_spark.operators.profile import profile_stats
from spark_iceberg_schema_evolution_spark.operators.text import chunk_text
from spark_iceberg_schema_evolution_spark.plans import explain
from spark_iceberg_schema_evolution_spark.queries import load
from tests.conftest import SF_SMOKE


# --- bind_once: the tokenizer must evaluate once per row -------------------


def test_shingles_tokenizer_outside_lambda(spark):
    """The shingle slice lambda must reference the BOUND word array, not
    the split() expression — inlined, the tokenizer re-runs per shingle
    position (O(words^2) per document; measured 20-40x on the shingle
    pass, r13)."""
    d = load(spark, SF_SMOKE, "documents")
    df = d.select(F.explode(shingles(normalized_words("text"), 5)).alias("s"))
    plan = explain.physical_plan(df)
    assert "slice(split" not in plan  # the O(n^2) shape
    assert "transform(array(split" in plan  # the bound shape


def test_chunk_text_tokenizer_outside_lambda(spark):
    d = load(spark, SF_SMOKE, "documents")
    df = chunk_text(d, chunk_tokens=16, overlap=4)
    plan = explain.physical_plan(df)
    assert "slice(split" not in plan
    assert "transform(array(split" in plan


def test_bind_once_value_semantics(spark):
    """bind_once(expr, build) == build(expr) on values, including NULL
    and empty inputs (the single-element transform must be transparent)."""
    rows = [("a b c d e f",), ("x y",), ("",), (None,)]
    df = spark.createDataFrame(rows, ["text"])
    w = normalized_words("text")
    direct = df.select(F.size(w).alias("n"), F.array_join(w, "|").alias("j"))
    bound = df.select(
        bind_once(w, lambda v: F.size(v)).alias("n"),
        bind_once(w, lambda v: F.array_join(v, "|")).alias("j"),
    )
    assert direct.collect() == bound.collect()


def test_shingle_values_edge_docs(spark):
    rows = [(1, "one two three four five six"), (2, "a b"), (3, "")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r["sh"]
        for r in df.select(
            "doc_id", shingles(normalized_words("text"), 5).alias("sh")
        ).collect()
    }
    assert out[1] == ["one two three four five", "two three four five six"]
    assert out[2] == ["a b"]  # short doc: one whole-document shingle
    assert out[3] == [""]


# --- profile_stats: the distinct aggregate must stay on the hash path ------


def test_profile_distinct_stays_hash_aggregate(spark):
    """Mixing min/max(string) buffers into the multi-distinct aggregate
    used to force the WHOLE plan (including the Expand'd distincts) onto
    SortAggregate — a full sort of (n_cols+1) x rows. The split form
    must keep a HashAggregate for the Expand side."""
    o = load(spark, SF_SMOKE, "orders")
    df = profile_stats(
        o, ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    )
    plan = explain.physical_plan(df)
    assert "Expand" in plan  # exact multi-distinct is still one pass
    assert "HashAggregate" in plan  # ... and hash-aggregated again


# --- hyperplane signature: one-expr parse == F.lit tree, bit-identical -----


def test_hyperplane_signature_expr_equivalence(spark):
    """The string-column (single F.expr) arm of hyperplane_signature
    must produce BIT-IDENTICAL signatures to the original Column arm
    (the F.lit-per-element tree cost 3.2 s of driver py4j time per q115
    build, r13). Covers multiple seeds/tables and negative components."""
    import numpy as np

    from spark_iceberg_schema_evolution_spark.operators.similarity import (
        hyperplane_signature,
    )

    rng = np.random.RandomState(7)
    rows = [(i, [float(x) for x in rng.randn(16)]) for i in range(200)]
    rows.append((200, [0.0] * 16))
    df = spark.createDataFrame(rows, "id int, v array<double>")
    for t in range(3):
        seed = 42 + 1000 * t
        a = df.select(
            "id", hyperplane_signature("v", 16, 8, seed).alias("s")
        )
        b = df.select(
            "id", hyperplane_signature(F.col("v"), 16, 8, seed).alias("s")
        )
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0


def test_lit_double_array_sql_values():
    """repr-based double literals must round-trip exactly, including
    scientific-notation magnitudes; non-finite values must raise."""
    import pytest

    from spark_iceberg_schema_evolution_spark.operators.similarity import (
        lit_double_array_sql,
    )

    vals = [1.0, -1.0, 0.1, -2.5e-17, 3.141592653589793, 1e300]
    sql = lit_double_array_sql(vals)
    assert sql.startswith("array(") and sql.endswith(")")
    with pytest.raises(ValueError):
        lit_double_array_sql([float("nan")])
    with pytest.raises(ValueError):
        lit_double_array_sql([float("inf")])


def test_lit_double_array_sql_sci_notation_parses(spark):
    from spark_iceberg_schema_evolution_spark.operators.similarity import (
        lit_double_array_sql,
    )

    vals = [-2.5e-17, 1e300, 0.1]
    got = spark.range(1).select(
        F.expr(lit_double_array_sql(vals)).alias("a")
    ).head()["a"]
    assert got == vals


# --- batch 2: fused CC rounds, pair filter-before-dedup (the merge
# source broadcast pin and the scoped-diff and DML-replay pins live in
# tests/test_tables.py) ---


def test_connected_components_one_checkpoint_per_round(spark):
    """Exactly ONE checkpoint action per propagation round — neither a
    fused multi-round plan (tried in r13 and measured WORSE: the inner
    round's subplan executes up to 8x inside the fused tree, 29 -> 45
    jobs on q74) nor any extra per-round action beyond the checkpoint
    the Observation rides."""
    from unittest import mock

    from spark_iceberg_schema_evolution_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(1, 2), (5, 6), (6, 7)], ["id_a", "id_b"]
    )
    cls = type(pairs)  # the concrete DataFrame class this session uses
    real = cls.localCheckpoint
    calls = []

    def counted(self, *a, **k):
        calls.append(1)
        return real(self, *a, **k)

    with mock.patch.object(cls, "localCheckpoint", counted):
        out = {
            (r["id"], r["cluster_id"])
            for r in dedup.connected_components(pairs).collect()
        }
    assert out == {(1, 1), (2, 1), (5, 5), (6, 5), (7, 5)}
    # round 1 labels everything, round 2 confirms convergence: 2 rounds,
    # 2 checkpoints, nothing more
    assert len(calls) == 2


def test_cosine_pairs_filter_below_dedup_exchange(spark):
    """The pair threshold filter must sit BELOW the dropDuplicates
    aggregate (filter-then-dedup == dedup-then-filter on bit-identical
    duplicate rows), so only surviving pairs shuffle."""
    from spark_iceberg_schema_evolution_spark.operators.similarity import (
        cosine_near_dups,
    )

    emb = spark.createDataFrame(
        [(i, [float(i % 7 + 1), float((i * 3) % 5 + 1), 1.0, 2.0])
         for i in range(40)],
        ["vec_id", "embedding"],
    )
    pairs = cosine_near_dups(emb, dim=4, threshold=0.95)
    plan = explain.physical_plan(pairs)
    # tree prints top-down: the dedup aggregate must appear BEFORE the
    # cos-threshold filter line, i.e. the filter is its descendant
    agg_pos = plan.find("HashAggregate")
    filt_pos = plan.find(">= 0.95")
    assert agg_pos != -1 and filt_pos != -1
    assert agg_pos < filt_pos, plan
