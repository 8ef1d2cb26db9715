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
from spark_iceberg_schema_evolution_spark.operators.evolve import align_schema
from spark_iceberg_schema_evolution_spark.operators.profile import profile_stats
from spark_iceberg_schema_evolution_spark.operators.text import chunk_text
from spark_iceberg_schema_evolution_spark.plans import explain
from spark_iceberg_schema_evolution_spark.queries import load
from spark_iceberg_schema_evolution_spark.tables import LakehouseCatalog
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


# --- scoped diff: exact equivalence with the generic path ------------------


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


# --- diff(): recorded-DML predicate replay ---------------------------------


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


# --- batch 2: fused CC rounds, pair filter-before-dedup (the merge
# source broadcast pin lives in tests/test_tables.py) ---


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
