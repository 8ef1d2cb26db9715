"""Incremental materialized rollup maintenance (operators/rollup.py):
delta-driven refresh equals from-scratch recompute across the whole DML
surface, with the crash-consistency guard and validation paths."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_iceberg_schema_evolution_spark.operators.rollup import refresh_rollup
from spark_iceberg_schema_evolution_spark.tables import LakehouseCatalog


@pytest.fixture()
def catalog(spark, tmp_path):
    return LakehouseCatalog(spark, str(tmp_path / "warehouse"))


def _expected(src):
    return {
        (r.k,): (r.n, r.s)
        for r in src.read()
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }


def _got(dst):
    return {
        (r.k,): (r.n_rows, r.sum_v) for r in dst.read().collect()
    }


def test_rollup_tracks_source_through_dml(spark, catalog):
    catalog.create_namespace("db")
    src = catalog.table("db", "src")
    dst = catalog.table("db", "roll")
    df = spark.range(100).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("v")
    )
    src.create(df.schema)
    src.append(df)
    refresh_rollup(src, dst, ["k"], ["v"])
    assert _got(dst) == _expected(src)
    # append-only delta
    src.append(
        spark.range(100, 150).select(
            (F.col("id") % 7).alias("k"), F.col("id").alias("v")
        )
    )
    refresh_rollup(src, dst, ["k"], ["v"])
    assert _got(dst) == _expected(src)
    # delete shrinks groups
    src.delete_where("v % 3 = 0")
    refresh_rollup(src, dst, ["k"], ["v"])
    assert _got(dst) == _expected(src)
    # update = D + I through diff()
    src.update_where("k = 2", {"v": "v + 1000"})
    refresh_rollup(src, dst, ["k"], ["v"])
    assert _got(dst) == _expected(src)
    # a group emptied entirely disappears from the rollup
    src.delete_where("k = 5")
    refresh_rollup(src, dst, ["k"], ["v"])
    got = _got(dst)
    assert got == _expected(src) and (5,) not in got
    # no-op refresh: source unmoved -> same rollup version
    v1 = dst._load().version
    assert refresh_rollup(src, dst, ["k"], ["v"]) == v1


def test_rollup_refresh_cost_is_delta_keyed(spark, catalog):
    """The IVM contract: a refresh after one small append merges a
    delta aggregate, it does not re-aggregate the source (checked
    structurally: the delta frame diff() produces holds only the new
    batch's rows)."""
    catalog.create_namespace("db")
    src = catalog.table("db", "srcd")
    df = spark.range(1000).select(
        (F.col("id") % 5).alias("k"), F.col("id").alias("v")
    )
    src.create(df.schema)
    src.append(df)
    v0 = src._load().version
    src.append(
        spark.createDataFrame([(1, 7)], "k LONG, v LONG")
    )
    d = src.diff(v0)
    assert d.count() == 1  # the delta sees one row, not 1001


def test_rollup_delta_hint_equals_diff_and_gap_falls_back(spark, catalog):
    """The writer-supplied delta fast path (PROBES_r11: the generic
    diff was 5-6x the merge's own epoch cost): a hint whose
    from-version matches the bookmark refreshes to the EXACT state the
    diff path produces; a hint with a version gap (crash-replay shape)
    is ignored and the always-correct diff path runs — never
    double-counts, never skips."""
    catalog.create_namespace("db")
    # keyed source: 20 of the 30 batch rows rewrite existing keys (to a
    # NEW group k=6), 10 insert fresh keys (k=7) — the upsert shape.
    # The hint is built BEFORE the merge (pinned pre-merge snapshot).
    src2 = catalog.table("db", "src2")
    dst2 = catalog.table("db", "roll2")
    base = spark.range(60).select(
        F.col("id").alias("key_id"),
        (F.col("id") % 5).alias("k"),
        F.col("id").alias("v"),
    )
    catalog.write_evolving(base, "db", "src2")
    refresh_rollup(src2, dst2, ["k"], ["v"])
    batch = spark.range(30).select(
        F.when(F.col("id") < 20, F.col("id"))
        .otherwise(F.col("id") + 1000).alias("key_id"),
        F.when(F.col("id") < 20, F.lit(6)).otherwise(F.lit(7)).alias("k"),
        (F.col("id") + 500).alias("v"),
    )
    hint_from = src2._load().version
    old_match = src2.read().join(
        batch.select("key_id").distinct(), ["key_id"], "left_semi"
    )
    hint = batch.withColumn("_change_type", F.lit("I")).unionByName(
        old_match.withColumn("_change_type", F.lit("D")),
        allowMissingColumns=True,
    )
    hint_to = src2.merge_into(batch, on=["key_id"])
    refresh_rollup(
        src2, dst2, ["k"], ["v"],
        delta_hint=hint, hint_from_version=hint_from,
        hint_to_version=hint_to,
    )
    assert _got(dst2) == _expected(src2)

    # a hint without its end version refuses loudly (ADVICE r11): the
    # bookmark must never advance past commits the hint doesn't cover
    import pytest as _pt
    with _pt.raises(ValueError, match="hint_to_version"):
        refresh_rollup(
            src2, dst2, ["k"], ["v"],
            delta_hint=hint, hint_from_version=hint_from,
        )

    # gap shape: a second merge commits but its refresh never ran; a
    # NEW hint derived from the post-gap version must be ignored (its
    # from-version != bookmark) and the diff path must recover BOTH
    # commits' deltas
    batch2 = spark.range(5).select(
        (F.col("id") + 2000).alias("key_id"),
        F.lit(8).alias("k"),
        F.lit(1).alias("v"),
    )
    src2.merge_into(batch2, on=["key_id"])  # refresh skipped (crash)
    batch3 = spark.range(5).select(
        (F.col("id") + 3000).alias("key_id"),
        F.lit(9).alias("k"),
        F.lit(2).alias("v"),
    )
    hint_from3 = src2._load().version  # != bookmark: gap behind it
    old3 = src2.read().join(
        batch3.select("key_id").distinct(), ["key_id"], "left_semi"
    )
    hint3 = batch3.withColumn("_change_type", F.lit("I")).unionByName(
        old3.withColumn("_change_type", F.lit("D")),
        allowMissingColumns=True,
    )
    hint_to3 = src2.merge_into(batch3, on=["key_id"])
    refresh_rollup(
        src2, dst2, ["k"], ["v"],
        delta_hint=hint3, hint_from_version=hint_from3,
        hint_to_version=hint_to3,
    )
    assert _got(dst2) == _expected(src2)  # k=8 present: diff path ran


def test_rollup_hint_never_advances_past_uncovered_commit(
    spark, catalog
):
    """ADVICE r11 (medium): a commit landing AFTER the hint's end but
    BEFORE the refresh must not be silently excluded — the bookmark
    advances exactly to hint_to_version, and the NEXT refresh's diff
    picks the trailing commit up. advance_bookmark_noop covers the
    writer-asserted no-op case (inline compaction) with one property
    write."""
    from spark_iceberg_schema_evolution_spark.operators.rollup import (
        advance_bookmark_noop,
    )

    catalog.create_namespace("db")
    src = catalog.table("db", "srch")
    dst = catalog.table("db", "rollh")
    base = spark.range(40).select(
        F.col("id").alias("key_id"),
        (F.col("id") % 4).alias("k"),
        F.col("id").alias("v"),
    )
    catalog.write_evolving(base, "db", "srch")
    refresh_rollup(src, dst, ["k"], ["v"])
    # merge 1 (hinted) ... then merge 2 lands before the refresh
    b1 = spark.range(10).select(
        (F.col("id") + 100).alias("key_id"),
        F.lit(5).alias("k"), F.lit(1).alias("v"),
    )
    hint_from = src._load().version
    old1 = src.read().join(
        b1.select("key_id").distinct(), ["key_id"], "left_semi"
    )
    hint = b1.withColumn("_change_type", F.lit("I")).unionByName(
        old1.withColumn("_change_type", F.lit("D")),
        allowMissingColumns=True,
    )
    hint_to = src.merge_into(b1, on=["key_id"])
    b2 = spark.range(10).select(
        (F.col("id") + 200).alias("key_id"),
        F.lit(6).alias("k"), F.lit(2).alias("v"),
    )
    src.merge_into(b2, on=["key_id"])  # uncovered trailing commit
    refresh_rollup(
        src, dst, ["k"], ["v"],
        delta_hint=hint, hint_from_version=hint_from,
        hint_to_version=hint_to,
    )
    # hint applied, bookmark parked AT hint_to: k=6 not yet folded in
    got_mid = _got(dst)
    assert 5 in {k for k, *_ in got_mid} and 6 not in {
        k for k, *_ in got_mid
    }
    assert int(dst.properties()["rollup.source_version"]) == hint_to
    # the next (hint-less) refresh recovers the trailing commit
    refresh_rollup(src, dst, ["k"], ["v"])
    assert _got(dst) == _expected(src)
    # writer-asserted no-op advance: a real COMPACTION commit (row
    # content identical, new version) moves the bookmark with one
    # property write, and the next refresh short-circuits at
    # bookmark == head — no diff scan over the content-identical span
    head_before = src._load().version
    src.compact()  # rewrites data files, never row content
    head_after = src._load().version
    assert head_after > head_before
    v = advance_bookmark_noop(src, dst)
    assert int(dst.properties()["rollup.source_version"]) == head_after
    assert refresh_rollup(src, dst, ["k"], ["v"]) == v
    assert _got(dst) == _expected(src)


def test_rollup_out_of_sync_guard_and_rebuild(spark, catalog):
    catalog.create_namespace("db")
    src = catalog.table("db", "srcg")
    dst = catalog.table("db", "rollg")
    df = spark.range(20).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("v")
    )
    src.create(df.schema)
    src.append(df)
    refresh_rollup(src, dst, ["k"], ["v"])
    # a foreign write to the rollup breaks the bookmark pairing
    dst.append(
        spark.createDataFrame(
            [(99, 1, 1)], "k LONG, n_rows LONG, sum_v LONG"
        )
    )
    src.append(spark.createDataFrame([(0, 5)], "k LONG, v LONG"))
    with pytest.raises(RuntimeError, match="out of sync"):
        refresh_rollup(src, dst, ["k"], ["v"])
    # rebuild adopts the table again
    refresh_rollup(src, dst, ["k"], ["v"], full_refresh=True)
    assert _got(dst) == _expected(src)
    refresh_rollup(src, dst, ["k"], ["v"])  # incremental works again


def test_rollup_validation(spark, catalog):
    catalog.create_namespace("db")
    src = catalog.table("db", "srcv")
    dst = catalog.table("db", "rollv")
    src.create(
        spark.createDataFrame([(1, 1)], "k LONG, v LONG").schema
    )
    src.append(spark.createDataFrame([(1, 1)], "k LONG, v LONG"))
    with pytest.raises(ValueError, match="group column"):
        refresh_rollup(src, dst, [], ["v"])
    refresh_rollup(src, dst, ["k"], ["v"])
    # NULL group keys refuse loudly instead of duplicating groups
    src.append(
        spark.createDataFrame(
            [(None, 9)], "k LONG, v LONG"
        )
    )
    with pytest.raises(Exception, match="NULL group key"):
        refresh_rollup(src, dst, ["k"], ["v"])
    # adopting a non-rollup table needs an explicit full_refresh
    plain = catalog.table("db", "plain")
    plain.create(dst._load().schema)
    plain.append(dst.read())
    plain.unset_property("rollup.source_version")
    with pytest.raises(ValueError, match="not a rollup"):
        refresh_rollup(src, plain, ["k"], ["v"])


def test_rollup_via_sql_call(spark, catalog):
    catalog.create_namespace("db")
    src = catalog.table("db", "csrc")
    df = spark.range(50).select(
        (F.col("id") % 4).alias("k"), F.col("id").alias("v")
    )
    src.create(df.schema)
    src.append(df)
    catalog.sql(
        "CALL lake.system.refresh_rollup('db.csrc', "
        "target => 'db.cdst', group_by => 'k', sum => 'v')"
    )
    dst = catalog.table("db", "cdst")
    assert _got(dst) == _expected(src)
    src.delete_where("v >= 40")
    catalog.sql(
        "CALL lake.system.refresh_rollup('db.csrc', "
        "target => 'db.cdst', group_by => 'k', sum => 'v')"
    )
    assert _got(dst) == _expected(src)
    with pytest.raises(ValueError, match="group_by"):
        catalog.sql(
            "CALL lake.system.refresh_rollup('db.csrc', "
            "target => 'db.cdst')"
        )


def test_metadata_only_source_commit_skips_rollup_rewrite(spark, catalog):
    catalog.create_namespace("db")
    src = catalog.table("db", "msrc")
    dst = catalog.table("db", "mdst")
    df = spark.range(30).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("v")
    )
    src.create(df.schema)
    src.append(df)
    refresh_rollup(src, dst, ["k"], ["v"])
    v_before = dst._load().version
    # metadata-only source commits: rename + rename-back moves the
    # version without changing a row
    src.rename_column("v", "val")
    src.rename_column("val", "v")
    v = refresh_rollup(src, dst, ["k"], ["v"])
    assert v == v_before  # bookmark advanced, rollup untouched
    assert _got(dst) == _expected(src)
    # and the NEXT real change still refreshes incrementally
    src.append(spark.createDataFrame([(0, 100)], "k LONG, v LONG"))
    refresh_rollup(src, dst, ["k"], ["v"])
    assert _got(dst) == _expected(src)


# --- quantile sketch rollup (DDSketch-shape) --------------------------------


def test_quantile_sketch_relative_error_bound(spark):
    """DDSketch contract: every quantile read is within relative alpha
    of the true order statistic — including negatives and zeros."""
    import math

    from spark_iceberg_schema_evolution_spark.operators.profile import (
        quantile_sketch,
        sketch_quantiles,
    )

    alpha = 0.01
    vals_a = [((i * 37) % 1000) - 200 for i in range(500)]  # neg..pos, has 0s?
    vals_b = [math.exp(i / 40.0) for i in range(300)]  # heavy tail
    rows = [("a", float(v)) for v in vals_a] + [
        ("b", float(v)) for v in vals_b
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    sk = quantile_sketch(df, ["g"], "v", alpha=alpha)
    qs = [0.01, 0.1, 0.5, 0.9, 0.99]
    got = {
        (r.g, r.q): (r.quantile_est, r.n_total)
        for r in sketch_quantiles(sk, ["g"], qs, alpha=alpha).collect()
    }
    for g, vals in (("a", vals_a), ("b", vals_b)):
        s = sorted(vals)
        for q in qs:
            rank = max(1, math.ceil(q * len(s)))
            exact = s[rank - 1]
            est, n_total = got[(g, q)]
            assert n_total == len(vals)
            if exact == 0:
                assert est == 0.0
            else:
                assert abs(est - exact) <= alpha * abs(exact) + 1e-12, (
                    g, q, exact, est
                )


def test_quantile_sketch_merge_is_exact(spark):
    """Coarsening two batch sketches equals sketching the union — the
    mergeability that makes the rollup incrementally maintainable."""
    from spark_iceberg_schema_evolution_spark.operators.profile import (
        quantile_sketch,
        quantile_sketch_coarsen,
    )

    b1 = spark.createDataFrame(
        [("g", float(v)) for v in range(1, 200)], "g string, v double"
    )
    b2 = spark.createDataFrame(
        [("g", float(v * 3)) for v in range(1, 150)], "g string, v double"
    )
    merged = quantile_sketch_coarsen(
        quantile_sketch(b1, ["g"], "v").unionByName(
            quantile_sketch(b2, ["g"], "v")
        ),
        ["g"],
    )
    direct = quantile_sketch(b1.unionByName(b2), ["g"], "v")
    assert {tuple(r) for r in merged.collect()} == {
        tuple(r) for r in direct.collect()
    }
    # and global coarsening (no groups) sums to the full count
    from pyspark.sql import functions as FF
    total = quantile_sketch_coarsen(direct, []).agg(
        FF.sum("n")
    ).first()[0]
    assert total == 199 + 149


def test_quantile_sketch_refresh_incremental_and_alpha_guard(
    spark, catalog, tmp_path
):
    """Lakehouse rollup lifecycle: two incremental refreshes append only
    the batch deltas (O(batch)), read-time coarsening matches a
    from-scratch sketch of all data, and a drifted alpha is refused."""
    import math

    import pytest as _pytest

    from spark_iceberg_schema_evolution_spark.operators.profile import (
        quantile_sketch,
        quantile_sketch_coarsen,
        quantile_sketch_refresh,
        sketch_quantiles,
    )

    catalog.create_namespace("db")
    t = catalog.table("db", "qsketch")
    b1 = spark.createDataFrame(
        [("s", float((i * 7) % 500 + 1)) for i in range(400)],
        "g string, v double",
    )
    b2 = spark.createDataFrame(
        [("s", float((i * 13) % 900 + 1)) for i in range(300)],
        "g string, v double",
    )
    quantile_sketch_refresh(t, b1, ["g"], "v", alpha=0.02)
    quantile_sketch_refresh(t, b2, ["g"], "v", alpha=0.02)

    stored = quantile_sketch_coarsen(t.read(), ["g"])
    direct = quantile_sketch(b1.unionByName(b2), ["g"], "v", alpha=0.02)
    assert {tuple(r) for r in stored.collect()} == {
        tuple(r) for r in direct.collect()
    }
    # quantiles off the stored rollup obey the bound vs exact data
    vals = sorted(
        [float((i * 7) % 500 + 1) for i in range(400)]
        + [float((i * 13) % 900 + 1) for i in range(300)]
    )
    row = sketch_quantiles(stored, ["g"], [0.5], alpha=0.02).first()
    exact = vals[max(1, math.ceil(0.5 * len(vals))) - 1]
    assert abs(row.quantile_est - exact) <= 0.02 * exact + 1e-12
    # alpha drift refused
    with _pytest.raises(ValueError, match="alpha drift"):
        quantile_sketch_refresh(t, b2, ["g"], "v", alpha=0.01)


def test_refresh_quantile_sketch_ivm_tracks_dml(spark, catalog):
    """IVM sketch refresh from source CDC: appends, deletes, and
    updates all land as signed bucket deltas; the stored sketch
    coarsens to exactly the from-scratch sketch of the current source.
    Bookmark crash guard raises; CALL face routes."""
    from spark_iceberg_schema_evolution_spark.operators.profile import (
        quantile_sketch,
        quantile_sketch_coarsen,
        refresh_quantile_sketch,
    )

    catalog.create_namespace("db")
    src = catalog.table("db", "qsrc")
    dst = catalog.table("db", "qdst")
    df = spark.range(200).select(
        (F.col("id") % 2).alias("g"),
        (F.col("id") * 3 + 1).cast("double").alias("v"),
    )
    src.create(df.schema)
    src.append(df)

    def stored_set():
        return {
            tuple(r)
            for r in quantile_sketch_coarsen(dst.read(), ["g"])
            .where("n != 0")
            .collect()
        }

    def direct_set():
        return {
            tuple(r)
            for r in quantile_sketch(
                src.read(), ["g"], "v", alpha=0.01
            ).collect()
        }

    v1 = refresh_quantile_sketch(src, dst, ["g"], "v", alpha=0.01)
    assert stored_set() == direct_set()

    # incremental append: only the delta lands
    src.append(
        spark.range(50).select(
            (F.col("id") % 2).alias("g"),
            (F.col("id") * 7 + 2).cast("double").alias("v"),
        )
    )
    v2 = refresh_quantile_sketch(src, dst, ["g"], "v", alpha=0.01)
    assert v2 > v1
    assert stored_set() == direct_set()

    # DELETE: negative bucket counts cancel the removed values
    src.delete_where(F.col("v") > 400)
    refresh_quantile_sketch(src, dst, ["g"], "v", alpha=0.01)
    assert stored_set() == direct_set()

    # UPDATE (one D + one I): buckets move with the value
    src.update_where(F.col("v") < 10, {"v": F.col("v") + 1000})
    refresh_quantile_sketch(src, dst, ["g"], "v", alpha=0.01)
    assert stored_set() == direct_set()

    # no-change refresh: version stays put
    v_same = refresh_quantile_sketch(src, dst, ["g"], "v", alpha=0.01)
    assert v_same == dst._load().version

    # out-of-sync bookmark raises (foreign write to the sketch)
    dst.append(
        spark.createDataFrame([(0, 1, 5, 1)], "g long, sgn int, bucket long, n long")
    )
    with pytest.raises(RuntimeError, match="out of sync"):
        refresh_quantile_sketch(src, dst, ["g"], "v", alpha=0.01)
    # rebuild heals
    refresh_quantile_sketch(
        src, dst, ["g"], "v", alpha=0.01, full_refresh=True
    )
    assert stored_set() == direct_set()

    # SQL CALL face
    r = catalog.sql(
        "CALL lake.system.refresh_quantile_sketch('db.qsrc', "
        "target => 'db.qdst', value => 'v', group_by => 'g', "
        "alpha => '0.01')"
    ).first()
    assert r[0] == dst._load().version


# --- top-k heavy-hitter sketch (Misra-Gries family) -------------------------


def test_topk_sketch_exact_when_k_covers_cardinality(spark):
    from spark_iceberg_schema_evolution_spark.operators.profile import (
        topk_sketch,
    )

    rows = [("g", "a")] * 5 + [("g", "b")] * 3 + [("g", "c")] * 1
    df = spark.createDataFrame(rows, "g string, item string")
    sk = topk_sketch(df, ["g"], "item", k=10)
    got = {r.item: (r.n, r.spill) for r in sk.collect()}
    assert got == {
        "a": (5, 0), "b": (3, 0), "c": (1, 0), None: (0, 0)
    }


def test_topk_sketch_spill_bound_and_merge(spark):
    """est <= true <= est + spill_sum for every item, after building
    per-batch sketches at small k and merging — the Misra-Gries
    mergeable-summaries contract."""
    from spark_iceberg_schema_evolution_spark.operators.profile import (
        topk_sketch,
        topk_sketch_coarsen,
    )

    import collections

    b1 = [("g", f"t{i % 7}") for i in range(140)]  # t0..t6 x20
    b2 = [("g", f"t{i % 4}") for i in range(120)]  # t0..t3 x30
    true = collections.Counter(x for _, x in b1 + b2)
    df1 = spark.createDataFrame(b1, "g string, item string")
    df2 = spark.createDataFrame(b2, "g string, item string")
    k = 3
    merged = topk_sketch_coarsen(
        topk_sketch(df1, ["g"], "item", k=k).unionByName(
            topk_sketch(df2, ["g"], "item", k=k)
        ),
        ["g"],
        k=k,
    )
    rows = merged.collect()
    est = {r.item: r.n for r in rows if r.item is not None}
    spill = sum(r.spill for r in rows)
    assert len(est) == k
    # total mass conserved: retained + spill == all observations
    assert sum(est.values()) + spill == len(b1) + len(b2)
    for item, t in true.items():
        e = est.get(item, 0)
        assert e <= t <= e + spill, (item, e, t, spill)
    # the heaviest item is retained (50 = 20 + 30 observations)
    assert "t0" in est


def test_topk_sketch_merge_exact_at_large_k(spark):
    """With k >= distinct items, merging per-batch sketches reproduces
    the exact union counts with zero spill."""
    import collections

    from spark_iceberg_schema_evolution_spark.operators.profile import (
        topk_sketch,
        topk_sketch_coarsen,
    )

    b1 = [("x", f"i{i % 5}") for i in range(50)]
    b2 = [("x", f"i{i % 9}") for i in range(90)]
    true = collections.Counter(x for _, x in b1 + b2)
    df1 = spark.createDataFrame(b1, "g string, item string")
    df2 = spark.createDataFrame(b2, "g string, item string")
    merged = topk_sketch_coarsen(
        topk_sketch(df1, ["g"], "item", k=20).unionByName(
            topk_sketch(df2, ["g"], "item", k=20)
        ),
        ["g"],
        k=20,
    )
    got = {
        r.item: r.n for r in merged.collect() if r.item is not None
    }
    assert got == dict(true)
    assert merged.where("item IS NULL").first().spill == 0
    # global coarsen (no group cols) also exact
    global_ = topk_sketch_coarsen(merged, [], k=20)
    got_g = {
        r.item: r.n for r in global_.collect() if r.item is not None
    }
    assert got_g == dict(true)


def test_topk_sketch_sharded_matches_unsharded(spark):
    """shards > 1 partitions ITEMS disjointly: per-shard counts stay
    exact, and coarsening the sharded sketch reproduces the unsharded
    sketch at covering k — plus the spill contract at small k."""
    import collections

    from spark_iceberg_schema_evolution_spark.operators.profile import (
        topk_sketch,
        topk_sketch_coarsen,
    )

    rows = [("g", f"w{i % 11}") for i in range(220)]
    true = collections.Counter(x for _, x in rows)
    df = spark.createDataFrame(rows, "g string, item string")

    flat = {
        (r.item): (r.n, r.spill)
        for r in topk_sketch(df, ["g"], "item", k=20).collect()
    }
    sharded = topk_sketch_coarsen(
        topk_sketch(df, ["g"], "item", k=20, shards=4), ["g"], k=20
    )
    got = {(r.item): (r.n, r.spill) for r in sharded.collect()}
    assert got == flat  # covering k: exact either way

    # small k with shards: bound + mass conservation still hold
    sk = topk_sketch_coarsen(
        topk_sketch(df, ["g"], "item", k=3, shards=4), ["g"], k=3
    ).collect()
    est = {r.item: r.n for r in sk if r.item is not None}
    spill = sum(r.spill for r in sk)
    assert sum(est.values()) + spill == len(rows)
    for item, t in true.items():
        e = est.get(item, 0)
        assert e <= t <= e + spill


def test_quantile_sketch_weighted(spark):
    """weight_col: the sketch answers 'value at p of total WEIGHT' —
    equivalent to sketching the weight-expanded rows."""
    import math

    from spark_iceberg_schema_evolution_spark.operators.profile import (
        quantile_sketch,
        sketch_quantiles,
    )

    # values 1..20, value i carries weight i (triangular mass)
    rows = [("g", float(i), i) for i in range(1, 21)]
    df = spark.createDataFrame(rows, "g string, v double, w int")
    sk = quantile_sketch(df, ["g"], "v", alpha=0.01, weight_col="w")
    expanded = [float(i) for i in range(1, 21) for _ in range(i)]
    s = sorted(expanded)
    for q in (0.25, 0.5, 0.9):
        row = sketch_quantiles(sk, ["g"], [q], alpha=0.01).first()
        exact = s[max(1, math.ceil(q * len(s))) - 1]
        assert abs(row.quantile_est - exact) <= 0.01 * exact + 1e-12
        assert row.n_total == len(expanded)
    # equivalence: weighted sketch == sketch of the expanded rows
    edf = spark.createDataFrame(
        [("g", v) for v in expanded], "g string, v double"
    )
    esk = quantile_sketch(edf, ["g"], "v", alpha=0.01)
    assert {tuple(r) for r in sk.collect()} == {
        tuple(r) for r in esk.collect()
    }


def test_refresh_hll_rollup_ivm_and_delete_refusal(spark, catalog):
    """IVM HLL rollup: incremental appends land on exactly the
    from-scratch estimate (register union is order-independent), a
    delta with deletes is refused loudly (HLL cannot unsee rows), and
    full_refresh rebuilds; lg_k drift refused."""
    from spark_iceberg_schema_evolution_spark.operators.profile import (
        hll_coarsen,
        hll_rollup,
        refresh_hll_rollup,
    )

    catalog.create_namespace("db")
    src = catalog.table("db", "hsrc")
    dst = catalog.table("db", "hdst")
    df = spark.range(500).select(
        (F.col("id") % 3).alias("g"), (F.col("id") % 97).alias("u")
    )
    src.create(df.schema)
    src.append(df)

    def est_stored():
        return {
            r.g: (r.approx_distinct, r.n_rows)
            for r in hll_coarsen(dst.read(), ["g"]).collect()
        }

    def est_direct():
        return {
            r.g: (r.approx_distinct, r.n_rows)
            for r in hll_coarsen(
                hll_rollup(src.read(), ["g"], "u"), ["g"]
            ).collect()
        }

    refresh_hll_rollup(src, dst, ["g"], "u")
    assert est_stored() == est_direct()

    src.append(
        spark.range(500, 800).select(
            (F.col("id") % 3).alias("g"), (F.col("id") % 211).alias("u")
        )
    )
    refresh_hll_rollup(src, dst, ["g"], "u")
    assert est_stored() == est_direct()

    # deletes refuse
    src.delete_where("u > 150")
    with pytest.raises(ValueError, match="cannot unsee"):
        refresh_hll_rollup(src, dst, ["g"], "u")
    # rebuild heals and re-syncs the bookmark
    refresh_hll_rollup(src, dst, ["g"], "u", full_refresh=True)
    assert est_stored() == est_direct()
    # lg_k drift refused
    with pytest.raises(ValueError, match="lg_k drift"):
        refresh_hll_rollup(src, dst, ["g"], "u", lg_k=10)
    # no-change refresh keeps the version
    v = refresh_hll_rollup(src, dst, ["g"], "u")
    assert v == dst._load().version


def test_refresh_hll_rollup_via_sql_call(spark, catalog):
    from spark_iceberg_schema_evolution_spark.operators.profile import (
        hll_coarsen,
        hll_rollup,
    )

    catalog.create_namespace("db")
    src = catalog.table("db", "hcsrc")
    df = spark.range(100).select(
        (F.col("id") % 2).alias("g"), (F.col("id") % 37).alias("u")
    )
    src.create(df.schema)
    src.append(df)
    catalog.sql(
        "CALL lake.system.refresh_hll_rollup('db.hcsrc', "
        "target => 'db.hcdst', distinct => 'u', group_by => 'g')"
    )
    dst = catalog.table("db", "hcdst")
    got = {
        r.g: (r.approx_distinct, r.n_rows)
        for r in hll_coarsen(dst.read(), ["g"]).collect()
    }
    want = {
        r.g: (r.approx_distinct, r.n_rows)
        for r in hll_coarsen(
            hll_rollup(src.read(), ["g"], "u"), ["g"]
        ).collect()
    }
    assert got == want


def test_sketch_band_filter_trims_tails(spark):
    """Band filter driven by the sketch: bounds within alpha of the
    exact percentiles, kept rows are exactly those inside the bounds,
    and the corpus is filtered map-only against broadcast bounds."""
    import math

    from spark_iceberg_schema_evolution_spark.operators.profile import (
        quantile_sketch,
        sketch_band_filter,
        sketch_quantiles,
    )

    vals = [float((i * 7) % 1000 + 1) for i in range(800)]
    df = spark.createDataFrame(
        [("g", v) for v in vals], "g string, v double"
    )
    sk = quantile_sketch(df, ["g"], "v", alpha=0.01)
    out = sketch_band_filter(
        df, sk, ["g"], "v", lo_q=0.1, hi_q=0.9, alpha=0.01
    )
    kept = sorted(r.v for r in out.collect())
    # reconstruct the bounds the filter used and verify exactness
    qb = {
        r.q: r.quantile_est
        for r in sketch_quantiles(
            sk, ["g"], [0.1, 0.9], alpha=0.01
        ).collect()
    }
    assert kept == sorted(v for v in vals if qb[0.1] <= v <= qb[0.9])
    s = sorted(vals)
    for q in (0.1, 0.9):
        exact = s[max(1, math.ceil(q * len(s))) - 1]
        assert abs(qb[q] - exact) <= 0.01 * exact + 1e-12
    # tails actually trimmed
    assert min(kept) > min(vals) and max(kept) < max(vals)
    # global (ungrouped) band works too
    gout = sketch_band_filter(
        df, quantile_sketch(df, [], "v", alpha=0.01), [], "v",
        lo_q=0.05, hi_q=0.95,
    )
    assert 0 < gout.count() < len(vals)


def test_topk_sketch_spill_marker_cannot_collide_with_items(spark):
    """Regression (round-8 advice): a corpus whose GENUINE item value
    is the string "__spill__" must be counted as an ordinary item —
    the spill accounting row is marked by NULL item (a value genuine
    items can never hold), not by a reserved string."""
    from spark_iceberg_schema_evolution_spark.operators.profile import (
        topk_sketch,
        topk_sketch_coarsen,
    )

    rows = [("g", "__spill__")] * 7 + [("g", "x")] * 3 + [("g", "y")]
    df = spark.createDataFrame(rows, "g string, item string")
    sk = topk_sketch(df, ["g"], "item", k=2)
    got = {r.item: (r.n, r.spill) for r in sk.collect()}
    # "__spill__" is the most frequent genuine item; y (count 1) trims
    assert got["__spill__"] == (7, 0)
    assert got["x"] == (3, 0)
    assert got[None] == (0, 1)
    merged = topk_sketch_coarsen(sk.unionByName(sk), ["g"], k=2)
    m = {r.item: (r.n, r.spill) for r in merged.collect()}
    assert m["__spill__"] == (14, 0)
    assert m[None] == (0, 2)


# --- the shared bookmark protocol (operators/rollup.py::_refresh) -----------


def test_refresh_quantile_sketch_appends_the_generic_diff_delta(
    spark, catalog
):
    """Each sketch refresh appends exactly the signed bucket fold of
    the generic ``diff()`` change bag over its span — the refresh reads
    ``diff_additive``, whose unreduced I/D rows must fold to the same
    buckets — over an append, a DELETE, an UPDATE, a compaction (no
    row change: nothing appended) and a multi-commit span."""
    from spark_iceberg_schema_evolution_spark.operators.profile import (
        _sketch_exprs,
        refresh_quantile_sketch,
    )

    catalog.create_namespace("db")
    src = catalog.table("db", "gsrc")
    dst = catalog.table("db", "gdst")
    df = spark.range(200).select(
        (F.col("id") % 2).alias("g"),
        (F.col("id") * 3 + 1).cast("double").alias("v"),
    )
    src.create(df.schema)
    src.append(df)
    refresh_quantile_sketch(src, dst, ["g"], "v", alpha=0.01)

    def reference(a, b):
        v, sgn, idx = _sketch_exprs("v", 0.01)
        signed = F.when(F.col("_change_type") == "I", 1).otherwise(-1)
        return sorted(
            tuple(r)
            for r in src.diff(a, b)
            .where(v.isNotNull())
            .groupBy("g", sgn.alias("sgn"), idx.alias("bucket"))
            .agg(F.sum(signed).alias("n"))
            .where("n != 0")
            .collect()
        )

    def refresh_and_check():
        a = int(dst.properties()["sketch.source_version"])
        before = dst._load().version
        after = refresh_quantile_sketch(src, dst, ["g"], "v", alpha=0.01)
        appended = sorted(
            tuple(r)
            for r in dst.read(version=after)
            .exceptAll(dst.read(version=before))
            .collect()
        )
        assert appended == reference(a, src._load().version)
        return after - before

    src.append(
        spark.range(50).select(
            (F.col("id") % 2).alias("g"),
            (F.col("id") * 7 + 2).cast("double").alias("v"),
        )
    )
    assert refresh_and_check() == 1
    src.delete_where(F.col("v") > 400)
    assert refresh_and_check() == 1
    src.update_where(F.col("v") < 10, {"v": F.col("v") + 1000})
    assert refresh_and_check() == 1
    src.compact()
    assert refresh_and_check() == 0
    src.update_where("v > 1000", {"v": "v + 1"})
    src.append(spark.createDataFrame([(1, 5.0), (0, -3.0)], "g long, v double"))
    assert refresh_and_check() == 1


def test_sketch_and_hll_refresh_refuse_foreign_write(spark, catalog):
    """A foreign write to a sketch or HLL summary breaks its bookmark
    pairing: the next refresh raises instead of folding on top."""
    from spark_iceberg_schema_evolution_spark.operators.profile import (
        refresh_hll_rollup,
        refresh_quantile_sketch,
    )

    catalog.create_namespace("db")
    src = catalog.table("db", "fsrc")
    df = spark.range(40).select(
        (F.col("id") % 2).alias("g"), F.col("id").alias("v")
    )
    src.create(df.schema)
    src.append(df)
    refreshers = {
        "fsk": lambda d: refresh_quantile_sketch(src, d, ["g"], "v"),
        "fhll": lambda d: refresh_hll_rollup(src, d, ["g"], "v"),
    }
    for name, refresh in refreshers.items():
        dst = catalog.table("db", name)
        refresh(dst)
        dst.append(dst.read().limit(1))  # someone else writes the summary
        src.append(spark.createDataFrame([(0, 99)], "g long, v long"))
        with pytest.raises(RuntimeError, match="out of sync"):
            refresh(dst)


def test_refresh_append_span_job_counts(spark, catalog):
    """Spark jobs of one refresh over an append span (2,000-row source,
    100-row append), per summary: the delta's local checkpoint, with
    the emptiness count (and HLL's delete count) riding it, plus the
    write — a merge for the rollup, an append for the sketches. A
    separate probe that re-ran the change lineage shows up here."""
    from spark_iceberg_schema_evolution_spark.operators.profile import (
        refresh_hll_rollup,
        refresh_quantile_sketch,
    )
    from tests.conftest import _jobs_in

    def rows(lo, hi):
        return spark.range(lo, hi).select(
            (F.col("id") % 7).alias("g"),
            (F.col("id") * 3 + 1).alias("v"),
            (F.col("id") % 97).alias("u"),
        )

    catalog.create_namespace("db")
    refreshers = {
        "rollup": lambda s, d: refresh_rollup(s, d, ["g"], ["v"]),
        "sketch": lambda s, d: refresh_quantile_sketch(s, d, ["g"], "v"),
        "hll": lambda s, d: refresh_hll_rollup(s, d, ["g"], "u"),
    }
    jobs = {}
    for name, refresh in refreshers.items():
        src = catalog.table("db", f"j_{name}_src")
        dst = catalog.table("db", f"j_{name}")
        src.create(rows(0, 1).schema)
        src.append(rows(0, 2000))
        refresh(src, dst)
        src.append(rows(2000, 2100))
        v, ids = _jobs_in(
            spark, f"refresh_{name}", lambda: refresh(src, dst)
        )
        assert v == dst._load().version
        jobs[name] = len(ids)
    assert jobs == {"rollup": 8, "sketch": 4, "hll": 4}
