"""LLM-operator property tests: LSH recall vs exact baselines, dedup
invariants, multimodal round trip."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_iceberg_schema_evolution_spark.operators import dedup, multimodal, similarity

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_exact_dedup_idempotent(spark):
    d = _docs(spark)
    doubled = d.unionByName(d)
    out = dedup.exact_dedup(doubled)
    assert out.count() == d.select("text").distinct().count()


def test_minhash_lsh_finds_planted_near_dups(spark):
    """Plant a near-duplicate (one word changed) and require LSH to
    surface the pair."""
    d = _docs(spark).where("doc_id < 50")
    planted = d.where("doc_id = 0").select(
        F.lit(99999).cast("long").alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tailword")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    corpus = d.unionByName(planted)
    sigs = dedup.minhash_signature(corpus, num_hashes=32)
    pairs = dedup.lsh_candidate_pairs(sigs, num_bands=8, sig_len=32)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 99999) in got
    verified = dedup.jaccard_pairs(corpus, pairs)
    j = {
        (r.id_a, r.id_b): r.jaccard for r in verified.collect()
    }
    assert j[(0, 99999)] > 0.7


def test_signature_prefilter_keeps_dups_drops_distant(spark):
    """The opt-in verify prefilter: a planted near-dup pair (signature
    agreement ~ its true Jaccard > threshold) survives the cut; a
    candidate pair of two UNRELATED docs (agreement ~ 0) is dropped
    before exact verify; a margin wide enough to push the cut to zero
    disables the filter (pairs pass through untouched); exact verify
    on the filtered set equals exact verify on the full set for this
    corpus (nothing true was lost)."""
    d = _docs(spark).where("doc_id < 40")
    planted = d.where("doc_id = 0").select(
        F.lit(99999).cast("long").alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tailword")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    corpus = d.unionByName(planted)
    sigs = dedup.minhash_signature(corpus, num_hashes=32)
    # candidate list: the true near-dup pair + a fabricated pair of two
    # unrelated documents (an LSH false positive stand-in)
    pairs = spark.createDataFrame(
        [(0, 99999), (1, 2)], "id_a long, id_b long"
    )
    kept = dedup.signature_prefilter(pairs, sigs, threshold=0.7)
    got = {(r.id_a, r.id_b) for r in kept.collect()}
    assert (0, 99999) in got
    assert (1, 2) not in got
    # exact verify result set identical on filtered vs unfiltered input
    full = {
        (r.id_a, r.id_b)
        for r in dedup.jaccard_pairs(corpus, pairs)
        .where("jaccard >= 0.7")
        .collect()
    }
    filt = {
        (r.id_a, r.id_b)
        for r in dedup.jaccard_pairs(corpus, kept)
        .where("jaccard >= 0.7")
        .collect()
    }
    assert filt == full
    # a cut at/below zero disables the filter entirely
    wide = dedup.signature_prefilter(
        pairs, sigs, threshold=0.7, margin_sigmas=100.0
    )
    assert wide.count() == pairs.count()
    import pytest as _pt
    with _pt.raises(ValueError, match="threshold"):
        dedup.signature_prefilter(pairs, sigs, threshold=0.0)


def test_signature_prefilter_missing_and_short_sigs(spark):
    """ADVICE r11 regression: (1) a candidate pair whose doc id is
    absent from the signature store PASSES THROUGH to exact verify
    (left joins — an inner join silently deleted recall exactly where
    blocking-sourced candidates carry unsigned docs); (2) the cut is
    derived from the ACTUAL signature arrays, so a store shorter than
    an assumed num_hashes can never push the cut above the maximum
    possible agreements and drop true duplicates."""
    d = _docs(spark).where("doc_id < 40")
    planted = d.where("doc_id = 0").select(
        F.lit(99999).cast("long").alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tailword")).alias("text"),
        "lang", "source", "n_chars",
    )
    corpus = d.unionByName(planted)
    # (1) unsigned doc: pair (0, 77777) has no signature for 77777
    sigs = dedup.minhash_signature(corpus, num_hashes=32)
    pairs = spark.createDataFrame(
        [(0, 99999), (0, 77777), (1, 2)], "id_a long, id_b long"
    )
    got = {
        (r.id_a, r.id_b)
        for r in dedup.signature_prefilter(
            pairs, sigs, threshold=0.7
        ).collect()
    }
    assert (0, 77777) in got     # missing sig -> pass through
    assert (0, 99999) in got     # true dup survives
    assert (1, 2) not in got     # unrelated pair still cut
    # (2) short store: K=8 actual; the pre-r12 form computed keep_min
    # from num_hashes=32 (= 15 > 8 max agreements) and dropped EVERY
    # pair, the planted duplicate included
    sigs8 = dedup.minhash_signature(corpus, num_hashes=8)
    got8 = {
        (r.id_a, r.id_b)
        for r in dedup.signature_prefilter(
            spark.createDataFrame([(0, 99999)], "id_a long, id_b long"),
            sigs8,
            threshold=0.7,
        ).collect()
    }
    assert (0, 99999) in got8


def test_lsh_drop_stats_surface_planted_hot_bucket(spark):
    """Plant a hot bucket (many identical docs) past max_bucket_size and
    require the skew guard's drop to be SURFACED, not just applied —
    the no-silent-caps rule: dropped buckets delete recall."""
    d = _docs(spark).where("doc_id < 20")
    clones = spark.range(1000, 1040).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate text repeated verbatim").alias(
            "text"
        ),
        F.lit("en").alias("lang"),
        F.lit("clone").alias("source"),
        F.lit(44).alias("n_chars"),
    )
    sigs = dedup.minhash_signature(
        d.unionByName(clones), num_hashes=32
    )
    pairs, drops = dedup.lsh_candidate_pairs(
        sigs,
        num_bands=8,
        sig_len=32,
        max_bucket_size=10,
        return_drop_stats=True,
    )
    stats = drops.collect()
    assert len(stats) == 1
    # the 40 clones share every band -> all 8 of their buckets oversize
    assert stats[0].dropped_buckets >= 8
    assert stats[0].dropped_entries >= 8 * 40
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert not any(a >= 1000 and b >= 1000 for a, b in got)
    # no drops when the guard doesn't fire -> explicit zeros, not nulls
    _, clean = dedup.lsh_candidate_pairs(
        sigs, num_bands=8, sig_len=32, return_drop_stats=True
    )
    row = clean.collect()[0]
    assert (row.dropped_buckets, row.dropped_entries) == (0, 0)


def test_simhash_near_dup_close_hamming(spark):
    d = _docs(spark).where("doc_id < 20")
    planted = d.where("doc_id = 0").select(
        F.lit(77777).cast("long").alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    out = dedup.simhash(d.unionByName(planted))
    sigs = {r.doc_id: r.simhash for r in out.collect()}
    ham = bin((sigs[0] ^ sigs[77777]) & ((1 << 64) - 1)).count("1")
    assert ham <= 8  # near-dup -> close signatures


def test_lsh_topk_recall_vs_exact(spark):
    e = _emb(spark)
    qdf = e.where("vec_id < 10").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk(e, qdf, k=5)
    # synthetic embeddings are near-uniform random, so true neighbors sit
    # at cosine ~0.35 (barely above random) — the hardest case for
    # hyperplane LSH; few planes + many tables is the operating point.
    approx = similarity.lsh_topk(
        e, qdf, dim=64, k=5, num_planes=4, num_tables=8
    )
    ex = {(r.query_id, r.vec_id) for r in exact.collect()}
    ap = {(r.query_id, r.vec_id) for r in approx.collect()}
    # self-match always survives (same signature bucket in every table)
    assert all((q, q) in ap for q in range(10))
    assert len(ex & ap) / len(ex) > 0.4


def test_ivf_topk_recall_vs_exact(spark):
    e = _emb(spark)
    qdf = e.where("vec_id < 10").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk(e, qdf, k=5)
    approx = similarity.ivf_topk(e, qdf, k=5, num_centroids=8, n_probe=3)
    ex = {(r.query_id, r.vec_id) for r in exact.collect()}
    ap = {(r.query_id, r.vec_id) for r in approx.collect()}
    assert all((q, q) in ap for q in range(10))  # own cell always probed
    assert len(ex & ap) / len(ex) > 0.6  # 3-of-8 probes on random vectors


def test_cosine_near_dups_finds_planted(spark):
    e = _emb(spark).where("vec_id < 100")
    # plant an exact duplicate vector under a new id
    dup = e.where("vec_id = 0").select(
        F.lit(88888).cast("long").alias("vec_id"), "embedding",
        F.lit(0).cast("int").alias("label"),
    )
    pairs = similarity.cosine_near_dups(
        e.select("vec_id", "embedding").unionByName(
            dup.select("vec_id", "embedding")
        ),
        dim=64,
        threshold=0.99,
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 88888) in got  # identical vectors share every bucket


def test_cosine_near_dups_drop_stats_hot_bucket(spark):
    """Identical vectors collapse into one LSH bucket per table; past
    max_bucket_size the guard drops them and the drop must be surfaced."""
    e = _emb(spark).where("vec_id < 10").select("vec_id", "embedding")
    clones = (
        spark.range(500, 540)
        .crossJoin(e.where("vec_id = 0").select("embedding"))
        .select(F.col("id").alias("vec_id"), "embedding")
    )
    pairs, drops = similarity.cosine_near_dups(
        e.unionByName(clones),
        dim=64,
        threshold=0.99,
        max_bucket_size=10,
        return_drop_stats=True,
    )
    row = drops.collect()[0]
    # 41 identical vectors (vec 0 + 40 clones) share one bucket in each
    # of the 4 tables -> at least 4 oversize buckets of >= 41 members
    assert row.dropped_buckets >= 4
    assert row.dropped_entries >= 4 * 41
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert not any(a >= 500 and b >= 500 for a, b in got)


def test_semantic_dedup_threads_drop_stats(spark):
    from spark_iceberg_schema_evolution_spark.operators.dedup import (
        semantic_dedup,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}", float(i)) for i in range(5)],
        ["doc_id", "text", "quality"],
    )
    emb = _emb(spark).where("vec_id < 5").select("vec_id", "embedding")
    kept, drops = semantic_dedup(
        docs,
        emb,
        quality_col="quality",
        dim=64,
        threshold=0.99,
        return_drop_stats=True,
    )
    assert kept.count() == 5  # random vectors: nothing near-dup
    row = drops.collect()[0]
    assert (row.dropped_buckets, row.dropped_entries) == (0, 0)


def test_cosine_topk_self_is_rank1(spark):
    e = _emb(spark)
    qdf = e.where("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = similarity.cosine_topk(e, qdf, k=1)
    for r in top.collect():
        assert r.query_id == r.vec_id and r.rank == 1


def test_python_udf_matches_builtin(spark):
    """Row-at-a-time Python UDF equivalence vs the built-in expression
    (SURVEY §2.B UDF tier) — the correctness check for the slow path."""
    from pyspark.sql.types import IntegerType

    @F.udf(IntegerType())
    def pylen(s):
        return len(s) if s is not None else None

    d = _docs(spark).where("doc_id < 50")
    out = d.select(
        "doc_id",
        pylen(F.col("text")).alias("u"),
        F.length("text").alias("b"),
    )
    assert out.where(F.col("u") != F.col("b")).count() == 0


def test_multimodal_roundtrip_bytes(spark):
    d = _docs(spark).where("doc_id < 20")
    media = multimodal.documents_as_media(d)
    back = media.select(
        "media_id", F.decode("payload", "UTF-8").alias("text2")
    )
    joined = back.join(
        d.select(F.col("doc_id").alias("media_id"), "text"), "media_id"
    )
    assert joined.where(F.col("text") != F.col("text2")).count() == 0


def test_multimodal_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        multimodal.decode_stub(b"\x00")


def test_fake_features_shape(spark):
    d = _docs(spark).where("doc_id < 10")
    feats = multimodal.fake_features(multimodal.documents_as_media(d))
    rows = feats.collect()
    assert len(rows) == 10
    for r in rows:
        assert len(r.histogram16) == 16
        assert abs(sum(r.histogram16) - 1.0) < 1e-9
        assert r.byte_entropy >= 0


def test_connected_components_chain_and_islands(spark):
    from spark_iceberg_schema_evolution_spark.operators import dedup

    # a 6-node chain (tests multi-round label propagation) + an island pair
    pairs = spark.createDataFrame(
        [(5, 6), (4, 5), (3, 4), (2, 3), (1, 2), (10, 11)],
        ["id_a", "id_b"],
    )
    out = {
        r.id: r.cluster_id
        for r in dedup.connected_components(pairs).collect()
    }
    assert all(out[i] == 1 for i in range(1, 7))
    assert out[10] == out[11] == 10


def test_frame_sample_shapes(spark):
    from spark_iceberg_schema_evolution_spark.operators import multimodal as MM

    d = spark.createDataFrame(
        [(1, "x" * 2500), (2, "y" * 100)], ["doc_id", "text"]
    )
    media = MM.documents_as_media(d)
    frames = MM.frame_sample(media, frame_size=256, stride=1024).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r.media_id, []).append(r)
    assert len(by_id[1]) == 3  # offsets 0, 1024, 2048
    assert [r.n_bytes for r in sorted(by_id[1], key=lambda r: r.frame_idx)] == [
        256,
        256,
        256,
    ]
    assert len(by_id[2]) == 1 and by_id[2][0].n_bytes == 100


def test_resize_meta_contract(spark):
    from spark_iceberg_schema_evolution_spark.operators import multimodal as MM

    d = spark.createDataFrame([(1, "abc")], ["doc_id", "text"])
    out = MM.resize_meta(MM.documents_as_media(d), 64, 48).collect()[0]
    assert out.meta.width == 64 and out.meta.height == 48
    assert out.meta.mime == "text/plain" and out.payload == b"abc"

def test_connected_components_deep_chain(spark):
    """Regression (round-2 verdict #2): a 60-edge path graph must resolve
    to ONE component — pointer doubling gives O(log d) rounds, so the
    default max_iter=20 covers ~2^20-hop chains."""
    from spark_iceberg_schema_evolution_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], ["id_a", "id_b"]
    )
    out = {
        r.id: r.cluster_id
        for r in dedup.connected_components(pairs).collect()
    }
    assert set(out.values()) == {0}, "deep chain silently split"


def test_connected_components_raises_on_nonconvergence(spark):
    import pytest as _pytest

    from spark_iceberg_schema_evolution_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], ["id_a", "id_b"]
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iter=1)


def test_ann_recall_at_10_gate(spark):
    """r4 VERDICT item 6: a hard recall@10 >= 0.9 gate for both ANN
    variants vs the exact top-k, at operating points a user would pick
    when recall matters (more probes / more tables — the knobs trade
    compute for recall). Deterministic: seeded plane/centroid draws,
    fixed testdata embeddings."""
    e = _emb(spark)
    qdf = e.where("vec_id < 20").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk(e, qdf, k=10)
    ex = {(r.query_id, r.vec_id) for r in exact.collect()}
    assert len(ex) == 200

    ivf = similarity.ivf_topk(e, qdf, k=10, num_centroids=8, n_probe=7)
    iv = {(r.query_id, r.vec_id) for r in ivf.collect()}
    assert len(iv & ex) / len(ex) >= 0.9, (
        f"IVF recall@10 {len(iv & ex) / len(ex):.3f}"
    )

    lsh = similarity.lsh_topk(
        e, qdf, dim=64, k=10, num_planes=2, num_tables=24
    )
    ls = {(r.query_id, r.vec_id) for r in lsh.collect()}
    assert len(ls & ex) / len(ex) >= 0.9, (
        f"LSH recall@10 {len(ls & ex) / len(ex):.3f}"
    )


def test_semantic_dedup_keeps_best_of_embedding_cluster(spark):
    """SemDeDup-style composition: planted near-identical embeddings
    cluster; the highest-quality member survives; docs without an
    embedding pass through untouched."""
    from spark_iceberg_schema_evolution_spark.operators.dedup import (
        semantic_dedup,
    )

    base = _emb(spark).where("vec_id < 50").select("vec_id", "embedding")
    # plant: 60/61 share vec 0's embedding (a 3-cluster with vec 0)
    clones = base.where("vec_id = 0").crossJoin(
        spark.createDataFrame([(60,), (61,)], ["new_id"])
    ).select(F.col("new_id").alias("vec_id"), "embedding")
    embs = base.unionByName(clones)
    docs = embs.select("vec_id").withColumnRenamed(
        "vec_id", "doc_id"
    ).withColumn("quality", F.col("doc_id").cast("double"))
    # doc 99 has NO embedding: must pass through
    docs = docs.unionByName(
        spark.createDataFrame([(99, 0.0)], ["doc_id", "quality"])
    )
    kept = semantic_dedup(
        docs, embs, quality_col="quality", dim=64, threshold=0.99,
        id_col="doc_id", emb_id_col="vec_id",
    )
    ids = {r.doc_id for r in kept.collect()}
    assert 61 in ids and 0 not in ids and 60 not in ids  # best quality=61
    assert 99 in ids  # no embedding -> untouched
    assert len(ids) == 51  # 53 docs - 2 cluster losers


def test_pq_topk_recall_gate(spark):
    """PQ + ADC + exact re-rank: recall@10 >= 0.9 at a recall-matters
    operating point (m=16 x ksub=32 codebooks, 8x re-rank depth) on the
    hardest data for ANN — near-uniform random vectors whose true
    neighbors sit barely above the noise floor. Deterministic: seeded
    KMeans, fixed testdata. Also asserts no Python in the plan: the
    whole path (encode, ADC lookups, re-rank) is JVM HOFs."""
    from spark_iceberg_schema_evolution_spark.plans import explain

    e = _emb(spark)
    qdf = e.where("vec_id < 20").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk(e, qdf, k=10)
    ex = {(r.query_id, r.vec_id) for r in exact.collect()}
    pq = similarity.pq_topk(
        e, qdf, dim=64, k=10, m=16, ksub=32, refine=8
    )
    plan = explain.physical_plan(pq)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    ap = {(r.query_id, r.vec_id) for r in pq.collect()}
    assert all((q, q) in ap for q in range(20))  # self-match survives
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.9, f"PQ recall@10 {recall:.3f}"
    # scores of survivors are EXACT cosine (the re-rank contract)
    ex_scores = {
        (r.query_id, r.vec_id): round(r.score, 9) for r in exact.collect()
    }
    for r in pq.collect():
        if (r.query_id, r.vec_id) in ex_scores:
            assert round(r.score, 9) == ex_scores[(r.query_id, r.vec_id)]


def test_pq_topk_rejects_bad_subspaces(spark):
    e = _emb(spark)
    qdf = e.where("vec_id < 2").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    with pytest.raises(ValueError, match="not divisible"):
        similarity.pq_topk(e, qdf, dim=64, m=7)


def test_ivfpq_topk_recall_gate(spark):
    """IVF-PQ (coarse cells -> ADC over cell members -> exact re-rank):
    recall@10 >= 0.9 at a recall-matters operating point; survivor
    scores are exact cosine."""
    e = _emb(spark)
    qdf = e.where("vec_id < 20").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk(e, qdf, k=10)
    ex = {(r.query_id, r.vec_id) for r in exact.collect()}
    ap_df = similarity.ivfpq_topk(
        e, qdf, dim=64, k=10, num_centroids=8, n_probe=6,
        m=16, ksub=32, refine=8,
    )
    ap = {(r.query_id, r.vec_id) for r in ap_df.collect()}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.9, f"IVF-PQ recall@10 {recall:.3f}"
    ex_scores = {
        (r.query_id, r.vec_id): round(r.score, 9) for r in exact.collect()
    }
    for r in ap_df.collect():
        if (r.query_id, r.vec_id) in ex_scores:
            assert round(r.score, 9) == ex_scores[(r.query_id, r.vec_id)]


def test_nearest_centroid_arrow_path_matches_literal(
    spark, monkeypatch
):
    """The r13 large-quantizer assignment (Arrow-batched BLAS matmul,
    used when num_centroids*dim exceeds the literal budget — the 1M
    probe measured the interpreted-HOF argmin dominating the encode at
    1024 cells) must assign every vector to the SAME cell as the
    plan-literal path; ties break to the lowest cell id on both."""
    import numpy as np

    e = _emb(spark)
    rows = e.select("embedding").limit(40).collect()
    rng = np.random.RandomState(7)
    cents = [
        [float(x) for x in rng.randn(64)] for _ in range(24)
    ] + [[float(v) for v in rows[0][0]]]  # one exact-hit centroid
    lit = e.select(
        "vec_id",
        similarity._nearest_centroid_col(
            cents, similarity.as_double(F.col("embedding"))
        ).alias("cell"),
    )
    want = {(r.vec_id, r.cell) for r in lit.collect()}
    monkeypatch.setattr(similarity, "_ASSIGN_LITERAL_BUDGET", 1)
    arrow = e.select(
        "vec_id",
        similarity._nearest_centroid_col(
            cents, similarity.as_double(F.col("embedding"))
        ).alias("cell"),
    )
    got = {(r.vec_id, r.cell) for r in arrow.collect()}
    assert got == want
    # the Arrow path really is a pandas_udf plan, not literals
    assert "pythonUDF" in arrow._jdf.queryExecution().executedPlan().toString() \
        or "ArrowEvalPython" in arrow._jdf.queryExecution().executedPlan().toString()


def test_pq_codes_arrow_path_matches_literal(spark, monkeypatch):
    """The encode twin of the assignment equivalence above: above the
    literal budget, _pq_codes_col runs m BLAS matmuls per Arrow batch
    (needed for FAISS-resolution ksub=256 codebooks, where the
    16k-literal interpreted argmin dominates corpus encode) — and must
    emit the SAME codes as the plan-literal path."""
    import numpy as np

    e = _emb(spark)
    rng = np.random.RandomState(11)
    codebooks = [
        [[float(x) for x in rng.randn(8)] for _ in range(16)]
        for _ in range(8)
    ]
    lit = e.select(
        "vec_id",
        similarity._pq_codes_col(
            codebooks, 64, similarity.as_double(F.col("embedding"))
        ).alias("codes"),
    )
    want = {(r.vec_id, tuple(r.codes)) for r in lit.collect()}
    monkeypatch.setattr(similarity, "_ASSIGN_LITERAL_BUDGET", 1)
    arrow = e.select(
        "vec_id",
        similarity._pq_codes_col(
            codebooks, 64, similarity.as_double(F.col("embedding"))
        ).alias("codes"),
    )
    got = {(r.vec_id, tuple(r.codes)) for r in arrow.collect()}
    assert got == want


def test_cluster_balanced_sample_quota_and_determinism(spark):
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out1 = similarity.cluster_balanced_sample(
        e, per_cluster=10, num_centroids=8, seed="t"
    )
    rows1 = {(r.vec_id, r.cluster) for r in out1.collect()}
    # quota exact: every cluster contributes at most 10, and a cluster
    # with >=10 members contributes exactly 10
    sizes = {
        r.cluster: r.n
        for r in out1.groupBy("cluster").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert sizes and all(n <= 10 for n in sizes.values())
    # rerun-deterministic (seeded fit on the same input)
    out2 = similarity.cluster_balanced_sample(
        e, per_cluster=10, num_centroids=8, seed="t"
    )
    assert rows1 == {(r.vec_id, r.cluster) for r in out2.collect()}
    # the PRE-FIT path is additionally partitioning-invariant (the
    # KMeans fit is not: its bounded sample follows partition order)
    cents = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in e.where("vec_id < 4").collect()
    ]
    fixed1 = {
        (r.vec_id, r.cluster)
        for r in similarity.cluster_balanced_sample(
            e, per_cluster=10, centroids=cents, seed="t"
        ).collect()
    }
    fixed2 = {
        (r.vec_id, r.cluster)
        for r in similarity.cluster_balanced_sample(
            e.repartition(13), per_cluster=10, centroids=cents, seed="t"
        ).collect()
    }
    assert fixed1 == fixed2
    # a different seed draws a different sample from full clusters
    out3 = similarity.cluster_balanced_sample(
        e, per_cluster=10, num_centroids=8, seed="u"
    )
    assert rows1 != {(r.vec_id, r.cluster) for r in out3.collect()}
    with pytest.raises(ValueError, match="per_cluster"):
        similarity.cluster_balanced_sample(e, per_cluster=0)


def test_cluster_assignment_is_map_only(spark):
    """Pre-fit centroids: the cluster column must evaluate without any
    exchange or Python eval — pure literal-centroid argmin in codegen."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in e.where("vec_id < 4").collect()
    ]
    out = similarity.cluster_balanced_sample(
        e, per_cluster=5, centroids=cents, seed="p"
    )
    # the full op has exactly the ONE quota shuffle; assignment itself
    # adds none
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2  # quota hash + AQE read, no more
    assert "EvalPython" not in plan
    # every row assigned to its arithmetically-nearest centroid
    import math

    sample = e.limit(50).collect()
    got = {
        r.vec_id: r.cluster
        for r in similarity.cluster_balanced_sample(
            e, per_cluster=10**9, centroids=cents, seed="p"
        ).collect()
    }
    for row in sample:
        dists = [
            (
                sum(
                    (float(a) - b) * (float(a) - b)
                    for a, b in zip(row.embedding, vec)
                ),
                cid,
            )
            for cid, vec in cents
        ]
        assert got[row.vec_id] == min(dists)[1]


def test_frame_signal_arithmetic_and_edges(spark):
    media = spark.createDataFrame(
        [(1, bytearray(b"a" * 10)), (2, bytearray(b"xy")), (3, None)],
        "media_id LONG, payload BINARY",
    )
    out = multimodal.frame_signal(
        media, frame_bytes=4, hop_bytes=3, payload_col="payload"
    )
    rows = {(r.media_id, r.frame_idx): r for r in out.collect()}
    # n=10, L=4, H=3 -> starts 0,3,6 (start 9 would overrun: dropped)
    assert {k for k in rows} == {(1, 0), (1, 1), (1, 2)}
    assert [rows[(1, i)].byte_offset for i in range(3)] == [0, 3, 6]
    assert bytes(rows[(1, 0)].frame) == b"aaaa"
    # all-identical frames fingerprint identically
    assert rows[(1, 0)].frame_fp == rows[(1, 1)].frame_fp
    with pytest.raises(ValueError, match="frame_bytes"):
        multimodal.frame_signal(media, frame_bytes=0, hop_bytes=1)


def test_frame_signal_plan_stays_jvm_side(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    media = multimodal.documents_as_media(docs)
    out = multimodal.frame_signal(media, frame_bytes=64, hop_bytes=48)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "Exchange" not in plan


def test_contamination_stats_planted(spark):
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        ["doc_id", "text"],
    )
    docs = spark.createDataFrame(
        [
            # 2 shingles, both in the benchmark
            (1, "alpha beta gamma delta epsilon zeta"),
            # shares no 5-gram
            (2, "one two three four five six seven"),
            # short doc: single whole-doc shingle, no hit
            (3, "alpha beta"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in dedup.contamination_stats(docs, bench).collect()
    }
    assert out[1].n_shingles == 2 and out[1].n_overlap == 2
    assert out[1].overlap_frac == 1.0
    assert out[2].n_overlap == 0 and out[2].overlap_frac == 0.0
    assert out[3].n_shingles == 1 and out[3].n_overlap == 0
    # threshold policy composes as a plain filter
    kept = dedup.contamination_stats(docs, bench).where(
        "overlap_frac < 0.5"
    )
    assert {r.doc_id for r in kept.collect()} == {2, 3}


def test_read_binary_media_ingest(spark, tmp_path):
    media_dir = tmp_path / "media"
    (media_dir / "sub").mkdir(parents=True)
    (media_dir / "a.wav").write_bytes(b"RIFF" + b"\x01\x02" * 50)
    (media_dir / "b.png").write_bytes(b"\x89PNG" + b"\x00" * 20)
    (media_dir / "sub" / "c.xyz").write_bytes(b"opaque")
    out = multimodal.read_binary_media(spark, str(media_dir))
    rows = {r.source_path: r for r in out.collect()}
    assert set(rows) == {"a.wav", "b.png", "sub/c.xyz"}
    assert rows["a.wav"].meta.mime == "audio/wav"
    assert rows["b.png"].meta.mime == "image/png"
    assert rows["sub/c.xyz"].meta.mime == "application/octet-stream"
    assert bytes(rows["sub/c.xyz"].payload) == b"opaque"
    assert rows["a.wav"].meta.n_bytes == 104
    # ids are path-derived: stable across re-ingest
    again = {
        r.source_path: r.media_id
        for r in multimodal.read_binary_media(spark, str(media_dir)).collect()
    }
    assert {p: r.media_id for p, r in rows.items()} == again
    # glob prunes at listing time
    only_wav = multimodal.read_binary_media(
        spark, str(media_dir), pattern="*.wav"
    )
    assert [r.source_path for r in only_wav.collect()] == ["a.wav"]
    # composes with the audio framing operator
    frames = multimodal.frame_signal(
        only_wav, frame_bytes=32, hop_bytes=32
    )
    assert frames.count() == 3  # 104 bytes -> 3 full 32-byte frames


def test_ingest_corpus_increment_exact_semantics(spark, tmp_path):
    from spark_iceberg_schema_evolution_spark.tables import LakehouseCatalog

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("db")
    t = cat.table("db", "c")
    b1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], ["doc_id", "text"]
    )
    t.create(b1.schema)
    t.append(b1)
    v1 = t._load().version
    # batch 2: one corpus dup, one intra-batch dup pair, one new
    b2 = spark.createDataFrame(
        [(10, "alpha"), (11, "gamma"), (12, "gamma"), (13, "delta")],
        ["doc_id", "text"],
    )
    r2, kept = dedup.ingest_corpus_increment(cat, "db", "c", b2)
    kept.unpersist()
    v2 = t._load().version
    assert r2 == {"ingested": 2} and v2 > v1
    texts = sorted(r.text for r in t.read().collect())
    assert texts == ["alpha", "beta", "delta", "gamma"]
    # fully-duplicate increment: no commit at all
    r3, kept = dedup.ingest_corpus_increment(cat, "db", "c", b2)
    kept.unpersist()
    assert r3 == {"ingested": 0} and v2 == t._load().version
    # exact-only: no signature store appears
    assert not cat.table("db", "c_sigs").exists()


def test_mmr_rerank_diversifies_planted_duplicates(spark):
    """Two identical top-scoring candidates: plain top-2 keeps both,
    MMR keeps one and promotes a diverse lower-scored candidate."""
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [1.0, 0.0, 0.0]),     # exact dup of 1
            (3, [0.0, 1.0, 0.0]),     # orthogonal
            (4, [0.0, 0.0, 1.0]),
        ],
        ["vec_id", "embedding"],
    )
    cands = spark.createDataFrame(
        [(0, 1, 0.99), (0, 2, 0.98), (0, 3, 0.50), (0, 4, 0.40)],
        ["query_id", "vec_id", "score"],
    )
    out = similarity.mmr_rerank(cands, corpus, k=2, lambda_=0.5)
    got = [(r.mmr_rank, r.vec_id) for r in out.orderBy("mmr_rank").collect()]
    # rank 1 = highest relevance; rank 2 skips the duplicate (sim=1.0
    # penalty) for the orthogonal doc
    assert got == [(1, 1), (2, 3)]


def test_mmr_rerank_lambda_one_is_pure_relevance(spark):
    corpus = spark.createDataFrame(
        [(i, [float(i == j) for j in range(4)]) for i in range(4)],
        ["vec_id", "embedding"],
    )
    cands = spark.createDataFrame(
        [(7, i, 1.0 - 0.1 * i) for i in range(4)],
        ["query_id", "vec_id", "score"],
    )
    out = similarity.mmr_rerank(cands, corpus, k=3, lambda_=1.0)
    got = [r.vec_id for r in out.orderBy("mmr_rank").collect()]
    assert got == [0, 1, 2]  # top-3 by score, diversity ignored


def test_sq8_recall_vs_exact(spark):
    e = _emb(spark)
    enc = similarity.sq8_encode(e)
    qdf = e.where("vec_id < 10").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk(e, qdf, k=5)
    approx = similarity.sq8_topk(enc, e, qdf, k=5)
    ex = {(r.query_id, r.vec_id) for r in exact.collect()}
    ap = {(r.query_id, r.vec_id) for r in approx.collect()}
    assert all((q, q) in ap for q in range(10))  # self survives SQ8
    assert len(ex & ap) / len(ex) >= 0.9  # 8-bit affine: near-lossless


def test_sq8_encode_shapes_and_constant_vector(spark):
    df = spark.createDataFrame(
        [(1, [0.5, 0.5, 0.5]), (2, [-1.0, 0.0, 1.0])],
        ["vec_id", "embedding"],
    )
    rows = {r.vec_id: r for r in similarity.sq8_encode(df).collect()}
    assert rows[1].sq8_scale == 0.0  # constant vector: exact decode
    assert rows[1].sq8_codes == [-128, -128, -128]
    r2 = rows[2]
    # decode error bounded by scale/2 per dimension
    dec = [r2.sq8_lo + (c + 128) * r2.sq8_scale for c in r2.sq8_codes]
    assert all(abs(d - x) <= r2.sq8_scale / 2 + 1e-12
               for d, x in zip(dec, [-1.0, 0.0, 1.0]))


def test_incremental_near_dedup_drops_planted_edit(spark):
    """A lightly edited copy of a corpus doc in the new batch is caught
    (exact hash would miss it); genuinely new docs pass; the corpus
    signature store path gives the same answer as the from-docs path."""
    corpus = _docs(spark).where("doc_id < 100")
    edited = corpus.where("doc_id = 3").select(
        F.lit(50001).cast("long").alias("doc_id"),
        F.concat(F.col("text"), F.lit(" smalledit")).alias("text"),
        "lang", "source", "n_chars",
    )
    fresh = spark.createDataFrame(
        [(50002, "entirely novel content " + "x " * 40, "en", "new", 60)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    batch = edited.unionByName(fresh)
    kept, dropped = dedup.incremental_near_dedup(
        batch, corpus, num_hashes=32, num_bands=8, threshold=0.6
    )
    kept_ids = {r.doc_id for r in kept.collect()}
    drops = {(r.doc_id, r.matched_corpus_id) for r in dropped.collect()}
    assert kept_ids == {50002}
    assert (50001, 3) in drops
    # materialized signature store: identical outcome, corpus text only
    # consulted for candidates
    sigs = dedup.minhash_signature(corpus, num_hashes=32)
    kept2, dropped2 = dedup.incremental_near_dedup(
        batch, corpus, corpus_sigs=sigs,
        num_hashes=32, num_bands=8, threshold=0.6,
    )
    assert {r.doc_id for r in kept2.collect()} == {50002}
    assert (50001, 3) in {
        (r.doc_id, r.matched_corpus_id) for r in dropped2.collect()
    }


def test_batch_near_dedup_store_backed_equals_fresh(spark):
    """VERDICT r11 #3: the batch composition consuming a materialized
    signature store (signing only store-missing docs) returns the
    IDENTICAL kept set and verified pairs as the from-scratch run —
    including when the store carries ids outside the corpus (pruned,
    never phantom candidates); a scheme- or length-mismatched store
    refuses loudly instead of banding to zero candidates."""
    import pytest as _pt

    d = _docs(spark).where("doc_id < 120").select("doc_id", "text")
    planted = d.where("doc_id < 20").select(
        (F.col("doc_id") + 50000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" smalledit")).alias("text"),
    )
    corpus = d.unionByName(planted)
    kept_f, pairs_f = dedup.batch_near_dedup(
        corpus, threshold=0.6, num_hashes=16, num_bands=4,
        return_pairs=True,
    )
    want_kept = {r.doc_id for r in kept_f.collect()}
    want_pairs = {(r.id_a, r.id_b) for r in pairs_f.collect()}
    assert want_pairs  # the planted edits must actually verify
    # store covers the even half PLUS ids outside the corpus
    outside = _docs(spark).where(
        "doc_id >= 200 and doc_id < 230"
    ).select("doc_id", "text")
    store = dedup.minhash_signature(
        corpus.where("doc_id % 2 = 0").unionByName(outside),
        num_hashes=16,
    )
    kept_s, pairs_s = dedup.batch_near_dedup(
        corpus, threshold=0.6, num_hashes=16, num_bands=4,
        sigs=store, return_pairs=True,
    )
    assert {r.doc_id for r in kept_s.collect()} == want_kept
    assert {(r.id_a, r.id_b) for r in pairs_s.collect()} == want_pairs
    # refusals: wrong scheme, wrong signature length
    with _pt.raises(ValueError, match="scheme"):
        dedup.batch_near_dedup(
            corpus, num_hashes=16, sigs=store, sigs_scheme="1"
        )
    with _pt.raises(ValueError, match="signature length"):
        dedup.batch_near_dedup(corpus, num_hashes=32, sigs=store)


def test_sigs_scheme_none_refuses_every_store_entry_point(spark):
    """r12 ask #8: ``sigs_scheme=None`` is what
    ``props.get("minhash.scheme")`` yields on a property-less persisted
    store — before the IN_PROCESS sentinel it silently degraded to the
    shape probe (which scheme-1 signatures pass while banding to zero
    candidates). Now every store-consuming entry point REFUSES None;
    the sentinel (the default) and the engine scheme string both pass."""
    import pytest as _pt

    docs = _docs(spark).where("doc_id < 40").select("doc_id", "text")
    store = dedup.minhash_signature(docs, num_hashes=16)
    for call in (
        lambda **kw: dedup.corpus_signatures(
            docs, num_hashes=16, sigs=store, **kw
        ),
        lambda **kw: dedup.batch_near_dedup(
            docs, num_hashes=16, num_bands=4, sigs=store, **kw
        ),
        lambda **kw: dedup.incremental_near_dedup(
            docs.where("doc_id >= 20"),
            docs.where("doc_id < 20"),
            corpus_sigs=dedup.minhash_signature(
                docs.where("doc_id < 20"), num_hashes=16
            ),
            num_hashes=16,
            num_bands=4,
            **kw,
        ),
    ):
        with _pt.raises(ValueError, match="NO recorded"):
            call(sigs_scheme=None)
        # the engine scheme string (a store's recorded property) passes
        call(sigs_scheme=dedup._MINHASH_SCHEME)
        # the in-process sentinel (the default) passes
        call(sigs_scheme=dedup.SIGS_SCHEME_IN_PROCESS)


def test_minhash_property_per_hash_agreement_tracks_jaccard(spark):
    """The MinHash contract itself: P[sig_i(A) == sig_i(B)] = J(A, B).
    Regression for the F.transform two-arg-lambda trap, which silently
    collapsed all num_hashes functions into ONE position-dependent hash
    (agreement then reads ~0 even at J = 0.9, and LSH banding loses its
    S-curve)."""
    a = spark.createDataFrame(
        [(1, "stream seed doc six with plenty of body words for "
             "stable shingles number six")],
        ["doc_id", "text"],
    )
    b = spark.createDataFrame(
        [(2, "stream seed doc six with plenty of body words for "
             "stable shingles number six edited")],
        ["doc_id", "text"],
    )
    sa = dedup.minhash_signature(a, num_hashes=64).collect()[0].signature
    sb = dedup.minhash_signature(b, num_hashes=64).collect()[0].signature
    # distinct hash functions: the signature is not one value repeated
    assert len(set(sa)) > 32
    agree = sum(x == y for x, y in zip(sa, sb)) / 64
    # true jaccard = 10/11 ~ 0.909; 64 Bernoulli trials: [0.7, 1.0]
    assert 0.7 <= agree <= 1.0
    # and banding now finds the pair
    sigs = dedup.minhash_signature(a.unionByName(b), num_hashes=32)
    pairs = dedup.lsh_candidate_pairs(sigs, num_bands=8, sig_len=32)
    assert {(r.id_a, r.id_b) for r in pairs.collect()} == {(1, 2)}


def test_perceptual_fingerprint_near_dup_detection(spark):
    """The codec-free media near-dup family: a payload with a few bytes
    changed in ONE block lands within a small Hamming radius of the
    original (byte-exact dedup sees them as distinct), unrelated
    payloads stay far, and the banded pair generation surfaces exactly
    the planted pair — which connected_components then clusters."""
    import random

    rng = random.Random(7)
    base = bytes(rng.randrange(256) for _ in range(4096))
    # localized edit: 20 bytes inside one 64-byte block
    edited = base[:1000] + bytes(rng.randrange(256) for _ in range(20)) + base[1020:]
    other = bytes(rng.randrange(256) for _ in range(4096))
    media = spark.createDataFrame(
        [(1, base), (2, edited), (3, other)],
        "media_id long, payload binary",
    )
    fps = {
        r.media_id: r.fingerprint
        for r in multimodal.perceptual_fingerprint(media).collect()
    }
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")
    assert ham(fps[1], fps[2]) <= 7          # planted near-dup: close
    assert ham(fps[1], fps[3]) > 7           # unrelated: far
    assert base != edited                    # exact dedup would miss it

    pairs = multimodal.media_near_dup_pairs(media, max_hamming=7)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(1, 2)}

    comps = dedup.connected_components(pairs.select("id_a", "id_b"))
    cl = {r[0]: r[1] for r in comps.collect()}
    assert cl[1] == cl[2]


def test_media_near_dup_hot_bucket_guard(spark):
    """All-zero payloads collapse to one fingerprint -> one degenerate
    band bucket; the guard drops it with surfaced stats instead of
    going quadratic, and the audit frame reports the drop."""
    zeros = [(i, b"\x00" * 512) for i in range(30)]
    media = spark.createDataFrame(
        zeros + [(100, bytes(range(256)) * 2)],
        "media_id long, payload binary",
    )
    pairs, drops = multimodal.media_near_dup_pairs(
        media, max_bucket_size=10, return_drop_stats=True
    )
    assert pairs.count() == 0                # everything hot was dropped
    d = drops.collect()[0]
    assert d.dropped_buckets >= 8            # all 8 bands of the zero fp
    with pytest.raises(ValueError, match="max_hamming"):
        multimodal.media_near_dup_pairs(media, max_hamming=9)
