"""Plan-quality gates: the properties that make queries survive 100x
scale-up. These are assertions, not aspirations — a regression that drops
filter pushdown or flips a broadcast join to shuffle fails CI."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_iceberg_schema_evolution_spark.operators.relational import asof_join
from spark_iceberg_schema_evolution_spark.plans import explain
from spark_iceberg_schema_evolution_spark.queries import REGISTRY, load, load_events
from tests.conftest import SF_SMOKE, _jobs_in


def test_filter_pushdown_reaches_parquet(spark):
    df = REGISTRY["q04_filter_case"].spark_fn(spark, SF_SMOKE)
    pushed = " ".join(explain.pushed_filters(df))
    assert "l_returnflag" in pushed  # IN-list pushed to the scan


def test_column_pruning(spark):
    df = REGISTRY["q04_filter_case"].spark_fn(spark, SF_SMOKE)
    schemas = explain.read_schemas(df)
    assert schemas, "no parquet ReadSchema found"
    # 11-column lineitem scan must read only the 7 referenced columns
    assert all(len(s.split(",")) <= 7 for s in schemas)
    assert "l_partkey" not in schemas[0]


def test_broadcast_join_for_small_dim(spark):
    df = REGISTRY["q06_join_broadcast"].spark_fn(spark, SF_SMOKE)
    assert explain.has_broadcast_join(df)


def test_partial_aggregation(spark):
    df = REGISTRY["q12_tpch_q1"].spark_fn(spark, SF_SMOKE)
    assert explain.has_partial_aggregation(df)


def test_asof_join_single_shuffle(spark):
    """The union+window as-of join must cost exactly ONE hash exchange
    (the window shuffle) — no join shuffles, no pair blowup."""
    ev = load_events(spark, SF_SMOKE)
    p = ev.where("event_type = 'purchase'").select("event_id", "user_id", "ts")
    v = ev.where("event_type = 'view'").select(
        "user_id", "ts", F.col("event_id").alias("view_event_id")
    )
    out = asof_join(
        p, v, on=["user_id"], left_ts="ts", right_ts="ts",
        right_cols=["view_event_id"],
    )
    assert explain.count_exchanges(out) == 1


def test_exact_topk_uses_window_group_limit(spark):
    """Top-k per group must not fully sort each partition's rows: Spark
    3.5+ plans WindowGroupLimit (rank-limit pushdown)."""
    df = REGISTRY["q18_window_topk"].spark_fn(spark, SF_SMOKE)
    assert "WindowGroupLimit" in explain.physical_plan(df)


def test_global_topk_is_take_ordered(spark):
    """ORDER BY + LIMIT must plan TakeOrderedAndProject, not a global
    sort."""
    df = REGISTRY["q22_topk_revenue"].spark_fn(spark, SF_SMOKE)
    assert "TakeOrderedAndProject" in explain.physical_plan(df)


def test_bucketed_join_skips_shuffle(spark, tmp_path):
    """Bucketing: two tables bucketed by the join key on the same bucket
    count join WITHOUT any exchange — the co-located-join technique for
    repeated joins at 100 TB (write once, join shuffle-free forever)."""
    import shutil

    c = load(spark, SF_SMOKE, "customer")
    o = load(spark, SF_SMOKE, "orders")
    spark.sql("CREATE DATABASE IF NOT EXISTS bt")
    spark.sql("DROP TABLE IF EXISTS bt.cust_b")
    spark.sql("DROP TABLE IF EXISTS bt.ord_b")
    # the warehouse outlives the in-memory catalog: drop stale locations
    # from prior sessions or saveAsTable refuses the path
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("cust_b", "ord_b"):
        shutil.rmtree(f"{warehouse}/bt.db/{t}", ignore_errors=True)
    (
        c.write.bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .mode("overwrite")
        .saveAsTable("bt.cust_b")
    )
    (
        o.withColumnRenamed("o_custkey", "c_custkey")
        .write.bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .mode("overwrite")
        .saveAsTable("bt.ord_b")
    )
    joined = spark.table("bt.cust_b").join(spark.table("bt.ord_b"), "c_custkey")
    # disable broadcast so the bucketed path (not a broadcast) is exercised
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined2 = spark.table("bt.cust_b").join(
            spark.table("bt.ord_b"), "c_custkey"
        )
        assert explain.count_exchanges(joined2) == 0
        assert joined2.count() == o.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    _ = joined


def test_agg_join_shuffle_budget(spark):
    """q05 (join + agg): at most 3 hash exchanges (two join sides + final
    agg on the small grouped set) in the static plan."""
    df = REGISTRY["q05_join_inner_agg"].spark_fn(spark, SF_SMOKE)
    assert explain.count_exchanges(df) <= 3


def test_corpus_signatures_store_backed_signs_only_missing(spark):
    """VERDICT r11 #3 plan gate: with a materialized signature store
    given, the normalize->shingle->hash MinHash pipeline appears in
    the plan exactly ONCE — over the store-MISSING anti-join side —
    and the store side contributes a plain (id, signature) scan
    pruned by a semi-join. A second shingle pipeline here means the
    store is being ignored and the corpus re-signed (the ~56%-of-
    wall-clock stage the store exists to skip, PROBES_r11)."""
    from spark_iceberg_schema_evolution_spark.operators import dedup

    d = load(spark, SF_SMOKE, "documents").where("doc_id < 60").select(
        "doc_id", "text"
    )
    # a real store is a parquet scan, not a live minhash plan
    store = dedup.minhash_signature(
        d.where("doc_id % 2 = 0"), num_hashes=8
    ).localCheckpoint(eager=True)
    out = dedup.corpus_signatures(d, num_hashes=8, sigs=store)
    plan = explain.physical_plan(out)
    assert plan.count("array_distinct(") == 1, plan.count(
        "array_distinct("
    )
    lowered = plan.lower()
    assert "leftanti" in lowered.replace(" ", "").replace("_", "")
    assert "leftsemi" in lowered.replace(" ", "").replace("_", "")
    # both membership joins BROADCAST their column-pruned id frames
    # (8 bytes/row): Catalyst sizes the build side by scan bytes and
    # picks sort-merge otherwise — the r12 probe measured those SMJs
    # shuffling 1M signature arrays + doc text, erasing the store's
    # saved signing time (0.96x instead of a win)
    assert plan.count("BroadcastHashJoin") >= 2, plan.count(
        "BroadcastHashJoin"
    )


def test_minhash_and_bands_match_lambda_reference(spark):
    """Persisted signature stores (``minhash.scheme``) hold these
    values, so the one-expression signature and the array-cast band
    keys must equal the per-element higher-order-function forms they
    replace — built here as the reference — on real text, empty text
    and NULL text, at two (num_hashes, seed) settings."""
    from spark_iceberg_schema_evolution_spark.operators import dedup

    docs = (
        load(spark, SF_SMOKE, "documents")
        .where("doc_id < 40")
        .select("doc_id", "text")
        .unionByName(
            spark.createDataFrame(
                [(-1, ""), (-2, None), (-3, "one two")],
                "doc_id long, text string",
            )
        )
    )
    keyed = docs.select(
        "doc_id",
        F.transform(
            dedup.shingles(dedup.normalized_words("text"), 5),
            lambda s: F.xxhash64(s),
        ).alias("__shkeys"),
    )

    def min_hash(seed):
        return F.array_min(
            F.transform("__shkeys", lambda h: F.xxhash64(h, F.lit(seed)))
        )

    def by_id(df, col):
        return {r["doc_id"]: r[col] for r in df.collect()}

    for num_hashes, seed, num_bands in ((32, 42, 8), (8, 7, 4)):
        ref = keyed.select(
            "doc_id",
            F.array(
                *[min_hash(seed + i) for i in range(num_hashes)]
            ).alias("signature"),
        )
        got = dedup.minhash_signature(docs, num_hashes=num_hashes, seed=seed)
        assert got.schema == ref.schema
        assert by_id(got, "signature") == by_id(ref, "signature")

        rows = num_hashes // num_bands
        ref_bands = ref.select(
            "doc_id",
            F.posexplode(
                F.array(
                    *[
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                F.transform(
                                    F.slice("signature", b * rows + 1, rows),
                                    lambda x: x.cast("string"),
                                ),
                            )
                        )
                        for b in range(num_bands)
                    ]
                )
            ).alias("band_idx", "band_hash"),
        )
        got_bands = dedup._band_hashes(ref, "doc_id", num_bands, rows)
        assert got_bands.schema == ref_bands.schema
        assert sorted(map(tuple, got_bands.collect())) == sorted(
            map(tuple, ref_bands.collect())
        )


def test_incremental_skew_guard_matches_aggregate_reference(spark):
    """The window-count skew guard of ``incremental_near_dedup`` keeps
    the corpus band buckets the aggregate + semi-join form kept — built
    here as the reference — so ``kept`` and ``dropped`` are the same.
    The corpus holds five copies of one text (buckets of 5, over the
    cap of 3: dropped) and three of another (buckets of 3: kept)."""
    from spark_iceberg_schema_evolution_spark.operators import dedup

    hot = "the hot text that five crawled copies of one page all share"
    warm = "the warm text that exactly three copies of a page share today"
    corpus = spark.createDataFrame(
        [(i, hot) for i in range(5)]
        + [(10 + i, warm) for i in range(3)]
        + [(20 + i, f"a unique corpus page number {i} about topic {i}")
           for i in range(6)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(100, hot + " again"), (101, warm + " again"),
         (102, "a unique corpus page number 3 about topic 3 again"),
         (103, "nothing like anything the corpus holds at all")],
        "doc_id long, text string",
    )
    cap, threshold = 3, 0.6
    kept, dropped = dedup.incremental_near_dedup(
        new, corpus, corpus_sigs=dedup.minhash_signature(corpus),
        threshold=threshold, max_bucket_size=cap,
    )

    nb = dedup._band_hashes(dedup.minhash_signature(new), "doc_id", 8, 4)
    cb = dedup._band_hashes(dedup.minhash_signature(corpus), "doc_id", 8, 4)
    buckets = ["band_idx", "band_hash"]
    small = (
        cb.groupBy(*buckets)
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") <= cap)
    )
    assert small.count() < cb.select(*buckets).distinct().count()
    guarded = cb.join(small, buckets, "left_semi")
    cand = {
        (r[0], r[1])
        for r in nb.alias("n")
        .join(guarded.alias("c"), buckets)
        .select("n.doc_id", "c.doc_id")
        .collect()
    }
    sh = {
        r.doc_id: set(r.sh)
        for r in new.unionByName(corpus)
        .select(
            "doc_id",
            dedup.shingles(dedup.normalized_words("text")).alias("sh"),
        )
        .collect()
    }

    def jaccard(a, b):
        return len(sh[a] & sh[b]) / len(sh[a] | sh[b])

    want_dropped = {
        (a, b) for a, b in cand if jaccard(a, b) >= threshold
    }
    got = {
        (r.doc_id, r.matched_corpus_id): r.jaccard for r in dropped.collect()
    }
    assert set(got) == want_dropped
    for (a, b), j in got.items():
        assert j == pytest.approx(jaccard(a, b))
    assert {r.doc_id for r in kept.collect()} == (
        {100, 101, 102, 103} - {a for a, _ in want_dropped}
    )
    # the guard mattered: the hot copies were never candidates, the
    # warm ones (at the cap) were
    assert {a for a, _ in want_dropped} == {101, 102}


def test_jaccard_candidate_path_no_shingle_self_join(spark):
    """With LSH candidates supplied, exact-Jaccard verification must join
    the (small) pair list to per-doc shingle SETS — never build the
    quadratic all-co-shingled-pairs relation. Gates: no join keyed on an
    exploded SHINGLE hash; the only Generate node allowed is the 2-row
    pair-member explode (array(id_a, id_b) — the r11 one-shingle-pass
    reassembly), never a shingle explode (which would fan out ~60x per
    doc); the shingle pipeline (xxhash64 over the shingle transform)
    appears exactly ONCE in the plan (the pre-r11 two-join form computed
    it twice, once per join side — most of the verify stage's 62%
    pipeline share in the r10 probe); joins key on ids only."""
    from spark_iceberg_schema_evolution_spark.operators import dedup

    d = load(spark, SF_SMOKE, "documents").where("doc_id < 50")
    pairs = d.alias("a").crossJoin(d.alias("b")).select(
        F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
    ).where("id_a < id_b").limit(20)
    out = dedup.jaccard_pairs(d, pairs=pairs)
    plan = explain.physical_plan(out)
    import re
    gens = re.findall(r"Generate explode\(([^)]*)\)", plan)
    assert all("id_a" in g and "id_b" in g for g in gens), gens
    # the normalize->shingle->hash pipeline is computed exactly once —
    # identified by its tokenizer head, which since r13 is bound once
    # per row via dedup.bind_once (transform(array(split(...)), ...))
    assert plan.count("transform(array(split(lower(trim(") == 1, (
        plan.count("transform(array(split(lower(trim(")
    )
    # joins key on the doc ids / pair-member id, never a shingle hash
    join_keys = re.findall(r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)\w* \[([^\]]*)\]", plan)
    assert join_keys, "expected equi-joins in the candidate path"
    assert all(
        "id_a" in k or "id_b" in k or "doc_id" in k or "__m" in k
        for k in join_keys
    ), join_keys


def test_ivf_assignment_zero_shuffle(spark):
    """IVF cell assignment must be a pure map: corpus -> __cell via a
    literal-centroid argmin, with no exchange, no window, no crossJoin in
    the assignment stage."""
    from spark_iceberg_schema_evolution_spark.operators.similarity import (
        as_double, ivf_topk,  # noqa: F401
    )
    from pyspark.sql import functions as FF

    e = load(spark, SF_SMOKE, "embeddings").limit(200)
    qdf = e.where("vec_id < 3").select(
        FF.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_topk(e, qdf, k=5, num_centroids=4, n_probe=2)
    plan = explain.physical_plan(out)
    # the corpus-side assignment stage: everything below the candidate join
    # must be map-only -> the whole plan carries exactly ONE hash exchange
    # (the final per-query top-k window); the join itself broadcasts.
    assert explain.count_exchanges(out) <= 1, plan
    assert "Window" in plan  # the one legitimate shuffle consumer


def test_chunking_is_map_only(spark):
    """Chunking must be explode-in-scan: zero exchanges."""
    from spark_iceberg_schema_evolution_spark.operators.text import chunk_text

    d = load(spark, SF_SMOKE, "documents")
    out = chunk_text(d, chunk_tokens=32, overlap=8)
    assert explain.count_exchanges(out) == 0


def test_packing_single_shuffle_per_shard(spark):
    """Sharded sequence packing costs exactly ONE hash exchange (the
    per-shard window)."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        pack_sequences,
        token_count,
    )

    d = load(spark, SF_SMOKE, "documents").select(
        "doc_id", "lang", token_count().alias("n_tokens")
    )
    out = pack_sequences(d, capacity=512, shard_col="lang")
    assert explain.count_exchanges(out) == 1


def test_hash_split_is_map_only(spark):
    """hash_split must add zero exchanges — a pure projection."""
    from spark_iceberg_schema_evolution_spark.operators.text import hash_split

    df = spark.createDataFrame([(i, "t") for i in range(10)], ["doc_id", "text"])
    out = hash_split(df)
    assert explain.count_exchanges(out) == 0


def test_bigram_counts_single_shuffle(spark):
    """Bigram counting: adjacent pairs in codegen + exactly one aggregate
    exchange (plus AQE nodes); no UDF, no join."""
    from spark_iceberg_schema_evolution_spark.operators.text import bigram_counts

    df = spark.createDataFrame([("a b c",)], ["text"])
    out = bigram_counts(df)
    plan = explain.physical_plan(out)
    assert explain.count_exchanges(out) == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_read_where_scans_fewer_input_files(spark, tmp_path):
    """File-level skipping must shrink the PHYSICAL scan's input-file
    set, not just the manifest metric."""
    from spark_iceberg_schema_evolution_spark.tables import LakehouseCatalog

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    for lo in (0, 1000, 2000):
        cat.write_evolving(
            spark.createDataFrame(
                [(i,) for i in range(lo, lo + 1000)], ["id"]
            ),
            "db", "files",
        )
    t = cat.table("db", "files")
    full = set(t.read().inputFiles())
    pruned = set(t.read_where([("id", "<", 500)]).inputFiles())
    assert pruned and pruned < full


def test_weighted_resample_is_map_only(spark):
    """Domain reweighting must not shuffle: threshold decision and copy
    explode are per-row codegen over the scan — zero exchanges, no UDF."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        weighted_resample,
    )

    d = load(spark, SF_SMOKE, "documents").select("doc_id", "lang")
    out = weighted_resample(
        d, {"en": 2.5, "de": 0.5}, domain_col="lang", seed="p"
    )
    plan = explain.physical_plan(out)
    assert explain.count_exchanges(out) == 0, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pos_delete_read_is_shuffle_free(spark, tmp_path):
    """A scan under position deletes must stay one shuffle-free pass:
    the (file, pos) anti-join broadcasts the small delete file."""
    from spark_iceberg_schema_evolution_spark.tables import LakehouseCatalog

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    cat.write_evolving(
        spark.createDataFrame([(i, i) for i in range(1000)], ["id", "v"]),
        "db", "pp",
    )
    t = cat.table("db", "pp")
    t.delete_where("v % 97 = 0", mode="mor")
    out = t.read()
    plan = explain.physical_plan(out)
    assert explain.count_exchanges(out) == 0, plan
    assert explain.has_broadcast_join(out), plan


def test_deterministic_sample_is_topk_not_sort(spark):
    """Exactly-n sampling must compile to TakeOrderedAndProject (size-n
    heap per partition), never a global Sort — the difference between
    O(n) memory and a 100 TB sort."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        deterministic_sample,
    )

    d = load(spark, SF_SMOKE, "documents").select("doc_id", "n_chars")
    out = deterministic_sample(d, n=100, seed="p")
    plan = explain.physical_plan(out)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", ""), plan


def test_token_budget_batches_single_exchange(spark):
    """Budget binning must reuse the shard exchange: one hash partition
    on shard, then ALL windows (shard_pos, cumsum, batch_pos) run on
    that same partitioning — a second shuffle would double the corpus
    movement for zero information."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        token_budget_batches,
    )

    d = load(spark, SF_SMOKE, "documents").select("doc_id", "n_chars")
    out = token_budget_batches(
        d, budget=20000, tokens_col="n_chars", n_shards=4, seed="p"
    )
    assert explain.count_exchanges(out) == 1, explain.physical_plan(out)


def test_dedup_paragraphs_payload_shuffles_once(spark):
    """Paragraph dedup must keep paragraph TEXT out of the dedup
    shuffles: the winner-pick window moves only (id, pos, md5) keys and
    the corpus pays exactly one payload shuffle (the id join against
    its drop set). Gate: bounded exchange count, no Python eval, and no
    exploded-text exchange (the text column appears in at most one
    exchange's input)."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        dedup_paragraphs,
    )

    d = load(spark, SF_SMOKE, "documents").select("doc_id", "text")
    out = dedup_paragraphs(d)
    plan = explain.physical_plan(out)
    assert explain.count_exchanges(out) <= 3, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quantile_band_filter_corpus_is_map_only(spark):
    """The band filter's only exchange is the percentile digest (one
    tiny row); thresholds come back as a broadcast nested-loop join, so
    the corpus itself never repartitions."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        quantile_band_filter,
    )

    d = load(spark, SF_SMOKE, "documents").select("doc_id", "n_chars")
    out = quantile_band_filter(d, "n_chars", 0.25, 0.75)
    plan = explain.physical_plan(out)
    # no hash/range repartition anywhere; the single Exchange is the
    # SinglePartition gather of partial percentile digests
    assert explain.count_exchanges(out) == 0, plan
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert "partial_percentile" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_classifier_score_is_map_only(spark):
    """The frozen linear head must be a zero-shuffle, zero-Python map:
    literal weights, codegen sigmoid — the whole point of the
    plan-literal design."""
    from spark_iceberg_schema_evolution_spark.operators.similarity import (
        linear_classifier_score,
    )

    e = load(spark, SF_SMOKE, "embeddings")
    out = linear_classifier_score(e, [0.1] * 64, bias=0.5)
    plan = explain.physical_plan(out)
    assert explain.count_exchanges(out) == 0, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bm25_corpus_never_repartitions(spark):
    """BM25's only exchange is the one-row stats fold; the corpus-sized
    side joins it back via broadcast and is never hash-repartitioned."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        search_terms_bm25,
    )

    d = load(spark, SF_SMOKE, "documents").select("doc_id", "text")
    out = search_terms_bm25(d, ["merge", "window"])
    plan = explain.physical_plan(out)
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "BatchEvalPython" not in plan


def test_span_duplication_bounded_shuffles_no_python(spark):
    from spark_iceberg_schema_evolution_spark.operators.dedup import (
        span_duplication_profile,
    )

    d = load(spark, SF_SMOKE, "documents").select("doc_id", "text")
    out = span_duplication_profile(d)
    plan = explain.physical_plan(out)
    assert explain.count_exchanges(out) <= 3, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ohlc_bars_single_shuffle(spark):
    """OHLC bars: the window pass and the bucket aggregate share the
    (keys, bucket) partitioning, so the whole operator costs exactly
    ONE hash exchange — no self-join back to the bucket."""
    from spark_iceberg_schema_evolution_spark.operators.relational import (
        ohlc_bars,
    )

    e = load_events(spark, SF_SMOKE)
    out = ohlc_bars(
        e, ["user_id"], "ts", "value", bucket="day", tiebreak="event_id"
    )
    assert explain.count_exchanges(out) == 1
    plan = explain.physical_plan(out)
    assert "CartesianProduct" not in plan


def test_media_near_dup_banded_no_cartesian(spark):
    """The perceptual-fingerprint pair generation must be band-keyed
    equi-joins — no CartesianProduct, no nested-loop self-join, and
    the SimHash fold is the only Python stage."""
    from spark_iceberg_schema_evolution_spark.operators import multimodal
    from spark_iceberg_schema_evolution_spark.queries import load

    media = multimodal.documents_as_media(
        load(spark, SF_SMOKE, "documents").where("doc_id < 100")
    )
    pairs = multimodal.media_near_dup_pairs(media)
    plan = explain.physical_plan(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cusum_and_autocorr_single_shuffle(spark):
    """CUSUM changepoint and exact-moment autocorrelation: the keyed
    window and the per-key aggregate share the key partitioning, so
    each whole operator costs exactly ONE hash exchange."""
    from spark_iceberg_schema_evolution_spark.operators.stats import (
        autocorr_lag,
        cusum_changepoint,
    )

    e = load_events(spark, SF_SMOKE).select(
        "user_id", "ts", "event_id", "value"
    )
    cp = cusum_changepoint(e, ["user_id"], "ts", "value", "event_id")
    assert explain.count_exchanges(cp) == 1, explain.physical_plan(cp)
    ac = autocorr_lag(e, ["user_id"], "ts", "value", "event_id")
    assert explain.count_exchanges(ac) == 1, explain.physical_plan(ac)


def test_pmi_broadcast_legs_no_cartesian(spark):
    """PMI collocations: both unigram legs and the 1-row total join as
    broadcasts — no sort-merge join of vocab against vocab, no
    CartesianProduct, no Python stages."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        pmi_collocations,
    )

    d = load(spark, SF_SMOKE, "documents")
    out = pmi_collocations(d, min_count=2, top_k=50)
    plan = explain.physical_plan(out)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_tv_divergence_one_corpus_aggregate(spark):
    """TV divergence folds both splits in one conditional-sum aggregate:
    the token-scale work is a single exchange; the totals attach as a
    broadcast, never a shuffle join of two vocabularies."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        corpus_divergence,
    )
    import pyspark.sql.functions as F

    d = load(spark, SF_SMOKE, "documents")
    out = corpus_divergence(d, F.col("doc_id") % 2)
    assert explain.count_exchanges(out) <= 2, explain.physical_plan(out)
    assert "SortMergeJoin" not in explain.physical_plan(out)


def test_interval_coverage_single_shuffle(spark):
    """Boundary-sweep interval coverage: the union of +1/-1 boundary
    events, the keyed running-sum window, and the per-key aggregate all
    share one key partitioning — the whole operator is ONE exchange."""
    from spark_iceberg_schema_evolution_spark.operators.relational import (
        interval_coverage,
    )
    import pyspark.sql.functions as F

    e = load_events(spark, SF_SMOKE).select(
        "user_id",
        F.unix_micros("ts").alias("s_us"),
        (F.unix_micros("ts") + 1000000).alias("e_us"),
    )
    out = interval_coverage(e, ["user_id"], "s_us", "e_us")
    assert explain.count_exchanges(out) == 1, explain.physical_plan(out)


def test_pca_projection_is_map_only(spark):
    """PCA projection must be a zero-exchange literal-basis map with no
    Python in the plan — the sq8/pq encode discipline."""
    from spark_iceberg_schema_evolution_spark.operators.similarity import (
        pca_fit, pca_project,
    )

    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    model = pca_fit(e, "embedding", k=4, max_fit_rows=100)
    out = pca_project(e, model, "embedding", "pca")
    plan = explain.physical_plan(out)
    assert explain.count_exchanges(out) == 0
    assert "Python" not in plan


def test_bpe_word_count_single_shuffle_and_no_python(spark):
    """The ONLY corpus-sized BPE stage is one hash aggregate; the merge
    loop's pair count is one more aggregate over the vocab — all JVM."""
    from spark_iceberg_schema_evolution_spark.operators.bpe import (
        word_counts,
    )

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    wc = word_counts(d, "text")
    plan = explain.physical_plan(wc)
    assert explain.count_exchanges(wc) == 1
    assert "Python" not in plan
    assert explain.has_partial_aggregation(wc)


def test_bpe_encode_python_only_on_distinct_words(spark):
    """bpe_encode's pandas UDF must sit AFTER the distinct-word
    dedup — Python cost O(vocab), not O(corpus): in the plan tree the
    (single) Python eval appears exactly once, downstream of an
    aggregate/distinct, not over the exploded corpus."""
    from spark_iceberg_schema_evolution_spark.operators.bpe import (
        BpeMerge, bpe_encode,
    )

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    out = bpe_encode(d, [BpeMerge(0, "t", "h", 5)], "text", "doc_id")
    plan = explain.physical_plan(out)
    assert plan.count("ArrowEvalPython") == 1
    # the Python eval's subtree contains the distinct aggregate
    segment = plan[plan.index("ArrowEvalPython"):]
    assert "HashAggregate" in segment


def test_pagerank_iteration_shuffle_budget(spark):
    """One power-iteration step = the rank x shares join + the dst
    re-aggregate; with the node/share frames checkpointed the
    iteration's plan must stay within 4 exchanges (join both sides +
    agg + final join), independent of iteration count (lineage is
    truncated per step)."""
    from spark_iceberg_schema_evolution_spark.operators.graph import (
        pagerank,
    )

    edges = spark.createDataFrame(
        [(i, (i * 7 + 1) % 50) for i in range(200)], "src long, dst long"
    )
    out = pagerank(edges, n_iter=3)
    # after 3 checkpointed iterations the FINAL frame is a checkpoint
    # scan — constant-size plan, no accumulated join tower
    assert explain.count_exchanges(out) == 0
    assert "Scan ExistingRDD" in explain.physical_plan(out)


def test_triangle_count_no_cartesian(spark):
    from spark_iceberg_schema_evolution_spark.operators.graph import (
        triangle_count,
    )

    edges = spark.createDataFrame(
        [(i, (i * 3 + 1) % 30) for i in range(100)], "src long, dst long"
    )
    out = triangle_count(edges)
    plan = explain.physical_plan(out)
    assert "Cartesian" not in plan
    assert "Python" not in plan


def test_connected_components_plan_is_checkpoint_scan(spark):
    """After the converged fixpoint the returned frame must be a
    checkpoint scan (constant-size plan, no accumulated join tower) —
    same lineage-truncation gate as pagerank."""
    from spark_iceberg_schema_evolution_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "src long, dst long"
    )
    out = connected_components(edges)
    assert explain.count_exchanges(out) == 0
    assert "Scan ExistingRDD" in explain.physical_plan(out)


def test_shortest_paths_plan_no_cartesian_no_python(spark):
    """BFS frontier expansion is keyed joins only — no cartesian, no
    Python eval, and the returned frame is checkpoint-backed (union of
    checkpointed rounds), so plan size is O(rounds), not O(rounds^2)."""
    from spark_iceberg_schema_evolution_spark.operators.graph import (
        shortest_paths,
    )

    edges = spark.createDataFrame(
        [(i, (i * 3 + 1) % 20) for i in range(60)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,), (5,)], "node long")
    out = shortest_paths(edges, seeds, max_hops=6)
    plan = explain.physical_plan(out)
    assert "Cartesian" not in plan
    assert "Python" not in plan
    assert "Scan ExistingRDD" in plan


def test_kmeans_assign_is_map_only(spark):
    """kmeans_assign is the encode half of fit/apply: literal-centroid
    argmin inside codegen — zero exchanges, no join, no Python eval."""
    from spark_iceberg_schema_evolution_spark.operators.similarity import (
        kmeans_assign,
    )

    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    model = {
        "centroids": [(0, [0.0] * 32), (1, [1.0] * 32)],
        "dim": 32,
        "k": 2,
    }
    out = kmeans_assign(e, model, "embedding", dist_col="d2")
    plan = explain.physical_plan(out)
    assert explain.count_exchanges(out) == 0
    assert "Python" not in plan
    assert "Join" not in plan


def test_match_sequences_single_shuffle_no_python(spark):
    """The CEP fold is the funnel skeleton: with the hot-user guard
    disabled, ONE exchange (groupBy user) feeds the aggregate fold —
    no Python eval, no join. With the default guard, exactly one more
    keyed aggregate (the per-user count) plus a BROADCAST anti-join —
    never a shuffled join of the event stream."""
    from spark_iceberg_schema_evolution_spark.operators.relational import (
        match_sequences,
    )

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    out = match_sequences(ev, ["view", "click"], max_events_per_user=None)
    plan = explain.physical_plan(out)
    assert explain.count_exchanges(out) == 1
    assert "Python" not in plan
    assert "Join" not in plan

    guarded = match_sequences(ev, ["view", "click"])
    gplan = explain.physical_plan(guarded)
    assert explain.count_exchanges(guarded) == 2
    assert "Python" not in gplan
    assert "BroadcastHashJoin" in gplan and "LeftAnti" in gplan
    assert "SortMergeJoin" not in gplan


def test_isotonic_apply_is_map_only(spark):
    """isotonic_apply is a literal-vector lookup: zero exchanges, no
    join, no Python."""
    from spark_iceberg_schema_evolution_spark.operators.stats import (
        isotonic_apply,
    )

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").withColumn(
        "score", (F.col("n_chars") % 100) / 100.0
    )
    model = {"n_bins": 10, "values": [i / 10 for i in range(10)]}
    out = isotonic_apply(d, model, "score")
    plan = explain.physical_plan(out)
    assert explain.count_exchanges(out) == 0
    assert "Python" not in plan and "Join" not in plan


def test_hashed_features_two_shuffles_no_python(spark):
    """The hashing-trick vectorizer pays exactly its documented two
    keyed shuffles (slot agg + vector assembly) plus the dense-output
    join back to the id spine; everything stays JVM-side."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        hashed_features,
    )

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    out = hashed_features(d, dim=32)
    plan = explain.physical_plan(out)
    assert "Python" not in plan
    assert "Cartesian" not in plan
    # two aggregate shuffles + the spine join's exchanges; bound it
    assert explain.count_exchanges(out) <= 4


def test_compression_stats_is_map_only_arrow(spark):
    """compression_stats: one ArrowEvalPython (the zlib UDF), zero
    exchanges — the honest vectorized slow path, map-only."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        compression_stats,
    )

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    out = compression_stats(d)
    plan = explain.physical_plan(out)
    assert explain.count_exchanges(out) == 0
    assert plan.count("ArrowEvalPython") == 1


def test_pps_sample_shards_bound_the_sort(spark):
    """The systematic-PPS walk decomposes: the corpus-sized window
    partitions on the md5 key-range shard (never one global reducer),
    the per-shard offsets come back via a broadcast join of the tiny
    totals frame, and nothing drops to Python."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        pps_systematic_sample,
    )

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    out = pps_systematic_sample(d, 50, "n_chars", n_shards=8)
    plan = explain.physical_plan(out)
    assert "__shard" in plan
    # the offsets join strategy is pinned: broadcast build of the
    # n_shards-row totals frame, never a shuffled SMJ/SHJ of the corpus
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "Python" not in plan


def test_domain_budget_shards_bound_the_sort(spark):
    """The round-10 hot-domain decomposition: the corpus-sized window
    partitions on (domain, quality-quantile __shard) — a hot domain
    never lands on one reducer — with TWO broadcast builds (the
    per-domain boundaries frame, the per-(domain, shard) offsets
    frame); no SMJ/SHJ of the corpus, nothing drops to Python."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        domain_budget_select,
    )

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "source", "n_chars"
    ).withColumn("q", F.col("n_chars").cast("double"))
    out = domain_budget_select(d, 3000, "n_chars", "q", n_shards=8)
    plan = explain.physical_plan(out)
    assert "__shard" in plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "Python" not in plan


def test_dsir_scoring_join_broadcasts_the_model(spark):
    """q190 plan gate: the 256-row log-ratio model table must BROADCAST
    onto the exploded doc grams (model is O(256) rows at any corpus
    size) — a sort-merge join there shuffles the corpus-sized gram
    stream by bucket, the exact shape the operator's 100 TB claim
    forbids. Also: the corpus-sized path may shuffle only for the two
    model aggregates and the doc-keyed score reduce."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        dsir_importance,
    )

    d = load(spark, SF_SMOKE, "documents").select("doc_id", "text")
    out = dsir_importance(d, d.where("doc_id % 5 = 0"))
    plan = explain.physical_plan(out)
    assert "BroadcastHashJoin" in plan
    # the forbidden shape: a sort-merge join keyed on the BUCKET would
    # shuffle the corpus-sized gram stream to meet a 256-row table. The
    # id-keyed result join may stay sort-merge in the static plan (both
    # sides are data-sized and co-keyed; AQE broadcasts it at runtime
    # when `scored` turns out small).
    for line in plan.splitlines():
        if "SortMergeJoin" in line:
            assert "__bucket" not in line, line


def _codegen_compiles(spark, fn) -> int:
    """Janino compiles Spark's CodeGenerator made while ``fn`` ran (cache
    hits are not counted). In local mode driver and executor tasks
    share one cache, so this counts both."""
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    before = cm.METRIC_COMPILATION_TIME().getCount()
    fn()
    return cm.METRIC_COMPILATION_TIME().getCount() - before


def _projection(spark, k: int):
    # the int literal is inlined into the generated code, so each k is a
    # distinct pipeline no other test compiles
    return spark.range(1000).select((F.col("id") * k + 7_340_033).alias("v"))


def test_session_codegen_cache_confs(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"


def test_pipeline_at_two_stage_ids_compiles_once(spark):
    """A union of one pipeline with itself holds it at codegen stages 1
    and 2. With stage ids out of the class names both stages are the
    same class, so the union compiles exactly what one copy does."""
    once = _codegen_compiles(
        spark, lambda: _projection(spark, 1_000_003).collect()
    )
    assert once > 0
    u = _projection(spark, 1_000_033).union(_projection(spark, 1_000_033))
    plan = explain.physical_plan(u)
    assert "*(1) Project" in plan and "*(2) Project" in plan, plan
    assert _codegen_compiles(spark, u.collect) == once


def test_codegen_cache_outlives_a_hundred_pipelines(spark):
    """Spark's default cache holds 100 classes, fewer than one
    corpus_ingest night generates. After 119 more distinct pipelines
    (at least that many classes) the first one still runs without a
    compile."""
    first = _projection(spark, 2_000_003)
    assert _codegen_compiles(spark, first.collect) > 0
    for k in range(1, 120):
        _projection(spark, 2_000_003 + k).collect()
    assert _codegen_compiles(spark, first.collect) == 0


def test_align_schema_identity_and_real_alignment(spark):
    """Identical names and types in order: ``align_schema`` returns its
    input (no identity projection). Any difference still casts, pads and
    drops."""
    from pyspark.sql import types as T

    from spark_iceberg_schema_evolution_spark.operators.evolve import (
        align_schema,
    )

    df = spark.createDataFrame([(1, "a")], "id bigint, s string")
    same = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("s", T.StringType())]
    )
    assert align_schema(df, same) is df
    assert align_schema(df, same, keep_extras=False) is df
    # reordered target: a projection, not the input
    swapped = T.StructType(list(reversed(same.fields)))
    out = align_schema(df, swapped)
    assert out is not df and out.columns == ["s", "id"]
    # cast, pad and drop
    tgt = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("new", T.IntegerType()),
        ]
    )
    out = align_schema(df, tgt, keep_extras=False)
    assert out.dtypes == [("id", "string"), ("new", "int")]
    assert out.collect()[0].asDict() == {"id": "1", "new": None}
    kept = align_schema(df, tgt)
    assert kept.columns == ["id", "new", "s"]


def test_warm_load_schedules_no_job(spark):
    """The second load of a testdata table passes the remembered schema:
    no schema-inference job, and the schema a fresh inference gives."""
    from spark_iceberg_schema_evolution_spark.queries import TABLES

    for t in TABLES:
        load(spark, SF_SMOKE, t)
    dfs, jobs = _jobs_in(
        spark, "warm_load", lambda: [load(spark, SF_SMOKE, t) for t in TABLES]
    )
    assert jobs == []
    for t, df in zip(TABLES, dfs):
        assert df.schema == spark.read.parquet(f"{SF_SMOKE}/{t}.parquet").schema


def test_read_events_stream_builds_without_a_job(spark):
    from spark_iceberg_schema_evolution_spark.streaming import windows as SW

    SW.read_events_stream(spark, SF_SMOKE)
    ev, jobs = _jobs_in(
        spark, "stream_build", lambda: SW.read_events_stream(spark, SF_SMOKE)
    )
    assert jobs == []
    assert ev.isStreaming and dict(ev.dtypes)["ts"] == "timestamp"


def test_stream_landing_dir_reused(spark):
    """Two streams over one events file share one landing dir and read
    the same rows."""
    import glob
    import tempfile

    from spark_iceberg_schema_evolution_spark.streaming import windows as SW

    def landing_dirs():
        return set(glob.glob(f"{tempfile.gettempdir()}/events-stream-*"))

    before = landing_dirs()
    rows = []
    for i in range(2):
        ev = SW.read_events_stream(spark, SF_SMOKE).select("event_id", "ts")
        out = SW.run_to_memory(ev, f"landing_sink_{i}", output_mode="append")
        rows.append(sorted(out.collect()))
        if i == 0:
            after_first = landing_dirs()
    assert landing_dirs() == after_first
    assert len(after_first - before) <= 1
    assert rows[0] == rows[1] and len(rows[0]) > 0


def test_query_temp_dirs_removed_at_exit(tmp_path):
    """Every temp dir a registry query makes (lakehouse warehouses,
    landing, checkpoint and work dirs) comes from one helper, which
    removes it when the interpreter exits."""
    import inspect
    import os
    import subprocess
    import sys

    from spark_iceberg_schema_evolution_spark import queries

    assert inspect.getsource(queries).count("mkdtemp(") == 1
    code = (
        "from spark_iceberg_schema_evolution_spark.queries import _tmp_dir\n"
        "d = _tmp_dir('lakehouse-q-')\n"
        "open(d + '/f', 'w').close()\n"
        "print(d)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, check=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env={**os.environ, "TMPDIR": str(tmp_path)},
    )
    made = out.stdout.strip().splitlines()[-1]
    assert made.startswith(str(tmp_path)) and not os.path.exists(made)


def test_two_loads_of_one_table_join_by_column(spark):
    import pandas as pd

    a = load(spark, SF_SMOKE, "orders")
    b = load(spark, SF_SMOKE, "orders")
    n = a.join(b, a.o_orderkey == b.o_custkey).count()
    o = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    want = len(o.merge(o, left_on="o_orderkey", right_on="o_custkey"))
    assert n == want


def test_load_sees_a_rewritten_file(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = load(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]


def test_load_schema_follows_infer_timestamp_ntz(spark, tmp_path):
    """A reader-affecting conf is part of the memo key: flipping
    ``inferTimestampNTZ`` on a non-UTC-adjusted timestamp column changes
    the loaded dtype."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    ts = pa.array([dt.datetime(2024, 1, 1, 10)], pa.timestamp("us"))
    pq.write_table(pa.table({"ts": ts}), tmp_path / "t.parquet")
    old = spark.conf.get(key, None)
    try:
        got = {}
        for flag in ("true", "false", "true"):
            spark.conf.set(key, flag)
            got.setdefault(flag, []).append(
                dict(load(spark, str(tmp_path), "t").dtypes)["ts"]
            )
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert got == {
        "true": ["timestamp_ntz", "timestamp_ntz"],
        "false": ["timestamp"],
    }
