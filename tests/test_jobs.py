"""Smoke test for the runnable ingest job (reference job.py parity)."""

from __future__ import annotations

from spark_iceberg_schema_evolution_spark.jobs.ingest_csv import main
from tests.conftest import _jobs_in


def test_ingest_csv_cli_end_to_end(spark, tmp_path, capsys):
    rc = main(
        [
            "--input",
            str(tmp_path / "raw"),
            "--warehouse",
            str(tmp_path / "wh"),
            "--table",
            "customers",
            "--generate-demo-input",
            "3",
            "--ingest-ts",
            "2024-06-01T12:00:00",
            "--persist-inputs",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "committed snapshot v1" in out
    assert "30 rows" in out
    # reference-exact normalization: "Customer Id" -> customer_id
    assert "customer_id" in out


def test_curate_corpus_end_to_end(spark, tmp_path, capsys):
    from spark_iceberg_schema_evolution_spark.jobs.curate_corpus import main

    rc = main(
        [
            "--input",
            "/root/testdata/sf0.001/documents.parquet",
            "--output",
            str(tmp_path / "curated"),
            "--chunk-tokens",
            "32",
            "--overlap",
            "4",
            "--pack-capacity",
            "256",
            "--boilerplate-df",
            "25",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    lines = dict(
        ln.split(": ") for ln in out.strip().splitlines() if ": " in ln
    )
    assert int(lines["after_near_dedup"]) <= int(lines["after_exact_dedup"])
    assert int(lines["chunks"]) >= int(lines["after_quality"])
    assert int(lines["bins"]) >= 1
    assert int(lines["after_scrub"]) == int(lines["input"])  # scrub edits, never drops
    splits = {k: int(v) for k, v in lines.items() if k.startswith("split_")}
    assert splits and sum(splits.values()) == int(lines["after_quality"])
    # every stage parquet is readable
    for stage in ["00_scrubbed", "01_exact_dedup", "02_near_dedup",
                  "03_quality", "04_chunks", "05_packed", "06_split"]:
        assert spark.read.parquet(str(tmp_path / "curated" / stage)).count() > 0


def test_maintain_table_job(spark, tmp_path, capsys):
    from spark_iceberg_schema_evolution_spark.jobs.maintain_table import main
    from spark_iceberg_schema_evolution_spark.tables import LakehouseCatalog

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    for lo in range(0, 500, 100):
        cat.write_evolving(
            spark.createDataFrame(
                [(i, i % 7) for i in range(lo, lo + 100)], ["id", "v"]
            ),
            "db", "m",
        )
    rc = main(
        [
            "--warehouse", str(tmp_path / "wh"),
            "--namespace", "db", "--table", "m",
            "--sort-by", "id", "--target-files", "4",
            "--max-batches", "3", "--keep-snapshots", "2",
        ]
    )
    assert rc == 0
    out = dict(
        ln.split(": ")
        for ln in capsys.readouterr().out.strip().splitlines()
    )
    assert out["compacted"] == "True"
    assert int(out["batches_after"]) == 1
    assert out["rows"] == out["rows_after"] == "500"
    assert int(out["snapshots_expired"]) > 0
    # sorted rewrite left skippable files behind
    t = cat.table("db", "m")
    p = t.plan_scan([("id", "<", 50)])
    assert p["files_scanned"] < p["files_total"]


def test_curate_corpus_round5_stages(spark, tmp_path):
    """The optional round-5 stages compose end-to-end: paragraph dedup
    + quality band + mixture resample, each auditable in its stage dir."""
    from spark_iceberg_schema_evolution_spark.jobs.curate_corpus import (
        build_parser, curate,
    )

    out = str(tmp_path / "cur5")
    args = build_parser().parse_args(
        ["--input", "/root/testdata/sf0.001/documents.parquet",
         "--output", out,
         "--paragraph-dedup",
         "--quality-band", "0.05,0.95",
         "--mix", "src0=0.5,src1=0.5", "--mix-tokens", "5000",
         "--min-quality", "0.0",
         "--chunk-tokens", "64", "--overlap", "8",
         "--pack-capacity", "512"]
    )
    counts = curate(spark, args)
    assert counts["after_mix"] > 0
    mixed = spark.read.parquet(f"{out}/03b_mixed")
    # mixture keeps only the targeted sources, copies re-keyed uniquely
    assert set(
        r.source for r in mixed.select("source").distinct().collect()
    ) <= {"src0", "src1"}
    assert mixed.select("doc_id").distinct().count() == mixed.count()
    assert counts["chunks"] > 0 and counts["bins"] > 0


def test_curate_with_clean_and_decontaminate(spark, tmp_path):
    """Round-5 stages: text hygiene first, graded decontamination after
    quality — a benchmark slice of the corpus itself guarantees
    overlapping docs exist, and they must drop."""
    from spark_iceberg_schema_evolution_spark.jobs.curate_corpus import (
        build_parser,
        curate,
    )

    bench_path = str(tmp_path / "bench")
    spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).where("doc_id >= 480").write.parquet(bench_path)
    args = build_parser().parse_args(
        [
            "--input", "/root/testdata/sf0.001/documents.parquet",
            "--output", str(tmp_path / "curated"),
            "--chunk-tokens", "32", "--overlap", "4",
            "--pack-capacity", "256",
            "--clean-text",
            "--decontaminate", bench_path,
            "--max-overlap", "0.2",
        ]
    )
    counts = curate(spark, args)
    assert counts["after_scrub"] == counts["input"]
    # the benchmark docs themselves (overlap 1.0) were in the corpus:
    # decontamination must remove at least those that survived dedup
    assert counts["after_quality"] < counts["after_near_dedup"]


def test_maintain_table_job_bloom_columns(spark, tmp_path, capsys):
    from spark_iceberg_schema_evolution_spark.jobs.maintain_table import main
    from spark_iceberg_schema_evolution_spark.tables import LakehouseCatalog

    cat = LakehouseCatalog(spark, str(tmp_path / "whb"))
    ids = sorted(range(200), key=lambda x: (x * 2654435761) % 256)
    cat.write_evolving(
        spark.createDataFrame([(i, i) for i in ids], ["id", "v"]),
        "db", "mb",
    )
    rc = main(
        [
            "--warehouse", str(tmp_path / "whb"),
            "--namespace", "db", "--table", "mb",
            "--bloom-columns", "id",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "bloom_columns: id" in out
    t = cat.table("db", "mb")
    # absent in-range id: only the bloom can prove it (every file spans
    # the full range under the shuffled write order)
    assert t.plan_scan([("id", "=", 1000)])["files_scanned"] == 0


def test_ingest_incremental_job_end_to_end(spark, tmp_path):
    """The nightly loop: run 1 loads the seed files; run 2 with no new
    files no-ops; run 3 ingests only the genuinely-new docs from a drop
    containing exact dups, a near-dup, and fresh content — with the
    signature store, bloom index, and rollup all advancing
    incrementally."""
    import argparse

    from spark_iceberg_schema_evolution_spark.jobs.ingest_incremental import (
        build_parser,
        ingest_increment,
    )
    from spark_iceberg_schema_evolution_spark.tables import LakehouseCatalog

    incoming = tmp_path / "incoming"
    incoming.mkdir()

    def drop_file(name, rows):
        spark.createDataFrame(
            rows, ["doc_id", "text", "source"]
        ).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / "stage" / name)
        )
        import glob
        import shutil

        src = glob.glob(str(tmp_path / "stage" / name / "part-*.parquet"))[0]
        shutil.copy(src, str(incoming / f"{name}.parquet"))

    base = [
        (i, f"seed document number {i} with body text {i}", "web")
        for i in range(20)
    ]
    drop_file("day1", base)
    argv = [
        "--warehouse", str(tmp_path / "wh"), "--namespace", "db",
        "--corpus", "docs", "--input", str(incoming),
        "--near-dedup", "0.6",
        "--bloom-columns", "doc_id",
        "--rollup-target", "docs_by_source",
        "--rollup-group-by", "source",
    ]
    args = build_parser().parse_args(argv)
    r1 = ingest_increment(spark, args)
    assert r1["ingested"] == 20 and r1["corpus_rows"] == 20

    r2 = ingest_increment(spark, args)  # nothing new
    assert r2["copy_loaded_files"] == 0 and r2["ingested"] == 0

    day2 = (
        [(100, "seed document number 3 with body text 3", "web")]   # exact dup
        + [(101, "seed document number 7 with body text 7 edited", "web")]  # near dup
        + [(102, "completely fresh material " + "y " * 30, "books")]
    )
    drop_file("day2", day2)
    r3 = ingest_increment(spark, args)
    assert r3["ingested"] == 1
    assert r3["near_dup_dropped"] == 1
    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    corpus = cat.table("db", "docs")
    assert corpus.row_count() == 21
    assert cat.table("db", "docs_sigs").row_count() == 21
    roll = {
        r.source: r.n_rows
        for r in cat.table("db", "docs_by_source").read().collect()
    }
    assert roll == {"web": 20, "books": 1}
    # bloom survives incrementally: absent id proven without a scan
    assert corpus.plan_scan([("doc_id", "=", 99999)])["files_scanned"] == 0


def test_nightly_job_and_streaming_sink_ingest_alike(spark, tmp_path):
    """The nightly job and the streaming dedup sink run the same
    corpus-increment step: fed the same two increments (seed docs, then
    an exact dup, a near dup and a fresh doc), they leave equal corpus
    and signature-store tables and report equal ingested and dropped
    counts."""
    import glob
    import shutil
    import time

    from spark_iceberg_schema_evolution_spark.jobs.ingest_incremental import (
        build_parser,
        ingest_increment,
    )
    from spark_iceberg_schema_evolution_spark.streaming import windows as SW
    from spark_iceberg_schema_evolution_spark.tables import LakehouseCatalog

    increments = [
        [
            (i, f"seed document number {i} with body text {i} here", "web")
            for i in range(12)
        ],
        [
            (100, "seed document number 3 with body text 3 here", "web"),
            (101, "seed document number 7 with body text 7 here edited",
             "web"),
            (102, "completely fresh material " + "y " * 30, "books"),
        ],
    ]
    job_in, stream_in = tmp_path / "incoming", tmp_path / "stream_src"
    job_in.mkdir()
    stream_in.mkdir()

    def part_file(name, rows):
        out = str(tmp_path / "stage" / name)
        spark.createDataFrame(
            rows, "doc_id LONG, text STRING, source STRING"
        ).coalesce(1).write.mode("overwrite").parquet(out)
        return glob.glob(f"{out}/part-*.parquet")[0]

    args = build_parser().parse_args(
        [
            "--warehouse", str(tmp_path / "job_wh"), "--namespace", "db",
            "--corpus", "docs", "--input", str(job_in),
            "--near-dedup", "0.6",
        ]
    )
    job_reports = []
    for n, rows in enumerate(increments):
        f = part_file(f"inc{n}", rows)
        shutil.copy(f, str(job_in / f"inc{n}.parquet"))
        shutil.copy(f, str(stream_in / f"inc{n}.parquet"))
        time.sleep(1.1)  # file-source epoch order is mtime order
        job_reports.append(ingest_increment(spark, args))

    stream_cat = LakehouseCatalog(spark, str(tmp_path / "stream_wh"))
    stream = (
        spark.readStream.schema("doc_id LONG, text STRING, source STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_in))
    )
    sink = SW.stream_dedup_ingest_to_lakehouse(
        stream, stream_cat, "db", "docs", str(tmp_path / "ck"),
        near_threshold=0.6,
    )

    assert [r["ingested"] for r in job_reports] == [12, 1]
    assert sink["rows_ingested"] == sum(r["ingested"] for r in job_reports)
    assert sink["near_dropped"] == job_reports[1]["near_dup_dropped"] == 1
    assert sink["committed_epochs"] == 2

    job_cat = LakehouseCatalog(spark, str(tmp_path / "job_wh"))

    def bag(cat, name):
        df = cat.table("db", name).read()
        cols = sorted(df.columns)
        return cols, sorted(
            tuple(map(repr, r)) for r in df.select(*cols).collect()
        )

    for name in ("docs", "docs_sigs"):
        assert bag(job_cat, name) == bag(stream_cat, name), name
    assert (
        job_cat.table("db", "docs_sigs").properties()
        == stream_cat.table("db", "docs_sigs").properties()
    )


def test_ingest_incremental_sig_store_bootstrap_and_heal(spark, tmp_path):
    """The two silent-recall holes reconcile_signature_store closes:
    (1) enabling --near-dedup on a PRE-EXISTING corpus with no store
    backfills ALL corpus signatures (not just the new batch's), so the
    near-dup of a pre-existing doc is caught; (2) docs that reached the
    corpus without signatures (the crash-gap between corpus.append and
    the sig append) are re-signed on the next run; (3) a store built
    with different MinHash parameters raises instead of silently
    yielding zero candidates."""
    import glob
    import shutil

    import pytest

    from spark_iceberg_schema_evolution_spark.jobs.ingest_incremental import (
        build_parser,
        ingest_increment,
    )
    from spark_iceberg_schema_evolution_spark.tables import LakehouseCatalog

    incoming = tmp_path / "incoming"
    incoming.mkdir()

    def drop_file(name, rows):
        spark.createDataFrame(
            rows, ["doc_id", "text", "source"]
        ).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / "stage" / name)
        )
        src = glob.glob(str(tmp_path / "stage" / name / "part-*.parquet"))[0]
        shutil.copy(src, str(incoming / f"{name}.parquet"))

    base_argv = [
        "--warehouse", str(tmp_path / "wh"), "--namespace", "db",
        "--corpus", "docs", "--input", str(incoming),
    ]
    # day 1: corpus bootstraps WITHOUT near-dedup -> no signature store
    drop_file(
        "day1",
        [(i, f"seed document number {i} with body text {i}", "web")
         for i in range(10)],
    )
    r1 = ingest_increment(spark, build_parser().parse_args(base_argv))
    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    assert r1["ingested"] == 10
    assert not cat.table("db", "docs_sigs").exists()

    # day 2: near-dedup turned ON against the pre-existing corpus.
    # Without the bootstrap backfill the store would hold only day-2
    # signatures and this near-dup of a DAY-1 doc would slip through.
    drop_file(
        "day2",
        [(100, "seed document number 4 with body text 4 edited", "web"),
         (101, "entirely new material " + "z " * 30, "books")],
    )
    nd_argv = base_argv + ["--near-dedup", "0.6"]
    r2 = ingest_increment(spark, build_parser().parse_args(nd_argv))
    assert r2["sigs_backfilled"] == 10          # the whole day-1 corpus
    assert r2["near_dup_dropped"] == 1
    assert r2["ingested"] == 1
    sigs = cat.table("db", "docs_sigs")
    assert sigs.row_count() == 11               # 10 backfilled + 1 new
    assert sigs.properties()["minhash.num_hashes"] == "32"

    # crash-gap: a doc lands in the corpus with NO signature (append
    # crashed before the sig append). The next run re-signs it and the
    # near-dup of THAT doc is caught.
    corpus = cat.table("db", "docs")
    orphan_text = (
        "the quick brown fox jumps over the lazy dog near the wide "
        "river bank while morning fog lifts slowly"
    )
    corpus.append(
        spark.createDataFrame(
            [(200, orphan_text, "web")],
            ["doc_id", "text", "source"],
        )
    )
    drop_file("day3", [(201, orphan_text + " today", "web")])
    r3 = ingest_increment(spark, build_parser().parse_args(nd_argv))
    assert r3["sigs_backfilled"] == 1           # the orphan healed
    assert r3["near_dup_dropped"] == 1
    assert sigs.row_count() == 12               # 11 + healed orphan

    # parameter drift: a different num_hashes must refuse the store
    drop_file("day4", [(300, "more fresh text " + "w " * 25, "web")])
    bad_argv = nd_argv + ["--num-hashes", "16"]
    with pytest.raises(ValueError, match="different MinHash parameters"):
        ingest_increment(spark, build_parser().parse_args(bad_argv))


def test_ingest_incremental_maintains_ann_index(spark, tmp_path):
    """--ann-index: first run builds the codes table over the corpus'
    embedding column; later runs incrementally encode only the new
    docs (whole-corpus sync = crash-gap heal, idempotent by id)."""
    import glob
    import shutil

    from spark_iceberg_schema_evolution_spark.jobs.ingest_incremental import (
        build_parser,
        ingest_increment,
    )
    from spark_iceberg_schema_evolution_spark.tables import LakehouseCatalog

    incoming = tmp_path / "incoming"
    incoming.mkdir()

    def drop_file(name, rows):
        spark.createDataFrame(
            rows, "doc_id long, text string, embedding array<float>"
        ).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / "stage" / name)
        )
        src = glob.glob(str(tmp_path / "stage" / name / "part-*.parquet"))[0]
        shutil.copy(src, str(incoming / f"{name}.parquet"))

    def rows(lo, hi):
        return [
            (i, f"document body number {i} distinct words {i}",
             [float((i * 7 + j) % 13) for j in range(8)])
            for i in range(lo, hi)
        ]

    argv = [
        "--warehouse", str(tmp_path / "wh"), "--namespace", "db",
        "--corpus", "docs", "--input", str(incoming),
        "--ann-index", "docs_ann", "--ann-kind", "sq8", "--ann-dim", "8",
    ]
    drop_file("day1", rows(0, 12))
    r1 = ingest_increment(spark, build_parser().parse_args(argv))
    assert r1["ingested"] == 12 and r1["ann_encoded"] == 12
    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    codes = cat.table("db", "docs_ann_codes")
    assert codes.row_count() == 12
    assert codes.properties()["ann.kind"] == "sq8"

    drop_file("day2", rows(12, 15))
    r2 = ingest_increment(spark, build_parser().parse_args(argv))
    assert r2["ingested"] == 3 and r2["ann_encoded"] == 3
    assert codes.row_count() == 15

    # COMPACTION rewrites the corpus' data files; the codes table keys
    # on ids, so nothing is orphaned and the next sync must not
    # re-encode compacted rows
    corpus = cat.table("db", "docs")
    corpus.compact()
    drop_file("day3", rows(15, 18))
    r3 = ingest_increment(spark, build_parser().parse_args(argv))
    assert r3["ingested"] == 3 and r3["ann_encoded"] == 3  # only day3
    assert codes.row_count() == 18

    # index freshness == fresh-encode equality: the maintained codes
    # table holds exactly what a from-scratch encode of today's corpus
    # produces (same ids, same codes, same quantization params)
    from pyspark.sql import functions as F

    from spark_iceberg_schema_evolution_spark.operators.similarity import (
        sq8_encode,
    )

    fresh = sq8_encode(
        corpus.read().where(F.col("embedding").isNotNull()),
        id_col="doc_id", vec_col="embedding",
    )
    as_set = lambda df: {  # noqa: E731
        (r[0], tuple(r[1]), r[2], r[3])
        for r in df.select(
            "doc_id", "sq8_codes", "sq8_lo", "sq8_scale"
        ).collect()
    }
    assert as_set(codes.read()) == as_set(fresh)


def test_incremental_near_dedup_rejects_mismatched_store(spark):
    import pytest

    from spark_iceberg_schema_evolution_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
    )
    store16 = dedup.minhash_signature(docs, num_hashes=16)
    with pytest.raises(ValueError, match="signature length 16"):
        dedup.incremental_near_dedup(
            docs, docs, corpus_sigs=store16, num_hashes=32
        )


def test_incremental_near_dedup_batch_from_another_session(spark):
    """The store's signature lengths are observed on the candidate
    checkpoint and read with a blocking wait. A streaming sink's batch
    lives in a cloned session, so the new batch here comes from another
    session: the wait must still end, with the match found."""
    import threading

    from spark_iceberg_schema_evolution_spark.operators import dedup

    corpus = spark.createDataFrame(
        [(i, f"document body number {i} with words {i} and more")
         for i in range(6)],
        "doc_id long, text string",
    )
    new = spark.newSession().createDataFrame(
        [(100, "document body number 3 with words 3 and more again")],
        "doc_id long, text string",
    )
    out = {}

    def run():
        _, dropped = dedup.incremental_near_dedup(
            new, corpus, corpus_sigs=dedup.minhash_signature(corpus),
            threshold=0.6, sigs_scheme=dedup._MINHASH_SCHEME,
        )
        out["dropped"] = [
            (r.doc_id, r.matched_corpus_id) for r in dropped.collect()
        ]

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(120)
    assert not t.is_alive(), "the signature-length Observation never completed"
    assert out["dropped"] == [(100, 3)]


def test_ingest_incremental_maintains_quantile_sketch(spark, tmp_path):
    """--sketch-col: each nightly run appends only the kept batch's
    bucket rows; after two runs the coarsened sketch equals a one-shot
    sketch of the whole corpus column."""
    import glob
    import shutil

    from spark_iceberg_schema_evolution_spark.jobs.ingest_incremental import (
        build_parser,
        ingest_increment,
    )
    from spark_iceberg_schema_evolution_spark.operators.profile import (
        quantile_sketch,
        quantile_sketch_coarsen,
    )
    from spark_iceberg_schema_evolution_spark.tables import LakehouseCatalog

    incoming = tmp_path / "incoming"
    incoming.mkdir()

    def drop_file(name, rows):
        spark.createDataFrame(
            rows, "doc_id long, text string, n_chars long"
        ).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / "stage" / name)
        )
        src = glob.glob(str(tmp_path / "stage" / name / "part-*.parquet"))[0]
        shutil.copy(src, str(incoming / f"{name}.parquet"))

    argv = [
        "--warehouse", str(tmp_path / "wh"), "--namespace", "db",
        "--corpus", "docs", "--input", str(incoming),
        "--sketch-col", "n_chars",
    ]
    drop_file(
        "d1",
        [(i, f"text body {i} unique words {i}", 100 + i * 7)
         for i in range(20)],
    )
    r1 = ingest_increment(spark, build_parser().parse_args(argv))
    assert r1["ingested"] == 20 and "sketch_version" in r1
    drop_file(
        "d2",
        [(i, f"second wave {i} other words {i}", 400 + i * 11)
         for i in range(20, 30)],
    )
    r2 = ingest_increment(spark, build_parser().parse_args(argv))
    assert r2["ingested"] == 10

    from pyspark.sql import functions as F

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    stored = quantile_sketch_coarsen(
        cat.table("db", "docs_sketch").read(), ["__src"]
    )
    corpus = cat.table("db", "docs").read().withColumn(
        "__src", F.lit("all")
    )
    direct = quantile_sketch(corpus, ["__src"], "n_chars", alpha=0.01)
    assert {tuple(r) for r in stored.collect()} == {
        tuple(r) for r in direct.collect()
    }
    assert (
        cat.table("db", "docs_sketch").properties()["sketch.alpha"]
        == "0.01"
    )


def test_curate_tokenizer_merges_stage(spark, tmp_path):
    """--tokenizer-merges learns the BPE vocabulary from the
    post-quality corpus and persists the merge table: ranks contiguous,
    counts non-increasing... (BPE's greedy-max invariant), and the
    table matches re-learning from the stage-3 output directly."""
    from spark_iceberg_schema_evolution_spark.jobs.curate_corpus import (
        build_parser, curate,
    )
    from spark_iceberg_schema_evolution_spark.operators.bpe import (
        bpe_learn,
    )

    out = str(tmp_path / "curtok")
    args = build_parser().parse_args(
        ["--input", "/root/testdata/sf0.001/documents.parquet",
         "--output", out,
         "--min-quality", "0.0",
         "--tokenizer-merges", "15",
         "--chunk-tokens", "64", "--overlap", "8",
         "--pack-capacity", "512"]
    )
    counts = curate(spark, args)
    assert counts["tokenizer_merges"] == 15
    merges = (
        spark.read.parquet(f"{out}/03a_tokenizer_merges")
        .orderBy("rank")
        .collect()
    )
    assert [r["rank"] for r in merges] == list(range(15))
    want = bpe_learn(
        spark.read.parquet(f"{out}/03_quality"), "text", num_merges=15
    )
    assert [
        (r["rank"], r["left"], r["right"], r["pair_n"]) for r in merges
    ] == [(m.rank, m.left, m.right, m.pair_n) for m in want]


def test_curate_cluster_quota_stage(spark, tmp_path):
    """--cluster-quota keeps at most N docs per embedding cluster
    (k-means diversity quota), docs WITHOUT an embedding pass through,
    and the stage output matches the direct fit+sample composition on
    the stage-3 corpus."""
    import numpy as np
    from pyspark.sql import functions as F

    from spark_iceberg_schema_evolution_spark.jobs.curate_corpus import (
        build_parser, curate,
    )
    from spark_iceberg_schema_evolution_spark.operators.similarity import (
        cluster_balanced_sample, kmeans_fit,
    )

    # embeddings for 80% of input docs (passthrough exercised), three
    # separated modes so the quota actually bites
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    rng = np.random.RandomState(0)
    emb_rows = [
        (i, [float(x) for x in rng.normal(4.0 * (i % 3), 0.3, size=8)])
        for i in ids
        if i % 5 != 0
    ]
    emb_path = str(tmp_path / "emb")
    spark.createDataFrame(
        emb_rows, "doc_id long, embedding array<double>"
    ).write.parquet(emb_path)

    out = str(tmp_path / "curdiv")
    args = build_parser().parse_args(
        ["--input", "/root/testdata/sf0.001/documents.parquet",
         "--output", out,
         "--min-quality", "0.0",
         "--cluster-quota", "2", "--clusters", "3",
         "--cluster-refine", "1",
         "--embeddings", emb_path,
         "--chunk-tokens", "64", "--overlap", "8",
         "--pack-capacity", "512"]
    )
    counts = curate(spark, args)

    quality = spark.read.parquet(f"{out}/03_quality")
    emb = spark.read.parquet(emb_path)
    with_emb = quality.select("doc_id").join(emb, "doc_id")
    n_no_emb = (
        quality.select("doc_id")
        .join(emb.select("doc_id"), "doc_id", "left_anti")
        .count()
    )
    assert counts["after_cluster_quota"] <= 3 * 2 + n_no_emb
    assert counts["after_cluster_quota"] < counts["after_quality"]

    # direct composition == stage output
    model = kmeans_fit(with_emb, "embedding", k=3, n_iter=1, seed=42)
    want = {
        r["doc_id"]
        for r in cluster_balanced_sample(
            with_emb, 2, id_col="doc_id", vec_col="embedding",
            centroids=model["centroids"],
        ).select("doc_id").collect()
    } | {
        r["doc_id"]
        for r in quality.select("doc_id")
        .join(emb.select("doc_id"), "doc_id", "left_anti")
        .collect()
    }
    got = {
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/03c_diverse")
        .select("doc_id")
        .collect()
    }
    assert got == want
    # missing --embeddings raises
    bad = build_parser().parse_args(
        ["--input", "/root/testdata/sf0.001/documents.parquet",
         "--output", str(tmp_path / "x"), "--cluster-quota", "2"]
    )
    import pytest as _pytest
    with _pytest.raises(ValueError):
        curate(spark, bad)


def test_train_quality_head_job_end_to_end(spark, tmp_path, capsys):
    """The quality-head training job: hashing-trick featurization ->
    logreg -> isotonic -> JSON model -> frozen-head scoring with a
    threshold cut, end to end; the persisted model reproduces the
    in-engine scores."""
    import json as _json

    from spark_iceberg_schema_evolution_spark.jobs.train_quality_head import (
        main,
    )

    rows = []
    for i in range(80):
        if i % 2:
            rows.append((i, f"buy cheap pills now offer {i} click", 1.0))
        else:
            rows.append((i, f"the engine compacts manifests {i} daily", 0.0))
    labels = str(tmp_path / "labels")
    spark.createDataFrame(
        rows, "doc_id long, text string, label double"
    ).write.parquet(labels)
    corpus = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(100, "totally organic prose about tables"),
         (101, "buy cheap pills click now")],
        "doc_id long, text string",
    ).write.parquet(corpus)

    out = str(tmp_path / "model_out")
    rc = main(
        ["--labels", labels, "--output", out,
         "--hash-dim", "64", "--n-iter", "40", "--lr", "1.0",
         "--calibration-bins", "20",
         "--score", corpus, "--threshold", "0.5"]
    )
    assert rc == 0
    stdout = capsys.readouterr().out
    assert "n_train: 80" in stdout

    m = _json.load(open(f"{out}/model.json"))
    assert len(m["logreg"]["weights"]) == 64
    assert m["featurization"]["hash_dim"] == 64
    vals = m["isotonic"]["values"]
    assert all(a <= b for a, b in zip(vals, vals[1:]))

    kept = spark.read.parquet(f"{out}/scored").collect()
    # only the planted-spam doc survives the 0.5 calibrated cut
    assert [r["doc_id"] for r in kept] == [101]
    assert kept[0]["calibrated"] >= 0.5


def test_curate_domain_budget_and_pps_stages(spark, tmp_path):
    """--domain-budget-bp trims each source to its highest-quality token
    budget, --pps-sample-n then weighted-downsamples; both stage outputs
    equal the direct operator composition on the preceding stage."""
    from spark_iceberg_schema_evolution_spark.jobs.curate_corpus import (
        build_parser, curate,
    )
    from spark_iceberg_schema_evolution_spark.operators.text import (
        domain_budget_select, pps_systematic_sample, token_count,
    )
    from pyspark.sql import functions as F

    out = str(tmp_path / "curbudget")
    args = build_parser().parse_args(
        ["--input", "/root/testdata/sf0.001/documents.parquet",
         "--output", out,
         "--min-quality", "0.0",
         "--domain-budget-bp", "6000",
         "--pps-sample-n", "40",
         "--chunk-tokens", "64", "--overlap", "8",
         "--pack-capacity", "512"]
    )
    counts = curate(spark, args)
    quality = spark.read.parquet(f"{out}/03_quality")
    want_budget = domain_budget_select(
        quality.withColumn("__tok", token_count().cast("long")),
        6000, "__tok", "quality", domain_col="source", id_col="doc_id",
    ).drop("__tok")
    got_budget = spark.read.parquet(f"{out}/03d_domain_budget")
    assert {r["doc_id"] for r in got_budget.select("doc_id").collect()} \
        == {r["doc_id"] for r in want_budget.select("doc_id").collect()}
    assert counts["after_domain_budget"] == want_budget.count()
    assert 0 < counts["after_domain_budget"] < counts["after_quality"]

    want_pps = pps_systematic_sample(
        got_budget.withColumn("__tok", token_count().cast("long")),
        40, "__tok", id_col="doc_id",
    ).drop("__tok")
    got_pps = spark.read.parquet(f"{out}/03e_pps_sample")
    assert {r["doc_id"] for r in got_pps.select("doc_id").collect()} \
        == {r["doc_id"] for r in want_pps.select("doc_id").collect()}
    assert counts["after_pps_sample"] <= 40
    # downstream stages consumed the sampled corpus
    assert counts["after_pps_sample"] < counts["after_domain_budget"]
    _ = F


def test_curate_sig_store_roundtrip(spark, tmp_path):
    """--sigs-out writes the corpus signatures + parameter sidecar;
    a second run with --sigs-in produces identical stage counts (the
    near-dedup stage consumes the store instead of re-signing); a
    sidecar-less or parameter-mismatched store refuses loudly."""
    import pytest as _pt

    from spark_iceberg_schema_evolution_spark.jobs.curate_corpus import (
        build_parser, curate,
    )

    sigs = str(tmp_path / "sigstore")
    base = [
        "--input", "/root/testdata/sf0.001/documents.parquet",
        "--min-quality", "0.0", "--no-redact",
        "--chunk-tokens", "64", "--overlap", "8",
        "--pack-capacity", "512",
    ]
    out1 = str(tmp_path / "cur1")
    c1 = curate(spark, build_parser().parse_args(
        base + ["--output", out1, "--sigs-out", sigs]
    ))
    import os
    assert os.path.exists(f"{sigs}/_minhash_props.json")
    out2 = str(tmp_path / "cur2")
    c2 = curate(spark, build_parser().parse_args(
        base + ["--output", out2, "--sigs-in", sigs]
    ))
    assert c2["after_near_dedup"] == c1["after_near_dedup"]
    assert (
        {r.doc_id for r in
         spark.read.parquet(f"{out2}/02_near_dedup").collect()}
        == {r.doc_id for r in
            spark.read.parquet(f"{out1}/02_near_dedup").collect()}
    )
    # refusals: different bands param; missing sidecar
    with _pt.raises(ValueError, match="different MinHash parameters"):
        curate(spark, build_parser().parse_args(
            base + ["--output", str(tmp_path / "cur3"),
                    "--sigs-in", sigs, "--minhash-bands", "4"]
        ))
    os.remove(f"{sigs}/_minhash_props.json")
    with _pt.raises(ValueError, match="sidecar"):
        curate(spark, build_parser().parse_args(
            base + ["--output", str(tmp_path / "cur4"),
                    "--sigs-in", sigs]
        ))


def test_sig_store_refuses_pre_scheme_signatures(spark, tmp_path):
    """A signature store written before the round-10 hash-once MinHash
    scheme (params recorded, no minhash.scheme property) must be
    REFUSED, not stamped: its stored values come from the old
    per-function string hashing, and banding them against hash-once
    signatures would silently find nothing."""
    import pytest

    from spark_iceberg_schema_evolution_spark.operators.dedup import (
        _MINHASH_SCHEME,
        reconcile_signature_store,
    )
    from spark_iceberg_schema_evolution_spark.tables import LakehouseCatalog

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    docs = spark.createDataFrame(
        [(i, f"document body number {i} with words {i}") for i in range(5)],
        ["doc_id", "text"],
    )
    cat.write_evolving(docs, "db", "c")
    n = reconcile_signature_store(cat, "db", "c")
    assert n == 5
    sigs = cat.table("db", "c_sigs")
    assert sigs.properties()["minhash.scheme"] == _MINHASH_SCHEME
    # a second reconcile is a no-op (store complete, scheme matches)
    assert reconcile_signature_store(cat, "db", "c") == 0

    # simulate a pre-round-10 store: params recorded, scheme absent
    sigs.unset_property("minhash.scheme")
    with pytest.raises(ValueError, match="no recorded minhash.scheme"):
        reconcile_signature_store(cat, "db", "c")

    # simulate a pre-r7 store (or a crash between write_evolving and
    # set_properties): NO properties at all. This must also refuse —
    # stamping scheme=2 onto signatures of unknown provenance would make
    # a scheme mismatch permanently undetectable.
    for k in list(sigs.properties()):
        if k.startswith("minhash."):
            sigs.unset_property(k)
    with pytest.raises(ValueError, match="no recorded minhash.scheme"):
        reconcile_signature_store(cat, "db", "c")


def test_sig_store_heals_empty_property_less_store(spark, tmp_path):
    """ADVICE r11: an EMPTY property-less store — the footprint of a
    crash inside store creation — carries no scheme ambiguity (there
    are no signatures to mislabel), so reconcile stamps it and
    backfills instead of wedging the streaming sink / nightly job
    until a human drops the table. A NON-empty property-less store
    still refuses (previous test)."""
    from spark_iceberg_schema_evolution_spark.operators.dedup import (
        _MINHASH_SCHEME,
        reconcile_signature_store,
    )
    from spark_iceberg_schema_evolution_spark.tables import LakehouseCatalog

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))
    docs = spark.createDataFrame(
        [(i, f"document body number {i} with words {i}") for i in range(5)],
        ["doc_id", "text"],
    )
    cat.write_evolving(docs, "db", "c")
    # crash footprint: empty table exists, no properties ever landed
    sigs = cat.table("db", "c_sigs")
    empty = spark.createDataFrame([], "doc_id long, signature array<bigint>")
    sigs.create(empty.schema)
    assert sigs.row_count() == 0 and "minhash.scheme" not in sigs.properties()
    n = reconcile_signature_store(cat, "db", "c")
    assert n == 5
    assert sigs.properties()["minhash.scheme"] == _MINHASH_SCHEME
    assert reconcile_signature_store(cat, "db", "c") == 0


def test_sig_store_coverage_bookmark(spark, tmp_path):
    """reconcile_signature_store on a store known complete is metadata
    only: zero Spark jobs. Whatever moves the corpus's data batches or
    the store's head (an append with no signatures, a compaction, a
    store rollback) sends the next reconcile back to the anti-join,
    which heals what is missing; a bloom-index build, which commits a
    corpus version without a batch, does not."""
    from spark_iceberg_schema_evolution_spark.operators.dedup import (
        ingest_corpus_increment,
        reconcile_signature_store,
    )
    from spark_iceberg_schema_evolution_spark.tables import LakehouseCatalog

    cat = LakehouseCatalog(spark, str(tmp_path / "wh"))

    def docs(ids):
        return spark.createDataFrame(
            [(i, f"document body number {i} with words {i} and more")
             for i in ids],
            "doc_id long, text string",
        )

    def reconcile(tag):
        return _jobs_in(
            spark, f"bookmark_{tag}",
            lambda: reconcile_signature_store(cat, "db", "c"),
        )

    cat.write_evolving(docs(range(5)), "db", "c")
    corpus, sigs = cat.table("db", "c"), cat.table("db", "c_sigs")
    assert reconcile("bootstrap")[0] == 5
    assert reconcile("steady") == (0, [])

    # crash gap: corpus rows land without their signatures
    corpus.append(docs([5]))
    n, jobs = reconcile("gap")
    assert n == 1 and jobs
    assert reconcile("steady_after_gap") == (0, [])

    # a compaction rewrites the batches: the anti-join runs, finds none
    corpus.compact()
    n, jobs = reconcile("compacted")
    assert n == 0 and jobs
    assert reconcile("steady_after_compact") == (0, [])

    # a store rollback to before the heal loses doc 5's signature
    healed_at = sigs.snapshots()[-1]["version"]
    sigs.rollback_to(healed_at - 1)
    assert sigs.row_count() == 5
    n, jobs = reconcile("store_rollback")
    assert n == 1 and jobs and sigs.row_count() == 6
    assert reconcile("steady_after_rollback") == (0, [])

    # the increment step records coverage after its own sig append; a
    # bloom-index build commits a corpus version but adds no batch
    report, kept = ingest_corpus_increment(
        cat, "db", "c", docs([6, 7]), near_threshold=0.7
    )
    kept.unpersist()
    assert report == {
        "sigs_backfilled": 0, "near_dup_dropped": 0, "ingested": 2
    }
    corpus.build_bloom_index("doc_id")
    assert reconcile("after_step") == (0, [])
    assert sigs.row_count() == corpus.row_count() == 8
