"""Nightly incremental corpus ingestion — the continuous-growth loop a
100 TB training corpus actually runs, composed from the engine's
increment-native pieces so NOTHING rescans the corpus:

  1. COPY INTO a staging table (new files only; per-file ledger makes
     re-runs exactly-once at file granularity)
  2. poll the staging table's checkpointed change CONSUMER — only rows
     no previous run consumed (crash between poll and the final ack
     re-delivers; every downstream write below is idempotent-safe
     because dedup runs first)
  3. exact dedup: within the increment, then anti-join against the
     corpus' content hashes (column-pruned, fixed-width keys)
  4. optional NEAR-dedup against the materialized corpus signature
     store (lightly edited re-crawls an exact hash misses); the store
     is itself a lakehouse table appended per run. Its completeness
     check is metadata-only while the store's coverage bookmark names
     the corpus's data batches; the id anti-join that heals a gap runs
     only once those batches have moved (a crash gap, an exact-only
     night, a compaction), and the signature-length check rides the
     banding's own checkpoint
  5. append survivors to the corpus; append their signatures to the
     store
  6. incremental bloom-index maintenance on the new batches only
  7. optional incremental rollup refresh of a downstream aggregate
  8. ack the consumer offset

Steps 3-5 are ``dedup.ingest_corpus_increment``, the step the streaming
dedup sink runs per epoch.

Per night the work is O(new data): the corpus contributes only its
hash column (step 3), its signature store (step 4), and its rollup
delta (step 7).

Usage:
  python -m spark_iceberg_schema_evolution_spark.jobs.ingest_incremental \\
      --warehouse /tmp/wh --namespace db --corpus docs \\
      --input /data/incoming --near-dedup 0.7 --bloom-columns doc_id
"""

from __future__ import annotations

import argparse

from pyspark.sql import functions as F

_CONSUMER = "corpus_ingest"


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--warehouse", required=True)
    p.add_argument("--namespace", required=True)
    p.add_argument("--corpus", required=True, help="corpus table name")
    p.add_argument("--input", required=True, help="incoming-file dir")
    p.add_argument("--format", default="parquet")
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument(
        "--near-dedup", type=float, default=None, metavar="THRESHOLD",
        help="Jaccard threshold for near-dedup vs the signature store",
    )
    p.add_argument("--num-hashes", type=int, default=32)
    p.add_argument("--num-bands", type=int, default=8)
    p.add_argument(
        "--bloom-columns", default=None,
        help="comma-separated columns to incrementally bloom-index",
    )
    p.add_argument(
        "--rollup-target", default=None,
        help="rollup table name (same namespace) to refresh incrementally",
    )
    p.add_argument(
        "--rollup-group-by", default=None, help="comma-separated"
    )
    p.add_argument(
        "--ann-index", default=None, metavar="NAME",
        help="maintain a materialized ANN index of this name over "
        "--ann-vec-col (built on first run, incrementally synced after)",
    )
    p.add_argument("--ann-vec-col", default="embedding")
    p.add_argument("--ann-kind", default="sq8", choices=["sq8", "pq"])
    p.add_argument("--ann-dim", type=int, default=64)
    p.add_argument(
        "--sketch-col", default=None, metavar="COL",
        help="maintain a quantile sketch of this numeric column "
        "(per-source percentile monitoring; appends O(batch) bucket "
        "rows to <corpus>_sketch per run)",
    )
    p.add_argument("--sketch-alpha", type=float, default=0.01)
    return p


def ingest_increment(spark, args) -> dict:
    from spark_iceberg_schema_evolution_spark.operators.dedup import (
        ingest_corpus_increment,
    )
    from spark_iceberg_schema_evolution_spark.sources.copy_into import (
        copy_into,
    )
    from spark_iceberg_schema_evolution_spark.tables import LakehouseCatalog

    cat = LakehouseCatalog(spark, args.warehouse)
    ns = args.namespace
    staging_name = f"{args.corpus}_staging"
    report = copy_into(cat, ns, staging_name, args.input, fmt=args.format)
    report = {f"copy_{k}": v for k, v in report.items()}
    staging = cat.table(ns, staging_name)
    if not staging.exists():
        report["ingested"] = 0
        return report  # nothing ever copied: nothing to consume

    inc, ack_v = staging.consume_changes(_CONSUMER)
    corpus = cat.table(ns, args.corpus)
    step, kept = ingest_corpus_increment(
        cat,
        ns,
        args.corpus,
        inc,
        text_col=args.text_col,
        id_col=args.id_col,
        near_threshold=args.near_dedup,
        num_hashes=args.num_hashes,
        num_bands=args.num_bands,
    )
    report.update(step)
    try:
        if step["ingested"]:
            if args.bloom_columns:
                for c in args.bloom_columns.split(","):
                    corpus.build_bloom_index(c.strip())
                report["bloom_columns"] = args.bloom_columns
            if args.ann_index:
                from spark_iceberg_schema_evolution_spark.operators.ann_index import (
                    build_ann_index,
                    sync_ann_index,
                )

                vecs = corpus.read().where(
                    F.col(args.ann_vec_col).isNotNull()
                )
                if cat.table(ns, f"{args.ann_index}_codes").exists():
                    # sync against the WHOLE corpus, not just the
                    # batch: heals any crash gap between the corpus
                    # append and the code append (same reconcile
                    # discipline as the signature store)
                    report["ann_encoded"] = sync_ann_index(
                        cat, ns, args.ann_index, vecs,
                        vec_col=args.ann_vec_col,
                    )
                else:
                    report["ann_encoded"] = build_ann_index(
                        cat, ns, args.ann_index, vecs,
                        dim=args.ann_dim, kind=args.ann_kind,
                        id_col=args.id_col, vec_col=args.ann_vec_col,
                    )
            if args.sketch_col:
                from spark_iceberg_schema_evolution_spark.operators.profile import (
                    quantile_sketch_refresh,
                )

                # sketch ONLY tonight's kept batch: bucket counts are
                # additive, so the appended delta rows coarsen to
                # exactly the sketch of the whole corpus (readers use
                # quantile_sketch_coarsen / sketch_quantiles)
                src_col = (
                    F.coalesce(F.col("source"), F.lit("all"))
                    if "source" in kept.columns
                    else F.lit("all")
                )
                r = quantile_sketch_refresh(
                    cat.table(ns, f"{args.corpus}_sketch"),
                    kept.withColumn("__src", src_col),
                    ["__src"],
                    args.sketch_col,
                    alpha=args.sketch_alpha,
                )
                report["sketch_version"] = r["version"]
            if args.rollup_target and args.rollup_group_by:
                from spark_iceberg_schema_evolution_spark.operators.rollup import (
                    refresh_rollup,
                )

                report["rollup_version"] = refresh_rollup(
                    corpus,
                    cat.table(ns, args.rollup_target),
                    [c.strip() for c in args.rollup_group_by.split(",")],
                )
    finally:
        kept.unpersist()
    staging.commit_offset(_CONSUMER, ack_v)
    report["corpus_rows"] = corpus.row_count() if corpus.exists() else 0
    return report


def main(argv: list[str] | None = None) -> int:
    from spark_iceberg_schema_evolution_spark.session import get_spark

    args = build_parser().parse_args(argv)
    report = ingest_increment(get_spark(), args)
    for k, v in report.items():
        print(f"{k}: {v}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
