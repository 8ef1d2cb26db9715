"""COPY INTO — idempotent incremental file ingestion.

Delta Lake's ``COPY INTO`` / Snowflake's ``COPY`` semantics for the
lakehouse: load every data file under a directory into a table
EXACTLY ONCE across any number of invocations — re-running after new
files land ingests only the new files; re-running after a crash or on
a schedule never duplicates rows. The loaded-file log rides the
table's metadata dir (one JSON beside refs), keyed by relative path +
size + mtime so an in-place overwritten file re-ingests while an
untouched one never does.

Scale shape: discovery is a driver-side listing (bounded by file
count, the same cost every file source pays); the data path is one
distributed ``spark.read`` over ONLY the new files followed by the
standard evolving append. Nothing diffs table contents — idempotence
comes from the file log, not from an anti-join, so a 100 TB table
costs the same to increment as an empty one.
"""

from __future__ import annotations

import json
import os

from spark_iceberg_schema_evolution_spark.tables import LakehouseCatalog

_FORMATS = {"parquet", "csv", "json"}


def _log_path(table) -> str:
    return os.path.join(table.meta_dir, "copy_into_log.json")


def _load_log(table) -> dict:
    p = _log_path(table)
    if not os.path.isfile(p):
        return {}
    with open(p) as f:
        return json.load(f)


def _save_log(table, log: dict) -> None:
    tmp = _log_path(table) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(log, f)
    os.rename(tmp, _log_path(table))


def copy_into(
    catalog: LakehouseCatalog,
    namespace: str,
    name: str,
    source_dir: str,
    fmt: str = "parquet",
    options: dict | None = None,
) -> dict:
    """Ingest new files from ``source_dir`` into ``namespace.name``
    (created on first load), exactly once per file state. Returns
    ``{"loaded_files": n, "skipped_files": n, "version": v}``; a run
    with nothing new commits nothing. The file log is written AFTER
    the commit: a crash between the two re-ingests that increment's
    files (at-least-once across crashes — dedupe with
    ``dedup.ingest_corpus_increment`` when the payload has content
    identity; Delta's COPY INTO makes the same trade)."""
    if fmt not in _FORMATS:
        raise ValueError(f"format must be one of {sorted(_FORMATS)}: {fmt}")
    spark = catalog.spark
    t = catalog.table(namespace, name)
    log = _load_log(t) if t.exists() else {}
    new_files = []
    for root, _dirs, files in os.walk(source_dir):
        for fn in sorted(files):
            if fn.startswith((".", "_")) or not fn.endswith(f".{fmt}"):
                continue
            full = os.path.join(root, fn)
            rel = os.path.relpath(full, source_dir)
            st = os.stat(full)
            key = f"{st.st_size}:{int(st.st_mtime * 1000)}"
            if log.get(rel) == key:
                continue
            new_files.append((rel, full, key))
    if not new_files:
        return {
            "loaded_files": 0,
            "skipped_files": len(log),
            "version": t._load().version if t.exists() else None,
        }
    reader = spark.read
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    if fmt == "csv":
        reader = reader.option("header", "true").option(
            "inferSchema", "true"
        )
    df = getattr(reader, fmt)(*[f for _, f, _ in new_files])
    version = catalog.write_evolving(df, namespace, name)
    for rel, _full, key in new_files:
        log[rel] = key
    _save_log(catalog.table(namespace, name), log)
    return {
        "loaded_files": len(new_files),
        "skipped_files": len(log) - len(new_files),
        "version": version,
    }
