"""Seeded input data for the benchmark.

The benchmark never reads data from outside its checkout: it writes a
TPC-H-ish star schema plus the ``events``, ``documents`` and
``embeddings`` tables the registry queries read, with the schemas and
value domains of the engine's test data, at about scale factor 0.01.
The dataset is generated once per checkout from a fixed seed
(``DATA_SEED``) and cached; the run's ``--seed`` only decides the
operation lists (``plan.py``), so every run of a commit reads the same
tables and the per-op counters of two runs can be compared one to one.

The ``documents`` rows ``doc_id < POOL_DOCS`` are unique random texts
with no near-duplicate among them; corpus_ingest cuts its nights from
them. Rows above that id are lightly edited copies, so the dedup queries
have pairs to find. Document ``i`` has source ``i % 20`` and language
``(i // 20) % 5``, so every (source, lang) group of the corpus rollup
holds the same number of pool documents.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
VERSION = "v3"

N_CUSTOMER = 1500
N_SUPPLIER = 100
N_PART = 2000
N_ORDERS = 15000
N_LINEITEM = 60000
N_EVENTS = 10000
N_USERS = 150
N_EMBEDDINGS = 500
EMBED_DIM = 64
POOL_DOCS = 1200  # unique documents: the corpus_ingest pool
N_DOC_COPIES = 60  # lightly edited copies (doc_id >= POOL_DOCS)

WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "big stream filter group vector"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
N_SOURCES = 20
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
PART_ADJ = ("small", "large", "red", "blue", "hot", "cold", "old", "new")
PART_NOUN = ("ring", "plate", "widget", "gear", "rod", "bolt", "gizmo", "anvil")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")

_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds()) * 1_000_000


_DAY_US = 86_400 * 1_000_000


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform values with exactly two decimals (the engine sums cents)."""
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _days(rng, start: dt.datetime, end: dt.datetime, n: int) -> pa.Array:
    days = rng.integers(0, (end - start).days + 1, n)
    return pa.array(_us(start) + days * _DAY_US, pa.timestamp("us"))


def random_text(rng, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def edited_copy(text: str, salt: int) -> str:
    """A light edit: one word appended. With word 5-shingles and at least
    20 words, the copy keeps a Jaccard similarity above 0.94 to its
    original, far above the 0.7 near-dedup threshold."""
    return f"{text} {WORDS[salt % len(WORDS)]}"


def build_tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)]),
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_CUSTOMER)),
            "c_mktsegment": pa.array(
                [SEGMENTS[i] for i in rng.integers(0, 5, N_CUSTOMER)]
            ),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(N_SUPPLIER), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIER)]),
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_SUPPLIER)),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(N_PART), pa.int64()),
            "p_name": pa.array(
                [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(
                        rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART)
                    )
                ]
            ),
            "p_brand": pa.array(
                [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)]
            ),
            "p_type": pa.array([PART_TYPES[i] for i in rng.integers(0, 6, N_PART)]),
            "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
            "p_retailprice": pa.array(rng.integers(9000, 10000, N_PART) / 10.0),
        }
    )
    n = N_ORDERS
    dates = _days(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), n)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, n), pa.int64()),
            "o_orderstatus": pa.array(["POF"[i] for i in rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n)),
            "o_orderdate": dates,
            "o_orderpriority": pa.array(
                [PRIORITIES[i] for i in rng.integers(0, 5, n)]
            ),
        }
    )
    n = N_LINEITEM
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, N_ORDERS, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, N_PART, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 100000.0, n)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(["ANR"[i] for i in rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(["OF"[i] for i in rng.integers(0, 2, n)]),
            "l_shipdate": _days(
                rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), n
            ),
        }
    )
    n = N_EVENTS
    ts0 = _us(dt.datetime(2024, 1, 1))
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(
                np.sort(ts0 + rng.integers(0, 30 * _DAY_US, n)), pa.timestamp("us")
            ),
            "user_id": pa.array(rng.integers(0, N_USERS, n), pa.int64()),
            "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
            "value": pa.array(_money(rng, 0.01, 500.0, n)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )
    t["documents"] = documents(rng)
    emb = rng.normal(0.0, 0.125, (N_EMBEDDINGS, EMBED_DIM)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(N_EMBEDDINGS), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, N_EMBEDDINGS), pa.int32()),
        }
    )
    return t


def documents(rng) -> pa.Table:
    texts = [random_text(rng, int(k)) for k in rng.integers(20, 90, POOL_DOCS)]
    src = rng.choice(POOL_DOCS, N_DOC_COPIES, replace=False)
    texts += [edited_copy(texts[s], int(s)) for s in src]
    n = len(texts)
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[(i // N_SOURCES) % len(LANGS)] for i in range(n)]),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)]),
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )


def ensure_dataset(data_dir: str) -> str:
    """Write the tables under ``data_dir`` once; later calls reuse them.
    A ``_DONE`` marker written last makes a half-written directory
    (an interrupted first run) regenerate instead of being read."""
    marker = os.path.join(data_dir, "_DONE")
    if os.path.isfile(marker):
        return data_dir
    os.makedirs(data_dir, exist_ok=True)
    for name, table in build_tables().items():
        tmp = os.path.join(data_dir, f".{name}.parquet.{os.getpid()}.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(data_dir, f"{name}.parquet"))
    with open(marker, "w") as fh:
        fh.write(VERSION + "\n")
    return data_dir


def fingerprint(data_dir: str) -> str:
    """SHA-256 over the generated files, in name order."""
    h = hashlib.sha256()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            h.update(f.encode())
            with open(os.path.join(data_dir, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
