"""Seeded operation lists — pure Python, no Spark.

Every workload's script is drawn here from ``--seed`` before anything is
timed: the same seed gives the same list, and nothing loops "until a time
budget is spent" (a faster commit would then run more nights on a bigger
corpus, and two commits would measure different tables). ``--seconds``
sets how many passes or nights the list holds: as many as it takes, at
the wall time of one unit measured on a calm 4-core host (``UNIT_S``),
to fill at least ``--seconds``. Under host steal the timed region runs
longer; the list never changes with speed.
"""

from __future__ import annotations

import math
import random

# read-only tier-1 registry queries and the operator module each one
# exercises (the engine's core DataFrame API counts as "relational")
QUERIES = {
    "q05_join_inner_agg": "relational",
    "q12_tpch_q1": "relational",
    "q18_window_topk": "relational",
    "q37_ngram_jaccard": "dedup",
    "q38_cosine_topk": "similarity",
    "q147_bm25_search": "text",
    "q95_bigram_counts": "text",
    "q71_text_chunking": "text",
    "q79_percentile_cont": "stats",
    "q70_profile_stats": "profile",
    "q187_degree_stats": "graph",
    "q49_stream_tumbling": "streaming",
}

# wall seconds of one unit (query pass / ingest night) after warm-up at
# local[4] on a 4-vCPU VM with under 1% steal: the timed region of 2 units
# took 16.4-17.2 s for query_mix (3 runs) and 12-15 s for corpus_ingest
# (10 runs, median 13.5 s, with adaptive query execution on; corpus_ingest
# runs with it off, and 2 nights then took 22-30 s at 4-18% steal, as long
# as with it on at the same steal)
UNIT_S = {"query_mix": 8.2, "corpus_ingest": 6.7}


def units(workload: str, seconds: float) -> int:
    return max(1, math.ceil(seconds / UNIT_S[workload]))


def query_passes(seed: int, passes: int) -> list[str]:
    """``passes`` full passes over QUERIES, each in its own seeded order."""
    rng = random.Random(f"query_mix/{seed}")
    ops: list[str] = []
    for _ in range(passes):
        names = sorted(QUERIES)
        rng.shuffle(names)
        ops += names
    return ops


def query_warmup(seed: int, passes: int) -> list[list[str]]:
    """Warm-up passes, ordered independently of the timed ones."""
    ops = query_passes(seed + 104729, passes)
    k = len(QUERIES)
    return [ops[i : i + k] for i in range(0, len(ops), k)]


# --- corpus_ingest -------------------------------------------------------------

BOOTSTRAP_DOCS = 200
NIGHT_NEW = 50
NIGHT_RECRAWLS = 6  # about 10% of a night
NIGHT_EDITED = 3  # about 5% of a night


def corpus_nights(nights: int, pool: int) -> list[dict]:
    """Night 0 (the bootstrap) plus ``nights`` incremental nights, cut
    from the unique document pool ``[0, pool)``. Each later night holds
    new documents, exact re-crawls and lightly edited copies of distinct
    documents already in the corpus. Expected outcome per night: the
    re-crawls fall to the exact dedup, the edited copies to the
    near-dedup, the new documents are ingested.

    The nights do not depend on the run's seed. Any seeded change to them
    that was tried (which documents, or only the order of each document's
    words) changed how many files the rollup refresh wrote, and with it
    the task count of every later scan (149.5 against 151 tasks per
    night), so job, stage and task counts could not be checked across
    runs."""
    rng = random.Random("corpus_ingest")
    order = list(range(pool))
    rng.shuffle(order)
    if BOOTSTRAP_DOCS + nights * NIGHT_NEW > pool:
        raise ValueError(f"{nights} nights need more than {pool} pool documents")
    plan = [{"new": order[:BOOTSTRAP_DOCS], "recrawl": [], "edited": []}]
    corpus = sorted(order[:BOOTSTRAP_DOCS])
    at = BOOTSTRAP_DOCS
    for _ in range(nights):
        picks = rng.sample(corpus, NIGHT_RECRAWLS + NIGHT_EDITED)
        new = order[at : at + NIGHT_NEW]
        plan.append(
            {
                "new": new,
                "recrawl": sorted(picks[:NIGHT_RECRAWLS]),
                "edited": sorted(picks[NIGHT_RECRAWLS:]),
            }
        )
        corpus = sorted(corpus + new)
        at += NIGHT_NEW
    return plan
