"""Deduplication operators for large-scale text corpora.

North-star extension (the reference has none of this): exact dedup,
MinHash+LSH near-dedup, SimHash, and exact n-gram Jaccard verification —
each expressed so the hot path stays JVM-side (built-in ``xxhash64``,
``transform``/``array_min`` HOFs) and every shuffle is keyed on something
bounded (band buckets, not documents).

Scale notes:
- MinHash signatures are per-row, embarrassingly parallel, no shuffle.
- LSH banding shuffles once on (band_index, band_hash); candidate pairs
  come from within-bucket self-joins. ``max_bucket_size`` drops
  pathological buckets (empty-ish shingle sets collide) instead of letting
  one hot bucket go quadratic — dropped buckets are observable in the
  returned stats rather than silently vanishing.
- Exact verification joins only candidate pairs, never the full cross
  product.
"""

from __future__ import annotations

import hashlib
import os

import pandas as pd  # noqa: F401  (pandas_udf type hints resolve via module globals)

from pyspark.sql import DataFrame, Window as W, functions as F

from ..checkpoint import unpersist_checkpoint

# scheme 2 = the round-10 hash-once form (string shingles keyed by
# xxhash64 once, per-function permutations re-hash the 64-bit keys).
# Scheme 1 (pre-round-10) re-hashed the strings per function; the two
# produce DIFFERENT signature values for the same text, so a store
# built under one scheme must never band against signatures from the
# other — identical docs would simply stop colliding, silently.
_MINHASH_SCHEME = "2"

#: Sentinel (and default) for the ``sigs_scheme`` argument of the
#: store-consuming dedup entry points: the caller VOUCHES the signature
#: frame was built in-process this session by this module's
#: :func:`minhash_signature` (the test / same-session path), so only the
#: signature-length check runs. It is deliberately NOT ``None``:
#: ``None`` is what ``props.get("minhash.scheme")`` yields on a
#: PERSISTED store that never recorded its scheme, and scheme-1
#: signatures have the same length but different values — banding them
#: against fresh scheme-2 signatures silently finds nothing. Threading
#: ``None`` therefore REFUSES (r12 verdict ask #8); thread a persisted
#: store's recorded property (stores managed by
#: :func:`reconcile_signature_store` always have one) or rebuild the
#: store.
SIGS_SCHEME_IN_PROCESS = "__sigs_built_in_process__"


def _check_sig_scheme(sigs_scheme: str | None, arg_name: str) -> None:
    """Refuse a signature store that would band incompatibly with fresh
    signatures and so find nothing, silently: a scheme-less or
    scheme-mismatched persisted store (see :data:`SIGS_SCHEME_IN_PROCESS`
    for the contract)."""
    if sigs_scheme is None:
        raise ValueError(
            f"{arg_name} is a persisted signature store with NO recorded "
            "minhash scheme (sigs_scheme=None — e.g. threaded from "
            'props.get("minhash.scheme") on a property-less store): '
            "scheme-1 signatures have the same length but different "
            "values, so banding them against freshly signed docs finds "
            "NOTHING. Thread the store's recorded property "
            '(props["minhash.scheme"]), pass '
            "sigs_scheme=SIGS_SCHEME_IN_PROCESS only for frames built "
            "in-process this session by minhash_signature, or rebuild "
            "the store (reconcile_signature_store)"
        )
    if (
        sigs_scheme != SIGS_SCHEME_IN_PROCESS
        and str(sigs_scheme) != _MINHASH_SCHEME
    ):
        raise ValueError(
            f"{arg_name} minhash scheme {sigs_scheme!r} != engine scheme "
            f"{_MINHASH_SCHEME!r}: scheme-1 signatures have the same "
            "length but different values, so banding them against "
            "freshly signed docs finds NOTHING — rebuild the signature "
            "store (reconcile_signature_store)"
        )


def _check_sig_len(lengths, num_hashes: int, arg_name: str) -> None:
    """Refuse a store built with a different ``num_hashes``: any of the
    signature ``lengths`` seen (None = no row seen) that differs."""
    bad = [n for n in lengths if n is not None and n != num_hashes]
    if bad:
        raise ValueError(
            f"{arg_name} signature length {bad[0]} != num_hashes "
            f"{num_hashes}: the store was built with different MinHash "
            "parameters and would band incompatibly (see "
            "reconcile_signature_store, which records parameters as "
            "table properties)"
        )


def _check_sig_store(
    sigs: DataFrame, sigs_scheme: str | None, num_hashes: int, arg_name: str
) -> None:
    """:func:`_check_sig_scheme`, then the signature length of one store
    row (a one-row limit probe job, not a store scan) for the entry
    points that run no action of their own to observe it on."""
    _check_sig_scheme(sigs_scheme, arg_name)
    probe = sigs.select(F.size("signature")).first()
    _check_sig_len(
        [None if probe is None else probe[0]], num_hashes, arg_name
    )


def normalized_words(text_col: str = "text") -> F.Column:
    """Lowercased word array (single-space tokenization)."""
    return F.split(F.lower(F.trim(F.col(text_col))), r"\s+")


def bind_once(expr: F.Column, build) -> F.Column:
    """Evaluate ``expr`` once per row and hand the VALUE to ``build``
    (Column -> Column) as a lambda variable.

    Higher-order-function lambdas are evaluated interpreted, per element,
    and any non-trivial expression referenced inside the lambda body is
    RE-EVALUATED on every element — ``transform(sequence(0, size(words)),
    i -> slice(words, ...))`` with ``words = split(text)`` re-tokenizes
    the whole document once per output element, O(len^2) per row (r13
    measurement: 20-40x on the shingle pass alone). Wrapping the
    expression as the single element of ``transform(array(expr), v ->
    build(v))`` makes every inner reference a lambda-variable lookup;
    the expression runs exactly once per row no matter how many times —
    or how deep inside nested lambdas — the built expression uses it.
    """
    return F.get(F.transform(F.array(expr), build), 0)


def shingles(words: F.Column, n: int = 5) -> F.Column:
    """Distinct word n-gram shingles of a word-array column.

    ``transform(sequence(...))`` keeps shingling JVM-side; documents
    shorter than n words yield a single whole-document shingle so they can
    still collide with near-identical short docs. The word array is bound
    once per row via :func:`bind_once` — the slice lambda must see a
    value, not the tokenizer expression (which it would otherwise
    re-evaluate per shingle position).
    """

    def build(w: F.Column) -> F.Column:
        joined = F.array_join(w, " ")
        ngrams = F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(w) - n, F.lit(0))),
            lambda i: F.array_join(F.slice(w, i + 1, n), " "),
        )
        return F.array_distinct(
            F.when(F.size(w) >= n, ngrams).otherwise(F.array(joined))
        )

    return bind_once(words, build)


def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup on content hash: keep one row per distinct text.

    groupBy on a 64-bit + md5 double hash rather than the raw text so the
    shuffle keys are fixed-width (100 TB discipline: never shuffle
    multi-KB strings as keys). The keep-one tiebreak orders by a single
    fixed-width ``xxhash64`` over all columns — deterministic for a given
    row multiset — instead of sorting multi-KB text payloads through the
    window (wide sort keys were a round-1 scale flag).
    """
    h = F.md5(F.col(text_col))
    tiebreak = F.xxhash64(*df.columns)
    return (
        df.withColumn("__h", h)
        .withColumn(
            "__rn",
            F.row_number().over(W.partitionBy("__h").orderBy(tiebreak)),
        )
        .where(F.col("__rn") == 1)
        .drop("__h", "__rn")
    )


def minhash_signature(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_size: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Per-document MinHash signature: hash every shingle STRING once
    (``xxhash64``), then derive each of the ``num_hashes`` permutations
    by re-hashing the 64-bit shingle keys with a per-function seed.
    Deterministic for a fixed seed. Entirely JVM-side expressions.

    Two-phase on purpose (round-10 probe finding): the phase-1 shingle
    keys are MATERIALIZED in their own projection, so the
    normalize -> split -> shingle -> concat -> string-hash pipeline
    runs once per document. The previous one-phase form inlined that
    pipeline into every one of the num_hashes ``array_min(transform)``
    expressions — 32 regex normalizations and 32x shingle-string
    construction per document — and the signature scan was 92% of the
    entire MinHash->LSH->verify->CC pipeline's wall clock at 1M docs
    (tools/probe_r10_dedup.py: sig 1427s of 1548s total). Catalyst
    does not re-inline the array across the projection boundary
    (CollapseProject keeps non-cheap multi-referenced producers), and
    the per-function re-hash now reads 8-byte longs instead of
    rebuilding ~30-char shingle strings. Each ``xxhash64(key, seed_i)``
    is an independent uniform map of the shingle universe, so the
    MinHash property (P[sig_i equal] = jaccard — what banding's
    S-curve is built on; tests/test_llm_ops.py pins it) is unchanged;
    the signature VALUES differ from the pre-round-10 scheme, which is
    why persistent signature stores carry ``minhash.scheme`` and
    reconcile_signature_store refuses to mix schemes.

    The num_hashes per-function minima are ONE SQL expression string,
    parsed once. Built as Python ``F.transform`` lambdas they cost py4j
    round trips per lambda (pyspark resolves its JVM helper classes by
    name each time): at K=32 on 10k docs, local[4] on a 4-vCPU VM, 10
    plan builds took 3.2-3.6 s that way and 0.8-1.0 s parsed, with
    identical signatures and execution time. Keep the K ``array_min``
    terms side by side: the nested ``transform(sequence(...), k ->
    array_min(transform(...)))`` form is value-identical but executed
    in 13-15 s against 1.4 s on the same input."""
    sh = shingles(normalized_words(text_col), shingle_size)
    keyed = df.select(
        F.col(id_col),
        F.transform(sh, lambda s: F.xxhash64(s)).alias("__shkeys"),
    )
    minima = ", ".join(
        f"array_min(transform(__shkeys, h -> xxhash64(h, {seed + i})))"
        for i in range(num_hashes)
    )
    sig = F.expr(f"array({minima})")
    return keyed.select(F.col(id_col), sig.alias("signature"))


def _band_hashes(
    signatures: DataFrame,
    id_col: str,
    num_bands: int,
    rows_per_band: int,
) -> DataFrame:
    """(id, band_idx, band_hash) rows from MinHash signatures — the LSH
    banding step shared by the self-join (lsh_candidate_pairs) and the
    cross-corpus (incremental_near_dedup) paths."""
    return signatures.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.slice(
                                "signature",
                                b * rows_per_band + 1,
                                rows_per_band,
                            ).cast("array<string>"),
                        )
                    )
                    for b in range(num_bands)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_bands: int = 8,
    max_bucket_size: int = 1000,
    sig_len: int | None = None,
    return_drop_stats: bool = False,
):
    """LSH banding over MinHash signatures -> distinct candidate pairs
    (a < b). Buckets larger than ``max_bucket_size`` are dropped (skew
    guard: a bucket of b members costs b^2/2 pairs, so one degenerate
    bucket — empty docs, boilerplate collapse — would go quadratic).

    The drop is never silent: with ``return_drop_stats=True`` the result
    is ``(pairs, drops)`` where ``drops`` is a one-row DataFrame
    ``(dropped_buckets, dropped_entries)`` — how many oversize buckets
    were discarded and how many (doc, band) memberships they held. At
    100 TB a hot bucket silently deleting recall is an audit failure;
    wire ``drops`` into the run's metrics. Pass ``sig_len`` to avoid a
    driver probe job."""
    n = num_bands
    if sig_len is None:
        sig_len = signatures.select(F.size("signature")).first()[0]
    rows_per_band = max(1, sig_len // n)

    bands = _band_hashes(signatures, id_col, n, rows_per_band)
    bucket_sizes = bands.groupBy("band_idx", "band_hash").agg(
        F.count(F.lit(1)).alias("__bucket_size")
    )
    # skew guard as a window count over the SAME (band_idx, band_hash)
    # hash partitioning the pair self-join needs — one reusable exchange
    # instead of an aggregate + semi-join pair (r13); `bucket_sizes`
    # stays for the drop-stats audit arm only (evaluated only if asked)
    guard_w = W.partitionBy("band_idx", "band_hash")
    bands_ok = (
        bands.withColumn(
            "__bucket_size", F.count(F.lit(1)).over(guard_w)
        )
        .where(F.col("__bucket_size") <= max_bucket_size)
        .drop("__bucket_size")
    )
    a = bands_ok.alias("a")
    b = bands_ok.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    if not return_drop_stats:
        return pairs
    drops = bucket_sizes.where(
        F.col("__bucket_size") > max_bucket_size
    ).agg(
        F.count(F.lit(1)).alias("dropped_buckets"),
        F.coalesce(F.sum("__bucket_size"), F.lit(0)).alias(
            "dropped_entries"
        ),
    )
    return pairs, drops


def signature_prefilter(
    pairs: DataFrame,
    sigs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    sig_col: str = "signature",
    margin_sigmas: float = 3.0,
) -> DataFrame:
    """OPT-IN candidate-pair prefilter for the exact-Jaccard verify
    stage (VERDICT r10 #5a): estimate each pair's Jaccard from the
    MinHash signatures the pipeline has ALREADY computed (fraction of
    agreeing positions; E[est] = true Jaccard, the MinHash property)
    and drop pairs whose estimate sits more than ``margin_sigmas``
    estimator standard deviations BELOW ``threshold`` — those pairs
    would be rejected by exact verify with overwhelming probability,
    so skipping them saves their share of the verify stage (62% of
    pipeline wall clock at 10M docs, PROBES_r10) while every pair that
    passes still goes through the exact-Jaccard gate (no false
    positives, ever).

    PROBABILISTIC, hence opt-in and NOT used by the tier-1 oracle
    faces: a true duplicate at exactly ``threshold`` survives the cut
    unless its signature estimate undershoots by ``margin_sigmas``
    sigmas — P(miss) <= Phi(-margin_sigmas) ~= 1.3e-3 at the default
    3.0 (est ~ Binomial(num_hashes, j)/num_hashes; sigma =
    sqrt(t(1-t)/num_hashes) ~= 0.081 at t=0.7, K=32, so the default
    cut is est >= ~0.457). Raise ``margin_sigmas`` for a safer, weaker
    filter; the exact gate downstream is always the final arbiter.

    WHEN TO USE (measured, tools/probe_r11_verify.py / PROBES_r11):
    for BLOCKING-sourced candidates (same URL stem / title / group
    key), whose Jaccard distribution is unconstrained and mostly low,
    the filter killed 99.99% of 1M candidate pairs and cut verify
    5.9x with zero true pairs lost. For LSH-sourced candidates it is
    structurally weak AND measured a net LOSS: band admission already
    conditions on signature agreement (a band match = rows_per_band
    agreeing positions), so admitted-but-false pairs carry
    upward-biased estimates that sit above the cut — and the filter's
    own cost (two joins of the pair list against the FULL signature
    store) exceeds the pruned one-pass verify when the admitted pair
    list is small. Do not stack it on lsh_candidate_pairs output;
    use it where candidates outnumber what exact verify can afford.

    NEVER a silent recall hole (ADVICE r11): the signature lookups
    are LEFT joins, and a pair with a missing signature on either
    side PASSES THROUGH to exact verify — blocking-sourced candidates
    (the stated use case) are exactly where unsigned docs appear, so
    an inner join here would delete pairs the exact gate never saw.
    The cut is derived per pair from the ACTUAL signature arrays
    (``K = least(size(a), size(b))``), not from a trusted parameter:
    a store shorter than a claimed num_hashes would otherwise push
    ``keep_min`` above the maximum possible agreements and drop every
    pair, true duplicates included.

    The comparison is ``agreements >= ceil((threshold -
    margin_sigmas * sqrt(t(1-t)/K)) * K)`` — deterministic for a
    given input (one float expression per pair; this operator is
    opt-in and never oracle-faced). Cost: two narrow equi-joins of
    the pair list against the signature store (32 longs/row) + a
    zip_with count — much cheaper per pair than fetching and
    intersecting two ~60-key shingle sets."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1]: {threshold}")
    s = sigs.select(F.col(id_col), F.col(sig_col))
    j = pairs.join(
        s.select(
            F.col(id_col).alias("id_a"), F.col(sig_col).alias("__sig_a")
        ),
        "id_a",
        "left",
    ).join(
        s.select(
            F.col(id_col).alias("id_b"), F.col(sig_col).alias("__sig_b")
        ),
        "id_b",
        "left",
    )
    agreements = F.size(
        F.filter(
            F.zip_with("__sig_a", "__sig_b", lambda x, y: x == y),
            lambda v: v,
        )
    )
    k = F.least(F.size("__sig_a"), F.size("__sig_b")).cast("double")
    cut = F.ceil(
        (
            F.lit(float(threshold))
            - F.lit(float(margin_sigmas))
            * F.sqrt(
                F.lit(float(threshold) * (1.0 - float(threshold))) / k
            )
        )
        * k
    )
    keep = (
        F.col("__sig_a").isNull()
        | F.col("__sig_b").isNull()
        | (agreements >= cut)
    )
    return j.where(keep).select(*pairs.columns)


def incremental_near_dedup(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    corpus_sigs: DataFrame | None = None,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    num_bands: int = 8,
    shingle_size: int = 5,
    seed: int = 42,
    max_bucket_size: int = 1000,
    sigs_scheme: str | None = SIGS_SCHEME_IN_PROCESS,
):
    """Near-dedup a NEW ingest batch against an EXISTING corpus without
    reprocessing the corpus — the fuzzy twin of the exact hash
    anti-join in :func:`ingest_corpus_increment`: continuous crawling
    re-collects lightly-edited copies of pages the corpus already
    holds, which an exact hash anti-join misses.

    The corpus cost model is the point: ``corpus_sigs`` is the
    MATERIALIZED signature store (``minhash_signature`` output,
    persisted once and appended per ingest — fixed-width rows, a tiny
    fraction of the text payload). Candidate generation LSH-bands the
    new batch and joins it against the corpus band hashes (band-keyed
    equi-join; oversize corpus buckets dropped by the same skew guard
    as lsh_candidate_pairs); verification computes exact shingle
    Jaccard ONLY for candidate pairs, fetching corpus text for just the
    candidate ids via an id join. Per ingest: O(new batch) map work +
    joins keyed on bands/ids — the corpus is never rescanned when sigs
    are provided (they are computed from ``corpus_docs`` on a first
    run).

    SCHEME COMPATIBILITY: caller-supplied ``corpus_sigs`` MUST hold
    scheme-2 (hash-once, round-10+) signatures — a persisted scheme-1
    frame has the same signature LENGTH, passes the length check,
    and silently yields zero candidates against the scheme-2
    signatures computed here for the new batch. The length check is
    an Observation of ``min``/``max(size(signature))`` riding the
    candidate checkpoint: every store row the banding reads, no job of
    its own, and the same ``ValueError`` as the other entry points'
    one-row probe. Stores
    managed by ``reconcile_signature_store`` record the scheme as the
    ``minhash.scheme`` table property and refuse on mismatch; when
    reading a store yourself, thread that property in as
    ``sigs_scheme`` and this function asserts it.

    The default ``sigs_scheme=SIGS_SCHEME_IN_PROCESS`` means the
    caller VOUCHES the signatures were built in-process by this
    module's :func:`minhash_signature` (the test / same-session path).
    ``None`` — what ``props.get("minhash.scheme")`` yields on a
    property-less persisted store — REFUSES (r12 ask #8): before the
    sentinel existed, such a None silently degraded to the length
    check, which scheme-1 signatures pass while banding to zero
    candidates. ``reconcile_signature_store`` refuses property-less
    stores outright; thread its recorded property here.

    Returns ``(kept_new_docs, dropped)`` where ``dropped`` holds
    (new id, matched corpus id, jaccard) for every verified match —
    the audit trail, per the no-silent-drops rule. The candidate list
    and the verified-match frame are materialized EAGERLY at call time
    (both tiny: pair ids / one row per match, GC-reclaimed), so
    consuming ``kept`` AND ``dropped`` costs one banding join and one
    verify — the previous fully-lazy form re-signed the new batch and
    re-ran the verify joins once per downstream action (r11)."""
    from pyspark.sql import Observation

    lengths = None
    if corpus_sigs is None:
        corpus_sigs = minhash_signature(
            corpus_docs, id_col, text_col, num_hashes, shingle_size, seed
        )
    else:
        _check_sig_scheme(sigs_scheme, "corpus_sigs")
        # the store's signature lengths ride the candidate checkpoint
        # below: every store row the banding reads is checked, and no
        # probe job of its own runs
        lengths = Observation()
        corpus_sigs = corpus_sigs.observe(
            lengths,
            F.min(F.size("signature")).alias("lo"),
            F.max(F.size("signature")).alias("hi"),
        )
    new_sigs = minhash_signature(
        new_docs, id_col, text_col, num_hashes, shingle_size, seed
    )
    rows_per_band = max(1, num_hashes // num_bands)
    nb = _band_hashes(new_sigs, id_col, num_bands, rows_per_band)
    # skew guard as a window count, as in lsh_candidate_pairs: the same
    # bucket sizes as an aggregate + semi-join, without the aggregate's
    # own broadcast job
    cb = (
        _band_hashes(corpus_sigs, id_col, num_bands, rows_per_band)
        .withColumn(
            "__n",
            F.count(F.lit(1)).over(W.partitionBy("band_idx", "band_hash")),
        )
        .where(F.col("__n") <= max_bucket_size)
        .drop("__n")
    )
    # materialize the candidate list ONCE (it is tiny — pair ids only):
    # it feeds the corpus-side prune AND the verify join, and without
    # this the caller's separate kept/dropped actions would each re-run
    # the whole banding join — re-signing the new batch per action (the
    # verify-skill N-fold-re-evaluation check; same class as the r11
    # rollup-delta finding). Bounded by candidates, GC-reclaimed.
    cand = (
        # the store side leads: the checkpoint then runs in the store
        # frame's session, whose listener completes the Observation (a
        # foreachBatch frame's cloned session may not carry it, and
        # the wait below would never end)
        cb.alias("c")
        .join(nb.alias("n"), ["band_idx", "band_hash"])
        .select(
            F.col(f"n.{id_col}").alias("__new_id"),
            F.col(f"c.{id_col}").alias("__corpus_id"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    if lengths is not None:
        # an empty side prunes the join, and Spark then completes the
        # Observation with an empty row, which .get cannot convert: no
        # store row was banded, as the old probe's None on an empty store
        seen = lengths.get if lengths._jo.getRow().length() else {}
        try:
            _check_sig_len(
                [seen.get("lo"), seen.get("hi")], num_hashes, "corpus_sigs"
            )
        except ValueError:
            unpersist_checkpoint(cand)
            raise

    def sh_set(df: DataFrame, out_id: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            F.array_sort(
                F.transform(
                    shingles(normalized_words(text_col), shingle_size),
                    lambda s: F.xxhash64(s),
                )
            ).alias(f"{out_id}_sh"),
        )

    new_sh = sh_set(new_docs, "__new_id")
    corp_ids = cand.select(F.col("__corpus_id").alias(id_col)).distinct()
    corp_sh = sh_set(
        corpus_docs.join(corp_ids, id_col, "left_semi"), "__corpus_id"
    )
    n_common = F.size(
        F.array_intersect(F.col("__new_id_sh"), F.col("__corpus_id_sh"))
    )
    verified = (
        cand.join(new_sh, "__new_id")
        .join(corp_sh, "__corpus_id")
        .select(
            "__new_id",
            "__corpus_id",
            (
                n_common
                / (
                    F.size("__new_id_sh")
                    + F.size("__corpus_id_sh")
                    - n_common
                )
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    # materialize the verified matches ONCE (tiny: one row per verified
    # near-dup): ``kept``'s anti-join consumes it AND callers count it
    # for the audit trail — without this every action re-runs the
    # shingle-set joins. Eager, bounded by matches, GC-reclaimed.
    dropped = verified.select(
        F.col("__new_id").alias(id_col),
        F.col("__corpus_id").alias("matched_corpus_id"),
        "jaccard",
    ).localCheckpoint(eager=True)
    kept = new_docs.join(
        dropped.select(id_col).distinct(), id_col, "left_anti"
    )
    return kept, dropped


_SIG_PROPS = (
    "minhash.num_hashes",
    "minhash.num_bands",
    "minhash.shingle_size",
    "minhash.seed",
    "minhash.scheme",
)


# the coverage bookmark of a signature store, set when the store is
# known to sign every id of the corpus: the corpus data batches it
# covers and the store version holding them (the incremental
# summaries' <kind>.source_version/target_version bookmark, operators/
# rollup.py, here keyed on batches, not the corpus
# version: a bloom-index build commits a corpus version adding no row)
_COVERS_PROP = "sigs.corpus_batches"
_AT_PROP = "sigs.store_version"


def _corpus_batches(corpus, snap) -> str:
    """Short digest of the snapshot's data batches: each batch's path
    relative to the table root and its row count, so equal histories in
    two warehouses give equal records."""
    parts = [
        f"{os.path.relpath(b['path'], corpus.path)}:"
        f"{sum((b.get('file_rows') or {}).values())}"
        for b in snap.batches
    ]
    return hashlib.sha1("\n".join(parts).encode()).hexdigest()[:16]


def _record_coverage(sigs_t, corpus_batches: str) -> None:
    sigs_t.set_properties(
        {_COVERS_PROP: corpus_batches, _AT_PROP: sigs_t._load().version}
    )


def sig_store_props(
    num_hashes: int, num_bands: int, shingle_size: int = 5, seed: int = 42
) -> dict[str, str]:
    """The table-property dict every MinHash signature store must carry
    — stamped at store CREATION (immediately after the first signature
    write) and never onto an existing store: a store found without
    ``minhash.scheme`` is refused by :func:`reconcile_signature_store`
    because its signatures may predate the hash-once scheme, and
    stamping would make that mismatch permanently undetectable."""
    return dict(
        zip(
            _SIG_PROPS,
            map(
                str,
                (num_hashes, num_bands, shingle_size, seed,
                 _MINHASH_SCHEME),
            ),
        )
    )


def reconcile_signature_store(
    catalog,
    namespace: str,
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    num_bands: int = 8,
    shingle_size: int = 5,
    seed: int = 42,
) -> int:
    """Make the ``<table>_sigs`` MinHash signature store complete and
    parameter-consistent with the corpus — run this BEFORE every
    incremental near-dedup pass. Closes two silent-recall holes in the
    append-only store discipline:

    1. Bootstrap: enabling near-dedup on a PRE-EXISTING corpus with no
       store used to compute corpus signatures on the fly but persist
       only the new batch's — every later run then read a partial
       store and missed near-dups against all pre-existing docs,
       forever. Here the first call backfills the whole corpus.
    2. Crash gap: a failure between ``corpus.append(kept)`` and the
       signature append leaves those docs absent from the store (the
       exact-hash anti-join drops them on replay before signatures are
       written). Each call re-signs exactly the corpus ids missing
       from the store, so the gap heals on the next run.

    Parameters are recorded as table properties on the store at
    creation; a later call with different parameters raises instead of
    banding incompatibly (which would yield zero candidates,
    silently).

    Cost per run: metadata only while the store's coverage bookmark
    (its ``sigs.corpus_batches`` and ``sigs.store_version`` properties)
    names the corpus's current data batches and the store's own head
    version. Set after every reconcile that ran the anti-join and after
    every signature append of :func:`ingest_corpus_increment`, it
    matches on a steady night, as a bloom-index build adds no batch.
    Once the corpus's batches have moved (a crash gap, an exact-only
    night, a compaction, a rollback) or the store has (a rollback, a
    compaction, a foreign write), one column-pruned id anti-join over
    the corpus (fixed-width keys) runs, plus signature work
    proportional to the MISSING rows only — O(corpus ids) scan, O(gap)
    compute. Like the anti-join itself, which matches on ids only, the
    bookmark assumes the store follows one corpus: drop the store with
    a dropped and rebuilt corpus.

    Returns the number of backfilled rows."""
    corpus = catalog.table(namespace, table)
    if not corpus.exists():
        return 0
    sigs_name = f"{table}_sigs"
    sigs_t = catalog.table(namespace, sigs_name)
    want = sig_store_props(num_hashes, num_bands, shingle_size, seed)
    snap = corpus._load()
    batches = _corpus_batches(corpus, snap)
    if sigs_t.exists():
        props = sigs_t.properties()
        recorded = {k: props[k] for k in _SIG_PROPS if k in props}
        bad = {k: (v, want[k]) for k, v in recorded.items() if v != want[k]}
        if bad:
            raise ValueError(
                f"signature store {namespace}.{sigs_name} was built "
                f"with different MinHash parameters: {bad} "
                "(stored != requested); rebuild the store or match "
                "the parameters"
            )
        if "minhash.scheme" not in recorded:
            # ANY existing store HOLDING SIGNATURES without a recorded
            # scheme — whether it has the other params (pre-round-10)
            # or none at all (pre-r7) — may hold scheme-1 signatures.
            # Banding those against scheme-2 signatures silently finds
            # nothing, and stamping scheme=2 onto them would make the
            # mismatch permanently undetectable. Refuse; never stamp a
            # non-empty store. An EMPTY property-less store carries no
            # such ambiguity (there are no signatures to mislabel) — it
            # is the footprint of a crash inside table creation — so it
            # is stamped and backfilled instead of wedging the
            # streaming sink / nightly job until a human drops it
            # (ADVICE r11). row_count() is metadata-only.
            if sigs_t.row_count() == 0:
                sigs_t.set_properties(want)
            else:
                raise ValueError(
                    f"signature store {namespace}.{sigs_name} has no "
                    f"recorded minhash.scheme; its signatures may "
                    f"predate the hash-once scheme ({_MINHASH_SCHEME}) "
                    "and cannot safely band against new ones — rebuild "
                    "the store (drop it and re-run "
                    "reconcile_signature_store)"
                )
        elif (props.get(_COVERS_PROP), props.get(_AT_PROP)) == (
            batches, str(sigs_t._load().version)
        ):
            return 0  # the bookmark matches: nothing can be missing
        missing = corpus.read(version=snap.version).join(
            sigs_t.read().select(id_col), id_col, "left_anti"
        )
    else:
        missing = corpus.read(version=snap.version)
    missing = missing.select(id_col, text_col)
    new_sigs = minhash_signature(
        missing, id_col, text_col, num_hashes, shingle_size, seed
    ).persist()
    try:
        n = new_sigs.count()
        if n:
            if not sigs_t.exists():
                # properties land WITH table creation, before any data
                # commit: a crash mid-creation leaves an EMPTY stamped
                # (or empty property-less, healed above) store, never
                # a signature-holding ambiguous one (ADVICE r11)
                catalog.create_namespace(namespace)
                sigs_t.create(new_sigs.schema, properties=want)
            sigs_t.append(new_sigs)
        if sigs_t.exists():
            _record_coverage(sigs_t, batches)
    finally:
        new_sigs.unpersist()
    return n


def corpus_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_size: int = 5,
    seed: int = 42,
    sigs: DataFrame | None = None,
    sigs_scheme: str | None = SIGS_SCHEME_IN_PROCESS,
) -> DataFrame:
    """(id, signature) MinHash coverage of ``docs``, store-backed:
    with ``sigs`` (a materialized ``minhash_signature`` store) given,
    only STORE-MISSING docs are signed fresh — one fixed-width id
    anti-join finds them — and store rows for ids outside ``docs``
    are semi-join-pruned (they would band phantom candidates).
    Without it, every doc is signed (the from-scratch path).

    Both membership joins BROADCAST their column-pruned id frame (8
    bytes/row): Catalyst sizes the build side by its SCAN bytes (the
    signature arrays / document text it will prune later), so without
    the hint it picks sort-merge joins that shuffle 1M signature arrays
    and document text, and the r12 probe measured the store path
    LOSING its ~35% saved signing time to those shuffles (0.96x at 1M
    docs). With the id frames broadcast, the store scan and the doc
    scan both stay map-side; 8 bytes/doc broadcasts comfortably to
    ~100M docs.

    Guards (shared with :func:`incremental_near_dedup`): a
    caller-threaded ``sigs_scheme`` must equal the engine scheme
    (thread the PERSISTED store's recorded property); ``None`` — the
    ``.get()`` result on a property-less store — REFUSES; the default
    :data:`SIGS_SCHEME_IN_PROCESS` means the caller vouches the sigs
    were built in-process this session. A one-row probe additionally
    refuses a store whose signature length differs from
    ``num_hashes``."""
    if sigs is None:
        return minhash_signature(
            docs, id_col, text_col, num_hashes, shingle_size, seed
        )
    _check_sig_store(sigs, sigs_scheme, num_hashes, "sigs")
    store = sigs.select(F.col(id_col), F.col("signature")).join(
        F.broadcast(docs.select(id_col)), id_col, "left_semi"
    )
    unsigned = docs.join(
        F.broadcast(sigs.select(id_col)), id_col, "left_anti"
    )
    return minhash_signature(
        unsigned, id_col, text_col, num_hashes, shingle_size, seed
    ).unionByName(store)


def batch_near_dedup(
    docs: DataFrame,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    num_bands: int = 8,
    shingle_size: int = 5,
    seed: int = 42,
    max_bucket_size: int = 1000,
    sigs: DataFrame | None = None,
    sigs_scheme: str | None = SIGS_SCHEME_IN_PROCESS,
    quality_col: str | None = None,
    return_pairs: bool = False,
):
    """Whole-corpus near-dedup, one call: MinHash sign -> LSH band ->
    exact-Jaccard verify -> connected components -> keep one document
    per duplicate cluster (lowest id, or the best ``quality_col``
    member via :func:`dedup_keep_best`). The batch composition the
    curation job and the q74/q115-family faces build by hand, now with
    a signature-store input.

    ``sigs`` (VERDICT r11 #3): the MATERIALIZED signature store — a
    frame of ``(id_col, signature)`` from :func:`minhash_signature`,
    e.g. the ``<table>_sigs`` lakehouse table
    :func:`reconcile_signature_store` maintains for the incremental
    path. The signature scan was ~56% of the clean 10M-doc pipeline's
    wall clock (PROBES_r11) and is pure recompute when a store exists:
    with ``sigs`` given, only STORE-MISSING docs are signed (one
    fixed-width id anti-join finds them); store rows for ids outside
    ``docs`` are semi-join-pruned so they can never band phantom
    candidates. Same guards as :func:`incremental_near_dedup`: a
    caller-threaded ``sigs_scheme`` must equal the engine scheme
    (thread the store's recorded table property; ``None`` — the
    ``.get()`` result on a property-less store — REFUSES; the default
    :data:`SIGS_SCHEME_IN_PROCESS` means the caller vouches the sigs
    were built in-process), and a one-row probe refuses a store whose
    signature length differs from ``num_hashes`` (it would band
    incompatibly and silently find nothing).

    The candidate pair list and the verified match list are
    materialized EAGERLY (both tiny — two ids / one row per verified
    pair): candidates feed the verify join twice (member prune +
    shingle attach) and the verified pairs feed clustering AND the
    caller's audit read, so the lazy form re-ran banding per action
    (the r11 incremental finding, same fix). Scale shape is the
    composed operators': per-row sign work, one band-keyed shuffle
    with the hot-bucket guard, verify joins bounded by candidates,
    O(log n) CC rounds on the pair set only, and the untouched bulk
    exits via an anti-join on ids.

    Returns the deduped corpus; ``return_pairs=True`` returns
    ``(kept, verified_pairs)`` where the pair frame carries
    (id_a, id_b, n_common, n_a, n_b, jaccard, containment)."""
    all_sigs = corpus_signatures(
        docs,
        id_col=id_col,
        text_col=text_col,
        num_hashes=num_hashes,
        shingle_size=shingle_size,
        seed=seed,
        sigs=sigs,
        sigs_scheme=sigs_scheme,
    )
    cand = lsh_candidate_pairs(
        all_sigs,
        id_col=id_col,
        num_bands=num_bands,
        max_bucket_size=max_bucket_size,
        sig_len=num_hashes,
    ).localCheckpoint(eager=True)
    verified = (
        jaccard_pairs(
            docs,
            pairs=cand,
            id_col=id_col,
            text_col=text_col,
            shingle_size=shingle_size,
        )
        .where(F.col("jaccard") >= threshold)
        .localCheckpoint(eager=True)
    )
    if quality_col is not None:
        kept = dedup_keep_best(
            docs, verified, quality_col=quality_col, id_col=id_col,
            # jaccard_pairs groups by (id_a, id_b) with id_a < id_b —
            # distinct by construction (r14: skips the edge-dedup
            # exchange inside connected_components)
            pairs_distinct=True,
        )
    else:
        cc = connected_components(
            verified.select("id_a", "id_b"), pairs_distinct=True
        )
        drop = cc.where(F.col("id") != F.col("cluster_id")).select(
            F.col("id").alias(id_col)
        )
        kept = docs.join(drop, id_col, "left_anti")
    if return_pairs:
        return kept, verified
    return kept


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_size: int = 5,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (or all co-shingled
    pairs when ``pairs`` is None): explode distinct shingles, self-join on
    shingle, count intersections, divide by union sizes. Returns
    (id_a, id_b, n_common, n_a, n_b, jaccard, containment) —
    ``containment`` is the overlap coefficient n_common/min(n_a, n_b),
    the asymmetric signal that catches a small document embedded
    verbatim inside a big one (jaccard stays low there because the big
    doc's extra shingles inflate the union; quote-heavy and
    concatenated-page corpora dedup on containment, not jaccard).

    Shingles are keyed on ``xxhash64(shingle)``, not the shingle string —
    fixed-width shuffle keys (multi-word shingles are long); a 64-bit
    collision would need ~2^32 distinct shingles to matter.

    Two physically distinct plans (100 TB discipline):

    - ``pairs`` given (the LSH pipeline): each candidate pair explodes
      into its two member ids (a 2-row Generate per pair — NOT a
      shingle explode), the corpus is semi-join-pruned to member ids,
      the normalize→shingle→hash pipeline runs ONCE over exactly the
      documents that appear in a pair, one equi-join attaches each
      member's shingle-key set, and a groupBy on (id_a, id_b)
      reassembles the pair for the ``array_intersect``. The r10 probe
      found verify at 62% of the near-dedup pipeline's wall clock; the
      pre-r11 two-join form computed the shingle pipeline TWICE over
      the FULL corpus (once per join side, no pruning), which was most
      of that cost. ``pairs`` is consumed twice (member-id prune + the
      join) — persist it when it is expensive to recompute (it is two
      longs per row; this is not the array-frame persist the r10 A/B
      rejected). Duplicate (id_a, id_b) input rows collapse to one
      output row (candidate pairs are a set; lsh_candidate_pairs
      already emits distinct pairs). The quadratic
      all-co-shingled-pairs relation is NEVER built, so a hot shingle
      shared by 10k docs costs nothing beyond its candidates.
    - ``pairs`` None (exhaustive mode, small corpora): the classic
      explode + self-join on shingle hash. The hashed shingle relation
      feeds three consumers (both join sides + the size agg), so it is
      persisted — the reference's multi-consumer persist pattern
      (job.py:51,62), memory+disk here.
    """
    from pyspark import StorageLevel

    if pairs is not None:
        p = pairs.select("id_a", "id_b")
        sides = p.select(
            "id_a",
            "id_b",
            F.explode(F.array("id_a", "id_b")).alias("__m"),
        )
        need = sides.select(F.col("__m").alias(id_col)).distinct()
        sh_sets = df.join(need, id_col, "left_semi").select(
            F.col(id_col).alias("__m"),
            F.array_sort(
                F.transform(
                    shingles(normalized_words(text_col), shingle_size),
                    lambda s: F.xxhash64(s),
                )
            ).alias("__sh"),
        )
        per_pair = (
            sides.join(sh_sets, "__m")
            .groupBy("id_a", "id_b")
            .agg(
                F.first(
                    F.when(F.col("__m") == F.col("id_a"), F.col("__sh")),
                    ignorenulls=True,
                ).alias("__sh_a"),
                F.first(
                    F.when(F.col("__m") == F.col("id_b"), F.col("__sh")),
                    ignorenulls=True,
                ).alias("__sh_b"),
            )
            # a member id absent from df leaves its side NULL (the old
            # two-inner-join form dropped the pair); same-id pairs get
            # the same array on both sides from their two member rows
            .where(
                F.col("__sh_a").isNotNull() & F.col("__sh_b").isNotNull()
            )
        )
        return (
            per_pair.select(
                "id_a",
                "id_b",
                F.size(F.array_intersect("__sh_a", "__sh_b")).alias("n_common"),
                F.size("__sh_a").alias("n_a"),
                F.size("__sh_b").alias("n_b"),
            )
            # the self-join formulation only ever surfaces co-shingled pairs
            .where(F.col("n_common") >= 1)
            .withColumn(
                "jaccard",
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
            )
            .withColumn(
                "containment",
                F.col("n_common").cast("double")
                / F.least("n_a", "n_b"),
            )
        )

    sh = df.select(
        F.col(id_col),
        F.explode(
            F.transform(
                shingles(normalized_words(text_col), shingle_size),
                lambda s: F.xxhash64(s),
            )
        ).alias("s"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(
        F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a")
    )
    sb = sizes.select(
        F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b")
    )
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_common",
            "n_a",
            "n_b",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
            (
                F.col("n_common").cast("double")
                / F.least("n_a", "n_b")
            ).alias("containment"),
        )
    )


def simhash_fold(bits: int = 64):
    """Vectorized SimHash bit-majority fold: array<token xxhash64> ->
    one signed 64-bit signature. Shared by text :func:`simhash` and the
    codec-free media fingerprint (``multimodal.perceptual_fingerprint``)
    — the token hashing stays JVM-side in both; only the 64-way bit
    vote runs in numpy (built-in expressions cannot express it without
    64 parallel aggregates)."""
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def fold(hashes: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for arr in hashes:
            if arr is None or len(arr) == 0:
                out.append(0)
                continue
            h = np.asarray(arr, dtype=np.uint64)
            cols = ((h[:, None] >> np.arange(bits, dtype=np.uint64)) & 1).astype(
                np.int64
            )
            votes = (2 * cols - 1).sum(axis=0)
            sig = np.uint64(0)
            for i, v in enumerate(votes):
                if v > 0:
                    sig |= np.uint64(1) << np.uint64(i)
            out.append(np.int64(sig))
        return pd.Series(out)

    return fold


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """64-bit SimHash over word tokens via a vectorized Pandas UDF: Spark
    computes the per-token xxhash64 JVM-side; numpy folds token hashes into
    the signature (bit-majority), which built-in expressions cannot express
    without 64 parallel aggregates."""
    fold = simhash_fold(bits)
    token_hashes = F.transform(
        normalized_words(text_col), lambda w: F.xxhash64(w)
    )
    return df.select(F.col(id_col), fold(token_hashes).alias("simhash"))


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    pairs_distinct: bool = False,
) -> DataFrame:
    """Cluster near-duplicate pairs into components: returns (id, cluster_id)
    where cluster_id is the component's minimum member id — the canonical
    representative a dedup pipeline keeps.

    Min-label propagation WITH pointer doubling: each round every vertex
    first takes the min label in its closed neighborhood (one hop), then
    shortcuts to its label's label (``label(v) <- label(label(v))``). The
    shortcut step is what actually doubles the propagation distance per
    round, giving true O(log(diameter)) convergence — a 1M-hop chain
    resolves in ~20 rounds, where plain one-hop propagation would need 1M
    (and previously returned silently-split clusters past ``max_iter``).

    The one-hop step is MESSAGE-PASSING, not a labels-side join chain
    (r13): each symmetric edge delivers ``label(src)`` to ``dst`` (one
    join keyed on src), vertices' own labels ride the same aggregation
    as a union branch, and one ``min`` per vertex folds both — one join
    + one aggregation where the previous shape paid a join + aggregation
    + a second labels-sized join. Round 1 needs NO join at all: labels
    are identity, so each edge's message is just ``least(src, dst)``
    and the initial (distinct-vertex) labels frame never materializes.
    Per-round label trajectories are identical to the join-chain shape
    — same rounds, same outputs. Intermediate results are
    localCheckpointed to keep lineage flat, the loop stops when a round
    changes nothing (an Observation riding the checkpoint action), and
    exhausting ``max_iter`` without convergence RAISES rather than
    returning wrong clusters.

    ``pairs_distinct=True`` is the caller's assertion that ``pairs``
    already holds each undirected pair once with ``id_a < id_b`` (what
    ``cosine_near_dups`` and ``jaccard_pairs`` emit by construction):
    the symmetric union then cannot contain duplicates, so the
    edge-dedup exchange is skipped (r14 — one fewer shuffle in the
    round-1 action). Min-label propagation is IDEMPOTENT over
    duplicate messages, so a mis-assertion costs only wasted per-round
    join width, never a wrong label."""
    from pyspark import StorageLevel

    edges = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).unionByName(
        pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    )
    if not pairs_distinct:
        edges = edges.distinct()
    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    labels = None  # round 1 labels are the identity map — never built
    from pyspark.sql import Observation

    def plan_round(prev):
        """Plan ONE min-label + pointer-doubling round on top of
        ``prev`` (None = identity labels, the round-1 special case) —
        no action; returns (labels-with-__old plan, Observation whose
        ``changed`` fires when the checkpoint action evaluates the
        plan)."""
        if prev is None:
            # round 1: label(u) == u, so vertex v's closed-neighborhood
            # min is min over its edges of least(src, dst) — a single
            # map-side-combinable aggregation, zero joins
            one_hop = (
                edges.groupBy(F.col("dst").alias("id"))
                .agg(F.min(F.least("src", "dst")).alias("label"))
                .withColumn("__old", F.col("id"))
            )
        else:
            # rounds 2+: each edge delivers label(src) to dst; the
            # vertex's own (pre-round) label joins the same aggregation
            # as a union branch, tagged as __old (exactly one non-null
            # per vertex, so min() recovers it for the convergence
            # check) — one join + one aggregation, vs the previous
            # join + agg + second labels-sized join
            null_old = F.lit(None).cast(prev.schema["label"].dataType)
            one_hop = (
                edges.join(prev, edges.src == prev.id)
                .select(
                    F.col("dst").alias("id"),
                    F.col("label"),
                    null_old.alias("__old"),
                )
                .unionByName(
                    prev.select(
                        "id", "label", F.col("label").alias("__old")
                    )
                )
                .groupBy("id")
                .agg(
                    F.min("label").alias("label"),
                    F.min("__old").alias("__old"),
                )
            )
        # pointer doubling: label(v) <- label(label(v)). Labels only
        # ever decrease and every label IS a vertex id present in
        # `one_hop`, so the self-join always hits; the coalesce is
        # belt-and-braces for a label that is already a root
        # (label(root) == root).
        lbl = one_hop.select(
            F.col("id").alias("l_id"), F.col("label").alias("l_label")
        )
        doubled = one_hop.join(
            lbl, one_hop.label == lbl.l_id, "left"
        ).select(
            "id",
            F.least(
                F.col("label"), F.coalesce("l_label", "label")
            ).alias("label"),
            "__old",
        )
        obs = Observation()
        return (
            doubled.observe(
                obs,
                F.sum(
                    (F.col("label") != F.col("__old")).cast("long")
                ).alias("changed"),
            ),
            obs,
        )

    # ONE round per checkpoint action, deliberately. Fusing two rounds
    # into one action was tried and MEASURED WORSE (r13 batch 2): the
    # inner round's plan is referenced twice by the message join/union
    # and twice again by each doubling self-join, so the un-materialized
    # round-A subplan executes up to 8x inside the fused action — AQE
    # scheduled 45 jobs where the unfused loop scheduled 29 (q74).
    # Exchange reuse does not collapse the copies reliably; the
    # checkpoint per round is what makes each round's plan execute once.
    # localCheckpoint (not just persist): each round's plan would
    # otherwise nest the previous round's, growing the lineage — and
    # with it planning time — linearly in iterations. The changed-label
    # count is an Observation on the SAME action (the eager checkpoint
    # materializes every row, so the metric is complete) — the previous
    # separate join+count job per round was pure overhead.
    changed = 0
    rounds = 0
    while rounds < max_iter:
        plan_a, obs_a = plan_round(labels)
        new_labels = plan_a.drop("__old").localCheckpoint(eager=True)
        changed = obs_a.get["changed"] or 0
        rounds += 1
        if labels is not None:
            # later rounds' labels are localCheckpoints —
            # unpersist_checkpoint releases their blocks (a plain
            # DataFrame.unpersist() is a silent no-op on checkpointed
            # frames: it would leak one block per round)
            unpersist_checkpoint(labels)
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter"
        )
    return labels.select(F.col("id"), F.col("label").alias("cluster_id"))


def dedup_keep_best(
    docs: DataFrame,
    pairs: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
    pairs_distinct: bool = False,
) -> DataFrame:
    """Near-dup resolution that keeps the BEST member of each duplicate
    cluster instead of an arbitrary canonical id: cluster the verified
    pair list with :func:`connected_components`, then keep the
    highest-``quality_col`` member per cluster (tiebreak: lowest id);
    documents in no pair pass through untouched.

    Scale shape: components run on the PAIR set only (edges << corpus);
    the winner pick is one window over cluster MEMBERS only (an inner
    join pulls just those rows); the untouched bulk of the corpus exits
    via a broadcast-able anti-join and never reshuffles. No step touches
    text payloads — only ids and the quality scalar move."""
    # (id, cluster_id), id = member — renamed up front so drop-by-name
    # can't also remove the caller's column when id_col == "id"
    cc = connected_components(
        pairs, pairs_distinct=pairs_distinct
    ).withColumnRenamed("id", "__cc_id")
    members = docs.join(
        cc, docs[id_col] == cc["__cc_id"], "inner"
    ).drop("__cc_id")
    w = W.partitionBy("cluster_id").orderBy(
        F.desc(quality_col), F.asc(id_col)
    )
    best = (
        members.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "cluster_id")
    )
    rest = docs.join(cc, docs[id_col] == cc["__cc_id"], "left_anti")
    return best.unionByName(rest)


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    flag_only: bool = False,
) -> DataFrame:
    """Benchmark decontamination: drop corpus documents sharing ANY word
    n-gram with a benchmark/eval set (the training-data hygiene step that
    keeps test sets out of the corpus; same shape as the reference's
    dedup stage but against an external small side).

    Scale shape: the benchmark is eval-set-sized, so its distinct
    shingle set BROADCASTS; the corpus side is a map-only shingle
    explode + broadcast semi-join + distinct on ids — no all-to-all
    shuffle of corpus text at any corpus size. ``flag_only=True`` returns
    every doc with a ``contaminated`` boolean instead of filtering.
    """
    doc_sh = docs.select(
        F.col(id_col),
        F.explode(shingles(normalized_words(text_col), n)).alias("__s"),
    )
    bench_sh = benchmark.select(
        F.explode(shingles(normalized_words(text_col), n)).alias("__s")
    ).distinct()
    hit = (
        doc_sh.join(F.broadcast(bench_sh), "__s", "left_semi")
        .select(id_col)
        .distinct()
    )
    if flag_only:
        flags = hit.withColumn("__hit", F.lit(True))
        return (
            docs.join(flags, id_col, "left")
            .withColumn(
                "contaminated", F.coalesce(F.col("__hit"), F.lit(False))
            )
            .drop("__hit")
        )
    return docs.join(hit, id_col, "left_anti")


def semantic_dedup(
    docs: DataFrame,
    embeddings: DataFrame,
    quality_col: str,
    dim: int,
    threshold: float = 0.9,
    id_col: str = "doc_id",
    emb_id_col: str = "vec_id",
    vec_col: str = "embedding",
    return_drop_stats: bool = False,
    **near_dup_kwargs,
):
    """Embedding-based semantic dedup, keep-best: LSH-bucketed cosine
    near-dup pairs over the embedding table, clustered and resolved to
    the highest-``quality_col`` member per cluster — the SemDeDup-style
    pipeline composed from this module's primitives
    (:func:`~spark_iceberg_schema_evolution_spark.operators.similarity.cosine_near_dups`
    -> :func:`connected_components` -> :func:`dedup_keep_best`).

    ``docs`` and ``embeddings`` join on ``id_col``/``emb_id_col``; docs
    without an embedding can never pair, so they pass through untouched
    (same anti-join shape as keep-best's unpaired bulk). All scale
    properties are inherited: subquadratic candidate generation with the
    bucket-size skew guard, O(log d) clustering rounds, and a corpus
    that never reshuffles except for cluster members.

    ``return_drop_stats=True`` threads the LSH skew guard's audit
    through: returns ``(kept_docs, drops)`` where ``drops`` is
    :func:`cosine_near_dups`'s one-row
    ``(dropped_buckets, dropped_entries)`` DataFrame — members of a
    dropped hot bucket silently survive dedup, so production runs
    should record it."""
    from spark_iceberg_schema_evolution_spark.operators.similarity import (
        cosine_near_dups,
    )

    out = cosine_near_dups(
        embeddings.select(
            F.col(emb_id_col), F.col(vec_col)
        ),
        dim=dim,
        threshold=threshold,
        id_col=emb_id_col,
        vec_col=vec_col,
        return_drop_stats=return_drop_stats,
        **near_dup_kwargs,
    )
    pairs, drops = out if return_drop_stats else (out, None)
    kept = dedup_keep_best(
        docs, pairs, quality_col=quality_col, id_col=id_col,
        # cosine_near_dups dropDuplicates (id_a < id_b) — distinct by
        # construction (r14)
        pairs_distinct=True,
    )
    if return_drop_stats:
        return kept, drops
    return kept


def span_duplication_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Exact duplicated-span measurement at shingle granularity — the
    signal behind substring-level dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better": long
    verbatim spans repeated across documents, licenses, disclaimers,
    templated boilerplate). For every document: ``n_shingles`` (its
    distinct word n-grams), ``n_dup`` (those appearing in at least
    ``min_docs`` documents corpus-wide), and ``dup_frac`` — filter or
    route docs above a duplication cut, or feed the heavy tail to a
    span-stripping pass.

    Scale shape: shingles travel as ``xxhash64`` keys (fixed-width, the
    module discipline — never multi-word strings through a shuffle).
    One aggregate finds hot shingles, one hash join attributes them
    back, one id-keyed aggregate folds per document: three bounded
    shuffles, no self-join, nothing quadratic (contrast the all-pairs
    Jaccard relation — this measures span sharing without materializing
    pairs)."""
    sh = df.select(
        F.col(id_col),
        F.explode(shingles(normalized_words(text_col), n)).alias("__s"),
    ).select(id_col, F.xxhash64("__s").alias("__h"))
    hot = (
        sh.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__docs"))
        .where(F.col("__docs") >= min_docs)
        .select("__h", F.lit(1).alias("__hot"))
    )
    per_doc = (
        sh.join(hot, "__h", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("__hot"), F.lit(0))).alias("n_dup"),
        )
    )
    return df.join(per_doc, id_col, "left").withColumn(
        "dup_frac",
        F.col("n_dup") / F.col("n_shingles"),
    )


def contamination_stats(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Graded benchmark contamination: per-document distinct-shingle
    overlap against the benchmark's shingle set — ``n_shingles``,
    ``n_overlap``, and ``overlap_frac`` columns on every doc. Where
    ``decontaminate`` applies the any-hit drop rule, this is the
    measurement behind threshold policies (the GPT-3/Llama appendix
    style: drop above X% n-gram overlap, audit the middle band):
    filter ``overlap_frac`` at whatever cut the run calls for.

    Scale shape: same as decontaminate — the benchmark's distinct
    shingles BROADCAST; the corpus side is a map-side shingle explode +
    broadcast hash join, then ONE aggregate shuffle on the doc id.
    Docs whose text yields no shingles keep NULL stats (nothing to
    measure), never a fake zero."""
    doc_sh = docs.select(
        F.col(id_col),
        F.explode(shingles(normalized_words(text_col), n)).alias("__s"),
    )
    bench_sh = (
        benchmark.select(
            F.explode(shingles(normalized_words(text_col), n)).alias(
                "__s"
            )
        )
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    per = (
        doc_sh.join(F.broadcast(bench_sh), "__s", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias(
                "n_overlap"
            ),
        )
    )
    return docs.join(per, id_col, "left").withColumn(
        "overlap_frac",
        F.col("n_overlap").cast("double") / F.col("n_shingles"),
    )


def ingest_corpus_increment(
    catalog,
    namespace: str,
    table: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    near_threshold: float | None = None,
    num_hashes: int = 32,
    num_bands: int = 8,
) -> tuple[dict, DataFrame]:
    """One corpus increment, the step behind the nightly ingest job and
    the streaming dedup sink: append to ``namespace.table`` only the new
    documents whose content neither the corpus nor the batch itself
    already holds. The corpus never rewrites; the work is O(batch):

    1. exact dedup within the batch, then an anti-join against the
       corpus' md5 content hashes (column-pruned scan, fixed-width
       keys);
    2. with ``near_threshold`` set (None = exact only) and a corpus to
       match: heal the ``<table>_sigs`` store
       (:func:`reconcile_signature_store`), checkpoint the batch
       eagerly — near-dedup's candidates, its dropped ids and the kept
       count would otherwise each rerun the exact-dedup window and the
       md5 over the corpus text — and :func:`incremental_near_dedup`;
    3. persist and count the survivors, append them (creating the
       corpus on the first increment) and, with near-dedup on, their
       signatures to the store. The store is created WITH its
       :func:`sig_store_props`, before any data commit, so a crash
       mid-creation leaves an empty store reconcile can heal, never a
       property-less one holding signatures (ADVICE r11).

    A fully duplicate increment commits nothing. Returns ``(report,
    kept)``: ``report`` holds ``ingested`` and, when near-dedup ran,
    ``sigs_backfilled`` and ``near_dup_dropped``; ``kept`` is the
    PERSISTED survivor frame for downstream refreshes, which the
    caller unpersists (the step does so itself if it raises)."""
    corpus = catalog.table(namespace, table)
    sigs_t = catalog.table(namespace, f"{table}_sigs")
    report = {}
    kept = exact_dedup(new_docs, text_col=text_col)
    if corpus.exists():
        existing = corpus.read().select(F.md5(F.col(text_col)).alias("__h"))
        kept = (
            kept.withColumn("__h", F.md5(F.col(text_col)))
            .join(existing, "__h", "left_anti")
            .drop("__h")
        )
        if near_threshold is not None:
            report["sigs_backfilled"] = reconcile_signature_store(
                catalog,
                namespace,
                table,
                id_col=id_col,
                text_col=text_col,
                num_hashes=num_hashes,
                num_bands=num_bands,
            )
            kept, dropped = incremental_near_dedup(
                kept.localCheckpoint(eager=True),
                corpus.read(),
                corpus_sigs=sigs_t.read(),
                # index, don't .get(): a property-less store must raise
                # here, not silently skip the scheme check (ADVICE r11)
                sigs_scheme=sigs_t.properties()["minhash.scheme"],
                threshold=near_threshold,
                id_col=id_col,
                text_col=text_col,
                num_hashes=num_hashes,
                num_bands=num_bands,
            )
            report["near_dup_dropped"] = (
                dropped.select(id_col).distinct().count()
            )
    kept = kept.persist()
    try:
        n = report["ingested"] = kept.count()
        if n:
            if corpus.exists():
                corpus.append(kept)
            else:
                catalog.write_evolving(kept, namespace, table)
            if near_threshold is not None:
                sigs = minhash_signature(
                    kept, id_col=id_col, text_col=text_col,
                    num_hashes=num_hashes,
                )
                if not sigs_t.exists():
                    catalog.create_namespace(namespace)
                    sigs_t.create(
                        sigs.schema,
                        properties=sig_store_props(num_hashes, num_bands),
                    )
                sigs_t.append(sigs)
                # reconcile left the store complete for the corpus
                # before this append, and both appends landed
                _record_coverage(
                    sigs_t, _corpus_batches(corpus, corpus._load())
                )
    except BaseException:
        kept.unpersist()
        raise
    return report, kept
