"""Incremental materialized rollup maintenance (IVM).

The hypertable-style continuous aggregate: a rollup table holding
``GROUP BY <keys> -> COUNT(*), SUM(col)...`` over a source lakehouse
table, refreshed INCREMENTALLY from the source's row-level CDC
(``diff()``: I/D tagged rows) instead of recomputed from scratch. The
delta math is the classic additive-aggregate IVM rule: each group's
count moves by ``Σ(+1 for I, -1 for D)`` and each sum by the signed
value total — exact for COUNT/SUM under inserts, deletes, AND updates
(an update is one D and one I), which is why the rollup schema is
restricted to additive aggregates. AVG derives as sum/count at query
time; MIN/MAX are not incrementally maintainable under deletes without
per-group history and are deliberately not offered.

Scale shape: the hash aggregate and the MERGE into the rollup track
the DELTA size, but deriving the delta has two very different costs:

- ``source.diff(a, b)`` (the generic path) is two ``exceptAll``s —
  FOUR snapshot scans with full-row shuffles. Correct for arbitrary
  writers, but O(source) per refresh: the r11 streaming probe
  (tools/probe_r11_streaming.py) measured it at 5-6x the MERGE's own
  cost per epoch at 10M rows, growing with the corpus.
- ``delta_hint`` (the fast path): a writer that KNOWS its own change
  set — the streaming upsert sink knows the epoch's batch is the
  post-state of exactly its keys and the pre-merge rows of those keys
  are the displaced state — passes the I/D frame directly. One
  semi-join scan of the source instead of four full scans; the
  bookmark still gates it (the hint is accepted only when it starts
  at the bookmarked version, so a crash-replay gap falls back to the
  diff path, never double-counts, never skips).

A 100 TB source with a 1 GB daily delta refreshes by scanning the
delta (hint path) or the snapshots (generic path), exactly like a
TimescaleDB continuous aggregate or a Materialize arrangement.

Consistency: the refresh bookmark (source version + expected rollup
version) lives in the rollup's table properties and is written AFTER
the merge commit. A crash between the two leaves the pair out of sync;
the next refresh detects it and raises instead of double-applying a
delta — rebuild with ``full_refresh=True``. Single-writer, like the
lakehouse commit protocol itself (tables.py module docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..checkpoint import unpersist_checkpoint

_SRC_PROP = "rollup.source_version"
_DST_PROP = "rollup.target_version"


def _delta_agg(
    rows: DataFrame, group_cols: list[str], sum_cols: list[str]
) -> DataFrame:
    w = F.when(F.col("_change_type") == "I", F.lit(1)).otherwise(
        F.lit(-1)
    )
    aggs = [F.sum(w).alias("n_rows")] + [
        F.sum(w * F.col(c)).alias(f"sum_{c}") for c in sum_cols
    ]
    return rows.groupBy(*group_cols).agg(*aggs)


def refresh_rollup(
    source,
    target,
    group_cols: list[str],
    sum_cols: list[str] | None = None,
    full_refresh: bool = False,
    delta_hint: DataFrame | None = None,
    hint_from_version: int | None = None,
    hint_to_version: int | None = None,
) -> int:
    """Create or incrementally refresh ``target`` as the materialized
    ``GROUP BY group_cols -> n_rows, sum_<c>...`` of ``source`` (both
    ``LakehouseTable``). Returns the rollup's version (unchanged when
    the source hasn't moved). Group columns must be non-null — NULL
    group keys would silently miss the MERGE join and duplicate
    groups, so the delta path refuses them loudly.

    ``delta_hint`` + ``hint_from_version`` + ``hint_to_version``: a
    writer that knows its own change set (I/D-tagged rows, ``diff()``'s
    column convention) passes it here with the source versions it
    covers — derived FROM and the version its commit PRODUCED. The
    hint is used only when ``hint_from_version`` equals the rollup's
    bookmarked source version — i.e. the rollup saw every commit up to
    where the hint starts; otherwise (a crash between a merge and its
    refresh left a gap) the generic ``source.diff(bookmark, head)``
    path runs, which is always correct. ``hint_to_version`` is
    REQUIRED with a hint (ADVICE r11): the bookmark advances exactly
    to it, never past it to the current head — a commit landing
    between the hint's derivation and this refresh (a concurrent
    writer; anything the hint doesn't cover) is left for the NEXT
    refresh's diff instead of being silently and permanently excluded.
    A writer-asserted content-no-op commit (inline compaction) is
    advanced over with :func:`advance_bookmark_noop`. The hint frame
    MUST be pinned to pre-change snapshots (lakehouse reads bind their
    file list at ``read()`` time, so a frame built before the commit
    stays valid). Cost: O(hint) instead of diff's four snapshot scans
    (see module docstring; measured 5-6x per epoch at 10M rows)."""
    if not group_cols:
        raise ValueError("need at least one group column")
    if delta_hint is not None and hint_to_version is None:
        raise ValueError(
            "delta_hint requires hint_to_version (the source version "
            "the hinted commit produced): without an end version the "
            "bookmark would advance to the current head and silently "
            "skip any commit the hint does not cover"
        )
    sum_cols = sum_cols or []
    src_v = source._load().version
    if full_refresh or not target.exists():
        full = _delta_agg(
            source.read().withColumn("_change_type", F.lit("I")),
            group_cols,
            sum_cols,
        )
        if target.exists():
            v = target.overwrite(full)
        else:
            target.create(full.schema)
            v = target.append(full, evolve=False)
        target.set_properties({_SRC_PROP: src_v, _DST_PROP: v})
        return v
    props = target.properties()
    if _SRC_PROP not in props:
        raise ValueError(
            "target exists but is not a rollup of anything "
            f"({_SRC_PROP} missing); pass full_refresh=True to adopt it"
        )
    last_src = int(props[_SRC_PROP])
    expected_dst = int(props[_DST_PROP])
    cur_dst = target._load().version
    if cur_dst != expected_dst:
        raise RuntimeError(
            f"rollup state out of sync (rollup at v{cur_dst}, bookmark "
            f"expects v{expected_dst}): a refresh crashed between merge "
            "and bookmark, or someone else wrote the rollup — rebuild "
            "with full_refresh=True"
        )
    if last_src == src_v:
        return cur_dst  # nothing new
    if (
        delta_hint is not None
        and hint_from_version == last_src
        and last_src < int(hint_to_version) <= src_v
    ):
        changes = delta_hint
        # advance exactly to the hint's end, never past it: commits
        # after hint_to_version stay pending for the next refresh's
        # diff (ADVICE r11 — no silent exclusion window)
        src_v = int(hint_to_version)
    else:
        # the additive (unreduced) change bag: per row value, #I − #D is
        # EXACTLY diff()'s, which is all the signed _delta_agg fold
        # reads — and the plan skips diff()'s two exceptAll shuffles
        # (r14; see LakehouseTable.diff_additive's invariant)
        changes = source.diff_additive(last_src, src_v)
    delta = _delta_agg(changes, group_cols, sum_cols)
    zero = F.col("n_rows") == 0
    for c in sum_cols:
        zero = zero & (F.col(f"sum_{c}") == 0)
    # materialize ONCE: the aggregated delta is tiny (<= touched
    # groups) but its LINEAGE is the expensive part — diff's snapshot
    # scans or the hint's semi-join + the writer's dedup window — and
    # both the empty-check below and the MERGE's matched/unmatched arms
    # would re-run it otherwise (PROBES_r11 measured the re-evaluation
    # at more than the merge's own epoch cost). The emptiness probe
    # rides the SAME checkpoint action as an Observation (r13) — the
    # separate limit(1).count() job per refresh was pure overhead.
    from pyspark.sql import Observation

    obs = Observation()
    delta = (
        delta.where(~zero)
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    try:
        n_groups = obs.get["n"] or 0
        if n_groups == 0:
            # the source moved without changing rows (metadata-only
            # commit: spec change, rename, property) or the changes
            # cancelled out — advance the bookmark WITHOUT rewriting
            # the rollup
            target.set_properties({_SRC_PROP: src_v, _DST_PROP: cur_dst})
            return cur_dst
        null_keys = F.lit(False)
        for g in group_cols:
            null_keys = null_keys | F.col(g).isNull()
        checked = delta.withColumn(
            "n_rows",
            F.when(
                null_keys,
                F.raise_error(
                    F.lit("NULL group key in rollup delta — not mergeable")
                ).cast("long"),
            ).otherwise(F.col("n_rows")),
        )
        updates = {"n_rows": "t.n_rows + s.n_rows"}
        for c in sum_cols:
            updates[f"sum_{c}"] = f"t.sum_{c} + s.sum_{c}"
        v = target.merge_into(
            checked,
            on=group_cols,
            matched_delete_where="t.n_rows + s.n_rows = 0",
            matched_update=updates,
            insert_unmatched=True,
            # the delta is a groupBy(group_cols) output — unique per key
            # by construction, so the MERGE cardinality probe (one
            # aggregation job per refresh) proves nothing here (r13)
            source_unique=True,
            # n_groups is the delta's MEASURED row count (the Observation
            # riding the checkpoint): a touched-groups frame under the
            # merge's broadcast ceiling skips every source-side shuffle
            # instead of waiting for AQE to convert one materialized
            # stage at a time (guide §3.1)
            source_rows=n_groups,
        )
        target.set_properties({_SRC_PROP: src_v, _DST_PROP: v})
        return v
    finally:
        unpersist_checkpoint(delta)


def advance_bookmark_noop(source, target, to_version: int | None = None) -> int:
    """Writer-asserted no-op advance: move the rollup bookmark over
    source commits the CALLER GUARANTEES changed no row content —
    delete-file compaction, data-file rewrite, property/spec changes.
    One property write, no scans: the alternative is the next
    refresh's generic diff over a content-identical span (four
    snapshot scans proving emptiness). The trust boundary is the
    caller's, same as the single-writer commit protocol: asserting
    this over a row-changing commit silently desyncs the rollup. The
    streaming sink uses it to keep the ``delta_hint`` fast path hot
    across its own inline ``compact_deletes``.

    Advances to ``to_version`` (default: the source head) and returns
    the rollup version. Never REWINDS the bookmark; raises on a
    non-rollup target or an out-of-sync bookmark, exactly like
    :func:`refresh_rollup`."""
    props = target.properties()
    if _SRC_PROP not in props:
        raise ValueError(
            f"target is not a rollup of anything ({_SRC_PROP} missing)"
        )
    expected_dst = int(props[_DST_PROP])
    cur_dst = target._load().version
    if cur_dst != expected_dst:
        raise RuntimeError(
            f"rollup state out of sync (rollup at v{cur_dst}, bookmark "
            f"expects v{expected_dst}) — rebuild with full_refresh=True"
        )
    to_v = int(to_version) if to_version is not None else source._load().version
    if to_v <= int(props[_SRC_PROP]):
        return cur_dst  # nothing to advance over
    target.set_properties({_SRC_PROP: to_v, _DST_PROP: cur_dst})
    return cur_dst
