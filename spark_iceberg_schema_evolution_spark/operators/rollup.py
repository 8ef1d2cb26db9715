"""Incremental summaries of lakehouse tables (IVM), behind one
bookmark protocol.

A summary table holds a small, mergeable aggregate of a SOURCE
lakehouse table, refreshed INCREMENTALLY from the source's row-level
CDC instead of recomputed. Three summaries share the protocol:

- the rollup (:func:`refresh_rollup`): ``GROUP BY <keys> -> COUNT(*),
  SUM(col)...`` by the additive IVM rule — a group's count moves by
  ``Σ(+1 for I, -1 for D)`` and each sum by the signed value total,
  exact under inserts, deletes AND updates (one D and one I) — MERGEd
  into the rollup. AVG derives as sum/count at query time; MIN/MAX
  need per-group history under deletes and are not offered;
- the quantile sketch (``profile.refresh_quantile_sketch``): signed
  DDSketch bucket counts, appended;
- the HLL rollup (``profile.refresh_hll_rollup``): register sketches
  of the inserted rows, appended; registers cannot unsee a row, so a
  span with deletes is refused.

The protocol (:func:`_refresh`). The summary's table properties hold
the bookmark — ``<kind>.source_version``, the last source version
folded in, and ``<kind>.target_version``, the summary version that
fold committed (kind ``rollup``, ``sketch`` or ``hll``) — and the
layout parameters it was built at (``sketch.alpha``, ``hll.lg_k``).
A refresh (1) builds the whole summary from one source read when the
target is new or ``full_refresh`` is asked for; otherwise (2) refuses
a drifted parameter, a target without a bookmark, and a target whose
version is not the bookmarked one (a refresh crashed between its
write and its bookmark, or someone else wrote the summary: the next
delta would double-apply or go missing — rebuild with
``full_refresh=True``); (3) folds the change since the bookmark into
a delta frame and materializes it ONCE (local checkpoint — the delta
is tiny, its change-bag lineage is the expensive part and the write
would re-run it), counting its rows with an Observation on the same
action; an empty delta (a metadata-only commit, or changes that
cancel) advances the bookmark without writing; (4) writes the delta,
THEN the bookmark, so a crash between the two is caught by (2).
Single-writer, like the lakehouse commit protocol (tables.py).

The change bag: the signed folds (rollup, quantile sketch) read
``source.diff_additive`` — I and D rows not reduced against each
other, diff()'s exact signed multiplicity per row value without its
two ``exceptAll`` shuffles. The HLL fold reads the reduced
``source.diff``: it refuses real deletes, and the additive bag reports
a compaction's unchanged rows as D+I pairs. A writer that knows its
own change set passes the rollup a ``delta_hint`` instead (one
semi-join scan, not the diff's snapshot scans; the r11 streaming
probe measured the generic diff at 5-6x the MERGE's cost per epoch at
10M rows) — gated by the bookmark like every other delta.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from ..checkpoint import unpersist_checkpoint

# the wording each summary's errors have always used, by bookmark kind:
# (what a target without a bookmark "is not", the out-of-sync subject,
# the summary's noun, the write its bookmark follows)
_WORDS = {
    "rollup": ("a rollup of anything", "rollup state", "rollup", "merge"),
    "sketch": (
        "an IVM sketch of anything", "sketch state", "sketch", "append",
    ),
    "hll": ("an IVM hll rollup", "hll rollup", "rollup", "append"),
}


def _check_pins(
    props: dict, pins: dict, remedy: str = "rebuild with full_refresh=True"
) -> None:
    """Refuse a refresh whose layout parameter (``{property: value}``,
    e.g. ``sketch.alpha``) differs from the one the target was built
    at: sketches on different grids must not be merged."""
    for prop, want in pins.items():
        stored = props.get(prop)
        if stored is not None and type(want)(stored) != want:
            raise ValueError(
                f"{prop.replace('.', ' ')} drift: table built at {stored}, "
                f"refresh requested {want}; {remedy}"
            )


def _bookmark(target, kind: str, props: dict) -> tuple[int, int]:
    """``(bookmarked source version, target version)`` of a ``kind``
    summary; raises on a target without a bookmark and on one whose
    version is not the bookmarked one (step 2 of the protocol)."""
    what, subject, noun, write = _WORDS[kind]
    src_prop = f"{kind}.source_version"
    if src_prop not in props:
        raise ValueError(
            f"target exists but is not {what} ({src_prop} missing); "
            "pass full_refresh=True to adopt it"
        )
    expected_dst = int(props[f"{kind}.target_version"])
    cur_dst = target._load().version
    if cur_dst != expected_dst:
        raise RuntimeError(
            f"{subject} out of sync ({noun} at v{cur_dst}, bookmark "
            f"expects v{expected_dst}): a refresh crashed between {write} "
            f"and bookmark, or someone else wrote the {noun} — rebuild "
            "with full_refresh=True"
        )
    return int(props[src_prop]), cur_dst


def _refresh(
    source,
    target,
    kind: str,
    full,
    delta,
    write,
    full_refresh: bool,
    pins: dict | None = None,
) -> int:
    """Create or refresh the ``kind`` summary of ``source`` in
    ``target`` by the bookmark protocol (module docstring); returns the
    target's version. The caller supplies what differs:

    - ``full(rows)``: the whole summary of the source rows ``rows``;
    - ``delta(last_src, src_v)``: ``(frame, to_version)`` — the summary
      of the change since the bookmark (no rows when the change folds
      to nothing) and the source version the bookmark advances to;
    - ``write(frame, n)``: commits the materialized ``n``-row delta
      and returns the target's new version;
    - ``pins``: layout parameters, ``{property: value}``."""
    pins = pins or {}
    src_prop, dst_prop = f"{kind}.source_version", f"{kind}.target_version"
    src_v = source._load().version
    if full_refresh or not target.exists():
        frame = full(source.read())
        if target.exists():
            v = target.overwrite(frame)
        else:
            target.create(frame.schema)
            v = target.append(frame, evolve=False)
        target.set_properties({src_prop: src_v, dst_prop: v, **pins})
        return v
    props = target.properties()
    _check_pins(props, pins)
    last_src, cur_dst = _bookmark(target, kind, props)
    if last_src == src_v:
        return cur_dst  # nothing new
    frame, src_v = delta(last_src, src_v)
    # the emptiness probe rides the checkpoint's own action (r13): a
    # separate limit(1).count() would re-run the whole change lineage
    obs = Observation()
    frame = frame.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(
        eager=True
    )
    try:
        n = obs.get["n"] or 0
        v = write(frame, n) if n else cur_dst
        target.set_properties({src_prop: src_v, dst_prop: v})
        return v
    finally:
        unpersist_checkpoint(frame)


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
    ``LakehouseTable``) by the bookmark protocol (module docstring,
    properties ``rollup.*``): the signed fold of
    ``source.diff_additive`` since the bookmark, MERGEd into the
    rollup. Returns the rollup's version (unchanged when the source
    hasn't moved or its change cancels out). Group columns must be
    non-null — NULL group keys would silently miss the MERGE join and
    duplicate groups, so the delta path refuses them loudly.

    ``delta_hint`` + ``hint_from_version`` + ``hint_to_version``: a
    writer that knows its own change set (I/D-tagged rows, ``diff()``'s
    column convention) passes it here with the source versions it
    covers — derived FROM and the version its commit PRODUCED. The
    hint is used only when ``hint_from_version`` equals the rollup's
    bookmarked source version — i.e. the rollup saw every commit up to
    where the hint starts; otherwise (a crash between a merge and its
    refresh left a gap) the generic change-bag path runs, which is
    always correct. ``hint_to_version`` is REQUIRED with a hint
    (ADVICE r11): the bookmark advances exactly to it, never past it to
    the current head — a commit landing between the hint's derivation
    and this refresh (a concurrent writer; anything the hint doesn't
    cover) is left for the NEXT refresh's diff instead of being
    silently and permanently excluded. A writer-asserted
    content-no-op commit (inline compaction) is advanced over with
    :func:`advance_bookmark_noop`. The hint frame MUST be pinned to
    pre-change snapshots (lakehouse reads bind their file list at
    ``read()`` time, so a frame built before the commit stays valid).
    Cost: O(hint) instead of the diff's snapshot scans."""
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

    def full(rows):
        return _delta_agg(
            rows.withColumn("_change_type", F.lit("I")), group_cols, sum_cols
        )

    def delta(last_src, src_v):
        if (
            delta_hint is not None
            and hint_from_version == last_src
            and last_src < int(hint_to_version) <= src_v
        ):
            # advance exactly to the hint's end, never past it: commits
            # after hint_to_version stay pending for the next refresh's
            # diff (ADVICE r11 — no silent exclusion window)
            changes, src_v = delta_hint, int(hint_to_version)
        else:
            changes = source.diff_additive(last_src, src_v)
        zero = F.col("n_rows") == 0
        for c in sum_cols:
            zero = zero & (F.col(f"sum_{c}") == 0)
        return _delta_agg(changes, group_cols, sum_cols).where(~zero), src_v

    def write(frame, n_groups):
        null_keys = F.lit(False)
        for g in group_cols:
            null_keys = null_keys | F.col(g).isNull()
        checked = frame.withColumn(
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
        return target.merge_into(
            checked,
            on=group_cols,
            matched_delete_where="t.n_rows + s.n_rows = 0",
            matched_update=updates,
            insert_unmatched=True,
            # the delta is a groupBy(group_cols) output — unique per key
            # by construction, so the MERGE cardinality probe (one
            # aggregation job per refresh) proves nothing here (r13)
            source_unique=True,
            # the delta's MEASURED row count: a touched-groups frame
            # under the merge's broadcast ceiling skips every
            # source-side shuffle instead of waiting for AQE to convert
            # one materialized stage at a time (guide §3.1)
            source_rows=n_groups,
        )

    return _refresh(source, target, "rollup", full, delta, write, full_refresh)


def advance_bookmark_noop(source, target, to_version: int | None = None) -> int:
    """Writer-asserted no-op advance: move the rollup bookmark over
    source commits the CALLER GUARANTEES changed no row content —
    delete-file compaction, data-file rewrite, property/spec changes.
    One property write, no scans: the alternative is the next
    refresh's change bag over a content-identical span (snapshot scans
    proving emptiness). The trust boundary is the caller's, same as the
    single-writer commit protocol: asserting this over a row-changing
    commit silently desyncs the rollup. The streaming sink uses it to
    keep the ``delta_hint`` fast path hot across its own inline
    ``compact_deletes``.

    Advances to ``to_version`` (default: the source head) and returns
    the rollup version. Never REWINDS the bookmark; raises on a
    non-rollup target or an out-of-sync bookmark with
    :func:`refresh_rollup`'s checks."""
    last_src, cur_dst = _bookmark(target, "rollup", target.properties())
    to_v = int(to_version) if to_version is not None else source._load().version
    if to_v > last_src:
        target.set_properties({
            "rollup.source_version": to_v, "rollup.target_version": cur_dst,
        })
    return cur_dst
