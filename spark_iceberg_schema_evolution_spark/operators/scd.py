"""SCD Type-2 (slowly-changing dimension) history maintenance.

North-star extension (the reference's MERGE overwrites in place — R-series
has no history-preserving variant): apply a batch of keyed changes to a
versioned dimension, closing the previously-current row per key and
opening a new one, Kimball-style.

Scale shape:
- CLOSED history rows pass through untouched (no shuffle, no rewrite) —
  at 100 TB the closed set is the overwhelming majority of the table.
- OPEN rows of UNCHANGED keys pass through via one anti-join against the
  (small) distinct changed-key set.
- Only open-rows-of-changed-keys + the change batch shuffle: one window
  over (keys, valid_from) rebuilds the validity chain — multiple changes
  to one key in a single batch chain correctly (each closes the previous).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F


def scd2_apply(
    history: DataFrame,
    changes: DataFrame,
    keys: list[str],
    change_ts: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    is_current: str = "is_current",
) -> DataFrame:
    """Return the new history: ``history`` (columns = keys + attributes +
    ``valid_from``/``valid_to``/``is_current``) with ``changes`` (columns =
    keys + attributes + ``change_ts``) applied as type-2 updates.

    Every change row becomes a history row valid from its ``change_ts``;
    the previously-current row of that key is closed at that timestamp.
    Change rows are applied as given (no-op changes also version — filter
    upstream if unwanted). A brand-new key inserts as current.
    """
    attr_cols = [
        c
        for c in history.columns
        if c not in keys and c not in (valid_from, valid_to, is_current)
    ]
    missing = [c for c in keys + attr_cols if c not in changes.columns]
    if missing:
        raise ValueError(f"changes missing columns: {missing}")

    closed = history.where(~F.col(is_current))
    open_rows = history.where(F.col(is_current)).select(
        *keys, *attr_cols, valid_from
    )
    changed_keys = changes.select(*keys).distinct()

    untouched = open_rows.join(changed_keys, keys, "left_anti").select(
        *keys,
        *attr_cols,
        F.col(valid_from),
        F.lit(None).cast(history.schema[valid_to].dataType).alias(valid_to),
        F.lit(True).alias(is_current),
    )

    to_rebuild = open_rows.join(changed_keys, keys, "left_semi").unionByName(
        changes.select(
            *keys, *attr_cols, F.col(change_ts).alias(valid_from)
        )
    )
    w = W.partitionBy(*keys).orderBy(valid_from)
    rebuilt = (
        to_rebuild.withColumn(valid_to, F.lead(valid_from).over(w))
        .withColumn(is_current, F.col(valid_to).isNull())
        .select(*keys, *attr_cols, valid_from, valid_to, is_current)
    )

    out_cols = [*keys, *attr_cols, valid_from, valid_to, is_current]
    return (
        closed.select(*out_cols)
        .unionByName(untouched.select(*out_cols))
        .unionByName(rebuilt)
    )


def scd2_merge(
    table,
    changes: DataFrame,
    keys: list[str],
    change_ts: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    is_current: str = "is_current",
) -> dict:
    """Incremental SCD2 against a LAKEHOUSE dimension — O(changes) per
    batch where :func:`scd2_apply` + full rewrite is O(dimension): the
    open rows of changed keys close via MERGE (COW-scoped to the months
    actually holding them) and the batch's chained rows append; closed
    history and unchanged keys are never rewritten or even read beyond
    the merge's key-pruned planning scan.

    Semantics match :func:`scd2_apply`: multiple changes to one key in
    a batch chain (each closes the previous, the last stays open);
    brand-new keys insert as current. Two additional disciplines for
    the incremental setting:

    - Replay idempotence: batch rows anti-join the table on
      (keys, valid_from) before appending, and the closing merge's
      condition (``t.is_current AND t.valid_from < s.first_ts``) is a
      no-op on re-delivery — a crashed-and-replayed epoch converges.
    - Late changes are REFUSED, not silently mis-chained: a change at
      or before its key's current ``valid_from`` would need history
      surgery (that is :func:`scd2_apply`'s full-rebuild job); such
      rows are dropped with the count surfaced in the report. Rows
      whose (keys, valid_from) ALREADY exist in the dimension are a
      benign re-delivery, not refused surgery — they count as
      ``replayed`` instead, so ``late_dropped`` stays alert-worthy
      (a full-batch replay reports late_dropped=0, replayed=batch).
      Attr divergence at an existing (key, valid_from) also counts as
      replayed — the same (keys, valid_from) convention the append-side
      anti-join enforces.

    Not atomic: the close and the append are two commits. A crash
    between them leaves the key with no current row until the replay
    heals it (the documented boundary; both commits are individually
    atomic).

    Returns ``{"closed_version", "appended_version", "applied",
    "late_dropped", "replayed"}``."""
    attr_cols = [
        c
        for c in changes.columns
        if c not in keys and c != change_ts
    ]
    ch = changes.select(
        *keys, *attr_cols, F.col(change_ts).alias(valid_from)
    )
    obs = None
    if table.exists():
        from pyspark.sql import Observation

        current = table.read().where(F.col(is_current)).select(
            *keys, F.col(valid_from).alias("__cur_from")
        )
        # split benign re-deliveries (the row is already committed at
        # this (keys, valid_from)) from genuinely late changes that
        # would need history surgery — only the latter should alert.
        # Both counts ride the SAME action that materializes `chained`
        # (r13, second pass): every change row is tagged late/replayed
        # by two left joins, the counts ride an Observation, and only
        # then are late rows filtered out — zero dedicated count jobs
        # where the first-pass shape still paid one (join + agg +
        # .first()). The (keys, valid_from) join doubles as the replay
        # anti-filter that previously ran as its own join AFTER the
        # window: a close-merge never changes (keys, valid_from)
        # tuples, so pre-merge `existing` decides replay membership
        # identically. (dropDuplicates guards against fan-out if a
        # hand-written dimension ever held duplicate key/valid_from
        # tuples; scd2_merge itself never appends them.)
        existing = (
            table.read()
            .select(*keys, valid_from)
            .dropDuplicates([*keys, valid_from])
            .withColumn("__hit", F.lit(1))
        )
        obs = Observation()
        tagged = (
            ch.join(current, keys, "left")
            .withColumn(
                "__late",
                F.col("__cur_from").isNotNull()
                & (F.col(valid_from) <= F.col("__cur_from")),
            )
            .join(existing, [*keys, valid_from], "left")
            .observe(
                obs,
                F.count(F.lit(1)).alias("__n_rows"),
                F.sum(F.col("__late").cast("long")).alias("__n_late"),
                F.sum(
                    (F.col("__late") & F.col("__hit").isNotNull()).cast(
                        "long"
                    )
                ).alias("__n_replayed"),
            )
        )
        ch = tagged.where(~F.col("__late")).drop("__cur_from", "__late")
    # persist the tagged, late-filtered PRE-WINDOW frame: the close
    # merge's first_ts, the applied count, AND the append's chained rows
    # all derive from it — without the cache each action re-runs the two
    # dimension-scan joins above (r13, third pass: the count job warms
    # the cache; the merge and append then read it instead of rescanning
    # the dimension).
    ch = ch.persist()
    w = W.partitionBy(*keys).orderBy(valid_from)
    chained = (
        ch.withColumn(valid_to, F.lead(valid_from).over(w))
        .withColumn(is_current, F.col(valid_to).isNull())
        .select(
            *keys, *attr_cols, valid_from, valid_to, is_current,
            *(["__hit"] if obs is not None else []),
        )
    )
    closed_v = None
    try:
        if obs is not None:
            # replay idempotence: rows whose (keys, valid_from) already
            # exist in the dimension were marked by the `existing` join
            # above — filter AFTER the window so a replayed row still
            # participates in its key's chain exactly as the committed
            # row does (same lead() inputs as the previous post-window
            # anti-join shape)
            chained = chained.where(F.col("__hit").isNull()).drop("__hit")
        # count BEFORE the close merge: every read above bound its file
        # list pre-merge, so the count is order-independent — and knowing
        # `applied` up front lets a small batch assert the broadcast path
        # for the close merge (guide §3.1, measured not guessed)
        applied = chained.count()
        if table.exists():
            first_ts = ch.groupBy(*keys).agg(
                F.min(valid_from).alias("__first_ts")
            )
            # bound the broadcast from the frame first_ts DERIVES from:
            # ch = tagged minus __late rows, so its row count is the
            # observed total minus the raw late count (both already
            # populated — the applied count above ran the observed
            # action). `applied` alone undercounts when a dimension in
            # an abnormal state (external writer: committed
            # (keys, valid_from) with no current row) lets the __hit
            # filter remove rows that first_ts still keys (ADVICE r13).
            ch_rows = (obs.get["__n_rows"] or 0) - (
                obs.get["__n_late"] or 0
            )
            closed_v = table.merge_into(
                first_ts,
                on=keys,
                matched_update={
                    valid_to: "s.__first_ts",
                    is_current: "false",
                },
                matched_condition=(
                    f"t.{is_current} = true AND t.{valid_from} < s.__first_ts"
                ),
                insert_unmatched=False,
                # first_ts is a groupBy(keys) aggregate — unique per key
                # by construction, so skip the MERGE cardinality probe
                # (r13)
                source_unique=True,
                # first_ts has at most one row per surviving ch key
                source_rows=ch_rows,
            )
        if applied:
            if not table.exists():
                table.create(chained.schema)
            appended_v = table.append(chained)
        else:
            appended_v = None
    finally:
        ch.unpersist()
    if obs is not None:
        n_late = obs.get["__n_late"] or 0
        n_replayed = obs.get["__n_replayed"] or 0
        n_late = n_late - n_replayed
    else:
        n_late = 0
        n_replayed = 0
    return {
        "closed_version": closed_v,
        "appended_version": appended_v,
        "applied": applied,
        "late_dropped": n_late,
        "replayed": n_replayed,
    }
