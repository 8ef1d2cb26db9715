"""Single-pass column statistics profiler.

North-star utility (train-data pipelines audit every ingest batch): per
column, the row count, non-null count, distinct count, and min/max — all
computed in ONE scan. The exact-distinct form plans one Expand +
two-phase aggregate (N distinct columns -> N-way row expansion, still a
single pass over the data); ``approximate=True`` swaps in
``approx_count_distinct`` (HLL, no expansion) — the 100 TB default.

Output is long-format: one row per profiled column, min/max cast to
string so heterogeneous column types coexist in one result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from .rollup import _check_pins, _refresh


def profile_stats(
    df: DataFrame,
    cols: list[str] | None = None,
    approximate: bool = False,
) -> DataFrame:
    """One row per column of ``cols`` (default: all) with
    (col_name, n_rows, n_nonnull, n_distinct, min_str, max_str)."""
    cols = list(cols or df.columns)
    distinct = (
        (lambda c: F.approx_count_distinct(c))
        if approximate
        else (lambda c: F.countDistinct(c))
    )
    # two aggregates, deliberately (r13): min/max carry variable-width
    # buffers (strings), and mixing ONE of those into the
    # multi-distinct aggregate forces the whole plan — including the
    # Expand'd distinct computation, (n_cols+1) x rows — off the hash
    # path onto SortAggregate (full sort of the expanded rows; measured
    # 2.4x on the orders profile). Counts/distincts (fixed-width
    # buffers) keep HashAggregate; min/max run as a separate KEYLESS
    # single-pass fold (no grouping keys -> SortAggregate needs no
    # sort); a 1-row broadcast cross-join reassembles. Same output,
    # same single shuffle of 1-row partials.
    aggs = [F.count(F.lit(1)).alias("__total")]
    mm_aggs = []
    for c in cols:
        aggs += [
            F.count(c).alias(f"__{c}__n"),
            distinct(c).alias(f"__{c}__d"),
        ]
        mm_aggs += [
            F.min(c).cast("string").alias(f"__{c}__min"),
            F.max(c).cast("string").alias(f"__{c}__max"),
        ]
    row = df.agg(*aggs).crossJoin(F.broadcast(df.agg(*mm_aggs)))
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"__{c}__n").alias("n_nonnull"),
                F.col(f"__{c}__d").alias("n_distinct"),
                F.col(f"__{c}__min").alias("min_str"),
                F.col(f"__{c}__max").alias("max_str"),
            )
            for c in cols
        ]
    )
    return (
        row.select(F.col("__total").alias("n_rows"), F.explode(per_col).alias("s"))
        .select("s.col_name", "n_rows", "s.n_nonnull", "s.n_distinct",
                "s.min_str", "s.max_str")
    )


def validate_expectations(df: DataFrame, rules: list[dict]) -> DataFrame:
    """Deequ/dbt-style data-quality gate: evaluate every rule in ONE
    aggregate pass over the data and return long-format results —
    (rule, n_violations, passed), one row per rule, in declaration
    order. An ingest pipeline runs this per batch and fails the commit
    on any ``passed = false``.

    Rule shapes:
      {"rule": "not_null",        "col": c}
      {"rule": "unique",          "cols": [c, ...]}   # surplus rows
      {"rule": "accepted_values", "col": c, "values": [...]}
      {"rule": "range",           "col": c, "min": x, "max": y}
      {"rule": "expression",      "name": n, "expr": sql_predicate}

    Scale shape: row-local rules are conditional sums fused into one
    partial aggregate (map-side combine, a single scalar row crosses
    the wire); each ``unique`` rule adds an exact count_distinct
    (Expand, still the same single scan — same trade as
    ``profile_stats``). The long format comes from a plan-side
    ``stack`` on the 1-row aggregate, not a second pass. NULLs in
    ``accepted_values``/``range`` columns are not violations of those
    rules (declare not_null separately) — SQL three-valued-logic
    convention."""
    aggs = []
    labels = []
    for i, r in enumerate(rules):
        kind = r["rule"]
        if kind == "not_null":
            label = f"not_null({r['col']})"
            expr = F.sum(
                F.when(F.col(r["col"]).isNull(), 1).otherwise(0)
            )
        elif kind == "unique":
            cols = r["cols"]
            label = f"unique({','.join(cols)})"
            expr = F.count(F.lit(1)) - F.count_distinct(
                F.struct(*[F.col(c) for c in cols])
            )
        elif kind == "accepted_values":
            label = f"accepted_values({r['col']})"
            expr = F.sum(
                F.when(
                    F.col(r["col"]).isNotNull()
                    & ~F.col(r["col"]).isin(*r["values"]),
                    1,
                ).otherwise(0)
            )
        elif kind == "range":
            label = f"range({r['col']})"
            expr = F.sum(
                F.when(
                    F.col(r["col"]).isNotNull()
                    & (
                        (F.col(r["col"]) < F.lit(r["min"]))
                        | (F.col(r["col"]) > F.lit(r["max"]))
                    ),
                    1,
                ).otherwise(0)
            )
        elif kind == "expression":
            label = f"expression({r['name']})"
            expr = F.sum(
                F.when(~F.expr(r["expr"]), 1).otherwise(0)
            )
        else:
            raise ValueError(f"unknown rule kind: {kind!r}")
        aggs.append(
            F.coalesce(expr, F.lit(0)).cast("long").alias(f"__v{i}")
        )
        labels.append(label)
    if not aggs:
        raise ValueError("no rules given")
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{lbl}', __v{i}" for i, lbl in enumerate(labels)
    )
    return one.selectExpr(
        f"stack({len(labels)}, {stack_args}) AS (rule, n_violations)"
    ).withColumn("passed", F.col("n_violations") == 0)


def histogram(
    df: DataFrame,
    col: str,
    bins: int,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Equi-width histogram of a numeric column: (bin, lo, hi, n) rows,
    empty bins included. Bounds default to the column's observed
    [min, max] (one bounded aggregate); values at the upper bound fall
    in the last bin, out-of-range values clamp to the edge bins
    (width_bucket-style, but computed with explicit FLOOR arithmetic so
    any engine reproduces the exact same binning).

    Scale shape: one pass for bounds (skipped when given), one map-side
    bin assignment + hash aggregate for counts; the dense bin list is a
    broadcast-sized literal frame outer-joined so empty bins surface.

    NaN rows are excluded exactly like NULLs (from both the derived
    bounds and the counts): under non-ANSI semantics
    ``floor((NaN-lo)/width)`` casts to 0, which would silently count
    every NaN in the LOWEST bin — and a NaN reaching the bounds
    aggregate poisons max() (NaN sorts above every double)."""
    if bins < 1:
        raise ValueError(f"bins must be >= 1: {bins}")
    spark = df.sparkSession
    val = F.col(col).cast("double")
    clean = df.where(F.col(col).isNotNull() & ~F.isnan(val))
    if lo is None or hi is None:
        b = clean.agg(
            F.min(val).alias("lo"),
            F.max(val).alias("hi"),
        ).first()
        lo = b.lo if lo is None else lo
        hi = b.hi if hi is None else hi
    if lo is None or hi is None or not (hi > lo):
        raise ValueError(f"need hi > lo, got [{lo}, {hi}]")
    lo, hi = float(lo), float(hi)
    width = (hi - lo) / bins
    bin_ = F.least(
        F.greatest(
            F.floor((val - F.lit(lo)) / F.lit(width)).cast("int"),
            F.lit(0),
        ),
        F.lit(bins - 1),
    )
    counts = (
        clean
        .groupBy(bin_.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    grid = spark.range(bins).select(F.col("id").cast("int").alias("bin"))
    return (
        grid.join(counts, "bin", "left")
        .select(
            "bin",
            (F.lit(lo) + F.col("bin") * F.lit(width)).alias("bin_lo"),
            (F.lit(lo) + (F.col("bin") + 1) * F.lit(width)).alias(
                "bin_hi"
            ),
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        )
    )


def hll_rollup(
    df: DataFrame,
    group_cols: list[str],
    distinct_col: str,
    lg_k: int = 12,
) -> DataFrame:
    """Pre-aggregated distinct-count sketches (Apache DataSketches HLL,
    Spark's ``hll_sketch_agg``): one pass over the base data yields a
    MERGEABLE binary sketch per group plus exact row counts — the
    sketch-column rollup every large warehouse keeps. Distinct counts
    are the one aggregate a plain rollup cannot coarsen (distincts
    don't add); sketches restore that: any coarser grain is a
    ``hll_union_agg`` over stored sketch rows. At 100 TB,
    "distinct users per month, per quarter, overall" reads the rollup's
    few hundred sketch bytes per group instead of rescanning the fact
    table — same error bound (~1.6%/sqrt(2^lg_k)) at every grain.

    Store the result in a lakehouse table and refresh it incrementally
    (``operators.rollup`` / ``consume_changes``): sketches from new
    batches union into the stored ones without reading old data."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(F.col(distinct_col), F.lit(lg_k)).alias(
            "hll_sketch"
        ),
        F.count(F.lit(1)).alias("n_rows"),
    )


def hll_coarsen(
    rollup: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Re-aggregate a sketch rollup to a coarser grain (possibly global:
    ``group_cols=[]``): union the sketches, estimate the distinct count,
    sum the exact row counts. Never touches base data."""
    aggs = [
        F.hll_sketch_estimate(F.hll_union_agg("hll_sketch")).alias(
            "approx_distinct"
        ),
        F.sum("n_rows").alias("n_rows"),
    ]
    if group_cols:
        return rollup.groupBy(*group_cols).agg(*aggs)
    return rollup.agg(*aggs)


def quantile_sketch(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    alpha: float = 0.01,
    weight_col: str | None = None,
) -> DataFrame:
    """Mergeable quantile sketch (DDSketch shape — Masson et al., VLDB
    2019): log-bucketed counts with a relative-accuracy guarantee. The
    quantile analog of :func:`hll_rollup`: percentiles are the other
    aggregate a plain sum/count rollup cannot coarsen, and this
    restores it — any coarser grain (or an incremental refresh) is an
    integer SUM of bucket counts, exactly, with no re-scan of base
    data and no accuracy loss from merging.

    Bucketing: gamma = (1+alpha)/(1-alpha); a value v > 0 lands in
    bucket i = ceil(log_gamma(v)), which covers (gamma^(i-1), gamma^i].
    The bucket's canonical estimate 2*gamma^i/(gamma+1) is within
    relative ``alpha`` of EVERY value in the bucket, so any quantile
    read from the sketch is within relative alpha of the true
    order-statistic's value. Zero and negative values get a zero
    bucket and sign-mirrored indices (full-range, unlike quantile
    digests that assume positives). NULLs are excluded (SQL aggregate
    convention).

    Returns one row per (group, sgn, bucket): ``sgn`` in {-1,0,1},
    ``bucket`` the log index (0 for the zero bucket), ``n`` the exact
    count. Size per group is O(log(max/min)/alpha) — a few hundred
    rows at alpha=0.01 for any realistic measure range; at 100 TB the
    sketch table is read instead of the corpus for every percentile
    band refresh (q119/q154's recurring scan). Store with
    ``sketch.alpha`` as a table property so refreshes can refuse
    parameter drift (a sketch built at a different alpha has an
    incompatible grid and must not be merged).

    ``weight_col`` (integer) makes the sketch a WEIGHTED quantile
    summary — each row contributes its weight to its value's bucket
    (e.g. per-document token counts weighted by tokens: 'what sequence
    length covers p99 of TOKENS, not of documents'). Weights must be
    exact integers so merges stay exact."""
    v, sgn, idx = _sketch_exprs(value_col, alpha)
    n = (
        F.sum(F.col(weight_col).cast("long"))
        if weight_col
        else F.count(F.lit(1))
    )
    return (
        df.where(v.isNotNull())
        .groupBy(
            *group_cols, sgn.alias("sgn"), idx.alias("bucket")
        )
        .agg(n.alias("n"))
    )


def _sketch_exprs(value_col: str, alpha: float):
    """(value, sign, log-bucket index) expressions for the DDSketch
    grid at ``alpha`` — shared by the one-shot build and the IVM
    refresh so both land on the identical grid."""
    import math

    if not 0 < alpha < 1:
        raise ValueError(f"alpha must be in (0,1): {alpha}")
    gamma = (1 + alpha) / (1 - alpha)
    v = F.col(value_col).cast("double")
    sgn = F.when(v > 0, 1).when(v < 0, -1).otherwise(0)
    idx = F.when(
        v == 0, F.lit(0).cast("long")
    ).otherwise(
        F.ceil(F.log(F.abs(v)) / F.lit(math.log(gamma)))
    )
    return v, sgn, idx


def quantile_sketch_coarsen(
    sketch: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Re-aggregate a quantile sketch to a coarser grain (possibly
    global: ``group_cols=[]``): integer-sum the bucket counts. Exact —
    merging sketches loses nothing (unlike merging t-digests) because
    the bucket grid is fixed by alpha. Never touches base data."""
    return sketch.groupBy(*group_cols, "sgn", "bucket").agg(
        F.sum("n").alias("n")
    )


def sketch_quantiles(
    sketch: DataFrame,
    group_cols: list[str],
    qs: list[float],
    alpha: float = 0.01,
) -> DataFrame:
    """Read quantiles out of a :func:`quantile_sketch` frame: for each
    group and each q in ``qs``, the canonical estimate of the bucket
    holding the rank-ceil(q*n) order statistic — guaranteed within
    relative ``alpha`` of that statistic's true value.

    Distributed shape: one keyed window cumulates bucket counts in
    value order (sort key (sgn, sgn*bucket) — negatives descend by
    magnitude, then zero, then positives ascend), the q list broadcasts
    as a literal frame, and a min-by picks each target bucket — no
    collect, no per-group loop; the window runs over sketch rows
    (hundreds per group), not data rows."""
    from pyspark.sql import Window as _W

    if not qs or any(not 0 <= q <= 1 for q in qs):
        raise ValueError(f"qs must be fractions in [0,1]: {qs}")
    gamma = (1 + alpha) / (1 - alpha)
    spark = sketch.sparkSession
    qdf = spark.createDataFrame([(float(q),) for q in qs], "q double")

    order = F.col("sgn").asc(), (F.col("sgn") * F.col("bucket")).asc()
    w = _W.partitionBy(*group_cols).orderBy(*order)
    cum = sketch.withColumn("cum", F.sum("n").over(w))
    if group_cols:
        tot = sketch.groupBy(*group_cols).agg(F.sum("n").alias("total"))
        cum = cum.join(tot, group_cols)
    else:
        tot = sketch.agg(F.sum("n").alias("total"))
        cum = cum.crossJoin(F.broadcast(tot))
    # target rank: ceil(q * total), clamped to [1, total]
    cand = cum.crossJoin(F.broadcast(qdf)).where(
        F.col("cum")
        >= F.greatest(
            F.ceil(F.col("q") * F.col("total")), F.lit(1)
        )
    )
    est = F.when(F.col("sgn") == 0, F.lit(0.0)).otherwise(
        F.col("sgn")
        * F.lit(2.0)
        * F.pow(F.lit(gamma), F.col("bucket"))
        / F.lit(gamma + 1.0)
    )
    picked = cand.groupBy(*group_cols, "q").agg(
        F.min_by(
            F.struct(
                F.col("sgn"), F.col("bucket"), est.alias("est")
            ),
            F.struct(F.col("sgn"), (F.col("sgn") * F.col("bucket"))),
        ).alias("b"),
        F.first("total").alias("n_total"),
    )
    return picked.select(
        *group_cols,
        "q",
        F.col("b.est").alias("quantile_est"),
        "n_total",
    )


def quantile_sketch_refresh(
    table,
    batch: DataFrame,
    group_cols: list[str],
    value_col: str,
    alpha: float = 0.01,
) -> dict:
    """Incrementally maintain a quantile-sketch rollup as a LAKEHOUSE
    table: sketch ONLY the new batch (O(batch), never a corpus rescan)
    and append its bucket rows; readers coarsen at query time
    (:func:`quantile_sketch_coarsen` — an integer sum, so the appended
    deltas are indistinguishable from a from-scratch build). First call
    creates the table and pins ``sketch.alpha``; later calls REFUSE a
    drifted alpha (the grid would be incompatible), with the pin check
    of the bookmark protocol (``rollup._check_pins``)."""
    pin = {"sketch.alpha": float(alpha)}
    if table.exists():
        _check_pins(table.properties(), pin, "rebuild the rollup instead")
    delta = quantile_sketch(batch, group_cols, value_col, alpha=alpha)
    if table.exists():
        version = table.append(delta)
    else:
        # pin alpha BEFORE the first append: a crash between append and
        # set_properties would leave a populated sketch whose next
        # refresh at a different alpha passes the drift check (no pin)
        # and silently appends an incompatible bucket grid
        table.create(delta.schema)
        table.set_properties(pin)
        version = table.append(delta)
    return {"version": version, "alpha": float(alpha)}


def refresh_quantile_sketch(
    source,
    target,
    group_cols: list[str],
    value_col: str,
    alpha: float = 0.01,
    full_refresh: bool = False,
) -> int:
    """IVM-maintained quantile-sketch rollup of a SOURCE lakehouse
    table (the :func:`rollup.refresh_rollup` contract, for
    percentiles): the bookmark protocol of ``operators.rollup``
    (properties ``sketch.*``, ``sketch.alpha`` pinned and drift
    refused, as in :func:`quantile_sketch_refresh`, the batch-push
    face). The delta is the signed bucket fold of
    ``source.diff_additive`` since the bookmark — inserts contribute +1
    and deletes -1 to their value's bucket — appended, so the stored
    rows coarsen to exactly the sketch of the current source under
    inserts, deletes, AND updates (bucket counts are additive; buckets
    whose signed count cancels to 0 are not written). Cost tracks the
    delta, never the source.

    Returns the sketch table's version."""

    def delta(last_src, src_v):
        # the sign as the row weight, in the tag's own column (a source
        # cannot hold a ``_change_type`` column: diff refuses it)
        ch = source.diff_additive(last_src, src_v).withColumn(
            "_change_type",
            F.when(F.col("_change_type") == "I", F.lit(1)).otherwise(
                F.lit(-1)
            ),
        )
        sk = quantile_sketch(
            ch, group_cols, value_col, alpha=alpha, weight_col="_change_type"
        )
        return sk.where(F.col("n") != 0), src_v

    return _refresh(
        source,
        target,
        "sketch",
        lambda rows: quantile_sketch(rows, group_cols, value_col, alpha=alpha),
        delta,
        lambda d, n: target.append(d, evolve=False),
        full_refresh,
        pins={"sketch.alpha": float(alpha)},
    )


def topk_sketch(
    df: DataFrame,
    group_cols: list[str],
    item_col: str,
    k: int = 100,
    shards: int = 1,
) -> DataFrame:
    """Mergeable heavy-hitters summary (Misra-Gries / SpaceSaving
    family; mergeability per Agarwal et al., "Mergeable Summaries",
    PODS 2012): per group, the ``k`` most frequent items with exact
    in-batch counts plus one NULL-item row carrying the TOTAL mass
    of every trimmed item. NULL is the one value a genuine item can
    never hold (NULL items are excluded up-front, like every counting
    aggregate here), so the spill row needs no sentinel STRING — a
    corpus whose real item value is ``"__spill__"`` must not merge
    into the spill accounting (the round-8 advice finding). Completes
    the mergeable-rollup triple beside :func:`hll_rollup` (distincts)
    and :func:`quantile_sketch` (percentiles): top-N
    tokens/domains/keys per grain without storing the full key
    cardinality.

    Error contract (sound, surfaced, tested): for any item,
    ``est <= true <= est + spill_sum`` where ``est`` is the summed
    count over the sketch rows that retained the item (0 if absent)
    and ``spill_sum`` the summed spill mass — each trim moves at most
    the item's whole per-batch count into spill. With k counters and
    total mass N the classic N/k bound applies per merge level. Items
    are compared as strings (cast) so the sketch schema is stable
    across sources.

    Shape: one (group, item) hash aggregate, a per-group rank window
    over the aggregated counts (distinct items per group, never rows),
    then a per-group spill aggregate — two shuffles on the same group
    key. ``coarsen``/merge = :func:`topk_sketch_coarsen`.

    ``shards``: the rank window sorts each group's distinct items in
    one task; when a single group's item cardinality is itself huge
    (billions of URLs/ngrams at 100 TB), set shards > 1 to rank within
    (group, hash(item) % shards) instead — shards partition the ITEMS
    disjointly, so per-shard counts are exact global counts, any
    global top-k item is top-k within its own shard (fewer
    competitors), and the per-shard trims roll into spill exactly as
    a merge would; pipe the result through
    ``topk_sketch_coarsen(..., k)`` to trim the ~shards*k survivors
    back to k. Bounds the window sort at items/shard with the same
    est<=true<=est+spill contract."""
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    from pyspark.sql import Window as _W

    counts = (
        df.where(F.col(item_col).isNotNull())
        .groupBy(
            *group_cols,
            F.col(item_col).cast("string").alias("item"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    shard_cols: list = []
    if shards > 1:
        counts = counts.withColumn(
            "__shard", F.pmod(F.xxhash64("item"), F.lit(int(shards)))
        )
        shard_cols = ["__shard"]
    w = _W.partitionBy(*group_cols, *shard_cols).orderBy(
        F.col("n").desc(), F.col("item").asc()
    )
    ranked = counts.withColumn("__rk", F.row_number().over(w))
    top = ranked.where(F.col("__rk") <= k).select(
        *group_cols, "item", "n", F.lit(0).cast("long").alias("spill")
    )
    # every group gets a spill row (0 when nothing trimmed) so the
    # merge contract never has to special-case its absence; the
    # conditional sum reuses the window's group partitioning
    spilled = (
        ranked.groupBy(*group_cols)
        .agg(
            F.sum(
                F.when(F.col("__rk") > k, F.col("n")).otherwise(0)
            ).alias("spill")
        )
        .select(
            *group_cols,
            F.lit(None).cast("string").alias("item"),
            F.lit(0).cast("long").alias("n"),
            "spill",
        )
    )
    return top.unionByName(spilled)


def topk_sketch_coarsen(
    sketch: DataFrame, group_cols: list[str], k: int = 100
) -> DataFrame:
    """Merge/re-aggregate top-k sketches to a coarser grain (possibly
    global): sum counts per item and spill masses, re-trim to ``k``
    moving the trimmed items' counts into spill — the Misra-Gries
    merge, which preserves the est <= true <= est + spill_sum
    contract (a trimmed item's summed count rolls into spill whole).
    Operates on sketch rows only, never base data."""
    from pyspark.sql import Window as _W

    merged = sketch.groupBy(*group_cols, "item").agg(
        F.sum("n").alias("n"), F.sum("spill").alias("spill")
    )
    items = merged.where(F.col("item").isNotNull())
    w = _W.partitionBy(*group_cols).orderBy(
        F.col("n").desc(), F.col("item").asc()
    )
    ranked = items.withColumn("__rk", F.row_number().over(w))
    top = ranked.where(F.col("__rk") <= k).select(
        *group_cols, "item", "n", F.lit(0).cast("long").alias("spill")
    )
    # new spill = carried spill masses + counts of re-trimmed items,
    # folded join-free in one conditional-sum aggregate that covers
    # every group (each group has at least its spill row)
    spill_rows = (
        ranked.select(
            *group_cols,
            F.when(F.col("__rk") > k, F.col("n"))
            .otherwise(F.lit(0).cast("long"))
            .alias("__m"),
        )
        .unionByName(
            merged.where(F.col("item").isNull()).select(
                *group_cols, F.col("spill").alias("__m")
            )
        )
        .groupBy(*group_cols)
        .agg(F.sum("__m").alias("spill"))
        .select(
            *group_cols,
            F.lit(None).cast("string").alias("item"),
            F.lit(0).cast("long").alias("n"),
            "spill",
        )
    )
    return top.unionByName(spill_rows)


def sketch_band_filter(
    df: DataFrame,
    sketch: DataFrame,
    group_cols: list[str],
    score_col: str,
    lo_q: float = 0.0,
    hi_q: float = 1.0,
    alpha: float = 0.01,
) -> DataFrame:
    """Percentile-band trim driven by a PRE-BUILT quantile sketch: keep
    rows whose ``score_col`` lies inside each group's [lo_q, hi_q]
    band, with the band bounds read from the sketch table instead of
    re-aggregating the corpus — the round-8 point of the sketch rollup:
    the recurring curation trim (``text.quantile_band_filter``'s job)
    becomes ONE map-only corpus pass plus a broadcast of O(groups)
    bound rows, and the bounds stay fresh via the sketch's incremental
    refresh. Each bound is within relative ``alpha`` of the exact
    percentile (the DDSketch contract), so the band edges are fuzzy by
    at most alpha — the knowingly-accepted trade against rescanning at
    every refresh. Pass ``group_cols=[]`` for a global band."""
    qs = sketch_quantiles(
        sketch, group_cols, [float(lo_q), float(hi_q)], alpha=alpha
    )
    lo = qs.where(F.col("q") == float(lo_q)).select(
        *group_cols, F.col("quantile_est").alias("__lo")
    )
    hi = qs.where(F.col("q") == float(hi_q)).select(
        *group_cols, F.col("quantile_est").alias("__hi")
    )
    if group_cols:
        bounds = F.broadcast(lo.join(hi, group_cols))
        joined = df.join(bounds, group_cols)
    else:
        bounds = F.broadcast(lo.crossJoin(hi))
        joined = df.crossJoin(bounds)
    return joined.where(
        (F.col(score_col) >= F.col("__lo"))
        & (F.col(score_col) <= F.col("__hi"))
    ).drop("__lo", "__hi")


def refresh_hll_rollup(
    source,
    target,
    group_cols: list[str],
    distinct_col: str,
    lg_k: int = 12,
    full_refresh: bool = False,
) -> int:
    """Incrementally maintain an :func:`hll_rollup` as a LAKEHOUSE
    table by the bookmark protocol of ``operators.rollup`` (properties
    ``hll.*``): sketch ONLY the rows inserted since the stored bookmark
    and append them; readers coarsen at query time (``hll_coarsen`` —
    register-state union is order-independent, so appended deltas land
    on exactly the estimate a from-scratch build produces). Completes
    the IVM story for the mergeable-summary triple (counts/sums:
    ``rollup.refresh_rollup``; quantiles: ``refresh_quantile_sketch``;
    distincts: this).

    Honesty boundary, enforced loudly: HLL registers are max-folds — a
    DELETE cannot be unseen. A change span containing 'D' rows (the
    reduced ``source.diff``, so a compaction's unchanged rows are not
    deletes) raises before anything is written instead of silently
    over-counting; rebuild with ``full_refresh=True`` (the rollup is
    O(groups), the rebuild scans the source once). ``lg_k`` is pinned
    as a table property and drift refused — sketches at different
    precisions must not be unioned blindly."""
    deletes = Observation()

    def delta(last_src, src_v):
        # one sketch row per (group, change type): a span with deletes
        # yields rows the write refuses, even when it inserted nothing.
        # The deletes are counted ABOVE the aggregate — an observation
        # below its exchange is lost when adaptive execution drops an
        # empty shuffle stage
        rolled = hll_rollup(
            source.diff(last_src, src_v),
            [*group_cols, "_change_type"],
            distinct_col,
            lg_k,
        )
        return rolled.observe(
            deletes,
            F.count(F.when(F.col("_change_type") == "D", F.lit(1))).alias(
                "d"
            ),
        ), src_v

    def write(d, n):
        if deletes.get["d"]:
            raise ValueError(
                "source delta contains deletes: HLL sketches cannot unsee "
                "rows; rebuild with full_refresh=True"
            )
        return target.append(d.drop("_change_type"), evolve=False)

    return _refresh(
        source,
        target,
        "hll",
        lambda rows: hll_rollup(rows, group_cols, distinct_col, lg_k),
        delta,
        write,
        full_refresh,
        pins={"hll.lg_k": int(lg_k)},
    )


def skew_report(
    df: DataFrame,
    keys: list[str],
    top: int = 10,
) -> DataFrame:
    """Join/aggregation skew diagnostics: the ``top`` hottest key
    tuples with row counts and corpus share — the numbers that decide
    between a plain shuffle, AQE's skew split, and an explicit
    ``salted_join``. One hash aggregate + a tiny top-k; the share
    denominator folds in the same pass (grouping-sets style via a
    window over the aggregated, already-small key counts)."""
    if not keys:
        raise ValueError("need at least one key column")
    from pyspark.sql import Window as _W

    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_rows"))
    # scale discipline, practiced on ourselves: a global window over the
    # key counts would single-partition a possibly-huge distinct-key
    # set. The top-k is TakeOrdered (per-partition heaps), the
    # denominator a one-row aggregate broadcast back, and the rank
    # window runs over only the <=top surviving rows.
    order = [F.col("n_rows").desc()] + [F.col(k).asc() for k in keys]
    top_rows = counts.orderBy(*order).limit(top)
    total = counts.agg(F.sum("n_rows").alias("__total"))
    w = _W.partitionBy().orderBy(*order)
    return (
        top_rows.crossJoin(F.broadcast(total))
        .withColumn("share", F.col("n_rows") / F.col("__total"))
        .withColumn("rank", F.row_number().over(w))
        .drop("__total")
    )
