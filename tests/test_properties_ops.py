"""Property-based tests: SCD2 and connected components against
independent pure-Python reference implementations."""

from __future__ import annotations

import hypothesis.strategies as st
from hypothesis import HealthCheck, given, settings

from spark_iceberg_schema_evolution_spark.operators.dedup import connected_components
from spark_iceberg_schema_evolution_spark.operators.scd import scd2_apply

# -- reference implementations (pure python) --------------------------------


def ref_components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find with min-label canonicalization."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def ref_scd2(history, changes):
    """history: {key: [(seg, vf, vt, cur)]}; changes: [(key, seg, ts)]."""
    out = []
    by_key_changes: dict[int, list] = {}
    for k, seg, ts in changes:
        by_key_changes.setdefault(k, []).append((ts, seg))
    changed = set(by_key_changes)
    for k, rows in history.items():
        for seg, vf, vt, cur in rows:
            if not cur:
                out.append((k, seg, vf, vt, False))
            elif k not in changed:
                out.append((k, seg, vf, None, True))
    # rebuild per changed key: open row + sorted changes
    for k in changed:
        opens = [
            (vf, seg)
            for seg, vf, vt, cur in history.get(k, [])
            if cur
        ]
        chain = sorted(opens + by_key_changes[k])
        for i, (vf, seg) in enumerate(chain):
            vt = chain[i + 1][0] if i + 1 < len(chain) else None
            out.append((k, seg, vf, vt, vt is None))
    return sorted(out)


# -- properties --------------------------------------------------------------


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=25),
            st.integers(min_value=0, max_value=25),
        ).filter(lambda p: p[0] != p[1]),
        min_size=1,
        max_size=30,
    )
)
def test_connected_components_matches_union_find(spark, pairs):
    norm = [(min(a, b), max(a, b)) for a, b in pairs]
    df = spark.createDataFrame(norm, "id_a BIGINT, id_b BIGINT")
    got = {
        r.id: r.cluster_id for r in connected_components(df).collect()
    }
    assert got == ref_components(norm)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),  # key
            st.sampled_from(["A", "B", "C"]),  # new seg
            st.sampled_from(  # strictly post-history, unique-ish ts
                ["2024-01-01", "2024-02-01", "2024-03-01", "2024-04-01"]
            ),
        ),
        min_size=1,
        max_size=8,
        unique_by=lambda c: (c[0], c[2]),  # one change per (key, ts)
    )
)
def test_scd2_matches_reference(spark, changes):
    history = {
        k: [("OLD", "2019-01-01", "2020-01-01", False),
            ("S0", "2020-01-01", None, True)]
        for k in range(6)
    }
    hist_rows = [
        (k, seg, vf, vt, cur)
        for k, rows in history.items()
        for seg, vf, vt, cur in rows
    ]
    hist_df = spark.createDataFrame(
        hist_rows,
        "id BIGINT, seg STRING, valid_from STRING, valid_to STRING, "
        "is_current BOOLEAN",
    )
    # dedupe seg per (key, ts): ref chain sorts (ts, seg) — keep min seg
    best: dict[tuple, str] = {}
    for k, seg, ts in changes:
        cur = best.get((k, ts))
        best[(k, ts)] = seg if cur is None or seg < cur else cur
    ch = [(k, seg, ts) for (k, ts), seg in best.items()]
    ch_df = spark.createDataFrame(ch, "id BIGINT, seg STRING, ts STRING")
    got = sorted(
        (r.id, r.seg, r.valid_from, r.valid_to, r.is_current)
        for r in scd2_apply(hist_df, ch_df, keys=["id"], change_ts="ts").collect()
    )
    assert got == ref_scd2(history, ch)


# -- stats-gate soundness (round 4) -----------------------------------------


def _stats_prove_no_match(t, snap, cond) -> bool:
    """The no-op DML gate as delete_where/update_where apply it: the
    predicate yields stats-extractable conjuncts and the scan planner
    keeps no batch for them."""
    conjs = t._extract_simple_conjuncts(cond)
    return bool(conjs) and not t._plan(snap, conjs)[0]


def test_noop_dml_gate_soundness(spark, tmp_path):
    """THE property the no-op DML short-circuit must never break: when
    the planner prunes every batch, the predicate really matches nothing.
    Sweep the comparison grid around the table's [min, max] bounds for
    both string and Column predicates, cross-checking against a real
    scan every time the gate fires — and assert it DOES fire for clearly
    out-of-bounds predicates (the optimization exists)."""
    import hypothesis.strategies as st
    from hypothesis import HealthCheck, given, settings
    from pyspark.sql import functions as F

    from spark_iceberg_schema_evolution_spark.tables import LakehouseCatalog

    cat = LakehouseCatalog(spark, str(tmp_path / "wh-gate"))
    cat.write_evolving(
        spark.createDataFrame(
            [(i, float(i * 2), f"s{i:03d}") for i in range(10, 60)],
            ["id", "v", "name"],
        ),
        "db", "g",
    )
    t = cat.table("db", "g")
    snap = t._load()
    fired = []

    @given(
        col=st.sampled_from(["id", "v", "name"]),
        op=st.sampled_from(["=", "<", "<=", ">", ">="]),
        point=st.integers(min_value=-30, max_value=150),
        as_column=st.booleans(),
    )
    @settings(
        max_examples=120,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def check(col, op, point, as_column):
        if col == "v":
            lit_sql, lit_col = f"{float(point)}", F.lit(float(point))
        elif col == "name":
            lit_sql, lit_col = f"'s{point:03d}'", F.lit(f"s{point:03d}")
        else:
            lit_sql, lit_col = str(point), F.lit(point)
        cond_str = f"{col} {op} {lit_sql}"
        if as_column:
            c = F.col(col)
            cond = {
                "=": c == lit_col, "<": c < lit_col, "<=": c <= lit_col,
                ">": c > lit_col, ">=": c >= lit_col,
            }[op]
        else:
            cond = cond_str
        if _stats_prove_no_match(t, snap, cond):
            fired.append(cond_str)
            n = t.read().where(F.expr(cond_str)).count()
            assert n == 0, f"gate skipped {cond_str!r} but {n} rows match"

    check()
    assert fired, "gate never fired across an out-of-bounds sweep"


# -- footer-stats coverage soundness (round 5, ADVICE medium) ----------------


def test_footer_stats_statless_file_poisons_column(tmp_path):
    """A file holding VALUES but no usable min/max (parquet writers may
    omit stats, e.g. parquet-mr for >4KB binary) must drop the column
    from the batch aggregate AND its own per-file entry — otherwise the
    no-op DML gate can 'prove' no-match from a range that excludes the
    stats-less file's rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_iceberg_schema_evolution_spark.tables import LakehouseTable

    d = tmp_path / "batch"
    d.mkdir()
    pq.write_table(
        pa.table({"id": pa.array([10, 20], pa.int64())}),
        str(d / "f1.parquet"),
    )
    pq.write_table(
        pa.table({"id": pa.array([5, 7], pa.int64())}),
        str(d / "f2.parquet"),
        write_statistics=False,
    )
    stats, fstats, rows = LakehouseTable._footer_stats(str(d))
    assert "id" not in stats, "batch range must not hide f2's rows"
    assert fstats["f1.parquet"]["id"] == [10, 20]
    assert "id" not in fstats["f2.parquet"]
    assert rows["f2.parquet"] == 2


def test_footer_stats_allnull_and_absent_do_not_poison(tmp_path):
    """All-NULL chunks and files lacking the column entirely contribute
    no range but keep coverage: NULL never satisfies a comparison
    conjunct, so the surviving [min, max] is still sound."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_iceberg_schema_evolution_spark.tables import LakehouseTable

    d = tmp_path / "batch"
    d.mkdir()
    pq.write_table(
        pa.table({"id": pa.array([10, 20], pa.int64()),
                  "v": pa.array([1.0, 2.0])}),
        str(d / "f1.parquet"),
    )
    pq.write_table(
        pa.table({"id": pa.array([None, None], pa.int64()),
                  "v": pa.array([3.0, 4.0])}),
        str(d / "f2.parquet"),
    )
    pq.write_table(  # schema-evolution shape: column absent altogether
        pa.table({"v": pa.array([5.0])}),
        str(d / "f3.parquet"),
    )
    stats, fstats, _rows = LakehouseTable._footer_stats(str(d))
    assert stats["id"] == [10, 20]
    assert stats["v"] == [1.0, 5.0]
    assert "id" not in fstats["f2.parquet"]
    assert "id" not in fstats["f3.parquet"]


def test_dml_not_noop_on_stats_less_file(spark, tmp_path):
    """End-to-end: doctor a committed batch with a stats-less file whose
    row MATCHES the predicate, refresh the manifest through
    _footer_stats, and prove the gate declines and DELETE really
    deletes (the ADVICE-flagged silent-no-op scenario)."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_iceberg_schema_evolution_spark.tables import LakehouseCatalog

    cat = LakehouseCatalog(spark, str(tmp_path / "wh-statless"))
    cat.write_evolving(
        spark.createDataFrame(
            [(i, f"s{i:03d}") for i in range(10, 30)], ["id", "name"]
        ),
        "db", "sl",
    )
    t = cat.table("db", "sl")
    snap = t._load()
    bdir = snap.batches[0]["path"]
    existing = next(
        f for f in os.listdir(bdir) if f.endswith(".parquet")
    )
    file_schema = pq.read_schema(os.path.join(bdir, existing))
    pq.write_table(
        pa.table(
            {"id": pa.array([5], pa.int64()),
             "name": pa.array(["s005"])}
        ).cast(file_schema),
        os.path.join(bdir, "part-statless.parquet"),
        write_statistics=False,
    )
    # refresh the manifest the way a commit would
    stats, fstats, frows = t._footer_stats(bdir)
    mpath = os.path.join(t.meta_dir, f"v{snap.version}.json")
    with open(mpath) as f:
        m = json.load(f)
    m["batches"][0].update(
        stats=stats, file_stats=fstats, file_rows=frows
    )
    with open(mpath, "w") as f:
        json.dump(m, f)

    snap = t._load()
    assert not _stats_prove_no_match(t, snap, "id = 5"), (
        "gate must decline: a stats-less file may hold id=5"
    )
    assert t.read().where("id = 5").count() == 1
    t.delete_where("id = 5")
    assert t.read().where("id = 5").count() == 0
    # the optimization still exists for clearly out-of-bounds predicates
    # on a fully-covered column? id is now uncovered — but name still is
    assert _stats_prove_no_match(t, t._load(), "name = 'zzz'")


# -- partition evolution: model-based sequence property ---------------------


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(
    st.lists(
        st.one_of(
            st.tuples(
                st.just("append"),
                st.lists(
                    st.integers(min_value=1, max_value=3),  # months
                    min_size=1,
                    max_size=4,
                ),
            ),
            st.tuples(
                st.just("set_spec"),
                st.sampled_from(["ts", None]),
            ),
            st.tuples(
                st.just("delete"),
                st.tuples(
                    st.integers(min_value=1, max_value=3),  # month
                    st.integers(min_value=0, max_value=1),  # id parity
                ),
            ),
            st.tuples(
                st.just("overwrite"),
                st.tuples(
                    st.integers(min_value=1, max_value=3),  # month
                    st.integers(min_value=0, max_value=3),  # n new rows
                ),
            ),
        ),
        min_size=2,
        max_size=6,
    )
)
def test_partition_evolution_sequences_match_model(spark, ops):
    """Any interleaving of appends, spec flips, month-scoped COW deletes
    and dynamic overwrites must leave the table equal to a pure-Python
    row-set model — the keep/trim/carry split across mixed layouts can
    never lose or duplicate a row."""
    import datetime as _dt
    import tempfile

    from spark_iceberg_schema_evolution_spark.tables import LakehouseCatalog

    cat = LakehouseCatalog(spark, tempfile.mkdtemp())
    model: dict[int, int] = {}  # id -> month
    next_id = [0]

    def mk_df(rows):
        return spark.createDataFrame(
            [
                (i, _dt.datetime(2024, m, 5 + (i % 20)))
                for i, m in rows
            ],
            "id BIGINT, ts TIMESTAMP",
        )

    # table always exists before ops: seed one row per month
    seed = [(next_id[0] + j, m) for j, m in enumerate((1, 2, 3))]
    next_id[0] += 3
    cat.write_evolving(mk_df(seed), "db", "pemod")
    model.update({i: m for i, m in seed})
    t = cat.table("db", "pemod")

    for op, arg in ops:
        if op == "append":
            rows = [(next_id[0] + j, m) for j, m in enumerate(arg)]
            next_id[0] += len(arg)
            t.append(mk_df(rows))
            model.update({i: m for i, m in rows})
        elif op == "set_spec":
            t.set_partition_spec(arg)
        elif op == "delete":
            m, parity = arg
            t.delete_where(
                f"date_format(ts, 'yyyy-MM') = '2024-0{m}' "
                f"AND id % 2 = {parity}"
            )
            model = {
                i: mm
                for i, mm in model.items()
                if not (mm == m and i % 2 == parity)
            }
        elif op == "overwrite":
            m, n = arg
            if t._load().partition_month_of is None:
                continue  # dynamic overwrite needs a spec
            rows = [(next_id[0] + j, m) for j in range(n)]
            next_id[0] += n
            if not rows:
                continue  # empty overwrite: no months to replace
            t.overwrite_partitions(mk_df(rows))
            model = {i: mm for i, mm in model.items() if mm != m}
            model.update({i: m for i, m in rows})

    got = {
        (r.id, r.ts.month) for r in t.read().collect()
    }
    assert got == {(i, m) for i, m in model.items()}
    assert t.row_count() == len(model)
    if t._load().partition_month_of is not None:
        for m in (1, 2, 3):
            got_m = {
                r.id for r in t.read(months=[f"2024-0{m}"]).collect()
            }
            assert got_m == {i for i, mm in model.items() if mm == m}


# -- mergeable sketches vs pure-python references ----------------------------


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(
    st.lists(
        st.integers(min_value=-10_000, max_value=10_000),
        min_size=5,
        max_size=60,
    ),
    st.floats(min_value=0.05, max_value=0.95),
)
def test_quantile_sketch_bound_holds_property(spark, vals, q):
    """For arbitrary integer data (negatives and zeros included) and an
    arbitrary quantile, the sketch estimate is within relative alpha of
    the exact order statistic — the DDSketch contract, fuzzed."""
    import math

    from spark_iceberg_schema_evolution_spark.operators.profile import (
        quantile_sketch,
        sketch_quantiles,
    )

    alpha = 0.02
    df = spark.createDataFrame(
        [("g", float(v)) for v in vals], "g string, v double"
    )
    sk = quantile_sketch(df, ["g"], "v", alpha=alpha)
    row = sketch_quantiles(sk, ["g"], [q], alpha=alpha).first()
    s = sorted(vals)
    exact = s[max(1, math.ceil(q * len(s))) - 1]
    if exact == 0:
        assert row.quantile_est == 0.0
    else:
        assert abs(row.quantile_est - exact) <= alpha * abs(exact) + 1e-9


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(
    st.lists(
        st.integers(min_value=0, max_value=15),
        min_size=2,
        max_size=80,
    ),
    st.integers(min_value=1, max_value=6),
)
def test_topk_sketch_bound_holds_property(spark, items, k):
    """Fuzzed Misra-Gries contract: split the data at an arbitrary
    point, sketch each half at k, merge — for EVERY item,
    est <= true <= est + spill, and total mass is conserved."""
    import collections

    from spark_iceberg_schema_evolution_spark.operators.profile import (
        topk_sketch,
        topk_sketch_coarsen,
    )

    cut = len(items) // 2
    halves = [items[:cut], items[cut:]]
    true = collections.Counter(items)
    sketches = []
    for h in halves:
        if not h:
            continue
        df = spark.createDataFrame(
            [("g", f"i{x}") for x in h], "g string, item string"
        )
        sketches.append(topk_sketch(df, ["g"], "item", k=k))
    sk = sketches[0]
    for other in sketches[1:]:
        sk = sk.unionByName(other)
    rows = topk_sketch_coarsen(sk, ["g"], k=k).collect()
    est = {r.item: r.n for r in rows if r.item is not None}
    spill = sum(r.spill for r in rows)
    assert sum(est.values()) + spill == len(items)
    for x, t in true.items():
        e = est.get(f"i{x}", 0)
        assert e <= t <= e + spill


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(
    st.lists(
        st.tuples(
            st.text(
                alphabet="abcde'\"", min_size=1, max_size=6
            ),
            st.integers(min_value=1, max_value=9),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_bpe_learner_matches_reference_fuzzed(spark, word_rows):
    """Fuzzed BPE: arbitrary little vocabularies (including quote
    characters — the literal-injection hazard) learn the same merge
    table as the pure-python reference, through the word_counts
    injection point."""
    from spark_iceberg_schema_evolution_spark.operators.bpe import (
        bpe_learn,
    )
    from tests.test_bpe import ref_bpe

    word_n: dict[str, int] = {}
    for w, n in word_rows:
        word_n[w] = word_n.get(w, 0) + n
    counts = spark.createDataFrame(
        list(word_n.items()), "word string, n long"
    )
    got = bpe_learn(
        counts, counts=counts, num_merges=8, min_pair_count=2
    )
    want = ref_bpe(word_n, num_merges=8, min_pair_count=2)
    assert [(m.rank, m.left, m.right, m.pair_n) for m in got] == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=18),
            st.integers(min_value=0, max_value=18),
        ).filter(lambda p: p[0] != p[1]),
        min_size=1,
        max_size=25,
    ),
    st.sets(st.integers(min_value=0, max_value=18), min_size=1, max_size=3),
    st.booleans(),
)
def test_shortest_paths_matches_bfs_fuzzed(spark, edges, seeds, directed):
    """Fuzzed multi-source BFS: min hop distance AND min-seed
    attribution must match a pure-python replica on random graphs,
    directed and undirected, multi-seed."""
    from spark_iceberg_schema_evolution_spark.operators.graph import (
        shortest_paths,
    )

    adj: dict = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        if not directed:
            adj.setdefault(d, set()).add(s)
    known = {s: (0, s) for s in seeds}
    frontier = dict(known)
    for hop in range(1, 21):
        cand: dict = {}
        for node, (_, seed) in frontier.items():
            for nbr in adj.get(node, ()):
                if nbr not in known:
                    prev = cand.get(nbr)
                    if prev is None or seed < prev[1]:
                        cand[nbr] = (hop, seed)
        if not cand:
            break
        known.update(cand)
        frontier = cand

    df = spark.createDataFrame(edges, "src long, dst long")
    sdf = spark.createDataFrame([(s,) for s in sorted(seeds)], "node long")
    got = {
        r["node"]: (r["dist"], r["seed"])
        for r in shortest_paths(df, sdf, directed=directed).collect()
    }
    assert got == known


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-3, max_value=3),
            st.integers(min_value=-3, max_value=3),
        ),
        min_size=4,
        max_size=30,
    ),
    st.integers(min_value=1, max_value=4),
)
def test_kmeans_refinement_matches_numpy_fuzzed(spark, pts, k):
    """Fuzzed k-means refinement on INTEGER coordinates — duplicate
    points and exact distance ties are common, so this pins the
    struct-min smallest-cluster-id tiebreak against numpy first-argmin
    and the empty-cluster keep-previous rule."""
    import numpy as np

    from spark_iceberg_schema_evolution_spark.operators.similarity import (
        _collect_fit_sample,
        _kmeans_np,
        as_double,
        kmeans_fit,
    )
    from pyspark.sql import functions as F

    rows = [(i, [float(a), float(b)]) for i, (a, b) in enumerate(pts)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    X = np.asarray([p for _, p in rows])
    c = df.select(as_double(F.col("embedding")).alias("__cv"))
    init = _kmeans_np(_collect_fit_sample(c.limit(100_000)), k, 3)
    C = np.asarray(init, dtype=np.float64)
    n_iter = 2
    for _ in range(n_iter):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        nxt = C.copy()
        for j in range(C.shape[0]):
            sel = X[a == j]
            if len(sel):
                nxt[j] = sel.mean(axis=0)
        C = nxt
    model = kmeans_fit(df, k=k, n_iter=n_iter, seed=3)
    got = np.asarray([v for _, v in model["centroids"]])
    assert got.shape == C.shape
    assert np.abs(got - C).max() < 1e-9


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),   # user
            st.integers(min_value=0, max_value=40),  # second
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda r: (r[0], r[1]),  # one event per (user, ts)
    ),
    st.sampled_from([["a", "b"], ["a", "b", "c"], ["a", "a"]]),
    st.sampled_from([None, 5, 15]),
    st.sampled_from([None, 4, 12, 100_000]),
)
def test_match_sequences_matches_replayer_fuzzed(
    spark, rows, steps, within, cap
):
    """Fuzzed MATCH_RECOGNIZE-lite: the one-fold extraction must equal
    a pure-python greedy skip-past-last-row replayer on random event
    streams, for 2/3-step and repeated-type patterns — and under the
    round-9 hot-user cap, which drops a user's ENTIRE stream when its
    event count exceeds max_events_per_user (never a partial prefix)."""
    import datetime as dt

    from spark_iceberg_schema_evolution_spark.operators.relational import (
        match_sequences,
    )

    base = dt.datetime(2024, 1, 1)
    data = [
        (u, base + dt.timedelta(seconds=s), y) for u, s, y in rows
    ]
    df = spark.createDataFrame(
        data, "user_id long, ts timestamp, event_type string"
    )

    def us(d):
        return int(
            d.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000
        )

    k = len(steps)
    want = []
    for u in sorted({r[0] for r in rows}):
        evs = sorted((us(d), y) for uu, d, y in data if uu == u)
        if cap is not None and len(evs) > cap:
            continue
        cur = [None] * k
        idx = 0
        for t, y in evs:
            prev = list(cur)
            for i, step in enumerate(steps):
                if prev[i] is None and y == step:
                    if i == 0 or (
                        prev[i - 1] is not None and prev[i - 1] < t
                    ):
                        cur[i] = t
            if cur[k - 1] is not None:
                # completed: keep if inside the window, always reset
                if within is None or (
                    cur[k - 1] - cur[0] <= within * 1_000_000
                ):
                    idx += 1
                    want.append((u, idx) + tuple(cur))
                cur = [None] * k
    got = [
        tuple(r)
        for r in match_sequences(
            df, steps, within_seconds=within, max_events_per_user=cap
        )
        .orderBy("user_id", "match_idx")
        .collect()
    ]
    assert got == want
