"""PageRank property gates: exact replica vs numpy power iteration
(same update rule, same iteration count), mass conservation, uniform
cycle, weighted edges, dangling + disconnected handling."""

from __future__ import annotations

import numpy as np
import pytest

from spark_iceberg_schema_evolution_spark.operators.graph import pagerank


def ref_pagerank(edges, n_nodes, n_iter, damping, weights=None):
    """Dense numpy replica of the operator's update rule."""
    p = np.zeros((n_nodes, n_nodes))
    w = {}
    for i, (s, d) in enumerate(edges):
        w[(s, d)] = w.get((s, d), 0.0) + (
            weights[i] if weights is not None else 1.0
        )
    out = {}
    for (s, d), x in w.items():
        out[s] = out.get(s, 0.0) + x
    for (s, d), x in w.items():
        p[s, d] = x / out[s]
    r = np.full(n_nodes, 1.0 / n_nodes)
    for _ in range(n_iter):
        dangling = r[[i for i in range(n_nodes) if i not in out]].sum()
        r = (1.0 - damping) / n_nodes + damping * (
            p.T @ r + dangling / n_nodes
        )
    return r


def _ranks(df):
    return {r["node"]: r["rank"] for r in df.collect()}


def test_pagerank_matches_numpy(spark):
    # 8 nodes: a hub (0), a dangling sink (5), a 2-cycle island (6, 7)
    edges = [
        (0, 1), (0, 2), (0, 3), (1, 0), (2, 0), (3, 4), (4, 5),
        (1, 5), (6, 7), (7, 6), (2, 5),
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = _ranks(pagerank(df, n_iter=20))
    want = ref_pagerank(edges, 8, n_iter=20, damping=0.85)
    assert set(got) == set(range(8))
    for i in range(8):
        assert got[i] == pytest.approx(want[i], abs=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_uniform_on_cycle(spark):
    edges = [(i, (i + 1) % 5) for i in range(5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = _ranks(pagerank(df, n_iter=10))
    for v in got.values():
        assert v == pytest.approx(0.2, abs=1e-12)


def test_pagerank_weighted_and_parallel_edges(spark):
    # weight 3 on 0->1 vs 1 on 0->2; plus parallel unweighted rows
    edges = [(0, 1, 3.0), (0, 2, 1.0), (1, 0, 1.0), (2, 0, 1.0)]
    df = spark.createDataFrame(edges, "src long, dst long, w double")
    got = _ranks(pagerank(df, n_iter=25, weight_col="w"))
    want = ref_pagerank(
        [(s, d) for s, d, _ in edges], 3, 25, 0.85,
        weights=[w for _, _, w in edges],
    )
    for i in range(3):
        assert got[i] == pytest.approx(want[i], abs=1e-9)
    assert got[1] > got[2]
    # parallel edges accumulate like weights: 3 copies == weight 3
    par = [(0, 1), (0, 1), (0, 1), (0, 2), (1, 0), (2, 0)]
    pdf = spark.createDataFrame(par, "src long, dst long")
    got_par = _ranks(pagerank(pdf, n_iter=25))
    for i in range(3):
        assert got_par[i] == pytest.approx(got[i], abs=1e-9)


def test_pagerank_all_dangling_and_validation(spark):
    df = spark.createDataFrame([(0, 1)], "src long, dst long")
    got = _ranks(pagerank(df, n_iter=8))
    want = ref_pagerank([(0, 1)], 2, 8, 0.85)
    for i in range(2):
        assert got[i] == pytest.approx(want[i], abs=1e-9)
    with pytest.raises(ValueError):
        pagerank(df, damping=1.0)
    with pytest.raises(ValueError):
        pagerank(df, n_iter=0)


def ref_ppr(edges, n_nodes, n_iter, damping, p):
    pmat = np.zeros((n_nodes, n_nodes))
    w = {}
    for s, d in edges:
        w[(s, d)] = w.get((s, d), 0.0) + 1.0
    out = {}
    for (s, d), x in w.items():
        out[s] = out.get(s, 0.0) + x
    for (s, d), x in w.items():
        pmat[s, d] = x / out[s]
    r = p.copy()
    for _ in range(n_iter):
        dangling = r[[i for i in range(n_nodes) if i not in out]].sum()
        r = (1.0 - damping) * p + damping * (pmat.T @ r + dangling * p)
    return r


def test_personalized_pagerank_matches_numpy(spark):
    edges = [
        (0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2), (5, 0),
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame(
        [(0, 3.0), (5, 1.0)], "node long, w double"
    )
    got = {
        r["node"]: r["rank"]
        for r in pagerank(
            df, n_iter=20, personalization=seeds
        ).collect()
    }
    p = np.zeros(6)
    p[0], p[5] = 0.75, 0.25
    want = ref_ppr(edges, 6, 20, 0.85, p)
    for i in range(6):
        assert got[i] == pytest.approx(want[i], abs=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # seeds dominate their own neighborhoods vs uniform pagerank
    assert got[0] > got[3]
    with pytest.raises(ValueError, match="sum > 0"):
        pagerank(
            df,
            personalization=spark.createDataFrame(
                [(0, 0.0)], "node long, w double"
            ),
        )


def test_triangle_count_matches_bruteforce(spark):
    import itertools

    rng = np.random.RandomState(3)
    edges = set()
    while len(edges) < 60:
        a, b = rng.randint(0, 18, size=2)
        if a != b:
            edges.add((int(a), int(b)))
    edges = sorted(edges)
    # brute force on the undirected simple graph
    und = {frozenset(e) for e in edges}
    nodes = sorted({x for e in edges for x in e})
    want = {v: 0 for v in nodes}
    for a, b, c in itertools.combinations(nodes, 3):
        if (
            frozenset((a, b)) in und
            and frozenset((b, c)) in und
            and frozenset((a, c)) in und
        ):
            want[a] += 1
            want[b] += 1
            want[c] += 1
    from spark_iceberg_schema_evolution_spark.operators.graph import (
        triangle_count,
    )

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["n_triangles"] for r in triangle_count(df).collect()
    }
    assert got == want


def test_triangle_count_self_loops_and_parallel(spark):
    from spark_iceberg_schema_evolution_spark.operators.graph import (
        triangle_count,
    )

    df = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 2), (2, 0), (0, 0), (2, 2)],
        "src long, dst long",
    )
    got = {
        r["node"]: r["n_triangles"] for r in triangle_count(df).collect()
    }
    assert got == {0: 1, 1: 1, 2: 1}


def test_degree_stats(spark):
    from spark_iceberg_schema_evolution_spark.operators.graph import (
        degree_stats,
    )

    df = spark.createDataFrame(
        [(0, 1), (0, 1), (0, 2), (1, 2), (3, 0)], "src long, dst long"
    )
    got = {
        r["node"]: (r["out_degree"], r["in_degree"])
        for r in degree_stats(df).collect()
    }
    assert got == {0: (2, 1), 1: (1, 1), 2: (0, 2), 3: (1, 0)}


def _ref_components(edges, nodes):
    """Pure-python union-find (path compression + union by id)."""
    parent = {v: v for v in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min member id; one more pass normalizes
    return {v: find(v) for v in nodes}


def test_connected_components_matches_union_find(spark):
    from spark_iceberg_schema_evolution_spark.operators.graph import (
        connected_components,
    )

    rng = np.random.RandomState(7)
    edges = sorted(
        {
            (int(a), int(b))
            for a, b in rng.randint(0, 40, size=(70, 2))
            if a != b
        }
    )
    nodes = sorted({x for e in edges for x in e})
    want = _ref_components(edges, nodes)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }
    assert got == want


def test_connected_components_chain_and_islands(spark):
    from spark_iceberg_schema_evolution_spark.operators.graph import (
        connected_components,
    )

    # a 50-hop chain (stresses pointer doubling) + a 2-cycle island
    edges = [(i, i + 1) for i in range(50)] + [(100, 101), (101, 100)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }
    assert all(got[i] == 0 for i in range(51))
    assert got[100] == got[101] == 100


def _ref_bfs(edges, seeds, directed=True, max_hops=20):
    """Pure-python multi-source BFS with min-seed tiebreak."""
    adj = {}
    for s, d in edges:
        if s != d:
            adj.setdefault(s, set()).add(d)
            if not directed:
                adj.setdefault(d, set()).add(s)
    known = {s: (0, s) for s in seeds}
    frontier = dict(known)
    for hop in range(1, max_hops + 1):
        cand = {}
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
    return known


@pytest.mark.parametrize("directed", [True, False])
def test_shortest_paths_matches_bfs(spark, directed):
    from spark_iceberg_schema_evolution_spark.operators.graph import (
        shortest_paths,
    )

    rng = np.random.RandomState(11)
    edges = sorted(
        {
            (int(a), int(b))
            for a, b in rng.randint(0, 30, size=(55, 2))
            if a != b
        }
    )
    seeds = [3, 17]
    want = _ref_bfs(edges, seeds, directed=directed)
    df = spark.createDataFrame(edges, "src long, dst long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "node long")
    got = {
        r["node"]: (r["dist"], r["seed"])
        for r in shortest_paths(df, sdf, directed=directed).collect()
    }
    assert got == want


def test_shortest_paths_max_hops_truncates(spark):
    from spark_iceberg_schema_evolution_spark.operators.graph import (
        shortest_paths,
    )

    edges = [(i, i + 1) for i in range(10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    sdf = spark.createDataFrame([(0,)], "node long")
    got = {
        r["node"]: r["dist"]
        for r in shortest_paths(df, sdf, max_hops=3).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}
    with pytest.raises(ValueError):
        shortest_paths(df, sdf, max_hops=-1)


def _ref_hits(edges, n_nodes, n_iter):
    """Dense numpy replica of the operator's update rule."""
    A = np.zeros((n_nodes, n_nodes))
    for s, d in set(edges):
        A[s, d] = 1.0
    h = np.ones(n_nodes)
    a = np.zeros(n_nodes)
    for _ in range(n_iter):
        a = A.T @ h
        a = a / np.linalg.norm(a)
        h = A @ a
        h = h / np.linalg.norm(h)
    return h, a


def test_hits_matches_numpy(spark):
    from spark_iceberg_schema_evolution_spark.operators.graph import hits

    edges = [
        (0, 1), (0, 2), (0, 3), (4, 1), (4, 2), (1, 5), (2, 5),
        (3, 0), (5, 5), (0, 1),  # parallel edge collapses; self-loop ok
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: (r["hub"], r["authority"])
        for r in hits(df, n_iter=15).collect()
    }
    want_h, want_a = _ref_hits(edges, 6, 15)
    assert set(got) == set(range(6))
    for i in range(6):
        assert got[i][0] == pytest.approx(want_h[i], abs=1e-9)
        assert got[i][1] == pytest.approx(want_a[i], abs=1e-9)
    # node 0 is the dominant hub; node 5 collects from both mid nodes
    assert got[0][0] == max(v[0] for v in got.values())


def test_hits_validation(spark):
    from spark_iceberg_schema_evolution_spark.operators.graph import hits

    df = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError):
        hits(df, n_iter=0)


def _ref_weighted(edges, seeds, directed=True):
    """Pure-python Bellman-Ford fixpoint with (dist, seed) min
    tiebreak; integer-exact weights keep float sums exact."""
    adj = {}
    for s, d, w in edges:
        adj.setdefault(s, {})
        adj[s][d] = min(adj[s].get(d, float("inf")), w)
        if not directed:
            adj.setdefault(d, {})
            adj[d][s] = min(adj[d].get(s, float("inf")), w)
    best = {s: (0.0, s) for s in seeds}
    changed = True
    while changed:
        changed = False
        for u, (du, su) in list(best.items()):
            for v, w in adj.get(u, {}).items():
                cand = (du + w, su)
                if v not in best or cand < best[v]:
                    best[v] = cand
                    changed = True
    return best


@pytest.mark.parametrize("directed", [True, False])
def test_shortest_paths_weighted_matches_bellman_ford(spark, directed):
    from spark_iceberg_schema_evolution_spark.operators.graph import (
        shortest_paths_weighted,
    )

    rng = np.random.RandomState(13)
    edges = sorted(
        {
            (int(a), int(b))
            for a, b in rng.randint(0, 25, size=(50, 2))
            if a != b
        }
    )
    weighted = [
        (a, b, float(1 + ((a * 7 + b * 3) % 3))) for a, b in edges
    ]
    seeds = [2, 9]
    want = _ref_weighted(weighted, seeds, directed=directed)
    df = spark.createDataFrame(
        weighted, "src long, dst long, w double"
    )
    sdf = spark.createDataFrame([(s,) for s in seeds], "node long")
    got = {
        r["node"]: (r["dist"], r["seed"])
        for r in shortest_paths_weighted(
            df, sdf, "w", directed=directed
        ).collect()
    }
    assert got == want


def test_shortest_paths_weighted_prefers_cheap_detour(spark):
    from spark_iceberg_schema_evolution_spark.operators.graph import (
        shortest_paths_weighted,
    )

    # direct hop costs 10; three-hop detour costs 3
    df = spark.createDataFrame(
        [(0, 3, 10.0), (0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0)],
        "src long, dst long, w double",
    )
    sdf = spark.createDataFrame([(0,)], "node long")
    got = {
        r["node"]: r["dist"]
        for r in shortest_paths_weighted(df, sdf, "w").collect()
    }
    assert got == {0: 0.0, 1: 1.0, 2: 2.0, 3: 3.0}
    with pytest.raises(ValueError):
        shortest_paths_weighted(
            spark.createDataFrame(
                [(0, 1, -1.0)], "src long, dst long, w double"
            ),
            sdf,
            "w",
        )


def _ref_lpa(edges, seeds, n_iter, directed=False):
    """Pure-python synchronous LPA with clamped seeds and
    (majority, smallest-label) tiebreak."""
    adj = {}
    for s, d in edges:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        if not directed:
            adj.setdefault(d, set()).add(s)
    labels = {n: (l, 0) for n, l in seeds.items()}
    for rnd in range(1, n_iter + 1):
        votes = {}
        for u, (lu, _) in labels.items():
            for v in adj.get(u, ()):
                votes.setdefault(v, {}).setdefault(lu, 0)
                votes[v][lu] += 1
        nxt = dict(labels)
        changed = False
        for node, vs in votes.items():
            win = min((-n, l) for l, n in vs.items())[1]
            if node in seeds:
                continue
            if node not in labels:
                nxt[node] = (win, rnd)
                changed = True
            elif labels[node][0] != win:
                nxt[node] = (win, labels[node][1])
                changed = True
        labels = nxt
        if not changed:
            break
    return labels


@pytest.mark.parametrize("directed", [False, True])
def test_label_propagation_matches_replica(spark, directed):
    from spark_iceberg_schema_evolution_spark.operators.graph import (
        label_propagation,
    )

    rng = np.random.RandomState(21)
    edges = sorted(
        {
            (int(a), int(b))
            for a, b in rng.randint(0, 24, size=(45, 2))
            if a != b
        }
    )
    seeds = {0: "good", 7: "spam", 13: "good"}
    want = {
        n: (l, r)
        for n, (l, r) in _ref_lpa(
            edges, seeds, n_iter=8, directed=directed
        ).items()
    }
    df = spark.createDataFrame(edges, "src long, dst long")
    sdf = spark.createDataFrame(
        list(seeds.items()), "node long, label string"
    )
    got = {
        r["node"]: (r["label"], r["n_rounds"])
        for r in label_propagation(
            df, sdf, n_iter=8, directed=directed
        ).collect()
    }
    assert got == want
    # seeds clamped
    for n, l in seeds.items():
        assert got[n] == (l, 0)


def test_label_propagation_two_camps(spark):
    """Two seed labels on a barbell graph: each side adopts its own
    seed's label; the bridge node ties -> smallest label wins."""
    from spark_iceberg_schema_evolution_spark.operators.graph import (
        label_propagation,
    )

    # triangle 0-1-2 (seed 'a' at 0), triangle 4-5-6 (seed 'b' at 6),
    # bridge node 3 connected to both camps symmetrically
    edges = [
        (0, 1), (1, 2), (2, 0), (4, 5), (5, 6), (6, 4), (2, 3), (3, 4),
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    sdf = spark.createDataFrame(
        [(0, "a"), (6, "b")], "node long, label string"
    )
    got = {
        r["node"]: r["label"]
        for r in label_propagation(df, sdf, n_iter=10).collect()
    }
    assert got[1] == got[2] == "a"
    assert got[5] == got[4] == "b"
    assert got[3] in ("a", "b")  # bridge: deterministic tie -> 'a'
    assert got[3] == "a"
    import pytest as _p
    with _p.raises(ValueError):
        label_propagation(df, sdf, n_iter=0)


def _ref_coreness(edges):
    """Pure-python core decomposition by repeated peeling."""
    adj = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    core = {}
    k = 0
    while adj:
        k += 1
        while True:
            weak = [n for n, nb in adj.items() if len(nb) < k]
            if not weak:
                break
            for n in weak:
                core[n] = k - 1
                for m in adj[n]:
                    adj[m].discard(n)
                del adj[n]
        for n in adj:
            core[n] = k
    return {n: c for n, c in core.items() if c >= 1}


def test_k_core_clique_plus_tail(spark):
    from spark_iceberg_schema_evolution_spark.operators.graph import k_core

    # 4-clique (0-3) with a pendant chain 3-4-5
    edges = [
        (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (3, 4), (4, 5),
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["degree"] for r in k_core(df, 3).collect()
    }
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}  # the clique, chain peeled
    assert k_core(df, 4).count() == 0
    import pytest as _p
    with _p.raises(ValueError):
        k_core(df, 0)


def test_coreness_matches_replica(spark):
    from spark_iceberg_schema_evolution_spark.operators.graph import (
        coreness,
    )

    rng = np.random.RandomState(31)
    edges = sorted(
        {
            (int(a), int(b))
            for a, b in rng.randint(0, 20, size=(50, 2))
            if a != b
        }
    )
    want = _ref_coreness(edges)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["coreness"] for r in coreness(df).collect()
    }
    assert got == want


def test_adamic_adar_matches_replica(spark):
    import math

    from spark_iceberg_schema_evolution_spark.operators.graph import (
        adamic_adar,
    )

    rng = np.random.RandomState(17)
    edges = sorted(
        {
            (int(a), int(b))
            for a, b in rng.randint(0, 15, size=(30, 2))
            if a != b
        }
    )
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    nodes = sorted(adj)
    for i, a in enumerate(nodes):
        for b in nodes[i + 1:]:
            if b in adj[a]:
                continue
            s = sum(
                1.0 / math.log(len(adj[z]))
                for z in adj[a] & adj[b]
                if len(adj[z]) >= 2
            )
            if s > 0:
                want[(a, b)] = s
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r["node_a"], r["node_b"]): r["score"]
        for r in adamic_adar(df).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12)


def test_adamic_adar_triangle_closure(spark):
    """A path a-z-b with hub z of degree 2 predicts (a,b) at
    1/ln(2); the existing edge never appears."""
    import math

    from spark_iceberg_schema_evolution_spark.operators.graph import (
        adamic_adar,
    )

    df = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3)], "src long, dst long"
    )
    got = {
        (r["node_a"], r["node_b"]): r["score"]
        for r in adamic_adar(df).collect()
    }
    # adjacent pairs (0,1),(1,2),(0,2),(2,3) excluded; (0,3),(1,3)
    # share neighbor 2 (deg 3)
    assert set(got) == {(0, 3), (1, 3)}
    assert got[(0, 3)] == pytest.approx(1 / math.log(3), rel=1e-12)


def _persistent_ids(spark):
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in m.keySet().toArray()}


def test_graph_loops_leave_no_orphaned_blocks(spark):
    """Storage hygiene: every superseded localCheckpoint in the
    iterative loops is explicitly released via unpersist_checkpoint
    (a plain DataFrame.unpersist() is a silent NO-OP on checkpointed
    frames), so the number of NEW persistent RDDs left behind is a
    small CONSTANT per call — independent of how many rounds the
    fixpoint ran. Counted as an id-set diff so the ContextCleaner
    collecting older tests' blocks mid-test can't skew the census."""
    from spark_iceberg_schema_evolution_spark.operators.graph import (
        coreness,
        hits,
        k_core,
        shortest_paths,
    )

    # 4-clique + pendant chain: k_core(3) needs two peeling rounds
    edges = [
        (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (3, 4), (4, 5),
    ]
    df = spark.createDataFrame(edges, "src long, dst long")

    base = _persistent_ids(spark)
    core = k_core(df, 3)
    core.collect()
    # only the returned checkpoint survives the multi-round peel
    assert len(_persistent_ids(spark) - base) == 1

    base = _persistent_ids(spark)
    cor = coreness(df)
    cor.collect()
    assert len(_persistent_ids(spark) - base) == 1

    # a 6-hop chain: shortest_paths runs 6 frontier rounds
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    base = _persistent_ids(spark)
    dists = shortest_paths(chain, seeds, max_hops=10)
    assert dists.count() == 7
    # the edge frame + the final known frame, never one-per-hop
    assert len(_persistent_ids(spark) - base) == 2

    base = _persistent_ids(spark)
    hs = hits(df, n_iter=5)
    hs.collect()
    # edges + nodes + final hub + final auth, never one-per-iteration
    assert len(_persistent_ids(spark) - base) == 4


@pytest.mark.parametrize("seed,n_nodes,n_draws", [
    (3, 12, 40), (13, 25, 90), (29, 40, 200), (47, 18, 30),
])
def test_coreness_hindex_matches_peeler_fuzzed(spark, seed, n_nodes, n_draws):
    """The round-9 iterated-h-index fixpoint must agree EXACTLY with
    the classic peeling algorithm on arbitrary graphs — sparse chains,
    dense cores, multiple components, parallel/self edges in the raw
    input (Lu et al. 2016 prove convergence; this pins the
    implementation)."""
    from spark_iceberg_schema_evolution_spark.operators.graph import (
        coreness,
    )

    rng = np.random.RandomState(seed)
    edges = sorted(
        {
            (int(a), int(b))
            for a, b in rng.randint(0, n_nodes, size=(n_draws, 2))
        }
    )
    want = _ref_coreness(edges)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["coreness"] for r in coreness(df).collect()}
    assert got == want


def test_adamic_adar_hub_guard(spark):
    """max_degree drops mega-hubs from acting as the shared middle
    vertex (their wedge cost is quadratic, their score contribution
    minimal) with surfaced drop stats; capped scores equal the replica
    computed over the surviving middles only; pairs whose only common
    neighbor was the hub vanish rather than appearing with score 0."""
    import math

    from spark_iceberg_schema_evolution_spark.operators.graph import (
        adamic_adar,
    )

    # hub 99 connects to 0..7; besides that, 0-1-2 path through node 50
    edges = [(99, i) for i in range(8)]
    edges += [(0, 50), (1, 50), (2, 50)]
    df = spark.createDataFrame(edges, "src long, dst long")

    full, d0 = adamic_adar(df, return_drop_stats=True)
    z = d0.first()
    assert (z["dropped_hubs"], z["dropped_wedges"]) == (0, 0)
    got_full = {
        (r["node_a"], r["node_b"]): r["score"] for r in full.collect()
    }

    capped, d1 = adamic_adar(df, max_degree=4, return_drop_stats=True)
    s = d1.first()
    assert s["dropped_hubs"] == 1  # only the hub (deg 8) exceeds 4
    assert s["dropped_wedges"] == 8 * 7 // 2
    got = {
        (r["node_a"], r["node_b"]): r["score"] for r in capped.collect()
    }
    # surviving middles: node 50 (deg 3) closes pairs within {0,1,2};
    # nodes 0,1,2 (deg 2 each) close (50, 99). The hub-only pairs —
    # (i, j) within 0..7 with j >= 3, whose SOLE middle was 99 —
    # vanish rather than appearing with score 0.
    w50 = 1.0 / math.log(3)
    w2 = 1.0 / math.log(2)
    assert set(got) == {(0, 1), (0, 2), (1, 2), (50, 99)}
    for k in ((0, 1), (0, 2), (1, 2)):
        assert got[k] == pytest.approx(w50, rel=1e-12)
        # the full run ALSO counted the hub for these pairs
        assert got_full[k] == pytest.approx(
            w50 + 1.0 / math.log(8), rel=1e-12
        )
    assert got[(50, 99)] == pytest.approx(3 * w2, rel=1e-12)
    assert (3, 4) in got_full and (3, 4) not in got

    import pytest as _p
    with _p.raises(ValueError, match="max_degree"):
        adamic_adar(df, max_degree=1)


def test_adamic_adar_default_guard_is_finite(spark):
    """The default max_degree is a FINITE 10_000 (round-10 flip): the
    unguarded wedge build is the one a naive caller OOMs on at web
    scale, and a 10k-degree middle contributes only ~0.11 per pair.
    A planted hub above the cap is dropped BY DEFAULT with the
    documented lower-bound semantics; max_degree=None restores exact
    scoring."""
    import inspect
    import math

    from pyspark.sql import functions as F

    from spark_iceberg_schema_evolution_spark.operators.graph import (
        adamic_adar,
    )

    sig = inspect.signature(adamic_adar)
    assert sig.parameters["max_degree"].default == 10_000

    # hub 9_999_999 with degree 10_001 (> default cap), plus a small
    # path 0-50-1 whose middle survives
    edges = [(9_999_999, i) for i in range(10_001)]
    edges += [(0, 50), (1, 50)]
    df = spark.createDataFrame(edges, "src long, dst long").coalesce(4)

    capped, drops = adamic_adar(df, return_drop_stats=True)
    z = drops.first()
    assert z["dropped_hubs"] == 1
    assert z["dropped_wedges"] == 10_001 * 10_000 // 2
    got = {
        (r["node_a"], r["node_b"]): r["score"] for r in capped.collect()
    }
    # hub-middle pairs vanish; the surviving middle (node 50 — deg 3:
    # hub, 0, 1) closes (0, 1)
    assert (2, 3) not in got
    assert got[(0, 1)] == pytest.approx(1 / math.log(3), rel=1e-12)

    exact = adamic_adar(
        df.where(F.col("dst") < 60), max_degree=None, min_score=0.0
    )
    got_exact = {
        (r["node_a"], r["node_b"]): r["score"] for r in exact.collect()
    }
    # on the trimmed graph the hub (deg 60) IS an eligible middle
    assert got_exact[(0, 1)] == pytest.approx(
        1 / math.log(3) + 1 / math.log(60), rel=1e-12
    )


@pytest.mark.parametrize("seed,n_nodes,n_draws", [(5, 15, 40), (23, 30, 160)])
def test_triangle_count_degree_order_identical(spark, seed, n_nodes, n_draws):
    """The degree-ordered orientation (Suri & Vassilvitskii: hubs stop
    pivoting wedges) must count every node's triangles exactly,
    including on skewed graphs with a planted hub: the reference is a
    brute-force enumeration of vertex triples."""
    import itertools

    from spark_iceberg_schema_evolution_spark.operators.graph import (
        triangle_count,
    )

    rng = np.random.RandomState(seed)
    edges = sorted(
        {
            (int(a), int(b))
            for a, b in rng.randint(0, n_nodes, size=(n_draws, 2))
        }
    )
    edges += [(999, i) for i in range(n_nodes)]  # planted hub
    und = {frozenset(e) for e in edges if e[0] != e[1]}
    nodes = sorted({x for e in und for x in e})
    want = {v: 0 for v in nodes}
    for a, b, c in itertools.combinations(nodes, 3):
        if {frozenset((a, b)), frozenset((b, c)), frozenset((a, c))} <= und:
            for v in (a, b, c):
                want[v] += 1
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["n_triangles"] for r in triangle_count(df).collect()
    }
    assert got == want
