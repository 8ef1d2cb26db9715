"""Link-graph analytics for corpus curation, as pure DataFrame ops.

Web-scale corpus curation scores documents by the structure of their
source graph: PageRank / personalized-TrustRank authority (Brin & Page
1998), HITS hubs-and-authorities (Kleinberg 1999), degree profiles and
triangle density (spam farms are triangle-dense), mutually-linked host
clusters (weakly connected components), hop/cost distance from a
trusted seed set (multi-source BFS, weighted Bellman-Ford), and
semi-supervised quality-label spreading (label propagation). Every
iterative fixpoint here follows one discipline: edge frames normalize
and checkpoint ONCE, each round is a bounded number of keyed shuffles
over edge-sized frames, driver-side collects are 1-row/k-row planning
metadata, lineage truncates per round with localCheckpoint, and
non-convergence RAISES rather than returning silently-wrong results.

Scale shape at 100 TB:

* The edge frame is the big input; it is normalized ONCE before the
  loop (per-source weight shares) and checkpointed, so every iteration
  joins the node-sized rank frame against it on ``src`` and
  re-aggregates on ``dst`` — two keyed shuffles per iteration, the
  minimum the DataFrame API admits for a sparse matrix-vector product.
* Dangling mass (nodes with no out-edges) is a 1-ROW aggregate collect
  per iteration — bounded planning metadata, the same class as the CC
  fixpoint's convergence probe.
* Lineage is truncated per iteration with ``localCheckpoint`` (the
  ``dedup.dedup_clusters`` discipline) so n_iter joins don't nest into
  one unplannable tree.
* Update rule (uniform teleport + uniform dangling redistribution):
  ``r' = (1-d)/N + d * (A^T r + dangling_mass / N)`` — the standard
  formulation; a pure-numpy replica in tests/test_graph.py pins it to
  1e-9.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoint import unpersist_checkpoint


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 15,
    damping: float = 0.85,
    weight_col: str | None = None,
    personalization: DataFrame | None = None,
) -> DataFrame:
    """PageRank over a directed edge list. Returns ``(node, rank)``
    with ranks summing to 1. Duplicate (src, dst) rows act as parallel
    edges (their weight adds); ``weight_col`` makes edges weighted.
    Deterministic up to float-sum order (tests pin 1e-9 vs numpy).

    ``personalization``: a ``(node, weight)`` frame — teleport (and
    dangling mass) restarts at these seeds proportionally to weight
    instead of uniformly (personalized PageRank: authority RELATIVE to
    a trusted seed set — the TrustRank-style curation signal). Weights
    are normalized; nodes absent from the frame get teleport 0."""
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1): {damping}")
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1: {n_iter}")
    w = (
        F.col(weight_col).cast("double")
        if weight_col
        else F.lit(1.0)
    )
    e = edges.select(
        F.col(src).alias("__s"), F.col(dst).alias("__d"), w.alias("__w")
    ).where(F.col("__w") > 0)
    # collapse parallel edges, then normalize to per-source shares
    e = e.groupBy("__s", "__d").agg(F.sum("__w").alias("__w"))
    out_w = e.groupBy("__s").agg(F.sum("__w").alias("__ow"))
    shares = (
        e.join(out_w, "__s")
        .select("__s", "__d", (F.col("__w") / F.col("__ow")).alias("__p"))
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("__s").alias("node"))
        .union(e.select("__d"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    dangling = nodes.join(
        shares.select(F.col("__s").alias("node")).distinct(),
        "node",
        "left_anti",
    ).localCheckpoint(eager=True)

    if personalization is not None:
        pcols = personalization.columns
        pvec = personalization.select(
            F.col(pcols[0]).alias("node"),
            F.col(pcols[1]).cast("double").alias("__w"),
        )
        total = pvec.agg(F.sum("__w")).first()[0]
        if not total or total <= 0:
            raise ValueError("personalization weights must sum > 0")
        tele = (
            nodes.join(pvec, "node", "left")
            .select(
                "node",
                (
                    F.coalesce(F.col("__w"), F.lit(0.0)) / F.lit(total)
                ).alias("__t"),
            )
            .localCheckpoint(eager=True)
        )
        ranks = tele.select("node", F.col("__t").alias("rank"))
    else:
        tele = nodes.select("node", F.lit(1.0 / n).alias("__t"))
        ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    ranks = ranks.localCheckpoint(eager=True)
    for _ in range(n_iter):
        d_mass = (
            dangling.join(ranks, "node")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
            .first()[0]
        )
        contribs = (
            ranks.join(shares, ranks["node"] == shares["__s"])
            .groupBy(F.col("__d").alias("node"))
            .agg(F.sum(F.col("rank") * F.col("__p")).alias("__c"))
        )
        nxt = (
            tele.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(1.0 - damping) * F.col("__t")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("__c"), F.lit(0.0))
                        + F.lit(d_mass) * F.col("__t")
                    )
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
        unpersist_checkpoint(ranks)
        ranks = nxt
    return ranks


def degree_stats(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node in/out degree (distinct neighbors) — the first-look
    graph profile (hub/spam detection on link graphs). One hash
    aggregate per direction + one outer join; SQL-exact."""
    e = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
    out_d = e.groupBy(F.col("__s").alias("node")).agg(
        F.countDistinct("__d").alias("out_degree")
    )
    in_d = e.groupBy(F.col("__d").alias("node")).agg(
        F.countDistinct("__s").alias("in_degree")
    )
    return (
        out_d.join(in_d, "node", "full_outer")
        .select(
            "node",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 20,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) — the directional
    complement to :func:`pagerank` for link-graph curation: an
    AUTHORITY is pointed to by good hubs (the quality signal for
    content pages), a HUB points to good authorities (the signal for
    index/directory pages; spam link farms score high hub + low
    authority). Returns ``(node, hub, authority)``, each vector
    L2-normalized. Parallel edges collapse (simple digraph);
    self-loops participate (standard formulation).

    Scale shape mirrors :func:`pagerank`: the deduped edge list is
    checkpointed once; each iteration is two sparse mat-vec products
    (join node-sized score frame on one endpoint, re-aggregate on the
    other — two keyed shuffles each), the L2 norm is a 1-ROW aggregate
    collect (bounded planning metadata), and per-iteration
    localCheckpoint keeps lineage flat. Update rule pinned to a 1e-9
    numpy replica in tests/test_graph.py."""
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1: {n_iter}")
    e = (
        edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("__s").alias("node"))
        .union(e.select("__d"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    hub = nodes.select("node", F.lit(1.0).alias("hub")).localCheckpoint(
        eager=True
    )
    auth = None
    for _ in range(n_iter):
        # authority <- sum of in-neighbor hub scores, then L2 normalize
        a_raw = (
            e.join(hub, e["__s"] == hub["node"])
            .groupBy(F.col("__d").alias("node"))
            .agg(F.sum("hub").alias("authority"))
        )
        a_norm = a_raw.agg(
            F.sqrt(F.sum(F.col("authority") * F.col("authority")))
        ).first()[0]
        nxt_auth = (
            nodes.join(a_raw, "node", "left")
            .select(
                "node",
                (
                    F.coalesce("authority", F.lit(0.0)) / F.lit(a_norm)
                ).alias("authority"),
            )
            .localCheckpoint(eager=True)
        )
        if auth is not None:
            unpersist_checkpoint(auth)
        auth = nxt_auth
        # hub <- sum of out-neighbor authority scores, then L2 normalize
        h_raw = (
            e.join(auth, e["__d"] == auth["node"])
            .groupBy(F.col("__s").alias("node"))
            .agg(F.sum("authority").alias("hub"))
        )
        h_norm = h_raw.agg(
            F.sqrt(F.sum(F.col("hub") * F.col("hub")))
        ).first()[0]
        nxt_hub = (
            nodes.join(h_raw, "node", "left")
            .select(
                "node",
                (F.coalesce("hub", F.lit(0.0)) / F.lit(h_norm)).alias(
                    "hub"
                ),
            )
            .localCheckpoint(eager=True)
        )
        unpersist_checkpoint(hub)
        hub = nxt_hub
    return hub.join(auth, "node").select("node", "hub", "authority")


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Weakly connected components of a directed edge list: returns
    ``(node, component)`` where ``component`` is the component's minimum
    member id (deterministic canonical label). Direction is ignored —
    a WCC is exactly what host-graph curation wants ("this cluster of
    mutually-linking hosts is one site/farm").

    The graph-generic face of the dedup engine's fixpoint: delegates to
    :func:`..dedup.connected_components` (min-label propagation WITH
    pointer doubling — true O(log diameter) rounds, two keyed shuffles
    per round, per-round localCheckpoint lineage truncation, raises on
    non-convergence instead of returning silently-split components).
    One algorithm, two faces; kept in ``dedup.py`` because the LSH
    cluster path is the hot consumer, re-exported here because a link
    graph is the other natural input. Exact (pinned vs a pure-python
    union-find replica in tests/test_graph.py)."""
    from .dedup import connected_components as _cc

    out = _cc(edges, id_a=src, id_b=dst, max_iter=max_iter)
    return out.select(
        F.col("id").alias("node"), F.col("cluster_id").alias("component")
    )


def shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 20,
    directed: bool = True,
) -> DataFrame:
    """Multi-source BFS hop distance: ``(node, dist, seed)`` for every
    node REACHABLE within ``max_hops`` of any seed — ``dist`` is the
    minimum hop count, ``seed`` the smallest seed id among those
    attaining it (deterministic tiebreak). Unreachable nodes are absent
    (join back with a ``left`` + ``coalesce(dist, lit(None))`` when a
    dense frame is wanted).

    This is the seed-distance curation signal (TrustRank / Common-Crawl
    frontier depth: pages few clicks from a trusted seed set are
    higher-prior quality than 15-hop frontier tails), and doubles as
    plain single/multi-source shortest path on an unweighted graph.

    Scale shape: frontier expansion — each round joins ONLY the newly
    discovered frontier (not the full visited set) against the edge
    list, aggregates the candidate set, and anti-joins the known frame:
    three keyed shuffles per round over frontier-sized frames, never
    node² anything. Rounds are bounded by the graph's effective
    diameter (web graphs: ~20), each round localCheckpoints (the
    CC-fixpoint lineage discipline) and stops early when the frontier
    empties (driver-side scalar count — bounded planning metadata).
    ``directed=False`` symmetrizes the edge list first. Exact (pinned
    vs a pure-python BFS replica in tests/test_graph.py)."""
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0: {max_hops}")
    scol = seeds.columns[0]
    e = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
    if not directed:
        e = e.unionByName(
            edges.select(F.col(dst).alias("__s"), F.col(src).alias("__d"))
        )
    e = e.where(F.col("__s") != F.col("__d")).distinct().localCheckpoint(
        eager=True
    )
    known = (
        seeds.select(F.col(scol).alias("node"))
        .distinct()
        .select("node", F.lit(0).alias("dist"), F.col("node").alias("seed"))
        .localCheckpoint(eager=True)
    )
    frontier = known
    for hop in range(1, max_hops + 1):
        cand = (
            frontier.join(e, frontier["node"] == e["__s"])
            .groupBy(F.col("__d").alias("node"))
            .agg(F.min("seed").alias("seed"))
        )
        nxt = (
            cand.join(known.select("node"), "node", "left_anti")
            .select("node", F.lit(hop).alias("dist"), "seed")
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            unpersist_checkpoint(nxt)
            break
        new_known = known.unionByName(nxt).localCheckpoint(eager=True)
        # superseded checkpoints: the old known frame and the old
        # frontier (unless they are the same object, round 1) — the
        # pagerank:ranks.unpersist() discipline; without it every hop
        # leaks a MEMORY_AND_DISK block for the life of the job.
        if frontier is not known:
            unpersist_checkpoint(frontier)
        unpersist_checkpoint(known)
        known, frontier = new_known, nxt
    if frontier is not known:
        unpersist_checkpoint(frontier)
    return known


def adamic_adar(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_score: float = 0.0,
    max_degree: int | None = 10_000,
    return_drop_stats: bool = False,
):
    """Adamic-Adar link prediction (Adamic & Adar 2003): for every
    non-adjacent node pair sharing >= 1 neighbor on the undirected
    simple graph, ``score = sum over common neighbors z of
    1/ln(deg(z))`` — rare shared neighbors count more. The classic
    related-host / missing-link prior (suggest merge candidates for
    near-duplicate site clusters; degree-damped so hub co-citation
    doesn't dominate). Returns ``(node_a, node_b, score)`` with
    node_a < node_b.

    Scale shape: one degree aggregate, then the same wedge self-join
    as :func:`triangle_count` (pairs of edges through the shared
    middle vertex — two keyed shuffles over edge-sized frames, wedges
    shuffle by their endpoint pair, no neighborhood materialization),
    a sum aggregate, and an anti-join dropping already-adjacent pairs.
    Degree-1 common neighbors contribute nothing and are excluded
    up-front (1/ln(1) is undefined; a degree-1 node forms no wedge
    anyway). ``min_score`` prunes the long tail before the anti-join.

    Hot-hub guard (the :func:`..relational.fuzzy_join`
    ``max_block_pairs`` discipline applied to wedges): a middle vertex
    of degree d emits d(d-1)/2 wedge rows, so ONE mega-hub (a portal
    page linked by 10M hosts) costs 5e13 rows while contributing only
    1/ln(1e7) ~ 0.06 per pair — the least-informative neighbors are
    precisely the most expensive. ``max_degree`` drops nodes above the
    cap from acting as the SHARED middle (they still appear as
    endpoints and in the adjacency anti-join, so no phantom pairs
    appear); the drop is never silent — ``return_drop_stats=True``
    returns ``(pairs, drops)`` with a one-row frame ``(dropped_hubs,
    dropped_wedges)`` estimating the skipped work. Scores for pairs
    whose ONLY common neighbors were dropped hubs vanish entirely;
    remaining scores are lower bounds within
    ``n_dropped_common * 1/ln(max_degree)`` of exact. The default is
    a FINITE 10_000 — a 10k-degree middle already contributes only
    1/ln(1e4) ~ 0.11 per pair while costing 5e7 wedge rows, and the
    unguarded form is the one a naive caller OOMs on at web scale;
    pass ``max_degree=None`` explicitly for exact semantics on graphs
    known to be hub-free."""
    if max_degree is not None and max_degree < 2:
        raise ValueError(f"max_degree must be >= 2: {max_degree}")
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    und = (
        e.where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    sym = und.select(F.col("u").alias("z"), F.col("v").alias("n")).union(
        und.select(F.col("v").alias("z"), F.col("u").alias("n"))
    )
    deg = sym.groupBy("z").agg(F.count(F.lit(1)).alias("d"))
    eligible = deg.where(F.col("d") >= 2)
    drops = None
    if max_degree is not None:
        hot = eligible.where(F.col("d") > max_degree)
        drops = hot.agg(
            F.count(F.lit(1)).alias("dropped_hubs"),
            F.coalesce(
                F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long"),
                F.lit(0),
            ).alias("dropped_wedges"),
        )
        eligible = eligible.where(F.col("d") <= max_degree)
    w = eligible.select(
        "z", (F.lit(1.0) / F.log(F.col("d").cast("double"))).alias("w")
    )
    nbrs = sym.join(w, "z")
    pairs = (
        nbrs.alias("l")
        .join(nbrs.alias("r"), F.col("l.z") == F.col("r.z"))
        .where(F.col("l.n") < F.col("r.n"))
        .groupBy(
            F.col("l.n").alias("node_a"), F.col("r.n").alias("node_b")
        )
        .agg(F.sum(F.col("l.w")).alias("score"))
        .where(F.col("score") >= min_score)
    )
    out = pairs.join(
        und,
        (pairs["node_a"] == und["u"]) & (pairs["node_b"] == und["v"]),
        "left_anti",
    )
    if not return_drop_stats:
        return out
    if drops is None:
        drops = edges.sparkSession.createDataFrame(
            [(0, 0)], "dropped_hubs long, dropped_wedges long"
        )
    return out, drops


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 100,
) -> DataFrame:
    """The k-core of the undirected simple graph: the maximal subgraph
    where every node has degree >= k (Seidman 1983) — the cohesion
    signal link-spam detection keys on (farms live in dense cores;
    legitimate long-tail pages rarely exceed small k). Returns the
    surviving ``(node, degree)`` frame (degree WITHIN the core).

    Standard iterative peeling: drop every node with current degree
    < k, recompute degrees on the induced subgraph, repeat until
    stable. Each round is one degree aggregate + two semi-joins
    (edge-sized keyed shuffles) + ONE fused survivor/total count (a
    single driver action per round, not two); rounds are bounded by
    the peeling depth (typically tiny); per-round localCheckpoint with
    the superseded edge frame explicitly unpersisted (the
    pagerank-loop discipline — without it every peeling round leaks a
    MEMORY_AND_DISK block); RAISES on ``max_iter`` exhaustion.
    Deterministic (set operations only). Exact vs a pure-python peeler
    in tests/test_graph.py."""
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    und = (
        e.where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        deg = (
            und.select(F.col("u").alias("node"))
            .union(und.select("v"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        totals = deg.agg(
            F.count(F.lit(1)).alias("n_before"),
            F.count(F.when(F.col("degree") >= k, 1)).alias("n_after"),
        ).first()
        n_before, n_after = totals["n_before"], totals["n_after"]
        if n_after == n_before:
            out = deg.localCheckpoint(eager=True)
            unpersist_checkpoint(und)
            return out
        if n_after == 0:
            out = edges.sparkSession.createDataFrame([], deg.schema)
            unpersist_checkpoint(und)
            return out
        keep = deg.where(F.col("degree") >= k).select("node")
        nxt = (
            und.join(keep, und["u"] == keep["node"], "left_semi")
            .join(keep, und["v"] == keep["node"], "left_semi")
            .localCheckpoint(eager=True)
        )
        unpersist_checkpoint(und)
        und = nxt
    raise RuntimeError(
        f"k_core did not stabilize in {max_iter} peeling rounds"
    )


def coreness(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_k: int = 64,
    max_iter: int = 100,
) -> DataFrame:
    """Full core decomposition: ``(node, coreness)`` where coreness is
    the largest k such that the node survives in the k-core — the
    graded version of :func:`k_core` (host coreness is a standard
    spam/quality covariate).

    Computed by the iterated-h-index fixpoint (Lü, Zhou, Zhang &
    Stanley 2016, "The H-index of a network node"): initialize
    ``h(v) = degree(v)``; each round, replace ``h(v)`` with the
    H-index of its neighbors' current h values (the largest ``i`` such
    that at least ``i`` neighbors have ``h >= i``). The sequence is
    monotone non-increasing and converges EXACTLY to coreness; rounds
    are bounded by graph structure (typically tens on web graphs),
    NOT by the maximum coreness — the round-9 replacement for the
    k = 1..k_max outer peel, whose round count scaled with max
    coreness (hundreds on real web graphs).

    Per round: one edge-keyed join of the h frame onto the symmetric
    neighbor list, one per-node descending sort (window rank — the
    H-index is ``max over i of min(i, h_sorted_desc[i])``; no neighbor
    array ever materializes, so hub nodes sort-spill instead of
    OOMing), one node-keyed max aggregate that reuses the window's
    hash partitioning, and a 1-row changed-count (bounded planning
    metadata). Per-round localCheckpoint, superseded frames explicitly
    unpersisted (the pagerank discipline). RAISES on ``max_iter``
    exhaustion, and — preserving the old peeling contract — raises if
    any node's coreness reaches ``max_k`` (a denser graph than the cap
    expects). Exact vs a pure-python peeler in tests/test_graph.py,
    which is itself the classic algorithm the h-index fixpoint must
    agree with."""
    from pyspark.sql.window import Window

    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .distinct()
    )
    sym = (
        und.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
        .union(und.select(F.col("v").alias("node"), F.col("u").alias("nbr")))
        .localCheckpoint(eager=True)
    )
    h = (
        sym.groupBy("node")
        .agg(F.count(F.lit(1)).alias("h"))
        .localCheckpoint(eager=True)
    )
    win = Window.partitionBy("node").orderBy(F.desc("nh"))
    converged = False
    for _ in range(max_iter):
        nbr_h = sym.join(
            h.select(F.col("node").alias("nbr"), F.col("h").alias("nh")),
            "nbr",
        )
        new_h = (
            nbr_h.withColumn("rn", F.row_number().over(win))
            .groupBy("node")
            .agg(
                F.max(
                    F.least(F.col("rn").cast("long"), F.col("nh"))
                ).alias("h")
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_h.alias("n")
            .join(h.alias("o"), "node")
            .where(F.col("n.h") != F.col("o.h"))
            .count()
        )
        unpersist_checkpoint(h)
        h = new_h
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"coreness h-index fixpoint did not converge in {max_iter} "
            f"rounds; raise max_iter"
        )
    mx = h.agg(F.max("h")).first()[0]
    if mx is not None and mx >= max_k:
        raise RuntimeError(
            f"graph still non-empty at max_k={max_k}; raise max_k"
        )
    out = h.select(
        "node", F.col("h").cast("int").alias("coreness")
    ).localCheckpoint(eager=True)
    unpersist_checkpoint(h)
    unpersist_checkpoint(sym)
    return out


def label_propagation(
    edges: DataFrame,
    seed_labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 10,
    directed: bool = False,
) -> DataFrame:
    """Semi-supervised label propagation (Zhu & Ghahramani 2002 /
    Raghavan 2007 LPA, deterministic variant): spread a small set of
    trusted labels (e.g. human quality ratings on a few thousand
    hosts) over the whole link graph — each unlabeled node adopts the
    MAJORITY label among its labeled neighbors each round, ties broken
    to the SMALLEST label (total determinism; the async/random variant
    is deliberately not implemented). Seed nodes are CLAMPED (never
    change). Returns ``(node, label, n_rounds)`` for every node
    reachable from a seed within ``n_iter`` rounds; ``n_rounds`` is
    the round the node first acquired a label (seeds: 0).

    ``seed_labels``: two columns, (node, label). ``directed=False``
    (default) symmetrizes — label influence usually flows both ways
    along a link.

    Scale shape: per round, ONE join of the current label frame to the
    edge list + ONE (node, label) count aggregate + an argmax
    struct-max reduce — three keyed shuffles over edge-sized frames;
    synchronous updates (no per-partition ordering effects),
    per-round localCheckpoint, early-stop when no node changes or
    gains a label (driver-side scalar count). Exact vs a pure-python
    replica in tests/test_graph.py."""
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1: {n_iter}")
    ncol, lcol = seed_labels.columns[0], seed_labels.columns[1]
    e = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
    if not directed:
        e = e.unionByName(
            edges.select(F.col(dst).alias("__s"), F.col(src).alias("__d"))
        )
    e = e.where(F.col("__s") != F.col("__d")).distinct().localCheckpoint(
        eager=True
    )
    seeds = (
        seed_labels.select(
            F.col(ncol).alias("node"), F.col(lcol).alias("label")
        )
        .groupBy("node")
        .agg(F.min("label").alias("label"))
        .localCheckpoint(eager=True)
    )
    labels = seeds.select(
        "node", "label", F.lit(0).alias("n_rounds")
    ).localCheckpoint(eager=True)
    for rnd in range(1, n_iter + 1):
        votes = (
            labels.join(e, labels["node"] == e["__s"])
            .groupBy(F.col("__d").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        # majority label, ties -> smallest label: max on (count, -?) is
        # wrong for non-numeric labels, so order by count desc then
        # label asc via a struct max over (count, negated rank) — use
        # min over (-count, label) expressed as a two-field struct
        winner = (
            votes.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("__n")).alias("neg"),
                        F.col("label").alias("label"),
                    )
                ).alias("__w")
            )
            .select("node", F.col("__w")["label"].alias("new_label"))
        )
        nxt = (
            winner.join(labels, "node", "full_outer")
            .select(
                "node",
                # seeds clamp; previously-labeled nodes may flip with
                # the neighborhood majority; fresh nodes adopt
                F.when(F.col("n_rounds") == 0, F.col("label"))
                .otherwise(F.coalesce("new_label", "label"))
                .alias("label"),
                F.coalesce("n_rounds", F.lit(rnd)).alias("n_rounds"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            nxt.alias("n")
            .join(labels.alias("o"), "node", "left")
            .where(
                F.col("o.label").isNull()
                | (F.col("n.label") != F.col("o.label"))
            )
            .count()
        )
        unpersist_checkpoint(labels)
        labels = nxt
        if changed == 0:
            break
    return labels


def shortest_paths_weighted(
    edges: DataFrame,
    seeds: DataFrame,
    weight_col: str,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    directed: bool = True,
) -> DataFrame:
    """Weighted single/multi-source shortest paths (distributed
    Bellman-Ford): ``(node, dist, seed)`` — minimum total edge weight
    from any seed, ``seed`` the smallest seed id attaining it
    (deterministic (dist, seed) struct-min tiebreak). Non-positive
    weights raise (no negative-cycle semantics); unreachable nodes are
    absent. The weighted generalization of :func:`shortest_paths`
    (latency/cost graphs instead of hop counts).

    Scale shape: each relaxation round joins the CURRENT distance
    frame to the edge list on ``src`` and min-aggregates candidate
    distances on ``dst`` — two keyed shuffles over edge-sized frames
    per round, min/struct-min are order-independent so every round is
    deterministic. Rounds are bounded by the shortest-path tree depth
    (graph diameter class, not |V|); the loop localCheckpoints per
    round (CC-fixpoint lineage discipline), stops when a round
    improves nothing (driver-side scalar count — bounded planning
    metadata), and RAISES on ``max_iter`` exhaustion rather than
    returning non-converged distances."""
    scol = seeds.columns[0]
    e = edges.select(
        F.col(src).alias("__s"),
        F.col(dst).alias("__d"),
        F.col(weight_col).cast("double").alias("__w"),
    )
    if not directed:
        e = e.unionByName(
            edges.select(
                F.col(dst).alias("__s"),
                F.col(src).alias("__d"),
                F.col(weight_col).cast("double").alias("__w"),
            )
        )
    bad = e.where(
        F.col("__w").isNull() | (F.col("__w") <= 0)
    ).limit(1).count()
    if bad:
        raise ValueError("edge weights must be positive and non-null")
    # parallel edges: keep the cheapest
    e = (
        e.groupBy("__s", "__d")
        .agg(F.min("__w").alias("__w"))
        .localCheckpoint(eager=True)
    )
    dist = (
        seeds.select(F.col(scol).alias("node"))
        .distinct()
        .select(
            "node",
            F.lit(0.0).alias("dist"),
            F.col("node").alias("seed"),
        )
        .localCheckpoint(eager=True)
    )
    improved = 1
    for _ in range(max_iter):
        cand = (
            dist.join(e, dist["node"] == e["__s"])
            .select(
                F.col("__d").alias("node"),
                (F.col("dist") + F.col("__w")).alias("dist"),
                "seed",
            )
        )
        best = (
            dist.unionByName(cand)
            .groupBy("node")
            .agg(
                F.min(F.struct("dist", "seed")).alias("__b")
            )
            .select(
                "node",
                F.col("__b")["dist"].alias("dist"),
                F.col("__b")["seed"].alias("seed"),
            )
            .localCheckpoint(eager=True)
        )
        improved = (
            best.alias("n")
            .join(dist.alias("o"), "node", "left")
            .where(
                F.col("o.dist").isNull()
                | (F.col("n.dist") < F.col("o.dist"))
            )
            .count()
        )
        unpersist_checkpoint(dist)
        dist = best
        if improved == 0:
            break
    if improved != 0:
        raise RuntimeError(
            f"shortest_paths_weighted did not converge in {max_iter} "
            f"rounds; raise max_iter"
        )
    return dist


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Exact per-node triangle count on the UNDIRECTED simple graph
    (direction and parallel edges collapse; self-loops drop) — the
    clustering/cohesion signal (spam farms are triangle-dense, crawl
    frontiers triangle-sparse).

    Classic two-join formulation (count each triangle once at its
    minimum vertex): wedge build joins oriented edges on the shared
    pivot vertex, closure joins wedges against the edge set — two
    keyed shuffles over edge-sized frames, never node-neighborhood
    materialization, so a high-degree hub costs O(deg^2) wedge rows
    but no single-task blowup (wedges shuffle by their closing key).

    Edges are oriented in the standard degree order (Suri &
    Vassilvitskii 2011 "Counting triangles and the curse of the last
    reducer"): every edge points from its lower-(degree, id) endpoint
    to the higher, and wedges pivot at the LOWEST-degree vertex — a
    degree-d hub then emits wedges only for its higher-ranked
    neighbors, collapsing the hub's d^2 term to (its out-degree)^2
    where out-degree is bounded by the graph's degeneracy. On a skewed
    1M-edge graph at local[4] this took 19-26 s where the id-ordered
    wedge plan took 364-372 s, with equal counts."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    und = (
        e.where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # rank(x) = (deg(x), x); orient every canonical edge from the
    # lower rank to the higher, then build wedges at the low end
    deg = (
        und.select(F.col("u").alias("node"))
        .union(und.select("v"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(
        F.col("node").alias("u"), F.col("d").alias("du")
    )
    dv = deg.select(
        F.col("node").alias("v"), F.col("d").alias("dv")
    )
    ranked = und.join(du, "u").join(dv, "v")
    lo_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("x"),
        F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("y"),
        F.when(lo_first, F.col("dv")).otherwise(F.col("du")).alias(
            "dy"
        ),
    ).localCheckpoint(eager=True)
    wedges = (
        oriented.alias("l")
        .join(oriented.alias("r"), F.col("l.x") == F.col("r.x"))
        .where(
            (F.col("l.dy") < F.col("r.dy"))
            | (
                (F.col("l.dy") == F.col("r.dy"))
                & (F.col("l.y") < F.col("r.y"))
            )
        )
        .select(
            F.col("l.x").alias("a"),
            F.col("l.y").alias("b"),
            F.col("r.y").alias("c"),
        )
    )
    tris = wedges.join(
        oriented.select("x", "y"),
        (F.col("b") == F.col("x")) & (F.col("c") == F.col("y")),
    ).select("a", "b", "c")
    per_node = (
        tris.select(F.col("a").alias("node"))
        .union(tris.select("b"))
        .union(tris.select("c"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    nodes = und.select(F.col("u").alias("node")).union(
        und.select("v")
    ).distinct()
    return nodes.join(per_node, "node", "left").select(
        "node",
        F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
    )
