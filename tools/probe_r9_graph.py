"""Round-9 graph storage/scale probe.

Two questions, at ~10x bench scale on a synthetic power-law-ish graph:

1. Storage hygiene (the round-9 unpersist_checkpoint fix): after a
   multi-round fixpoint returns, how many persistent RDDs remain?
   Must be a small constant (the returned frame + the loop's pinned
   inputs), NOT one block per round — before the fix every loop leaked
   rounds-many MEMORY_AND_DISK blocks because DataFrame.unpersist() is
   a no-op on localCheckpointed frames.

2. Coreness rounds (the h-index rewrite): the old k=1..k_max peel ran
   a full k-core fixpoint per level; the h-index fixpoint's round
   count is bounded by graph structure. Report wall time.

Synthetic data (spark.range + xxhash64 mixing) — measures the ENGINE's
shape, not parquet read speed. Prints one JSON line.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from spark_iceberg_schema_evolution_spark.operators.graph import (  # noqa: E402
    coreness,
    pagerank,
    shortest_paths,
    triangle_count,
)
from spark_iceberg_schema_evolution_spark.session import get_spark  # noqa: E402


def persistent_ids(spark):
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in m.keySet().toArray()}


def main() -> None:
    n_edges = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    spark = get_spark()
    # skewed synthetic digraph over ~n/10 nodes: src is xxhash64-mixed
    # (near-uniform), dst squares a uniform to concentrate in-links
    n_nodes = max(1000, n_edges // 10)
    e = (
        spark.range(n_edges)
        .select(
            (F.abs(F.xxhash64("id")) % n_nodes).alias("src"),
            (
                F.pow(
                    (F.abs(F.xxhash64("id", F.lit(7))) % 1000) / 1000.0,
                    2.0,
                )
                * n_nodes
            ).cast("long").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .localCheckpoint(eager=True)
    )
    out = {"n_edges": n_edges, "n_nodes_cap": n_nodes}

    base = persistent_ids(spark)
    t0 = time.time()
    pr = pagerank(e, n_iter=10)
    pr_rows = pr.count()
    out["pagerank"] = {
        "sec": round(time.time() - t0, 1),
        "rows": pr_rows,
        "new_persistent_rdds": len(persistent_ids(spark) - base),
    }

    base = persistent_ids(spark)
    t0 = time.time()
    cor = coreness(e, max_k=4096, max_iter=200)
    hist = {
        r["coreness"]: r["n"]
        for r in cor.groupBy("coreness").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    out["coreness"] = {
        "sec": round(time.time() - t0, 1),
        "max_coreness": max(hist) if hist else 0,
        "n_nodes": sum(hist.values()),
        "new_persistent_rdds": len(persistent_ids(spark) - base),
    }

    base = persistent_ids(spark)
    t0 = time.time()
    seeds = spark.createDataFrame([(0,), (1,)], "node long")
    sp = shortest_paths(e, seeds, max_hops=15, directed=False)
    out["bfs"] = {
        "sec": round(time.time() - t0, 1),
        "reached": sp.count(),
        "new_persistent_rdds": len(persistent_ids(spark) - base),
    }

    # triangle counting on the skewed graph (degree-ordered wedges)
    import pyspark.sql.functions as FF

    t0 = time.time()
    n_tri = triangle_count(e).agg(FF.sum("n_triangles")).first()[0]
    out["triangles"] = {
        "total_x3": int(n_tri),
        "sec": round(time.time() - t0, 1),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
