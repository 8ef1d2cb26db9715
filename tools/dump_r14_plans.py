"""Dump the r14-touched sub-plans (rollup refresh delta, broadcast merge)
to plans/r14/<name>_<tag>.txt. Run it from the root of the tree whose
engine it should use (it imports the package from the working
directory), e.g. with tag=before in a checkout of an older commit and
tag=after on the current tree, then diff the two files:

    python tools/dump_r14_plans.py after [outdir]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from spark_iceberg_schema_evolution_spark.operators.rollup import (  # noqa: E402
    _delta_agg,
    refresh_rollup,
)
from spark_iceberg_schema_evolution_spark.queries import load  # noqa: E402
from spark_iceberg_schema_evolution_spark.session import get_spark  # noqa: E402
from spark_iceberg_schema_evolution_spark.tables import LakehouseCatalog  # noqa: E402


def cents(c):
    return F.round(c * 100).cast("long")


def main() -> None:
    tag = sys.argv[1]
    outdir = sys.argv[2] if len(sys.argv) > 2 else "plans/r14"
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark()
    tmp = tempfile.mkdtemp(prefix="dump_r14_")
    cat = LakehouseCatalog(spark, tmp)
    o = load(spark, sf_dir, "orders").where("o_custkey < 1500").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("pri"),
        cents(F.col("o_totalprice")).alias("price_c"),
    )
    cat.create_namespace("db")
    src = cat.table("db", "rsrc")
    dst = cat.table("db", "rdst")
    src.create(o.schema)
    src.append(o.where("o_orderkey < 3000"))
    refresh_rollup(src, dst, ["pri"], ["price_c"])
    src.append(o.where("o_orderkey >= 3000 AND o_orderkey < 6000"))
    refresh_rollup(src, dst, ["pri"], ["price_c"])
    src.delete_where("price_c > 20000000")
    refresh_rollup(src, dst, ["pri"], ["price_c"])
    src.update_where("pri = '1-URGENT'", {"price_c": "price_c + 1"})

    def dump(name, df):
        p = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(p, "w") as fh:
            fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
        print("wrote", p)

    # (1) the refresh's delta plan over a replayed UPDATE span
    last_src = int(dst.properties()["rollup.source_version"])
    src_v = src._load().version
    diff_fn = getattr(src, "diff_additive", src.diff)
    changes = diff_fn(last_src, src_v)
    dump("q130_refresh_delta", _delta_agg(changes, ["pri"], ["price_c"]))

    # (2) the broadcast MERGE plan (update+delete arms + insert), as the
    # rollup refresh runs it: captured from the merge's own write.
    from unittest import mock

    delta = spark.createDataFrame(
        [("1-URGENT", 5, 500), ("9-NEW", 2, 70)],
        ["pri", "n_rows", "sum_price_c"],
    )
    seen = []
    real = dst._write_batch

    def spy(df, *a, **k):
        seen.append(df)
        return real(df, *a, **k)

    with mock.patch.object(dst, "_write_batch", spy):
        dst.merge_into(
            delta, ["pri"],
            matched_update={
                "n_rows": "t.n_rows + s.n_rows",
                "sum_price_c": "t.sum_price_c + s.sum_price_c",
            },
            matched_delete_where="t.n_rows + s.n_rows = 0",
            insert_unmatched=True,
            source_unique=True,
            source_rows=delta.count(),
        )
    dump("q130_merge_broadcast", seen[0])


if __name__ == "__main__":
    main()
