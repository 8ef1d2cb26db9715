"""Declared query corpus — the engine's coverage surface (SURVEY.md §2.B).

Each entry pairs a Spark implementation (DataFrame API or spark.sql) with an
ANSI-SQL oracle that DuckDB runs over the same parquet tables. Conventions
that make cross-engine value-hashes match:

- Every aggregate/computed column is aliased identically on both sides.
- Money/measure sums go through exact scaled-integer (cents) arithmetic
  (data has <=2 decimal digits) — never raw double sums, whose accumulation
  order differs across engines/partitions, and never Spark decimal products,
  which measured pathologically slow in this build.
- AVGs are computed as exact-integer SUM cast to double, divided by COUNT in
  double (double division is deterministic), then ROUNDed.
- Array folds run element-order-sequential on both sides (Spark
  ``aggregate`` HOF; duckdb ``list_reduce`` with a prepended init).
- Raw timestamps are surfaced as epoch microseconds (Spark ``unix_micros``,
  duckdb ``epoch_us``) or formatted strings; dates as strings.
- Queries whose output is row-limited carry a total ORDER BY with an
  explicit unique tiebreak and explicit NULLS FIRST/LAST.

Testdata tables are read through :func:`load`, which infers each file's
reader schema once per process and hands it to every later read, so a
query build schedules no schema-inference job. The memo is keyed on the
file (real path, size, mtime) and on the confs that change how parquet
maps to Spark types (``_SCHEMA_CONFS``); it holds schemas, not
DataFrames, because two reads sharing one relation cannot be joined by
column reference (an AMBIGUOUS self-join).
"""

from __future__ import annotations

import os
import stat
from dataclasses import dataclass
from typing import Callable, Optional

import pandas as pd  # noqa: F401  (pandas_udf type hints resolve via module globals)

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# The constructor arguments of Spark's ParquetToSparkSchemaConverter: the
# confs that change how one parquet footer maps to Spark types.
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
)

_SCHEMAS: dict[tuple, StructType] = {}


def _schema_key(spark: SparkSession, path: str) -> tuple | None:
    """Memo key of a regular parquet file's reader schema; None for
    anything else (a directory, a missing or non-local path)."""
    try:
        real = os.path.realpath(path)
        st = os.stat(real)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    # an unset conf reads as None: its default, the same on every call
    confs = tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS)
    return real, st.st_size, st.st_mtime_ns, confs


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """Reader schema of one parquet file, inferred once per file version
    and conf values (see :func:`load`)."""
    key = _schema_key(spark, path)
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        if key is not None:
            _SCHEMAS[key] = schema
    return schema


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan for one testdata table (columnar, pushdown-eligible).

    Only the first read of a file infers its schema (a one-task Spark job
    reading the footer); later reads pass the remembered schema and
    schedule no job. The memo is keyed on the file's real path, size and
    mtime, so a rewritten file is inferred again, and on the values of
    ``_SCHEMA_CONFS``, so a session that maps parquet types differently
    (``nanosAsLong``, ``inferTimestampNTZ``...) gets its own entry. A path
    that is not a regular file is inferred on every read. The memo holds
    schemas, not DataFrames: every call returns a new relation with new
    attribute ids, so two loads of one table join by column reference.
    """
    path = f"{sf_dir}/{name}.parquet"
    key = _schema_key(spark, path)
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if key is not None:
        _SCHEMAS[key] = df.schema
    return df


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize an events-shaped frame's ``ts`` to a session-TZ (UTC)
    microsecond TIMESTAMP, branching on the dtype the scan produced.

    The harness testdata's physical type has drifted between rounds
    (TIMESTAMP(NANOS) parquet → ``timestamp[us]``), so the loader adapts
    instead of assuming:

    - ``bigint``: TIMESTAMP(NANOS) read as nanos-since-epoch long via
      ``spark.sql.legacy.parquet.nanosAsLong``; floor-divide to micros —
      the same truncation duckdb applies converting TIMESTAMP_NS to epoch
      micros. Integer ``div``, not ``/``: epoch-nanos (~1.7e18) exceeds
      double's 2^53 exact range.
    - ``timestamp`` / ``timestamp_ntz``: already micros; cast normalizes
      NTZ to session-TZ TIMESTAMP (sessions pin UTC, so the naive value is
      reinterpreted bit-identically — matching duckdb's naive TIMESTAMP).

    Anything else is a loud TypeError: a silent mis-read here cost a full
    round (VERDICT r3 — 10 queries broken, 4 silently wrong by 1000x).
    """
    ts_type = dict(df.dtypes)["ts"]
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type in ("timestamp", "timestamp_ntz"):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    raise TypeError(
        f"events.ts scanned as unsupported dtype {ts_type!r}; "
        "expected bigint (nanos-as-long) or timestamp[_ntz]"
    )


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events table with ``ts`` normalized to a microsecond timestamp
    (dtype-drift-robust — see :func:`normalize_event_ts`)."""
    return normalize_event_ts(load(spark, sf_dir, "events"))


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    for n in names or TABLES:
        if n == "events":
            load_events(spark, sf_dir).createOrReplaceTempView(n)
        else:
            load(spark, sf_dir, n).createOrReplaceTempView(n)


# --- cross-engine numeric helpers (see module docstring) -------------------
#
# Money/measure columns in the testdata carry exactly 2 decimal digits, so
# scaled-integer (cents) arithmetic is exact, shuffle-order-independent, and
# ~10x faster than Spark decimal expressions (decimal multiply measured
# pathologically slow in this build: 54-67s for one product over 600k rows
# vs 5.6s in bigint). DuckDB mirrors the same formulation.


def cents(col: F.Column) -> F.Column:
    """2-decimal double -> exact integer hundredths."""
    return F.round(col * 100).cast("long")


def dsum(col: F.Column) -> F.Column:
    """Exact money sum -> double dollars; order-independent (integer sum)."""
    return F.sum(cents(col)).cast("double") / 100


def davg(col: F.Column, n: F.Column | None = None) -> F.Column:
    """Exact-sum / count in double, rounded to 4."""
    cnt = n if n is not None else F.count(col)
    return F.round(F.sum(cents(col)).cast("double") / 100 / cnt, 4)


ORACLE_DSUM = "CAST(SUM(CAST(ROUND({c} * 100) AS BIGINT)) AS DOUBLE) / 100"
ORACLE_DAVG = (
    "ROUND(CAST(SUM(CAST(ROUND({c} * 100) AS BIGINT)) AS DOUBLE) / 100 / COUNT(*), 4)"
)


@dataclass(frozen=True)
class Query:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # None => Tier-2 (rows-only check by the driver)
    tier: int = 1


REGISTRY: dict[str, Query] = {}


def q(name: str, oracle: str | None = None, tier: int = 1):
    def deco(fn):
        REGISTRY[name] = Query(name, fn, oracle, tier)
        return fn

    return deco


# ---------------------------------------------------------------------------
# Scans
# ---------------------------------------------------------------------------


@q(
    "q01_scan_counts",
    oracle="""
    SELECT COUNT(*) AS n_rows, COUNT(DISTINCT l_orderkey) AS n_orders
    FROM lineitem
    """,
)
def q01(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


# --- q02: CSV scan with an EXPLICIT schema (SURVEY §2.B "Scan: CSV") -------
#
# Both engines read the same deterministic CSV fixture. The path is
# per-user (a fixed /tmp dir owned by another user would make import
# fail); creation is LAZY — the query callables and oracle_sql() ensure
# it, so module import has no filesystem side effects.


def _fixtures_dir() -> str:
    import os
    import tempfile

    uid = os.getuid() if hasattr(os, "getuid") else "u"
    return os.path.join(tempfile.gettempdir(), f"spark_graft_fixtures_{uid}")


_Q02_CSV_PATH = _fixtures_dir() + "/q02_customers.csv"


def _ensure_q02_fixture(path: str = _Q02_CSV_PATH) -> str:
    import os

    os.makedirs(os.path.dirname(path), exist_ok=True)
    lines = ["idx,cust_id,revenue,avg_order,sub_date"]
    for i in range(200):
        # exact 2-decimal values -> exact double parse in both engines
        avg = (i * 137 % 9000) + (i % 100) / 100
        lines.append(
            f"{i},cust-{i:05d},{i * 97 % 50000},{avg:.2f},"
            f"20{20 + i % 5}-{1 + i % 9:02d}-{1 + i % 27:02d}"
        )
    body = "\n".join(lines) + "\n"
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        f.write(body)
    os.replace(tmp, path)
    return path


@q(
    "q02_csv_scan_schema",
    oracle=f"""
    SELECT sub_date,
           COUNT(*) AS n_rows,
           CAST(SUM(revenue) AS BIGINT) AS sum_revenue,
           CAST(SUM(CAST(ROUND(avg_order * 100) AS BIGINT)) AS DOUBLE) / 100
             AS sum_avg_order,
           MIN(cust_id) AS first_cust
    FROM read_csv('{_Q02_CSV_PATH}', header = true,
                  columns = {{'idx': 'BIGINT', 'cust_id': 'VARCHAR',
                             'revenue': 'BIGINT', 'avg_order': 'DOUBLE',
                             'sub_date': 'VARCHAR'}})
    GROUP BY sub_date ORDER BY sub_date
    """,
)
def q02(spark: SparkSession, sf: str) -> DataFrame:
    """CSV scan with an explicit (non-inferred) schema — the reference's
    ingest entry format (/root/reference/src/jobs/job.py:47-48), here with
    the schema declared instead of inferred so types are engine-exact."""
    path = _ensure_q02_fixture()
    df = spark.read.csv(
        path,
        header=True,
        schema="idx BIGINT, cust_id STRING, revenue BIGINT, "
        "avg_order DOUBLE, sub_date STRING",
    )
    return (
        df.groupBy("sub_date")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("revenue").alias("sum_revenue"),
            (F.sum(cents(F.col("avg_order"))).cast("double") / 100).alias(
                "sum_avg_order"
            ),
            F.min("cust_id").alias("first_cust"),
        )
        .orderBy("sub_date")
    )


@q(
    "q03_json_extract",
    oracle="""
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
    FROM events ORDER BY event_id LIMIT 100
    """,
)
def q03(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    return (
        ev.select(
            "event_id",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
        .orderBy("event_id")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Project / filter
# ---------------------------------------------------------------------------


@q(
    "q04_filter_case",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice * (1 - l_discount), 4) AS rev,
           CASE WHEN l_tax > 0.04 THEN 'hi' ELSE 'lo' END AS tax_band
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
      AND l_returnflag IN ('R', 'A')
    ORDER BY l_orderkey, l_linenumber
    """,
)
def q04(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem")
    ship = F.col("l_shipdate").cast("date")
    return (
        li.where(
            ship.between(F.lit("1996-01-01"), F.lit("1996-12-31"))
            & F.col("l_returnflag").isin("R", "A")
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("rev"),
            F.when(F.col("l_tax") > 0.04, "hi").otherwise("lo").alias("tax_band"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@q(
    "q05_join_inner_agg",
    oracle=f"""
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           {ORACLE_DSUM.format(c='o_totalprice')} AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def q05(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders")
    c = load(spark, sf, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("total_price"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------


@q(
    "q12_tpch_q1",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, l_linestatus,
             CAST(ROUND(l_quantity * 100) AS BIGINT) AS qty_c,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_c,
             CAST(ROUND(l_discount * 100) AS BIGINT) AS disc_c,
             CAST(ROUND(l_tax * 100) AS BIGINT) AS tax_c
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
    )
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(qty_c) AS DOUBLE) / 100 AS sum_qty,
           CAST(SUM(price_c) AS DOUBLE) / 100 AS sum_base_price,
           CAST(SUM(price_c * (100 - disc_c)) AS DOUBLE) / 10000 AS sum_disc_price,
           CAST(SUM(price_c * (100 - disc_c) * (100 + tax_c)) AS DOUBLE) / 1000000 AS sum_charge,
           ROUND(CAST(SUM(qty_c) AS DOUBLE) / 100 / COUNT(*), 4) AS avg_qty,
           ROUND(CAST(SUM(price_c) AS DOUBLE) / 100 / COUNT(*), 4) AS avg_price,
           ROUND(CAST(SUM(disc_c) AS DOUBLE) / 100 / COUNT(*), 4) AS avg_disc,
           COUNT(*) AS count_order
    FROM c GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q12(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1 shape. Exact scaled-integer arithmetic (see module header):
    cents products stay in int64 (price_c * 100 * 100 <= ~1e11 per row;
    sums spill past int64 only beyond ~1e7x this scale — at that point the
    sum column moves to decimal while the per-row math stays integer)."""
    li = load(spark, sf, "lineitem")
    qty_c = cents(F.col("l_quantity"))
    price_c = cents(F.col("l_extendedprice"))
    disc_c = cents(F.col("l_discount"))
    tax_c = cents(F.col("l_tax"))
    n = F.count(F.lit(1))
    return (
        li.where(F.col("l_shipdate").cast("date") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(qty_c).cast("double") / 100).alias("sum_qty"),
            (F.sum(price_c).cast("double") / 100).alias("sum_base_price"),
            (F.sum(price_c * (100 - disc_c)).cast("double") / 10000).alias(
                "sum_disc_price"
            ),
            (
                F.sum(price_c * (100 - disc_c) * (100 + tax_c)).cast("double")
                / 1000000
            ).alias("sum_charge"),
            F.round(F.sum(qty_c).cast("double") / 100 / n, 4).alias("avg_qty"),
            F.round(F.sum(price_c).cast("double") / 100 / n, 4).alias("avg_price"),
            F.round(F.sum(disc_c).cast("double") / 100 / n, 4).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Joins (broadcast / outer / semi-anti / cross / range / as-of)
# ---------------------------------------------------------------------------


@q(
    "q06_join_broadcast",
    oracle=f"""
    SELECT n_name,
           COUNT(*) AS n_customers,
           {ORACLE_DSUM.format(c='c_acctbal')} AS total_acctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name
    """,
)
def q06(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer")
    n = load(spark, sf, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum(F.col("c_acctbal")).alias("total_acctbal"),
        )
        .orderBy("n_name")
    )


@q(
    "q07_join_left_outer",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_customers_no_1995_orders
    FROM customer LEFT JOIN (
      SELECT * FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '1996-01-01'
    ) o ON c_custkey = o_custkey
    WHERE o_orderkey IS NULL
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def q07(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders").where(
        F.col("o_orderdate").cast("date") < F.lit("1996-01-01")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .where(F.col("o_orderkey").isNull())
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers_no_1995_orders"))
        .orderBy("c_mktsegment")
    )


@q(
    "q08_join_semi_anti",
    oracle="""
    SELECT
      (SELECT COUNT(*) FROM part WHERE EXISTS
        (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)) AS n_ordered,
      (SELECT COUNT(*) FROM part WHERE NOT EXISTS
        (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)) AS n_never_ordered
    """,
)
def q08(spark: SparkSession, sf: str) -> DataFrame:
    p = load(spark, sf, "part")
    li = load(spark, sf, "lineitem").select("l_partkey")
    semi = p.join(li, p.p_partkey == li.l_partkey, "left_semi").agg(
        F.count(F.lit(1)).alias("n_ordered")
    )
    anti = p.join(li, p.p_partkey == li.l_partkey, "left_anti").agg(
        F.count(F.lit(1)).alias("n_never_ordered")
    )
    return semi.crossJoin(anti)


@q(
    "q09_cross_join",
    oracle="""
    SELECT COUNT(*) AS n_pairs,
           CAST(SUM(r_regionkey * n_nationkey) AS BIGINT) AS checksum
    FROM region CROSS JOIN nation
    """,
)
def q09(spark: SparkSession, sf: str) -> DataFrame:
    r = load(spark, sf, "region")
    n = load(spark, sf, "nation")
    return r.crossJoin(n).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("r_regionkey").cast("long") * F.col("n_nationkey")).alias(
            "checksum"
        ),
    )


@q(
    "q10_range_join",
    oracle="""
    SELECT e1.user_id AS user_id, COUNT(*) AS n_pairs
    FROM events e1 JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 1 HOUR
    GROUP BY e1.user_id ORDER BY user_id
    """,
)
def q10(spark: SparkSession, sf: str) -> DataFrame:
    from spark_iceberg_schema_evolution_spark.operators.relational import range_join

    ev = load_events(spark, sf)
    e1 = ev.select("user_id", F.col("ts").alias("ts1"))
    e2 = ev.select(F.col("user_id").alias("user_id2"), F.col("ts").alias("ts2"))
    e2 = e2.withColumnRenamed("user_id2", "user_id")
    pairs = range_join(
        e1,
        e2,
        on=["user_id"],
        condition=(F.col("ts2") > F.col("ts1"))
        & (F.col("ts2") <= F.col("ts1") + F.expr("INTERVAL 1 HOUR")),
    )
    return (
        pairs.groupBy(e1["user_id"].alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("user_id")
    )


@q(
    "q11_asof_join",
    oracle="""
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
         v AS (SELECT * FROM events WHERE event_type = 'view'),
         j AS (
           SELECT p.event_id, v.event_id AS view_event_id,
                  ROUND(p.value - v.value, 4) AS value_delta,
                  ROW_NUMBER() OVER (
                    PARTITION BY p.event_id
                    ORDER BY v.ts DESC, v.event_id DESC) AS rn
           FROM p JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts)
    SELECT event_id, view_event_id, value_delta
    FROM j WHERE rn = 1 ORDER BY event_id
    """,
)
def q11(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join: for each purchase, the latest view of the same user at or
    before it. Union+window formulation (operators/relational.asof_join):
    one shuffle, no pair blowup — the 100 TB-safe ASOF plan."""
    from spark_iceberg_schema_evolution_spark.operators.relational import asof_join

    ev = load_events(spark, sf)
    p = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    v = ev.where(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.col("event_id").alias("view_event_id"),
        F.col("value").alias("view_value"),
    )
    out = asof_join(
        p,
        v,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=["view_event_id", "view_value"],
        how="inner",
    )
    return out.select(
        "event_id",
        "view_event_id",
        F.round(F.col("value") - F.col("view_value"), 4).alias("value_delta"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Aggregations (distinct / rollup / having / collect)
# ---------------------------------------------------------------------------


@q(
    "q13_count_distinct",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_custs,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q13(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_custs"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


@q(
    "q14_multi_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q14(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


@q(
    "q15_rollup",
    oracle="""
    SELECT COALESCE(r_name, '(all)') AS region_name,
           COALESCE(n_name, '(all)') AS nation_name,
           CAST(GROUPING(r_name) AS INT) AS g_region,
           CAST(GROUPING(n_name) AS INT) AS g_nation,
           COUNT(*) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP(r_name, n_name)
    ORDER BY region_name, nation_name
    """,
)
def q15(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer")
    n = load(spark, sf, "nation")
    r = load(spark, sf, "region")
    joined = c.join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    ).join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.grouping("r_name").cast("int").alias("g_region"),
            F.grouping("n_name").cast("int").alias("g_nation"),
        )
        .select(
            F.coalesce("r_name", F.lit("(all)")).alias("region_name"),
            F.coalesce("n_name", F.lit("(all)")).alias("nation_name"),
            "g_region",
            "g_nation",
            "n_customers",
        )
        .orderBy("region_name", "nation_name")
    )


@q(
    "q16_having",
    oracle=f"""
    SELECT l_suppkey,
           {ORACLE_DSUM.format(c='l_quantity')} AS total_qty
    FROM lineitem GROUP BY l_suppkey
    HAVING SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) > 1500000
    ORDER BY l_suppkey
    """,
)
def q16(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(
            dsum(F.col("l_quantity")).alias("total_qty"),
            F.sum(cents(F.col("l_quantity"))).alias("__qc"),
        )
        .where(F.col("__qc") > 1500000)
        .drop("__qc")
        .orderBy("l_suppkey")
    )


@q(
    "q17_collect_sorted",
    oracle="""
    SELECT o_custkey,
           STRING_AGG(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)
             AS priorities
    FROM orders WHERE o_custkey < 100
    GROUP BY o_custkey ORDER BY o_custkey
    """,
)
def q17(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders")
    return (
        o.where(F.col("o_custkey") < 100)
        .groupBy("o_custkey")
        .agg(
            F.concat_ws(
                ",", F.sort_array(F.collect_set("o_orderpriority"))
            ).alias("priorities")
        )
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


@q(
    "q18_window_topk",
    oracle="""
    SELECT o_custkey, rnk, o_orderkey, o_totalprice
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders)
    WHERE rnk <= 3 ORDER BY o_custkey, rnk
    """,
)
def q18(spark: SparkSession, sf: str) -> DataFrame:
    from spark_iceberg_schema_evolution_spark.operators.relational import top_k_per_group

    o = load(spark, sf, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    out = top_k_per_group(
        o,
        group=["o_custkey"],
        order=[F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        k=3,
    )
    return out.select(
        "o_custkey", F.col("rn").alias("rnk"), "o_orderkey", "o_totalprice"
    ).orderBy("o_custkey", "rnk")


@q(
    "q19_window_lag",
    oracle="""
    SELECT user_id, event_id,
           ROUND(value - LAG(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id), 4) AS delta
    FROM events WHERE user_id < 20
    ORDER BY user_id, event_id
    """,
)
def q19(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_events(spark, sf).where(F.col("user_id") < 20)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            "event_id",
            F.round(F.col("value") - F.lag("value").over(w), 4).alias("delta"),
        )
        .orderBy("user_id", "event_id")
    )


@q(
    "q20_window_frame",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER w AS DOUBLE)
             / (100 * COUNT(*) OVER w) AS moving_avg
    FROM orders WHERE o_custkey < 200
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    ORDER BY o_custkey, o_orderkey
    """,
)
def q20(spark: SparkSession, sf: str) -> DataFrame:
    """Moving average over a 3-row frame. Exact integer frame-sum, one
    double division, NO terminal round: windowed AVG(double) accumulates
    in engine-specific order, and rounding the quotient hits cross-engine
    half-way ties (x.845 rounds differently from its shortest decimal
    repr vs its binary value)."""
    o = load(spark, sf, "orders").where(F.col("o_custkey") < 200)
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, W.currentRow)
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            (
                F.sum(cents(F.col("o_totalprice"))).over(w).cast("double")
                / (100 * F.count(F.lit(1)).over(w))
            ).alias("moving_avg"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


# ---------------------------------------------------------------------------
# Sort / limit
# ---------------------------------------------------------------------------


@q(
    "q21_sort_nulls",
    oracle="""
    SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg
    FROM customer
    ORDER BY seg NULLS LAST, c_custkey
    LIMIT 200
    """,
)
def q21(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer")
    return (
        c.select(
            "c_custkey",
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg"),
        )
        .orderBy(F.col("seg").asc_nulls_last(), F.col("c_custkey"))
        .limit(200)
    )


@q(
    "q22_topk_revenue",
    oracle="""
    SELECT l_partkey,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
                AS DOUBLE) / 10000 AS revenue
    FROM lineitem GROUP BY l_partkey
    ORDER BY revenue DESC, l_partkey LIMIT 10
    """,
)
def q22(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem")
    rev_c = cents(F.col("l_extendedprice")) * (100 - cents(F.col("l_discount")))
    return (
        li.groupBy("l_partkey")
        .agg((F.sum(rev_c).cast("double") / 10000).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_partkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------


@q(
    "q23_union_distinct",
    oracle="""
    SELECT o_custkey FROM orders
    WHERE EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) = 1996
    UNION
    SELECT o_custkey FROM orders WHERE o_totalprice > 400000
    ORDER BY o_custkey
    """,
)
def q23(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders")
    a = o.where(F.year(F.col("o_orderdate").cast("date")) == 1996).select(
        "o_custkey"
    )
    b = o.where(F.col("o_totalprice") > 400000).select("o_custkey")
    return a.union(b).distinct().orderBy("o_custkey")


@q(
    "q24_except",
    oracle="""
    SELECT o_custkey FROM orders
    WHERE EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) = 1996
    EXCEPT
    SELECT o_custkey FROM orders
    WHERE EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) = 1997
    ORDER BY o_custkey
    """,
)
def q24(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders")
    y = F.year(F.col("o_orderdate").cast("date"))
    a = o.where(y == 1996).select("o_custkey")
    b = o.where(y == 1997).select("o_custkey")
    # subtract == SQL EXCEPT (distinct semantics); exceptAll would keep
    # per-occurrence multiplicity and overcount.
    return a.subtract(b).orderBy("o_custkey")


@q(
    "q25_union_byname",
    oracle="""
    SELECT c_custkey, c_name, CAST(NULL AS DOUBLE) AS c_acctbal
    FROM customer WHERE c_custkey < 50
    UNION ALL
    SELECT c_custkey, CAST(NULL AS VARCHAR) AS c_name, c_acctbal
    FROM customer WHERE c_custkey >= 1450
    ORDER BY c_custkey
    """,
)
def q25(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer")
    a = c.where(F.col("c_custkey") < 50).select("c_custkey", "c_name")
    b = c.where(F.col("c_custkey") >= 1450).select("c_custkey", "c_acctbal")
    return a.unionByName(b, allowMissingColumns=True).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# Scalar function families
# ---------------------------------------------------------------------------


@q(
    "q26_string_funcs",
    oracle="""
    SELECT c_custkey,
           LOWER(REPLACE(c_name, '#', '_')) AS norm_name,
           SUBSTR(c_name, 1, 8) AS prefix,
           LENGTH(c_name) AS name_len,
           LPAD(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
           REGEXP_EXTRACT(c_name, '([0-9]+)', 1) AS digits,
           UPPER(c_mktsegment) AS seg_upper,
           TRIM(CONCAT('  ', c_mktsegment, '  ')) AS trimmed
    FROM customer WHERE c_custkey < 300 ORDER BY c_custkey
    """,
)
def q26(spark: SparkSession, sf: str) -> DataFrame:
    """String family — mirrors the reference's name normalization
    (job.py:65-72: lower + strip chars)."""
    c = load(spark, sf, "customer").where(F.col("c_custkey") < 300)
    return c.select(
        "c_custkey",
        F.lower(F.replace(F.col("c_name"), F.lit("#"), F.lit("_"))).alias(
            "norm_name"
        ),
        F.substring("c_name", 1, 8).alias("prefix"),
        F.length("c_name").alias("name_len"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded"),
        F.regexp_extract("c_name", r"([0-9]+)", 1).alias("digits"),
        F.upper("c_mktsegment").alias("seg_upper"),
        F.trim(F.concat(F.lit("  "), F.col("c_mktsegment"), F.lit("  "))).alias(
            "trimmed"
        ),
    ).orderBy("c_custkey")


@q(
    "q27_date_funcs",
    oracle="""
    SELECT STRFTIME(DATE_TRUNC('month', CAST(l_shipdate AS DATE)), '%Y-%m-%d')
             AS ship_month,
           EXTRACT(YEAR FROM CAST(l_shipdate AS DATE)) AS ship_year,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
                AS DOUBLE) / 10000 AS revenue
    FROM lineitem
    GROUP BY 1, 2 ORDER BY ship_month
    """,
)
def q27(spark: SparkSession, sf: str) -> DataFrame:
    """Per-month revenue — the query-side analogue of the reference's
    month(created_at) hidden partitioning (job.py:125, spark_utils.py:163)."""
    li = load(spark, sf, "lineitem")
    ship = F.col("l_shipdate").cast("date")
    rev_c = cents(F.col("l_extendedprice")) * (100 - cents(F.col("l_discount")))
    return (
        li.groupBy(
            F.date_format(F.date_trunc("month", ship), "yyyy-MM-dd").alias(
                "ship_month"
            ),
            F.year(ship).cast("long").alias("ship_year"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            (F.sum(rev_c).cast("double") / 10000).alias("revenue"),
        )
        .orderBy("ship_month")
    )


@q(
    "q28_math_funcs",
    oracle="""
    SELECT p_partkey,
           ROUND(SQRT(p_retailprice), 4) AS sqrt_price,
           CAST(p_size AS BIGINT) * p_size AS size_sq,
           ABS(p_size - 25) AS abs_dev,
           MOD(p_partkey, 7) AS key_mod,
           GREATEST(p_size, 25) AS g25,
           LEAST(p_size, 25) AS l25,
           CAST(FLOOR(p_retailprice) AS BIGINT) AS floor_price,
           CAST(CEIL(p_retailprice) AS BIGINT) AS ceil_price,
           ROUND(LN(p_retailprice), 4) AS ln_price,
           CAST(SIGN(p_size - 25) AS INT) AS size_sign
    FROM part WHERE p_partkey < 500 ORDER BY p_partkey
    """,
)
def q28(spark: SparkSession, sf: str) -> DataFrame:
    p = load(spark, sf, "part").where(F.col("p_partkey") < 500)
    return p.select(
        "p_partkey",
        F.round(F.sqrt("p_retailprice"), 4).alias("sqrt_price"),
        (F.col("p_size").cast("long") * F.col("p_size")).alias("size_sq"),
        F.abs(F.col("p_size") - 25).alias("abs_dev"),
        (F.col("p_partkey") % 7).alias("key_mod"),
        F.greatest("p_size", F.lit(25)).alias("g25"),
        F.least("p_size", F.lit(25)).alias("l25"),
        F.floor("p_retailprice").alias("floor_price"),
        F.ceil("p_retailprice").alias("ceil_price"),
        F.round(F.log("p_retailprice"), 4).alias("ln_price"),
        F.signum(F.col("p_size") - 25).cast("int").alias("size_sign"),
    ).orderBy("p_partkey")


@q(
    "q29_null_cond",
    oracle="""
    SELECT c_custkey,
           COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'Unknown') AS seg_filled,
           COALESCE(CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END, 0.0)
             AS bal_nonneg,
           CASE WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 5000 THEN 'low'
                ELSE 'high' END AS bal_band
    FROM customer ORDER BY c_custkey
    """,
)
def q29(spark: SparkSession, sf: str) -> DataFrame:
    """Null/conditional family — re-enacts the reference's commented-out
    default-fill op (job.py:88-101, 'Unknown' defaults)."""
    c = load(spark, sf, "customer")
    return c.select(
        "c_custkey",
        F.coalesce(
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("Unknown")
        ).alias("seg_filled"),
        F.coalesce(
            F.when(F.col("c_acctbal") < 0, None).otherwise(F.col("c_acctbal")),
            F.lit(0.0),
        ).alias("bal_nonneg"),
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
        .alias("bal_band"),
    ).orderBy("c_custkey")


@q(
    "q30_array_explode",
    oracle="""
    SELECT vec_id,
           COUNT(*) AS n_elems,
           ROUND(MIN(CAST(e AS DOUBLE)), 4) AS min_e,
           ROUND(MAX(CAST(e AS DOUBLE)), 4) AS max_e
    FROM (SELECT vec_id, UNNEST(embedding) AS e FROM embeddings
          WHERE vec_id < 200)
    GROUP BY vec_id ORDER BY vec_id
    """,
)
def q30(spark: SparkSession, sf: str) -> DataFrame:
    """Array explode + regroup. Only order-independent aggregates (count/
    min/max) — an exploded double SUM would accumulate in shuffle order."""
    e = load(spark, sf, "embeddings").where(F.col("vec_id") < 200)
    return (
        e.select("vec_id", F.explode("embedding").alias("e"))
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).alias("n_elems"),
            F.round(F.min(F.col("e").cast("double")), 4).alias("min_e"),
            F.round(F.max(F.col("e").cast("double")), 4).alias("max_e"),
        )
        .orderBy("vec_id")
    )


@q(
    "q31_map_funcs",
    oracle="""
    SELECT 'k' AS map_key,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
             AS total
    FROM events
    """,
)
def q31(spark: SparkSession, sf: str) -> DataFrame:
    """JSON props parsed as a typed map, exploded to key/value. The data's
    props has the single key 'k', so the oracle is expressible without
    duckdb map types."""
    ev = load(spark, sf, "events")
    m = F.from_json("props", "map<string,int>")
    return (
        ev.select(F.explode(m).alias("map_key", "v"))
        .groupBy("map_key")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("total"),
        )
    )


@q(
    "q32_hash_md5",
    oracle="""
    SELECT c_custkey, MD5(c_name) AS name_md5,
           SUBSTR(MD5(CONCAT(c_name, c_mktsegment)), 1, 8) AS combo_prefix
    FROM customer WHERE c_custkey < 400 ORDER BY c_custkey
    """,
)
def q32(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer").where(F.col("c_custkey") < 400)
    return c.select(
        "c_custkey",
        F.md5("c_name").alias("name_md5"),
        F.substring(
            F.md5(F.concat(F.col("c_name"), F.col("c_mktsegment"))), 1, 8
        ).alias("combo_prefix"),
    ).orderBy("c_custkey")


@q(
    "q33_cast_matrix",
    oracle="""
    SELECT c_custkey,
           CAST(c_custkey AS INT) AS key_int,
           CAST(c_custkey AS VARCHAR) AS key_str,
           CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) AS bal_decimal_str,
           CAST(FLOOR(c_acctbal) AS BIGINT) AS bal_floor_int,
           CAST(c_nationkey AS BIGINT) AS nation_big,
           CAST(c_acctbal > 0 AS INT) AS is_positive,
           CAST(CAST('1996-03-07' AS DATE) AS VARCHAR) AS fixed_date,
           CAST(LENGTH(c_name) AS DOUBLE) AS len_dbl
    FROM customer WHERE c_custkey < 300 ORDER BY c_custkey
    """,
)
def q33(spark: SparkSession, sf: str) -> DataFrame:
    """Cast matrix over the §1.2 type lattice. double->int goes through
    FLOOR explicitly: bare CAST(double AS INT) truncates in Spark but
    rounds in duckdb."""
    c = load(spark, sf, "customer").where(F.col("c_custkey") < 300)
    return c.select(
        "c_custkey",
        F.col("c_custkey").cast("int").alias("key_int"),
        F.col("c_custkey").cast("string").alias("key_str"),
        F.col("c_acctbal").cast("decimal(12,2)").cast("string").alias(
            "bal_decimal_str"
        ),
        F.floor("c_acctbal").alias("bal_floor_int"),
        F.col("c_nationkey").cast("bigint").alias("nation_big"),
        (F.col("c_acctbal") > 0).cast("int").alias("is_positive"),
        F.lit("1996-03-07").cast("date").cast("string").alias("fixed_date"),
        F.length("c_name").cast("double").alias("len_dbl"),
    ).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# Time bucketing / sessionization (batch equivalents of streaming windows)
# ---------------------------------------------------------------------------


@q(
    "q34_tumbling_hour",
    oracle="""
    SELECT STRFTIME(DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:00:00')
             AS hour_bucket,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100
             AS total_value
    FROM events
    GROUP BY 1, 2 ORDER BY hour_bucket, event_type
    """,
)
def q34(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling-window counts in batch form — the oracle for the streaming
    tumbling window (streaming/windows.py drives the same aggregation
    through readStream; see t2_stream_tumbling)."""
    ev = load_events(spark, sf)
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:00:00")
            .alias("hour_bucket"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents(F.col("value"))).cast("double") / 100).alias(
                "total_value"
            ),
        )
        .orderBy("hour_bucket", "event_type")
    )


@q(
    "q35_sessionize",
    oracle="""
    WITH t AS (
      SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events WHERE user_id < 30),
    flagged AS (
      SELECT user_id, event_id, us,
             CASE WHEN us - LAG(us) OVER (PARTITION BY user_id
                                          ORDER BY us, event_id)
                       > 1800000000
                  OR LAG(us) OVER (PARTITION BY user_id
                                   ORDER BY us, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM t),
    sessions AS (
      SELECT user_id, event_id, us,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_id
      FROM flagged)
    SELECT user_id, session_id,
           COUNT(*) AS n_events,
           MIN(us) AS start_us,
           MAX(us) AS end_us
    FROM sessions GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)
def q35(spark: SparkSession, sf: str) -> DataFrame:
    """Gaps-and-islands sessionization (30-min gap), the batch oracle for
    streaming session windows. Timestamps as epoch micros end-to-end so
    both engines compare integers."""
    ev = load_events(spark, sf).where(F.col("user_id") < 30)
    t = ev.select(
        "user_id", "event_id", F.unix_micros(F.col("ts")).alias("us")
    )
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    lag_us = F.lag("us").over(w)
    flagged = t.withColumn(
        "is_new",
        F.when((F.col("us") - lag_us > 1800000000) | lag_us.isNull(), 1).otherwise(
            0
        ),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("us").alias("start_us"),
            F.max("us").alias("end_us"),
        )
        .orderBy("user_id", "session_id")
    )


# ---------------------------------------------------------------------------
# LLM-pipeline operators: dedup / similarity / text analysis / multimodal
# ---------------------------------------------------------------------------

# duckdb replica of operators.dedup.shingles(normalized_words(text), 5)
_DUCK_WORDS = "string_split(lower(trim(text)), ' ')"
_DUCK_SHINGLES = f"""list_distinct(CASE WHEN len({_DUCK_WORDS}) >= 5
    THEN [array_to_string(({_DUCK_WORDS})[i:i+4], ' ')
          for i in generate_series(1, len({_DUCK_WORDS})-4)]
    ELSE [array_to_string({_DUCK_WORDS}, ' ')] END)"""


@q(
    "q36_dedup_exact",
    oracle="""
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT MD5(text)) AS n_distinct_text,
           COUNT(DISTINCT SUBSTR(text, 1, 30)) AS n_distinct_prefix
    FROM documents
    """,
)
def q36(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_distinct_text"),
        F.countDistinct(F.substring("text", 1, 30)).alias("n_distinct_prefix"),
    )


@q(
    "q37_ngram_jaccard",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, UNNEST({_DUCK_SHINGLES}) AS s
      FROM documents),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b, n_common,
           sa.n_sh AS n_a, sb.n_sh AS n_b,
           CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard,
           CAST(n_common AS DOUBLE) / LEAST(sa.n_sh, sb.n_sh) AS containment
    FROM common
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    ORDER BY id_a, id_b
    """,
)
def q37(spark: SparkSession, sf: str) -> DataFrame:
    """Exact 5-gram-shingle Jaccard over co-shingled doc pairs (the verify
    stage of the near-dedup pipeline; candidate generation is
    t2_minhash_lsh). Unrounded double division: same exact integer inputs
    -> identical quotient bits on both engines."""
    from spark_iceberg_schema_evolution_spark.operators.dedup import jaccard_pairs

    d = load(spark, sf, "documents")
    return jaccard_pairs(d).orderBy("id_a", "id_b")


_PROBE_SQL = "[CAST((i*37 % 19) - 9 AS DOUBLE)/10.0 for i in generate_series(0,63)]"
_DUCK_FOLD_SUM = "list_reduce(list_prepend(0.0, {xs}), (a, b) -> a + b)"


def _probe_vector() -> list[float]:
    return [((i * 37) % 19 - 9) / 10.0 for i in range(64)]


@q(
    "q38_cosine_topk",
    oracle=f"""
    WITH p AS (SELECT {_PROBE_SQL} AS pv),
    scored AS (
      SELECT label, vec_id,
             {_DUCK_FOLD_SUM.format(xs='[e[i] * pv[i] for i in generate_series(1, 64)]')}
             / (SQRT({_DUCK_FOLD_SUM.format(xs='[x*x for x in e]')})
                * SQRT({_DUCK_FOLD_SUM.format(xs='[x*x for x in pv]')})) AS score
      FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings) CROSS JOIN p),
    ranked AS (
      SELECT label, vec_id, score,
             ROW_NUMBER() OVER (PARTITION BY label
                                ORDER BY score DESC, vec_id) AS rank
      FROM scored)
    SELECT label, rank, vec_id, ROUND(score, 6) AS score_r
    FROM ranked WHERE rank <= 10 ORDER BY label, rank
    """,
)
def q38(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-10 per label against a fixed probe vector —
    the exact-baseline similarity search. Scoring runs in aggregate/zip_with
    HOFs (JVM, sequential fold order matching duckdb's list_reduce)."""
    from spark_iceberg_schema_evolution_spark.operators.similarity import (
        as_double,
        cosine,
        lit_double_array_sql,
    )

    e = load(spark, sf, "embeddings")
    probe = F.expr(lit_double_array_sql(_probe_vector()))
    scored = e.select(
        "label",
        "vec_id",
        cosine(as_double(F.col("embedding")), probe).alias("score"),
    )
    w = W.partitionBy("label").orderBy(F.col("score").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("label", "rank", "vec_id", F.round("score", 6).alias("score_r"))
        .orderBy("label", "rank")
    )


@q(
    "q39_text_stats",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len({_DUCK_WORDS})) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
           quantile_cont(n_chars, 0.5) AS median_chars
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def q39(spark: SparkSession, sf: str) -> DataFrame:
    from spark_iceberg_schema_evolution_spark.operators.text import token_count

    d = load(spark, sf, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count().cast("long")).alias("total_tokens"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias(
                "avg_chars"
            ),
            F.expr("percentile(n_chars, 0.5)").alias("median_chars"),
        )
        .orderBy("lang")
    )


@q(
    "q40_embedding_norms",
    oracle=f"""
    SELECT vec_id,
           ROUND(SQRT({_DUCK_FOLD_SUM.format(xs='[x*x for x in CAST(embedding AS DOUBLE[])]')}), 6) AS l2,
           ROUND({_DUCK_FOLD_SUM.format(xs='CAST(embedding AS DOUBLE[])')} / 64, 6) AS mean_elem
    FROM embeddings WHERE vec_id < 300 ORDER BY vec_id
    """,
)
def q40(spark: SparkSession, sf: str) -> DataFrame:
    from spark_iceberg_schema_evolution_spark.operators.similarity import (
        as_double,
        fold_sum,
        l2_norm,
    )

    e = load(spark, sf, "embeddings").where(F.col("vec_id") < 300)
    v = as_double(F.col("embedding"))
    return e.select(
        "vec_id",
        F.round(l2_norm(v), 6).alias("l2"),
        F.round(fold_sum(v) / 64, 6).alias("mean_elem"),
    ).orderBy("vec_id")


_DUCK_DWORDS = f"list_distinct({_DUCK_WORDS})"
_LANG_SETS = {
    "en": "['the','and','of','to','is']",
    "es": "['el','la','de','que','y']",
    "de": "['der','die','und','das','ist']",
    "fr": "['le','la','et','les','des']",
    "zh": "['de','shi','le','zai','you']",
}
_LANG_HITS = {
    lang: f"len(list_intersect({_DUCK_DWORDS}, {s}))" for lang, s in _LANG_SETS.items()
}
def _duck_lang_case() -> str:
    """Replicates operators.text.lang_id's argmax (sorted lang order,
    strictly-greater wins, 'und' when all zero) as nested CASEs."""
    expr_best = "'und'"
    expr_best_n = "0"
    for lang in sorted(_LANG_HITS):
        h = _LANG_HITS[lang]
        expr_best = f"CASE WHEN {h} > {expr_best_n} THEN '{lang}' ELSE {expr_best} END"
        expr_best_n = f"CASE WHEN {h} > {expr_best_n} THEN {h} ELSE {expr_best_n} END"
    return expr_best


@q(
    "q41_lang_id",
    oracle=f"""
    SELECT lang, {_duck_lang_case()} AS predicted, COUNT(*) AS n_docs
    FROM documents
    GROUP BY 1, 2 ORDER BY lang, predicted
    """,
)
def q41(spark: SparkSession, sf: str) -> DataFrame:
    """Heuristic language-ID (marker-word argmax) vs the labeled lang
    column — the text-analysis operator with its SQL-replicated oracle."""
    from spark_iceberg_schema_evolution_spark.operators.text import lang_id

    d = load(spark, sf, "documents")
    return (
        d.groupBy("lang", lang_id().alias("predicted"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "predicted")
    )


@q(
    "q42_quality_fingerprint",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             {_DUCK_WORDS} AS words,
             {_DUCK_DWORDS} AS dwords
      FROM documents WHERE doc_id < 200)
    SELECT doc_id,
           MD5(array_to_string(list_sort(dwords), ' ')) AS fp,
           (CASE WHEN len(words) BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.5 END) * 0.4
           + LEAST(CAST(len(list_filter(words,
               w -> list_contains(['the','and','of','to','is'], w))) AS DOUBLE)
               / GREATEST(len(words), 1) * 4, 1.0) * 0.2
           + CAST(len(dwords) AS DOUBLE) / GREATEST(len(words), 1) * 0.4
             AS quality
    FROM t ORDER BY doc_id
    """,
)
def q42(spark: SparkSession, sf: str) -> DataFrame:
    """Quality score + order-insensitive fingerprint per doc. The score is
    left UNROUNDED: both engines execute the identical IEEE expression
    tree, so the doubles match bit-for-bit (rounding would re-introduce
    half-way-tie divergence)."""
    from spark_iceberg_schema_evolution_spark.operators.dedup import normalized_words
    from spark_iceberg_schema_evolution_spark.operators.text import fingerprint, stopword_ratio

    d = load(spark, sf, "documents").where(F.col("doc_id") < 200)
    words = normalized_words()
    n = F.size(words)
    ttr = F.size(F.array_distinct(words)) / F.greatest(n, F.lit(1))
    len_ok = F.when((n >= 10) & (n <= 1000), 1.0).otherwise(0.5)
    quality = (
        len_ok * 0.4
        + F.least(stopword_ratio() * 4, F.lit(1.0)) * 0.2
        + ttr * 0.4
    )
    return d.select(
        "doc_id",
        fingerprint().alias("fp"),
        quality.alias("quality"),
    ).orderBy("doc_id")


@q(
    "q43_multimodal_meta",
    oracle="""
    SELECT doc_id AS media_id,
           octet_length(encode(text)) AS n_bytes,
           MD5(text) AS content_md5,
           'text/plain' AS mime
    FROM documents ORDER BY media_id
    """,
)
def q43(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal binary-payload plumbing: opaque bytes + typed metadata
    (operators/multimodal.documents_as_media); content hash proves the
    byte round trip."""
    from spark_iceberg_schema_evolution_spark.operators.multimodal import documents_as_media

    d = load(spark, sf, "documents")
    m = documents_as_media(d)
    md5_text = load(spark, sf, "documents").select(
        F.col("doc_id").alias("media_id"), F.md5("text").alias("content_md5")
    )
    return (
        m.join(md5_text, "media_id")
        .select(
            "media_id",
            F.col("meta.n_bytes").alias("n_bytes"),
            "content_md5",
            F.col("meta.mime").alias("mime"),
        )
        .orderBy("media_id")
    )


@q(
    "q44_pandas_udf_tokens",
    oracle=f"""
    SELECT doc_id,
           len({_DUCK_WORDS}) AS n_tokens,
           {_DUCK_FOLD_SUM.format(xs=f'[CAST(CEIL(len(w) / 4.0) AS DOUBLE) for w in {_DUCK_WORDS}]')}
             AS bpe_ish
    FROM documents WHERE doc_id < 200 ORDER BY doc_id
    """,
)
def q44(spark: SparkSession, sf: str) -> DataFrame:
    """Arrow-vectorized Pandas UDF in the token-counting hot path —
    equivalence-checked against the SQL formula (UDF tier of SURVEY §2.B)."""
    from pyspark.sql.types import DoubleType, IntegerType

    @F.pandas_udf(IntegerType())
    def n_tokens_udf(text: pd.Series) -> pd.Series:
        return text.str.strip().str.lower().str.split().map(len).astype("int32")

    @F.pandas_udf(DoubleType())
    def bpe_ish_udf(text: pd.Series) -> pd.Series:
        import math

        return text.map(
            lambda t: float(
                sum(math.ceil(len(w) / 4.0) for w in t.strip().lower().split())
            )
        )

    d = load(spark, sf, "documents").where(F.col("doc_id") < 200)
    return d.select(
        "doc_id",
        n_tokens_udf(F.col("text")).alias("n_tokens"),
        bpe_ish_udf(F.col("text")).alias("bpe_ish"),
    ).orderBy("doc_id")


# --- Tier-2 (rows-only check): approximate / Python-backed / LSH paths -----


@q("t2_minhash_lsh_pairs", oracle=None, tier=2)
def t2_minhash(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash-LSH candidate pairs joined with exact Jaccard verification —
    the full near-dedup pipeline (deterministic seed)."""
    from spark_iceberg_schema_evolution_spark.operators.dedup import (
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signature,
    )

    d = load(spark, sf, "documents")
    sigs = minhash_signature(d, num_hashes=16)
    cands, drops = lsh_candidate_pairs(
        sigs, num_bands=4, sig_len=16, return_drop_stats=True
    )
    verified = jaccard_pairs(d, pairs=cands)
    return (
        verified.select(
            "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
        )
        # skew-guard audit: the one-row drop stats ride every result row
        # (no-silent-caps rule — a dropped hot bucket deletes recall)
        .crossJoin(F.broadcast(drops))
        .orderBy("id_a", "id_b")
    )


@q("t2_simhash", oracle=None, tier=2)
def t2_simhash(spark: SparkSession, sf: str) -> DataFrame:
    from spark_iceberg_schema_evolution_spark.operators.dedup import simhash

    d = load(spark, sf, "documents").where(F.col("doc_id") < 200)
    return simhash(d).orderBy("doc_id")


@q("t2_lsh_cosine_topk", oracle=None, tier=2)
def t2_lsh_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Hyperplane-LSH bucketed ANN — the scale path of q38 (recall is
    probabilistic, so rows-only here; recall itself is asserted in
    tests/test_llm_ops.py against the exact baseline)."""
    from spark_iceberg_schema_evolution_spark.operators.similarity import lsh_topk

    e = load(spark, sf, "embeddings")
    qdf = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_topk(e, qdf, dim=64, k=10, num_planes=8).select(
        "query_id", "rank", "vec_id", F.round("score", 6).alias("score_r")
    ).orderBy("query_id", "rank")


@q("t2_ivf_cosine_topk", oracle=None, tier=2)
def t2_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF (KMeans coarse-quantizer) ANN — the clustered-partition scale
    path beside hyperplane LSH; recall vs the exact baseline is asserted
    in tests/test_llm_ops.py."""
    from spark_iceberg_schema_evolution_spark.operators.similarity import ivf_topk

    e = load(spark, sf, "embeddings")
    qdf = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(e, qdf, k=10, num_centroids=16, n_probe=3).select(
        "query_id", "rank", "vec_id", F.round("score", 6).alias("score_r")
    ).orderBy("query_id", "rank")


@q("t2_cluster_sample_fit", oracle=None, tier=2)
def t2_cluster_sample_fit(spark: SparkSession, sf: str) -> DataFrame:
    """cluster_balanced_sample's KMeans-FIT path (the pre-fit-centroids
    path has the exact q127 oracle): per-cluster quotas and determinism
    are asserted in tests/test_llm_ops.py."""
    from spark_iceberg_schema_evolution_spark.operators.similarity import (
        cluster_balanced_sample,
    )

    e = load(spark, sf, "embeddings")
    out = cluster_balanced_sample(
        e, per_cluster=10, num_centroids=8, seed="t2"
    )
    return (
        out.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"), F.min("vec_id").alias("lo"))
        .orderBy("cluster")
    )


@q("t2_pq_cosine_topk", oracle=None, tier=2)
def t2_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ANN (m sub-space codebooks + ADC lookups +
    exact re-rank) — the compressed-scan scale path beside IVF's
    pruning; recall@10 >= 0.9 vs the exact baseline is asserted in
    tests/test_llm_ops.py. Survivor scores are exact cosine, so the
    rows are directly comparable with t2_ivf/t2_lsh."""
    from spark_iceberg_schema_evolution_spark.operators.similarity import pq_topk

    e = load(spark, sf, "embeddings")
    qdf = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_topk(e, qdf, dim=64, k=10, m=16, ksub=32, refine=8).select(
        "query_id", "rank", "vec_id", F.round("score", 6).alias("score_r")
    ).orderBy("query_id", "rank")


@q("t2_ivfpq_cosine_topk", oracle=None, tier=2)
def t2_ivfpq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-PQ ANN — coarse-cell pruning + compressed-domain ADC scoring
    + exact re-rank, the classical 100 TB pairing; recall@10 >= 0.9 vs
    exact is asserted in tests/test_llm_ops.py."""
    from spark_iceberg_schema_evolution_spark.operators.similarity import ivfpq_topk

    e = load(spark, sf, "embeddings")
    qdf = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivfpq_topk(
        e, qdf, dim=64, k=10, num_centroids=8, n_probe=6,
        m=16, ksub=32, refine=8,
    ).select(
        "query_id", "rank", "vec_id", F.round("score", 6).alias("score_r")
    ).orderBy("query_id", "rank")


@q("t2_ann_index_lifecycle", oracle=None, tier=2)
def t2_ann_index(spark: SparkSession, sf: str) -> DataFrame:
    """Materialized ANN index lifecycle (r6 VERDICT item 5): build a PQ
    index over half the corpus (bounded fit -> codebook + codes
    lakehouse tables), incrementally sync the other half with the
    STORED codebook (no re-fit, no corpus re-encode — the
    signature-store pattern applied to similarity search), then answer
    top-k from the codes table with exact re-rank. recall@10 >= 0.9 and
    index==fresh-encode equivalence are pinned in
    tests/test_ann_index.py."""
    from spark_iceberg_schema_evolution_spark.operators.ann_index import (
        ann_index_topk,
        build_ann_index,
        sync_ann_index,
    )

    cat = _tmp_catalog(spark)
    e = load(spark, sf, "embeddings")
    build_ann_index(
        cat, "db", "emb", e.where("vec_id % 2 = 0"),
        dim=64, kind="pq", m=16, ksub=32,
    )
    sync_ann_index(cat, "db", "emb", e)  # encode the odd half only
    qdf = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann_index_topk(
        cat, "db", "emb", qdf, e, k=10, refine=8
    ).select(
        "query_id", "rank", "vec_id", F.round("score", 6).alias("score_r")
    ).orderBy("query_id", "rank")


@q("t2_multimodal_features", oracle=None, tier=2)
def t2_mm_features(spark: SparkSession, sf: str) -> DataFrame:
    from spark_iceberg_schema_evolution_spark.operators.multimodal import (
        documents_as_media,
        fake_features,
    )

    d = load(spark, sf, "documents").where(F.col("doc_id") < 100)
    feats = fake_features(documents_as_media(d))
    # Serialize the array column: the driver's pandas canonicalizer hashes
    # every output value, and Python lists are unhashable.
    return feats.withColumn(
        "histogram16",
        F.to_json(F.transform(F.col("histogram16"), lambda x: F.round(x, 6))),
    ).orderBy("media_id")


@q("t2_approx_distinct", oracle=None, tier=2)
def t2_approx(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
    )


# ---------------------------------------------------------------------------
# Lakehouse lifecycle (tables.py) surfaced as oracle-checked queries
# ---------------------------------------------------------------------------


def _tmp_dir(prefix: str) -> str:
    """A fresh temp dir for one query's files, removed at interpreter
    exit: the query returns a lazy frame that reads it until then."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, True)
    return d


def _tmp_catalog(spark: SparkSession):
    from spark_iceberg_schema_evolution_spark.tables import LakehouseCatalog

    return LakehouseCatalog(spark, _tmp_dir("lakehouse-q-"))


@q(
    "q45_evolving_ingest",
    oracle="""
    SELECT (SELECT COUNT(*) FROM customer) AS n_rows,
           (SELECT COUNT(*) FROM customer
             WHERE c_custkey < 500 OR c_custkey >= 1000) AS n_name,
           (SELECT COUNT(*) FROM customer
             WHERE c_custkey >= 500 AND c_custkey < 1000) AS n_acctbal,
           (SELECT COUNT(*) FROM customer WHERE c_custkey >= 1000) AS n_seg,
           'c_custkey,c_name,c_acctbal,c_mktsegment' AS schema_cols
    """,
)
def q45(spark: SparkSession, sf: str) -> DataFrame:
    """Schema-evolving ingest through the lakehouse: three ragged batches
    (name-only, acctbal-only, seg+name) append into one table; the final
    schema is the extras-last union and old rows are NULL-padded — the
    reference's R4/R5/R13/R15 flow, distributed."""
    cat = _tmp_catalog(spark)
    c = load(spark, sf, "customer")
    b1 = c.where("c_custkey < 500").select("c_custkey", "c_name")
    b2 = c.where("c_custkey >= 500 AND c_custkey < 1000").select(
        "c_custkey", "c_acctbal"
    )
    b3 = c.where("c_custkey >= 1000").select(
        "c_custkey", "c_mktsegment", "c_name"
    )
    for b in (b1, b2, b3):
        cat.write_evolving(b, "db", "cust")
    t = cat.table("db", "cust").read()
    return t.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("c_name").alias("n_name"),
        F.count("c_acctbal").alias("n_acctbal"),
        F.count("c_mktsegment").alias("n_seg"),
        F.lit(",".join(t.columns)).alias("schema_cols"),
    )


@q(
    "q46_merge_upsert",
    oracle="""
    WITH merged AS (
      SELECT c_custkey,
             CASE WHEN c_custkey >= 500 THEN c_acctbal + 1000
                  ELSE c_acctbal END AS bal
      FROM customer)
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(ROUND(bal * 100) AS BIGINT)) AS DOUBLE) / 100
             AS total_bal
    FROM merged
    """,
)
def q46(spark: SparkSession, sf: str) -> DataFrame:
    """MERGE INTO (upsert): target = custkey<1000, source = custkey>=500
    with +1000 balances -> updates 500-999, inserts the rest. Post-state
    checked against the equivalent CASE expression over the base table."""
    cat = _tmp_catalog(spark)
    c = load(spark, sf, "customer")
    target = c.where("c_custkey < 1000").select("c_custkey", "c_acctbal")
    cat.write_evolving(target, "db", "m")
    t = cat.table("db", "m")
    source = c.where("c_custkey >= 500").select(
        "c_custkey", (F.col("c_acctbal") + 1000).alias("c_acctbal")
    )
    t.merge_into(source, on=["c_custkey"])
    out = t.read()
    return out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum(F.col("c_acctbal")).alias("total_bal"),
    )


@q(
    "q47_time_travel",
    oracle="""
    SELECT (SELECT COUNT(*) FROM customer) AS v1_rows,
           2 * (SELECT COUNT(*) FROM customer) AS v2_rows
    """,
)
def q47(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot isolation: append twice, read VERSION AS OF v1 and v2."""
    cat = _tmp_catalog(spark)
    c = load(spark, sf, "customer")
    cat.write_evolving(c, "db", "tt")
    cat.write_evolving(c, "db", "tt")
    t = cat.table("db", "tt")
    v1 = t.read(version=1).agg(F.count(F.lit(1)).alias("v1_rows"))
    v2 = t.read(version=2).agg(F.count(F.lit(1)).alias("v2_rows"))
    return v1.crossJoin(v2)


@q(
    "q48_overwrite_partitions",
    oracle="""
    WITH t AS (
      SELECT o_orderkey,
             STRFTIME(DATE_TRUNC('month', CAST(o_orderdate AS DATE)), '%Y-%m')
               AS m,
             CASE WHEN STRFTIME(DATE_TRUNC('month', CAST(o_orderdate AS DATE)),
                                '%Y-%m') = '1996-03'
                  THEN o_totalprice * 2 ELSE o_totalprice END AS price
      FROM orders
      WHERE EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) = 1996)
    SELECT m AS month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(price * 100) AS BIGINT)) AS DOUBLE) / 100
             AS total_price
    FROM t GROUP BY m ORDER BY m
    """,
)
def q48(spark: SparkSession, sf: str) -> DataFrame:
    """Dynamic partition overwrite on the hidden months() transform
    (reference R18/R19): double the prices of 1996-03 and overwrite just
    that month; all other months' files are untouched."""
    cat = _tmp_catalog(spark)
    o = load(spark, sf, "orders").where(
        F.year(F.col("o_orderdate").cast("date")) == 1996
    )
    cat.write_evolving(o, "db", "ord", partition_month_of="o_orderdate")
    t = cat.table("db", "ord")
    march = o.where(
        F.date_format("o_orderdate", "yyyy-MM") == "1996-03"
    ).withColumn("o_totalprice", F.col("o_totalprice") * 2)
    t.overwrite_partitions(march)
    return (
        t.read()
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("total_price"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# Structured Streaming (driven to completion over the events file; each
# checked against a batch-SQL oracle where the semantics are deterministic)
# ---------------------------------------------------------------------------


@q(
    "q49_stream_tumbling",
    oracle="""
    SELECT STRFTIME(DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100
             AS total_value
    FROM events
    GROUP BY 1, 2 ORDER BY window_start, event_type
    """,
)
def q49(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming tumbling-window aggregation, executed incrementally
    (maxFilesPerTrigger) into a memory sink; result must equal the batch
    date_trunc aggregation — the streaming/batch unification check."""
    from spark_iceberg_schema_evolution_spark.streaming import windows as SW

    ev = SW.read_events_stream(spark, sf)
    out = SW.run_to_memory(
        SW.tumbling_counts(ev), "q49_sink", output_mode="complete"
    )
    return out.orderBy("window_start", "event_type")


@q(
    "q50_stream_sliding",
    oracle="""
    WITH e AS (SELECT epoch(CAST(ts AS TIMESTAMP)) AS s FROM events),
    expanded AS (
      SELECT (CAST(FLOOR(s / 900) AS BIGINT) - k) * 900 AS start_s
      FROM e CROSS JOIN (SELECT UNNEST(generate_series(0, 3)) AS k)
      WHERE (CAST(FLOOR(s / 900) AS BIGINT) - k) * 900 + 3600 > s)
    SELECT start_s, start_s + 3600 AS end_s, COUNT(*) AS n_events
    FROM expanded GROUP BY start_s ORDER BY start_s
    """,
)
def q50(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming sliding windows (1h size, 15min slide): every event lands
    in 4 windows; the oracle expands each event into its covering windows
    explicitly."""
    from spark_iceberg_schema_evolution_spark.streaming import windows as SW

    ev = SW.read_events_stream(spark, sf)
    out = SW.run_to_memory(
        SW.sliding_counts(ev), "q50_sink", output_mode="complete"
    )
    return out.orderBy("start_s")


@q(
    "q51_stream_session",
    oracle="""
    WITH t AS (
      SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events),
    flagged AS (
      SELECT user_id, us,
             CASE WHEN us - LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
                       >= 1800000000
                  OR LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM t),
    sessions AS (
      SELECT user_id, us,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY us
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged)
    SELECT user_id, MIN(us) AS start_us, COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, sid
    ORDER BY user_id, start_us
    """,
)
def q51(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming session windows (30-min gap) vs the gaps-and-islands
    oracle. Spark merges events while the gap is strictly < 30min, so the
    oracle starts a new session at gap >= 30min."""
    from spark_iceberg_schema_evolution_spark.streaming import windows as SW

    ev = SW.read_events_stream(spark, sf)
    out = SW.run_to_memory(
        SW.session_counts(ev), "q51_sink", output_mode="complete"
    )
    return out.select("user_id", "start_us", "n_events").orderBy(
        "user_id", "start_us"
    )


@q(
    "q52_stream_to_lakehouse",
    oracle="""
    SELECT COUNT(*) AS n_rows, COUNT(DISTINCT event_id) AS n_ids,
           MIN(epoch_us(ts)) AS min_ts_us, MAX(epoch_us(ts)) AS max_ts_us,
           COUNT(DISTINCT date_trunc('hour', ts)) AS n_hours
    FROM events
    """,
)
def q52(spark: SparkSession, sf: str) -> DataFrame:
    """Stream -> lakehouse sink via foreachBatch: every micro-batch commits
    a snapshot; the landed table must contain exactly the input.

    The oracle pins ts-derived values (min/max epoch-us, distinct hour
    buckets), not just counts: VERDICT r3 — a 1000x timestamp corruption
    sailed through the count-only oracle unnoticed."""
    from spark_iceberg_schema_evolution_spark.streaming import windows as SW

    cat = _tmp_catalog(spark)
    ev = SW.read_events_stream(spark, sf)
    SW.stream_to_lakehouse(
        ev,
        cat,
        "db",
        "events_landed",
        checkpoint_dir=_tmp_dir("ckpt-"),
    )
    t = cat.table("db", "events_landed").read()
    return t.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("event_id").alias("n_ids"),
        F.min(F.unix_micros("ts")).alias("min_ts_us"),
        F.max(F.unix_micros("ts")).alias("max_ts_us"),
        F.countDistinct(F.date_trunc("hour", "ts")).alias("n_hours"),
    )


@q(
    "q66_stream_stateful",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100
             AS total_value
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def q66(spark: SparkSession, sf: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): the
    running per-user accumulator's final state must equal the batch
    aggregate. Exact cents state -> deterministic across batch slicing."""
    from spark_iceberg_schema_evolution_spark.streaming import windows as SW
    from spark_iceberg_schema_evolution_spark.streaming.stateful import running_user_totals

    ev = SW.read_events_stream(spark, sf)
    out = SW.run_to_memory(
        running_user_totals(ev), "q66_sink", output_mode="update"
    )
    # update-mode sink keeps one row per user per batch; the final state
    # is the row with the max n_events per user
    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("user_id", "n_events", "total_value")
        .orderBy("user_id")
    )


@q("t2_stream_dedup", oracle=None, tier=2)
def t2_stream_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """dropDuplicatesWithinWatermark over a stream with injected duplicate
    events (exact dup rows appended) — duplicates inside the watermark
    horizon are dropped. Tier-2: the horizon cutoff depends on batch
    boundaries; the invariant (output <= input, >= distinct) is asserted in
    tests/test_streaming.py."""
    from spark_iceberg_schema_evolution_spark.streaming import windows as SW

    ev = SW.read_events_stream(spark, sf, max_files_per_trigger=2)
    deduped = SW.dedup_within_watermark(ev, ["event_id"], delay="10 minutes")
    out = SW.run_to_memory(deduped, "t2_dedup_sink", output_mode="append")
    return out.agg(
        F.count(F.lit(1)).alias("n_after"),
        F.countDistinct("event_id").alias("n_distinct"),
    )


# ---------------------------------------------------------------------------
# Remaining §2.B surface: pivot / cube / intersect / date arithmetic / UDTF
# ---------------------------------------------------------------------------


@q(
    "q53_pivot",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'F'
                THEN CAST(ROUND(l_quantity * 100) AS BIGINT) END) AS DOUBLE) / 100
             AS qty_f,
           CAST(SUM(CASE WHEN l_linestatus = 'O'
                THEN CAST(ROUND(l_quantity * 100) AS BIGINT) END) AS DOUBLE) / 100
             AS qty_o
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q53(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg((F.sum(cents(F.col("l_quantity"))).cast("double") / 100))
        .select(
            "l_returnflag",
            F.col("F").alias("qty_f"),
            F.col("O").alias("qty_o"),
        )
        .orderBy("l_returnflag")
    )


@q(
    "q54_cube",
    oracle="""
    SELECT COALESCE(o_orderstatus, '(all)') AS status,
           COALESCE(o_orderpriority, '(all)') AS priority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_s,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_p,
           COUNT(*) AS n
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    ORDER BY status, priority, g_s, g_p
    """,
)
def q54(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.grouping("o_orderstatus").cast("int").alias("g_s"),
            F.grouping("o_orderpriority").cast("int").alias("g_p"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
            "g_s",
            "g_p",
            "n",
        )
        .orderBy("status", "priority", "g_s", "g_p")
    )


@q(
    "q55_intersect",
    oracle="""
    SELECT o_custkey FROM orders
    WHERE EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) = 1996
    INTERSECT
    SELECT o_custkey FROM orders
    WHERE EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) = 1997
    ORDER BY o_custkey
    """,
)
def q55(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders")
    y = F.year(F.col("o_orderdate").cast("date"))
    a = o.where(y == 1996).select("o_custkey")
    b = o.where(y == 1997).select("o_custkey")
    return a.intersect(b).orderBy("o_custkey")


@q(
    "q56_date_arith",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
           CAST(CAST(o_orderdate AS DATE) + 90 AS VARCHAR) AS due_date,
           datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
             AS days_since_epoch_start,
           epoch(CAST(o_orderdate AS TIMESTAMP)) AS unix_s,
           EXTRACT(QUARTER FROM CAST(o_orderdate AS DATE)) AS qtr,
           EXTRACT(DOW FROM CAST(o_orderdate AS DATE)) AS dow
    FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey
    """,
)
def q56(spark: SparkSession, sf: str) -> DataFrame:
    """Date arithmetic family. DOW pinned to duckdb's numbering (Sunday=0;
    Spark dayofweek is Sunday=1, so subtract 1)."""
    o = load(spark, sf, "orders").where(F.col("o_orderkey") < 500)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        d.cast("string").alias("order_date"),
        F.date_add(d, 90).cast("string").alias("due_date"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).cast("long").alias(
            "days_since_epoch_start"
        ),
        F.unix_timestamp(F.col("o_orderdate")).cast("double").alias("unix_s"),
        F.quarter(d).cast("long").alias("qtr"),
        (F.dayofweek(d) - 1).cast("long").alias("dow"),
    ).orderBy("o_orderkey")


@q(
    "q57_udtf_tokens",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS words
               FROM documents WHERE doc_id < 20)
    SELECT * FROM (
      SELECT doc_id,
             UNNEST([{{'pos': i - 1, 'token': words[i]}}
                     for i in generate_series(1, len(words))],
                    recursive := true)
      FROM w)
    ORDER BY doc_id, pos
    """,
)
def q57(spark: SparkSession, sf: str) -> DataFrame:
    """Python UDTF (Spark 3.5+/4 table function): tokenize into
    (pos, token) rows — the table-function tier of SURVEY §2.B."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: int, token: string")
    class Tokenize:
        def eval(self, text: str):  # noqa: A002
            if text is None:
                return
            for i, tok in enumerate(text.strip().lower().split()):
                yield (i, tok)

    spark.udtf.register("tokenize", Tokenize)
    load(spark, sf, "documents").createOrReplaceTempView("__docs")
    return spark.sql(
        """
        SELECT doc_id, t.pos AS pos, t.token AS token
        FROM __docs, LATERAL tokenize(text) t
        WHERE doc_id < 20
        ORDER BY doc_id, pos
        """
    )


@q(
    "q58_array_hofs",
    oracle="""
    WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id < 100)
    SELECT vec_id,
           len(e) AS n,
           len(list_filter(e, x -> x > 0)) AS n_pos,
           ROUND(list_reduce(list_prepend(0.0,
                 list_transform(e[1:8], x -> x * 2)), (a, b) -> a + b), 6)
             AS doubled_head_sum,
           ROUND(e[1] + e[64], 6) AS ends_sum,
           len(flatten([e[1:4], e[61:64]])) AS flat_len
    FROM t ORDER BY vec_id
    """,
)
def q58(spark: SparkSession, sf: str) -> DataFrame:
    """Array higher-order-function family: transform/filter/slice/flatten/
    element_at — all whole-stage-codegen JVM loops."""
    e = load(spark, sf, "embeddings").where(F.col("vec_id") < 100)
    v = F.transform("embedding", lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.size(v).alias("n"),
        F.size(F.filter(v, lambda x: x > 0)).alias("n_pos"),
        F.round(
            F.aggregate(
                F.transform(F.slice(v, 1, 8), lambda x: x * 2),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("doubled_head_sum"),
        F.round(F.element_at(v, 1) + F.element_at(v, 64), 6).alias("ends_sum"),
        F.size(F.flatten(F.array(F.slice(v, 1, 4), F.slice(v, 61, 4)))).alias(
            "flat_len"
        ),
    ).orderBy("vec_id")


@q(
    "q59_evolution_type_conflict",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100
             AS total_bal,
           'double' AS bal_type
    FROM customer
    """,
)
def q59(spark: SparkSession, sf: str) -> DataFrame:
    """Evolution under a type conflict: batch 2 delivers c_acctbal as
    STRING; the live table schema says double, so catalog-wins coercion
    (reference job.py:108-119 / spark_utils.py:195-210) casts it back on
    append. The landed table must be numerically identical to the source."""
    cat = _tmp_catalog(spark)
    c = load(spark, sf, "customer")
    b1 = c.where("c_custkey < 500").select("c_custkey", "c_acctbal")
    b2 = c.where("c_custkey >= 500").select(
        "c_custkey", F.col("c_acctbal").cast("string").alias("c_acctbal")
    )
    cat.write_evolving(b1, "db", "tc")
    cat.write_evolving(b2, "db", "tc")
    t = cat.table("db", "tc").read()
    return t.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum(F.col("c_acctbal")).alias("total_bal"),
        F.lit(dict(t.dtypes)["c_acctbal"]).alias("bal_type"),
    )


@q(
    "q60_grouping_sets",
    oracle="""
    SELECT COALESCE(l_returnflag, '(all)') AS rf,
           COALESCE(l_linestatus, '(all)') AS ls,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100
             AS qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    ORDER BY rf, ls
    """,
)
def q60(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit GROUPING SETS through the SQL entry point (the engine's
    primary declared interface, SURVEY §3.3)."""
    load(spark, sf, "lineitem").createOrReplaceTempView("__li_gs")
    return spark.sql(
        """
        SELECT COALESCE(l_returnflag, '(all)') AS rf,
               COALESCE(l_linestatus, '(all)') AS ls,
               COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100
                 AS qty
        FROM __li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY rf, ls
        """
    )


@q(
    "q61_ranking_family",
    oracle="""
    SELECT o_custkey, o_orderkey,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           NTILE(4) OVER w AS quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS prank,
           FIRST_VALUE(o_orderkey) OVER w AS first_ok,
           LEAD(o_orderkey) OVER w AS next_ok
    FROM orders WHERE o_custkey < 50
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    ORDER BY o_custkey, rnk, o_orderkey
    """,
)
def q61(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders").where(F.col("o_custkey") < 50)
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
        F.first("o_orderkey").over(w).alias("first_ok"),
        F.lead("o_orderkey").over(w).alias("next_ok"),
    ).orderBy("o_custkey", "rnk", "o_orderkey")


@q(
    "q62_range_frame",
    oracle="""
    WITH t AS (
      SELECT o_custkey, o_orderkey,
             datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS d,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c
      FROM orders WHERE o_custkey < 100)
    SELECT o_custkey, o_orderkey,
           CAST(SUM(price_c) OVER (
             PARTITION BY o_custkey ORDER BY d
             RANGE BETWEEN 90 PRECEDING AND CURRENT ROW) AS DOUBLE) / 100
             AS trailing_90d_spend
    FROM t ORDER BY o_custkey, o_orderkey
    """,
)
def q62(spark: SparkSession, sf: str) -> DataFrame:
    """RANGE frame (value-based window): trailing-90-day spend per
    customer. Exact integer sums; the range key is days-since-epoch so
    both engines frame identically."""
    o = load(spark, sf, "orders").where(F.col("o_custkey") < 100)
    t = o.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
        ).alias("d"),
        cents(F.col("o_totalprice")).alias("price_c"),
    )
    w = W.partitionBy("o_custkey").orderBy("d").rangeBetween(-90, 0)
    return t.select(
        "o_custkey",
        "o_orderkey",
        (F.sum("price_c").over(w).cast("double") / 100).alias(
            "trailing_90d_spend"
        ),
    ).orderBy("o_custkey", "o_orderkey")


@q(
    "q63_subqueries",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice >
                        (SELECT AVG(o_totalprice) * 1.5 FROM orders))
      AND c_custkey NOT IN (SELECT o_custkey FROM orders
                            WHERE o_orderstatus = 'F' AND o_custkey < 100)
    ORDER BY c_custkey
    """,
)
def q63(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated EXISTS + scalar subquery + NOT IN, through spark.sql —
    Catalyst decorrelates these into semi/anti joins (SURVEY §4.2)."""
    register_views(spark, sf, "customer", "orders")
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice >
                            (SELECT AVG(o_totalprice) * 1.5 FROM orders))
          AND c_custkey NOT IN (SELECT o_custkey FROM orders
                                WHERE o_orderstatus = 'F' AND o_custkey < 100)
        ORDER BY c_custkey
        """
    )


@q(
    "q64_grouped_agg_udf",
    oracle="""
    SELECT lang,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS mean_chars,
           COUNT(*) AS n_docs
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def q64(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped-aggregate Pandas UDF (Arrow series -> scalar per group) —
    numerically identical to the SQL mean because int sums are exact in
    float64 below 2^53."""
    from pyspark.sql.types import DoubleType, LongType

    @F.pandas_udf(DoubleType())
    def mean_udaf(v: pd.Series) -> float:
        return float(v.sum()) / len(v)

    # grouped-agg pandas UDFs cannot mix with JVM aggregates in one agg:
    # the count is a second pandas aggregate.
    @F.pandas_udf(LongType())
    def count_udaf(v: pd.Series) -> int:
        return len(v)

    d = load(spark, sf, "documents")
    return (
        d.groupBy("lang")
        .agg(
            mean_udaf(F.col("n_chars")).alias("mean_chars"),
            count_udaf(F.col("n_chars")).alias("n_docs"),
        )
        .orderBy("lang")
    )


@q(
    "q65_str_to_map",
    oracle="""
    SELECT c_custkey,
           c_mktsegment AS seg_from_map,
           CAST(c_custkey AS BIGINT) AS key_from_map
    FROM customer WHERE c_custkey < 200 ORDER BY c_custkey
    """,
)
def q65(spark: SparkSession, sf: str) -> DataFrame:
    """str_to_map + element_at: encode fields into a 'k:v,k:v' string,
    parse back, extract — the map-construction scalar family."""
    c = load(spark, sf, "customer").where(F.col("c_custkey") < 200)
    packed = F.concat(
        F.lit("seg:"), F.col("c_mktsegment"), F.lit(",key:"), F.col("c_custkey")
    )
    m = F.str_to_map(packed, F.lit(","), F.lit(":"))
    return c.select(
        "c_custkey",
        F.element_at(m, "seg").alias("seg_from_map"),
        F.element_at(m, "key").cast("bigint").alias("key_from_map"),
    ).orderBy("c_custkey")


@q(
    "q67_null_safe_join",
    oracle="""
    WITH a AS (SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg
               FROM customer WHERE c_custkey < 300),
         b AS (SELECT NULLIF(c_mktsegment, 'BUILDING') AS seg,
                      COUNT(*) AS seg_total
               FROM customer GROUP BY 1)
    SELECT a.c_custkey, COALESCE(a.seg, '(null)') AS seg_shown, b.seg_total
    FROM a JOIN b ON a.seg IS NOT DISTINCT FROM b.seg
    ORDER BY a.c_custkey
    """,
)
def q67(spark: SparkSession, sf: str) -> DataFrame:
    """Null-safe equality join (<=>): NULL keys match NULL keys — the
    semantics plain equi-joins silently drop."""
    c = load(spark, sf, "customer")
    seg = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg")
    a = c.where(F.col("c_custkey") < 300).select("c_custkey", seg)
    b = c.select(seg).groupBy("seg").agg(F.count(F.lit(1)).alias("seg_total"))
    return (
        a.join(b, a["seg"].eqNullSafe(b["seg"]))
        .select(
            "c_custkey",
            F.coalesce(a["seg"], F.lit("(null)")).alias("seg_shown"),
            "seg_total",
        )
        .orderBy("c_custkey")
    )


@q("t2_json_write", oracle=None, tier=2)
def t2_json_write(spark: SparkSession, sf: str) -> DataFrame:
    """to_json / schema_of_json round trip (JSON output formatting is
    engine-specific -> rows-only): struct -> json string -> re-parsed
    values must equal the originals (asserted as a filter)."""
    ev = load(spark, sf, "events").limit(500)
    j = F.to_json(F.struct("event_id", "event_type"))
    back = F.from_json(j, "struct<event_id: bigint, event_type: string>")
    out = ev.select(
        "event_id",
        j.alias("as_json"),
        back["event_id"].alias("rt_id"),
        F.schema_of_json(F.lit('{"event_id": 1, "event_type": "x"}')).alias(
            "inferred_schema"
        ),
    )
    return out.where(F.col("event_id") == F.col("rt_id")).orderBy("event_id")


@q("t2_cosine_near_dups", oracle=None, tier=2)
def t2_cosine_dups(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (LSH candidates + exact verify) —
    the embedding-space dedup variant; with planted duplicates asserted in
    tests/test_llm_ops.py."""
    from spark_iceberg_schema_evolution_spark.operators.similarity import cosine_near_dups

    e = load(spark, sf, "embeddings")
    # 0.4 ~= 3.2 sigma for random 64-dim unit vectors: rare but non-empty,
    # so the candidate->verify path is exercised end-to-end.
    pairs, drops = cosine_near_dups(
        e, dim=64, threshold=0.4, return_drop_stats=True
    )
    return (
        pairs.select("id_a", "id_b", F.round("cos", 6).alias("cos_r"))
        .crossJoin(F.broadcast(drops))  # skew-guard audit columns
        .orderBy("id_a", "id_b")
    )


@q("t2_spark_hashes", oracle=None, tier=2)
def t2_hashes(spark: SparkSession, sf: str) -> DataFrame:
    """Spark-specific hash/id functions (no duckdb equivalent):
    xxhash64, murmur3 hash, monotonically_increasing_id, crc32."""
    c = load(spark, sf, "customer").where("c_custkey < 100")
    return c.select(
        "c_custkey",
        F.xxhash64("c_name").alias("xx64"),
        F.hash("c_name").alias("murmur3"),
        F.crc32(F.col("c_name").cast("binary")).alias("crc"),
        F.monotonically_increasing_id().alias("mono_id"),
    ).orderBy("c_custkey")


@q("t2_percentile_approx", oracle=None, tier=2)
def t2_pctl(spark: SparkSession, sf: str) -> DataFrame:
    """approx_percentile sanity: approximate quantiles bracketed by exact
    ones (asserted in tests; rows-only here)."""
    li = load(spark, sf, "lineitem")
    return li.agg(
        F.expr("approx_percentile(l_extendedprice, 0.5, 1000)").alias("approx_med"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact_med"),
    )


@q(
    "q74_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE sh AS (
      SELECT doc_id, UNNEST({_DUCK_SHINGLES}) AS s
      FROM documents),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT id_a, id_b FROM common
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.2),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs),
    walk AS (
      SELECT src AS id, src AS label FROM edges
      UNION
      SELECT w.id, e.dst AS label FROM walk w JOIN edges e ON w.label = e.src)
    SELECT id, MIN(label) AS cluster_id
    FROM walk GROUP BY id ORDER BY id
    """,
)
def q74(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup cluster formation: verified Jaccard pairs (>= 0.2) grouped
    into connected components; cluster_id = the component's min doc_id (the
    canonical survivor). Oracle: DuckDB recursive-CTE transitive closure —
    the min reachable node equals iterative min-label propagation."""
    from spark_iceberg_schema_evolution_spark.operators.dedup import (
        connected_components,
        jaccard_pairs,
    )

    d = load(spark, sf, "documents")
    pairs = jaccard_pairs(d).where(F.col("jaccard") >= 0.2)
    # jaccard_pairs groups by (id_a, id_b), id_a < id_b — distinct by
    # construction, so the CC edge-dedup exchange is skippable (r14)
    return connected_components(pairs, pairs_distinct=True).orderBy("id")


@q(
    "q76_group_by_all_qualify",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, n, total FROM (
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
               / 100 AS total
      FROM orders
      GROUP BY ALL)
    QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                               ORDER BY total DESC, o_orderpriority) <= 2
    ORDER BY o_orderstatus, o_orderpriority
    """,
)
def q76(spark: SparkSession, sf: str) -> DataFrame:
    """GROUP BY ALL (Spark 3.4+ infers grouping keys) + top-2-per-group;
    the oracle spells the filter with DuckDB's QUALIFY, Spark with the
    equivalent ranked subquery (QUALIFY is not Spark SQL)."""
    register_views(spark, sf, "orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, n, total FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                       ORDER BY total DESC, o_orderpriority)
                      AS rn
          FROM (
            SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        AS DOUBLE) / 100 AS total
            FROM orders
            GROUP BY ALL
          )
        ) WHERE rn <= 2
        ORDER BY o_orderstatus, o_orderpriority
        """
    )


@q(
    "q77_except_all",
    oracle="""
    SELECT c_mktsegment FROM customer WHERE c_custkey < 2000
    EXCEPT ALL
    SELECT c_mktsegment FROM customer WHERE c_custkey >= 1500
    ORDER BY c_mktsegment
    """,
)
def q77(spark: SparkSession, sf: str) -> DataFrame:
    """Multiset EXCEPT ALL (bag semantics — occurrence counts subtract,
    unlike q24's EXCEPT DISTINCT)."""
    c = load(spark, sf, "customer")
    a = c.where("c_custkey < 2000").select("c_mktsegment")
    b = c.where("c_custkey >= 1500").select("c_mktsegment")
    return a.exceptAll(b).orderBy("c_mktsegment")


@q(
    "q78_unpivot",
    oracle="""
    SELECT c_custkey, metric, CAST(value AS DOUBLE) AS value
    FROM (
      SELECT c_custkey,
             CAST(c_acctbal AS DOUBLE) AS acctbal,
             CAST(c_nationkey AS DOUBLE) AS nationkey
      FROM customer WHERE c_custkey < 200)
    UNPIVOT (value FOR metric IN (acctbal, nationkey))
    ORDER BY c_custkey, metric
    """,
)
def q78(spark: SparkSession, sf: str) -> DataFrame:
    """Wide-to-long UNPIVOT/melt (Spark 3.4 DataFrame.unpivot == DuckDB
    UNPIVOT)."""
    c = load(spark, sf, "customer").where("c_custkey < 200")
    wide = c.select(
        "c_custkey",
        F.col("c_acctbal").cast("double").alias("acctbal"),
        F.col("c_nationkey").cast("double").alias("nationkey"),
    )
    return wide.unpivot(
        "c_custkey", ["acctbal", "nationkey"], "metric", "value"
    ).orderBy("c_custkey", "metric")


@q(
    "q79_percentile_cont",
    oracle="""
    SELECT o_orderstatus,
           ROUND(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY o_totalprice), 2)
             AS p50,
           ROUND(PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY o_totalprice), 2)
             AS p90
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def q79(spark: SparkSession, sf: str) -> DataFrame:
    """Exact continuous percentiles per group (ANSI PERCENTILE_CONT;
    Spark 3.4+ aggregate). Interpolated medians on 2-decimal inputs round
    identically at 2dp in both engines."""
    register_views(spark, sf, "orders")
    return spark.sql(
        """
        SELECT o_orderstatus,
               ROUND(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY o_totalprice), 2)
                 AS p50,
               ROUND(PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY o_totalprice), 2)
                 AS p90
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
        """
    )


@q(
    "q80_string_funcs2",
    oracle="""
    SELECT c_custkey,
           split_part(c_name, '#', 2) AS name_num,
           regexp_replace(c_name, '[0-9]+', '#') AS digits_masked,
           CAST(len(regexp_extract_all(c_name, '[0-9]')) AS BIGINT)
             AS n_digit_runs,
           left(c_mktsegment, 3) AS seg3,
           right(c_mktsegment, 2) AS seg_tail,
           repeat('ab', 3) AS rep,
           reverse(c_mktsegment) AS seg_rev,
           translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_tr
    FROM customer WHERE c_custkey < 200 ORDER BY c_custkey
    """,
)
def q80(spark: SparkSession, sf: str) -> DataFrame:
    """Second string family: split_part, regexp_extract_all,
    regexp_replace, left/right, repeat, reverse, translate."""
    c = load(spark, sf, "customer").where("c_custkey < 200")
    return c.select(
        "c_custkey",
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).alias("name_num"),
        F.regexp_replace("c_name", "[0-9]+", "#").alias("digits_masked"),
        F.size(F.expr("regexp_extract_all(c_name, '[0-9]', 0)"))
        .cast("long")
        .alias("n_digit_runs"),
        F.expr("left(c_mktsegment, 3)").alias("seg3"),
        F.expr("right(c_mktsegment, 2)").alias("seg_tail"),
        F.repeat(F.lit("ab"), 3).alias("rep"),
        F.reverse(F.col("c_mktsegment")).alias("seg_rev"),
        F.translate("c_mktsegment", "AEIOU", "aeiou").alias("seg_tr"),
    ).orderBy("c_custkey")


@q(
    "q81_try_cast",
    oracle="""
    SELECT s,
           CASE WHEN regexp_matches(s, '^-?[0-9]+$')
                THEN CAST(s AS BIGINT) END AS as_int,
           TRY_CAST(s AS DOUBLE) AS as_double,
           CAST(TRY_CAST(s AS DATE) AS VARCHAR) AS as_date
    FROM (VALUES ('42'), ('3.5'), ('2024-01-31'), ('nope'), (''))
         AS t(s)
    ORDER BY s
    """,
)
def q81(spark: SparkSession, sf: str) -> DataFrame:
    """Error-safe casts: TRY_CAST returns NULL on malformed input (the
    ingest-hardening idiom for dirty CSV columns). Spark's string->bigint
    try_cast is strict ('3.5' -> NULL) where DuckDB's rounds ('3.5' -> 4),
    so the oracle spells Spark's strictness with a regexp guard."""
    rows = [("42",), ("3.5",), ("2024-01-31",), ("nope",), ("",)]
    df = spark.createDataFrame(rows, ["s"])
    return df.select(
        "s",
        F.col("s").try_cast("bigint").alias("as_int"),
        F.col("s").try_cast("double").alias("as_double"),
        F.col("s").try_cast("date").cast("string").alias("as_date"),
    ).orderBy("s")


@q(
    "q82_ignore_nulls_stringagg",
    oracle="""
    WITH t AS (
      SELECT o_custkey, o_orderkey,
             CASE WHEN o_orderstatus = 'O' THEN NULL
                  ELSE o_orderstatus END AS st
      FROM orders WHERE o_custkey < 100)
    SELECT o_custkey,
           STRING_AGG(st, ',' ORDER BY o_orderkey) AS st_concat,
           CAST(COUNT(st) AS BIGINT) AS n_nonnull
    FROM t GROUP BY o_custkey ORDER BY o_custkey
    """,
)
def q82(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered STRING_AGG over a nullable column (NULLs skipped, order
    pinned by orderkey) — Spark spells it sort_array(collect_list(struct))
    + array_join, the shuffle-order-independent formulation."""
    o = load(spark, sf, "orders").where("o_custkey < 100")
    t = o.select(
        "o_custkey",
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "O", None)
        .otherwise(F.col("o_orderstatus"))
        .alias("st"),
    )
    pairs = F.when(
        F.col("st").isNotNull(), F.struct("o_orderkey", "st")
    )
    return (
        t.groupBy("o_custkey")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(pairs)), lambda s: s["st"]
                ),
                ",",
            ).alias("st_concat"),
            F.count("st").alias("n_nonnull"),
        )
        .orderBy("o_custkey")
    )


@q(
    "q83_bit_bool_aggs",
    oracle="""
    SELECT o_orderstatus,
           CAST(BIT_AND(o_orderkey) AS BIGINT) AS key_and,
           CAST(BIT_OR(o_orderkey) AS BIGINT) AS key_or,
           CAST(BIT_XOR(o_orderkey) AS BIGINT) AS key_xor,
           CAST(BOOL_AND(o_totalprice > 1000) AS INT) AS all_big,
           CAST(BOOL_OR(o_totalprice > 300000) AS INT) AS any_huge
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def q83(spark: SparkSession, sf: str) -> DataFrame:
    """Bitwise and boolean aggregates (order-independent by algebra —
    safe across shuffles in any engine)."""
    o = load(spark, sf, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.bit_and("o_orderkey").alias("key_and"),
            F.bit_or("o_orderkey").alias("key_or"),
            F.bit_xor("o_orderkey").alias("key_xor"),
            F.every(F.col("o_totalprice") > 1000).cast("int").alias("all_big"),
            F.some(F.col("o_totalprice") > 300000).cast("int").alias("any_huge"),
        )
        .orderBy("o_orderstatus")
    )


@q(
    "q84_asof_tolerance",
    oracle="""
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
         v AS (SELECT * FROM events WHERE event_type = 'view'),
         j AS (
           SELECT p.event_id, v.event_id AS view_event_id,
                  ROW_NUMBER() OVER (
                    PARTITION BY p.event_id
                    ORDER BY v.ts DESC, v.event_id DESC) AS rn
           FROM p JOIN v ON p.user_id = v.user_id
            AND v.ts <= p.ts
            AND epoch_us(CAST(v.ts AS TIMESTAMP))
                >= epoch_us(CAST(p.ts AS TIMESTAMP)) - 1800000000)
    SELECT event_id, view_event_id
    FROM j WHERE rn = 1 ORDER BY event_id
    """,
)
def q84(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join with a 30-minute tolerance: matches older than the
    horizon drop (inner semantics). Same single-shuffle union+window plan
    as q11; the tolerance is a post-window filter, not a join blowup."""
    from spark_iceberg_schema_evolution_spark.operators.relational import asof_join

    ev = load_events(spark, sf)
    p = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    v = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_event_id")
    )
    out = asof_join(
        p,
        v,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=["view_event_id"],
        how="inner",
        tolerance=F.expr("INTERVAL 30 MINUTES"),
    )
    return out.select("event_id", "view_event_id").orderBy("event_id")


@q(
    "q85_salted_join_equivalence",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
             / 100 AS total
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def q85(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-busting salted join must be RESULT-identical to the plain
    equi-join (the oracle is the plain join) — proving the salt+replicate
    rewrite changes the plan, never the answer."""
    from spark_iceberg_schema_evolution_spark.operators.relational import salted_join

    li = load(spark, sf, "lineitem").select("l_orderkey", "l_extendedprice")
    o = load(spark, sf, "orders").select("o_orderkey", "o_orderstatus")
    joined = salted_join(
        li, o.withColumnRenamed("o_orderkey", "l_orderkey"),
        on=["l_orderkey"], salt=8,
    )
    return (
        joined.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("l_extendedprice")).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


@q(
    "q87_rename_drop_evolution",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(balance) AS n_balance,
           CAST(COUNT(CASE WHEN segment IS NOT NULL THEN 1 END) AS BIGINT)
             AS n_segment,
           'c_custkey,balance,segment' AS schema_cols
    FROM (
      SELECT c_custkey, c_acctbal AS balance,
             CASE WHEN c_custkey >= 1000 THEN c_mktsegment END AS segment
      FROM customer)
    """,
)
def q87(spark: SparkSession, sf: str) -> DataFrame:
    """Full schema-evolution lifecycle: append -> RENAME COLUMN
    (metadata-only; historic files replay the mapping) -> DROP COLUMN ->
    re-ADD the dropped name (historic values must NOT resurface) ->
    append under the new schema. Oracle recomputes the surviving state."""
    cat = _tmp_catalog(spark)
    c = load(spark, sf, "customer")
    cat.write_evolving(
        c.where("c_custkey < 1000").select(
            "c_custkey", "c_acctbal", "c_mktsegment"
        ),
        "db",
        "evo",
    )
    t = cat.table("db", "evo")
    t.rename_column("c_acctbal", "balance")
    t.drop_column("c_mktsegment")
    t.append(
        c.where("c_custkey >= 1000").select(
            "c_custkey",
            F.col("c_acctbal").alias("balance"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    out = t.read()
    return out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("balance").alias("n_balance"),
        F.count("segment").alias("n_segment"),
        F.lit(",".join(out.columns)).alias("schema_cols"),
    )


_Q88_JSONL_PATH = _fixtures_dir() + "/q88_events.jsonl"


def _ensure_q88_fixture(path: str = _Q88_JSONL_PATH) -> str:
    import json as _json
    import os

    os.makedirs(os.path.dirname(path), exist_ok=True)
    lines = []
    for i in range(300):
        lines.append(
            _json.dumps(
                {
                    "rec_id": i,
                    "kind": ["click", "view", "buy"][i % 3],
                    "amount": (i * 31 % 500) + (i % 100) / 100,
                    "tags": f"t{i % 5},t{i % 7}",
                },
                sort_keys=True,
            )
        )
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.replace(tmp, path)
    return path


@q(
    "q88_jsonl_scan",
    oracle=f"""
    SELECT kind, COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(amount * 100) AS BIGINT)) AS DOUBLE) / 100
             AS total_amount,
           CAST(MIN(rec_id) AS BIGINT) AS first_rec
    FROM read_json('{_Q88_JSONL_PATH}',
                   columns = {{'rec_id': 'BIGINT', 'kind': 'VARCHAR',
                              'amount': 'DOUBLE', 'tags': 'VARCHAR'}},
                   format = 'newline_delimited')
    GROUP BY kind ORDER BY kind
    """,
)
def q88(spark: SparkSession, sf: str) -> DataFrame:
    """JSON-lines FILE source with an explicit schema (the third scan
    format beside parquet and CSV), aggregated identically in both
    engines."""
    path = _ensure_q88_fixture()
    df = spark.read.json(
        path,
        schema="rec_id BIGINT, kind STRING, amount DOUBLE, tags STRING",
    )
    return (
        df.groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(cents(F.col("amount"))).cast("double") / 100).alias(
                "total_amount"
            ),
            F.min("rec_id").alias("first_rec"),
        )
        .orderBy("kind")
    )


@q(
    "q89_merge_clauses",
    oracle="""
    WITH tgt AS (
      SELECT c_custkey AS id,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_c,
             c_mktsegment AS seg
      FROM customer WHERE c_custkey < 2000),
    src AS (
      SELECT c_custkey AS id,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) + 500 AS bal_c,
             c_mktsegment AS seg,
             CASE WHEN c_custkey % 7 = 0 THEN 'D' ELSE 'U' END AS op
      FROM customer WHERE c_custkey >= 1000 AND c_custkey < 3000),
    merged AS (
      SELECT t.id, t.bal_c, t.seg FROM tgt t
      WHERE t.id NOT IN (SELECT id FROM src)
      UNION ALL
      SELECT t.id, s.bal_c, t.seg FROM tgt t JOIN src s ON t.id = s.id
      WHERE s.op = 'U'
      UNION ALL
      SELECT s.id, s.bal_c, s.seg FROM src s
      WHERE s.id NOT IN (SELECT id FROM tgt))
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(bal_c) AS BIGINT) AS total_bal_c,
           CAST(COUNT(DISTINCT id) AS BIGINT) AS n_ids,
           MIN(seg) AS min_seg
    FROM merged
    """,
)
def q89(spark: SparkSession, sf: str) -> DataFrame:
    """Iceberg-parity MERGE clause variants in one statement: WHEN MATCHED
    AND op='D' THEN DELETE, WHEN MATCHED AND op='U' THEN UPDATE SET
    bal_c = s.bal_c (partial SET — seg keeps the target value), WHEN NOT
    MATCHED THEN INSERT. The oracle recomputes the three arms as
    anti-join / conditional-join / anti-join SQL."""
    cat = _tmp_catalog(spark)
    c = load(spark, sf, "customer")
    tgt = c.where("c_custkey < 2000").select(
        F.col("c_custkey").alias("id"),
        cents(F.col("c_acctbal")).alias("bal_c"),
        F.col("c_mktsegment").alias("seg"),
    )
    src = c.where("c_custkey >= 1000 AND c_custkey < 3000").select(
        F.col("c_custkey").alias("id"),
        (cents(F.col("c_acctbal")) + 500).alias("bal_c"),
        F.col("c_mktsegment").alias("seg"),
        F.when(F.col("c_custkey") % 7 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    cat.write_evolving(tgt, "db", "mrg")
    t = cat.table("db", "mrg")
    t.merge_into(
        src,
        on=["id"],
        matched_update={"bal_c": "s.bal_c"},
        matched_condition="s.op = 'U'",
        matched_delete_where="s.op = 'D'",
    )
    return t.read().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("bal_c").alias("total_bal_c"),
        F.countDistinct("id").alias("n_ids"),
        F.min("seg").alias("min_seg"),
    )


@q(
    "q90_type_widening",
    oracle="""
    SELECT CAST(SUM(v) AS BIGINT) AS total,
           CAST(MAX(v) AS BIGINT) AS max_v,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM (
      SELECT CAST(o_orderkey % 1000 AS BIGINT) AS v
      FROM orders WHERE o_orderkey < 3000
      UNION ALL
      SELECT CAST(o_orderkey AS BIGINT) * 1099511627776 AS v
      FROM orders WHERE o_orderkey >= 3000 AND o_orderkey < 3100)
    """,
)
def q90(spark: SparkSession, sf: str) -> DataFrame:
    """ALTER COLUMN TYPE widening lifecycle: write an INT batch -> widen
    the column to BIGINT (metadata-only, no rewrite) -> append a batch
    whose values only BIGINT can hold (orderkey * 2^40) -> aggregate
    across both epochs. The oracle recomputes both batches in SQL."""
    cat = _tmp_catalog(spark)
    o = load(spark, sf, "orders")
    cat.write_evolving(
        o.where("o_orderkey < 3000").select(
            (F.col("o_orderkey") % 1000).cast("int").alias("v")
        ),
        "db",
        "wide",
    )
    t = cat.table("db", "wide")
    t.widen_column_type("v", "bigint")
    t.append(
        o.where("o_orderkey >= 3000 AND o_orderkey < 3100").select(
            (
                F.col("o_orderkey").cast("bigint")
                * F.lit(1099511627776).cast("bigint")
            ).alias("v")
        )
    )
    return t.read().agg(
        F.sum("v").alias("total"),
        F.max("v").alias("max_v"),
        F.count(F.lit(1)).alias("n"),
    )


@q(
    "q91_data_skipping",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
             / 100 AS total,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    WHERE o_orderkey > 4000 AND o_orderkey <= 9000
    """,
)
def q91(spark: SparkSession, sf: str) -> DataFrame:
    """Manifest-stats data skipping (Iceberg min/max file pruning): three
    disjoint key-range appends; a key-range read prunes non-overlapping
    batches at PLANNING time from footer-harvested stats, then applies the
    exact predicate. Result must equal the oracle's plain filter. The
    planning metric (scanned vs total batches) is asserted in
    tests/test_tables.py; here the driver checks value equivalence."""
    cat = _tmp_catalog(spark)
    o = load(spark, sf, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    for lo, hi in ((0, 3000), (3000, 6000), (6000, 100 * 1000 * 1000)):
        cat.write_evolving(
            o.where(
                (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi)
            ),
            "db",
            "skip",
        )
    t = cat.table("db", "skip")
    out = t.read_where(
        [("o_orderkey", ">", 4000), ("o_orderkey", "<=", 9000)]
    )
    return out.agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("o_totalprice")).alias("total"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


@q(
    "q92_sorted_compact_skip",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
             / 100 AS total,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key
    FROM orders
    WHERE o_orderkey >= 2000 AND o_orderkey < 2600
    """,
)
def q92(spark: SparkSession, sf: str) -> DataFrame:
    """Sort-order rewrite (Iceberg rewrite_data_files with a sort order):
    three mod-sliced appends each span the FULL key range (no skipping
    possible), then compact(sort_by=key) range-clusters the files and the
    same key-range read plans a strict subset. The driver checks value
    equivalence; the planning metric is asserted in tests."""
    cat = _tmp_catalog(spark)
    o = load(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    for m in range(3):
        cat.write_evolving(
            o.where(F.col("o_orderkey") % 3 == m), "db", "sorted"
        )
    t = cat.table("db", "sorted")
    t.compact(sort_by=["o_orderkey"], target_files=8)
    out = t.read_where(
        [("o_orderkey", ">=", 2000), ("o_orderkey", "<", 2600)]
    )
    return out.agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("o_totalprice")).alias("total"),
        F.min("o_orderkey").alias("min_key"),
    )


@q(
    "q93_merge_evolution",
    oracle="""
    WITH tgt AS (
      SELECT c_custkey AS id,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_c
      FROM customer WHERE c_custkey < 800),
    src AS (
      SELECT c_custkey AS id,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) + 1 AS bal_c,
             c_mktsegment AS seg
      FROM customer WHERE c_custkey >= 400 AND c_custkey < 1200),
    merged AS (
      SELECT t.id, t.bal_c, NULL AS seg FROM tgt t
      WHERE t.id NOT IN (SELECT id FROM src)
      UNION ALL
      SELECT id, bal_c, seg FROM src)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(bal_c) AS BIGINT) AS total_bal,
           CAST(COUNT(seg) AS BIGINT) AS n_seg,
           'id,bal_c,seg' AS schema_cols
    FROM merged
    """,
)
def q93(spark: SparkSession, sf: str) -> DataFrame:
    """MERGE WITH SCHEMA EVOLUTION: the source carries a column the
    target lacks; the merge extends the schema extras-last, pre-existing
    unmatched rows surface it as NULL, and matched+inserted rows carry
    the source values."""
    cat = _tmp_catalog(spark)
    c = load(spark, sf, "customer")
    cat.write_evolving(
        c.where("c_custkey < 800").select(
            F.col("c_custkey").alias("id"),
            cents(F.col("c_acctbal")).alias("bal_c"),
        ),
        "db",
        "mevo",
    )
    t = cat.table("db", "mevo")
    t.merge_into(
        c.where("c_custkey >= 400 AND c_custkey < 1200").select(
            F.col("c_custkey").alias("id"),
            (cents(F.col("c_acctbal")) + 1).alias("bal_c"),
            F.col("c_mktsegment").alias("seg"),
        ),
        on=["id"],
        evolve=True,
    )
    out = t.read()
    return out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("bal_c").alias("total_bal"),
        F.count("seg").alias("n_seg"),
        F.lit(",".join(out.columns)).alias("schema_cols"),
    )


@q(
    "q94_hash_split",
    oracle="""
    WITH s AS (
      SELECT CASE
               WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
                 THEN 'train'
               WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'f333'
                 THEN 'val'
               ELSE 'test'
             END AS split,
             len(string_split(lower(trim(text)), ' ')) AS n_tokens
      FROM documents)
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM s GROUP BY split ORDER BY split
    """,
)
def q94(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic hash-based train/val/test split (90/5/5) over the
    corpus: md5 hex-prefix bucketing, map-only, reproducible across
    engines and re-runs — the oracle recomputes the same thresholds in
    SQL."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        hash_split,
        token_count,
    )

    docs = load(spark, sf, "documents")
    out = hash_split(
        docs, id_col="doc_id",
        weights={"train": 90, "val": 5, "test": 5},
    )
    return (
        out.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count("text")).alias("total_tokens"),
        )
        .orderBy("split")
    )


@q(
    "q95_bigram_counts",
    oracle="""
    WITH w AS (
      SELECT string_split(lower(trim(text)), ' ') AS ws FROM documents),
    b AS (
      SELECT UNNEST(
        [ws[i] || ' ' || ws[i+1] FOR i IN generate_series(1, len(ws) - 1)]
      ) AS bigram
      FROM w)
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM b GROUP BY bigram
    ORDER BY n DESC, bigram LIMIT 50
    """,
)
def q95(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus bigram frequencies, top-50 (distributed n-gram LM counts):
    adjacent-pair generation stays in codegen (transform over sequence),
    one aggregate shuffle, deterministic tie-break."""
    from spark_iceberg_schema_evolution_spark.operators.text import bigram_counts

    return bigram_counts(
        load(spark, sf, "documents"), text_col="text", top_k=50
    )


@q(
    "q96_stratified_sample",
    oracle="""
    SELECT lang, doc_id, n_chars
    FROM documents
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY lang
      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 7
    ORDER BY lang, doc_id
    """,
)
def q96(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic k-per-stratum sampling (balanced per-language
    subcorpus): md5 hash order inside each stratum, exact k, reproducible
    across engines and re-runs. The oracle is the QUALIFY twin."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        stratified_sample,
    )

    docs = load(spark, sf, "documents").select("lang", "doc_id", "n_chars")
    return stratified_sample(
        docs, group_col="lang", k=7, id_col="doc_id"
    ).orderBy("lang", "doc_id")


@q(
    "q97_zorder_box_query",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_c,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key
    FROM orders
    WHERE o_custkey >= 100 AND o_custkey < 400
      AND o_totalprice >= 50000 AND o_totalprice < 120000
    """,
)
def q97(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order rewrite + 2D box query: after compact(z_order=[custkey,
    totalprice]) the box read skips files on BOTH dimensions (planning
    metric asserted in tests); the driver checks value equivalence
    against the plain filter."""
    cat = _tmp_catalog(spark)
    o = load(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cat.write_evolving(o, "db", "zbox")
    t = cat.table("db", "zbox")
    t.compact(z_order=["o_custkey", "o_totalprice"], target_files=16)
    out = t.read_where(
        [
            ("o_custkey", ">=", 100),
            ("o_custkey", "<", 400),
            ("o_totalprice", ">=", 50000.0),
            ("o_totalprice", "<", 120000.0),
        ]
    )
    return out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents(F.col("o_totalprice"))).alias("total_c"),
        F.min("o_orderkey").alias("min_key"),
    )


@q(
    "q98_version_diff",
    oracle="""
    WITH v1 AS (
      SELECT c_custkey AS id, CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal
      FROM customer WHERE c_custkey < 1000),
    v2 AS (
      SELECT id, CASE WHEN id % 10 = 0 THEN bal + 100 ELSE bal END AS bal
      FROM v1 WHERE id % 7 <> 0
      UNION ALL
      SELECT c_custkey, CAST(ROUND(c_acctbal * 100) AS BIGINT)
      FROM customer WHERE c_custkey >= 1000 AND c_custkey < 1200),
    ins AS (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v1),
    del AS (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v2),
    tagged AS (
      SELECT 'I' AS change_type, id, bal FROM ins
      UNION ALL
      SELECT 'D', id, bal FROM del)
    SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(bal) AS BIGINT) AS total_bal
    FROM tagged GROUP BY change_type ORDER BY change_type
    """,
)
def q98(spark: SparkSession, sf: str) -> DataFrame:
    """Row-level CDC between snapshots (Iceberg changelog semantics):
    UPDATE surfaces as D+I pairs, DELETE as D, append as I — computed by
    exceptAll in both directions; the oracle mirrors it with EXCEPT ALL."""
    cat = _tmp_catalog(spark)
    c = load(spark, sf, "customer")
    cat.write_evolving(
        c.where("c_custkey < 1000").select(
            F.col("c_custkey").alias("id"),
            cents(F.col("c_acctbal")).alias("bal"),
        ),
        "db",
        "cdc",
    )
    t = cat.table("db", "cdc")
    v1 = t._load().version
    t.update_where(
        F.col("id") % 10 == 0, {"bal": F.col("bal") + 100}
    )
    t.delete_where(F.col("id") % 7 == 0)
    t.append(
        c.where("c_custkey >= 1000 AND c_custkey < 1200").select(
            F.col("c_custkey").alias("id"),
            cents(F.col("c_acctbal")).alias("bal"),
        )
    )
    return (
        t.diff(v1)
        .groupBy(F.col("_change_type").alias("change_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("bal").alias("total_bal"),
        )
        .orderBy("change_type")
    )


@q(
    "q99_pii_redaction",
    oracle="""
    WITH seeded AS (
      SELECT doc_id,
             text || ' contact-' || CAST(doc_id AS VARCHAR)
                  || '@example.com code 415-555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
      FROM documents),
    red AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 t, '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{2,}',
                 '<EMAIL>', 'g'),
               '[0-9][0-9 \\-]{5,}[0-9]', '<NUMBER>', 'g') AS t
      FROM seeded)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(LENGTH(t)) AS BIGINT) AS total_chars,
           CAST(SUM(CASE WHEN t LIKE '%<EMAIL>%' THEN 1 ELSE 0 END)
             AS BIGINT) AS docs_with_email_masked,
           CAST(SUM(CASE WHEN t LIKE '%<NUMBER>%' THEN 1 ELSE 0 END)
             AS BIGINT) AS docs_with_number_masked
    FROM red
    """,
)
def q99(spark: SparkSession, sf: str) -> DataFrame:
    """PII redaction: emails and long digit runs masked by the same
    RE2-compatible patterns in both engines ('g' flag in DuckDB to match
    Spark's replace-all)."""
    from spark_iceberg_schema_evolution_spark.operators.text import redact_pii

    docs = load(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact-"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com code 415-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    out = redact_pii(docs)
    return out.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
        F.sum(
            F.when(F.col("text").contains("<EMAIL>"), 1).otherwise(0)
        ).alias("docs_with_email_masked"),
        F.sum(
            F.when(F.col("text").contains("<NUMBER>"), 1).otherwise(0)
        ).alias("docs_with_number_masked"),
    )


@q(
    "q100_boilerplate_removal",
    oracle="""
    WITH docs AS (
      SELECT doc_id,
             'HDR' || CAST(doc_id % 5 AS VARCHAR) || chr(10) || text ||
             CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'SHARED FOOTER'
                  ELSE '' END AS t
      FROM documents),
    dl AS (
      SELECT doc_id,
             UNNEST(list_distinct(string_split(t, chr(10)))) AS line
      FROM docs),
    banned AS (
      SELECT line FROM dl GROUP BY line
      HAVING COUNT(DISTINCT doc_id) > 10),
    all_lines AS (
      SELECT doc_id, UNNEST(string_split(t, chr(10))) AS line FROM docs),
    kept AS (
      SELECT doc_id, line FROM all_lines
      WHERE line <> '' AND line NOT IN (SELECT line FROM banned))
    SELECT CAST(COUNT(*) AS BIGINT) AS n_kept_lines,
           CAST(SUM(LENGTH(line)) AS BIGINT) AS kept_chars,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_with_content
    FROM kept
    """,
)
def q100(spark: SparkSession, sf: str) -> DataFrame:
    """C4-style boilerplate removal: lines occurring in >10 distinct docs
    (synthetic shared headers/footers here) are dropped corpus-wide; the
    frequent-line set broadcasts back, the corpus itself never
    reshuffles. Metrics over the kept lines match the oracle's NOT IN
    formulation."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        remove_boilerplate_lines,
    )

    docs = load(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.lit("HDR"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit("\n"),
            F.col("text"),
            F.when(
                F.col("doc_id") % 4 == 0, F.lit("\nSHARED FOOTER")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    cleaned = remove_boilerplate_lines(docs, max_doc_freq=10)
    kept = cleaned.select(
        "doc_id", F.explode(F.split("text", "\n")).alias("line")
    ).where(F.col("line") != "")
    return kept.agg(
        F.count(F.lit(1)).alias("n_kept_lines"),
        F.sum(F.length("line")).alias("kept_chars"),
        F.countDistinct("doc_id").alias("n_docs_with_content"),
    )


@q(
    "q101_nested_evolution",
    oracle="""
    WITH t AS (
      SELECT c_custkey AS id, c_nationkey AS nk, c_mktsegment AS seg,
             CASE WHEN c_custkey >= 800 THEN c_custkey % 3 END AS flag
      FROM customer WHERE c_custkey < 1500)
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(nk) AS BIGINT) AS sum_nk,
           CAST(COUNT(flag) AS BIGINT) AS n_flag,
           MIN(seg) AS min_seg
    FROM t
    """,
)
def q101(spark: SparkSession, sf: str) -> DataFrame:
    """NESTED schema evolution end-to-end: batch 2's struct column
    carries an extra field; append absorbs it (ADD COLUMN meta.flag),
    batch 1's structs read back with NULL there. Output flattens the
    struct to scalars (driver canonicalizer handles scalars only)."""
    cat = _tmp_catalog(spark)
    c = load(spark, sf, "customer")
    cat.write_evolving(
        c.where("c_custkey < 800").select(
            F.col("c_custkey").alias("id"),
            F.struct(
                F.col("c_nationkey").alias("nk"),
                F.col("c_mktsegment").alias("seg"),
            ).alias("meta"),
        ),
        "db",
        "nested",
    )
    t = cat.table("db", "nested")
    t.append(
        c.where("c_custkey >= 800 AND c_custkey < 1500").select(
            F.col("c_custkey").alias("id"),
            F.struct(
                F.col("c_nationkey").alias("nk"),
                F.col("c_mktsegment").alias("seg"),
                (F.col("c_custkey") % 3).alias("flag"),
            ).alias("meta"),
        )
    )
    out = t.read().select(
        "id",
        F.col("meta.nk").alias("nk"),
        F.col("meta.seg").alias("seg"),
        F.col("meta.flag").alias("flag"),
    )
    return out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("nk").alias("sum_nk"),
        F.count("flag").alias("n_flag"),
        F.min("seg").alias("min_seg"),
    )


@q(
    "q102_lakehouse_sql",
    oracle="""
    SELECT c_mktsegment AS seg,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS bal_c
    FROM customer WHERE c_custkey < 1200
    GROUP BY c_mktsegment ORDER BY seg
    """,
)
def q102(spark: SparkSession, sf: str) -> DataFrame:
    """SQL front door over a lakehouse table: ``lake.<ns>.<table>`` refs
    resolve to snapshot scans, then plain spark.sql runs — the query a
    reference user would type against the Iceberg catalog."""
    cat = _tmp_catalog(spark)
    c = load(spark, sf, "customer")
    cat.write_evolving(
        c.where("c_custkey < 1200").select(
            F.col("c_mktsegment").alias("seg"),
            cents(F.col("c_acctbal")).alias("bal"),
        ),
        "db",
        "custs",
    )
    return cat.sql(
        "SELECT seg, COUNT(*) AS n, SUM(bal) AS bal_c "
        "FROM lake.db.custs GROUP BY seg ORDER BY seg"
    )


@q("t2_skip_planning", oracle=None, tier=2)
def t2_skip_planning(spark: SparkSession, sf: str) -> DataFrame:
    """Data-skipping planning metrics as a driver-visible row: after a
    sorted compaction, a narrow key range must plan a strict subset of
    files (rows-only check records the metric; the value equivalence is
    q91/q92's hash gate)."""
    cat = _tmp_catalog(spark)
    o = load(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    cat.write_evolving(o, "db", "plan")
    t = cat.table("db", "plan")
    t.compact(sort_by=["o_orderkey"], target_files=8)
    p = t.plan_scan([("o_orderkey", "<", 2000)])
    return spark.createDataFrame(
        [
            (
                p["batches_scanned"],
                p["batches_total"],
                p["files_scanned"],
                p["files_total"],
                int(p["files_scanned"] < p["files_total"]),
            )
        ],
        "batches_scanned INT, batches_total INT, files_scanned INT, "
        "files_total INT, subset_planned INT",
    )


@q("t2_ts_skip_planning", oracle=None, tier=2)
def t2_ts_skip(spark: SparkSession, sf: str) -> DataFrame:
    """Timestamp data-skipping planning metrics: after a ts-sorted
    compaction, a narrow time-range predicate must plan a strict file
    subset — possible only because writes are TIMESTAMP_MICROS (INT96
    has no parquet stats) and temporal stats are canonical strings
    (round 5). Value equivalence is t1-gated elsewhere; this records
    the planning metric."""
    cat = _tmp_catalog(spark)
    ev = load_events(spark, sf).select("event_id", "ts", "user_id")
    cat.write_evolving(ev, "db", "tss")
    t = cat.table("db", "tss")
    t.compact(sort_by=["ts"], target_files=8)
    lo = "2024-01-03 00:00:00"
    p = t.plan_scan([("ts", "<", lo)])
    n = t.read_where([("ts", "<", lo)]).count()
    full = t.read().where(F.col("ts") < lo).count()
    return spark.createDataFrame(
        [
            (
                p["files_scanned"],
                p["files_total"],
                int(p["files_scanned"] < p["files_total"]),
                int(n == full),
                n,
            )
        ],
        "files_scanned INT, files_total INT, subset_planned INT, "
        "values_equal INT, n_rows BIGINT",
    )


@q("t2_orc_roundtrip", oracle=None, tier=2)
def t2_orc(spark: SparkSession, sf: str) -> DataFrame:
    """ORC source/sink round-trip (DuckDB cannot read ORC, so rows-only):
    write nation as ORC (zlib), read back, prove byte-identical content
    via a checksum against the parquet original."""
    n = load(spark, sf, "nation")
    path = _tmp_dir("orc-") + "/nation_orc"
    n.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    chk = F.bit_xor(F.xxhash64(*sorted(n.columns))).alias("checksum")
    return (
        n.agg(chk.alias("parquet_checksum"))
        .crossJoin(back.agg(chk.alias("orc_checksum")))
        .select(
            "parquet_checksum",
            "orc_checksum",
            (F.col("parquet_checksum") == F.col("orc_checksum")).cast(
                "int"
            ).alias("match"),
        )
    )


@q(
    "q86_stream_static_join",
    oracle="""
    SELECT c.c_mktsegment AS segment, COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS DOUBLE) / 100
             AS total_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
    GROUP BY 1 ORDER BY segment
    """,
)
def q86(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-static join (the dimension-enrichment pattern): a streaming
    purchase feed joins a STATIC customer dim — Spark broadcasts the dim
    into every micro-batch, no stream state needed. Oracle: the same join
    in batch."""
    from spark_iceberg_schema_evolution_spark.streaming import windows as SW

    ev = SW.read_events_stream(spark, sf).where(
        F.col("event_type") == "purchase"
    )
    dim = load(spark, sf, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = ev.join(dim, "user_id").groupBy(
        F.col("c_mktsegment").alias("segment")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.sum(F.round(F.col("value") * 100).cast("long")).cast("double")
            / 100
        ).alias("total_value"),
    )
    out = SW.run_to_memory(enriched, "q86_sink", output_mode="complete")
    return out.orderBy("segment")


@q("t2_multimodal_frames", oracle=None, tier=2)
def t2_mm_frames(spark: SparkSession, sf: str) -> DataFrame:
    """Frame-sampling plumbing over binary payloads; frames surfaced as
    md5 hex (scalar) so the driver canonicalizer sees no raw bytes."""
    from spark_iceberg_schema_evolution_spark.operators.multimodal import (
        documents_as_media,
        frame_sample,
    )

    d = load(spark, sf, "documents").where(F.col("doc_id") < 50)
    frames = frame_sample(documents_as_media(d), frame_size=64, stride=256)
    return frames.select(
        "media_id", "frame_idx", F.md5("frame").alias("frame_md5"), "n_bytes"
    ).orderBy("media_id", "frame_idx")


@q("t2_media_near_dup", oracle=None, tier=2)
def t2_media_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """Codec-free media near-dedup (r6 VERDICT item 7): blockwise byte
    SimHash fingerprints over binary payloads, 8-band pigeonhole
    candidate generation, exact Hamming verify — the visual near-dup
    representative that byte-exact dedup cannot provide. A planted
    same-length localized edit of media 0 must pair with it; the
    summary row carries corpus size, pair count, and the planted hit
    (asserted in tests/test_llm_ops.py with connected-components
    clustering)."""
    from spark_iceberg_schema_evolution_spark.operators.multimodal import (
        documents_as_media,
        media_near_dup_pairs,
    )

    media = documents_as_media(
        load(spark, sf, "documents").where(F.col("doc_id") < 200)
    )
    n = F.octet_length("payload")
    planted = media.where("media_id = 0").select(
        F.lit(990001).cast("long").alias("media_id"),
        # same-length localized edit: 4 bytes replaced mid-payload
        F.concat(
            F.substr(F.col("payload"), F.lit(1), F.lit(16)),
            F.encode(F.lit("XXXX"), "UTF-8"),
            F.substr(F.col("payload"), F.lit(21), n - 20),
        ).alias("payload"),
        "meta",
    )
    pairs = media_near_dup_pairs(
        media.unionByName(planted), max_hamming=7
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            F.when(
                (F.col("id_a") == 0) & (F.col("id_b") == 990001), 1
            ).otherwise(0)
        ).cast("long").alias("planted_found"),
    )


@q("t2_stats_moments", oracle=None, tier=2)
def t2_stats_moments(spark: SparkSession, sf: str) -> DataFrame:
    """stddev/variance/corr/covar/skewness/kurtosis — tier-2: double
    accumulation order varies across engines/partitionings, so these get
    a rows-only driver check plus pytest bracket assertions."""
    o = load(spark, sf, "orders")
    return o.agg(
        F.round(F.stddev("o_totalprice"), 2).alias("sd"),
        F.round(F.var_samp("o_totalprice"), 1).alias("var"),
        F.round(F.corr("o_totalprice", "o_custkey"), 4).alias("corr_pc"),
        F.round(F.covar_samp("o_totalprice", "o_custkey"), 1).alias("cov_pc"),
        F.round(F.skewness("o_totalprice"), 4).alias("skew"),
        F.round(F.kurtosis("o_totalprice"), 4).alias("kurt"),
    )


@q(
    "q75_incremental_changes",
    oracle="""
    SELECT COUNT(*) AS n_changed,
           CAST(MIN(c_custkey) AS BIGINT) AS min_key,
           CAST(MAX(c_custkey) AS BIGINT) AS max_key
    FROM customer WHERE c_custkey >= 500
    """,
)
def q75(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental snapshot read (append-level CDC): three keyed batches
    commit, and changes(v1) returns exactly the rows batches 2+3 added."""
    cat = _tmp_catalog(spark)
    c = load(spark, sf, "customer")
    cat.write_evolving(
        c.where("c_custkey < 500").select("c_custkey", "c_name"), "db", "inc"
    )
    t = cat.table("db", "inc")
    v1 = t._load().version
    t.append(
        c.where("c_custkey >= 500 AND c_custkey < 1000").select(
            "c_custkey", "c_name"
        )
    )
    t.append(c.where("c_custkey >= 1000").select("c_custkey", "c_name"))
    delta = t.changes(v1)
    return delta.agg(
        F.count(F.lit(1)).alias("n_changed"),
        F.min("c_custkey").alias("min_key"),
        F.max("c_custkey").alias("max_key"),
    )


@q("t2_profile_approx", oracle=None, tier=2)
def t2_profile_approx(spark: SparkSession, sf: str) -> DataFrame:
    """HLL profiler path (no Expand; the 100 TB default): approximate
    distinct counts bracketed against the exact profiler in pytest."""
    from spark_iceberg_schema_evolution_spark.operators.profile import profile_stats

    o = load(spark, sf, "orders")
    return profile_stats(
        o, ["o_orderkey", "o_custkey", "o_orderstatus"], approximate=True
    ).orderBy("col_name")


@q(
    "q73_delete_update",
    oracle="""
    WITH base AS (
      SELECT * FROM orders WHERE o_custkey < 2000),
    after_del AS (
      SELECT * FROM base WHERE NOT (o_orderstatus = 'F')),
    after_upd AS (
      SELECT o_orderkey,
             CASE WHEN o_totalprice > 150000 THEN '0-URGENT'
                  ELSE o_orderpriority END AS pri,
             o_totalprice
      FROM after_del)
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN pri = '0-URGENT' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_urgent,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
             / 100 AS total_price
    FROM after_upd
    """,
)
def q73(spark: SparkSession, sf: str) -> DataFrame:
    """DELETE then UPDATE on a month-partitioned lakehouse table
    (copy-on-write, only affected partitions rewritten); post-state checked
    against the equivalent filter+CASE over the base table."""
    cat = _tmp_catalog(spark)
    o = load(spark, sf, "orders").where("o_custkey < 2000")
    cat.write_evolving(o, "db", "dml", partition_month_of="o_orderdate")
    t = cat.table("db", "dml")
    t.delete_where("o_orderstatus = 'F'")
    t.update_where(
        "o_totalprice > 150000", {"o_orderpriority": F.lit("0-URGENT")}
    )
    out = t.read()
    return out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("o_orderpriority") == "0-URGENT", 1).otherwise(0)
        ).alias("n_urgent"),
        dsum(F.col("o_totalprice")).alias("total_price"),
    )


@q(
    "q103_mor_delete_update",
    oracle="""
    WITH base AS (
      SELECT * FROM orders WHERE o_custkey < 1500),
    after_del AS (
      SELECT * FROM base WHERE NOT (o_orderstatus = 'F')),
    after_upd AS (
      SELECT o_orderkey,
             CASE WHEN o_totalprice > 180000 THEN '5-MOR'
                  ELSE o_orderpriority END AS pri,
             o_totalprice
      FROM after_del),
    reappended AS (
      SELECT o_orderkey, o_orderpriority AS pri, o_totalprice
      FROM base WHERE o_orderstatus = 'F' AND o_custkey < 100),
    final AS (
      SELECT * FROM after_upd UNION ALL SELECT * FROM reappended)
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN pri = '5-MOR' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_mor,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
             / 100 AS total_price
    FROM final
    """,
)
def q103(spark: SparkSession, sf: str) -> DataFrame:
    """Merge-on-read DML lifecycle (Iceberg v2 equality deletes): MOR
    DELETE writes an O(matched-keys) delete file instead of rewriting
    partitions, MOR UPDATE adds a delete file plus just the updated rows,
    and a later re-append of deleted keys survives (sequence-number
    rule: deletes apply only to strictly-older batches). The re-appended
    rows keep their ORIGINAL priority — proving the update's delete file
    doesn't touch rows written after it. Post-state checked against the
    equivalent filter/CASE/union over the base table."""
    cat = _tmp_catalog(spark)
    o = load(spark, sf, "orders").where("o_custkey < 1500")
    cat.write_evolving(o, "db", "mor", partition_month_of="o_orderdate")
    t = cat.table("db", "mor")
    t.delete_where("o_orderstatus = 'F'", mode="mor", keys=["o_orderkey"])
    t.update_where(
        "o_totalprice > 180000",
        {"o_orderpriority": F.lit("5-MOR")},
        mode="mor",
        keys=["o_orderkey"],
    )
    t.append(o.where("o_orderstatus = 'F' AND o_custkey < 100"))
    return t.read().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("o_orderpriority") == "5-MOR", 1).otherwise(0)
        ).alias("n_mor"),
        dsum(F.col("o_totalprice")).alias("total_price"),
    )


@q(
    "q104_mor_merge",
    oracle="""
    WITH base AS (
      SELECT * FROM orders WHERE o_custkey < 1200),
    src AS (
      SELECT o_orderkey, o_totalprice * 3 AS s_price
      FROM orders WHERE o_custkey BETWEEN 600 AND 1799),
    merged AS (
      SELECT b.o_orderdate,
             CASE WHEN s.o_orderkey IS NOT NULL
                       AND b.o_orderstatus = 'O'
                  THEN b.o_totalprice + s.s_price
                  ELSE b.o_totalprice END AS price
      FROM base b LEFT JOIN src s USING (o_orderkey)
      WHERE s.o_orderkey IS NULL OR NOT (s.s_price < 150000)),
    ins AS (
      SELECT CAST(NULL AS TIMESTAMP) AS o_orderdate, s_price AS price
      FROM src WHERE o_orderkey NOT IN (SELECT o_orderkey FROM base)),
    final AS (SELECT * FROM merged UNION ALL SELECT * FROM ins)
    SELECT COUNT(*) AS n_rows,
           COUNT(o_orderdate) AS n_with_date,
           CAST(SUM(CAST(ROUND(price * 100) AS BIGINT)) AS DOUBLE) / 100
             AS total_price
    FROM final
    """,
)
def q104(spark: SparkSession, sf: str) -> DataFrame:
    """Merge-on-read MERGE (Iceberg v2 write.merge.mode=merge-on-read):
    all three clause arms — WHEN MATCHED AND s.price<150k THEN DELETE,
    WHEN MATCHED AND t.status='O' THEN UPDATE, WHEN NOT MATCHED INSERT —
    land as ONE equality-delete file plus ONE batch of updated+inserted
    rows; no partition rewrite. Matched rows failing both arms pass
    through untouched (keys absent from the delete file). The update arm
    only fires when the delete arm didn't (Iceberg clause order). Source
    prices use *3 (exact IEEE scaling, no ROUND ties vs DuckDB)."""
    cat = _tmp_catalog(spark)
    o = load(spark, sf, "orders")
    cat.write_evolving(o.where("o_custkey < 1200"), "db", "morm")
    t = cat.table("db", "morm")
    src = o.where("o_custkey BETWEEN 600 AND 1799").select(
        "o_orderkey",
        (F.col("o_totalprice") * 3).alias("o_totalprice"),
        "o_orderstatus",
    )
    t.merge_into(
        src,
        on=["o_orderkey"],
        matched_delete_where="s.o_totalprice < 150000",
        matched_update={"o_totalprice": "t.o_totalprice + s.o_totalprice"},
        matched_condition="t.o_orderstatus = 'O'",
        mode="mor",
    )
    return t.read().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_orderdate").alias("n_with_date"),
        dsum(F.col("o_totalprice")).alias("total_price"),
    )


@q(
    "q105_wap_branch_publish",
    oracle="""
    WITH staged AS (
      SELECT * FROM customer WHERE c_custkey < 3000),
    final AS (
      SELECT * FROM staged WHERE NOT (c_acctbal < 0))
    SELECT (SELECT COUNT(*) FROM customer WHERE c_custkey < 2000)
             AS n_main_before,
           COUNT(*) AS n_after,
           CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
             / 100 AS acctbal_sum
    FROM final
    """,
)
def q105(spark: SparkSession, sf: str) -> DataFrame:
    """Write-audit-publish via snapshot refs (Iceberg branches +
    fast_forward): stage an append and a DELETE on an 'audit' branch —
    main's row count is proven untouched mid-audit (n_main_before) —
    then publish with fast_forward('main','audit'), an atomic pointer
    move that rewrites no data. Readers of main see both staged commits
    at once; the oracle replays them as plain filters over the base."""
    cat = _tmp_catalog(spark)
    c = load(spark, sf, "customer")
    cat.write_evolving(c.where("c_custkey < 2000"), "db", "wap")
    t = cat.table("db", "wap")
    t.create_branch("audit")
    b = t.branch("audit")
    b.append(c.where("c_custkey BETWEEN 2000 AND 2999"))
    b.delete_where("c_acctbal < 0")
    n_before = t.read().count()  # main is still pre-audit
    t.fast_forward("main", "audit")
    dsum_sql = ORACLE_DSUM.format(c="c_acctbal")
    return cat.sql(
        f"SELECT CAST({n_before} AS BIGINT) AS n_main_before, "
        "COUNT(*) AS n_after, "
        f"{dsum_sql} AS acctbal_sum "
        "FROM lake.db.wap"
    )


@q(
    "q106_decontamination",
    oracle=f"""
    WITH corpus AS (SELECT * FROM documents WHERE doc_id % 50 <> 0),
    bench AS (SELECT * FROM documents WHERE doc_id % 50 = 0),
    cs AS (SELECT doc_id, UNNEST({_DUCK_SHINGLES}) AS s FROM corpus),
    bs AS (SELECT DISTINCT UNNEST({_DUCK_SHINGLES}) AS s FROM bench),
    cont AS (SELECT DISTINCT cs.doc_id FROM cs JOIN bs USING (s))
    SELECT (SELECT COUNT(*) FROM corpus) AS n_corpus,
           (SELECT COUNT(*) FROM cont) AS n_contaminated,
           (SELECT COUNT(*) FROM corpus c
             WHERE c.doc_id NOT IN (SELECT doc_id FROM cont)) AS n_clean
    """,
)
def q106(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination: docs sharing ANY 5-gram shingle with a
    held-out benchmark set (every 50th doc) are dropped from the corpus.
    The benchmark's shingle set broadcasts (eval sets are tiny); the
    corpus side is a map-only explode + broadcast semi-join — no
    all-to-all shuffle of corpus text at 100 TB. Exercises both the
    flagging and the filtering entry points."""
    from spark_iceberg_schema_evolution_spark.operators.dedup import (
        decontaminate,
    )

    d = load(spark, sf, "documents")
    corpus = d.where("doc_id % 50 <> 0")
    bench = d.where("doc_id % 50 = 0")
    flags = decontaminate(corpus, bench, flag_only=True)
    n_clean = decontaminate(corpus, bench).count()
    return flags.agg(
        F.count(F.lit(1)).alias("n_corpus"),
        F.sum(F.col("contaminated").cast("long")).alias("n_contaminated"),
        F.lit(n_clean).cast("long").alias("n_clean"),
    )


@q(
    "q107_repetition_filters",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, string_split(lower(trim(text)), ' ') AS w
      FROM documents),
    uc AS (
      SELECT doc_id, tok, COUNT(*) AS n
      FROM (SELECT doc_id, UNNEST(w) AS tok FROM t)
      GROUP BY doc_id, tok),
    ud AS (
      SELECT doc_id, SUM(n) AS n_words, MAX(n) AS top_w,
             COUNT(*) AS n_distinct
      FROM uc GROUP BY doc_id),
    bgc AS (
      SELECT doc_id, b, COUNT(*) AS n
      FROM (SELECT doc_id,
                   UNNEST([array_to_string(w[i:i+1], ' ')
                           for i in generate_series(1, len(w)-1)]) AS b
            FROM t)
      GROUP BY doc_id, b),
    bgd AS (
      SELECT doc_id, MAX(n) AS top_b, SUM(n) AS n_bg
      FROM bgc GROUP BY doc_id),
    d AS (
      SELECT t.lang, ud.n_words, ud.n_distinct, ud.top_w,
             bgd.top_b, bgd.n_bg,
             CAST(ud.top_w AS DOUBLE) / ud.n_words AS twf
      FROM ud JOIN t USING (doc_id) LEFT JOIN bgd USING (doc_id))
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           CAST(SUM(n_distinct) AS DOUBLE) / SUM(n_words)
             AS distinct_ratio,
           CAST(SUM(top_w) AS DOUBLE) / SUM(n_words) AS top_word_share,
           CAST(SUM(top_b) AS BIGINT) AS top_bigram_total,
           CAST(SUM(CASE WHEN twf > 0.12 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_repetitive
    FROM d GROUP BY lang ORDER BY lang
    """,
)
def q107(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition filters: per-doc distinct-word ratio,
    top-word fraction, and top-bigram fraction, aggregated per language
    with exact integer sums (single final division — no float-summation
    order sensitivity vs the oracle). n_repetitive counts docs whose top
    word exceeds 12% of the doc — the degenerate-text filter arm."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        repetition_stats,
    )

    d = load(spark, sf, "documents")
    s = repetition_stats(d).join(d.select("doc_id", "lang"), "doc_id")
    return (
        s.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("total_words"),
            (
                F.sum("n_distinct").cast("double") / F.sum("n_words")
            ).alias("distinct_ratio"),
            (
                F.sum("top_word_n").cast("double") / F.sum("n_words")
            ).alias("top_word_share"),
            F.sum("top_bigram_n").alias("top_bigram_total"),
            F.sum(
                (F.col("top_word_frac") > 0.12).cast("long")
            ).alias("n_repetitive"),
        )
        .orderBy("lang")
    )


@q(
    "q108_shuffle_shards",
    oracle="""
    WITH k AS (
      SELECT doc_id,
             md5('r3:' || CAST(doc_id AS VARCHAR)) AS key
      FROM documents),
    s AS (
      SELECT doc_id, key,
             CASE WHEN substr(key, 1, 4) < '4000' THEN 0
                  WHEN substr(key, 1, 4) < '8000' THEN 1
                  WHEN substr(key, 1, 4) < 'c000' THEN 2
                  ELSE 3 END AS shard,
             ROW_NUMBER() OVER (
               PARTITION BY (CASE WHEN substr(key, 1, 4) < '4000' THEN 0
                                  WHEN substr(key, 1, 4) < '8000' THEN 1
                                  WHEN substr(key, 1, 4) < 'c000' THEN 2
                                  ELSE 3 END)
               ORDER BY key, doc_id) - 1 AS shard_pos
      FROM k)
    SELECT CAST(shard AS INT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           CAST(SUM(doc_id * shard_pos) AS BIGINT) AS perm_checksum
    FROM s GROUP BY shard ORDER BY shard
    """,
)
def q108(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic global shuffle for training-data serving: md5(seed:id)
    permutation key, hex-threshold shard assignment (hash_split's
    engine-portable scheme), and a per-shard row_number for the in-shard
    order — n_shards parallel sorts, never one global sort. perm_checksum
    pins the EXACT permutation order against the oracle, not just shard
    membership."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        shuffle_shards,
    )

    d = load(spark, sf, "documents").select("doc_id")
    s = shuffle_shards(d, n_shards=4, seed="r3")
    return (
        s.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("doc_id").alias("id_sum"),
            F.sum(F.col("doc_id") * F.col("shard_pos")).alias(
                "perm_checksum"
            ),
        )
        .orderBy("shard")
    )


# q110 domain weights; the oracle's CASE thresholds are the exact hex
# literals text.resample_threshold derives from these (frac * 65536):
# en 2.5 -> base 2 + bucket<'8000'; fr 0.5 -> '8000'; es 0.25 -> '4000';
# de 1.0 / zh 0.0 -> no fractional draw.
_Q110_WEIGHTS = {"en": 2.5, "de": 1.0, "fr": 0.5, "es": 0.25, "zh": 0.0}


@q(
    "q110_weighted_resample",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang,
             substr(md5('r4:' || CAST(doc_id AS VARCHAR)), 1, 4) AS bucket
      FROM documents),
    c AS (
      SELECT doc_id, lang,
             CASE lang
               WHEN 'en' THEN 2 + CASE WHEN bucket < '8000' THEN 1 ELSE 0 END
               WHEN 'de' THEN 1
               WHEN 'fr' THEN CASE WHEN bucket < '8000' THEN 1 ELSE 0 END
               WHEN 'es' THEN CASE WHEN bucket < '4000' THEN 1 ELSE 0 END
               ELSE 0
             END AS copies
      FROM d),
    x AS (
      SELECT doc_id, lang, g.g AS copy_idx
      FROM c JOIN (VALUES (1), (2), (3)) AS g(g) ON g.g <= c.copies)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id * copy_idx) AS BIGINT) AS checksum
    FROM x GROUP BY lang ORDER BY lang
    """,
)
def q110(spark: SparkSession, sf: str) -> DataFrame:
    """DoReMi-style deterministic domain reweighting of the training mix:
    per-language target weights drive an exact md5-threshold copy count —
    en upsampled 2.5x (2 or 3 copies each), de kept, fr/es downsampled,
    zh dropped. checksum pins the exact per-copy expansion against the
    oracle's generate_series, not just totals."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        weighted_resample,
    )

    d = load(spark, sf, "documents").select("doc_id", "lang")
    s = weighted_resample(
        d, _Q110_WEIGHTS, domain_col="lang", seed="r4"
    )
    return (
        s.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum(F.col("doc_id") * F.col("copy_idx")).alias("checksum"),
        )
        .orderBy("lang")
    )


@q(
    "q111_dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE sh AS (
      SELECT doc_id, UNNEST({_DUCK_SHINGLES}) AS s
      FROM documents),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    prs AS (
      SELECT id_a, id_b FROM common
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.2),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM prs
      UNION
      SELECT id_b, id_a FROM prs),
    walk AS (
      SELECT src AS id, src AS label FROM edges
      UNION
      SELECT w.id, e.dst AS label FROM walk w JOIN edges e ON w.label = e.src),
    cc AS (SELECT id, MIN(label) AS cluster_id FROM walk GROUP BY id),
    best AS (
      SELECT d.doc_id, d.n_chars
      FROM documents d JOIN cc ON d.doc_id = cc.id
      QUALIFY ROW_NUMBER() OVER (PARTITION BY cc.cluster_id
                                 ORDER BY d.n_chars DESC, d.doc_id) = 1),
    rest AS (
      SELECT doc_id, n_chars FROM documents
      WHERE doc_id NOT IN (SELECT id FROM cc)),
    final AS (SELECT * FROM best UNION ALL SELECT * FROM rest)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
           CAST(SUM(n_chars) AS BIGINT) AS chars_kept
    FROM final
    """,
)
def q111(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup resolution keeping the BEST cluster member (longest doc,
    tiebreak lowest id) instead of an arbitrary canonical — the quality-
    aware dedup a curation pipeline actually ships. Unpaired docs pass
    through an anti-join untouched. Oracle: q74's recursive-CTE closure
    plus a QUALIFY argmax per cluster, unioned with the never-paired
    remainder."""
    from spark_iceberg_schema_evolution_spark.operators.dedup import (
        dedup_keep_best,
        jaccard_pairs,
    )

    d = load(spark, sf, "documents")
    pairs = jaccard_pairs(d).where(F.col("jaccard") >= 0.2)
    kept = dedup_keep_best(
        d.select("doc_id", "n_chars"), pairs, quality_col="n_chars"
    )
    return kept.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("id_checksum"),
        F.sum("n_chars").alias("chars_kept"),
    )


@q(
    "q112_sql_merge",
    oracle="""
    WITH tgt AS (
      SELECT c_custkey AS id,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_c,
             c_mktsegment AS seg
      FROM customer WHERE c_custkey < 1500),
    src AS (
      SELECT c_custkey AS id,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) + 250 AS bal_c,
             c_mktsegment AS seg,
             CASE WHEN c_custkey % 5 = 0 THEN 'D' ELSE 'U' END AS op
      FROM customer WHERE c_custkey >= 800 AND c_custkey < 2500),
    merged AS (
      SELECT t.id, t.bal_c, t.seg FROM tgt t
      WHERE t.id NOT IN (SELECT id FROM src)
      UNION ALL
      SELECT t.id, s.bal_c, t.seg FROM tgt t JOIN src s ON t.id = s.id
      WHERE s.op = 'U'
      UNION ALL
      SELECT s.id, s.bal_c, s.seg FROM src s
      WHERE s.id NOT IN (SELECT id FROM tgt))
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(bal_c) AS BIGINT) AS total_bal_c,
           CAST(COUNT(DISTINCT id) AS BIGINT) AS n_ids,
           MIN(seg) AS min_seg
    FROM merged
    """,
)
def q112(spark: SparkSession, sf: str) -> DataFrame:
    """MERGE INTO through the SQL front door — the reference's SQL
    runner executed arbitrary Athena DML including MERGE
    (src/utils/run_query.py:35-37); the engine's catalog.sql now parses
    the statement and routes it to merge_into (clause conditions,
    partial SET, INSERT *). Same three-arm shape as q89, driven as SQL
    text against a source temp view."""
    cat = _tmp_catalog(spark)
    c = load(spark, sf, "customer")
    tgt = c.where("c_custkey < 1500").select(
        F.col("c_custkey").alias("id"),
        cents(F.col("c_acctbal")).alias("bal_c"),
        F.col("c_mktsegment").alias("seg"),
    )
    src = c.where("c_custkey >= 800 AND c_custkey < 2500").select(
        F.col("c_custkey").alias("id"),
        (cents(F.col("c_acctbal")) + 250).alias("bal_c"),
        F.col("c_mktsegment").alias("seg"),
        F.when(F.col("c_custkey") % 5 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    cat.write_evolving(tgt, "db", "smrg")
    src.createOrReplaceTempView("__q112_src")
    cat.sql(
        "MERGE INTO lake.db.smrg AS t USING __q112_src AS s "
        "ON t.id = s.id "
        "WHEN MATCHED AND s.op = 'D' THEN DELETE "
        "WHEN MATCHED AND s.op = 'U' THEN UPDATE SET bal_c = s.bal_c "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    return cat.table("db", "smrg").read().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("bal_c").alias("total_bal_c"),
        F.countDistinct("id").alias("n_ids"),
        F.min("seg").alias("min_seg"),
    )


@q(
    "q113_deterministic_sample",
    oracle="""
    SELECT doc_id, n_chars FROM documents
    ORDER BY md5('r5s:' || CAST(doc_id AS VARCHAR)), doc_id
    LIMIT 500
    """,
)
def q113(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic exactly-n uniform sample (reproducible TABLESAMPLE
    for eval carve-outs): rank by md5(seed:id), take n. Compiles to
    TakeOrderedAndProject (size-n heap per partition, no global sort).
    The oracle draws the identical sample in DuckDB — md5 is the
    engine-portable randomness."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        deterministic_sample,
    )

    d = load(spark, sf, "documents").select("doc_id", "n_chars")
    return deterministic_sample(d, n=500, seed="r5s")


@q(
    "q114_token_budget_batches",
    oracle="""
    WITH k AS (
      SELECT doc_id, n_chars,
             md5('r5b:' || CAST(doc_id AS VARCHAR)) AS key
      FROM documents),
    s AS (
      SELECT doc_id, n_chars, key,
             CASE WHEN substr(key, 1, 4) < '4000' THEN 0
                  WHEN substr(key, 1, 4) < '8000' THEN 1
                  WHEN substr(key, 1, 4) < 'c000' THEN 2
                  ELSE 3 END AS shard
      FROM k),
    p AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY shard
                                   ORDER BY key, doc_id) - 1 AS shard_pos
      FROM s),
    c AS (
      SELECT *, SUM(n_chars) OVER (PARTITION BY shard ORDER BY shard_pos
                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM p),
    b AS (
      SELECT shard, doc_id, n_chars, shard_pos,
             CAST(FLOOR((cum - 1) / 20000.0) AS BIGINT) AS batch_id
      FROM c),
    o AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY shard, batch_id
                                   ORDER BY shard_pos) - 1 AS batch_pos
      FROM b)
    SELECT CAST(shard AS INT) AS shard, batch_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS batch_tokens,
           CAST(SUM(doc_id * (batch_pos + 1)) AS BIGINT) AS order_checksum
    FROM o GROUP BY shard, batch_id ORDER BY shard, batch_id
    """,
)
def q114(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget micro-batch assembly: shuffle_shards permutation,
    then per-shard running-total binning into <=20k-token batches with
    an in-batch position — (shard, batch_id, batch_pos) is the exact
    order a rank-parallel data loader replays. One window per shard
    REUSING the shard exchange (no second shuffle); order_checksum pins
    the exact in-batch ordering against the oracle."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        token_budget_batches,
    )

    d = load(spark, sf, "documents").select("doc_id", "n_chars")
    out = token_budget_batches(
        d, budget=20000, tokens_col="n_chars", n_shards=4, seed="r5b"
    )
    return (
        out.groupBy("shard", "batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("batch_tokens"),
            F.sum(F.col("doc_id") * (F.col("batch_pos") + 1)).alias(
                "order_checksum"
            ),
        )
        .orderBy("shard", "batch_id")
    )


@q(
    "q115_semantic_dedup",
    oracle="""
    WITH RECURSIVE base_e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id < 450),
    planted_e AS (
      SELECT vec_id + 1000 AS vec_id,
             [x * 0.5 FOR x IN v] AS v
      FROM base_e WHERE vec_id < 10),
    e AS (SELECT * FROM base_e UNION ALL SELECT * FROM planted_e),
    base_d AS (SELECT doc_id, n_chars FROM documents),
    planted_d AS (
      SELECT doc_id + 1000 AS doc_id, n_chars - 1 AS n_chars
      FROM base_d WHERE doc_id < 10),
    d AS (SELECT * FROM base_d UNION ALL SELECT * FROM planted_d),
    prs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.v, b.v) >= 0.95),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM prs
      UNION
      SELECT id_b, id_a FROM prs),
    walk AS (
      SELECT src AS id, src AS label FROM edges
      UNION
      SELECT w.id, e2.dst AS label
      FROM walk w JOIN edges e2 ON w.label = e2.src),
    cc AS (SELECT id, MIN(label) AS cluster_id FROM walk GROUP BY id),
    best AS (
      SELECT d.doc_id, d.n_chars
      FROM d JOIN cc ON d.doc_id = cc.id
      QUALIFY ROW_NUMBER() OVER (PARTITION BY cc.cluster_id
                                 ORDER BY d.n_chars DESC, d.doc_id) = 1),
    rest AS (
      SELECT doc_id, n_chars FROM d
      WHERE doc_id NOT IN (SELECT id FROM cc)),
    final AS (SELECT * FROM best UNION ALL SELECT * FROM rest)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
           CAST(SUM(n_chars) AS BIGINT) AS chars_kept
    FROM final
    """,
)
def q115(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup-style embedding dedup end-to-end: LSH-bucketed cosine
    near-dup pairs -> connected components -> keep-best resolution
    (`dedup.semantic_dedup`). The query plants 10 positively-scaled
    copies (cosine exactly 1.0 with their originals — a scaled vector
    keeps every hyperplane sign, so LSH collision is guaranteed in
    every table, making the DuckDB exact-pair oracle valid); the
    dataset's max natural cosine is 0.513, so threshold 0.95 isolates
    exactly the planted pairs. Docs 450..499 get no embedding and must
    pass through the anti-join untouched; each copy carries n_chars-1
    so the original deterministically wins keep-best."""
    from spark_iceberg_schema_evolution_spark.operators.dedup import (
        semantic_dedup,
    )

    e = load(spark, sf, "embeddings").where("vec_id < 450").select(
        "vec_id", "embedding"
    )
    planted_e = e.where("vec_id < 10").select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(0.5)).alias(
            "embedding"
        ),
    )
    emb = e.select(
        "vec_id", F.col("embedding").cast("array<double>")
    ).unionByName(planted_e)

    d = load(spark, sf, "documents").select("doc_id", "n_chars")
    planted_d = d.where("doc_id < 10").select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        (F.col("n_chars") - 1).alias("n_chars"),
    )
    docs = d.unionByName(planted_d)

    kept = semantic_dedup(
        docs,
        emb,
        quality_col="n_chars",
        dim=64,
        threshold=0.95,
        id_col="doc_id",
        emb_id_col="vec_id",
    )
    return kept.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("id_checksum"),
        F.sum("n_chars").alias("chars_kept"),
    )


@q(
    "q116_metadata_sql",
    oracle="""
    WITH y96 AS (
      SELECT STRFTIME(DATE_TRUNC('month', CAST(o_orderdate AS DATE)),
                      '%Y-%m') AS m
      FROM orders
      WHERE EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) = 1996),
    y97 AS (
      SELECT STRFTIME(DATE_TRUNC('month', CAST(o_orderdate AS DATE)),
                      '%Y-%m') AS m
      FROM orders
      WHERE EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) = 1997
        AND o_custkey < 500),
    allm AS (SELECT m FROM y96 UNION ALL SELECT m FROM y97)
    SELECT m AS month, CAST(COUNT(*) AS BIGINT) AS rows_,
           CAST(3 AS BIGINT) AS n_snapshots
    FROM allm GROUP BY m ORDER BY m
    """,
)
def q116(spark: SparkSession, sf: str) -> DataFrame:
    """Iceberg-style metadata tables through the SQL front door:
    ``lake.ns.t.partitions`` joins/aggregates like any table, and
    ``t.snapshots`` exposes the commit log (version, parent,
    committed_at_us). Both are driver-side manifest reads — the plan
    scans ZERO data files, which is the point: per-partition row counts
    at 100 TB cost the same as at 100 MB. The oracle recomputes the
    partition rows from raw data (3 snapshots = create + two appends)."""
    cat = _tmp_catalog(spark)
    o = load(spark, sf, "orders")
    cat.write_evolving(
        o.where(F.year(F.col("o_orderdate").cast("date")) == 1996),
        "db",
        "mt",
        partition_month_of="o_orderdate",
    )
    cat.table("db", "mt").append(
        o.where(
            (F.year(F.col("o_orderdate").cast("date")) == 1997)
            & (F.col("o_custkey") < 500)
        )
    )
    return cat.sql(
        "SELECT p.month, p.rows AS rows_, s.n_snapshots "
        "FROM lake.db.mt.partitions p CROSS JOIN "
        "(SELECT COUNT(*) AS n_snapshots FROM lake.db.mt.snapshots) s "
        "ORDER BY p.month"
    )


@q(
    "q117_sql_time_travel",
    oracle="""
    WITH s1 AS (
      SELECT c_custkey AS id,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal
      FROM customer WHERE c_custkey < 1000),
    s2 AS (
      SELECT c_custkey AS id,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal
      FROM customer WHERE c_custkey >= 1000 AND c_custkey < 1500),
    v2 AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2),
    v3 AS (SELECT id, CASE WHEN id < 50 THEN bal + 100 ELSE bal END
             AS bal FROM v2)
    SELECT 1 AS ver, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(bal) AS BIGINT) AS bal_c FROM s1
    UNION ALL
    SELECT 2, CAST(COUNT(*) AS BIGINT), CAST(SUM(bal) AS BIGINT) FROM v2
    UNION ALL
    SELECT 3, CAST(COUNT(*) AS BIGINT), CAST(SUM(bal) AS BIGINT) FROM v3
    ORDER BY ver
    """,
)
def q117(spark: SparkSession, sf: str) -> DataFrame:
    """ANSI time travel through the SQL front door: ``FOR VERSION AS
    OF`` pins the append and insert snapshots while the head reflects a
    COW UPDATE — one statement reads three snapshots of the same table
    (reference R10's read-by-version, as SQL). v1 = initial append,
    v2 = INSERT INTO, v3/head = UPDATE."""
    cat = _tmp_catalog(spark)
    c = load(spark, sf, "customer")
    c.select(
        F.col("c_custkey").alias("id"), cents(F.col("c_acctbal")).alias("bal")
    ).createOrReplaceTempView("q117_src")
    cat.write_evolving(
        cat.spark.sql("SELECT * FROM q117_src WHERE id < 1000"),
        "db",
        "tt",
    )
    cat.sql(
        "INSERT INTO lake.db.tt SELECT * FROM q117_src "
        "WHERE id >= 1000 AND id < 1500"
    )
    cat.sql("UPDATE lake.db.tt SET bal = bal + 100 WHERE id < 50")
    return cat.sql(
        "SELECT 1 AS ver, COUNT(*) AS n, SUM(bal) AS bal_c "
        "FROM lake.db.tt FOR VERSION AS OF 1 "
        "UNION ALL "
        "SELECT 2, COUNT(*), SUM(bal) FROM lake.db.tt FOR VERSION AS OF 2 "
        "UNION ALL "
        "SELECT 3, COUNT(*), SUM(bal) FROM lake.db.tt "
        "ORDER BY ver"
    )


@q(
    "q118_paragraph_dedup",
    oracle="""
    WITH src AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
    d AS (
      SELECT doc_id,
             substr(text, 1, 40) || chr(10) || chr(10) ||
             CASE WHEN doc_id % 5 = 0 THEN 'SHARED BOILERPLATE SENTENCE'
                  ELSE substr(text, 41, 40) END || chr(10) || chr(10) ||
             CASE WHEN doc_id % 7 = 0 THEN 'COMMON FOOTER'
                  ELSE substr(text, 81, 40) END AS text
      FROM src),
    parts AS (
      SELECT doc_id, string_split(text, chr(10) || chr(10)) AS ps FROM d),
    pos AS (
      SELECT doc_id, ps, UNNEST(generate_series(1, len(ps))) AS pos
      FROM parts),
    paras AS (
      SELECT doc_id, pos, ps[pos] AS p,
             md5(lower(trim(ps[pos]))) AS h
      FROM pos),
    keep AS (
      SELECT doc_id, pos, p FROM paras
      QUALIFY ROW_NUMBER() OVER (PARTITION BY h
                                 ORDER BY doc_id, pos) = 1),
    reb AS (
      SELECT doc_id,
             string_agg(p, chr(10) || chr(10) ORDER BY pos) AS text
      FROM keep GROUP BY doc_id)
    SELECT s.doc_id,
           CAST(length(COALESCE(r.text, '')) AS BIGINT) AS n_chars
    FROM d s LEFT JOIN reb r ON s.doc_id = r.doc_id
    ORDER BY s.doc_id
    """,
)
def q118(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-level exact paragraph dedup, keep-first (CCNet/Dolma):
    the query assembles paragraph-structured docs with planted
    cross-doc duplicates (a shared boilerplate sentence in every 5th
    doc, a common footer in every 7th), then `text.dedup_paragraphs`
    drops every repeat except the corpus-first occurrence and rebuilds
    each doc map-side. The oracle replays split -> global keep-first ->
    ordered re-agg in DuckDB; per-doc char counts pin exact content."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        dedup_paragraphs,
    )

    d = load(spark, sf, "documents").where(F.col("doc_id") < 200)
    docs = d.select(
        "doc_id",
        F.concat_ws(
            "\n\n",
            F.substring("text", 1, 40),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit("SHARED BOILERPLATE SENTENCE"),
            ).otherwise(F.substring("text", 41, 40)),
            F.when(
                F.col("doc_id") % 7 == 0, F.lit("COMMON FOOTER")
            ).otherwise(F.substring("text", 81, 40)),
        ).alias("text"),
    )
    out = dedup_paragraphs(docs)
    return out.select(
        "doc_id", F.length("text").cast("bigint").alias("n_chars")
    ).orderBy("doc_id")


@q(
    "q119_quantile_filter",
    oracle="""
    WITH b AS (
      SELECT quantile_cont(n_chars, 0.25) AS lo,
             quantile_cont(n_chars, 0.75) AS hi
      FROM documents)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
           CAST(MIN(n_chars) AS BIGINT) AS min_kept,
           CAST(MAX(n_chars) AS BIGINT) AS max_kept
    FROM documents, b
    WHERE n_chars >= lo AND n_chars <= hi
    """,
)
def q119(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-percentile band filter over a quality score
    (`text.quantile_band_filter`): trim the corpus to its [p25, p75]
    n_chars band. Exact PERCENTILE_CONT on both engines makes the kept
    set reproducible (approx_percentile would not hash-match); the
    thresholds broadcast back, the corpus filter is map-only."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        quantile_band_filter,
    )

    d = load(spark, sf, "documents").select("doc_id", "n_chars")
    kept = quantile_band_filter(d, "n_chars", 0.25, 0.75)
    return kept.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("id_checksum"),
        F.min("n_chars").alias("min_kept"),
        F.max("n_chars").alias("max_kept"),
    )


@q(
    "q120_sql_procedures",
    oracle="""
    WITH src AS (
      SELECT o_orderkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price
      FROM orders WHERE o_custkey < 1500)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(price) AS BIGINT) AS price_c,
           CAST(1 AS BIGINT) AS n_batches
    FROM src
    """,
)
def q120(spark: SparkSession, sf: str) -> DataFrame:
    """Stored-procedure surface: three appends, then
    ``CALL lake.system.rewrite_data_files(..., sort_order => ...)``
    compacts to a single sorted batch — invoked purely through SQL, and
    verified through SQL too (the batch count comes from the ``files``
    metadata table, zero data files scanned for it). Content must be
    byte-identical to the pre-compaction union; Iceberg-procedure
    analogue of the reference's Athena OPTIMIZE."""
    cat = _tmp_catalog(spark)
    o = load(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", cents(F.col("o_totalprice")).alias("price")
    )
    cat.write_evolving(o.where("o_custkey < 500"), "db", "co")
    t = cat.table("db", "co")
    t.append(o.where("o_custkey >= 500 AND o_custkey < 1000"))
    t.append(o.where("o_custkey >= 1000 AND o_custkey < 1500"))
    cat.sql(
        "CALL lake.system.rewrite_data_files('db.co', "
        "sort_order => 'o_orderkey')"
    )
    return cat.sql(
        "SELECT COUNT(*) AS n_rows, SUM(price) AS price_c, "
        "(SELECT COUNT(DISTINCT batch) FROM lake.db.co.files "
        " WHERE content = 'data') AS n_batches "
        "FROM lake.db.co"
    )


@q(
    "q121_corpus_mix",
    oracle="""
    WITH tok AS (
      SELECT source, CAST(SUM(n_chars) AS DOUBLE) AS t
      FROM documents
      WHERE source IN ('src0', 'src1', 'src2', 'src3')
      GROUP BY source),
    w AS (
      SELECT source,
             (30000 * CASE source WHEN 'src0' THEN 0.5
                                  WHEN 'src1' THEN 0.25
                                  WHEN 'src2' THEN 0.125
                                  ELSE 0.125 END) / t AS wt
      FROM tok),
    thr AS (
      SELECT source, CAST(FLOOR(wt) AS INT) AS base,
             printf('%04x',
                    CAST(FLOOR(65536 * (wt - FLOOR(wt))) AS INT)) AS hex
      FROM w),
    d AS (
      SELECT doc_id, source, n_chars,
             substr(md5('r5m:' || CAST(doc_id AS VARCHAR)), 1, 4)
               AS bucket
      FROM documents
      WHERE source IN ('src0', 'src1', 'src2', 'src3')),
    c AS (
      SELECT d.doc_id, d.source, d.n_chars,
             thr.base + CASE WHEN d.bucket < thr.hex THEN 1 ELSE 0 END
               AS copies
      FROM d JOIN thr ON d.source = thr.source),
    x AS (
      SELECT doc_id, source, n_chars, g.g AS copy_idx
      FROM c JOIN (VALUES (1), (2), (3)) AS g(g) ON g.g <= c.copies)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(SUM(n_chars) AS BIGINT) AS tokens_real,
           CAST(SUM(doc_id * copy_idx) AS BIGINT) AS checksum
    FROM x GROUP BY source ORDER BY source
    """,
)
def q121(spark: SparkSession, sf: str) -> DataFrame:
    """Training-mixture builder end-to-end: target token shares
    {src0: 50%, src1: 25%, src2/3: 12.5%} of a 30k budget solve to
    per-domain epoch rates (src0 ~1.89 epochs, the rest subsample),
    then the exact md5-threshold resampler applies them
    (`text.mix_corpora`). The oracle re-derives the RATES from raw
    token counts with the same fixed-order double arithmetic and
    replays every copy decision — the whole mix is auditable from the
    data alone; checksum pins per-copy expansion."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        mix_corpora,
    )

    d = load(spark, sf, "documents").select("doc_id", "source", "n_chars")
    mixed = mix_corpora(
        d.where(F.col("source").isin("src0", "src1", "src2", "src3")),
        {"src0": 0.5, "src1": 0.25, "src2": 0.125, "src3": 0.125},
        total_tokens=30000,
        seed="r5m",
    )
    return (
        mixed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.sum("n_chars").alias("tokens_real"),
            F.sum(F.col("doc_id") * F.col("copy_idx")).alias("checksum"),
        )
        .orderBy("source")
    )


@q(
    "q122_expectations",
    oracle="""
    SELECT 'not_null(l_linestatus)' AS rule,
           CAST((SELECT COUNT(*) FROM lineitem WHERE l_linestatus IS NULL)
                AS BIGINT) AS n_violations
    UNION ALL
    SELECT 'unique(l_orderkey,l_linenumber)',
           CAST((SELECT COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber))
                 FROM lineitem) AS BIGINT)
    UNION ALL
    SELECT 'unique(l_orderkey)',
           CAST((SELECT COUNT(*) - COUNT(DISTINCT l_orderkey)
                 FROM lineitem) AS BIGINT)
    UNION ALL
    SELECT 'accepted_values(l_returnflag)',
           CAST((SELECT COUNT(*) FROM lineitem
                 WHERE l_returnflag IS NOT NULL
                   AND l_returnflag NOT IN ('A', 'N')) AS BIGINT)
    UNION ALL
    SELECT 'range(l_quantity)',
           CAST((SELECT COUNT(*) FROM lineitem
                 WHERE l_quantity IS NOT NULL
                   AND (l_quantity < 1 OR l_quantity > 50)) AS BIGINT)
    UNION ALL
    SELECT 'expression(positive_price)',
           CAST((SELECT COUNT(*) FROM lineitem
                 WHERE NOT (l_extendedprice > 0)) AS BIGINT)
    """,
)
def q122(spark: SparkSession, sf: str) -> DataFrame:
    """Deequ/dbt-style expectations gate (`profile.validate_expectations`):
    six rules — including a deliberately failing accepted-values set and
    a non-unique key — evaluated in ONE aggregate pass (conditional sums
    fused with the exact multi-distincts; long format from a plan-side
    stack, no second scan). The per-batch quality gate an ingest
    pipeline runs before committing."""
    from spark_iceberg_schema_evolution_spark.operators.profile import (
        validate_expectations,
    )

    li = load(spark, sf, "lineitem")
    out = validate_expectations(
        li,
        [
            {"rule": "not_null", "col": "l_linestatus"},
            {"rule": "unique", "cols": ["l_orderkey", "l_linenumber"]},
            {"rule": "unique", "cols": ["l_orderkey"]},
            {
                "rule": "accepted_values",
                "col": "l_returnflag",
                "values": ["A", "N"],
            },
            {"rule": "range", "col": "l_quantity", "min": 1, "max": 50},
            {
                "rule": "expression",
                "name": "positive_price",
                "expr": "l_extendedprice > 0",
            },
        ],
    )
    return out.select("rule", "n_violations")


@q(
    "q123_partition_evolution",
    oracle="""
    WITH src AS (
      SELECT o_orderkey, o_orderdate,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price
      FROM orders
      WHERE o_custkey < 800
        AND EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) IN (1995, 1996)),
    live AS (SELECT * FROM src WHERE NOT (price > 20000000))
    SELECT STRFTIME(DATE_TRUNC('month', CAST(o_orderdate AS DATE)),
                    '%Y-%m') AS month,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(price) AS BIGINT) AS price_c
    FROM live GROUP BY 1 ORDER BY 1
    """,
)
def q123(spark: SparkSession, sf: str) -> DataFrame:
    """Partition evolution end-to-end: the 1995 block lands
    UNPARTITIONED, the spec then evolves to months(o_orderdate)
    (metadata-only — nothing rewrites), the 1996 block lands in the new
    layout, and a COW DELETE spans both: current-spec batches
    month-trim by manifest metadata while the foreign-layout 1995 rows
    ride the carry scan (and migrate to the new layout as a side
    effect). Iceberg's partition-evolution contract: pruning never
    lies across specs, old data never rewrites until touched."""
    cat = _tmp_catalog(spark)
    o = load(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate",
        cents(F.col("o_totalprice")).alias("price"),
    )
    y95 = o.where(
        (F.year(F.col("o_orderdate").cast("date")) == 1995)
        & (F.col("o_custkey") < 800)
    ).drop("o_custkey")
    y96 = o.where(
        (F.year(F.col("o_orderdate").cast("date")) == 1996)
        & (F.col("o_custkey") < 800)
    ).drop("o_custkey")
    cat.write_evolving(y95, "db", "pe")
    t = cat.table("db", "pe")
    t.set_partition_spec("o_orderdate")
    t.append(y96)
    t.delete_where("price > 20000000")
    return (
        t.read()
        .groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("month")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("price").alias("price_c"),
        )
        .orderBy("month")
    )


@q(
    "q124_bucket_pruning",
    oracle="""
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
           CAST(o_custkey AS BIGINT) AS o_custkey,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c
    FROM orders
    WHERE o_orderkey IN (1, 7, 33)
    ORDER BY o_orderkey
    """,
)
def q124(spark: SparkSession, sf: str) -> DataFrame:
    """Hidden bucket(16, o_orderkey) partition transform (Iceberg's
    bucket transform — no reference analogue): appends land in
    pmod(hash(key), 16) sub-dirs, and each point lookup re-computes the
    literal's Murmur3 bucket DRIVER-SIDE (hashing.spark_hash, the
    planner's replica of F.hash) to plan exactly one file per batch —
    the point-lookup skip path min/max stats can't provide on
    hash-distributed keys. Planning counts are asserted in
    tests/test_bucketing.py; the driver checks value equivalence of the
    three pruned lookups against the plain IN-filter."""
    cat = _tmp_catalog(spark)
    o = load(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", cents(F.col("o_totalprice")).alias("price_c")
    )
    cat.create_namespace("db")
    t = cat.table("db", "bucketed")
    t.create(o.schema, bucket_by=("o_orderkey", 16))
    # two appends = two bucketed batches; lookups prune within each
    t.append(o.where("o_custkey % 2 = 0"))
    t.append(o.where("o_custkey % 2 = 1"))
    parts = [
        t.read_where([("o_orderkey", "=", k)]) for k in (1, 7, 33)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("o_orderkey")


@q(
    "q125_url_curation",
    oracle="""
    WITH raw AS (
      SELECT doc_id, n_chars,
             'HTTP://WWW.' || source ||
             CASE WHEN doc_id % 2 = 0 THEN '.Example.COM:80'
                  ELSE '.site.org' END ||
             '/docs/' || doc_id ||
             CASE WHEN doc_id % 3 = 0
                  THEN '/?utm_source=feed&utm_medium=rss&ref=x&page='
                       || (doc_id % 5)
                  ELSE '/' END ||
             CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END AS u
      FROM documents WHERE doc_id < 2000),
    s1 AS (SELECT doc_id, n_chars,
             regexp_replace(u, '#.*$', '', 'g') AS u FROM raw),
    s2 AS (SELECT doc_id, n_chars,
             lower(regexp_extract(u,
                     '^([a-zA-Z][\\w+.-]*://[^/?#]*)', 1)) ||
             regexp_replace(u,
                     '^[a-zA-Z][\\w+.-]*://[^/?#]*', '') AS u FROM s1),
    s3 AS (SELECT doc_id, n_chars,
             regexp_replace(regexp_replace(
               u, '([?&])utm_source=[^&#]*&', '\\1', 'g'),
               '[?&]utm_source=[^&#]*$', '', 'g') AS u FROM s2),
    s4 AS (SELECT doc_id, n_chars,
             regexp_replace(regexp_replace(
               u, '([?&])utm_medium=[^&#]*&', '\\1', 'g'),
               '[?&]utm_medium=[^&#]*$', '', 'g') AS u FROM s3),
    s5 AS (SELECT doc_id, n_chars,
             regexp_replace(regexp_replace(
               u, '([?&])ref=[^&#]*&', '\\1', 'g'),
               '[?&]ref=[^&#]*$', '', 'g') AS u FROM s4),
    s6 AS (SELECT doc_id, n_chars,
             regexp_replace(u,
               '^(http://[^/:?#]*):80($|[/?#].*)', '\\1\\2', 'g')
             AS u FROM s5),
    s7 AS (SELECT doc_id, n_chars,
             regexp_replace(u, '^(https?://)www\\.', '\\1', 'g')
             AS u FROM s6),
    s8 AS (SELECT doc_id, n_chars,
             regexp_replace(regexp_replace(
               u, '^(https?://[^?#]*[^/?#])/(\\?.*)?$', '\\1\\2', 'g'),
               '^(https?://[^/?#]+)/$', '\\1', 'g') AS u FROM s7),
    host AS (SELECT doc_id, n_chars, u,
             regexp_replace(lower(regexp_extract(u,
               '^[a-zA-Z][\\w+.-]*://(?:[^@/]*@)?([^/:?#]+)', 1)),
               '^www\\.', '', 'g') AS h FROM s8),
    dom AS (SELECT doc_id, n_chars, u,
             regexp_extract(h, '([^.]+\\.[^.]+)$', 1) AS d FROM host),
    kept AS (SELECT * FROM dom WHERE d <> 'site.org'),
    ranked AS (SELECT doc_id, u, d, n_chars,
             ROW_NUMBER() OVER (PARTITION BY d
               ORDER BY n_chars DESC, doc_id ASC) AS rk FROM kept)
    SELECT CAST(doc_id AS BIGINT) AS doc_id, u AS url, d AS domain,
           CAST(n_chars AS BIGINT) AS n_chars
    FROM ranked WHERE rk <= 40 ORDER BY doc_id
    """,
)
def q125(spark: SparkSession, sf: str) -> DataFrame:
    """URL curation chain (RefinedWeb-style, no reference analogue):
    deterministic crawl-ish URLs derived from the documents table run
    through normalize_url (fragment/tracker/port/www/trailing-slash
    canonicalization — every rule RE2-expressible so the DuckDB oracle
    replays the byte-identical ruleset), registered-domain extraction,
    a domain blocklist, and a per-domain document cap (rank window ->
    WindowGroupLimit). The oracle rebuilds the same URLs in SQL and
    re-runs every normalization pass."""
    from spark_iceberg_schema_evolution_spark.operators.urls import (
        cap_per_domain,
        normalize_url,
        registered_domain,
    )

    d = load(spark, sf, "documents").where("doc_id < 2000")
    did = F.col("doc_id")
    raw = F.concat(
        F.lit("HTTP://WWW."),
        F.col("source"),
        F.when(did % 2 == 0, F.lit(".Example.COM:80")).otherwise(
            F.lit(".site.org")
        ),
        F.lit("/docs/"),
        did.cast("string"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit("/?utm_source=feed&utm_medium=rss&ref=x&page="),
                (did % 5).cast("string"),
            ),
        ).otherwise(F.lit("/")),
        F.when(did % 4 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    urls = d.select(
        "doc_id",
        normalize_url(raw).alias("url"),
        F.col("n_chars"),
    ).withColumn("domain", registered_domain(F.col("url")))
    kept = urls.where(F.col("domain") != "site.org")
    capped = cap_per_domain(
        kept,
        cap=40,
        url_col="url",
        order_by=[F.desc("n_chars"), F.asc("doc_id")],
    )
    return capped.select(
        "doc_id", "url", "domain", "n_chars"
    ).orderBy("doc_id")


@q(
    "q127_cluster_sample",
    oracle="""
    WITH cents AS (
      SELECT vec_id AS cid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM embeddings WHERE vec_id < 8),
    v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
      FROM embeddings),
    d AS (
      SELECT v.vec_id, v.label, cents.cid,
             list_reduce(
               list_transform(list_zip(ev, cv),
                 p -> (p[1] - p[2]) * (p[1] - p[2])),
               (a, b) -> a + b) AS dist
      FROM v CROSS JOIN cents),
    a AS (
      SELECT vec_id, label, cid,
             ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY dist ASC, cid ASC) AS rn
      FROM d),
    asg AS (SELECT vec_id, label, cid AS cluster FROM a WHERE rn = 1),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster
        ORDER BY md5('div:' || CAST(vec_id AS VARCHAR)), vec_id) AS rk
      FROM asg)
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           CAST(label AS INT) AS label, CAST(cluster AS INT) AS cluster
    FROM r WHERE rk <= 20 ORDER BY vec_id
    """,
)
def q127(spark: SparkSession, sf: str) -> DataFrame:
    """Diversity-balanced sampling over the embedding space
    (similarity.cluster_balanced_sample): assign every vector to its
    nearest centroid with the zero-shuffle literal-centroid argmin,
    then keep a fixed md5-ranked quota per cluster. The model here is
    PRE-FIT (the first 8 embeddings as centroids — the bounded
    model-reuse path), which makes the whole pipeline exact arithmetic:
    the oracle replays the same sequential-fold squared distances,
    argmin tie-break, and md5 quota in SQL. The KMeans-fit path is
    covered rows-only (t2) and by pytest determinism/quota checks."""
    from spark_iceberg_schema_evolution_spark.operators.similarity import (
        cluster_balanced_sample,
    )

    e = load(spark, sf, "embeddings")
    cents = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in e.where("vec_id < 8")
        .select("vec_id", "embedding")
        .collect()
    ]
    out = cluster_balanced_sample(
        e,
        per_cluster=20,
        id_col="vec_id",
        vec_col="embedding",
        seed="div",
        centroids=cents,
    )
    return out.select(
        "vec_id", F.col("label").cast("int").alias("label"), "cluster"
    ).orderBy("vec_id")


@q(
    "q128_lm_quality_score",
    oracle="""
    WITH d AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 3000),
    toks AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)), '\\s+') AS tk
      FROM d),
    pairs AS (
      SELECT doc_id, tk[i] || ' ' || tk[i+1] AS bigram, tk[i] AS w1
      FROM toks, UNNEST(range(1, len(tk))) AS r(i)),
    counts AS (SELECT bigram, COUNT(*) AS n FROM pairs GROUP BY bigram),
    ctx AS (
      SELECT string_split(bigram, ' ')[1] AS w1, SUM(n) AS cw1
      FROM counts GROUP BY 1),
    vocab AS (
      SELECT COUNT(DISTINCT t) AS v FROM (
        SELECT string_split(bigram, ' ')[1] AS t FROM counts
        UNION
        SELECT string_split(bigram, ' ')[2] FROM counts)),
    lp AS (
      SELECT p.doc_id,
             ln((c.n + 0.4) / (x.cw1 + 0.4 * vocab.v)) AS l
      FROM pairs p
      JOIN counts c USING (bigram)
      JOIN ctx x ON p.w1 = x.w1
      CROSS JOIN vocab),
    agg AS (
      SELECT doc_id, AVG(l) AS s, COUNT(*) AS nb FROM lp
      GROUP BY doc_id)
    SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
           CAST(ROUND(a.s, 6) AS DOUBLE) AS logprob_r,
           CAST(COALESCE(a.nb, 0) AS BIGINT) AS n_bigrams
    FROM d LEFT JOIN agg a USING (doc_id) ORDER BY doc_id
    """,
)
def q128(spark: SparkSession, sf: str) -> DataFrame:
    """Statistical LM quality scoring (text.score_bigram_logprob — the
    CCNet recipe's KenLM slot filled with a corpus bigram model): every
    document's mean smoothed bigram log-probability under the corpus
    LM, self-scored here so the oracle can re-derive the model, the
    smoothing, and every log term from raw data. Scores round to 6dp on
    both sides (the only FP divergence is summation order inside AVG,
    orders of magnitude below the rounding quantum)."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        score_bigram_logprob,
    )

    d = load(spark, sf, "documents").where("doc_id < 3000").select(
        "doc_id", "text"
    )
    out = score_bigram_logprob(d)
    return out.select(
        "doc_id",
        F.round("logprob_avg", 6).alias("logprob_r"),
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
    ).orderBy("doc_id")


@q(
    "q129_audio_framing",
    oracle="""
    WITH media AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n
      FROM documents WHERE doc_id < 200),
    starts AS (
      SELECT media_id, hx,
             CASE WHEN n >= 64
                  THEN generate_series(1, n - 64 + 1, 48)
                  ELSE [] END AS ss
      FROM media),
    frames AS (
      SELECT media_id, hx,
             CAST((u.gs - 1) // 48 AS INT) AS frame_idx,
             u.gs - 1 AS s1
      FROM starts, UNNEST(ss) AS u(gs))
    SELECT CAST(media_id AS BIGINT) AS media_id, frame_idx,
           CAST(s1 AS BIGINT) AS byte_offset,
           md5(substr(hx, s1 * 2 + 1, 128)) AS frame_fp
    FROM frames ORDER BY media_id, frame_idx
    """,
)
def q129(spark: SparkSession, sf: str) -> DataFrame:
    """Audio-frame windowing over binary payloads
    (multimodal.frame_signal): the documents fixture stands in as raw
    PCM (utf-8 payload bytes), framed into 64-byte windows at a 48-byte
    hop with JVM-only byte slicing — one scan, no Python on the
    payload. The oracle re-frames the identical byte-stream through
    DuckDB's hex-string slicing (2 hex chars per byte) and matches the
    md5-of-hex fingerprint of every frame byte-for-byte."""
    from spark_iceberg_schema_evolution_spark.operators.multimodal import (
        documents_as_media,
        frame_signal,
    )

    d = load(spark, sf, "documents").where("doc_id < 200")
    media = documents_as_media(d)
    out = frame_signal(media, frame_bytes=64, hop_bytes=48)
    return out.select(
        "media_id", "frame_idx",
        F.col("byte_offset").cast("long").alias("byte_offset"),
        "frame_fp",
    ).orderBy("media_id", "frame_idx")


@q(
    "q130_incremental_rollup",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderpriority AS pri,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c
      FROM orders WHERE o_custkey < 1500 AND o_orderkey < 6000),
    kept AS (SELECT * FROM base WHERE NOT (price_c > 20000000)),
    upd AS (
      SELECT pri,
             CASE WHEN pri = '1-URGENT' THEN price_c + 1
                  ELSE price_c END AS price_c
      FROM kept)
    SELECT pri, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(price_c) AS BIGINT) AS sum_price_c
    FROM upd GROUP BY pri ORDER BY pri
    """,
)
def q130(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental materialized rollup (operators/rollup.py — the
    hypertable continuous-aggregate shape): a COUNT/SUM GROUP BY
    rollup refreshed from row-level CDC deltas through four source
    commits — append, append, COW DELETE, COW UPDATE — each refresh
    merging only the diff()'d rows. The oracle recomputes the final
    aggregate from raw data in one shot: incremental maintenance must
    be indistinguishable from a from-scratch rebuild."""
    from spark_iceberg_schema_evolution_spark.operators.rollup import (
        refresh_rollup,
    )

    cat = _tmp_catalog(spark)
    o = load(spark, sf, "orders").where("o_custkey < 1500").select(
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
    refresh_rollup(src, dst, ["pri"], ["price_c"])
    return dst.read().orderBy("pri")


@q(
    "q131_contamination_stats",
    oracle="""
    WITH tk AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)), '\\s+') AS w
      FROM documents),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 5
                  THEN list_distinct(list_transform(
                         range(0, len(w) - 5 + 1),
                         i -> array_to_string(w[i+1:i+5], ' ')))
                  ELSE [array_to_string(w, ' ')] END AS ss
      FROM tk),
    docsh AS (
      SELECT doc_id, unnest(ss) AS s FROM sh WHERE doc_id < 400),
    bench AS (
      SELECT DISTINCT unnest(ss) AS s FROM sh
      WHERE doc_id >= 400 AND doc_id < 420),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_shingles,
             SUM(CASE WHEN s IN (SELECT s FROM bench)
                      THEN 1 ELSE 0 END) AS n_overlap
      FROM docsh GROUP BY doc_id)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_shingles AS BIGINT) AS n_shingles,
           CAST(n_overlap AS BIGINT) AS n_overlap,
           CAST(n_overlap AS DOUBLE) / n_shingles AS overlap_frac
    FROM agg ORDER BY doc_id
    """,
)
def q131(spark: SparkSession, sf: str) -> DataFrame:
    """Graded benchmark contamination (dedup.contamination_stats):
    per-document distinct-5-gram overlap fraction against a benchmark
    slice of the same corpus — the measurement behind GPT-3/Llama-style
    threshold policies, beside q106's any-hit drop rule. Benchmark
    shingles broadcast; corpus pays one map-side explode + one id-keyed
    aggregate. The oracle rebuilds the shingle sets and the overlap
    arithmetic in SQL (the division is a single IEEE op on two exact
    ints — engine-identical, no rounding needed)."""
    from spark_iceberg_schema_evolution_spark.operators.dedup import (
        contamination_stats,
    )

    d = load(spark, sf, "documents")
    docs = d.where("doc_id < 400")
    bench = d.where("doc_id >= 400 AND doc_id < 420")
    out = contamination_stats(docs, bench)
    return out.select(
        "doc_id", "n_shingles", "n_overlap", "overlap_frac"
    ).orderBy("doc_id")


@q(
    "q132_merge_by_source",
    oracle="""
    WITH tgt AS (
      SELECT o_orderkey, o_orderpriority AS pri,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c
      FROM orders WHERE o_custkey < 1200 AND o_orderkey < 4000),
    src AS (
      SELECT o_orderkey, o_orderpriority AS pri,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) + 7 AS price_c
      FROM orders
      WHERE o_custkey < 1200
        AND o_orderkey >= 2000 AND o_orderkey < 6000),
    kept_unmatched AS (
      SELECT t.* FROM tgt t
      WHERE t.o_orderkey NOT IN (SELECT o_orderkey FROM src)
        AND NOT (t.price_c < 10000000)),
    final AS (
      SELECT * FROM src
      UNION ALL
      SELECT o_orderkey, pri, price_c FROM kept_unmatched)
    SELECT pri, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(price_c) AS BIGINT) AS total_c,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key
    FROM final GROUP BY pri ORDER BY pri
    """,
)
def q132(spark: SparkSession, sf: str) -> DataFrame:
    """MERGE with WHEN NOT MATCHED BY SOURCE (Spark 4 / Iceberg's
    full-sync clause, round-5 addition to the q89 clause family):
    matched rows update, new rows insert, and target rows ABSENT from
    the source delete when they fail a retention condition — the
    snapshot-sync shape that reconciles a table against an
    authoritative feed. Routed through the SQL front door; the oracle
    replays the set algebra relationally."""
    cat = _tmp_catalog(spark)
    o = load(spark, sf, "orders").where("o_custkey < 1200").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("pri"),
        cents(F.col("o_totalprice")).alias("price_c"),
    )
    cat.write_evolving(o.where("o_orderkey < 4000"), "db", "sync")
    src = o.where(
        "o_orderkey >= 2000 AND o_orderkey < 6000"
    ).withColumn("price_c", F.col("price_c") + 7)
    src.createOrReplaceTempView("q132_src")
    cat.sql(
        "MERGE INTO lake.db.sync t USING q132_src s "
        "ON t.o_orderkey = s.o_orderkey "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE AND t.price_c < 10000000 "
        "THEN DELETE"
    )
    return (
        cat.table("db", "sync")
        .read()
        .groupBy("pri")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("price_c").alias("total_c"),
            F.min("o_orderkey").alias("min_key"),
        )
        .orderBy("pri")
    )


@q(
    "q133_initial_default",
    oracle="""
    WITH old AS (
      SELECT o_orderkey, 50 AS rating FROM orders
      WHERE o_custkey < 900 AND o_orderkey < 3000),
    newer AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 10 = 0 THEN NULL
                  ELSE CAST(o_orderkey % 100 AS INT) END AS rating
      FROM orders
      WHERE o_custkey < 900
        AND o_orderkey >= 3000 AND o_orderkey < 6000),
    allr AS (SELECT * FROM old UNION ALL SELECT * FROM newer)
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(rating) AS BIGINT) AS n_rated,
           CAST(SUM(rating) AS BIGINT) AS total,
           CAST(SUM(CASE WHEN rating = 50 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_default
    FROM allr
    """,
)
def q133(spark: SparkSession, sf: str) -> DataFrame:
    """Initial-default column lifecycle (Iceberg v3's ADD COLUMN ...
    DEFAULT, metadata-only): rows written BEFORE the column existed
    read back as the default — no file rewritten — while rows written
    after keep stored values including explicit NULLs. Routed through
    the SQL front door; the oracle replays the two-epoch semantics
    with a CASE over raw data."""
    cat = _tmp_catalog(spark)
    o = load(spark, sf, "orders").where("o_custkey < 900").select(
        "o_orderkey"
    )
    cat.write_evolving(o.where("o_orderkey < 3000"), "db", "dflt")
    cat.sql(
        "ALTER TABLE lake.db.dflt ADD COLUMN rating INT DEFAULT 50"
    )
    t = cat.table("db", "dflt")
    t.append(
        o.where("o_orderkey >= 3000 AND o_orderkey < 6000").withColumn(
            "rating",
            F.when(
                F.col("o_orderkey") % 10 == 0, F.lit(None)
            ).otherwise((F.col("o_orderkey") % 100).cast("int")),
        )
    )
    return t.read().agg(
        F.count(F.lit(1)).alias("n"),
        F.count("rating").alias("n_rated"),
        F.sum("rating").alias("total"),
        F.sum(
            F.when(F.col("rating") == 50, 1).otherwise(0)
        ).alias("n_default"),
    )


@q(
    "q134_gapfill_locf",
    oracle="""
    WITH ev AS (
      SELECT user_id, ts, value FROM events WHERE user_id < 20),
    b AS (
      SELECT user_id,
             CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS bkt,
             ts, value
      FROM ev),
    rn AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, bkt
                ORDER BY ts DESC, value DESC) AS r
      FROM b),
    picked AS (SELECT user_id, bkt, value FROM rn WHERE r = 1),
    spans AS (
      SELECT user_id, MIN(bkt) AS lo, MAX(bkt) AS hi
      FROM picked GROUP BY user_id),
    grid AS (
      SELECT user_id, unnest(generate_series(lo, hi, 3600)) AS bucket_s
      FROM spans),
    j AS (
      SELECT g.user_id, g.bucket_s, p.value AS v
      FROM grid g LEFT JOIN picked p
        ON p.user_id = g.user_id AND p.bkt = g.bucket_s)
    SELECT CAST(user_id AS BIGINT) AS user_id, bucket_s,
           last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
             ORDER BY bucket_s ROWS UNBOUNDED PRECEDING) AS value,
           v IS NULL AS is_gap
    FROM j ORDER BY user_id, bucket_s
    """,
)
def q134(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series gap filling with carry-forward
    (relational.gapfill_locf — TimescaleDB's time_bucket_gapfill +
    locf): each user's event series bucketed to the hour, the full
    hourly grid generated per key from its own span, and the last
    observed value carried across empty buckets (leading gaps keep
    NULL — locf never invents data). The oracle replays bucketing,
    per-bucket winner, grid, and the IGNORE NULLS carry window in
    SQL."""
    from spark_iceberg_schema_evolution_spark.operators.relational import (
        gapfill_locf,
    )

    ev = load_events(spark, sf).where("user_id < 20")
    out = gapfill_locf(
        ev, "ts", ["user_id"], 3600, "value"
    )
    return out.orderBy("user_id", "bucket_s")


@q(
    "q135_clean_text",
    oracle="""
    WITH dirty AS (
      SELECT doc_id,
             chr(7) || ' ' || replace(text, 'a', chr(9) || 'a')
             || '  ' || chr(31) AS t
      FROM documents WHERE doc_id < 300),
    cleaned AS (
      SELECT doc_id,
             trim(regexp_replace(
               regexp_replace(t,
                 '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
               '\\s+', ' ', 'g')) AS t
      FROM dirty)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           md5(t) AS clean_md5,
           CAST(length(t) AS BIGINT) AS n_chars
    FROM cleaned ORDER BY doc_id
    """,
)
def q135(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic text hygiene (text.clean_text): control characters
    injected into the documents fixture strip out, whitespace runs
    collapse, edges trim — the pre-tokenization cleanup pass, entirely
    JVM regex with RE2-subset rules so the oracle replays the exact
    ruleset and matches the cleaned text md5 byte-for-byte."""
    from spark_iceberg_schema_evolution_spark.operators.text import clean_text

    d = load(spark, sf, "documents").where("doc_id < 300")
    dirty = d.select(
        "doc_id",
        F.concat(
            F.lit("\x07 "),
            F.regexp_replace(F.col("text"), "a", "\ta"),
            F.lit("  \x1f"),
        ).alias("text"),
    )
    out = clean_text(dirty)
    return out.select(
        "doc_id",
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("clean_md5"),
        F.length("text").cast("long").alias("n_chars"),
    ).orderBy("doc_id")


@q(
    "q136_histogram",
    oracle="""
    WITH s AS (
      SELECT o_totalprice AS x FROM orders WHERE o_custkey < 2000),
    b AS (SELECT MIN(x) AS lo, MAX(x) AS hi FROM s),
    w AS (SELECT lo, hi, (hi - lo) / 16 AS width FROM b),
    binned AS (
      SELECT LEAST(GREATEST(
               CAST(FLOOR((x - lo) / width) AS INT), 0), 15) AS bin
      FROM s, w),
    counts AS (SELECT bin, COUNT(*) AS n FROM binned GROUP BY bin),
    grid AS (SELECT CAST(unnest(range(0, 16)) AS INT) AS bin)
    SELECT g.bin, w.lo + g.bin * w.width AS bin_lo,
           w.lo + (g.bin + 1) * w.width AS bin_hi,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n
    FROM grid g CROSS JOIN w LEFT JOIN counts c ON c.bin = g.bin
    ORDER BY g.bin
    """,
)
def q136(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-width histogram profiling (profile.histogram): 16 bins over
    order totals with observed bounds, empty bins surfaced — the
    binning uses explicit FLOOR arithmetic (not an engine's
    width_bucket) precisely so every engine reproduces identical bin
    assignment, including the upper-bound value clamping into the last
    bin. One bounds pass + one map-side bin hash-aggregate."""
    from spark_iceberg_schema_evolution_spark.operators.profile import histogram

    o = load(spark, sf, "orders").where("o_custkey < 2000")
    return histogram(o, "o_totalprice", 16).orderBy("bin")


@q(
    "q137_funnel",
    oracle="""
    WITH ev AS (
      SELECT user_id, ts, event_type FROM events),
    u AS (SELECT DISTINCT user_id FROM ev),
    s1 AS (
      SELECT user_id, MIN(epoch_us(ts)) AS t1 FROM ev
      WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
      FROM ev e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t1
      GROUP BY e.user_id),
    s3 AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3
      FROM ev e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2
      GROUP BY e.user_id)
    SELECT CAST(u.user_id AS BIGINT) AS user_id,
           s1.t1 AS ts_1, s2.t2 AS ts_2, s3.t3 AS ts_3,
           COALESCE(
             s3.t3 IS NOT NULL
             AND s3.t3 - s1.t1 <= 7 * 86400 * CAST(1000000 AS BIGINT), FALSE)
             AS converted
    FROM u LEFT JOIN s1 USING (user_id)
    LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
    ORDER BY user_id
    """,
)
def q137(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered funnel conversion (relational.funnel): the greedy
    earliest view -> click -> purchase chain per user within 7 days —
    one shuffle and a single sorted-array fold per user, no per-step
    self-joins. The oracle derives the identical chain with the
    textbook MIN-after-previous-step subquery cascade (strictly-later
    chaining on both sides)."""
    from spark_iceberg_schema_evolution_spark.operators.relational import (
        funnel,
    )

    ev = load_events(spark, sf)
    out = funnel(
        ev,
        ["view", "click", "purchase"],
        within_seconds=7 * 86400,
    )
    return out.orderBy("user_id")


@q(
    "q138_cohort_retention",
    oracle="""
    WITH m AS (
      SELECT user_id, STRFTIME(DATE_TRUNC('day', ts), '%Y-%m-%d') AS mo
      FROM events),
    firsts AS (
      SELECT user_id, MIN(mo) AS cohort FROM m GROUP BY user_id),
    active AS (SELECT DISTINCT user_id, mo AS active_day FROM m)
    SELECT f.cohort,
           CAST(
             DATEDIFF('day', CAST(f.cohort AS DATE),
                      CAST(a.active_day AS DATE)) AS INT)
             AS period_offset,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM active a JOIN firsts f USING (user_id)
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q138(spark: SparkSession, sf: str) -> DataFrame:
    """Daily cohort retention (relational.cohort_retention): users
    bucketed by first-activity day, counted in each later active day —
    two keyed aggregates, cohort-by-offset output. The oracle replays
    firsts/actives/offset arithmetic in SQL."""
    from spark_iceberg_schema_evolution_spark.operators.relational import (
        cohort_retention,
    )

    ev = load_events(spark, sf)
    return cohort_retention(ev, granularity="day").orderBy(
        "cohort", "period_offset"
    )


@q(
    "q139_interval_join",
    oracle="""
    WITH l2 AS (
      SELECT o_orderkey AS id, o_orderkey % 4 AS k,
             (o_orderkey * 7) % 5000 AS s,
             (o_orderkey * 7) % 5000 + o_orderkey % 80 + 1 AS e
      FROM orders WHERE o_custkey < 600),
    r2 AS (
      SELECT o_orderkey AS id, o_orderkey % 4 AS k,
             (o_orderkey * 13) % 5000 AS s,
             (o_orderkey * 13) % 5000 + o_orderkey % 60 + 1 AS e
      FROM orders WHERE o_custkey >= 600 AND o_custkey < 1200),
    pairs AS (
      SELECT l2.k,
             LEAST(l2.e, r2.e) - GREATEST(l2.s, r2.s) AS ov
      FROM l2 JOIN r2
        ON l2.k = r2.k AND l2.s < r2.e AND r2.s < l2.e)
    SELECT CAST(k AS BIGINT) AS k, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(ov) AS BIGINT) AS total_overlap
    FROM pairs GROUP BY k ORDER BY k
    """,
)
def q139(spark: SparkSession, sf: str) -> DataFrame:
    """Interval-interval overlap join
    (relational.interval_overlap_join): synthetic half-open ranges
    derived from order keys, joined per key by the BUCKETED pattern —
    intervals explode onto fixed-width buckets, the join is equi on
    (key, bucket) (shuffled hash join, never a nested loop), shared
    buckets dedup by first-shared-bucket attribution. The oracle runs
    the plain inequality join; results must agree pair-for-pair
    (checked as per-key count + total overlap length)."""
    from spark_iceberg_schema_evolution_spark.operators.relational import (
        interval_overlap_join,
    )

    o = load(spark, sf, "orders")
    mk = lambda lo, hi, mult, mlen: (  # noqa: E731
        o.where(
            (F.col("o_custkey") >= lo) & (F.col("o_custkey") < hi)
        ).select(
            F.col("o_orderkey").alias("id"),
            (F.col("o_orderkey") % 4).alias("k"),
            ((F.col("o_orderkey") * mult) % 5000).alias("s"),
            (
                (F.col("o_orderkey") * mult) % 5000
                + F.col("o_orderkey") % mlen
                + 1
            ).alias("e"),
        )
    )
    left = mk(0, 600, 7, 80)
    right = mk(600, 1200, 13, 60)
    pairs = interval_overlap_join(
        left, right, ["k"], ("s", "e"), ("s", "e"), bucket_width=128
    )
    ov = F.least(F.col("l_e"), F.col("r_e")) - F.greatest(
        F.col("l_s"), F.col("r_s")
    )
    return (
        pairs.select(F.col("l_k").alias("k"), ov.alias("ov"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("ov").alias("total_overlap"),
        )
        .orderBy("k")
    )


@q(
    "q140_ingest_dedup",
    oracle="""
    WITH b1 AS (
      SELECT doc_id, text, n_chars FROM documents WHERE doc_id < 200),
    b2 AS (
      SELECT doc_id + 10000 AS doc_id, text, n_chars
      FROM documents WHERE doc_id >= 100 AND doc_id < 300),
    ranked2 AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text)
                                   ORDER BY doc_id) AS rk
      FROM b2),
    fresh AS (
      SELECT doc_id, text, n_chars FROM ranked2
      WHERE rk = 1
        AND md5(text) NOT IN (SELECT md5(text) FROM b1)),
    final AS (
      SELECT * FROM b1 UNION ALL SELECT * FROM fresh)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM final
    """,
)
def q140(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental exact dedup at ingest
    (dedup.ingest_corpus_increment, exact only): a second batch
    overlapping the committed corpus appends ONLY its genuinely new
    documents — the corpus never rewrites, the increment pays a
    within-batch keep-one plus a hash anti-join against the
    column-pruned corpus scan. After the increment, the table holds
    exactly one copy per distinct content. The oracle replays
    keep-first set algebra over the same two batches."""
    from spark_iceberg_schema_evolution_spark.operators.dedup import (
        ingest_corpus_increment,
    )

    cat = _tmp_catalog(spark)
    d = load(spark, sf, "documents").select("doc_id", "text", "n_chars")
    b1 = d.where("doc_id < 200")
    b2 = d.where("doc_id >= 100 AND doc_id < 300").withColumn(
        "doc_id", F.col("doc_id") + 10000
    )
    cat.create_namespace("db")
    t = cat.table("db", "corpus")
    t.create(b1.schema)
    t.append(b1)
    ingest_corpus_increment(cat, "db", "corpus", b2)[1].unpersist()
    # a fully-duplicate third increment is a committed no-op
    v = t._load().version
    r, kept = ingest_corpus_increment(cat, "db", "corpus", b1.limit(50))
    kept.unpersist()
    assert r["ingested"] == 0 and v == t._load().version
    # n_chars is content-derived, so the checksum is independent of
    # WHICH duplicate won a keep-one tie (drift-robust vs future
    # testdata with intra-batch duplicate texts)
    return t.read().agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_distinct"),
        F.sum("n_chars").alias("total_chars"),
    )


@q(
    "q141_copy_into",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_c,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys
    FROM orders WHERE o_custkey < 800
    """,
)
def q141(spark: SparkSession, sf: str) -> DataFrame:
    """COPY INTO idempotent incremental ingestion
    (sources/copy_into.py — Delta's COPY INTO semantics): two landing
    increments load exactly once each, and re-running the second load
    commits nothing — the loaded-file log, not a content diff, carries
    the idempotence. Table content must equal the plain union the
    oracle computes, proving no file loaded twice and none missed."""
    from spark_iceberg_schema_evolution_spark.sources.copy_into import (
        copy_into,
    )

    cat = _tmp_catalog(spark)
    landing = _tmp_dir("landing-q141-")
    o = load(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", cents(F.col("o_totalprice")).alias("c")
    )
    o.where("o_custkey < 500").coalesce(1).write.parquet(
        f"{landing}/f1"
    )
    copy_into(cat, "db", "landed", landing)
    o.where("o_custkey >= 500 AND o_custkey < 800").coalesce(
        1
    ).write.parquet(f"{landing}/f2")
    copy_into(cat, "db", "landed", landing)
    r = copy_into(cat, "db", "landed", landing)  # idempotent re-run
    assert r["loaded_files"] == 0
    return cat.table("db", "landed").read().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("total_c"),
        F.countDistinct("o_orderkey").alias("n_keys"),
    )


@q(
    "q142_recursive_cte",
    oracle="""
    WITH RECURSIVE nodes AS (
      SELECT o_orderkey AS id FROM orders WHERE o_orderkey < 1000),
    walk(id, depth) AS (
      SELECT id, 0 FROM nodes
      WHERE id // 2 = id
         OR id // 2 NOT IN (SELECT id FROM nodes)
      UNION ALL
      SELECT n.id, w.depth + 1
      FROM nodes n JOIN walk w ON n.id // 2 = w.id
      WHERE n.id > 0)
    SELECT CAST(depth AS INT) AS depth,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(id) AS BIGINT) AS id_sum
    FROM walk GROUP BY depth ORDER BY depth
    """,
)
def q142(spark: SparkSession, sf: str) -> DataFrame:
    """WITH RECURSIVE (Spark 4's recursive CTE — SQL-family coverage
    beside q63's decorrelated subqueries): order keys form an implicit
    binary forest (parent = id // 2 when that key exists); the
    recursion walks every root-to-leaf chain and aggregates node count
    and key mass per depth. Same statement text runs on both engines —
    what's checked is that Spark's recursive execution reaches the
    identical fixpoint."""
    register_views(spark, sf, "orders")
    return spark.sql(
        """
        WITH RECURSIVE nodes AS (
          SELECT o_orderkey AS id FROM orders WHERE o_orderkey < 1000),
        walk(id, depth) AS (
          SELECT id, 0 FROM nodes
          WHERE id DIV 2 = id
             OR NOT (id DIV 2) IN (SELECT id FROM nodes)
          UNION ALL
          SELECT n.id, w.depth + 1
          FROM nodes n JOIN walk w ON n.id DIV 2 = w.id
          WHERE n.id > 0)
        SELECT CAST(depth AS INT) AS depth,
               COUNT(*) AS n, SUM(id) AS id_sum
        FROM walk GROUP BY depth ORDER BY depth
        """
    )


@q(
    "q143_lateral_topk",
    oracle="""
    SELECT n.n_name,
           CAST(t.c_custkey AS BIGINT) AS c_custkey,
           CAST(ROUND(t.c_acctbal * 100) AS BIGINT) AS acctbal_c
    FROM nation n,
         LATERAL (SELECT c_custkey, c_acctbal FROM customer c
                  WHERE c.c_nationkey = n.n_nationkey
                  ORDER BY c_acctbal DESC, c_custkey LIMIT 3) t
    ORDER BY n.n_name, acctbal_c DESC, c_custkey
    """,
)
def q143(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated LATERAL subquery (Spark's LATERAL join): top-3
    customers per nation via a per-row dependent subquery — the SQL
    shape Catalyst rewrites into a ranked join (the DataFrame twin is
    q18's WindowGroupLimit). Same statement both engines."""
    register_views(spark, sf, "nation", "customer")
    return spark.sql(
        """
        SELECT n.n_name,
               t.c_custkey,
               CAST(ROUND(t.c_acctbal * 100) AS BIGINT) AS acctbal_c
        FROM nation n,
             LATERAL (SELECT c_custkey, c_acctbal FROM customer c
                      WHERE c.c_nationkey = n.n_nationkey
                      ORDER BY c_acctbal DESC, c_custkey LIMIT 3) t
        ORDER BY n.n_name, acctbal_c DESC, c_custkey
        """
    )


@q(
    "q144_in_list_lookup",
    oracle="""
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
           CAST(o_custkey AS BIGINT) AS o_custkey,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c
    FROM orders
    WHERE o_orderkey IN (1, 7, 33, 4000) AND o_orderkey > 5
    ORDER BY o_orderkey
    """,
)
def q144(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-key point lookup through the IN-list skip path (q124's
    single-key bucket pruning generalized): one ``read_where`` with an
    IN-list plus a composed range conjunct plans at most one file per
    listed key per batch — the batched point-get a feature-store or id
    backfill issues constantly. Plan counts asserted in
    tests/test_bucketing.py; the driver checks value equivalence."""
    cat = _tmp_catalog(spark)
    o = load(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", cents(F.col("o_totalprice")).alias("price_c")
    )
    cat.create_namespace("db")
    t = cat.table("db", "bucketed_in")
    t.create(o.schema, bucket_by=("o_orderkey", 16))
    t.append(o.where("o_custkey % 2 = 0"))
    t.append(o.where("o_custkey % 2 = 1"))
    return t.read_where(
        [("o_orderkey", "in", [1, 7, 33, 4000]), ("o_orderkey", ">", 5)]
    ).orderBy("o_orderkey")


@q(
    "q126_term_search",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, n_chars,
             string_split_regex(lower(trim(text)), '\\s+') AS tk
      FROM documents),
    hits AS (
      SELECT doc_id, source, n_chars,
             CAST(length(list_filter(tk,
               x -> x IN ('merge', 'window'))) AS INT) AS score
      FROM toks
      WHERE list_has_all(tk, ['merge', 'window']))
    SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
           CAST(n_chars AS BIGINT) AS n_chars, score
    FROM hits ORDER BY score DESC, doc_id ASC LIMIT 20
    """,
)
def q126(spark: SparkSession, sf: str) -> DataFrame:
    """Map-only keyword search (conjunctive) over the corpus: documents
    containing ALL query terms under the corpus tokenization, scored by
    total query-term frequency, top-20 by (score, id). The token array,
    intersect, and score evaluate inside the scan's codegen stage —
    zero shuffles besides the top-k (TakeOrderedAndProject). The
    index-backed variant (build_term_index -> term-bucketed lakehouse
    postings -> search_index) is proven equivalent in
    tests/test_urls_search.py."""
    from spark_iceberg_schema_evolution_spark.operators.text import search_terms

    d = load(spark, sf, "documents")
    out = search_terms(d, ["merge", "window"], mode="all")
    return (
        out.select("doc_id", "source", "n_chars", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    )


@q(
    "q109_mor_pos_delete",
    oracle="""
    WITH base AS (
      SELECT * FROM orders WHERE o_custkey < 1000),
    kept AS (
      SELECT * FROM base WHERE NOT (o_totalprice > 250000)),
    upd AS (
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'O' THEN 'POS-U'
                  ELSE o_orderpriority END AS pri,
             o_totalprice
      FROM kept),
    reapp AS (
      SELECT o_orderkey, o_orderpriority AS pri, o_totalprice
      FROM base WHERE o_totalprice > 250000 AND o_custkey < 200),
    final AS (SELECT * FROM upd UNION ALL SELECT * FROM reapp)
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN pri = 'POS-U' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_posu,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
             / 100 AS total_price
    FROM final
    """,
)
def q109(spark: SparkSession, sf: str) -> DataFrame:
    """Merge-on-read POSITION deletes (Iceberg v2's file+pos flavor,
    round 4): keyless MOR DELETE/UPDATE on ARBITRARY predicates — the
    matched rows' (file, row-index) pairs, captured from the scan's
    ``_metadata`` pseudo-columns, land in a position-delete file; no data
    file is rewritten and no key columns are required. A later re-append
    of value-identical rows survives both delete files (position deletes
    name exact physical files — path identity replaces the equality
    flavor's sequence-number rule). Post-state checked against the
    equivalent filter/CASE/union SQL."""
    cat = _tmp_catalog(spark)
    o = load(spark, sf, "orders").where("o_custkey < 1000")
    # unpartitioned on purpose: the scenario exercises position deletes,
    # not hidden partitioning (test_mor covers the partitioned pos path);
    # ~80 month dirs x 4 writes would triple this entry's driver cost.
    cat.write_evolving(o, "db", "posd")
    t = cat.table("db", "posd")
    t.delete_where("o_totalprice > 250000", mode="mor")  # keyless: pos
    t.update_where(
        "o_orderstatus = 'O'",
        {"o_orderpriority": F.lit("POS-U")},
        mode="mor",
    )
    t.append(o.where("o_totalprice > 250000 AND o_custkey < 200"))
    return t.read().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("o_orderpriority") == "POS-U", 1).otherwise(0)
        ).alias("n_posu"),
        dsum(F.col("o_totalprice")).alias("total_price"),
    )


@q(
    "q71_text_chunking",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_DUCK_WORDS} AS w FROM documents WHERE doc_id < 100),
    c AS (
      SELECT doc_id, w,
             GREATEST(CAST(CEIL(CAST(len(w) - 8 AS DOUBLE) / 24) AS INT), 1)
               AS n_chunks
      FROM t),
    e AS (
      SELECT doc_id, w,
             UNNEST(generate_series(0, n_chunks - 1)) AS chunk_idx
      FROM c)
    SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           array_to_string(w[chunk_idx*24+1 : chunk_idx*24+32], ' ')
             AS chunk_text,
           len(w[chunk_idx*24+1 : chunk_idx*24+32]) AS n_tokens
    FROM e ORDER BY doc_id, chunk_idx
    """,
)
def q71(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-size overlapping token chunking (32-token chunks, 8 overlap)
    — the RAG/pretraining windowing step, per-row JVM HOFs, no shuffle."""
    from spark_iceberg_schema_evolution_spark.operators.text import chunk_text

    d = load(spark, sf, "documents").where(F.col("doc_id") < 100)
    return chunk_text(d, chunk_tokens=32, overlap=8).orderBy(
        "doc_id", "chunk_idx"
    )


@q(
    "q72_sequence_packing",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             len(string_split(lower(trim(text)), ' ')) AS n_tokens
      FROM documents WHERE doc_id < 500),
    r AS (
      SELECT lang, doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS running
      FROM t)
    SELECT lang, doc_id, n_tokens,
           CAST(FLOOR(CAST(running - n_tokens AS DOUBLE) / 512) AS BIGINT)
             AS bin_id
    FROM r ORDER BY lang, doc_id
    """,
)
def q72(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic sequence packing into 512-token bins, sharded by
    language (the window partition bound that keeps packing parallel at
    100 TB)."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        pack_sequences,
        token_count,
    )

    d = (
        load(spark, sf, "documents")
        .where(F.col("doc_id") < 500)
        .select("doc_id", "lang", token_count().alias("n_tokens"))
    )
    return pack_sequences(
        d, capacity=512, shard_col="lang"
    ).orderBy("lang", "doc_id")


@q(
    "q70_profile_stats",
    oracle="""
    SELECT 'o_orderkey' AS col_name, COUNT(*) AS n_rows,
           COUNT(o_orderkey) AS n_nonnull,
           COUNT(DISTINCT o_orderkey) AS n_distinct,
           CAST(MIN(o_orderkey) AS VARCHAR) AS min_str,
           CAST(MAX(o_orderkey) AS VARCHAR) AS max_str
    FROM orders
    UNION ALL
    SELECT 'o_custkey', COUNT(*), COUNT(o_custkey),
           COUNT(DISTINCT o_custkey),
           CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*), COUNT(o_orderstatus),
           COUNT(DISTINCT o_orderstatus),
           MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*), COUNT(o_orderpriority),
           COUNT(DISTINCT o_orderpriority),
           MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    ORDER BY col_name
    """,
)
def q70(spark: SparkSession, sf: str) -> DataFrame:
    """Single-pass exact column profiler on orders (bigint + varchar
    columns only: double min/max string reprs differ across engines). The
    oracle spells the same stats as four scans; the engine does ONE."""
    from spark_iceberg_schema_evolution_spark.operators.profile import profile_stats

    o = load(spark, sf, "orders")
    return profile_stats(
        o, ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    ).orderBy("col_name")


@q(
    "q69_stream_stream_join",
    oracle="""
    SELECT p.event_id AS p_id, v.event_id AS v_id, p.user_id
    FROM events p
    JOIN events v
      ON p.user_id = v.user_id
     AND epoch_us(CAST(v.ts AS TIMESTAMP))
         BETWEEN epoch_us(CAST(p.ts AS TIMESTAMP)) - 3600000000
             AND epoch_us(CAST(p.ts AS TIMESTAMP))
    WHERE p.event_type = 'purchase' AND v.event_type = 'view'
      AND p.user_id < 50
    ORDER BY p_id, v_id
    """,
)
def q69(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream self-join (purchases x same-user views in the prior
    hour) driven to completion on the file source; the oracle is the exact
    batch range join. Watermarks on both sides bound the join state."""
    from spark_iceberg_schema_evolution_spark.streaming import windows as SW

    ev = SW.read_events_stream(spark, sf).where(F.col("user_id") < 50)
    out = SW.run_to_memory(
        SW.stream_stream_join(ev), "q69_sink", output_mode="append"
    )
    return out.orderBy("p_id", "v_id")


@q(
    "q68_scd2_dimension",
    oracle="""
    WITH hist_open AS (
      SELECT c_custkey AS id, c_mktsegment AS seg, '1990-01-01' AS valid_from
      FROM customer WHERE c_custkey < 400),
    hist_closed AS (
      SELECT c_custkey AS id, 'OLD' AS seg, '1980-01-01' AS valid_from,
             '1990-01-01' AS valid_to
      FROM customer WHERE c_custkey < 100),
    changes AS (
      SELECT o_custkey AS id, MIN(o_orderpriority) AS seg,
             STRFTIME(o_orderdate, '%Y-%m-%d') AS ts
      FROM orders WHERE o_custkey < 400
      GROUP BY o_custkey, STRFTIME(o_orderdate, '%Y-%m-%d')),
    all_open AS (
      SELECT id, seg, valid_from FROM hist_open
      UNION ALL
      SELECT id, seg, ts AS valid_from FROM changes),
    rebuilt AS (
      SELECT id, seg, valid_from,
             LEAD(valid_from) OVER (PARTITION BY id ORDER BY valid_from)
               AS valid_to
      FROM all_open)
    SELECT id, seg, valid_from, valid_to,
           CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS is_current
    FROM rebuilt
    UNION ALL
    SELECT id, seg, valid_from, valid_to, 0 AS is_current FROM hist_closed
    ORDER BY id, valid_from, seg
    """,
)
def q68(spark: SparkSession, sf: str) -> DataFrame:
    """SCD Type-2 dimension maintenance: an open+closed customer-segment
    history takes one batch of keyed changes (one per order date); closed
    rows pass through, the per-key validity chain rebuilds, untouched keys
    stay current. The oracle replays the same Kimball semantics in SQL."""
    from spark_iceberg_schema_evolution_spark.operators.scd import scd2_apply

    c = load(spark, sf, "customer").where("c_custkey < 400")
    hist_open = c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_mktsegment").alias("seg"),
        F.lit("1990-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    hist_closed = c.where("c_custkey < 100").select(
        F.col("c_custkey").alias("id"),
        F.lit("OLD").alias("seg"),
        F.lit("1980-01-01").alias("valid_from"),
        F.lit("1990-01-01").alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    hist = hist_closed.unionByName(hist_open)
    changes = (
        load(spark, sf, "orders")
        .where("o_custkey < 400")
        .groupBy(
            "o_custkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("ts"),
        )
        .agg(F.min("o_orderpriority").alias("seg"))
        .select(F.col("o_custkey").alias("id"), "seg", "ts")
    )
    out = scd2_apply(hist, changes, keys=["id"], change_ts="ts")
    return out.select(
        "id",
        "seg",
        "valid_from",
        "valid_to",
        F.col("is_current").cast("int").alias("is_current"),
    ).orderBy("id", "valid_from", "seg")


# ---------------------------------------------------------------------------
# Round-6 operators
# ---------------------------------------------------------------------------

# deterministic classifier head for q145 (stands in for offline-trained
# weights; both engines parse the identical decimal literals)
_CLF_W = [((i * 37) % 19 - 9) / 10 for i in range(64)]
_CLF_B = 0.1


# VALUES-table form of the classifier weights: the one portable way to
# give the oracle a 1-indexed (i, weight) lookup. Indexing a
# parenthesized literal list inside a lambda — q145's original oracle —
# is the single list form that diverged on the round-6 driver DuckDB
# while every other lambda/comprehension oracle (q127, q146) stayed
# green in the same run; the ban on it is now a corpus rule.
_CLF_W_VALUES = ", ".join(
    f"({j}, {w!r})" for j, w in enumerate(_CLF_W, 1)
)


_CLF_B_E4 = round(_CLF_B * 10000)  # bias at the same 4dp scale


@q(
    "q145_classifier_filter",
    oracle=f"""
    WITH w(i, wt) AS (VALUES {_CLF_W_VALUES}),
    e AS (
      SELECT vec_id,
             UNNEST(CAST(embedding AS DOUBLE[])) AS x,
             UNNEST(generate_series(1, 64)) AS i
      FROM embeddings),
    z AS (
      SELECT e.vec_id,
             CAST(SUM(CAST(ROUND(e.x * w.wt * 10000) AS BIGINT))
                  AS BIGINT) + {_CLF_B_E4} AS z_int,
             COUNT(*) AS n_elems
      FROM e JOIN w ON e.i = w.i
      GROUP BY e.vec_id)
    SELECT COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_elems = 64 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_scored,
           CAST(SUM(CASE WHEN z_int > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pass,
           CAST(SUM(z_int) AS BIGINT) AS z_sum_e4
    FROM z
    """,
)
def q145(spark: SparkSession, sf: str) -> DataFrame:
    """Model-based quality filtering with a frozen linear head
    (fastText/FineWeb-Edu shape): sigmoid(w.x + b) over the embedding
    column as a zero-shuffle codegen map — no UDF, no broadcast, no
    model server; ``n_scored`` counts rows the head accepted (non-NULL
    score, i.e. a well-formed 64-d vector).

    Checksum discipline (round-7 driver lesson): the r6/r7 oracles
    summed per-vector DOUBLE products before rounding, and the q165
    probe proved the remaining cross-engine divergence was exactly that
    64-term float fold (FP addition is non-associative; DuckDB's SUM
    order is engine/version-dependent; one last-ulp difference flips
    ROUND(z*1e4) at a fence). This formulation rounds EACH weighted
    product to a scaled BIGINT first and sums integers — associative,
    order-independent, portable across any DuckDB build — and cuts
    n_pass on the same integer logit, so no float comparison survives
    anywhere in the compared output."""
    from spark_iceberg_schema_evolution_spark.operators.similarity import (
        as_double,
        linear_classifier_score,
        lit_double_array_sql,
    )

    e = load(spark, sf, "embeddings")
    scored = linear_classifier_score(e, _CLF_W, bias=_CLF_B)
    w = F.expr(lit_double_array_sql(_CLF_W))
    per = scored.select(
        "vec_id",
        "clf_score",
        F.posexplode(as_double(F.col("embedding"))).alias("pos", "x"),
    )
    z = per.groupBy("vec_id").agg(
        (
            F.sum(
                F.round(
                    F.col("x")
                    * F.element_at(w, F.col("pos") + 1)
                    * 1e4
                ).cast("long")
            )
            + F.lit(_CLF_B_E4)
        ).alias("z_int"),
        F.count(F.lit(1)).alias("n_elems"),
        F.first("clf_score").alias("clf_score"),
    )
    return z.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.col("clf_score").isNotNull(), 1).otherwise(0)
        ).cast("long").alias("n_scored"),
        F.sum(
            F.when(F.col("z_int") > 0, 1).otherwise(0)
        ).cast("long").alias("n_pass"),
        F.sum("z_int").alias("z_sum_e4"),
    )


@q(
    "q165_classifier_probe",
    oracle=f"""
    WITH w(i, wt) AS (VALUES {_CLF_W_VALUES}),
    e AS (
      SELECT vec_id,
             UNNEST(CAST(embedding AS DOUBLE[])) AS x,
             UNNEST(generate_series(1, 64)) AS i
      FROM embeddings WHERE vec_id < 4)
    SELECT e.vec_id, e.i AS elem,
           CAST(ROUND(e.x * w.wt * 10000) AS BIGINT) AS prod_e4
    FROM e JOIN w ON e.i = w.i
    ORDER BY e.vec_id, e.i
    """,
)
def q165(spark: SparkSession, sf: str) -> DataFrame:
    """Decomposed probe for the q145 classifier head: one row per
    (vector, element) with the weighted product as a 4dp scaled int —
    no fold anywhere, so any cross-engine divergence localizes to
    element indexing, element values, or rounding rather than hiding
    inside a single summed checksum. Spark side is posexplode +
    element_at on the same weight literals; both sides are map-only."""
    from spark_iceberg_schema_evolution_spark.operators.similarity import (
        as_double,
        lit_double_array_sql,
    )

    e = load(spark, sf, "embeddings").where("vec_id < 4")
    w = F.expr(lit_double_array_sql(_CLF_W))
    exploded = e.select(
        "vec_id", F.posexplode(as_double(F.col("embedding"))).alias("pos", "x")
    )
    return exploded.select(
        "vec_id",
        (F.col("pos") + 1).cast("long").alias("elem"),
        F.round(
            F.col("x") * F.element_at(w, F.col("pos") + 1) * 1e4
        ).cast("long").alias("prod_e4"),
    ).orderBy("vec_id", "elem")


@q(
    "q146_dup_spans",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, UNNEST({_DUCK_SHINGLES}) AS s FROM documents),
    hot AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) >= 2),
    per AS (
      SELECT sh.doc_id, COUNT(*) AS n_shingles,
             SUM(CASE WHEN hot.s IS NOT NULL THEN 1 ELSE 0 END) AS n_dup
      FROM sh LEFT JOIN hot ON sh.s = hot.s
      GROUP BY sh.doc_id)
    SELECT COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_dup > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_with_dup,
           CAST(SUM(n_dup) AS BIGINT) AS total_dup_shingles,
           CAST(SUM(CASE WHEN n_dup * 2 >= n_shingles THEN 1 ELSE 0 END)
             AS BIGINT) AS n_heavy
    FROM per
    """,
)
def q146(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicated-span profile (substring-dedup signal, Lee et al.
    2022): per-document fraction of word 5-gram shingles shared with
    other documents, aggregated to corpus counts — including the
    "heavy" tail (>= half the document's spans duplicated), the set a
    span-stripping or drop pass would target. The >= 1/2 cut compares
    integers (n_dup*2 >= n_shingles), keeping the oracle float-free."""
    from spark_iceberg_schema_evolution_spark.operators.dedup import (
        span_duplication_profile,
    )

    d = load(spark, sf, "documents")
    prof = span_duplication_profile(d)
    return prof.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("n_dup") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_docs_with_dup"),
        F.sum("n_dup").cast("long").alias("total_dup_shingles"),
        F.sum(
            F.when(F.col("n_dup") * 2 >= F.col("n_shingles"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_heavy"),
    )


@q(
    "q147_bm25_search",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x != '') AS tk
      FROM documents),
    per AS (
      SELECT doc_id, len(tk) AS dl,
             len(list_filter(tk, x -> x = 'merge')) AS tf1,
             len(list_filter(tk, x -> x = 'window')) AS tf2
      FROM toks),
    stats AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
             SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
             SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
      FROM per),
    scored AS (
      SELECT doc_id,
             ln(1 + (n - df1 + 0.5) / (df1 + 0.5))
               * (tf1 * (1.2 + 1))
               / (tf1 + 1.2 * ((1 - 0.75) + 0.75 * dl / avgdl))
             + ln(1 + (n - df2 + 0.5) / (df2 + 0.5))
               * (tf2 * (1.2 + 1))
               / (tf2 + 1.2 * ((1 - 0.75) + 0.75 * dl / avgdl))
               AS score
      FROM per, stats
      WHERE tf1 > 0 OR tf2 > 0)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           ROUND(score, 4) AS score_r
    FROM scored ORDER BY score_r DESC, doc_id LIMIT 20
    """,
)
def q147(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 ranked retrieval over the corpus (disjunctive two-term
    query): per-doc tf/length in one map-only pass, corpus stats
    (N, avgdl, df) folded once and broadcast back, Lucene-form idf —
    the ranked complement to q126's boolean search. The oracle
    replicates the identical arithmetic expression tree; scores are
    compared at 4 decimals."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        search_terms_bm25,
    )

    d = load(spark, sf, "documents")
    out = search_terms_bm25(d, ["merge", "window"])
    return (
        out.select("doc_id", F.round("score", 4).alias("score_r"))
        .orderBy(F.desc("score_r"), F.asc("doc_id"))
        .limit(20)
    )


@q(
    "q148_bucketed_cojoin",
    oracle="""
    SELECT c.c_mktsegment AS seg,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS DOUBLE)
             / 100 AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment ORDER BY seg
    """,
)
def q148(spark: SparkSession, sf: str) -> DataFrame:
    """Co-located bucketed join: both sides persisted with
    write_bucketed on the customer key (8 buckets), then sort-merge
    joined with ZERO Exchange on either side (plan-gated in
    tests/test_bucketed_join.py) — the pay-one-write, shuffle-free-
    forever contract for repeated fact-dimension joins at scale."""
    from spark_iceberg_schema_evolution_spark.operators.relational import (
        bucketed_cojoin,
        write_bucketed,
    )

    base = _tmp_dir("bucketed-q148-")
    o = load(spark, sf, "orders").select(
        F.col("o_custkey").alias("custkey"),
        cents(F.col("o_totalprice")).alias("price_c"),
    )
    c = load(spark, sf, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    write_bucketed(o, "q148_orders_b", ["custkey"], 8, f"{base}/o")
    write_bucketed(c, "q148_customer_b", ["custkey"], 8, f"{base}/c")
    joined = bucketed_cojoin(
        spark, "q148_orders_b", "q148_customer_b", ["custkey"]
    )
    return (
        joined.groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum("price_c").cast("double") / 100).alias("revenue"),
        )
        .orderBy("seg")
    )


@q(
    "q149_change_consumer",
    oracle="""
    SELECT (SELECT COUNT(*) FROM customer WHERE c_custkey < 800)
             AS n_first,
           (SELECT COUNT(*) FROM customer WHERE c_custkey >= 800)
             AS n_second,
           0 AS n_drained
    """,
)
def q149(spark: SparkSession, sf: str) -> DataFrame:
    """Checkpointed incremental consumption (consumer-group cursor over
    table commits): the first poll delivers the initial load, the acked
    second poll delivers exactly the new commit's rows, and a third
    poll after ack drains to zero — at-least-once delivery with durable
    offsets, the daily-ETL shape over a continuously ingested table."""
    cat = _tmp_catalog(spark)
    c = load(spark, sf, "customer").select("c_custkey", "c_name")
    cat.write_evolving(c.where("c_custkey < 800"), "db", "feed")
    t = cat.table("db", "feed")
    d1, v1 = t.consume_changes("etl")
    n_first = d1.count()
    t.commit_offset("etl", v1)
    t.append(c.where("c_custkey >= 800"))
    d2, v2 = t.consume_changes("etl")
    n_second = d2.count()
    t.commit_offset("etl", v2)
    d3, _ = t.consume_changes("etl")
    return spark.createDataFrame(
        [(n_first, n_second, d3.count())],
        "n_first BIGINT, n_second BIGINT, n_drained INT",
    )


@q("t2_hll_rollup", oracle=None, tier=2)
def t2_hll_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable HLL sketch rollup (DataSketches): per-month customer
    sketches coarsened to one global estimate without rescanning —
    deterministic (register state is order-independent), bracketed
    against exact distinct in tests/test_text_pipeline.py; rows-only
    here (DuckDB's approx sketch differs)."""
    from spark_iceberg_schema_evolution_spark.operators.profile import (
        hll_coarsen,
        hll_rollup,
    )

    o = load(spark, sf, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        "o_custkey",
    )
    roll = hll_rollup(o, ["month"], "o_custkey")
    per_month = roll.select(
        "month",
        F.hll_sketch_estimate("hll_sketch").alias("approx_distinct"),
        "n_rows",
    )
    global_ = hll_coarsen(roll, []).select(
        F.lit("ALL").alias("month"), "approx_distinct", "n_rows"
    )
    return per_month.unionByName(global_).orderBy("month")


@q("t2_quantile_sketch_rollup", oracle=None, tier=2)
def t2_quantile_sketch(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable quantile sketch rollup (DDSketch shape): per-source
    n_chars sketches coarsened to a global grain without rescanning,
    quantiles read off the bucket counts with a relative-alpha
    guarantee — the percentile analog of t2_hll_rollup. Property gates
    (relative-error bound vs exact order statistics, exact merge
    equality, lakehouse incremental refresh + alpha-drift refusal)
    live in tests/test_rollup.py; rows-only here (the sketch grid is
    not SQL-portable). Bound double-checked in-line: the p50/p90
    estimates must bracket the exact percentile within alpha=2%."""
    from spark_iceberg_schema_evolution_spark.operators.profile import (
        quantile_sketch,
        quantile_sketch_coarsen,
        sketch_quantiles,
    )

    d = load(spark, sf, "documents").select("source", "n_chars")
    sk = quantile_sketch(d, ["source"], "n_chars", alpha=0.02)
    per_source = sketch_quantiles(
        sk, ["source"], [0.5, 0.9], alpha=0.02
    ).select(
        "source", "q",
        F.round("quantile_est", 2).alias("est"),
        "n_total",
    )
    global_ = sketch_quantiles(
        quantile_sketch_coarsen(sk, []), [], [0.5, 0.9], alpha=0.02
    ).select(
        F.lit("ALL").alias("source"), "q",
        F.round("quantile_est", 2).alias("est"),
        "n_total",
    )
    return per_source.unionByName(global_).orderBy("source", "q")


@q("t2_lttb_downsample", oracle=None, tier=2)
def t2_lttb(spark: SparkSession, sf: str) -> DataFrame:
    """Shape-preserving time-series downsampling (mean-anchored LTTB
    variant): each user's event series reduced to <=20 representative
    points — the dashboard primitive for series too big to plot.
    Deterministic (fixed anchors + explicit tiebreak); endpoint/spike/
    budget/determinism properties in tests/test_relational.py;
    rows-only here (bucket argmax is not portably SQL-expressible)."""
    from spark_iceberg_schema_evolution_spark.operators.relational import (
        lttb_downsample,
    )

    e = load_events(spark, sf).select(
        "user_id",
        F.col("ts").cast("double").alias("t"),
        cents(F.col("value")).cast("double").alias("v"),
    ).where("user_id < 20")
    out = lttb_downsample(
        e, ["user_id"], "t", "v", n_out=20
    )
    return out.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.min("t").alias("t_first"),
        F.max("t").alias("t_last"),
        F.sum(F.col("v").cast("long")).alias("v_sum_c"),
    ).orderBy("user_id")


@q("t2_topk_sketch_rollup", oracle=None, tier=2)
def t2_topk_sketch(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable heavy-hitters rollup (Misra-Gries family): per-source
    top-10 language counts coarsened to a global top-10 from sketch
    rows only — the third mergeable summary beside HLL (distincts) and
    the quantile sketch (percentiles). Property gates (exact at
    covering k, est<=true<=est+spill bound under trims, mass
    conservation, merge==direct at covering k) live in
    tests/test_rollup.py; rows-only here (sketch rows aren't
    SQL-portable). In-line sanity: the retained global top items must
    be exact because |langs| < k."""
    from spark_iceberg_schema_evolution_spark.operators.profile import (
        topk_sketch,
        topk_sketch_coarsen,
    )

    d = load(spark, sf, "documents").select("source", "lang")
    sk = topk_sketch(d, ["source"], "lang", k=10)
    global_ = topk_sketch_coarsen(sk, [], k=10)
    return global_.orderBy(
        F.col("n").desc(), F.col("item").asc()
    )


_XML_FIXTURE_PATH = _fixtures_dir() + "/t2_orders.xml"


def _ensure_xml_fixture(path: str = _XML_FIXTURE_PATH) -> str:
    import os

    os.makedirs(os.path.dirname(path), exist_ok=True)
    parts = ["<orders>"]
    for i in range(300):
        status = ["open", "closed", "held"][i % 3]
        total = (i * 31 % 2000) + (i % 100) / 100
        parts.append(
            f'<order id="{i}" status="{status}">'
            f"<total>{total:.2f}</total>"
            f"<item><sku>S{i % 7}</sku><qty>{1 + i % 5}</qty></item>"
            f"<item><sku>T{i % 4}</sku><qty>{i % 3}</qty></item>"
            "</order>"
        )
    parts.append("</orders>")
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        f.write("\n".join(parts) + "\n")
    os.replace(tmp, path)
    return path


@q("t2_xml_scan", oracle=None, tier=2)
def t2_xml_scan(spark: SparkSession, sf: str) -> DataFrame:
    """XML file scan (Spark 4 native xml source, one row per rowTag
    element): attributes as _cols, nested item structs exploded, then
    a per-status aggregate in cents-exact math. Semantics (attribute /
    nesting / malformed handling + evolving-append composition) pinned
    in tests/test_xml_source.py; rows-only here (DuckDB has no XML
    reader — the fixture is deterministic so the output is stable
    across runs). Reference ingests CSV only (job.py:40-51); this is
    source-format extension surface."""
    from spark_iceberg_schema_evolution_spark.sources.xml import read_xml

    path = _ensure_xml_fixture()
    df = read_xml(
        spark,
        path,
        "order",
        schema=(
            "_id BIGINT, _status STRING, total DOUBLE, "
            "item ARRAY<STRUCT<sku: STRING, qty: BIGINT>>"
        ),
    )
    return (
        df.select(
            "_status",
            cents(F.col("total")).alias("total_c"),
            F.explode("item").alias("it"),
        )
        .groupBy("_status")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("it.qty").alias("sum_qty"),
            F.countDistinct("it.sku").alias("n_skus"),
            (F.sum("total_c").cast("double") / 100 / 2).alias(
                "sum_total"
            ),
        )
        .orderBy("_status")
    )


@q("t2_multi_table_txn", oracle=None, tier=2)
def t2_multi_table_txn(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-table transaction lifecycle: an orders slice and its
    lineitem child rows publish ATOMICALLY (journal two-phase over the
    exclusive-link commit) — the cross-table consistency single-table
    formats lack (fact+dim, orders+items). Atomicity/abort/conflict-
    rollback/crash-recovery gates live in tests/test_transactions.py;
    rows-only here: post-commit both tables are visible, row counts
    consistent with the source join, and the journal dir is empty."""
    import os as _os

    from spark_iceberg_schema_evolution_spark.tables import (
        LakehouseCatalog,
    )

    cat = _tmp_catalog(spark)
    o = load(spark, sf, "orders").where("o_custkey < 200")
    li = load(spark, sf, "lineitem").join(
        o.select("o_orderkey"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).drop("o_orderkey")
    with cat.transaction() as txn:
        txn.write_evolving(o, "db", "txn_orders")
        txn.write_evolving(li, "db", "txn_items")
    n_o = cat.table("db", "txn_orders").read().count()
    n_i = cat.table("db", "txn_items").read().count()
    journal_dir = _os.path.join(cat.warehouse, "_txns")
    n_pending = len(
        _os.listdir(journal_dir) if _os.path.isdir(journal_dir) else []
    )
    orphan_items = (
        cat.table("db", "txn_items")
        .read()
        .join(
            cat.table("db", "txn_orders").read().select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left_anti",
        )
        .count()
    )
    assert isinstance(cat, LakehouseCatalog)
    return spark.createDataFrame(
        [(n_o, n_i, n_pending, orphan_items)],
        "n_orders long, n_items long, n_pending_txns long, "
        "n_orphan_items long",
    )


@q("t2_bpe_learn", oracle=None, tier=2)
def t2_bpe(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed BPE vocabulary induction (Sennrich 2016): 30 merges
    learned from the documents corpus via the word-count frame — the
    tokenizer-training primitive between corpus curation and model
    training. Correctness is pinned in tests/test_bpe.py (exact merge
    table equality against a pure-python reference learner, lossless
    encode roundtrip, deterministic tiebreaks); rows-only here (the
    iterative merge loop is not SQL-expressible). Scale: the only
    corpus-sized pass is one word-count aggregate; the merge loop runs
    over the Heaps-law-bounded vocabulary with per-iteration
    localCheckpoint (see operators/bpe.py docstring)."""
    from spark_iceberg_schema_evolution_spark.operators.bpe import (
        bpe_learn,
        merges_to_df,
    )

    d = load(spark, sf, "documents")
    merges = bpe_learn(d, "text", num_merges=30, min_pair_count=2)
    return merges_to_df(spark, merges).orderBy("rank")


@q("t2_pagerank", oracle=None, tier=2)
def t2_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """Link-graph centrality (PageRank, Brin & Page 1998) over the
    supplier->customer fulfillment graph (lineitem x orders): the
    host-authority quality signal corpus curation keeps beside the LM
    filters. Update rule pinned to a numpy power-iteration replica at
    1e-9 in tests/test_graph.py (mass conservation, dangling +
    disconnected handling, weighted edges); rows-only here (an
    iterative fixpoint is not SQL-expressible). Top-10 nodes by rank,
    deterministic tiebreak on node id."""
    from spark_iceberg_schema_evolution_spark.operators.graph import (
        pagerank,
    )

    li = load(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf, "orders").select("o_orderkey", "o_custkey")
    edges = li.join(
        o, li["l_orderkey"] == o["o_orderkey"]
    ).select(
        F.col("l_suppkey").alias("src"), F.col("o_custkey").alias("dst")
    )
    ranks = pagerank(edges, n_iter=10)
    return ranks.select(
        "node", F.round("rank", 8).alias("rank_r")
    ).orderBy(F.desc("rank_r"), "node").limit(10)


@q("t2_hits", oracle=None, tier=2)
def t2_hits(spark: SparkSession, sf: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over the supplier->
    customer fulfillment graph — the directional authority complement
    to t2_pagerank (authorities = quality content signal, high-hub/
    low-authority = link-farm signal). Update rule pinned to a 1e-9
    numpy replica in tests/test_graph.py; rows-only (iterative).
    Top-10 by authority, deterministic tiebreak on node id."""
    from spark_iceberg_schema_evolution_spark.operators.graph import hits

    li = load(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf, "orders").select("o_orderkey", "o_custkey")
    edges = li.join(
        o, li["l_orderkey"] == o["o_orderkey"]
    ).select(
        F.col("l_suppkey").alias("src"),
        (F.col("o_custkey") + F.lit(1_000_000)).alias("dst"),
    )
    out = hits(edges, n_iter=10)
    return out.select(
        "node",
        F.round("hub", 8).alias("hub_r"),
        F.round("authority", 8).alias("auth_r"),
    ).orderBy(F.desc("auth_r"), "node").limit(10)


@q("t2_coreness", oracle=None, tier=2)
def t2_coreness(spark: SparkSession, sf: str) -> DataFrame:
    """k-core decomposition (Seidman 1983) of the sparsified
    fulfillment graph — coreness is the graded cohesion covariate
    spam/quality models keep beside degree (farms live in dense
    cores). Iterative peeling, exact vs a pure-python peeler in
    tests/test_graph.py; rows-only (iterative). Output: coreness ->
    node count histogram — integer-exact."""
    from spark_iceberg_schema_evolution_spark.operators.graph import (
        coreness,
    )

    li = load(spark, sf, "lineitem").where(F.col("l_quantity") <= 5)
    o = load(spark, sf, "orders").select("o_orderkey", "o_custkey")
    edges = li.join(
        o, li["l_orderkey"] == o["o_orderkey"]
    ).select(
        F.col("l_suppkey").alias("src"),
        (F.col("o_custkey") + F.lit(1_000_000)).alias("dst"),
    )
    out = coreness(edges, max_k=64)
    return (
        out.groupBy("coreness")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("coreness")
    )


@q("t2_label_propagation", oracle=None, tier=2)
def t2_label_propagation(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-supervised label propagation (Zhu & Ghahramani 2002,
    deterministic synchronous variant): trusted quality labels on 4
    seed suppliers spread over the same-nation fulfillment graph —
    the 'rate a few thousand hosts, label the whole web graph'
    curation move. Clamped seeds, majority vote, smallest-label
    tiebreak; exact vs a pure-python replica in tests/test_graph.py;
    rows-only (iterative). Output: per-label node counts + adoption
    round histogram — integer-exact."""
    from spark_iceberg_schema_evolution_spark.operators.graph import (
        label_propagation,
    )

    li = load(spark, sf, "lineitem").where(F.col("l_quantity") <= 10)
    o = load(spark, sf, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf, "customer").select("c_custkey", "c_nationkey")
    s = load(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .where(F.col("s_nationkey") == F.col("c_nationkey"))
        .select(
            F.col("l_suppkey").alias("src"),
            (F.col("o_custkey") + F.lit(1_000_000)).alias("dst"),
        )
    )
    seeds = spark.createDataFrame(
        [(1, "good"), (2, "spam"), (3, "good"), (4, "spam")],
        "node long, label string",
    )
    out = label_propagation(edges, seeds, n_iter=6)
    return (
        out.groupBy("label", "n_rounds")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("label", "n_rounds")
    )


@q("t2_components", oracle=None, tier=2)
def t2_components(spark: SparkSession, sf: str) -> DataFrame:
    """Weakly connected components over the (sparsified) supplier->
    customer fulfillment graph — the 'mutually-linked host cluster'
    signal host-graph curation keys on. Pointer-doubling min-label
    fixpoint (graph face of the dedup CC engine); exact vs a pure-
    python union-find in tests/test_graph.py; rows-only here (an
    iterative fixpoint is not SQL-expressible). Edges are restricted to
    SAME-NATION supplier->customer pairs (broadcast dim joins), so the
    graph provably fragments into per-nation islands; customer node
    ids are offset so the two key spaces can't collide. Top-10
    components by size, deterministic tiebreak on component id."""
    from spark_iceberg_schema_evolution_spark.operators.graph import (
        connected_components,
    )

    li = load(spark, sf, "lineitem").where(F.col("l_quantity") <= 2)
    o = load(spark, sf, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf, "customer").select("c_custkey", "c_nationkey")
    s = load(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .where(F.col("s_nationkey") == F.col("c_nationkey"))
        .select(
            F.col("l_suppkey").alias("src"),
            (F.col("o_custkey") + F.lit(1_000_000)).alias("dst"),
        )
    )
    comp = connected_components(edges, max_iter=30)
    return (
        comp.groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy(F.desc("n_nodes"), "component")
        .limit(10)
    )


@q("t2_seed_distance", oracle=None, tier=2)
def t2_seed_distance(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-source BFS seed distance (TrustRank-style frontier depth:
    hops from a trusted seed set as a quality prior) over the
    sparsified fulfillment graph, seeds = the 3 smallest supplier ids.
    Frontier-expansion joins, exact vs a pure-python BFS replica in
    tests/test_graph.py; rows-only (iterative). Output: histogram of
    hop distance -> reachable-node count + min seed attribution."""
    from spark_iceberg_schema_evolution_spark.operators.graph import (
        shortest_paths,
    )

    li = load(spark, sf, "lineitem").where(F.col("l_quantity") <= 10)
    o = load(spark, sf, "orders").select("o_orderkey", "o_custkey")
    edges = li.join(
        o, li["l_orderkey"] == o["o_orderkey"]
    ).select(
        F.col("l_suppkey").alias("src"),
        (F.col("o_custkey") + F.lit(1_000_000)).alias("dst"),
    )
    seeds = spark.createDataFrame([(1,), (2,), (3,)], "node long")
    dists = shortest_paths(edges, seeds, max_hops=8, directed=False)
    return (
        dists.groupBy("dist")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("seed").alias("min_seed"),
        )
        .orderBy("dist")
    )


@q("t2_adamic_adar", oracle=None, tier=2)
def t2_adamic_adar(spark: SparkSession, sf: str) -> DataFrame:
    """Adamic-Adar link prediction (Adamic & Adar 2003) over the
    sparsified fulfillment graph: for non-adjacent node pairs sharing
    a neighbor, sum 1/ln(deg) over common neighbors — the
    related-host / merge-candidate prior, degree-damped so hub
    co-citation doesn't dominate. Wedge-join shape (two keyed shuffles,
    no neighborhood materialization); exact vs a pure-python replica in
    tests/test_graph.py; rows-only here (ln-of-degree sums over wedges
    are graph-shaped, not table-SQL-shaped). Top-10 predicted pairs,
    deterministic (score desc, pair asc) ordering with scores rounded
    for cross-run float stability."""
    from spark_iceberg_schema_evolution_spark.operators.graph import (
        adamic_adar,
    )

    li = load(spark, sf, "lineitem").where(F.col("l_quantity") <= 3)
    o = load(spark, sf, "orders").select("o_orderkey", "o_custkey")
    edges = li.join(
        o, li["l_orderkey"] == o["o_orderkey"]
    ).select(
        F.col("l_suppkey").alias("src"),
        (F.col("o_custkey") + F.lit(1_000_000)).alias("dst"),
    )
    pairs = adamic_adar(edges, min_score=0.5)
    return pairs.select(
        "node_a", "node_b", F.round("score", 6).alias("score_r")
    ).orderBy(F.desc("score_r"), "node_a", "node_b").limit(10)


@q("t2_sssp_weighted", oracle=None, tier=2)
def t2_sssp_weighted(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted multi-source shortest paths (distributed Bellman-Ford)
    over the fulfillment graph with l_quantity as the edge cost — the
    latency/cost generalization of t2_seed_distance. Struct-min
    relaxation rounds (deterministic (dist, seed) tiebreak), exact vs
    a pure-python Bellman-Ford replica in tests/test_graph.py;
    rows-only (iterative). Output: integer-cost histogram (quantities
    are whole numbers, so dist is integer-exact) + min seed
    attribution."""
    from spark_iceberg_schema_evolution_spark.operators.graph import (
        shortest_paths_weighted,
    )

    li = load(spark, sf, "lineitem").where(F.col("l_quantity") <= 6)
    o = load(spark, sf, "orders").select("o_orderkey", "o_custkey")
    edges = li.join(
        o, li["l_orderkey"] == o["o_orderkey"]
    ).select(
        F.col("l_suppkey").alias("src"),
        (F.col("o_custkey") + F.lit(1_000_000)).alias("dst"),
        F.col("l_quantity").cast("double").alias("w"),
    )
    seeds = spark.createDataFrame([(1,), (2,), (3,)], "node long")
    dists = shortest_paths_weighted(
        edges, seeds, "w", max_iter=40, directed=False
    )
    return (
        dists.groupBy(F.col("dist").cast("long").alias("cost"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("seed").alias("min_seed"),
        )
        .orderBy("cost")
    )


@q(
    "q186_triangle_count",
    oracle="""
    WITH e AS (
      SELECT DISTINCT
             LEAST(CAST(l.l_suppkey AS BIGINT),
                   CAST(o.o_custkey % 200 AS BIGINT)) AS u,
             GREATEST(CAST(l.l_suppkey AS BIGINT),
                      CAST(o.o_custkey % 200 AS BIGINT)) AS v
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_quantity <= 8
        AND l.l_suppkey <> o.o_custkey % 200),
    wedges AS (
      SELECT l.u AS a, l.v AS b, r.v AS c
      FROM e l JOIN e r ON l.u = r.u AND l.v < r.v),
    tris AS (
      SELECT a, b, c
      FROM wedges JOIN e ON wedges.b = e.u AND wedges.c = e.v),
    pern AS (
      SELECT node, COUNT(*) AS n_triangles FROM (
        SELECT a AS node FROM tris
        UNION ALL SELECT b FROM tris
        UNION ALL SELECT c FROM tris)
      GROUP BY node),
    nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e)
    SELECT node,
           CAST(COALESCE(n_triangles, 0) AS BIGINT) AS n_triangles
    FROM nodes LEFT JOIN pern USING (node) ORDER BY node
    """,
)
def q186(spark: SparkSession, sf: str) -> DataFrame:
    """Exact per-node triangle counts (the clustering/cohesion signal:
    spam farms are triangle-dense) over a deliberately NON-bipartite
    fulfillment graph — customer ids fold into the supplier id space
    (mod 200, no offset) so odd cycles exist. The canonical two-join
    wedge closure is plain SQL, so this is the graph family's tier-1
    face: the oracle replays the same wedge build + closure in DuckDB
    and the driver hash-compares per-node counts. Cites
    operators/graph.py:triangle_count (wedges shuffle by endpoint
    pair; no neighborhood materialization)."""
    from spark_iceberg_schema_evolution_spark.operators.graph import (
        triangle_count,
    )

    li = load(spark, sf, "lineitem").where(F.col("l_quantity") <= 8)
    o = load(spark, sf, "orders").select("o_orderkey", "o_custkey")
    edges = li.join(
        o, li["l_orderkey"] == o["o_orderkey"]
    ).select(
        F.col("l_suppkey").cast("long").alias("src"),
        (F.col("o_custkey") % 200).cast("long").alias("dst"),
    )
    return triangle_count(edges).orderBy("node")


@q(
    "q187_degree_stats",
    oracle="""
    WITH e AS (
      SELECT CAST(l.l_suppkey AS BIGINT) AS src,
             CAST(o.o_custkey + 1000000 AS BIGINT) AS dst
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_quantity <= 10),
    outd AS (
      SELECT src AS node, COUNT(DISTINCT dst) AS od FROM e GROUP BY src),
    ind AS (
      SELECT dst AS node, COUNT(DISTINCT src) AS idg FROM e GROUP BY dst)
    SELECT node,
           CAST(COALESCE(od, 0) AS BIGINT) AS out_degree,
           CAST(COALESCE(idg, 0) AS BIGINT) AS in_degree
    FROM outd FULL OUTER JOIN ind USING (node) ORDER BY node
    """,
)
def q187(spark: SparkSession, sf: str) -> DataFrame:
    """Per-node distinct in/out degree — the first-look graph profile
    (hub/spam detection). Two COUNT(DISTINCT) aggregates + one full
    outer join: SQL-exact, so the degree family gets a tier-1
    hash-compared face. Cites operators/graph.py:degree_stats."""
    from spark_iceberg_schema_evolution_spark.operators.graph import (
        degree_stats,
    )

    li = load(spark, sf, "lineitem").where(F.col("l_quantity") <= 10)
    o = load(spark, sf, "orders").select("o_orderkey", "o_custkey")
    edges = li.join(
        o, li["l_orderkey"] == o["o_orderkey"]
    ).select(
        F.col("l_suppkey").cast("long").alias("src"),
        (F.col("o_custkey") + F.lit(1_000_000)).cast("long").alias("dst"),
    )
    return degree_stats(edges).orderBy("node")


@q(
    "q188_pps_sample",
    oracle="""
    WITH base AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
             md5(concat(':', CAST(doc_id AS VARCHAR))) AS k
      FROM documents WHERE n_chars > 0),
    c AS (
      SELECT doc_id, w, k,
             SUM(w) OVER (ORDER BY k, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(w) OVER () AS tot
      FROM base)
    SELECT doc_id, w AS n_chars
    FROM c
    WHERE (cum * 500 - (390518329271506977 % tot) - 1 + tot) // tot
        > ((cum - w) * 500 - (390518329271506977 % tot) - 1 + tot) // tot
    ORDER BY doc_id
    """,
)
def q188(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (systematic
    PPS over the md5-permuted order): 500 documents drawn with
    probability proportional to n_chars, sample points at
    (U + j*W)/500 with the seed-derived fractional start
    U = md5_60bit(':start') mod W = 390518329271506977 mod W (the r11
    grid — exact n*w/W inclusion, no always-selected last row).
    Integer cumulative weights + integer division only — no
    transcendental keys (the Efraimidis-Spirakis exponential trick is
    a cross-engine float fence), so the selected row SET is
    bit-identical in DuckDB. Cites
    operators/text.py:pps_systematic_sample."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        pps_systematic_sample,
    )

    d = load(spark, sf, "documents").select("doc_id", "n_chars")
    return pps_systematic_sample(d, 500, "n_chars").orderBy("doc_id")


@q(
    "q189_domain_budget",
    oracle="""
    WITH base AS (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS w,
             CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT)
               AS q
      FROM documents WHERE n_chars > 0),
    c AS (
      SELECT doc_id, source, w, q,
             SUM(w) OVER (PARTITION BY source ORDER BY q DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(w) OVER (PARTITION BY source) AS tot
      FROM base)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(w) AS BIGINT) AS kept_chars
    FROM c
    WHERE (cum - w) * 10000 < 3000 * tot
    GROUP BY source ORDER BY source
    """,
)
def q189(spark: SparkSession, sf: str) -> DataFrame:
    """Per-domain budget (nucleus / top-p) selection: keep each
    source's highest-quality documents until 30% of its character mass
    is covered (boundary row included) — the mixture primitive between
    stratified counts and DoReMi rate resampling. Keep test is the
    integer cross-multiplication cum_before*10000 < p_bp*total: no
    percentage double ever forms, so DuckDB selects the identical
    rows. Cites operators/text.py:domain_budget_select."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        domain_budget_select,
        token_count,
    )

    d = (
        load(spark, sf, "documents")
        .select("doc_id", "source", "n_chars", "text")
        .withColumn("q", token_count().cast("long"))
    )
    kept = domain_budget_select(
        d, 3000, "n_chars", "q", domain_col="source", id_col="doc_id"
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("kept_chars"),
        )
        .orderBy("source")
    )


@q(
    "q190_dsir_importance",
    oracle="""
    WITH d AS (SELECT doc_id, source, lower(trim(text)) AS t
               FROM documents),
    toks AS (
      SELECT doc_id, source, string_split_regex(t, '\\s+') AS tk FROM d),
    uni AS (
      SELECT doc_id, source, tk[i] AS gram
      FROM toks, UNNEST(range(1, len(tk) + 1)) AS r(i)),
    big AS (
      SELECT doc_id, source, tk[i] || ' ' || tk[i+1] AS gram
      FROM toks, UNNEST(range(1, len(tk))) AS r(i)),
    grams AS (
      SELECT doc_id, source, substr(md5(gram), 1, 2) AS bucket
      FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)),
    tgt AS (
      SELECT bucket, COUNT(*) AS nt FROM grams
      WHERE source IN ('src0', 'src1') GROUP BY 1),
    rawc AS (SELECT bucket, COUNT(*) AS nr FROM grams GROUP BY 1),
    tt AS (SELECT COALESCE(SUM(nt), 0) AS v FROM tgt),
    rt AS (SELECT SUM(nr) AS v FROM rawc),
    lr AS (
      SELECT r.bucket,
             ln((COALESCE(g.nt, 0) + 0.5) / (tt.v + 0.5 * 256))
           - ln((r.nr + 0.5) / (rt.v + 0.5 * 256)) AS logratio
      FROM rawc r LEFT JOIN tgt g USING (bucket)
      CROSS JOIN tt CROSS JOIN rt),
    sc AS (
      SELECT g.doc_id, AVG(l.logratio) AS s, COUNT(*) AS ng
      FROM grams g JOIN lr l USING (bucket) GROUP BY 1)
    SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
           CAST(ROUND(sc.s, 6) AS DOUBLE) AS dsir_r,
           CAST(COALESCE(sc.ng, 0) AS BIGINT) AS n_grams
    FROM d LEFT JOIN sc USING (doc_id) ORDER BY doc_id
    """,
)
def q190(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance scoring (text.dsir_importance, arXiv:2302.03169):
    hashed unigram+bigram bag-of-words models over an md5-prefix bucket
    space (engine-portable by construction), target = the src0/src1
    slice, raw = the whole corpus; per-doc mean log-likelihood ratio.
    The oracle re-derives the bucketing, both smoothed models, and every
    log term from raw parquet; scores round to 6dp on both sides (same
    AVG summation-order argument as q128)."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        dsir_importance,
    )

    d = load(spark, sf, "documents").select("doc_id", "source", "text")
    out = dsir_importance(d, d.where(F.col("source").isin("src0", "src1")))
    return out.select(
        "doc_id",
        F.round("llr_avg", 6).alias("dsir_r"),
        F.col("n_grams").cast("long").alias("n_grams"),
    ).orderBy("doc_id")


@q(
    "q191_encoding_anomalies",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                    THEN text || ' caf' || chr(195) || chr(169)
                         || ' ' || chr(226) || chr(8364) || chr(339)
                         || 'ok' || chr(65533)
                  WHEN doc_id % 11 = 3
                    THEN text || chr(8) || chr(65533) || chr(65533)
                  ELSE text END AS t
      FROM documents),
    m AS (
      SELECT doc_id, t,
             len(regexp_extract_all(t, chr(65533))) AS n_replacement,
             len(regexp_extract_all(t,
               '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]')) AS n_control,
             len(regexp_extract_all(t,
               chr(195) || '[' || chr(161) || '-' || chr(191) || ']|'
               || chr(194) || '[' || chr(161) || '-' || chr(191) || ']|'
               || chr(226) || chr(8364))) AS n_mojibake
      FROM d)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_replacement AS BIGINT) AS n_replacement,
           CAST(n_control AS BIGINT) AS n_control,
           CAST(n_mojibake AS BIGINT) AS n_mojibake,
           CAST(ROUND((n_replacement + n_control + n_mojibake)
                      / GREATEST(len(t), 1), 6) AS DOUBLE) AS ratio_r,
           CAST(CASE WHEN n_replacement + n_control + n_mojibake > 0
                THEN 1 ELSE 0 END AS BIGINT) AS is_suspect,
           CAST(CASE WHEN (n_replacement + n_control + n_mojibake)
                          / GREATEST(len(t), 1) <= 0.001
                THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM m ORDER BY doc_id
    """,
)
def q191(spark: SparkSession, sf: str) -> DataFrame:
    """Encoding-anomaly detection (text.encoding_anomalies): planted
    corruption — every 7th doc gets a mojibake suffix (UTF-8-as-Latin-1
    digraphs + U+FFFD), every (11k+3)rd a control char + replacement
    pair — then the detector's counts, ratio, and keep verdict must
    match the oracle's regexp replay exactly. chr() codepoints in the
    SQL keep the oracle ASCII-clean while planting identical Unicode on
    both sides (195/169 = the 'caf-e-acute' mojibake pair, 226/8364 =
    the a-circumflex-euro lead, 65533 = U+FFFD, 8 = backspace)."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        encoding_anomalies,
    )

    moji7 = " caf\u00c3\u00a9 \u00e2\u20ac\u0153ok\ufffd"
    ctl11 = "\x08\ufffd\ufffd"
    d = load(spark, sf, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat("text", F.lit(moji7))
        )
        .when(F.col("doc_id") % 11 == 3, F.concat("text", F.lit(ctl11)))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = encoding_anomalies(d)
    return out.select(
        "doc_id",
        "n_replacement",
        "n_control",
        "n_mojibake",
        F.round("anomaly_ratio", 6).alias("ratio_r"),
        F.col("is_suspect").cast("long").alias("is_suspect"),
        F.col("keep").cast("long").alias("keep"),
    ).orderBy("doc_id")


@q("t2_hashed_features", oracle=None, tier=2)
def t2_hashed_features(spark: SparkSession, sf: str) -> DataFrame:
    """Feature-hashing text vectorizer at corpus scale (Weinberger
    2009, the fastText input layer): signed xxhash64 word slots, two
    keyed shuffles, engine-exact INTEGER counts — the bridge that lets
    logreg_fit / kmeans_fit train on raw text with no external
    embedding model (the full train composition, incl. perfect planted
    separation, is pinned in tests/test_text.py; logreg has its own
    corpus-scale row t2_logreg_train). Output: per-slot corpus column
    sums for the first 16 slots + doc count — integer-exact, so any
    hashing/tokenization drift flips it loudly."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        hashed_features,
    )

    d = load(spark, sf, "documents")
    feats = hashed_features(d, dim=64)
    return (
        feats.select(
            F.posexplode("features").alias("slot", "v")
        )
        .where(F.col("slot") < 16)
        .groupBy("slot")
        .agg(
            F.sum(F.col("v").cast("long")).alias("col_sum"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy("slot")
    )


@q("t2_poisson_bootstrap", oracle=None, tier=2)
def t2_poisson_bootstrap(spark: SparkSession, sf: str) -> DataFrame:
    """Error bars in ONE scan: Poisson-bootstrap 95% CI of mean order
    value per priority — replicate weights are inverse-CDF draws from
    hash uniforms (xxhash64(id, r) against plan-literal Poisson(1) CDF
    breakpoints), so the interval is deterministic and survives
    re-partitioning (no rand()); the percentile happens INSIDE the row
    over the sorted replicate-mean array — no second pass. Weight
    scheme pinned by the exact python replay in tests/test_stats;
    rows-only (replicate sums are float folds). One hash aggregate."""
    from spark_iceberg_schema_evolution_spark.operators.stats import (
        poisson_bootstrap,
    )

    o = load(spark, sf, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    out = poisson_bootstrap(
        o,
        "o_totalprice",
        "o_orderkey",
        n_replicates=50,
        group_cols=["o_orderpriority"],
    )
    return out.select(
        "o_orderpriority",
        "n",
        F.round("mean", 2).alias("mean_r"),
        F.round("boot_lo", 2).alias("lo_r"),
        F.round("boot_hi", 2).alias("hi_r"),
    ).orderBy("o_orderpriority")


@q("t2_isotonic_calibration", oracle=None, tier=2)
def t2_isotonic_calibration(spark: SparkSession, sf: str) -> DataFrame:
    """Train -> calibrate -> apply, all in-engine: logreg_fit learns
    the quality head on planted labels, isotonic_fit (distributed
    binning + driver-side PAV over bounded bins, Zadrozny & Elkan
    2002) calibrates its scores, isotonic_apply is a zero-shuffle
    literal-vector map. PAV semantics pinned in tests/test_stats
    (hand-pooling, monotone identity, Brier improvement); rows-only
    (PAV is sequential). Output: quarter-band counts of calibrated
    probability — monotone-banded integers."""
    from spark_iceberg_schema_evolution_spark.operators.similarity import (
        linear_classifier_score,
        logreg_fit,
    )
    from spark_iceberg_schema_evolution_spark.operators.stats import (
        isotonic_apply,
        isotonic_fit,
    )

    e = load(spark, sf, "embeddings")
    labeled = e.withColumn(
        "label",
        (
            F.element_at("embedding", 1) + F.element_at("embedding", 2)
            > 0
        ).cast("double"),
    )
    m = logreg_fit(labeled, "label", n_iter=10, lr=1.0)
    scored = linear_classifier_score(labeled, m["weights"], m["bias"])
    cal = isotonic_fit(scored, "clf_score", "label", n_bins=20)
    out = isotonic_apply(scored, cal, "clf_score")
    return (
        out.groupBy(
            F.least(F.floor(F.col("calibrated") * 4), F.lit(3))
            .cast("int")
            .alias("band")
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("band")
    )


@q("t2_compression_signal", oracle=None, tier=2)
def t2_compression_signal(spark: SparkSession, sf: str) -> DataFrame:
    """Compression-ratio quality signal (zlib-entropy heuristic:
    templated/repetitive text compresses far below prose, noise barely
    compresses — both tails drop): per-decile document counts + total
    bytes. The only Python is len(zlib.compress) per row in an
    Arrow-batched pandas UDF (no JVM DEFLATE exists); byte counts are
    pinned bit-exact vs zlib.compress in tests/test_text.py. Rows-only
    (no DEFLATE in the oracle engine)."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        compression_stats,
    )

    d = load(spark, sf, "documents")
    cs = compression_stats(d)
    return (
        cs.where(F.col("compression_ratio").isNotNull())
        .groupBy(
            F.least(
                F.floor(F.col("compression_ratio") * 10), F.lit(10)
            )
            .cast("int")
            .alias("ratio_decile")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("zlib_bytes").alias("zlib_bytes"),
        )
        .orderBy("ratio_decile")
    )


@q("t2_match_sequences", oracle=None, tier=2)
def t2_match_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Event-sequence instance extraction (MATCH_RECOGNIZE/Flink-CEP
    lite): ALL non-overlapping greedy view->click->purchase chains per
    user within 30 days, skip-past-last-row. One shuffle + one
    pure-JVM aggregate fold (the funnel skeleton); semantics pinned
    against a pure-python replayer in tests (hand cases + fuzz).
    Rows-only here (the repeated-match fold has no portable SQL
    equivalent). Output: matches per match_idx + distinct users —
    integer-exact."""
    from spark_iceberg_schema_evolution_spark.operators.relational import (
        match_sequences,
    )

    ev = load_events(spark, sf)
    m = match_sequences(
        ev,
        ["view", "click", "purchase"],
        within_seconds=30 * 24 * 3600,
    )
    return (
        m.groupBy("match_idx")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("match_idx")
    )


@q("t2_logreg_train", oracle=None, tier=2)
def t2_logreg_train(spark: SparkSession, sf: str) -> DataFrame:
    """In-engine quality-classifier TRAINING (logistic regression by
    full-batch gradient descent — the fit half of the fastText-style
    linear_classifier_score): plant a linearly separable label on the
    embeddings table, train 20 steps, score with the learned head, and
    emit the integer confusion matrix at the 0.5 cut. Update rule
    pinned to a 1e-9 numpy replica in tests/test_kmeans.py; rows-only
    here (an iterative fixpoint is not SQL-expressible). Each step is
    one hash aggregate; the corpus never leaves the executors."""
    from spark_iceberg_schema_evolution_spark.operators.similarity import (
        linear_classifier_score,
        logreg_fit,
    )

    e = load(spark, sf, "embeddings")
    labeled = e.withColumn(
        "label",
        (
            F.element_at("embedding", 1) + F.element_at("embedding", 2)
            > 0
        ).cast("double"),
    )
    m = logreg_fit(labeled, "label", n_iter=20, lr=1.0)
    scored = linear_classifier_score(labeled, m["weights"], m["bias"])
    return (
        scored.groupBy(
            F.col("label").cast("int").alias("label"),
            (F.col("clf_score") >= 0.5).cast("int").alias("pred"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("label", "pred")
    )


@q("t2_kmeans", oracle=None, tier=2)
def t2_kmeans(spark: SparkSession, sf: str) -> DataFrame:
    """Document clustering (k-means: bounded-sample init + 3 FULL-
    corpus Lloyd refinement sweeps — topic mixture control / SemDeDup
    pruning / diversity quotas): per-cluster document counts. The
    refinement is pinned to a 1e-9 numpy replica in tests/test_kmeans
    (same init, same update, same tiebreak); rows-only here (an
    iterative fixpoint is not SQL-expressible). Assignment is the
    zero-shuffle literal-centroid argmin; sizes are integers, so the
    output is float-fence-free."""
    from spark_iceberg_schema_evolution_spark.operators.similarity import (
        kmeans_assign,
        kmeans_fit,
    )

    e = load(spark, sf, "embeddings")
    model = kmeans_fit(e, "embedding", k=8, n_iter=3, seed=42)
    return (
        kmeans_assign(e, model, "embedding")
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("cluster")
    )


@q("t2_pca_project", oracle=None, tier=2)
def t2_pca(spark: SparkSession, sf: str) -> DataFrame:
    """PCA embedding reduction (the FAISS-style pre-transform before
    IVF/PQ): numpy SVD fit on a driver-bounded sample, zero-shuffle
    literal-basis projection; per-component explained-variance ratio
    and corpus variance of the projected coordinates, both descending
    by construction (pinned with the 1e-9 numpy replica + ANN
    composition gates in tests/test_pca.py). Rows-only (SVD is not
    SQL-expressible)."""
    from spark_iceberg_schema_evolution_spark.operators.similarity import (
        pca_fit,
        pca_project,
    )

    e = load(spark, sf, "embeddings")
    model = pca_fit(e, "embedding", k=8, max_fit_rows=100_000)
    proj = pca_project(e, model, "embedding", "pca")
    rows = [
        (i, round(r, 6)) for i, r in
        enumerate(model["explained_variance_ratio"])
    ]
    evr = spark.createDataFrame(rows, "component int, evr_r double")
    var = proj.select(
        *[
            F.round(
                F.variance(F.element_at("pca", i + 1)), 4
            ).alias(f"v{i}")
            for i in range(8)
        ]
    ).select(
        F.posexplode(F.array(*[F.col(f"v{i}") for i in range(8)]))
    ).select(
        F.col("pos").alias("component"), F.col("col").alias("var_r")
    )
    return evr.join(var, "component").orderBy("component")


@q("t2_mmr_rerank", oracle=None, tier=2)
def t2_mmr(spark: SparkSession, sf: str) -> DataFrame:
    """MMR-diversified retrieval: exact cosine top-20 candidates per
    query re-ranked to a diverse top-5 (lambda=0.7). Deterministic
    (sorted greedy), but the iterative argmax has no SQL equivalent —
    rows-only; diversification semantics pinned in tests/test_llm_ops."""
    from spark_iceberg_schema_evolution_spark.operators.similarity import (
        cosine_topk,
        mmr_rerank,
    )

    e = load(spark, sf, "embeddings")
    qdf = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cands = cosine_topk(e, qdf, k=20)
    out = mmr_rerank(cands, e, k=5, lambda_=0.7)
    return out.select(
        "query_id", "mmr_rank", "vec_id", F.round("score", 6).alias("score_r")
    ).orderBy("query_id", "mmr_rank")


@q(
    "q150_bloom_lookup",
    oracle="""
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c
    FROM orders WHERE o_orderkey IN (11, 4033)
    ORDER BY o_orderkey
    """,
)
def q150(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-indexed point lookup: rows land hash-ordered so every file
    spans ~the full key range (footer min/max stats structurally cannot
    prune a point get — the high-cardinality-id case), then
    build_bloom_index attaches per-file bloom sidecars and the IN-list
    lookup plans only the files actually holding the keys
    (pruning counts asserted in tests/test_bloom_index.py; the driver
    checks value equivalence here)."""
    cat = _tmp_catalog(spark)
    o = (
        load(spark, sf, "orders")
        .select(
            "o_orderkey", cents(F.col("o_totalprice")).alias("price_c")
        )
        # hash order -> overlapping per-file ranges
        .orderBy(F.pmod(F.hash("o_orderkey"), F.lit(4096)))
    )
    cat.create_namespace("db")
    cat.write_evolving(o.where("o_orderkey % 2 = 0"), "db", "bloomed")
    t = cat.table("db", "bloomed")
    t.append(o.where("o_orderkey % 2 = 1"))
    t.build_bloom_index("o_orderkey")
    return t.read_where(
        [("o_orderkey", "in", [11, 4033])]
    ).orderBy("o_orderkey")


@q(
    "q151_leakage_free_split",
    oracle="""
    WITH c AS (SELECT doc_id, MD5(text) AS h FROM documents),
    rep AS (SELECT h, MIN(doc_id) AS r FROM c GROUP BY h),
    lab AS (
      SELECT c.doc_id, rep.r,
             CASE WHEN substr(md5(CAST(rep.r AS VARCHAR)), 1, 4) < 'fae1'
                    THEN 'train'
                  WHEN substr(md5(CAST(rep.r AS VARCHAR)), 1, 4) < 'fd70'
                    THEN 'val'
                  ELSE 'test' END AS split
      FROM c JOIN rep ON c.h = rep.h)
    SELECT split, COUNT(*) AS n_docs,
           COUNT(DISTINCT r) AS n_clusters
    FROM lab GROUP BY split ORDER BY split
    """,
)
def q151(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-free train/val/test split: duplicate clusters (exact-text
    here; the near-dup pair variant is pinned in tests) are assigned as
    a UNIT by hashing the cluster representative — a doc and its copy
    can never land in train and test simultaneously. The oracle replays
    the md5 bucketing byte-identically (98/1/1 thresholds 0xfae1 /
    0xfd70)."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        leakage_free_split,
    )

    d = load(spark, sf, "documents")
    out = leakage_free_split(d.select("doc_id", "text"))
    rep = F.md5("text")  # re-derive cluster key for the count
    return (
        out.withColumn("__h", rep)
        .join(
            out.withColumn("__h", rep)
            .groupBy("__h")
            .agg(F.min("doc_id").alias("__r")),
            "__h",
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("__r").alias("n_clusters"),
        )
        .orderBy("split")
    )


@q(
    "q152_schema_log",
    oracle="""
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), 'added', 'c_custkey', 'bigint'),
      (0, 'added', 'c_name', 'string'),
      (2, 'added', 'c_acctbal', 'double'),
      (3, 'renamed', 'customer_name', 'from c_name'),
      (4, 'dropped', 'c_acctbal', 'double')
    ) AS t(version, change, col, detail)
    ORDER BY version, change, col
    """,
)
def q152(spark: SparkSession, sf: str) -> DataFrame:
    """Schema-evolution audit log: a table lives through an evolving
    append (new column), a rename, and a drop; schema_changes() reports
    each as its own change kind at the version it happened — the
    metadata query that replaces commit archaeology on a long-lived
    evolving table. (The oracle's VALUES list is the contract.)"""
    cat = _tmp_catalog(spark)
    c = load(spark, sf, "customer")
    cat.write_evolving(
        c.where("c_custkey < 100").select("c_custkey", "c_name"),
        "db", "audit",
    )
    t = cat.table("db", "audit")
    t.append(
        c.where("c_custkey >= 100 AND c_custkey < 200").select(
            "c_custkey", "c_name", "c_acctbal"
        )
    )
    t.rename_column("c_name", "customer_name")
    t.drop_column("c_acctbal")
    return (
        t.schema_changes()
        .select("version", "change", F.col("column").alias("col"), "detail")
        .orderBy("version", "change", "col")
    )


@q(
    "q153_burst_dedup",
    oracle="""
    WITH t AS (
      SELECT user_id, event_type, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id) AS prev
      FROM events),
    b AS (
      SELECT *,
             SUM(CASE WHEN prev IS NULL
                        OR ts > prev + INTERVAL 1 HOUR
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id, event_type
                     ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS burst
      FROM t),
    k AS (
      SELECT event_type FROM (
        SELECT *, ROW_NUMBER() OVER (
                 PARTITION BY user_id, event_type, burst
                 ORDER BY ts, event_id) AS rn
        FROM b) WHERE rn = 1)
    SELECT event_type, COUNT(*) AS n_kept
    FROM k GROUP BY event_type ORDER BY event_type
    """,
)
def q153(spark: SparkSession, sf: str) -> DataFrame:
    """Event-burst collapse: within (user, event_type), events closer
    than 1 hour to their predecessor join the running burst and only
    the burst's first survives — retry-storm / double-fire cleanup as
    lag + running-sum burst numbering over ONE key shuffle (no
    self-join, no sessionize detour). Oracle replays the identical
    window algebra."""
    from spark_iceberg_schema_evolution_spark.operators.relational import (
        dedup_bursts,
    )

    e = load_events(spark, sf)
    kept = dedup_bursts(
        e,
        keys=["user_id", "event_type"],
        ts_col="ts",
        gap="INTERVAL 1 HOUR",
        tiebreak="event_id",
    )
    return (
        kept.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .orderBy("event_type")
    )


@q(
    "q154_percentile_bands",
    oracle="""
    WITH p AS (
      SELECT source,
             percent_rank() OVER (PARTITION BY source
                                  ORDER BY n_chars) AS pct
      FROM documents)
    SELECT source,
           CAST(LEAST(FLOOR(pct * 4), 3) AS INT) AS band,
           COUNT(*) AS n_docs
    FROM p GROUP BY source, band ORDER BY source, band
    """,
)
def q154(spark: SparkSession, sf: str) -> DataFrame:
    """Rank-based quality normalization: per-source percent_rank of doc
    length onto [0,1], bucketed into quartile bands — the scale-free
    transform for heavy-tailed signals before band filtering/mixing
    (a global window would be a one-partition trap; the operator
    REQUIRES group keys and points corpus-global cuts at
    quantile_band_filter)."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        percentile_normalize,
    )

    d = load(spark, sf, "documents")
    out = percentile_normalize(d, "n_chars", by=["source"])
    return (
        out.select(
            "source",
            F.least(F.floor(F.col("pct_rank") * 4), F.lit(3))
            .cast("int")
            .alias("band"),
        )
        .groupBy("source", "band")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source", "band")
    )


@q("t2_sq8_cosine_topk", oracle=None, tier=2)
def t2_sq8(spark: SparkSession, sf: str) -> DataFrame:
    """SQ8 scalar-quantized ANN (int8 codes + affine decode + exact
    re-rank): the fit-free 4x-compression tier beside PQ. Deterministic;
    recall >= 0.9 gated in tests/test_llm_ops.py; rows-only here."""
    from spark_iceberg_schema_evolution_spark.operators.similarity import (
        sq8_encode,
        sq8_topk,
    )

    e = load(spark, sf, "embeddings")
    enc = sq8_encode(e)
    qdf = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sq8_topk(enc, e, qdf, k=10).select(
        "query_id", "rank", "vec_id", F.round("score", 6).alias("score_r")
    ).orderBy("query_id", "rank")


@q("t2_incremental_near_dedup", oracle=None, tier=2)
def t2_inc_near(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-corpus near-dedup at ingest: a new batch (100 verbatim-ish
    edited copies of corpus docs + the untouched tail) deduped against
    the corpus signature store; candidates from LSH band joins, exact
    Jaccard verification. LSH banding has no SQL replica -> rows-only;
    planted-edit semantics pinned in tests/test_llm_ops.py."""
    from spark_iceberg_schema_evolution_spark.operators.dedup import (
        incremental_near_dedup,
        minhash_signature,
    )

    d = load(spark, sf, "documents")
    corpus = d.where(F.col("doc_id") % 2 == 0)
    batch = (
        d.where((F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 200))
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" tail")).alias("text"),
        )
        .unionByName(
            d.where(F.col("doc_id") % 2 == 1)
            .select("doc_id", "text")
            .limit(100)
        )
    )
    sigs = minhash_signature(corpus, num_hashes=16)
    kept, dropped = incremental_near_dedup(
        batch,
        corpus,
        corpus_sigs=sigs,
        num_hashes=16,
        num_bands=4,
        threshold=0.6,
    )
    return dropped.select(
        "doc_id", "matched_corpus_id", F.round("jaccard", 6).alias("j_r")
    ).orderBy("doc_id", "matched_corpus_id")


@q("t2_batch_near_dedup", oracle=None, tier=2)
def t2_batch_near(spark: SparkSession, sf: str) -> DataFrame:
    """Store-backed whole-corpus near-dedup (VERDICT r11 #3): the
    batch composition consumes a materialized signature store covering
    half the corpus, signs ONLY the store-missing half, and verifies
    planted edited copies exactly. LSH banding has no SQL replica ->
    rows-only; store-vs-fresh output equality is pinned in
    tests/test_llm_ops.py. Cites operators/dedup.py:batch_near_dedup."""
    from spark_iceberg_schema_evolution_spark.operators.dedup import (
        batch_near_dedup,
        minhash_signature,
    )

    d = load(spark, sf, "documents").select("doc_id", "text")
    corpus = d.where(F.col("doc_id") < 400).unionByName(
        d.where(F.col("doc_id") < 100).select(
            (F.col("doc_id") + 50000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" tail")).alias("text"),
        )
    )
    store = minhash_signature(
        corpus.where(F.col("doc_id") % 2 == 0), num_hashes=16
    )
    kept, pairs = batch_near_dedup(
        corpus,
        threshold=0.6,
        num_hashes=16,
        num_bands=4,
        sigs=store,
        return_pairs=True,
    )
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("j_r")
    ).orderBy("id_a", "id_b")


@q(
    "q155_fuzzy_join",
    oracle="""
    WITH k AS (
      SELECT p_partkey, p_name,
             lower(substr(p_name, 1, 2)) AS blk
      FROM part WHERE p_partkey <= 4000)
    SELECT CAST(a.p_partkey AS BIGINT) AS id_a,
           CAST(b.p_partkey AS BIGINT) AS id_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
    FROM k a JOIN k b
      ON a.blk = b.blk AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    ORDER BY id_a, id_b LIMIT 50
    """,
)
def q155(spark: SparkSession, sf: str) -> DataFrame:
    """Blocked fuzzy join (entity resolution): near-identical part
    names found by Levenshtein <= 2 WITHIN 2-char prefix blocks — the
    equi-join-on-blocking-key shape that avoids the all-pairs
    nested-loop a raw edit-distance theta-join would plan. Oracle runs
    the identical blocking + metric in DuckDB."""
    from spark_iceberg_schema_evolution_spark.operators.relational import (
        fuzzy_join,
    )

    p = (
        load(spark, sf, "part")
        .where(F.col("p_partkey") <= 4000)
        .select("p_partkey", "p_name")
    )
    pairs = fuzzy_join(p, p, "p_name", max_distance=2, block_chars=2)
    return (
        pairs.where(F.col("l_p_partkey") < F.col("r_p_partkey"))
        .select(
            F.col("l_p_partkey").alias("id_a"),
            F.col("r_p_partkey").alias("id_b"),
            F.col("distance").alias("dist"),
        )
        .orderBy("id_a", "id_b")
        .limit(50)
    )


@q(
    "q156_regex_family",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           len(regexp_extract_all(text, '[a-z]+ing')) AS n_ing,
           COALESCE(regexp_extract(text, '([a-z]{4,}) merge', 1), '')
             AS before_merge,
           CASE WHEN regexp_matches(text, 'window|stream')
                THEN 1 ELSE 0 END AS has_kw,
           regexp_replace(text, '[0-9]+', '#', 'g') LIKE '%#%'
             AS digit_masked
    FROM documents WHERE doc_id < 100 ORDER BY doc_id
    """,
)
def q156(spark: SparkSession, sf: str) -> DataFrame:
    """Regex function family over the corpus: extract-all counts,
    group capture, boolean match, global replace — RE2-subset patterns
    only (both engines agree on the dialect; lookarounds are banned by
    the module's oracle rules)."""
    d = load(spark, sf, "documents").where(F.col("doc_id") < 100)
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+ing"))).alias(
            "n_ing"
        ),
        F.regexp_extract("text", "([a-z]{4,}) merge", 1).alias(
            "before_merge"
        ),
        F.when(
            F.col("text").rlike("window|stream"), 1
        ).otherwise(0).alias("has_kw"),
        F.regexp_replace("text", "[0-9]+", "#").like("%#%").alias(
            "digit_masked"
        ),
    ).orderBy("doc_id")


@q(
    "q157_string_format_family",
    oracle="""
    SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
           translate(c_mktsegment, 'AEIOU', 'aeiou') AS xlat,
           repeat('-', CAST(c_custkey % 5 AS INT)) AS dashes,
           reverse(c_name) AS rname,
           concat_ws('|', c_mktsegment, c_name) AS joined
    FROM customer WHERE c_custkey <= 200 ORDER BY c_custkey
    """,
)
def q157(spark: SparkSession, sf: str) -> DataFrame:
    """String formatting family: lpad, translate, repeat, reverse,
    concat_ws — byte-identical across engines by construction."""
    c = load(spark, sf, "customer").where(F.col("c_custkey") <= 200)
    return c.select(
        "c_custkey",
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias(
            "padded"
        ),
        F.translate("c_mktsegment", "AEIOU", "aeiou").alias("xlat"),
        F.repeat(F.lit("-"), (F.col("c_custkey") % 5).cast("int")).alias(
            "dashes"
        ),
        F.reverse("c_name").alias("rname"),
        F.concat_ws("|", "c_mktsegment", "c_name").alias("joined"),
    ).orderBy("c_custkey")


@q(
    "q158_argmin_argmax",
    oracle="""
    SELECT o_orderpriority AS pri,
           CAST(COUNT(*) FILTER (WHERE o_totalprice > 100000) AS BIGINT)
             AS n_big,
           CAST(max_by(o_orderkey, o_totalprice) AS BIGINT)
             AS key_of_max,
           CAST(min_by(o_orderkey, o_totalprice) AS BIGINT)
             AS key_of_min,
           CAST(ROUND(MAX(o_totalprice) * 100) AS BIGINT) AS max_c
    FROM orders GROUP BY o_orderpriority ORDER BY pri
    """,
)
def q158(spark: SparkSession, sf: str) -> DataFrame:
    """Conditional/argument aggregation family: count_if (FILTER
    clause), max_by/min_by (per-group argmax/argmin WITHOUT a window
    pass — one hash aggregate instead of a sort+row_number). Prices are
    unique per group in this data, so the arg row is well-defined."""
    o = load(spark, sf, "orders")
    return (
        o.groupBy(F.col("o_orderpriority").alias("pri"))
        .agg(
            F.count_if(F.col("o_totalprice") > 100000).alias("n_big"),
            F.max_by("o_orderkey", "o_totalprice").alias("key_of_max"),
            F.min_by("o_orderkey", "o_totalprice").alias("key_of_min"),
            cents(F.max("o_totalprice")).alias("max_c"),
        )
        .orderBy("pri")
    )


@q(
    "q159_gaps_islands",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn,
             CAST(epoch(ts) AS BIGINT) // 86400 AS day
      FROM events),
    isl AS (
      SELECT user_id, day - rn AS grp, COUNT(*) AS len
      FROM (SELECT DISTINCT user_id,
                   day,
                   DENSE_RANK() OVER (PARTITION BY user_id ORDER BY day)
                     AS rn
            FROM seq) d
      GROUP BY user_id, grp)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(MAX(len) AS BIGINT) AS longest,
           CAST(SUM(CASE WHEN len >= 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_streaks_3plus
    FROM isl
    """,
)
def q159(spark: SparkSession, sf: str) -> DataFrame:
    """Gaps-and-islands: consecutive-day activity streaks per user via
    the classic day - dense_rank grouping constant — retention
    streaks/contiguity analysis in two window-free-of-self-join passes
    (one shuffle on the user key)."""
    e = load_events(spark, sf)
    days = (
        e.select(
            "user_id",
            (F.unix_timestamp("ts") / F.lit(86400)).cast("long").alias(
                "day"
            ),
        )
        .distinct()
    )
    w = W.partitionBy("user_id").orderBy("day")
    isl = (
        days.withColumn("rn", F.dense_rank().over(w))
        .withColumn("grp", F.col("day") - F.col("rn"))
        .groupBy("user_id", "grp")
        .agg(F.count(F.lit(1)).alias("len"))
    )
    return isl.agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.max("len").alias("longest"),
        F.sum(F.when(F.col("len") >= 3, 1).otherwise(0))
        .cast("long")
        .alias("n_streaks_3plus"),
    )


@q(
    "q160_skew_report",
    oracle="""
    WITH c AS (
      SELECT l_orderkey, COUNT(*) AS n_rows FROM lineitem
      GROUP BY l_orderkey),
    t AS (SELECT SUM(n_rows) AS total FROM c)
    SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
           n_rows,
           ROUND(CAST(n_rows AS DOUBLE) / total, 6) AS share_r,
           CAST(ROW_NUMBER() OVER (ORDER BY n_rows DESC, l_orderkey)
             AS INT) AS rank
    FROM c, t ORDER BY rank LIMIT 5
    """,
)
def q160(spark: SparkSession, sf: str) -> DataFrame:
    """Skew diagnostics: the hottest join keys with row counts and
    corpus share — the numbers that pick between a plain shuffle,
    AQE's skew split, and an explicit salted join. One hash aggregate;
    the share window runs over the already-aggregated key counts."""
    from spark_iceberg_schema_evolution_spark.operators.profile import (
        skew_report,
    )

    li = load(spark, sf, "lineitem")
    return skew_report(li, ["l_orderkey"], top=5).select(
        "l_orderkey",
        "n_rows",
        F.round("share", 6).alias("share_r"),
        F.col("rank").cast("int").alias("rank"),
    )


@q(
    "q161_embedding_pooling",
    oracle="""
    WITH g AS (
      SELECT vec_id % 50 AS grp, vec_id, embedding FROM embeddings),
    flat AS (
      SELECT grp, t.i,
             list_reduce(
               list(CAST(embedding[t.i] AS DOUBLE) ORDER BY vec_id),
               (a, b) -> a + b) / COUNT(*) AS m
      FROM g CROSS JOIN range(1, 65) t(i)
      GROUP BY grp, t.i),
    pooled AS (
      SELECT grp, list(m ORDER BY i) AS vec FROM flat GROUP BY grp)
    SELECT CAST(grp AS BIGINT) AS grp,
           ROUND(vec[1], 6) AS e1,
           ROUND(list_reduce(vec, (a, b) -> a + b), 6) AS esum
    FROM pooled ORDER BY grp
    """,
)
def q161(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped mean-pooling of embeddings (the chunk-embeddings ->
    document-embedding step): vectors collect in SORTED member order so
    the element-wise fold is a deterministic left fold — the oracle
    replays the identical (order, arithmetic) sequence via DuckDB
    list_reduce, making float pooling hash-exact across engines."""
    from spark_iceberg_schema_evolution_spark.operators.similarity import (
        as_double,
        avg_pool,
        fold_sum,
    )

    e = load(spark, sf, "embeddings").select(
        (F.col("vec_id") % 50).alias("grp"), "vec_id", "embedding"
    )
    grouped = e.groupBy("grp").agg(
        F.sort_array(
            F.collect_list(F.struct("vec_id", "embedding"))
        ).alias("vs")
    )
    arrs = F.transform(F.col("vs"), lambda s: as_double(s["embedding"]))
    pooled = avg_pool(arrs)
    return grouped.select(
        "grp",
        F.round(F.element_at(pooled, 1), 6).alias("e1"),
        F.round(fold_sum(pooled), 6).alias("esum"),
    ).orderBy("grp")


@q(
    "q162_time_weighted_avg",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, value, event_id,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS nxt
      FROM events),
    seg AS (
      SELECT user_id,
             epoch_us(nxt) - epoch_us(ts) AS dt_us,
             CAST(ROUND(value * 100) AS BIGINT) AS v_c
      FROM seq WHERE nxt IS NOT NULL)
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(SUM(dt_us * v_c) AS BIGINT) AS weighted_c,
           CAST(SUM(dt_us) AS BIGINT) AS total_us,
           ROUND(CAST(SUM(dt_us * v_c) AS DOUBLE) / 100
                 / CAST(SUM(dt_us) AS DOUBLE), 4) AS twap
    FROM seg GROUP BY user_id
    HAVING SUM(dt_us) > 0
    ORDER BY user_id LIMIT 100
    """,
)
def q162(spark: SparkSession, sf: str) -> DataFrame:
    """Time-weighted average (TimescaleDB's time_weight, the TWAP of
    financial series): each observation holds until the next one, so
    the mean weights values by their holding duration — computed in
    exact integer (seconds x cents) space so the per-user sums are
    shuffle-order-independent and hash-exact; only the final quotient
    is floating."""
    e = load_events(spark, sf)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (
        e.select(
            "user_id", "ts", "event_id",
            cents(F.col("value")).alias("v_c"),
            F.unix_micros("ts").alias("t_us"),
        )
        .withColumn("nxt_us", F.lead(F.unix_micros("ts")).over(w))
        .where(F.col("nxt_us").isNotNull())
        .select(
            "user_id",
            (F.col("nxt_us") - F.col("t_us")).alias("dt_us"),
            "v_c",
        )
    )
    return (
        seg.groupBy("user_id")
        .agg(
            F.sum(F.col("dt_us") * F.col("v_c")).alias("weighted_c"),
            F.sum("dt_us").alias("total_us"),
        )
        .where(F.col("total_us") > 0)
        .select(
            "user_id",
            "weighted_c",
            "total_us",
            F.round(
                F.col("weighted_c").cast("double")
                / 100
                / F.col("total_us").cast("double"),
                4,
            ).alias("twap"),
        )
        .orderBy("user_id")
        .limit(100)
    )


@q(
    "q163_containment_dedup",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, UNNEST({_DUCK_SHINGLES}) AS s
      FROM documents),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    scored AS (
      SELECT id_a, id_b, n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
             CAST(n_common AS DOUBLE)
               / (sa.n_sh + sb.n_sh - n_common) AS jac,
             CAST(n_common AS DOUBLE)
               / LEAST(sa.n_sh, sb.n_sh) AS cont
      FROM common
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_contained,
           CAST(SUM(CASE WHEN jac < 0.5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_jaccard_misses,
           CAST(MIN(id_a) AS BIGINT) AS first_a
    FROM scored WHERE cont >= 0.8
    """,
)
def q163(spark: SparkSession, sf: str) -> DataFrame:
    """Containment (overlap-coefficient) dedup signal: pairs where one
    doc's shingles sit >= 80% inside the other — n_jaccard_misses
    counts how many of them plain Jaccard-at-0.5 would MISS (the
    small-doc-embedded-in-big-doc case: quotes, concatenated pages),
    which is why dedup pipelines threshold containment separately."""
    from spark_iceberg_schema_evolution_spark.operators.dedup import (
        jaccard_pairs,
    )

    d = load(spark, sf, "documents")
    scored = jaccard_pairs(d)
    hits = scored.where(F.col("containment") >= 0.8)
    return hits.agg(
        F.count(F.lit(1)).alias("n_contained"),
        F.sum(F.when(F.col("jaccard") < 0.5, 1).otherwise(0))
        .cast("long")
        .alias("n_jaccard_misses"),
        F.min("id_a").alias("first_a"),
    )


@q(
    "q164_date_trunc_family",
    oracle="""
    SELECT CAST(CAST(date_trunc('quarter', o_orderdate) AS DATE)
             AS VARCHAR) AS qtr,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT date_trunc('week', o_orderdate))
             AS BIGINT) AS n_weeks,
           CAST(MIN(CAST(date_trunc('month', o_orderdate) AS DATE))
             AS VARCHAR) AS first_month
    FROM orders GROUP BY qtr ORDER BY qtr
    """,
)
def q164(spark: SparkSession, sf: str) -> DataFrame:
    """Calendar bucketing family: quarter/week/month date_trunc
    rollups — both engines anchor weeks on Monday and quarters on the
    calendar, so the buckets align exactly. Buckets emit as ISO
    strings, not DATE: DuckDB's DATE materializes as datetime.date on
    some builds and a midnight Timestamp on others, so a DATE output
    column is a cross-version hash hazard (the q166/q172/q184 round-8
    lesson; this query was green on the r7 driver and red under the
    local duckdb's Timestamp convention)."""
    o = load(spark, sf, "orders")
    return (
        o.groupBy(
            F.trunc("o_orderdate", "quarter").cast("string").alias("qtr")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct(F.trunc("o_orderdate", "week")).alias(
                "n_weeks"
            ),
            F.min(F.trunc("o_orderdate", "month"))
            .cast("string")
            .alias("first_month"),
        )
        .orderBy("qtr")
    )


@q(
    "q170_clone_constraints",
    oracle="""
    SELECT (SELECT COUNT(*) FROM customer WHERE c_custkey < 400)
             AS src_rows,
           (SELECT COUNT(*) FROM customer
             WHERE c_custkey >= 100 AND c_custkey < 300) AS clone_rows,
           CAST(1 AS BIGINT) AS violations_blocked,
           'c_acctbal >= -1000' AS clone_constraint
    """,
)
def q170(spark: SparkSession, sf: str) -> DataFrame:
    """Zero-copy shallow clone + CHECK constraints lifecycle: a table
    with a CHECK constraint clones without moving data (the clone's
    manifest references the source's files), the two sides then
    diverge independently (append to source, DELETE on the clone), and
    a violating append to the clone is refused WHOLE by the inherited
    constraint — the clone's count proves no partial state landed. The
    oracle recomputes both final counts from the base table."""
    from spark_iceberg_schema_evolution_spark.tables import (
        ConstraintViolation,
    )

    cat = _tmp_catalog(spark)
    c = load(spark, sf, "customer")
    cat.write_evolving(
        c.where("c_custkey < 300").select("c_custkey", "c_acctbal"),
        "db", "src",
    )
    src = cat.table("db", "src")
    src.add_constraint("bal_floor", "c_acctbal >= -1000")
    src.clone_to(cat.table("db", "dup"))
    dup = cat.table("db", "dup")
    # diverge: source grows, clone shrinks — neither sees the other
    src.append(
        c.where("c_custkey >= 300 AND c_custkey < 400").select(
            "c_custkey", "c_acctbal"
        )
    )
    dup.delete_where(F.col("c_custkey") < 100)
    blocked = 0
    try:
        dup.append(
            spark.createDataFrame(
                [(999999, -5000.0)], "c_custkey long, c_acctbal double"
            )
        )
    except ConstraintViolation:
        blocked = 1
    return spark.createDataFrame(
        [(
            src.row_count(),
            dup.row_count(),
            blocked,
            dup.constraints()["bal_floor"],
        )],
        "src_rows long, clone_rows long, violations_blocked long, "
        "clone_constraint string",
    )


@q(
    "q171_scd2_incremental",
    oracle="""
    WITH changes AS (
      SELECT o_custkey AS id, MIN(o_orderpriority) AS seg,
             STRFTIME(o_orderdate, '%Y-%m-%d') AS ts
      FROM orders WHERE o_custkey < 300
      GROUP BY o_custkey, STRFTIME(o_orderdate, '%Y-%m-%d')),
    all_open AS (
      SELECT c_custkey AS id, c_mktsegment AS seg,
             '1990-01-01' AS valid_from
      FROM customer WHERE c_custkey < 300
      UNION ALL
      SELECT id, seg, ts AS valid_from FROM changes),
    rebuilt AS (
      SELECT id, seg, valid_from,
             LEAD(valid_from) OVER (PARTITION BY id ORDER BY valid_from)
               AS valid_to
      FROM all_open)
    SELECT id, seg, valid_from, valid_to,
           CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS is_current
    FROM rebuilt ORDER BY id, valid_from, seg
    """,
)
def q171(spark: SparkSession, sf: str) -> DataFrame:
    """INCREMENTAL SCD2 on a lakehouse dimension (scd2_merge, the
    O(changes) sibling of q68's full-rebuild scd2_apply): the seed
    batch bootstraps the table, the change batch closes open rows via
    COW MERGE and appends its chained versions — closed history is
    never rewritten. The oracle chains BOTH batches at once: the
    incremental path must land exactly where the one-shot rebuild
    lands."""
    from spark_iceberg_schema_evolution_spark.operators.scd import (
        scd2_merge,
    )

    cat = _tmp_catalog(spark)
    dim = cat.table("db", "dim")
    c = load(spark, sf, "customer").where("c_custkey < 300")
    seed = c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_mktsegment").alias("seg"),
        F.lit("1990-01-01").alias("ts"),
    )
    scd2_merge(dim, seed, keys=["id"], change_ts="ts")
    changes = (
        load(spark, sf, "orders")
        .where("o_custkey < 300")
        .groupBy(
            "o_custkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("ts"),
        )
        .agg(F.min("o_orderpriority").alias("seg"))
        .select(F.col("o_custkey").alias("id"), "seg", "ts")
    )
    scd2_merge(dim, changes, keys=["id"], change_ts="ts")
    return dim.read().select(
        "id", "seg", "valid_from", "valid_to",
        F.col("is_current").cast("int").alias("is_current"),
    ).orderBy("id", "valid_from", "seg")


@q(
    "q172_counter_agg",
    oracle="""
    WITH s AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS bucket,
             CAST(ROUND(value * 100) AS BIGINT) AS v_c,
             lag(CAST(ROUND(value * 100) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events),
    c AS (
      SELECT user_id, bucket,
             CASE WHEN prev IS NULL THEN 0
                  WHEN v_c - prev < 0 THEN v_c
                  ELSE v_c - prev END AS inc,
             CASE WHEN prev IS NOT NULL AND v_c - prev < 0
                  THEN 1 ELSE 0 END AS rst
      FROM s)
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(bucket AS VARCHAR) AS bucket,
           CAST(SUM(inc) AS BIGINT) AS increase_c,
           CAST(SUM(rst) AS BIGINT) AS n_resets,
           COUNT(*) AS n_obs
    FROM c GROUP BY user_id, bucket
    ORDER BY user_id, bucket LIMIT 200
    """,
)
def q172(spark: SparkSession, sf: str) -> DataFrame:
    """Resets-aware counter rollup (TimescaleDB counter_agg / PromQL
    increase): per-key deltas with restart detection, summed per
    (user, day) — one shuffle (the lag window's key partitioning
    satisfies the bucket aggregate's clustering), exact cents so every
    output column is integer."""
    from spark_iceberg_schema_evolution_spark.operators.relational import (
        counter_agg,
    )

    e = load_events(spark, sf).select(
        "user_id", "ts", "event_id", cents(F.col("value")).alias("v_c")
    )
    out = counter_agg(
        e, keys=["user_id"], ts_col="ts", value_col="v_c",
        bucket="day", tiebreak="event_id",
    )
    return out.select(
        "user_id",
        # STRING date, not DATE: pandas-canon portability — Spark DATE
        # arrives as datetime.date, DuckDB DATE as a midnight Timestamp,
        # and their string forms differ under the driver's cell-repr hash
        F.col("bucket").cast("date").cast("string").alias("bucket"),
        F.col("increase").cast("long").alias("increase_c"),
        "n_resets",
        "n_obs",
    ).orderBy("user_id", "bucket").limit(200)


@q(
    "q166_ohlc_bars",
    oracle="""
    WITH b AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS bucket,
             CAST(ROUND(value * 100) AS BIGINT) AS v_c,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, date_trunc('day', ts)
               ORDER BY ts, event_id) AS rn,
             COUNT(*) OVER (
               PARTITION BY user_id, date_trunc('day', ts)) AS n
      FROM events)
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(bucket AS VARCHAR) AS bucket,
           MAX(CASE WHEN rn = 1 THEN v_c END) AS open_c,
           MAX(v_c) AS high_c,
           MIN(v_c) AS low_c,
           MAX(CASE WHEN rn = n THEN v_c END) AS close_c,
           COUNT(*) AS n_obs
    FROM b GROUP BY user_id, bucket
    ORDER BY user_id, bucket LIMIT 200
    """,
)
def q166(spark: SparkSession, sf: str) -> DataFrame:
    """Time-bucketed OHLC bars (TimescaleDB candlestick_agg shape) —
    the canonical first/last-in-bucket aggregation, also the
    first-touch/last-touch attribution primitive: ONE shuffle on
    (user, day), open/close picked by row_number against the same
    window, values in exact cents so every bar column is
    integer-exact; event_id tiebreak pins equal timestamps."""
    from spark_iceberg_schema_evolution_spark.operators.relational import (
        ohlc_bars,
    )

    e = load_events(spark, sf).select(
        "user_id", "ts", "event_id", cents(F.col("value")).alias("v_c")
    )
    bars = ohlc_bars(
        e, keys=["user_id"], ts_col="ts", value_col="v_c",
        bucket="day", tiebreak="event_id",
    )
    return bars.select(
        "user_id",
        # STRING date for pandas-canon portability (see q172)
        F.col("bucket").cast("date").cast("string").alias("bucket"),
        F.col("open").alias("open_c"),
        F.col("high").alias("high_c"),
        F.col("low").alias("low_c"),
        F.col("close").alias("close_c"),
        "n_obs",
    ).orderBy("user_id", "bucket").limit(200)


@q(
    "q167_corr_regression",
    oracle="""
    WITH i AS (
      SELECT l_returnflag,
             CAST(ROUND(l_quantity) AS BIGINT) AS x,
             CAST(ROUND(l_extendedprice) AS BIGINT) AS y
      FROM lineitem),
    m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM i GROUP BY l_returnflag),
    c AS (
      SELECT l_returnflag, n,
             CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
             CAST(n AS DOUBLE) AS nd,
             CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                 / CAST(n AS DOUBLE) AS cxy,
             CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                 / CAST(n AS DOUBLE) AS cxx,
             CAST(syy AS DOUBLE)
               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                 / CAST(n AS DOUBLE) AS cyy
      FROM m)
    SELECT l_returnflag, n AS n_rows,
           ROUND(cxy / sqrt(cxx * cyy), 4) AS corr_r,
           ROUND(cxy / (nd - 1.0) / 1000, 4) AS covar_k,
           ROUND(cxy / cxx, 4) AS slope_r,
           ROUND((syd / nd - cxy / cxx * (sxd / nd)) / 1000, 4)
             AS icept_k,
           ROUND(cxy * cxy / (cxx * cyy), 4) AS r2_r
    FROM c ORDER BY l_returnflag
    """,
)
def q167(spark: SparkSession, sf: str) -> DataFrame:
    """Bivariate statistics family: corr / covar_samp / OLS regression
    (slope, intercept, R^2) per group in ONE hash aggregate over exact
    int64 moments (``stats.bivariate_stats``), NOT the native
    corr/regr_* streaming folds — those are accumulation-order-
    dependent in the last ulp, so a ROUND(,4) compare against another
    engine is a float fence (the q145 round-7 lesson applied before the
    driver gets to prove it). Inputs quantized deterministically to
    whole units (ROUND on identical parquet doubles on both sides);
    readout is the fixed-shape double expression both engines evaluate
    bit-identically."""
    from spark_iceberg_schema_evolution_spark.operators.stats import (
        bivariate_stats,
    )

    li = load(spark, sf, "lineitem").select(
        "l_returnflag",
        F.round("l_quantity").cast("long").alias("x"),
        F.round("l_extendedprice").cast("long").alias("y"),
    )
    bv = bivariate_stats(li, ["l_returnflag"], "x", "y")
    return bv.select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        F.round("corr", 4).alias("corr_r"),
        F.round(F.col("covar_samp") / 1000, 4).alias("covar_k"),
        F.round("slope", 4).alias("slope_r"),
        F.round(F.col("icept") / 1000, 4).alias("icept_k"),
        F.round("r2", 4).alias("r2_r"),
    ).orderBy("l_returnflag")


@q(
    "q168_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT source, quantile_cont(n_chars, 0.5) AS med
      FROM documents GROUP BY source),
    dev AS (
      SELECT d.source, d.n_chars, med.med,
             ABS(d.n_chars - med.med) AS adev
      FROM documents d JOIN med USING (source)),
    mad AS (
      SELECT source, ANY_VALUE(med) AS med,
             quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY source)
    SELECT dev.source,
           COUNT(*) AS n_docs,
           ANY_VALUE(mad.med) AS med_chars,
           ANY_VALUE(mad.mad) AS mad_chars,
           CAST(SUM(CASE WHEN dev.adev > 3 * mad.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev JOIN mad ON dev.source = mad.source
    GROUP BY dev.source ORDER BY dev.source
    """,
)
def q168(spark: SparkSession, sf: str) -> DataFrame:
    """Robust outlier profiling via Median Absolute Deviation — the
    quality-signal trim step a heavy-tailed corpus needs where
    mean/stddev are themselves dragged by the outliers. Two exact
    interpolated medians (integer inputs, so every median and
    deviation is an exact x.0/x.5 double — no float-compare hazard on
    the 3*MAD fence) with the thresholds joined back broadcast-sized;
    the corpus is scanned, never collected."""
    d = load(spark, sf, "documents").select("source", "n_chars")
    med = d.groupBy("source").agg(
        F.expr("percentile(n_chars, 0.5)").alias("med")
    )
    dev = d.join(F.broadcast(med), "source").withColumn(
        "adev", F.abs(F.col("n_chars") - F.col("med"))
    )
    mad = dev.groupBy("source").agg(
        F.first("med").alias("med"),
        F.expr("percentile(adev, 0.5)").alias("mad"),
    )
    out = dev.drop("med").join(F.broadcast(mad), "source")
    return (
        out.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.first("med").alias("med_chars"),
            F.first("mad").alias("mad_chars"),
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0)
            ).cast("long").alias("n_outliers"),
        )
        .orderBy("source")
    )


@q(
    "q169_rolling_zscore",
    oracle="""
    WITH s AS (
      SELECT user_id,
             CAST(ROUND(value * 100) AS BIGINT) AS v_c,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w
                  AS BIGINT) AS s_w,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)
                      * CAST(ROUND(value * 100) AS BIGINT)) OVER w
                  AS BIGINT) AS q_w,
             COUNT(*) OVER w AS n_win
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)),
    z AS (
      SELECT user_id,
             (CAST(v_c AS DOUBLE) - CAST(s_w AS DOUBLE) / n_win)
               / sqrt((CAST(q_w AS DOUBLE)
                       - CAST(s_w AS DOUBLE) * CAST(s_w AS DOUBLE)
                         / n_win)
                      / (n_win - 1)) AS z
      FROM s WHERE n_win >= 5 AND n_win * q_w - s_w * s_w > 0)
    SELECT CAST(user_id AS BIGINT) AS user_id,
           COUNT(*) AS n_scored,
           CAST(SUM(CASE WHEN ABS(z) > 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_anomalies,
           CAST(SUM(CAST(ROUND(z * 10000) AS BIGINT)) AS BIGINT)
             AS z_sum_e4
    FROM z GROUP BY user_id ORDER BY user_id LIMIT 100
    """,
)
def q169(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling z-score anomaly flags — the streaming-adjacent
    change-detection primitive computed batch-side: per-user trailing
    10-row window (one shuffle, rows frame inside it), scored only
    where the window has >= 5 observations and positive variance.

    Float-fence discipline (the r7 q145 lesson, applied preemptively
    per the r7 verdict): instead of AVG/STDDEV_SAMP window folds —
    engine-order-dependent in the last ulp — the window accumulates
    exact integer moments (S, Q, n over cents values; sums of <= 10
    integers, order-free), the variance-positivity cut is the pure
    integer predicate n*Q - S*S > 0, and z is a fixed-shape double
    expression over those integers, bit-identical across engines. The
    per-row ROUND(z*1e4) then sees the identical double on both sides,
    and the user checksum sums BIGINTs (associative). z is scale-
    invariant, so cents quantization leaves its meaning unchanged."""
    e = load_events(spark, sf).select(
        "user_id", "ts", "event_id", cents(F.col("value")).alias("v_c")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, 0)
    )
    s = e.select(
        "user_id",
        "v_c",
        F.sum("v_c").over(w).alias("s_w"),
        F.sum(F.col("v_c") * F.col("v_c")).over(w).alias("q_w"),
        F.count(F.lit(1)).over(w).alias("n_win"),
    ).where(
        (F.col("n_win") >= 5)
        & (
            F.col("n_win") * F.col("q_w")
            - F.col("s_w") * F.col("s_w")
            > 0
        )
    )
    vd = F.col("v_c").cast("double")
    sd_ = F.col("s_w").cast("double")
    qd = F.col("q_w").cast("double")
    z = s.select(
        "user_id",
        (
            (vd - sd_ / F.col("n_win"))
            / F.sqrt(
                (qd - sd_ * sd_ / F.col("n_win"))
                / (F.col("n_win") - 1)
            )
        ).alias("z"),
    )
    return (
        z.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_scored"),
            F.sum(
                F.when(F.abs("z") > 2, 1).otherwise(0)
            ).cast("long").alias("n_anomalies"),
            F.sum(F.round(F.col("z") * 1e4).cast("long")).alias(
                "z_sum_e4"
            ),
        )
        .orderBy("user_id")
        .limit(100)
    )



@q(
    "q173_classifier_eval",
    oracle="""
    WITH g AS (
      SELECT n_chars AS s,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS np,
             SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS nn
      FROM documents GROUP BY n_chars),
    c AS (
      SELECT s, np, nn,
             COALESCE(SUM(nn) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_nn,
             SUM(np) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
             SUM(nn) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
      FROM g),
    t AS (SELECT SUM(np) AS n_pos, SUM(nn) AS n_neg,
                 SUM(np * (2 * cum_nn + nn)) AS u2 FROM c),
    best AS (
      SELECT c.s AS best_thr, c.tp, c.fp,
             (2 * c.tp * 1000000) // (t.n_pos + c.tp + c.fp)
               AS best_f1_ppm
      FROM c, t
      ORDER BY best_f1_ppm DESC, best_thr ASC LIMIT 1)
    SELECT CAST(t.n_pos AS BIGINT) AS n_pos,
           CAST(t.n_neg AS BIGINT) AS n_neg,
           CAST(t.u2 AS BIGINT) AS u2,
           ROUND(CAST(t.u2 AS DOUBLE)
                 / (2.0 * CAST(t.n_pos AS DOUBLE) * t.n_neg), 4) AS auc_r,
           CAST(best.best_thr AS BIGINT) AS best_thr,
           CAST(best.best_f1_ppm AS BIGINT) AS best_f1_ppm,
           CAST(best.tp AS BIGINT) AS tp,
           CAST(best.fp AS BIGINT) AS fp
    FROM t, best
    """,
)
def q173(spark: SparkSession, sf: str) -> DataFrame:
    """Exact classifier evaluation (rank-sum ROC-AUC + best-F1 operating
    point) of doc length as an English-detector — the eval half of the
    quality-classifier loop (q128/q145 score, this measures). Mann-
    Whitney 2U and the F1 sweep run entirely in integers (operator
    docstring derivation); the heavy work is one hash aggregate over the
    corpus, the ordered windows see only distinct scores."""
    from spark_iceberg_schema_evolution_spark.operators.stats import (
        classifier_eval,
    )

    d = load(spark, sf, "documents").select(
        F.col("n_chars").alias("s"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    return classifier_eval(d, "s", "y")


_AB_WELCH_ORACLE = """
    WITH e AS (
      SELECT event_type,
             CAST(user_id % 2 AS BIGINT) AS grp,
             CAST(ROUND(value * 100) AS BIGINT) AS x,
             CASE WHEN value > 50 THEN 1 ELSE 0 END AS conv
      FROM events),
    a AS (
      SELECT event_type,
             CAST(SUM(grp) AS BIGINT) AS n1,
             CAST(SUM(1 - grp) AS BIGINT) AS n0,
             CAST(SUM(grp * x) AS BIGINT) AS sx1,
             CAST(SUM((1 - grp) * x) AS BIGINT) AS sx0,
             CAST(SUM(grp * x * x) AS BIGINT) AS sxx1,
             CAST(SUM((1 - grp) * x * x) AS BIGINT) AS sxx0,
             CAST(SUM(grp * conv) AS BIGINT) AS c1
      FROM e GROUP BY event_type)
    SELECT event_type, n0, n1,
           ROUND(CAST(sx0 AS DOUBLE) / n0, 4) AS mean0_r,
           ROUND(CAST(sx1 AS DOUBLE) / n1, 4) AS mean1_r,
           ROUND((CAST(sx1 AS DOUBLE) / n1 - CAST(sx0 AS DOUBLE) / n0)
                 / sqrt(((CAST(sxx1 AS DOUBLE)
                          - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE)
                            / CAST(n1 AS DOUBLE))
                         / (CAST(n1 AS DOUBLE) - 1))
                          / CAST(n1 AS DOUBLE)
                        + ((CAST(sxx0 AS DOUBLE)
                            - CAST(sx0 AS DOUBLE) * CAST(sx0 AS DOUBLE)
                              / CAST(n0 AS DOUBLE))
                           / (CAST(n0 AS DOUBLE) - 1))
                            / CAST(n0 AS DOUBLE)), 4) AS welch_t_r,
           c1,
           ROUND(((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                   + 1.96 * 1.96 / (2.0 * CAST(n1 AS DOUBLE)))
                  / (1.0 + 1.96 * 1.96 / CAST(n1 AS DOUBLE)))
                 - (1.96 * sqrt((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                       * (1.0 - CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                       / CAST(n1 AS DOUBLE)
                     + 1.96 * 1.96
                       / (4.0 * CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)))
                    / (1.0 + 1.96 * 1.96 / CAST(n1 AS DOUBLE))), 4)
             AS wilson_lo_r,
           ROUND(((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                   + 1.96 * 1.96 / (2.0 * CAST(n1 AS DOUBLE)))
                  / (1.0 + 1.96 * 1.96 / CAST(n1 AS DOUBLE)))
                 + (1.96 * sqrt((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                       * (1.0 - CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                       / CAST(n1 AS DOUBLE)
                     + 1.96 * 1.96
                       / (4.0 * CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)))
                    / (1.0 + 1.96 * 1.96 / CAST(n1 AS DOUBLE))), 4)
             AS wilson_hi_r
    FROM a ORDER BY event_type
    """


@q(
    "q174_ab_welch",
    oracle=_AB_WELCH_ORACLE,
)
def q174(spark: SparkSession, sf: str) -> DataFrame:
    """Per-event-type A/B experiment readout (arm = user parity): Welch
    t on the cents-exact value metric plus Wilson 95% interval on the
    treatment conversion rate — ONE conditional-sum hash aggregate,
    both arms folded without a self-join. The oracle restates the
    operator's fixed-shape double expressions term for term (exact
    integer moments in, IEEE-deterministic /, *, sqrt out)."""
    from spark_iceberg_schema_evolution_spark.operators.stats import (
        ab_welch,
    )

    e = load_events(spark, sf).select(
        "event_type",
        (F.col("user_id") % 2).cast("long").alias("grp"),
        cents(F.col("value")).alias("v_c"),
        (F.col("value") > 50).cast("long").alias("conv"),
    )
    return ab_welch(e, "event_type", "grp", "v_c", "conv").orderBy(
        "event_type"
    )


@q(
    "q175_event_transitions",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_state
      FROM events),
    m AS (
      SELECT prev_state, event_type AS curr_state, COUNT(*) AS n
      FROM s WHERE prev_state IS NOT NULL
      GROUP BY prev_state, event_type)
    SELECT prev_state, curr_state, CAST(n AS BIGINT) AS n,
           CAST(SUM(n) OVER (PARTITION BY prev_state) AS BIGINT)
             AS n_from_prev,
           CAST((n * 1000000) // SUM(n) OVER (PARTITION BY prev_state)
                AS BIGINT) AS p_ppm
    FROM m ORDER BY prev_state, curr_state
    """,
)
def q175(spark: SparkSession, sf: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences, with exact ppm transition probabilities — the sequence-
    model / funnel-free behavioral summary. Keyed lag window + one
    |states|^2 aggregate; row totals ride a window over the tiny
    matrix, not a third shuffle."""
    from spark_iceberg_schema_evolution_spark.operators.stats import (
        event_transitions,
    )

    e = load_events(spark, sf)
    return event_transitions(
        e, ["user_id"], "ts", "event_type", "event_id"
    ).orderBy("prev_state", "curr_state")


@q(
    "q176_pmi_collocations",
    oracle="""
    WITH w AS (
      SELECT string_split(lower(trim(text)), ' ') AS ws FROM documents),
    uc AS (
      SELECT w, COUNT(*) AS c_w
      FROM (SELECT UNNEST(ws) AS w FROM w) GROUP BY w),
    ball AS (
      SELECT bg, COUNT(*) AS c_ab FROM (
        SELECT UNNEST(
          [ws[i] || ' ' || ws[i+1] FOR i IN generate_series(1, len(ws) - 1)]
        ) AS bg FROM w)
      GROUP BY bg),
    tot AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS n_bi FROM ball),
    b AS (
      SELECT bg, c_ab, split_part(bg, ' ', 1) AS wa,
             split_part(bg, ' ', 2) AS wb
      FROM ball WHERE c_ab >= 5)
    SELECT b.bg AS bigram, CAST(b.c_ab AS BIGINT) AS c_ab,
           CAST(ua.c_w AS BIGINT) AS c_a, CAST(ub.c_w AS BIGINT) AS c_b,
           CAST((CAST(b.c_ab AS HUGEINT) * tot.n_bi * 1000000)
                // (CAST(ua.c_w AS HUGEINT) * ub.c_w) AS BIGINT)
             AS lift_ppm
    FROM b, tot
    JOIN uc ua ON b.wa = ua.w
    JOIN uc ub ON b.wb = ub.w
    ORDER BY lift_ppm DESC, bigram ASC LIMIT 100
    """,
)
def q176(spark: SparkSession, sf: str) -> DataFrame:
    """Collocation mining by exact PMI-lift ppm (phrase discovery for
    tokenizer/vocab curation): unigram + bigram aggregates over one
    tokenize pass, broadcast unigram legs, DECIMAL(38) cross-multiplied
    lift so the ranking is engine-exact (log-free: monotone with PMI).
    N counts ALL bigrams; min_count prunes only the candidates."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        pmi_collocations,
    )

    return pmi_collocations(
        load(spark, sf, "documents"), min_count=5, top_k=100
    )


@q(
    "q177_cusum_changepoint",
    oracle="""
    WITH v AS (
      SELECT user_id, ts, event_id,
             CAST(ROUND(value * 100) AS BIGINT) AS x
      FROM events),
    s AS (
      SELECT user_id,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS i,
             SUM(x) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_i,
             COUNT(*) OVER (PARTITION BY user_id) AS n,
             SUM(x) OVER (PARTITION BY user_id) AS s_n
      FROM v),
    d AS (
      SELECT user_id, i, n, ABS(n * s_i - i * s_n) AS dd FROM s),
    m AS (
      SELECT user_id, ANY_VALUE(n) AS n_obs, MAX(dd) AS d_max
      FROM d GROUP BY user_id)
    SELECT CAST(d.user_id AS BIGINT) AS user_id,
           CAST(m.n_obs AS BIGINT) AS n_obs,
           CAST(MIN(CASE WHEN d.dd = m.d_max THEN d.i END) AS BIGINT)
             AS cp_index,
           CAST(m.d_max AS BIGINT) AS d_max,
           ROUND(CAST(m.d_max AS DOUBLE)
                 / (CAST(m.n_obs AS DOUBLE) * m.n_obs), 4) AS drift_r
    FROM d JOIN m USING (user_id)
    GROUP BY d.user_id, m.n_obs, m.d_max
    ORDER BY user_id LIMIT 200
    """,
)
def q177(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user CUSUM-style changepoint scan on the cents-exact value
    series: D = max |n*S_i - i*S_n| (all int64) locates level shifts;
    smallest-index tiebreak pins the argmax. One keyed-window shuffle;
    the aggregate reuses its partitioning."""
    from spark_iceberg_schema_evolution_spark.operators.stats import (
        cusum_changepoint,
    )

    e = load_events(spark, sf).select(
        "user_id", "ts", "event_id", cents(F.col("value")).alias("v_c")
    )
    out = cusum_changepoint(e, ["user_id"], "ts", "v_c", "event_id")
    return out.select(
        "user_id",
        "n_obs",
        F.col("cp_index").cast("long").alias("cp_index"),
        "d_max",
        "drift_r",
    ).orderBy("user_id").limit(200)


@q(
    "q178_autocorr",
    oracle="""
    WITH p AS (
      SELECT user_id,
             lag(CAST(ROUND(value * 100) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS xv,
             CAST(ROUND(value * 100) AS BIGINT) AS yv
      FROM events),
    m AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(xv) AS BIGINT) AS sx,
             CAST(SUM(yv) AS BIGINT) AS sy,
             CAST(SUM(xv * yv) AS BIGINT) AS sxy,
             CAST(SUM(xv * xv) AS BIGINT) AS sxx,
             CAST(SUM(yv * yv) AS BIGINT) AS syy
      FROM p WHERE xv IS NOT NULL GROUP BY user_id)
    SELECT CAST(user_id AS BIGINT) AS user_id, n,
           CASE WHEN (n * sxx - sx * sx) > 0
                 AND (n * syy - sy * sy) > 0 THEN
             ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                   / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                          * CAST(n * syy - sy * sy AS DOUBLE)), 4)
           END AS autocorr_r
    FROM m WHERE n >= 10 ORDER BY user_id LIMIT 200
    """,
)
def q178(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user lag-1 autocorrelation from exact integer moments —
    deterministic where corr()'s streaming co-moments are not (operator
    docstring). One keyed-window shuffle, moment aggregate reuses the
    partitioning; NULL where a side has zero variance."""
    from spark_iceberg_schema_evolution_spark.operators.stats import (
        autocorr_lag,
    )

    e = load_events(spark, sf).select(
        "user_id", "ts", "event_id", cents(F.col("value")).alias("v_c")
    )
    out = autocorr_lag(
        e, ["user_id"], "ts", "v_c", "event_id", lag=1, min_pairs=10
    )
    return out.orderBy("user_id").limit(200)


@q(
    "q179_tv_divergence",
    oracle="""
    WITH t AS (
      SELECT doc_id % 2 AS grp,
             UNNEST(string_split(lower(trim(text)), ' ')) AS w
      FROM documents),
    c AS (
      SELECT w,
             SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS c_a,
             SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS c_b
      FROM t GROUP BY w),
    tot AS (SELECT CAST(SUM(c_a) AS BIGINT) AS n_a,
                   CAST(SUM(c_b) AS BIGINT) AS n_b FROM c)
    SELECT tot.n_a, tot.n_b,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(CASE WHEN c.c_a > 0 AND c.c_b > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_common,
           ROUND(CAST(SUM(ABS(c.c_a * tot.n_b - c.c_b * tot.n_a))
                      AS DOUBLE)
                 / (2.0 * CAST(tot.n_a AS DOUBLE) * tot.n_b), 4) AS tv_r
    FROM c, tot GROUP BY tot.n_a, tot.n_b
    """,
)
def q179(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus drift as exact total-variation distance between the token
    distributions of two splits (even/odd doc ids): cross-multiplied
    counts keep the numerator in int64 — no per-token division, no float
    accumulation, no vocabulary self-join (both splits fold in ONE
    conditional-sum aggregate)."""
    from spark_iceberg_schema_evolution_spark.operators.text import (
        corpus_divergence,
    )

    d = load(spark, sf, "documents")
    return corpus_divergence(d, F.col("doc_id") % 2)


@q(
    "q180_variant_shred",
    oracle="""
    WITH s AS (
      SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k
      FROM events)
    SELECT CAST(k // 10 AS BIGINT) AS k_bucket,
           COUNT(*) AS n,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           COUNT(*) AS n_missing
    FROM s GROUP BY k // 10 ORDER BY k_bucket
    """,
)
def q180(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured shredding through Spark 4's VARIANT type:
    parse_json once, typed variant_get extraction (and try_variant_get
    returning NULL on an absent path — counted to prove the lenient
    path), then a plain relational rollup. VARIANT keeps the binary
    decode columnar and lazy — at scale this replaces per-row JSON
    string re-parsing in every expression."""
    e = load_events(spark, sf)
    v = F.parse_json(F.col("props"))
    shredded = e.select(
        F.variant_get(v, "$.k", "int").alias("k"),
        F.try_variant_get(v, "$.missing", "int").alias("miss"),
    )
    return (
        shredded.groupBy(F.expr("k div 10").alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.sum(F.col("miss").isNull().cast("int"))
            .cast("long")
            .alias("n_missing"),
        )
        .orderBy("k_bucket")
    )



@q(
    "q181_rrf_fusion",
    oracle="""
    WITH d AS (
      SELECT doc_id, n_chars,
             len(string_split(lower(trim(text)), ' ')) AS n_tok
      FROM documents),
    l AS (
      SELECT doc_id, r FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id ASC) AS r
        FROM d) WHERE r <= 200),
    t AS (
      SELECT doc_id, r FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY n_tok DESC, doc_id ASC) AS r
        FROM d) WHERE r <= 200)
    SELECT doc_id,
           CAST(l.r AS INT) AS r_len,
           CAST(t.r AS INT) AS r_tok,
           ROUND(COALESCE(CAST(1 AS DOUBLE) / (60 + l.r), 0.0)
                 + COALESCE(CAST(1 AS DOUBLE) / (60 + t.r), 0.0), 6)
             AS rrf_r
    FROM l FULL OUTER JOIN t USING (doc_id)
    ORDER BY rrf_r DESC, doc_id ASC LIMIT 50
    """,
)
def q181(spark: SparkSession, sf: str) -> DataFrame:
    """Reciprocal-rank fusion of two document-quality rankings (char
    length, token count) — the parameter-free score ensemble. Each
    signal takes its top-200 via distributed TakeOrdered BEFORE the
    single-partition row_number, so the global-rank window only ever
    sees the bounded candidate frame; candidate lists merge full-outer
    with absent ranks contributing 0."""
    from spark_iceberg_schema_evolution_spark.operators.stats import (
        rank_fusion,
    )

    d = load(spark, sf, "documents").select(
        "doc_id",
        "n_chars",
        F.size(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("n_tok"),
    )
    out = rank_fusion(
        d,
        ["doc_id"],
        [
            ("len", [F.desc("n_chars"), F.asc("doc_id")]),
            ("tok", [F.desc("n_tok"), F.asc("doc_id")]),
        ],
        k=60,
        top_n=200,
    )
    return out.orderBy(F.desc("rrf_r"), F.asc("doc_id")).limit(50)


@q(
    "q182_interval_coverage",
    oracle="""
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s_us,
             epoch_us(ts)
               + CAST(ROUND(value * 100) AS BIGINT) * 10000 AS e_us
      FROM events),
    b AS (
      SELECT user_id, s_us AS b_ts, 1 AS delta FROM iv
      UNION ALL
      SELECT user_id, e_us AS b_ts, -1 AS delta FROM iv),
    s AS (
      SELECT user_id, b_ts,
             SUM(delta) OVER (
               PARTITION BY user_id ORDER BY b_ts, delta
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS depth,
             LEAD(b_ts) OVER (
               PARTITION BY user_id ORDER BY b_ts, delta) AS next_ts
      FROM b)
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(SUM(CASE WHEN depth > 0 AND next_ts IS NOT NULL
                         THEN next_ts - b_ts ELSE 0 END) AS BIGINT)
             AS covered,
           CAST(MAX(depth) AS BIGINT) AS max_concurrency,
           CAST(COUNT(*) // 2 AS BIGINT) AS n_intervals
    FROM s GROUP BY user_id ORDER BY user_id LIMIT 200
    """,
)
def q182(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user interval union + peak concurrency over activity
    intervals [ts, ts + value seconds): the classic +1/-1 boundary
    sweep — no interval self-join, ONE keyed window shuffle, exact
    epoch-micros integer arithmetic. Half-open semantics: touching
    intervals are contiguous, never concurrent."""
    from spark_iceberg_schema_evolution_spark.operators.relational import (
        interval_coverage,
    )

    e = load_events(spark, sf).select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("s_us"),
        (
            F.unix_micros(F.col("ts"))
            + cents(F.col("value")) * 10000
        ).alias("e_us"),
    )
    out = interval_coverage(e, ["user_id"], "s_us", "e_us")
    return out.orderBy("user_id").limit(200)


@q(
    "q183_assoc_rules",
    oracle="""
    WITH items AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS day,
             event_type AS item
      FROM events),
    nb AS (
      SELECT COUNT(*) AS n_baskets FROM (
        SELECT DISTINCT user_id, day FROM items)),
    supp AS (SELECT item, COUNT(*) AS c_i FROM items GROUP BY item),
    pairs AS (
      SELECT a.item AS ia, b.item AS ib, COUNT(*) AS c_ab
      FROM items a JOIN items b
        ON a.user_id = b.user_id AND a.day = b.day AND a.item < b.item
      GROUP BY a.item, b.item HAVING COUNT(*) >= 5)
    SELECT pairs.ia AS item_a, pairs.ib AS item_b,
           CAST(pairs.c_ab AS BIGINT) AS c_ab,
           CAST(sa.c_i AS BIGINT) AS c_a,
           CAST(sb.c_i AS BIGINT) AS c_b,
           CAST((pairs.c_ab * 1000000) // nb.n_baskets AS BIGINT)
             AS support_ppm,
           CAST((pairs.c_ab * 1000000) // sa.c_i AS BIGINT)
             AS conf_ab_ppm,
           CAST((pairs.c_ab * 1000000) // sb.c_i AS BIGINT)
             AS conf_ba_ppm,
           CAST((CAST(pairs.c_ab AS HUGEINT) * nb.n_baskets * 1000000)
                // (CAST(sa.c_i AS HUGEINT) * sb.c_i) AS BIGINT)
             AS lift_ppm
    FROM pairs
    JOIN supp sa ON pairs.ia = sa.item
    JOIN supp sb ON pairs.ib = sb.item
    CROSS JOIN nb
    ORDER BY item_a, item_b LIMIT 100
    """,
)
def q183(spark: SparkSession, sf: str) -> DataFrame:
    """Association rules over (user, day) event baskets: exact ppm
    support / both-direction confidence / DECIMAL(38) cross-multiplied
    lift. Set semantics (distinct items per basket); pair generation is
    a basket-keyed self equi-join with a < b — co-located by key, hot-
    basket guard, supports join broadcast."""
    from spark_iceberg_schema_evolution_spark.operators.stats import (
        basket_rules,
    )

    e = load_events(spark, sf).select(
        "user_id",
        F.date_trunc("day", F.col("ts")).alias("day"),
        "event_type",
    )
    out = basket_rules(
        e, ["user_id", "day"], "event_type", min_pair_support=5
    )
    return out.orderBy("item_a", "item_b").limit(100)


@q(
    "q184_period_over_period",
    oracle="""
    WITH m AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS period,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cur
      FROM orders GROUP BY date_trunc('month', o_orderdate)),
    l AS (
      SELECT period, cur, lag(cur) OVER (ORDER BY period) AS prev
      FROM m)
    SELECT CAST(period AS VARCHAR) AS period, cur, prev,
           cur - prev AS delta,
           CAST(((cur - prev) * 1000000) // prev AS BIGINT)
             AS pct_change_ppm
    FROM l ORDER BY period
    """,
)
def q184(spark: SparkSession, sf: str) -> DataFrame:
    """Month-over-month revenue deltas with exact ppm relative change —
    the period-over-period BI primitive. The monthly aggregate runs at
    full parallelism; the lag window sees one row per month (the tiny
    aggregated frame, not the corpus). Integer div truncates toward
    zero on BOTH engines (verified), so negative deltas are safe."""
    from spark_iceberg_schema_evolution_spark.operators.relational import (
        period_over_period,
    )

    o = load(spark, sf, "orders").select(
        F.date_trunc("month", F.col("o_orderdate")).alias("month"),
        cents(F.col("o_totalprice")).alias("rev_c"),
    )
    out = period_over_period(o, "month", "rev_c")
    return out.select(
        # STRING date for pandas-canon portability (see q172)
        F.col("period").cast("date").cast("string").alias("period"),
        "cur",
        "prev",
        "delta",
        "pct_change_ppm",
    ).orderBy("period")



@q(
    "q185_incremental_ab",
    oracle=_AB_WELCH_ORACLE,
)
def q185(spark: SparkSession, sf: str) -> DataFrame:
    """INCREMENTALLY maintained A/B readout: per-row moment products
    land in a lakehouse source table across two batches, a materialized
    moment rollup refreshes from CDC deltas after each
    (rollup.refresh_rollup — O(batch) per refresh), and welch_readout
    assembles t/Wilson from the STORED sums. Integer moments are
    commutative monoids, so the incremental path must land bit-for-bit
    where q174's one-shot aggregate lands — the oracle IS q174's."""
    from spark_iceberg_schema_evolution_spark.operators.rollup import (
        refresh_rollup,
    )
    from spark_iceberg_schema_evolution_spark.operators.stats import (
        welch_readout,
    )

    grp = (F.col("user_id") % 2).cast("long")
    x = cents(F.col("value"))
    conv = (F.col("value") > 50).cast("long")
    rows = load_events(spark, sf).select(
        "event_id",
        "event_type",
        grp.alias("g1"),
        (1 - grp).alias("g0"),
        (grp * x).alias("x1"),
        ((1 - grp) * x).alias("x0"),
        (grp * x * x).alias("xx1"),
        ((1 - grp) * x * x).alias("xx0"),
        (grp * conv).alias("cv1"),
    )
    cat = _tmp_catalog(spark)
    cat.create_namespace("db")
    src = cat.table("db", "absrc")
    dst = cat.table("db", "abmom")
    src.create(rows.schema)
    moment_cols = ["g1", "g0", "x1", "x0", "xx1", "xx0", "cv1"]
    src.append(rows.where("event_id % 2 = 0"))
    refresh_rollup(src, dst, ["event_type"], moment_cols)
    src.append(rows.where("event_id % 2 = 1"))
    refresh_rollup(src, dst, ["event_type"], moment_cols)
    moments = dst.read().select(
        "event_type",
        F.col("sum_g1").alias("n1"),
        F.col("sum_g0").alias("n0"),
        F.col("sum_x1").alias("sx1"),
        F.col("sum_x0").alias("sx0"),
        F.col("sum_xx1").alias("sxx1"),
        F.col("sum_xx0").alias("sxx0"),
        F.col("sum_cv1").alias("c1"),
    )
    return welch_readout(moments, "event_type").orderBy("event_type")


# ---------------------------------------------------------------------------
# Round-10 lifecycle faces (VERDICT r9 ask #2): the 22 SURVEY rows whose
# only evidence was pytest are multi-commit lifecycles the driver's
# one-DataFrame contract can't run directly — fold each family into one
# scenario that returns a summary frame (the t2_multi_table_txn pattern),
# so every SURVEY row has driver evidence of SOME tier.


@q("t2_sql_ddl_lifecycle", oracle=None, tier=2)
def t2_sql_ddl_lifecycle(spark: SparkSession, sf: str) -> DataFrame:
    """SQL DDL/DML statement lifecycle through the front door (SURVEY
    rows: CTAS / INSERT VALUES / DROP TABLE; INSERT OVERWRITE /
    TRUNCATE; no-op DML stats gate): CTAS from a lake table, positional
    + column-list INSERT VALUES (null-padding), INSERT INTO SELECT,
    INSERT OVERWRITE (full replace, unpartitioned), a footer-stats
    no-op DELETE (out-of-range predicate commits NOTHING — the
    metadata-only gate, tables.py no-op DML), TRUNCATE, DROP. Exact
    statement semantics are pinned in tests/test_tables.py
    (test_sql_ctas_drop_and_insert_values, test_sql_insert_overwrite_*,
    test_unpartitioned_dml_noop_keeps_version); rows-only here: the
    summary row carries the count after every stage plus the version
    delta of the gated DELETE."""
    cat = _tmp_catalog(spark)
    n = load(spark, sf, "nation").select(
        F.col("n_nationkey").alias("id"),
        F.col("n_name").alias("name"),
        F.col("n_regionkey").alias("rk"),
    )
    cat.write_evolving(n, "db", "ddl_src")
    cat.sql(
        "CREATE TABLE lake.db.ddl AS "
        "SELECT id, name, rk FROM lake.db.ddl_src WHERE id < 20"
    )
    t = cat.table("db", "ddl")
    n_ctas = t.read().count()
    cat.sql("INSERT INTO lake.db.ddl VALUES (900, 'ZZ', 0), (901, 'YY', 1)")
    n_values = t.read().count()
    cat.sql("INSERT INTO lake.db.ddl (id) VALUES (902)")
    n_collist = t.read().count()
    null_padded = t.read().where("id = 902 AND name IS NULL").count()
    cat.sql(
        "INSERT INTO lake.db.ddl "
        "SELECT id + 1000 AS id, name, rk FROM lake.db.ddl WHERE id < 5"
    )
    n_insert_select = t.read().count()
    cat.sql(
        "INSERT OVERWRITE lake.db.ddl SELECT 1 AS id, 'only' AS name, "
        "9 AS rk"
    )
    n_overwrite = t.read().count()
    # no-op DML stats gate: id stats are [1,1]; an out-of-range DELETE
    # must be metadata-only (no new version)
    v_before = t._load().version
    cat.sql("DELETE FROM lake.db.ddl WHERE id > 100")
    noop_held = int(t._load().version == v_before)
    cat.sql("TRUNCATE TABLE lake.db.ddl")
    n_truncate = t.read().count()
    cat.sql("DROP TABLE lake.db.ddl")
    dropped = int(not cat.table("db", "ddl").exists())
    return spark.createDataFrame(
        [
            (
                n_ctas,
                n_values,
                n_collist,
                null_padded,
                n_insert_select,
                n_overwrite,
                noop_held,
                n_truncate,
                dropped,
            )
        ],
        "n_ctas long, n_values long, n_collist long, null_padded long, "
        "n_insert_select long, n_overwrite long, noop_delete_held long, "
        "n_truncate long, dropped long",
    )


@q("t2_maintenance_lifecycle", oracle=None, tier=2)
def t2_maintenance_lifecycle(spark: SparkSession, sf: str) -> DataFrame:
    """Table-maintenance lifecycle (SURVEY rows: TBLPROPERTIES +
    property-driven maintenance; OPTIMIZE / VACUUM; age-based snapshot
    retention + EXPLAIN / SHOW CREATE TABLE; remove_orphan_files;
    delete-file compaction threshold; temporal footer stats): six
    small appends -> property-tuned OPTIMIZE BIN_PACK folds the file
    set -> sorted rewrite makes timestamp footer stats skip files ->
    a planted orphan is swept by CALL remove_orphan_files -> VACUUM
    expires snapshots per the table's own properties -> MOR deletes
    accumulate delete files that should_compact_deletes flags and
    compact_deletes folds -> EXPLAIN / SHOW CREATE TABLE render.
    Statement semantics pinned in tests/test_tables.py; rows-only
    here."""
    import datetime as _dt
    import os as _os

    cat = _tmp_catalog(spark)
    rows = [
        (i, _dt.datetime(2024, 1, 1) + _dt.timedelta(hours=i), float(i))
        for i in range(240)
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp, v double")
    cat.write_evolving(df.where("id < 40"), "db", "mnt")
    t = cat.table("db", "mnt")
    for lo in range(40, 240, 40):
        t.append(df.where(f"id >= {lo} AND id < {lo + 40}"))
    t.set_properties(
        {
            "optimize_rewrite_data_file_threshold": "2",
            "vacuum_min_snapshots_to_keep": "2",
        }
    )
    files_before = len(t._load().batches)
    cat.sql("OPTIMIZE lake.db.mnt REWRITE DATA USING BIN_PACK")
    files_after = len(t._load().batches)
    # sorted rewrite -> tight per-file ts ranges -> footer-stats skip
    t.compact(sort_by=["ts"], target_files=6)
    p = t.plan_scan([("ts", "<", "2024-01-03 00:00:00")])
    ts_files_skipped = p["files_total"] - p["files_scanned"]
    # planted orphan (a failed-task leftover inside a live batch dir)
    # swept through the CALL procedure
    batch_dir = t._load().batches[0]["path"]
    orphan = _os.path.join(batch_dir, "part-99999-orphan.c000.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"not really parquet")
    swept = (
        cat.sql(
            "CALL lake.system.remove_orphan_files('db.mnt', "
            "older_than_seconds => 0)"
        )
        .first()["orphans_removed"]
    )
    snaps_before = len(t._versions())
    expired = cat.sql("VACUUM lake.db.mnt").first()["expired"]
    # age-gated retention: everything is seconds old, so a 1-hour gate
    # expires nothing more
    aged = (
        cat.sql(
            "CALL lake.system.expire_snapshots('db.mnt', "
            "retain_last => 1, older_than_seconds => 3600)"
        )
        .first()["expired"]
    )
    # MOR deletes stack delete files; the threshold flags the backlog
    # and compact_deletes folds it
    t.delete_where("id >= 230", mode="mor")
    t.delete_where("id >= 220", mode="mor")
    backlog_flagged = int(t.should_compact_deletes(1))
    t.compact_deletes()
    backlog_after = int(t.should_compact_deletes(1))
    explain_rows = cat.sql(
        "EXPLAIN SELECT COUNT(*) AS n FROM lake.db.mnt"
    ).count()
    stmt = cat.sql("SHOW CREATE TABLE lake.db.mnt").first().createtab_stmt
    n_rows = t.read().count()
    return spark.createDataFrame(
        [
            (
                files_before,
                files_after,
                int(ts_files_skipped > 0),
                swept,
                snaps_before,
                expired,
                aged,
                backlog_flagged,
                backlog_after,
                int(explain_rows > 0),
                int("mnt" in stmt),
                n_rows,
            )
        ],
        "files_before long, files_after long, ts_skip long, "
        "orphans_removed long, snaps_before long, expired long, "
        "aged_expired long, backlog_flagged long, backlog_after long, "
        "explain_ok long, show_create_ok long, n_rows long",
    )


@q("t2_partition_evolution_lifecycle", oracle=None, tier=2)
def t2_partition_evolution_lifecycle(spark: SparkSession, sf: str) -> DataFrame:
    """Partition evolution + partition-scoped compaction (SURVEY rows:
    partition evolution; partition-scoped compaction): an unpartitioned
    table evolves to month(ts) WITHOUT rewriting history (old batches
    keep their layout; new appends land partitioned), month-pruned
    reads plan only the matching batches, and compact(months=[...])
    rewrites ONLY the batches that can contain the hot month — the two
    February batches plus the pre-evolution unpartitioned batch (not
    month-prunable, so correctness carries it into the scoped rewrite)
    while the prunable March batch is untouched by manifest trim. On a
    100 TB table the nightly compactor touches one month of data plus
    any unprunable legacy tail, never the partitioned bulk. Spec
    semantics pinned in tests/test_tables.py + test_bucketing.py;
    rows-only here."""
    import datetime as _dt

    cat = _tmp_catalog(spark)
    mk = lambda m, n0, cnt: [  # noqa: E731
        (
            n0 + i,
            _dt.datetime(2024, m, 1) + _dt.timedelta(hours=i),
            float(m),
        )
        for i in range(cnt)
    ]
    df = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "id long, ts timestamp, v double"
    )
    cat.write_evolving(df(mk(1, 0, 50)), "db", "pev")
    t = cat.table("db", "pev")
    spec_v = t.set_partition_spec("ts")  # evolve: month(ts) from now on
    t.append(df(mk(2, 1000, 60)))
    t.append(df(mk(2, 2000, 60)))
    t.append(df(mk(3, 3000, 40)))
    n_total = t.read().count()
    n_feb = t.read(months=["2024-02"]).count()
    batches_before = len(t._load().batches)
    # partition-scoped compaction: February's two batches fold; the
    # pre-evolution January batch is carried in (unpartitioned = not
    # month-prunable, so the scoped rewrite must read it); the
    # prunable March batch survives by manifest trim (4 -> 2 batches)
    t.compact(months=["2024-02"])
    batches_after = len(t._load().batches)
    n_feb_after = t.read(months=["2024-02"]).count()
    n_total_after = t.read().count()
    return spark.createDataFrame(
        [
            (
                int(spec_v > 0),
                n_total,
                n_feb,
                batches_before,
                batches_after,
                n_feb_after,
                n_total_after,
            )
        ],
        "spec_evolved long, n_total long, n_feb long, "
        "batches_before long, batches_after long, n_feb_after long, "
        "n_total_after long",
    )


@q("t2_views_lifecycle", oracle=None, tier=2)
def t2_views_lifecycle(spark: SparkSession, sf: str) -> DataFrame:
    """Catalog views + CALL refresh_rollup lifecycle (SURVEY rows:
    catalog views; CALL refresh_rollup): CREATE VIEW is a saved query
    (new source rows appear on next reference), views compose over
    views, CREATE OR REPLACE swaps the definition, SHOW VIEWS lists,
    DROP VIEW removes — and the incremental-rollup procedure folds
    source deltas into a materialized aggregate whose second refresh
    with no new source commits is a version NO-OP. Error paths
    (duplicate CREATE, cycle detection, table-name shadowing) are
    pinned in tests/test_tables.py::test_sql_views; rows-only here."""
    cat = _tmp_catalog(spark)
    src = load(spark, sf, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_mktsegment").alias("seg"),
        cents(F.col("c_acctbal")).alias("bal_c"),
    )
    cat.write_evolving(src.where("id < 300"), "db", "vsrc")
    cat.sql(
        "CREATE VIEW lake.db.v_pos AS "
        "SELECT id, seg, bal_c FROM lake.db.vsrc WHERE bal_c > 0"
    )
    n_v1 = cat.sql("SELECT COUNT(*) AS n FROM lake.db.v_pos").first()["n"]
    # a view is a saved query: appended rows appear on next reference
    cat.sql("INSERT INTO lake.db.vsrc VALUES (9001, 'ZETA', 12345)")
    n_v2 = cat.sql("SELECT COUNT(*) AS n FROM lake.db.v_pos").first()["n"]
    cat.sql(
        "CREATE VIEW lake.db.v_zeta AS "
        "SELECT id FROM lake.db.v_pos WHERE seg = 'ZETA'"
    )
    n_nested = cat.sql(
        "SELECT COUNT(*) AS n FROM lake.db.v_zeta"
    ).first()["n"]
    cat.sql(
        "CREATE OR REPLACE VIEW lake.db.v_zeta AS "
        "SELECT id FROM lake.db.vsrc WHERE seg = 'ZETA' AND id > 9000"
    )
    n_replaced = cat.sql(
        "SELECT COUNT(*) AS n FROM lake.db.v_zeta"
    ).first()["n"]
    n_views = cat.sql("SHOW VIEWS IN lake.db").count()
    cat.sql("DROP VIEW lake.db.v_zeta")
    n_views_after = cat.sql("SHOW VIEWS IN lake.db").count()
    # CALL refresh_rollup: incremental materialized aggregate
    cat.sql(
        "CALL lake.system.refresh_rollup('db.vsrc', "
        "target => 'db.vroll', group_by => 'seg', sum => 'bal_c')"
    )
    roll = cat.table("db", "vroll")
    v1 = roll._load().version
    rollup_rows = roll.read().count()
    # source unmoved -> refresh is a version no-op
    cat.sql(
        "CALL lake.system.refresh_rollup('db.vsrc', "
        "target => 'db.vroll', group_by => 'seg', sum => 'bal_c')"
    )
    noop_refresh = int(roll._load().version == v1)
    # delta fold: one more source insert folds into the same groups
    cat.sql("INSERT INTO lake.db.vsrc VALUES (9002, 'ZETA', 100)")
    cat.sql(
        "CALL lake.system.refresh_rollup('db.vsrc', "
        "target => 'db.vroll', group_by => 'seg', sum => 'bal_c')"
    )
    zeta_sum = (
        roll.read().where("seg = 'ZETA'").first()["sum_bal_c"]
    )
    return spark.createDataFrame(
        [
            (
                n_v1,
                n_v2,
                n_nested,
                n_replaced,
                n_views,
                n_views_after,
                rollup_rows,
                noop_refresh,
                int(zeta_sum),
            )
        ],
        "n_view long, n_view_after_insert long, n_nested long, "
        "n_replaced long, n_views_listed long, n_views_after_drop long, "
        "rollup_rows long, noop_refresh long, zeta_sum long",
    )


@q("t2_stream_cdc_sink", oracle=None, tier=2)
def t2_stream_cdc_sink(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming CDC sink lifecycle (SURVEY rows: CDC upsert sink;
    continuous aggregate on the CDC sink; bounded CDC delete backlog;
    quality-gated lakehouse ingest): a two-epoch change feed upserts
    into the lakehouse in merge-on-read mode with last-wins intra-batch
    dedup (change_ts), the continuous rollup folds each epoch's commit
    delta, max_delete_files folds the MOR delete backlog inline — then
    a second stream with a planted bad epoch (duplicate event_id) runs
    through the expectations-gated sink, which quarantines the bad
    micro-batch and commits only the clean one. Epoch/crash semantics
    pinned in tests/test_streaming.py; rows-only here."""
    import datetime as _dt
    import os as _os
    import time as _time

    from spark_iceberg_schema_evolution_spark.streaming import (
        windows as SW,
    )

    cat = _tmp_catalog(spark)
    work = _tmp_dir("cdc-face-")
    src = _os.path.join(work, "feed")
    _os.makedirs(src)

    def drop_file(name: str, rows, schema: str) -> None:
        stage = _os.path.join(work, "stage", name)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        import glob as _glob
        import shutil as _shutil

        part = _glob.glob(_os.path.join(stage, "part-*.parquet"))[0]
        _shutil.copy(part, _os.path.join(src, f"{name}.parquet"))

    t0 = _dt.datetime(2024, 1, 1)
    cdc_schema = "user_id long, ts timestamp, value long, cohort long"
    # epoch 1: users 0..19; user 5 arrives twice (later row must win)
    e1 = [
        (u, t0 + _dt.timedelta(minutes=u), 100 + u, u % 4)
        for u in range(20)
    ]
    e1.append((5, t0 + _dt.timedelta(hours=1), 555, 1))
    drop_file("e1", e1, cdc_schema)
    _time.sleep(1.1)  # file-source epoch order is mtime order
    # epoch 2: users 10..29 (10..19 are UPDATES, 20..29 inserts)
    e2 = [
        (u, t0 + _dt.timedelta(hours=2, minutes=u), 200 + u, u % 4)
        for u in range(10, 30)
    ]
    drop_file("e2", e2, cdc_schema)
    stream = (
        spark.readStream.schema(cdc_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    SW.stream_upsert_to_lakehouse(
        stream.withColumn("n", F.lit(1)),
        cat,
        "db",
        "user_state",
        on=["user_id"],
        checkpoint_dir=_os.path.join(work, "ck1"),
        output_mode="append",
        change_ts="ts",
        merge_mode="mor",
        max_delete_files=1,
        rollup_table="cohort_counts",
        rollup_group_cols=["cohort"],
        rollup_sum_cols=["n"],
    )
    state = cat.table("db", "user_state").read()
    n_state = state.count()
    dup_keys = (
        state.groupBy("user_id").count().where("count > 1").count()
    )
    user5 = state.where("user_id = 5").first()["value"]
    epoch2_wins = state.where(
        "user_id >= 10 AND user_id < 20 AND value >= 200"
    ).count()
    rollup = {
        r["cohort"]: r["sum_n"]
        for r in cat.table("db", "cohort_counts").read().collect()
    }
    expect = {
        r["cohort"]: r["n"]
        for r in state.groupBy("cohort")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    rollup_ok = int(rollup == expect and len(rollup) > 0)
    backlog_ok = int(
        not cat.table("db", "user_state").should_compact_deletes(1)
    )
    # quality-gated ingest: clean epoch commits, dup epoch quarantined
    gsrc = _os.path.join(work, "gated")
    _os.makedirs(gsrc)
    ev_schema = "event_id long, user_id long, ts timestamp, value long"
    drop_file2 = lambda name, rows: drop_file(name, rows, ev_schema)  # noqa: E731
    drop_file2(
        "g1",
        [(1, 10, t0, 7), (2, 11, t0 + _dt.timedelta(minutes=1), 8)],
    )
    _time.sleep(1.1)
    drop_file2(
        "g2",
        [(3, 12, t0 + _dt.timedelta(minutes=2), 7),
         (3, 13, t0 + _dt.timedelta(minutes=3), 9)],
    )
    # drop_file writes into src; move the gated files to their own dir
    for name in ("g1", "g2"):
        _os.rename(
            _os.path.join(src, f"{name}.parquet"),
            _os.path.join(gsrc, f"{name}.parquet"),
        )
    gstream = (
        spark.readStream.schema(ev_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(gsrc)
    )
    report = SW.stream_to_lakehouse_gated(
        gstream,
        cat,
        "db",
        "gated",
        _os.path.join(work, "ck2"),
        rules=[
            {"rule": "unique", "cols": ["event_id"]},
            {"rule": "not_null", "col": "user_id"},
        ],
    )
    gated_rows = cat.table("db", "gated").read().count()
    return spark.createDataFrame(
        [
            (
                n_state,
                dup_keys,
                int(user5 == 555),
                epoch2_wins,
                rollup_ok,
                backlog_ok,
                report["committed"],
                len(report["skipped"]),
                gated_rows,
            )
        ],
        "n_state long, dup_keys long, last_wins long, epoch2_wins long, "
        "rollup_ok long, backlog_folded long, gated_committed long, "
        "gated_skipped long, gated_rows long",
    )


@q("t2_stream_dedup_ingest", oracle=None, tier=2)
def t2_stream_dedup_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming dedup-ingest sink lifecycle (SURVEY row: Streaming:
    dedup-ingest sink — the last §2.B row whose only evidence was
    pytest, VERDICT r10 #2): a two-epoch document stream runs through
    ``stream_dedup_ingest_to_lakehouse`` (streaming/windows.py) —
    epoch 1 seeds the corpus and its MinHash signature store; epoch 2
    carries an exact duplicate of a seed doc (md5 anti-join drops it),
    a near duplicate (one appended word; LSH-band candidate +
    exact-Jaccard verify against the materialized store drops it,
    audited in near_dropped), and one fresh doc — only the fresh doc
    commits, and the signature store advances by exactly the committed
    rows with the hash-once scheme property stamped. Per-epoch cost is
    O(epoch), never O(corpus): the corpus is touched only through the
    md5-key anti-join and the band-keyed store join. Epoch replay /
    crash semantics are pinned in tests/test_streaming.py:412;
    rows-only here."""
    import os as _os
    import time as _time

    from spark_iceberg_schema_evolution_spark.operators.dedup import (
        _MINHASH_SCHEME,
    )
    from spark_iceberg_schema_evolution_spark.streaming import (
        windows as SW,
    )

    cat = _tmp_catalog(spark)
    work = _tmp_dir("dedup-ingest-face-")
    src = _os.path.join(work, "feed")
    _os.makedirs(src)

    def drop_docs(name: str, rows) -> None:
        stage = _os.path.join(work, "stage", name)
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).coalesce(1).write.mode("overwrite").parquet(stage)
        import glob as _glob
        import shutil as _shutil

        part = _glob.glob(_os.path.join(stage, "part-*.parquet"))[0]
        _shutil.copy(part, _os.path.join(src, f"{name}.parquet"))

    seed = [
        (
            i,
            f"stream seed document {i} carrying enough body words "
            f"for stable five-gram shingles number {i}",
            "web",
        )
        for i in range(12)
    ]
    drop_docs("e1", seed)
    _time.sleep(1.1)  # file-source epoch order is mtime order
    drop_docs(
        "e2",
        [
            (200,) + seed[4][1:],  # exact dup of seed 4 (new id)
            (
                201,
                seed[7][1] + " edited",  # near dup: one appended word
                "web",
            ),
            (202, "genuinely novel streaming material " + "q " * 30,
             "books"),
        ],
    )
    stream = (
        spark.readStream.schema("doc_id long, text string, source string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    report = SW.stream_dedup_ingest_to_lakehouse(
        stream,
        cat,
        "db",
        "corpus",
        _os.path.join(work, "ck"),
        near_threshold=0.6,
    )
    corpus = cat.table("db", "corpus").read()
    ids = {r["doc_id"] for r in corpus.select("doc_id").collect()}
    sigs_t = cat.table("db", "corpus_sigs")
    return spark.createDataFrame(
        [
            (
                report["committed_epochs"],
                report["rows_ingested"],
                report["near_dropped"],
                corpus.count(),
                int(ids == set(range(12)) | {202}),
                sigs_t.row_count(),
                int(
                    sigs_t.properties().get("minhash.scheme")
                    == _MINHASH_SCHEME
                ),
            )
        ],
        "committed_epochs long, rows_ingested long, near_dropped long, "
        "n_corpus long, survivors_exact long, n_sigs long, "
        "sigs_scheme_ok long",
    )


@q("t2_jobs_smoke", oracle=None, tier=2)
def t2_jobs_smoke(spark: SparkSession, sf: str) -> DataFrame:
    """Job-CLI + media-source smoke (SURVEY rows: curation job stages;
    nightly incremental ingest; quality-head training job CLI; binary
    media ingestion source; signature-store reconciliation): the
    curation pipeline runs end-to-end on the sf documents table, the
    nightly ingest loop runs twice (seed day, then a drop with an
    exact dup + near dup + fresh doc — only the fresh doc commits and
    the signature store advances), the quality-head trainer fits /
    calibrates / persists / scores, and the binaryFile media source
    ingests a directory with typed metadata. Per-stage semantics are
    pinned in tests/test_jobs.py + test_pipeline_ops.py; rows-only
    here."""
    import glob as _glob
    import json as _json
    import os as _os
    import shutil as _shutil

    from spark_iceberg_schema_evolution_spark.jobs.curate_corpus import (
        build_parser as curate_parser,
        curate,
    )
    from spark_iceberg_schema_evolution_spark.jobs.ingest_incremental import (
        build_parser as ingest_parser,
        ingest_increment,
    )
    from spark_iceberg_schema_evolution_spark.jobs.train_quality_head import (
        main as train_main,
    )
    from spark_iceberg_schema_evolution_spark.operators.multimodal import (
        read_binary_media,
    )
    from spark_iceberg_schema_evolution_spark.tables import (
        LakehouseCatalog,
    )

    work = _tmp_dir("jobs-face-")

    # 1. curation job over a bounded slice of the real documents table
    # (a fixed 250-doc input keeps the smoke's wall-clock flat across
    # scale factors — the per-stage semantics don't need volume)
    cur_in = _os.path.join(work, "docs_in")
    load(spark, sf, "documents").where("doc_id < 250").coalesce(
        2
    ).write.parquet(cur_in)
    cur_out = _os.path.join(work, "curated")
    cargs = curate_parser().parse_args(
        [
            "--input", cur_in,
            "--output", cur_out,
            "--chunk-tokens", "64", "--overlap", "8",
            "--pack-capacity", "512", "--boilerplate-df", "50",
        ]
    )
    counts = curate(spark, cargs)
    curate_in = int(counts["input"])
    curate_bins = int(counts["bins"])
    curate_splits = sum(
        int(v) for k, v in counts.items() if str(k).startswith("split_")
    )

    # 2. nightly incremental ingest: seed day + dup/near-dup/fresh drop
    incoming = _os.path.join(work, "incoming")
    _os.makedirs(incoming)

    def drop_docs(name, rows):
        stage = _os.path.join(work, "stage", name)
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).coalesce(1).write.mode("overwrite").parquet(stage)
        part = _glob.glob(_os.path.join(stage, "part-*.parquet"))[0]
        _shutil.copy(part, _os.path.join(incoming, f"{name}.parquet"))

    drop_docs(
        "day1",
        [
            (
                i,
                f"seed document number {i} with plenty of body text "
                f"for stable shingles {i}",
                "web",
            )
            for i in range(20)
        ],
    )
    wh = _os.path.join(work, "wh")
    iargs = ingest_parser().parse_args(
        [
            "--warehouse", wh, "--namespace", "db",
            "--corpus", "docs", "--input", incoming,
            "--near-dedup", "0.6",
            "--rollup-target", "docs_by_source",
            "--rollup-group-by", "source",
        ]
    )
    r1 = ingest_increment(spark, iargs)
    drop_docs(
        "day2",
        [
            (
                100,
                "seed document number 4 with plenty of body text "
                "for stable shingles 4",
                "web",
            ),
            (
                101,
                "seed document number 7 with plenty of body text "
                "for stable shingles 7 edited",
                "web",
            ),
            (102, "completely fresh material " + "y " * 30, "books"),
        ],
    )
    r2 = ingest_increment(spark, iargs)
    jcat = LakehouseCatalog(spark, wh)
    sig_rows = jcat.table("db", "docs_sigs").row_count()

    # 3. quality-head training job CLI (fit -> calibrate -> persist ->
    # frozen-head scoring)
    lab_rows = [
        (i, f"buy cheap pills now offer {i} click", 1.0)
        if i % 2
        else (i, f"the engine compacts manifests {i} daily", 0.0)
        for i in range(60)
    ]
    labels = _os.path.join(work, "labels")
    spark.createDataFrame(
        lab_rows, "doc_id long, text string, label double"
    ).write.parquet(labels)
    score_in = _os.path.join(work, "score_in")
    spark.createDataFrame(
        [
            (200, "totally organic prose about tables"),
            (201, "buy cheap pills click now"),
        ],
        "doc_id long, text string",
    ).write.parquet(score_in)
    model_out = _os.path.join(work, "model")
    rc = train_main(
        [
            "--labels", labels, "--output", model_out,
            "--hash-dim", "32", "--n-iter", "6", "--lr", "1.0",
            "--calibration-bins", "10",
            "--score", score_in, "--threshold", "0.5",
        ]
    )
    model = _json.load(open(f"{model_out}/model.json"))
    model_dim = len(model["logreg"]["weights"])
    scored = spark.read.parquet(f"{model_out}/scored").count()

    # 4. binary media ingestion source (binaryFile + typed metadata)
    media_dir = _os.path.join(work, "media")
    _os.makedirs(media_dir)
    for fname, payload in (
        ("a.png", b"\x89PNG fake"),
        ("b.wav", b"RIFF fake wave"),
        ("c.bin", b"\x00\x01\x02"),
    ):
        with open(_os.path.join(media_dir, fname), "wb") as fh:
            fh.write(payload)
    media = read_binary_media(spark, media_dir)
    n_media = media.count()
    n_mimes = media.select("meta.mime").distinct().count()

    return spark.createDataFrame(
        [
            (
                curate_in,
                curate_bins,
                curate_splits,
                int(r1["ingested"]),
                int(r2["ingested"]),
                int(r2.get("near_dup_dropped", 0)),
                int(sig_rows),
                int(rc == 0),
                model_dim,
                scored,
                n_media,
                n_mimes,
            )
        ],
        "curate_input long, curate_bins long, curate_split_rows long, "
        "day1_ingested long, "
        "day2_ingested long, near_dup_dropped long, sig_rows long, "
        "train_ok long, model_dim long, scored_rows long, n_media long, "
        "n_mimes long",
    )


# ---------------------------------------------------------------------------
# Registry ordering.
#
# The correctness driver oracle-checks the FIRST 50 registry entries in
# insertion order (round-1 finding: q46+ had no hard-signal coverage).
# Round-5 window — retiring the rotation debt (r4 VERDICT item 1): the
# oldest-stale block (r1/r2 driver rows only): q12-q18, q20-q23, q33,
# q36-q38, q44-q48, q53-q65, q67-q68, q70-q72, q76-q83, q85 — plus the
# queries whose engine code changed THIS round: q112 (new SQL MERGE
# routing) and q89/q93 (merge_into internals restructured for the cache-
# leak fix). Still stale after this round (green r3/r4 rows, unchanged
# code, covered by tools/check_correctness.py + pytest): q01 q05 q27 q73
# q74 q75 q87 q88 q90 q91 q92 q96 q97 q101 q105-q108
# t2_ivf/orc/frames/moments/profile/spark_hashes/json_write/
# percentile_approx — scheduled for the r6 window (no entry older than
# two rounds after r6), together with the new r5 entries q113/q114
# (green locally this round, no driver row yet).
#
# Round-6 window (r5 VERDICT item 1 + the r5 precedent of fronting the
# current round's new entries): first the 10 NEW round-6 entries
# (classifier filter, dup spans, BM25, bucketed join, change consumer,
# bloom lookup, leakage-free split, schema log, burst dedup, percentile
# bands), then the 23 entries that have NEVER produced a driver
# CORRECTNESS row (q113, q114, q124-q144 — the round-5 second half),
# then the r2/r3-stale block (q01 q05 q73-q75 q87 q88 q90-q92 q96 q97
# q101 q105-q108). Deferred to the r7 window, in priority order:
# (a) q155-q163 (added after this window filled — fuzzy join, regex +
# string-format families, argmin/argmax, gaps-and-islands, skew
# report, embedding pooling, TWAP, containment, date_trunc: never
# driver-checked), (b) q27 (r3-green,
# pure functions — lowest risk deferral), the 9 r2-leftovers
# q76-q83/q85, and (c) the r4-green tail (q02-q04, q06-q11, q19,
# q24-q32, q34-q35, q39-q43, q49-q52, q66, q69, q84, q86, q94-q95,
# q98-q100, q102-q104, q109-q111) — ~49 entries, one more rotation
# retires the debt. ALSO re-window q37/q115/q118 + the dedup block in
# r7 if anything LSH-adjacent changes again: the round-6 MinHash fix
# (factory-closure seeds) changed signature values, and while every
# oracle entry re-verified green this round, those entries are the
# canary for that code path.

# Round-9 window plan (pin now, rotate at r9 start): round 8 added NO
# tier-1 rows (new capability shipped as t2 property gates: quantile/
# top-k sketches, LTTB, streaming sketch sink, and — late-round — BPE
# vocabulary induction t2_bpe_learn, PageRank t2_pagerank, PCA
# t2_pca_project, XML scan t2_xml_scan), so no never-checked tier-1
# debt accrues. After the r8 rotation below lands green, the oldest
# remaining driver rows are the r5 block (q36-q38, q44-q48, q54-q60,
# q64-q65, q68, q70-q72, q89, q93, q112, q115-q123 — ~30 rows) and the
# r6 block; fill the r9 window with the full r5 block + the oldest r6
# rows (q73-q75, q87-q88, q90-q92, q96-q97, q101, q105-q108...), plus
# q145+q165 again ONLY if q145 is not green in CORRECTNESS_r08. Also
# re-window the LSH canaries (q37, q115, q118) if anything
# dedup-adjacent changes in round 9. If round 9 adds tier-1 rows
# (candidates, all SQL-expressible: triangle counting via the
# canonical two-join wedge closure; graph degree_stats via two
# COUNT(DISTINCT) aggregates + full outer join), front them in this
# window at add time — never let a tier-1 row exist without a planned
# driver slot. The third-session r8 additions stay t2 by construction
# (iterative fixpoints: t2_components, t2_seed_distance, t2_kmeans,
# t2_logreg_train; repeated-match fold: t2_match_sequences).

# Round-8 window (r7 VERDICT item 2, executed exactly as pinned): q145
# + probe q165, all 20 round-7 entries (q166–q185), the 16 r4-stale
# rows, the 12 oldest r5 rows. Outcome (CORRECTNESS_r08): 50/50 green,
# zero never-checked tier-1 entries, staleness debt retired.
#
# Round-9 window (r8 VERDICT ask #1, executed exactly as prescribed):
# retire the tier-2 driver-smoke debt. ALL 32 registry rows that have
# never produced a driver CORRECTNESS row (the 30 the verdict lists +
# the two round-9 faces t2_adamic_adar/t2_sssp_weighted, fronted at
# add time), plus the four round-8-rewrite tier-1 canaries
# (q145/q165/q167/q169 — the pandas_udf import-scope incident proves
# driver-env-only failures exist), plus the dedup/profile canaries for
# THIS round's code changes (connected-components unpersist path →
# q37/q74/q115/q118/t2_minhash_lsh_pairs; histogram NaN filter →
# q136), then the oldest remaining t2 rows (r2: ivf/json_write/
# multimodal_features/percentile_approx/spark_hashes; r3:
# profile_approx/stats_moments; r4: approx_distinct). After this
# rotation: ZERO registry entries with no driver row ever. Remaining
# staleness for r10: t2_stats_moments/t2_approx_distinct/
# t2_percentile_approx/t2_spark_hashes (bumped for the four new t1
# faces, below; the latter two are pure-function rows — the q27-class
# lowest-risk deferral), t2_multimodal_frames/t2_orc_roundtrip (r3),
# the rest of the r4 t2 rows, and the r5 tier-1 block (q36/q38/
# q44-q48, q54-q60, q64-q65, q68, q70-q72, q89, q93, q112, q116-q117,
# q119-q123) — fill the r10 window from there, oldest first. Round-9
# additions are two t2 rows + FOUR t1 rows (q186_triangle_count/
# q187_degree_stats — the SQL-expressible graph faces planned last
# round — and q188_pps_sample/q189_domain_budget — integer-exact
# weighted sampling + per-domain nucleus budget), ALL six fronted in
# this window at add time (net-new ≤ rotation capacity, r8 ask #8;
# no tier-1 row ever exists without a planned driver slot).
# ROUND-12 WINDOW. First this round's code-change canaries (9):
# q189_domain_budget re-runs because the sharded path dropped the r11
# struct keys (the 2.28x weak flag, VERDICT r11 #1): NULL-domain rows
# now route through the one-window plan and union back while the bulk
# keeps plain string keys — same-process alternating A/B vs the r10
# string plan: best 1.653s vs 1.648s (1.00x), outputs identical;
# t2_batch_near_dedup is the NEW face (net-new rows this round = 1,
# within rotation capacity) for the store-backed batch composition,
# and t2_minhash_lsh_pairs + t2_incremental_near_dedup + t2_jobs_smoke
# re-run because the batch near-dedup composition can
# now consume the materialized signature store (VERDICT r11 #3:
# batch_near_dedup signs only store-missing docs) and
# signature_prefilter passes through pairs with missing signatures +
# derives the cut from the actual signature arrays (ADVICE r11);
# q130_incremental_rollup + t2_stream_cdc_sink re-run for the rollup
# delta_hint end-version gate (ADVICE r11 medium: hint_to_version
# required, bookmark never skips uncovered commits) and the
# change_ts=None validation folding (VERDICT r11 #7: rides the epoch
# checkpoint instead of a separate aggregate job);
# t2_stream_dedup_ingest re-runs for atomic signature-store creation
# (ADVICE r11: properties stamped with the data commit, no
# property-less crash window); t2_match_sequences re-runs because the
# observe-guard threads are now bounded by a module registry (VERDICT
# r11 #6). THEN the seventeen r6-stale rows (the rotation promise —
# oldest evidence becomes r7 after this run). THEN 24 of the 48
# r7-stale rows, engine-heavy first (joins, streaming, set ops,
# scalar families). Twenty-four r7 pure-compute rows defer to r13
# (documented deferral, same q27-class reasoning as r10/r11's):
# q39_text_stats, q40_embedding_norms, q41_lang_id,
# q42_quality_fingerprint, q43_multimodal_meta,
# q76_group_by_all_qualify, q77_except_all, q78_unpivot,
# q79_percentile_cont, q80_string_funcs2, q81_try_cast,
# q82_ignore_nulls_stringagg, q83_bit_bool_aggs,
# q85_salted_join_equivalence, q155_fuzzy_join, q156_regex_family,
# q157_string_format_family, q158_argmin_argmax, q159_gaps_islands,
# q160_skew_report, q161_embedding_pooling, q162_time_weighted_avg,
# q163_containment_dedup, q164_date_trunc_family.
# ROUND-13 WINDOW. First this round's code-change canaries (6):
# t2_incremental_near_dedup / t2_jobs_smoke / t2_batch_near_dedup /
# t2_stream_dedup_ingest re-run for the sigs_scheme IN_PROCESS
# sentinel (VERDICT r12 ask #8: the "caller vouches" None arm is now
# an explicit constant; a persisted store without a recorded scheme
# REFUSES instead of silently banding mismatched signatures);
# t2_stream_cdc_sink re-runs for the unpartitioned-table inline-
# compaction guard (VERDICT r12 ask #5: max_batches on an
# unpartitioned table now folds only the oldest batches, bounded
# work per epoch, never a stop-the-world whole-table rewrite).
# q44_pandas_udf_tokens fronted per VERDICT r12 ask #6 (the only
# face exercising row-at-a-time F.udf — Arrow/pickle path insurance).
# THEN the twenty-four r7-stale rows (the rotation promise: oldest
# driver evidence becomes r8 after this run). THEN 20 of the 46
# r8-stale rows, engine-heavy first (core agg/window/sort/set
# families q12-q33, streaming q52/q66/q69/q86, MOR DML
# q103/q104/q109, SQL front door q102). The 26 remaining r8 rows
# defer to r14
# (documented deferral, same q27-class reasoning as r10-r12's):
# q84_asof_tolerance, q94_hash_split, q95_bigram_counts,
# q98_version_diff, q99_pii_redaction, q100_boilerplate_removal,
# q110_weighted_resample, q111_dedup_keep_best, q166_ohlc_bars,
# q168_mad_outliers, q170_clone_constraints, q171_scd2_incremental,
# q172_counter_agg, q173_classifier_eval, q174_ab_welch,
# q175_event_transitions, q176_pmi_collocations,
# q177_cusum_changepoint, q178_autocorr, q179_tv_divergence,
# q180_variant_shred, q181_rrf_fusion, q182_interval_coverage,
# q183_assoc_rules, q184_period_over_period, q185_incremental_ab.
_DRIVER_WINDOW = [
    # round-13 code-change canaries
    "t2_incremental_near_dedup",
    "t2_jobs_smoke",
    "t2_batch_near_dedup",
    "t2_stream_dedup_ingest",
    "t2_stream_cdc_sink",
    "q44_pandas_udf_tokens",
    # the twenty-four r7-stale rows (rotation promise: oldest -> r8)
    "q39_text_stats",
    "q40_embedding_norms",
    "q41_lang_id",
    "q42_quality_fingerprint",
    "q43_multimodal_meta",
    "q76_group_by_all_qualify",
    "q77_except_all",
    "q78_unpivot",
    "q79_percentile_cont",
    "q80_string_funcs2",
    "q81_try_cast",
    "q82_ignore_nulls_stringagg",
    "q83_bit_bool_aggs",
    "q85_salted_join_equivalence",
    "q155_fuzzy_join",
    "q156_regex_family",
    "q157_string_format_family",
    "q158_argmin_argmax",
    "q159_gaps_islands",
    "q160_skew_report",
    "q161_embedding_pooling",
    "q162_time_weighted_avg",
    "q163_containment_dedup",
    "q164_date_trunc_family",
    # r8 block, engine-heavy first (18 of 46)
    "q12_tpch_q1",
    "q13_count_distinct",
    "q14_multi_distinct",
    "q15_rollup",
    "q17_collect_sorted",
    "q18_window_topk",
    "q20_window_frame",
    "q22_topk_revenue",
    "q23_union_distinct",
    "q33_cast_matrix",
    "q52_stream_to_lakehouse",
    "q66_stream_stateful",
    "q69_stream_stream_join",
    "q86_stream_static_join",
    "q102_lakehouse_sql",
    "q103_mor_delete_update",
    "q104_mor_merge",
    "q109_mor_pos_delete",
    # the two new round-13 tier-1 faces, fronted at add time (displacing
    # q16_having + q21_sort_nulls from the r8 block — the two
    # lowest-drift-risk rows in it; they rotate back next round)
    "q190_dsir_importance",
    "q191_encoding_anomalies",
]

# Round-12 window (kept for the audit trail; superseded by the r13
# window above). Original r12 list:
_DRIVER_WINDOW_R12 = [
    # round-12 code-change canaries
    "q189_domain_budget",
    "t2_batch_near_dedup",
    "t2_minhash_lsh_pairs",
    "t2_incremental_near_dedup",
    "t2_jobs_smoke",
    "q130_incremental_rollup",
    "t2_stream_cdc_sink",
    "t2_stream_dedup_ingest",
    "t2_match_sequences",
    # the seventeen r6-stale rows (rotation promise: oldest -> r7)
    "q106_decontamination",
    "q107_repetition_filters",
    "q108_shuffle_shards",
    "q113_deterministic_sample",
    "q114_token_budget_batches",
    "q126_term_search",
    "q128_lm_quality_score",
    "q134_gapfill_locf",
    "q135_clean_text",
    "q137_funnel",
    "q138_cohort_retention",
    "q139_interval_join",
    "q142_recursive_cte",
    "q143_lateral_topk",
    "q147_bm25_search",
    "q153_burst_dedup",
    "q154_percentile_bands",
    # r7 block, engine-heavy first (24 of 48)
    "q02_csv_scan_schema",
    "q03_json_extract",
    "q04_filter_case",
    "q06_join_broadcast",
    "q07_join_left_outer",
    "q08_join_semi_anti",
    "q09_cross_join",
    "q10_range_join",
    "q11_asof_join",
    "q19_window_lag",
    "q24_except",
    "q25_union_byname",
    "q26_string_funcs",
    "q27_date_funcs",
    "q28_math_funcs",
    "q29_null_cond",
    "q30_array_explode",
    "q31_map_funcs",
    "q32_hash_md5",
    "q34_tumbling_hour",
    "q35_sessionize",
    "q49_stream_tumbling",
    "q50_stream_sliding",
    "q51_stream_session",
]

# Round-11 window (kept for the audit trail; superseded by the r12
# window above). Original r11 comment:
# ROUND-11 WINDOW. First this round's code-change canaries (8):
# t2_stream_dedup_ingest is the NEW face closing the last
# registry-evidence gap (stream_dedup_ingest_to_lakehouse, windows.py
# — was the one §2.B row with pytest-only evidence, VERDICT r10 #2;
# net-new rows this round = 1, within rotation capacity);
# t2_match_sequences re-runs because the never-silent drop guard moved
# from an eager call-time count job to DataFrame.observe() metrics on
# the caller's own action (VERDICT r10 #1); q188_pps_sample re-runs
# because the systematic-PPS grid gained the seed-derived fractional
# start (VERDICT r10 #6 — selected VALUES change, oracle re-derived);
# q189_domain_budget re-runs because the sharded path now keys its
# joins on a null-safe struct (ADVICE r10: NULL domains were silently
# dropped); t2_incremental_near_dedup + t2_jobs_smoke re-run for the
# signature-store scheme hardening (ADVICE r10: property-less stores
# now refuse instead of being stamped; sig stores stamped at creation
# in the streaming sink and nightly job; sigs_scheme threaded);
# t2_minhash_lsh_pairs re-runs because the exact-Jaccard candidate
# path was rewritten to ONE shingle pass (explode-members + semi-join
# prune + groupBy reassembly; bit-equal by checksum in
# tools/probe_r11_verify.py — q37/q74/q111/q163 use the exhaustive
# pairs=None path, which is untouched); q115_semantic_dedup re-runs
# for the VERDICT r10 #4 host-factor adjudication. THEN the twelve
# r5 rows deferred from r10 (the rotation promise: q38, q53-q56, q58,
# q60-q63, q65, q67). THEN 30 of the 47 r6-stale rows, engine-heavy
# first. Seventeen r6 pure-compute rows defer to r12 (documented
# deferral, same q27-class reasoning as r10's): q106_decontamination,
# q107_repetition_filters, q108_shuffle_shards,
# q113_deterministic_sample, q114_token_budget_batches,
# q126_term_search, q128_lm_quality_score, q134_gapfill_locf,
# q135_clean_text, q137_funnel, q138_cohort_retention,
# q139_interval_join, q142_recursive_cte, q143_lateral_topk,
# q147_bm25_search, q153_burst_dedup, q154_percentile_bands.
_DRIVER_WINDOW_R11 = [
    # round-11 code-change canaries
    "t2_stream_dedup_ingest",
    "t2_match_sequences",
    "q188_pps_sample",
    "q189_domain_budget",
    "t2_incremental_near_dedup",
    "t2_jobs_smoke",
    "t2_minhash_lsh_pairs",
    "q115_semantic_dedup",
    # the twelve r5 rows deferred from the r10 window (rotation promise)
    "q38_cosine_topk",
    "q53_pivot",
    "q54_cube",
    "q55_intersect",
    "q56_date_arith",
    "q58_array_hofs",
    "q60_grouping_sets",
    "q61_ranking_family",
    "q62_range_frame",
    "q63_subqueries",
    "q65_str_to_map",
    "q67_null_safe_join",
    # r6 block, engine-heavy first (30 of 47)
    "q73_delete_update",
    "q75_incremental_changes",
    "q87_rename_drop_evolution",
    "q88_jsonl_scan",
    "q90_type_widening",
    "q91_data_skipping",
    "q92_sorted_compact_skip",
    "q97_zorder_box_query",
    "q101_nested_evolution",
    "q105_wap_branch_publish",
    "q124_bucket_pruning",
    "q130_incremental_rollup",
    "q132_merge_by_source",
    "q133_initial_default",
    "q140_ingest_dedup",
    "q141_copy_into",
    "q144_in_list_lookup",
    "q148_bucketed_cojoin",
    "q149_change_consumer",
    "q150_bloom_lookup",
    "q152_schema_log",
    "q151_leakage_free_split",
    "q131_contamination_stats",
    "q146_dup_spans",
    "q96_stratified_sample",
    "q125_url_curation",
    "q127_cluster_sample",
    "q129_audio_framing",
    "q01_scan_counts",
    "q05_join_inner_agg",
]

# Round-10 window (kept for the audit trail; superseded by the r11
# window above). Original r10 comment: six never-run lifecycle faces
# fronted, then the r10 code-change canaries (graph defaults, CEP warn
# path, domain-budget sharding, MinHash hash-once scheme re-windowing
# q37/q74/q115/q118 + the LSH t2 rows), then the r2-r5 stale tail;
# twelve r5 pure-compute rows ceded their slots to the canaries.
_DRIVER_WINDOW_R10 = [
    "t2_sql_ddl_lifecycle",
    "t2_maintenance_lifecycle",
    "t2_partition_evolution_lifecycle",
    "t2_views_lifecycle",
    "t2_stream_cdc_sink",
    "t2_jobs_smoke",
    "q186_triangle_count",
    "t2_adamic_adar",
    "t2_match_sequences",
    "q189_domain_budget",
    "q37_ngram_jaccard",
    "q74_dedup_clusters",
    "q115_semantic_dedup",
    "q118_paragraph_dedup",
    "t2_minhash_lsh_pairs",
    "t2_incremental_near_dedup",
    "t2_percentile_approx",
    "t2_spark_hashes",
    "t2_multimodal_frames",
    "t2_orc_roundtrip",
    "t2_stats_moments",
    "t2_approx_distinct",
    "t2_cosine_near_dups",
    "t2_lsh_cosine_topk",
    "t2_simhash",
    "t2_skip_planning",
    "t2_stream_dedup",
    "q36_dedup_exact",
    "q44_pandas_udf_tokens",
    "q45_evolving_ingest",
    "q46_merge_upsert",
    "q47_time_travel",
    "q48_overwrite_partitions",
    "q57_udtf_tokens",
    "q59_evolution_type_conflict",
    "q64_grouped_agg_udf",
    "q68_scd2_dimension",
    "q70_profile_stats",
    "q71_text_chunking",
    "q72_sequence_packing",
    "q89_merge_clauses",
    "q93_merge_evolution",
    "q112_sql_merge",
    "q116_metadata_sql",
    "q117_sql_time_travel",
    "q119_quantile_filter",
    "q120_sql_procedures",
    "q121_corpus_mix",
    "q122_expectations",
    "q123_partition_evolution",
]

# Round-9 window (kept for the audit trail; superseded by the r10
# window above):
_DRIVER_WINDOW_R9 = [
    # round-8 rewrite canaries (tier-1, freshest risk)
    "q145_classifier_filter",
    "q165_classifier_probe",
    "q167_corr_regression",
    "q169_rolling_zscore",
    # the 32 never-driver-run tier-2 rows: graph suite
    "t2_pagerank",
    "t2_hits",
    "t2_components",
    "t2_coreness",
    "t2_label_propagation",
    "t2_seed_distance",
    "t2_adamic_adar",
    "t2_sssp_weighted",
    # ...training / clustering / reduction
    "t2_kmeans",
    "t2_logreg_train",
    "t2_pca_project",
    "t2_hashed_features",
    "t2_isotonic_calibration",
    "t2_poisson_bootstrap",
    # ...CEP, lakehouse, sources
    "t2_match_sequences",
    "t2_multi_table_txn",
    "t2_xml_scan",
    "t2_bpe_learn",
    "t2_compression_signal",
    # ...sketch rollups
    "t2_hll_rollup",
    "t2_quantile_sketch_rollup",
    "t2_topk_sketch_rollup",
    "t2_lttb_downsample",
    # ...ANN / dedup / media
    "t2_ann_index_lifecycle",
    "t2_pq_cosine_topk",
    "t2_ivfpq_cosine_topk",
    "t2_sq8_cosine_topk",
    "t2_mmr_rerank",
    "t2_cluster_sample_fit",
    "t2_incremental_near_dedup",
    "t2_media_near_dup",
    "t2_ts_skip_planning",
    # round-9 code-change canaries: dedup CC unpersist path + histogram
    "q37_ngram_jaccard",
    "q74_dedup_clusters",
    "q115_semantic_dedup",
    "q118_paragraph_dedup",
    "q136_histogram",
    "t2_minhash_lsh_pairs",
    # oldest remaining t2 staleness (r2/r3)
    "t2_ivf_cosine_topk",
    "t2_json_write",
    "t2_multimodal_features",
    "t2_profile_approx",
    # the four new round-9 tier-1 faces, fronted at add time
    "q186_triangle_count",
    "q187_degree_stats",
    "q188_pps_sample",
    "q189_domain_budget",
]


def _reorder_registry() -> None:
    assert len(_DRIVER_WINDOW) == 50, len(_DRIVER_WINDOW)
    missing = [n for n in _DRIVER_WINDOW if n not in REGISTRY]
    assert not missing, f"unknown names in _DRIVER_WINDOW: {missing}"
    ordered = {n: REGISTRY[n] for n in _DRIVER_WINDOW}
    for n, query_ in REGISTRY.items():
        ordered.setdefault(n, query_)
    REGISTRY.clear()
    REGISTRY.update(ordered)


_reorder_registry()


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: query.spark_fn for name, query in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    # the file-scan oracles (q02 CSV, q88 JSONL) read fixture files the
    # Spark callables create lazily; ensure them here too so the oracle
    # side works even if the driver runs DuckDB before the Spark query.
    _ensure_q02_fixture()
    _ensure_q88_fixture()
    return {
        name: query.oracle
        for name, query in REGISTRY.items()
        if query.oracle is not None
    }
