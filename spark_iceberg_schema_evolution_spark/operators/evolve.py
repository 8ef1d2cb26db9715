"""Schema-evolution operator family.

The reference's central capability (its value is *not* a query engine but
this family): compare, align, coerce, order and pad DataFrame schemas so
ragged batches can be unioned and appended to a live table whose schema
evolves. Re-expressed as pure DataFrame -> DataFrame functions, each a
single ``select`` (the reference's ``withColumn`` loops,
`src/utils/spark/spark_utils.py:203-209,226-228`, build one plan node per
column and blow up the analyzer on wide schemas).

Casts use ``try_cast`` semantics (cast failure -> NULL) to preserve the
reference's pre-ANSI legacy-cast behavior under Spark 4's ANSI default.

Reference parity map:
- compare_schemas  <- spark_utils.py:60-79 (commented out in reference)
- align_schema     <- spark_utils.py:82-111
- coerce_to_types  <- spark_utils.py:195-210 (ensure_schema_types_match)
- order_and_pad    <- spark_utils.py:213-235 (ensure_iceberg_schema_order_and_types)
- normalize_names  <- src/jobs/job.py:65-72
- with_ingest_ts   <- src/jobs/job.py:75-81
- fill_defaults    <- src/jobs/job.py:88-101 (commented out in reference)
- union_evolving   <- src/jobs/job.py:54-59
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T


@dataclass(frozen=True)
class SchemaDiff:
    """Result of comparing two schemas (reference spark_utils.py:60-79)."""

    missing_in_left: set[str] = field(default_factory=set)
    missing_in_right: set[str] = field(default_factory=set)
    type_conflicts: dict[str, tuple[T.DataType, T.DataType]] = field(
        default_factory=dict
    )

    @property
    def compatible(self) -> bool:
        return not self.type_conflicts

    @property
    def identical(self) -> bool:
        return (
            not self.missing_in_left
            and not self.missing_in_right
            and not self.type_conflicts
        )


def compare_schemas(left: T.StructType, right: T.StructType) -> SchemaDiff:
    """Pure StructType diff: fields missing on each side + common fields whose
    types differ. The primitive under align/coerce/pad; also what a
    production ingest logs as its evolution audit record."""
    lf = {f.name: f.dataType for f in left.fields}
    rf = {f.name: f.dataType for f in right.fields}
    return SchemaDiff(
        missing_in_left={n for n in rf if n not in lf},
        missing_in_right={n for n in lf if n not in rf},
        type_conflicts={
            n: (lf[n], rf[n]) for n in lf if n in rf and lf[n] != rf[n]
        },
    )


def _try_cast(col: Column, dt: T.DataType) -> Column:
    # Legacy-cast semantics (bad value -> NULL) under ANSI mode.
    return col.try_cast(dt)


def _align_col(col: Column, src: T.DataType, dst: T.DataType) -> Column:
    """Recursively align one column to a target type — NESTED schema
    evolution (Iceberg evolves struct fields by id; here by name):
    structs gain missing fields as typed NULLs and drop extras, arrays
    and map values align element-wise, scalars try_cast. A plain
    ``cast(struct<...>)`` cannot add or drop fields — this can."""
    if src == dst:  # identical (incl. deep-equal nested): no-op
        return col
    if isinstance(src, T.StructType) and isinstance(dst, T.StructType):
        have = {f.name: f.dataType for f in src.fields}
        parts = []
        for f in dst.fields:
            if f.name in have:
                parts.append(
                    _align_col(
                        col.getField(f.name), have[f.name], f.dataType
                    ).alias(f.name)
                )
            else:
                parts.append(F.lit(None).cast(f.dataType).alias(f.name))
        struct_col = F.struct(*parts)
        # a NULL struct must stay NULL, not become a struct of NULLs
        return F.when(col.isNull(), F.lit(None).cast(dst)).otherwise(
            struct_col
        )
    if isinstance(src, T.ArrayType) and isinstance(dst, T.ArrayType):
        if src.elementType == dst.elementType:
            return _try_cast(col, dst)
        return F.when(col.isNull(), F.lit(None).cast(dst)).otherwise(
            F.transform(
                col,
                lambda e: _align_col(e, src.elementType, dst.elementType),
            )
        )
    if isinstance(src, T.MapType) and isinstance(dst, T.MapType):
        if src == dst:
            return col
        return F.when(col.isNull(), F.lit(None).cast(dst)).otherwise(
            F.map_from_arrays(
                F.transform(
                    F.map_keys(col),
                    lambda k: _align_col(k, src.keyType, dst.keyType),
                ),
                F.transform(
                    F.map_values(col),
                    lambda v: _align_col(v, src.valueType, dst.valueType),
                ),
            )
        )
    if src == dst:
        return col
    return _try_cast(col, dst)


def merge_evolved_type(old: T.DataType, new: T.DataType) -> T.DataType:
    """Catalog-wins type merge with NESTED evolution: when both sides are
    structs, common fields merge recursively and incoming-only fields
    append last (Iceberg's ALTER TABLE ADD COLUMN parent.child);
    arrays/maps merge element-wise; scalar conflicts keep the catalog
    type (the reference's catalog-wins rule, job.py:108-119)."""
    if isinstance(old, T.StructType) and isinstance(new, T.StructType):
        have = {f.name: f for f in old.fields}
        incoming = {f.name: f for f in new.fields}
        fields = [
            T.StructField(
                f.name,
                merge_evolved_type(f.dataType, incoming[f.name].dataType)
                if f.name in incoming
                else f.dataType,
                f.nullable,
            )
            for f in old.fields
        ]
        fields += [f for f in new.fields if f.name not in have]
        return T.StructType(fields)
    if isinstance(old, T.ArrayType) and isinstance(new, T.ArrayType):
        return T.ArrayType(
            merge_evolved_type(old.elementType, new.elementType),
            old.containsNull or new.containsNull,
        )
    if isinstance(old, T.MapType) and isinstance(new, T.MapType):
        return T.MapType(
            merge_evolved_type(old.keyType, new.keyType),
            merge_evolved_type(old.valueType, new.valueType),
            old.valueContainsNull or new.valueContainsNull,
        )
    return old


def align_schema(
    df: DataFrame, target: T.StructType, keep_extras: bool = True
) -> DataFrame:
    """Project ``df`` onto ``target``: existing columns cast to the target
    type (recursing into structs/arrays/maps — nested evolution), missing
    columns added as typed NULLs, extra columns appended last (reference
    align_schema, spark_utils.py:82-111). One ``select``; ``df`` itself
    when it already has exactly the target's names and types, in order
    (no extras, nothing to cast or pad) — the per-column expressions of
    an identity projection are py4j calls Spark would only drop again."""
    src = df.schema.fields
    if [(f.name, f.dataType) for f in src] == [
        (f.name, f.dataType) for f in target.fields
    ]:
        return df
    have = {f.name: f.dataType for f in src}
    cols: list[Column] = []
    for f in target.fields:
        if f.name in have:
            cols.append(
                _align_col(
                    F.col(f.name), have[f.name], f.dataType
                ).alias(f.name)
            )
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    if keep_extras:
        tgt = {f.name for f in target.fields}
        cols += [F.col(f.name) for f in src if f.name not in tgt]
    return df.select(*cols)


def coerce_to_types(df: DataFrame, catalog_types: dict[str, T.DataType]) -> DataFrame:
    """Cast every df column present in the live catalog schema to the
    catalog's type; other columns pass through (reference
    ensure_schema_types_match, spark_utils.py:195-210 — minus its
    ``lit(df[field])`` bug at line 209 and its per-column withColumn loop)."""
    cols = [
        _try_cast(F.col(f.name), catalog_types[f.name]).alias(f.name)
        if f.name in catalog_types
        else F.col(f.name)
        for f in df.schema.fields
    ]
    return df.select(*cols)


def order_and_pad(df: DataFrame, catalog: T.StructType) -> DataFrame:
    """Reorder to catalog column order, add typed NULLs for catalog fields
    missing in df, append non-catalog extras last — the ordering that makes
    table-format schema evolution append new columns (reference
    ensure_iceberg_schema_order_and_types, spark_utils.py:213-235)."""
    return align_schema(df, catalog, keep_extras=True)


# exact reference mapping (job.py:65-72): spaces and dashes become
# underscores, parens are stripped
_NAME_STRIP = {" ": "_", "-": "_", "(": "", ")": ""}


def normalize_names(df: DataFrame) -> DataFrame:
    """Lowercase, underscore ``' '``/``-``, and strip ``(``/``)`` from
    column names for catalog compatibility (reference job.py:65-72), plus
    the collision check the reference lacked: two source names normalizing
    to one is an error (the reference silently produced duplicate columns
    the table would then reject)."""
    new_names = []
    for c in df.columns:
        n = c.lower()
        for bad, rep in _NAME_STRIP.items():
            n = n.replace(bad, rep)
        new_names.append(n)
    dupes = {n for n in new_names if new_names.count(n) > 1}
    if dupes:
        raise ValueError(
            f"column name collision after normalization: {sorted(dupes)}"
        )
    return df.toDF(*new_names)


def with_ingest_ts(
    df: DataFrame, ingest_ts: _dt.datetime, col_name: str = "created_at"
) -> DataFrame:
    """Add a constant ingest timestamp as the FIRST column (reference
    job.py:75-81). The timestamp is injected — the reference evaluated
    ``datetime.now()`` at plan-construction time (job.py:76), baking
    nondeterminism into data; callers here pass it explicitly."""
    return df.select(
        F.lit(ingest_ts).cast(T.TimestampType()).alias(col_name), "*"
    )


def fill_defaults(
    df: DataFrame,
    string_default: str = "Unknown",
    bool_default: bool = False,
    int_default: int = 0,
) -> DataFrame:
    """NULL-default fill per dtype bucket — the op the reference wrote and
    commented out (job.py:84-101): string -> 'Unknown', boolean -> False,
    int/bigint -> 0. One select of ``coalesce`` per column."""
    defaults: dict[str, Column] = {}
    for name, dtype in df.dtypes:
        if dtype == "string":
            defaults[name] = F.lit(string_default)
        elif dtype == "boolean":
            defaults[name] = F.lit(bool_default)
        elif dtype in ("int", "bigint", "smallint", "tinyint"):
            defaults[name] = F.lit(int_default)
    cols = [
        F.coalesce(F.col(c), defaults[c]).alias(c) if c in defaults else F.col(c)
        for c in df.columns
    ]
    return df.select(*cols)


def union_evolving(dfs: list[DataFrame], target: T.StructType | None = None) -> DataFrame:
    """Align a list of ragged DataFrames and union them by name.

    First-file-wins target schema when none is given (reference job.py:54:
    ``target_schema = dfs[0].schema``), then a fold of
    ``unionByName(allowMissingColumns=True)`` (job.py:58-59) — Catalyst
    flattens the fold into a single Union node."""
    if not dfs:
        raise ValueError("union_evolving: no input DataFrames")
    tgt = target or dfs[0].schema
    aligned = [align_schema(d, tgt, keep_extras=True) for d in dfs]
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), aligned
    )
