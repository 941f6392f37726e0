"""Relational-core operators (SURVEY.md §2.1 R5-R22), idiomatic Spark.

The reference's relational surface is positional sorted-int-column
algebra; in Spark each maps to a one-liner the Catalyst optimizer can
see through.  These wrappers exist to (a) pin deterministic semantics
(tie-breaks, defaults) and (b) give each reference operator a named,
testable entry point.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def filter_eq(df: DataFrame, col: str, value) -> DataFrame:
    """R5 (database/projection.ml:19-32): positions where col = v."""
    return df.filter(F.col(col) == F.lit(value))


def set_intersect(a: DataFrame, b: DataFrame, key: str) -> DataFrame:
    """R9 merge-intersect (projection.ml:96-114) → left-semi join."""
    return a.join(b.select(key).distinct(), key, "left_semi")


def set_diff(a: DataFrame, b: DataFrame, key: str) -> DataFrame:
    """R10 merge-diff (projection.ml:116-133) → left-anti join."""
    return a.join(b.select(key).distinct(), key, "left_anti")


def join_with_defaults(
    a: DataFrame, b: DataFrame, key: str, defaults: dict[str, object]
) -> DataFrame:
    """R11 left outer join with fill values (database/join.ml:35-57)."""
    out = a.join(b, key, "left")
    for c, v in defaults.items():
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(v)))
    return out


def top_k(df: DataFrame, order_cols: list[Column], k: int) -> DataFrame:
    """R12-adjacent deterministic top-k (total order required: pass
    tie-breaking columns).

    Distributed TakeOrdered (orderBy + limit = per-partition top-k then
    a k-row merge), NOT a global no-partition window — that plan funnels
    the whole table through one task.  row_number then runs over the k
    survivors only."""
    w = Window.orderBy(*order_cols)
    return (df.orderBy(*order_cols).limit(k)
            .withColumn("rk", F.row_number().over(w)))


def csr_index(df: DataFrame, key: str) -> DataFrame:
    """R16 (column_ops.ml:61-79): per-group count + exclusive prefix-sum
    offset (the CSR 'first row of group' index)."""
    counts = df.groupBy(key).agg(F.count("*").alias("cnt"))
    w = Window.orderBy(key).rowsBetween(Window.unboundedPreceding, -1)
    return counts.withColumn("offset", F.coalesce(F.sum("cnt").over(w), F.lit(0)))


def dictionary_encode(df: DataFrame, col: str) -> DataFrame:
    """R19 (database/dictionary.ml:65-166): dense int ids for strings.

    The reference assigns ids in hash order; we pin lexicographic order
    (deterministic, parallel-friendly: dense_rank over sorted distinct).
    NULL gets no dictionary row: a NULL key can never match the apply
    join anyway, and Spark windows sort NULLS FIRST while DuckDB's
    dense_rank sorts NULLS LAST — excluding it keeps the non-null ids
    identical across engines.
    """
    return (
        df.select(col)
        .where(F.col(col).isNotNull())
        .distinct()
        .withColumn("str_id", F.dense_rank().over(Window.orderBy(col)) - 1)
    )


def dictionary_apply(df: DataFrame, dictionary: DataFrame, col: str) -> DataFrame:
    """R20: attach the dense id for ``col`` (broadcast left join; the
    string column is kept — select it away when not wanted).  Strings
    absent from the dictionary (and NULLs) get str_id NULL."""
    return df.join(F.broadcast(dictionary), col, "left")


def classify(col: Column, mapping: dict[str, int], default: int = 0) -> Column:
    """Tag-classifier DSL analog (osm/category.ml:83-122): chained CASE."""
    expr = F.lit(default)
    for k, v in sorted(mapping.items()):
        expr = F.when(col == F.lit(k), F.lit(v)).otherwise(expr)
    return expr


def group_collect_sorted(df: DataFrame, key: str, val: str) -> DataFrame:
    """R21 stream group (generic/data_stream.ml:36-51): values of each
    group as a canonical comma-joined sorted string."""
    return df.groupBy(key).agg(
        F.concat_ws(",", F.sort_array(F.collect_list(F.col(val).cast("string")))).alias(
            f"{val}_list"
        )
    )
