"""Table profiling: per-column null/distinct statistics in one pass.

The first question against any 100-TB table is "what's in it" —
column fill rates and cardinalities drive partitioning, dedup-key,
and quota decisions before any pipeline is built.  Beyond-reference
family (the reference engine has fixed schemas only).

Scale shape: ONE aggregate evaluates every column's count and
exact distinct together — Catalyst compiles multiple count-distincts
into a single Expand + two-level aggregate (rows are replicated once
per distinct-column, the textbook exact-multi-distinct plan), so the
table is scanned once regardless of column count.  The wide 1-row
result is then unpivoted driver-side into (column, …) rows via
`stack` — k rows, no data movement.  Distincts are exact, so the
profile is oracle-comparable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# the modified z-score above which `robust_outliers` flags a row
OUTLIER_Z = 3.5


def robust_outliers(
    df: DataFrame, value_col: str, group_col: str, id_col: str
) -> DataFrame:
    """(id, group, value, robust_z) — rows whose modified z-score
    |0.6745·(v − median)| / MAD exceeds `OUTLIER_Z` within their group
    (Iglewicz–Hoaglin).  Median/MAD resist the very outliers they
    hunt, unlike mean/stddev.  Groups with MAD = 0 flag nothing
    (degenerate constant groups).

    Scale shape: two grouped `percentile` passes (value median, then
    MAD as the median of absolute deviations); each buffers its group
    and hash-matches DuckDB's `median`.  The per-group constants
    (≤ |groups| rows) ride back as broadcast joins, so the corpus is
    scanned twice and never re-shuffled."""
    med = df.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("_med")
    )
    dev = df.join(F.broadcast(med), on=group_col).withColumn(
        "_adev", F.abs(F.col(value_col) - F.col("_med"))
    )
    mad = dev.groupBy(group_col).agg(
        F.expr("percentile(_adev, 0.5)").alias("_mad")
    )
    return (
        dev.join(F.broadcast(mad), on=group_col)
        .withColumn(
            "robust_z",
            F.round(
                0.6745 * F.col("_adev") / F.col("_mad"), 4
            ),
        )
        .filter((F.col("_mad") > 0) & (F.col("robust_z") > OUTLIER_Z))
        .select(id_col, group_col, value_col, "robust_z")
    )


def table_profile(
    df: DataFrame,
    columns: list[str] | None = None,
) -> DataFrame:
    """(col_name, n_rows, n_nulls, n_distinct) — one row per profiled
    column.  `n_distinct` ignores NULLs (SQL COUNT DISTINCT
    semantics, identical in DuckDB)."""
    cols = columns if columns is not None else df.columns
    if not cols:
        raise ValueError("no columns to profile")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"unknown columns: {missing}")
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs.append(
            (F.count(F.lit(1)) - F.count(F.col(c))).alias(f"_nulls_{c}")
        )
        aggs.append(F.count_distinct(F.col(c)).alias(f"_ndv_{c}"))
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', _nulls_{c}, _ndv_{c}" for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS (col_name, n_nulls, n_distinct)",
        "_n AS n_rows",
    ).select(
        "col_name",
        "n_rows",
        F.col("n_nulls").cast("long").alias("n_nulls"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
    )
