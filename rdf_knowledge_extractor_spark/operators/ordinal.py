"""Distributed dense global ordinal (the RDD ``zipWithIndex`` pattern
expressed over DataFrames).

A ``Window.orderBy(...)`` with no ``partitionBy`` pulls the entire
input through ONE task to assign ordinals — at web scale that single
partition is the stage wall-clock.  This helper assigns the same dense
0-based rank with all-parallel stages:

1. range-repartition on the order key (disjoint, sorted key ranges
   across ``n`` partitions — an all-to-all exchange, not a gather),
2. per-partition ``row_number`` (``Window.partitionBy(partition_id)``
   — parallel),
3. one tiny driver collect of per-partition counts → cumulative
   offsets, broadcast-joined back.

The input is pinned with ``persist`` so the partition ids observed by
the count job and the rank job are identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def zip_with_ordinal(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "_i",
) -> DataFrame:
    """Return ``df`` + dense 0-based ``out_col`` ranking by ``order_cols``.

    Equivalent to ``row_number() OVER (ORDER BY order_cols) - 1`` but
    with no single-partition exchange.  Ties order nondeterministically
    (same as the window form).
    """
    spark = df.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    parted = (
        df.repartitionByRange(n, *order_cols)
        .withColumn("_zo_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    counts = (
        parted.groupBy("_zo_pid").agg(F.count(F.lit(1)).alias("_zo_cnt")).collect()
    )
    offsets, acc = {}, 0
    for row in sorted(counts, key=lambda r: r["_zo_pid"]):
        offsets[row["_zo_pid"]] = acc
        acc += row["_zo_cnt"]
    offsets_df = F.broadcast(
        spark.createDataFrame(
            [(pid, off) for pid, off in offsets.items()] or [(0, 0)],
            "_zo_pid int, _zo_off bigint",
        )
    )
    w = Window.partitionBy("_zo_pid").orderBy(*order_cols)
    out = (
        parted.withColumn("_zo_rk", F.row_number().over(w) - F.lit(1))
        .join(offsets_df, "_zo_pid", "left")
        .withColumn(out_col, (F.col("_zo_rk") + F.coalesce("_zo_off", F.lit(0))).cast("bigint"))
        .drop("_zo_pid", "_zo_rk", "_zo_off")
    )
    return out
