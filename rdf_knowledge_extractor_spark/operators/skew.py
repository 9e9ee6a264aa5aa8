"""Skew handling: head-entity salting for hot join keys.

Web-scale KGs have Zipfian entity popularity — a handful of head
entities (popular URIs) can dominate a join key's distribution and
turn one reducer into the straggler that defines the stage wall-clock
(BASELINE.json north_rule: "skew handled explicitly").

Layers of defense in this engine, in order of preference:

1. **AQE skew-join** (`spark.sql.adaptive.skewJoin.enabled`, on in
   session.py) splits oversized sort-merge partitions at runtime —
   free, but only for join patterns AQE recognizes.
2. **Blocking bucket caps** (textdedup._bucket_candidate_pairs) bound
   the in-row candidate blow-up from hot blocking keys: oversized
   buckets go through a distributed self-join and are reported.
3. **Explicit salting** (this module) for aggregations/joins where a
   known-hot key must still be processed completely: the hot side's
   key is split into `factor` sub-keys; the small side is replicated
   `factor`×; results are exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def detect_hot_keys(
    df: DataFrame, key: str, threshold_ratio: float = 0.01, min_count: int = 10_000
) -> DataFrame:
    """Keys holding more than `threshold_ratio` of all rows (and at
    least `min_count` rows) — one aggregation pass, broadcastable."""
    total = df.count()
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(
            (F.col("n") >= min_count) & (F.col("n") >= F.lit(int(total * threshold_ratio)))
        )
        .select(key, "n")
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    factor: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Exact equi-join with the big side salted `factor` ways.

    big:   salt = pmod(xxhash64(all cols), factor)  → spreads a hot
           key's rows over `factor` reducers
    small: exploded `factor`× with every salt value
    join:  on (key, salt) — co-partitioned, no single hot reducer.
    """
    salted_big = big.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(factor))
    )
    replicated_small = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(factor - 1)))
    )
    out = salted_big.join(replicated_small, on=[on, "_salt"], how=how)
    return out.drop("_salt")


def salted_aggregate_count(
    df: DataFrame, key: str, factor: int = 16
) -> DataFrame:
    """Two-phase count per key: partial count on (key, salt), final
    combine on key — the classic map-side-combine pattern made
    explicit for keys too hot for a single reducer."""
    partial = (
        df.withColumn("_salt", F.pmod(F.xxhash64(F.rand(seed=7)), F.lit(factor)))
        .groupBy(key, "_salt")
        .agg(F.count(F.lit(1)).alias("_partial"))
    )
    return partial.groupBy(key).agg(F.sum("_partial").alias("n"))
