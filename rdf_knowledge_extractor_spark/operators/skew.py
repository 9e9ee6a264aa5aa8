"""Skew handling: hot-key detection for keyed operators.

Web-scale KGs have Zipfian entity popularity — a handful of head
entities (popular URIs) can dominate a join key's distribution and
turn one reducer into the straggler that defines the stage wall-clock
(BASELINE.json north_rule: "skew handled explicitly").

Layers of defense in this engine, in order of preference:

1. **AQE skew-join** (`spark.sql.adaptive.skewJoin.enabled`, on in
   session.py) splits oversized sort-merge partitions at runtime —
   free, but only for join patterns AQE recognizes.
2. **Blocking bucket caps** (textdedup._bucket_candidate_pairs) bound
   the in-row candidate blow-up from hot blocking keys: buckets over
   `dispatch.MAX_BUCKET_SIZE` members go through a distributed
   self-join.
3. **Hot-key detection** (`detect_hot_keys`, this module) for an
   operator AQE cannot split: the as-of join's window (operators/asof.py)
   probes for hot keys and then splits each key's timeline into slices.
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
