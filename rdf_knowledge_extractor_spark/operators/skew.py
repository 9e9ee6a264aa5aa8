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
3. **Hot-key detection** (`has_hot_key`, this module) for an
   operator AQE cannot split: the as-of join's window (operators/asof.py)
   probes for a hot key and then splits each key's timeline into slices.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def has_hot_key(
    df: DataFrame, key: str, threshold_ratio: float, min_count: int
) -> bool:
    """Whether some key holds at least `threshold_ratio` of all rows and
    at least `min_count` rows.  Both are lower bounds on one key's
    count, so some key meets them exactly when the largest count does:
    the row total and the largest count come from ONE aggregate (one
    collect) over the per-key counts."""
    row = (
        df.groupBy(key)
        .count()
        .agg(F.sum("count").alias("total"), F.max("count").alias("top"))
        .collect()[0]
    )
    top, total = row["top"], row["total"]
    if top is None:  # no rows
        return False
    return top >= min_count and top >= int(total * threshold_ratio)
