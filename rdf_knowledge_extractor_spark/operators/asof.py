"""As-of (most-recent-prior) join — an operator Spark lacks natively.

For each left row, attach the latest right row of the same key whose
timestamp is ≤ the left row's (classic event attribution: "for each
purchase, the most recent prior click by that user").

Spark-first formulation (no range join, no Python): UNION the two
sides with a side tag, then one window pass per key ordered by
(ts, side) with `last(struct, ignorenulls=True)` over an unbounded-
preceding frame — the right-side row "fills forward" onto every
subsequent left row.  The whole right payload travels as ONE struct so
the matched (latest) right row is attached verbatim: NULL fields of
the matched row stay NULL instead of inheriting stale values from
older right rows — matching DuckDB/pandas `ASOF JOIN` semantics (the
DuckDB native ASOF is this operator's oracle in `__spark_entry__.py`).
Right rows at the exact left timestamp sort BEFORE the left row,
giving inclusive (≥) semantics.

Scale notes (100 TB):
- ONE shuffle: the window's hash-partition by key + per-partition sort
  — same cost as any keyed sort, vs. the O(|L|·|R|) blow-up of the
  naive `l.ts >= r.ts` theta-join Spark would otherwise plan.
- a hot key serializes into one window partition (windows cannot be
  split by AQE).  A sampled probe finds hot keys; when it does, the
  window partitions by (key, time-slice) so a monster key's history
  splits into S parallel sorts, and slice boundaries are patched with a
  tiny per-slice carry-in aggregate (|keys|·S rows) — results are
  identical to the unsliced plan (asserted in tests/test_asof.py
  hot-key test).
- `tolerance` keeps the same plan and nulls out stale matches
  afterwards (pure projection, no extra shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# hot-key probe (see asof_join): the share of all rows and the row count
# that make a key hot, and the Bernoulli sample the probe reads
HOT_KEY_RATIO = 0.05
HOT_KEY_MIN_COUNT = 10_000
PROBE_FRACTION = 0.01


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    ts_col: str = "ts",
    tolerance_sec: float | None = None,
) -> DataFrame:
    """Left as-of join: every left row + latest right row with
    right.ts ≤ left.ts on the same key (nulls when no prior right row,
    or none within `tolerance_sec`).

    Right-side non-key, non-ts columns must not collide with left
    columns (rename on the right first) — collisions raise.

    Hot keys: every call probes the union's keys with `has_hot_key`
    (operators/skew.py, one aggregate: the sample's row total and its
    largest per-key count) on a deterministic `PROBE_FRACTION`
    Bernoulli sample.  The thresholds are scaled to the
    sample with a 0.7 slack, so borderline hot keys err toward slicing
    (a false positive is still an exact plan; a false negative is a
    straggler): a key is hot when its sampled count reaches
    0.7·`HOT_KEY_RATIO` of the sample and
    0.7·`HOT_KEY_MIN_COUNT`·`PROBE_FRACTION` rows (70 by default).
    The decision never looks at the input's size, so small inputs are
    sampled too, and below ~7,000 rows per key nothing is hot.  When a
    key is hot, each key's timeline splits into S uniform slices
    (global min/max ts, S = defaultParallelism capped at 32) so it no
    longer serializes through one window task; slice boundaries are
    patched with a per-(key, slice) carry-in so the result is
    identical.  Otherwise the plan is the single window (no join node,
    ≤1 Exchange).  At 100 TB the sampled probe costs ~1% of an
    aggregation pass."""
    keys = [on] if isinstance(on, str) else list(on)
    l_cols = [c for c in left.columns if c not in keys]
    r_payload = [c for c in right.columns if c not in keys and c != ts_col]
    clash = set(l_cols) & set(r_payload)
    if clash:
        raise ValueError(f"right payload columns collide with left: {sorted(clash)}")

    merged = _merged_frame(left, right, keys, ts_col, r_payload)
    slices = _probe_hot_keys(merged, keys)
    if slices is None:
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col(ts_col).asc(), F.col("_side").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = (
            merged.withColumn("_r", F.last("_r", ignorenulls=True).over(w))
            .filter(F.col("_side") == 1)
            .drop("_side")
        )
    else:
        out = _sliced_fill(merged, keys, ts_col, slices)

    if tolerance_sec is not None:
        stale = F.col("_r").getField("_r_ts") < F.col(ts_col) - F.expr(
            f"INTERVAL {tolerance_sec} SECONDS"
        )
        out = out.withColumn(
            "_r", F.when(~F.coalesce(stale, F.lit(True)), F.col("_r"))
        )

    return out.select(
        *[F.col(c) for c in left.columns],
        F.col("_r").getField("_r_ts").alias("_r_ts"),
        *[F.col("_r").getField(c).alias(c) for c in r_payload],
    )


def _merged_frame(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    ts_col: str,
    r_payload: list[str],
) -> DataFrame:
    """Side-tagged union both the fill-forward window and the hot-key
    probe scan.  The right row travels as ONE struct (ts first, then
    payload) so the matched row is attached atomically — NULLs in the
    matched row's payload stay NULL (DuckDB/pandas ASOF semantics)."""
    l_tag = left.withColumn("_side", F.lit(1))
    r_tag = right.select(
        *keys,
        F.col(ts_col),
        F.lit(0).alias("_side"),
        F.struct(
            F.col(ts_col).alias("_r_ts"), *[F.col(c) for c in r_payload]
        ).alias("_r"),
    )
    return l_tag.unionByName(r_tag, allowMissingColumns=True)


def _probe_hot_keys(merged: DataFrame, keys: list[str]) -> int | None:
    """Slicing decision: S (int) when a hot key would serialize the
    window, else None (single-window plan).  Composite keys probe as one
    struct column through has_hot_key (operators/skew.py), on a
    sample with the thresholds scaled as `asof_join` describes."""
    from rdf_knowledge_extractor_spark.operators.skew import has_hot_key

    probe = merged.select(F.struct(*[F.col(k) for k in keys]).alias("_k"))
    if not has_hot_key(
        probe.sample(fraction=PROBE_FRACTION, seed=17),
        "_k",
        threshold_ratio=HOT_KEY_RATIO * 0.7,
        min_count=max(1, int(HOT_KEY_MIN_COUNT * PROBE_FRACTION * 0.7)),
    ):
        return None
    parallelism = merged.sparkSession.sparkContext.defaultParallelism
    return max(2, min(32, parallelism))


def _sliced_fill(
    merged: DataFrame, keys: list[str], ts_col: str, slices: int
) -> DataFrame:
    """Hot-key mitigation: window partitioned by (key, time-slice) +
    boundary patch.

    1. slice_id = uniform bucket of ts over the global [min, max] range
       (2-scalar driver agg — one cheap job), monotone in ts.
    2. within-slice fill-forward exactly as the unsliced plan, but the
       window partitions by (*keys, _slice) — a hot key's history now
       spreads over `slices` tasks.
    3. carry-in: per (key, slice) take the LAST right-side struct
       (max_by over right rows — map-side partial agg, |keys|·S rows),
       then a tiny window over slices (< current) fills the struct that
       was "live" entering each slice; join back on (key, slice) — AQE
       broadcasts it when small, and a shuffle join on (key, slice)
       still splits the hot key when key cardinality is huge — and
       coalesce.
    """
    # TIMESTAMP_NTZ cannot cast to numeric in Spark 4; unix_micros over a
    # timestamp cast is value-preserving under a UTC session TZ and keeps
    # ordering for numeric ts columns too (linear transform).
    ts_num = F.unix_micros(F.col(ts_col).cast("timestamp")).cast("double")
    lo, hi = merged.agg(F.min(ts_num), F.max(ts_num)).first()
    span = max((hi or 0.0) - (lo or 0.0), 1e-9)
    sliced = merged.withColumn(
        "_slice",
        F.least(
            F.lit(slices - 1),
            F.floor((ts_num - F.lit(lo)) / F.lit(span / slices)),
        ).cast("int"),
    )

    w_in = (
        Window.partitionBy(*keys, "_slice")
        .orderBy(F.col(ts_col).asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = sliced.withColumn("_r_in", F.last("_r", ignorenulls=True).over(w_in))

    # last right struct of each (key, slice): order by (ts, _side) like the
    # window; right rows only (left rows carry a NULL struct already).
    finals = (
        sliced.filter(F.col("_side") == 0)
        .groupBy(*keys, "_slice")
        .agg(F.max_by("_r", F.struct(F.col(ts_col), F.col("_side"))).alias("_r_fin"))
    )
    w_carry = (
        Window.partitionBy(*keys)
        .orderBy(F.col("_slice").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # carry-in rows must exist for slices with no right rows at all, so
    # build the (key, slice) spine from every populated slice, then fill.
    spine = sliced.select(*keys, "_slice").distinct()
    carry = (
        spine.join(finals, on=[*keys, "_slice"], how="left")
        .withColumn("_r_carry", F.last("_r_fin", ignorenulls=True).over(w_carry))
        .select(*keys, "_slice", "_r_carry")
    )

    return (
        filled.join(carry, on=[*keys, "_slice"], how="left")
        .withColumn("_r", F.coalesce("_r_in", "_r_carry"))
        .filter(F.col("_side") == 1)
        .drop("_side", "_slice", "_r_in", "_r_carry")
    )
