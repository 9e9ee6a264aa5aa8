"""Ordered event-funnel analysis: how many users reach each step.

The standard product-analytics query (view → click → purchase): a
user reaches step j iff their event stream contains the j step types
at strictly increasing timestamps.  Beyond-reference family (the
reference engine scopes itself to small KGs —
/root/reference/README.md).

Scale shape — ONE shuffle, no window function, no Python:

- events are filtered to the funnel's step types scan-side (predicate
  pushdown), so the shuffle moves only candidate rows;
- per-user streams are gathered with a single groupBy + collect_set
  of (ts, type) structs (set semantics dedup identical repeats in the
  map-side aggregation buffer — no separate distinct shuffle),
  `array_sort`ed, and matched with a greedy JVM fold (`F.aggregate`):
  greedy earliest-completion is optimal for strict-order funnels, so
  the fold computes exactly the classic "t1 = min ts(s1);
  t2 = min ts(s2) > t1; …" chain in one pass — the DuckDB oracle
  evaluates that chain as k cascaded join-aggregates, making the
  comparison a genuine differential test of semantics;
- the summary collapses depths to a ≤(k+1)-row histogram first, so
  the per-step counts, the conversion base, and the rates are all
  computed on that tiny frame (broadcast inequality join + a
  single-partition window over k rows) without re-traversing the
  events subtree.

Skew: a hot user concentrates their (filtered) events in one task's
aggregation buffer.  Identical (ts, type) duplicates are pre-deduped
map-side (they cannot affect the chain), which bounds the buffer by
distinct timestamps; beyond that, classic funnel tools share this
bound — document-level mitigation is a time-range predicate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# the trailing window `rolling_unique_users` counts distinct users over
WINDOW_DAYS = 7


def funnel_depths(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """(user_col, depth) — per user, the furthest funnel step reached
    (0 = none).  Greedy-earliest matching is provably optimal for a
    strict-order funnel, so depth is exactly "can k strictly-increasing
    timestamps be chosen"."""
    if len(steps) < 2:
        raise ValueError(f"a funnel needs >= 2 steps, got {steps}")
    if len(set(steps)) != len(steps):
        raise ValueError(f"funnel steps must be distinct, got {steps}")
    k = len(steps)
    step_arr = F.array(*[F.lit(s) for s in steps])
    stream = (
        events.filter(F.col(type_col).isin(steps))
        .select(
            F.col(user_col),
            F.struct(
                F.col(ts_col).alias("ts"), F.col(type_col).alias("t")
            ).alias("_e"),
        )
        # collect_set: identical (ts, type) repeats can't extend a
        # chain, and set semantics dedup them map-side in the agg
        # buffer — one shuffle where distinct+collect_list needs two
        .groupBy(user_col)
        .agg(F.array_sort(F.collect_set("_e")).alias("_es"))
    )

    def _step(acc, e):
        advance = (
            (acc["depth"] < k)
            & (e["t"] == F.element_at(step_arr, acc["depth"] + 1))
            & ((acc["depth"] == 0) | (e["ts"] > acc["last"]))
        )
        return F.when(
            advance,
            F.struct(
                (acc["depth"] + 1).alias("depth"), e["ts"].alias("last")
            ),
        ).otherwise(acc)

    zero = F.struct(
        F.lit(0).alias("depth"),
        F.lit(None).cast("timestamp").alias("last"),
    )
    return stream.select(
        user_col,
        F.aggregate("_es", zero, _step)["depth"].alias("depth"),
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """(cohort_day, day_offset, n_active, retention) — classic cohort
    retention grid: users are cohorted by their first-activity day;
    each cell counts the cohort's users active `day_offset` days
    later, with `retention` the fraction of the cohort (4 dp).

    Scale shape: ONE user-keyed shuffle serves both the first-touch
    aggregate and the distinct (user, day) activity set; the two are
    then joined on the same user key (co-partitioned, no extra
    exchange), collapsed to the (cohort, offset) grid with a
    map-side-combined count — activity is already distinct per
    (user, day), so no count-distinct expand is needed — and cohort
    sizes ride back in as a broadcast (one row per cohort day)."""
    day = F.date_trunc("day", F.col(ts_col))
    activity = (
        events.select(F.col(user_col).alias("_u"), day.alias("_day"))
        .distinct()
    )
    first = activity.groupBy("_u").agg(F.min("_day").alias("_cohort"))
    grid = (
        activity.join(first, on="_u")
        .select(
            "_cohort",
            F.datediff(F.col("_day"), F.col("_cohort")).alias("day_offset"),
        )
        .groupBy("_cohort", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    sizes = first.groupBy("_cohort").agg(
        F.count(F.lit(1)).cast("double").alias("_size")
    )
    return grid.join(F.broadcast(sizes), on="_cohort").select(
        F.col("_cohort").cast("date").cast("string").alias("cohort_day"),
        "day_offset",
        "n_active",
        F.round(F.col("n_active") / F.col("_size"), 4).alias("retention"),
    )


def rolling_unique_users(
    events: DataFrame, user_col: str = "user_id", ts_col: str = "ts"
) -> DataFrame:
    """(day, dau, uniques_w) — daily active users plus the trailing
    `WINDOW_DAYS`-day distinct-user count ending each day.

    Rolling DISTINCTS cannot be summed from daily counts, and a
    range join (activity × day grid) rebuilds the fact table per
    window day.  The scalable exact shape instead EXPLODES each
    (user, day) activity row into the `WINDOW_DAYS` windows it
    belongs to (day … day+w-1) — w× the deduped activity sliver, not
    w× the corpus — then one count-distinct aggregate per window day.
    Windows are truncated at the data's last day (no phantom trailing
    windows); leading windows are naturally partial, the standard
    dashboard convention."""
    act = events.select(
        F.col(user_col).alias("_u"), F.to_date(ts_col).alias("_day")
    ).distinct()
    dau = act.groupBy("_day").agg(F.count(F.lit(1)).alias("dau"))
    mx = act.agg(F.max("_day").alias("_mx"))
    rolled = (
        act.select(
            "_u",
            F.explode(
                F.sequence(F.lit(0), F.lit(WINDOW_DAYS - 1))
            ).alias("_k"),
            "_day",
        )
        .select("_u", F.date_add(F.col("_day"), F.col("_k")).alias("_wd"))
        .crossJoin(F.broadcast(mx))
        .filter(F.col("_wd") <= F.col("_mx"))
        .groupBy("_wd")
        .agg(F.count_distinct("_u").alias("uniques_w"))
    )
    return dau.join(rolled, dau["_day"] == rolled["_wd"]).select(
        F.col("_day").cast("string").alias("day"),
        "dau",
        "uniques_w",
    )


def funnel_report(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """(step, event_type, n_users, conv_rate) — one row per funnel
    step: users reaching at least that step, and the conversion rate
    relative to step 1 (4 dp; step 1 rate is 1.0 when anyone enters)."""
    depths = funnel_depths(
        events, steps, user_col=user_col, ts_col=ts_col, type_col=type_col
    )
    # collapse to a <=(k+1)-row histogram so every downstream step —
    # per-step cumulative counts, the conversion base, the rates —
    # runs on a tiny frame instead of re-traversing the events subtree
    hist = depths.groupBy("depth").agg(F.count(F.lit(1)).alias("_n"))
    lvl = events.sparkSession.createDataFrame(
        [(i + 1, s) for i, s in enumerate(steps)], ["step", "event_type"]
    )
    counts = (
        lvl.join(F.broadcast(hist), on=F.col("depth") >= F.col("step"),
                 how="left")
        .groupBy("step", "event_type")
        .agg(
            F.coalesce(F.sum("_n"), F.lit(0)).cast("long").alias("n_users")
        )
    )
    w = Window.partitionBy()  # k rows: single-partition window is fine
    return (
        counts.withColumn(
            "_n1",
            F.max(F.when(F.col("step") == 1, F.col("n_users"))).over(w),
        )
        .withColumn(
            "conv_rate",
            F.round(
                F.when(
                    F.col("_n1") > 0, F.col("n_users") / F.col("_n1")
                ).otherwise(F.lit(0.0)),
                4,
            ),
        )
        .drop("_n1")
        .orderBy("step")
    )
