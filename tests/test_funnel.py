"""Ordered event-funnel operator: closed-form chains, ties, gaps."""

from __future__ import annotations

import datetime as dt

import pytest

from rdf_knowledge_extractor_spark.operators.funnel import (
    funnel_depths,
    funnel_report,
)

STEPS = ["view", "click", "purchase"]


def _ev(spark, rows):
    base = dt.datetime(2025, 1, 1)
    return spark.createDataFrame(
        [
            (u, base + dt.timedelta(seconds=s), t)
            for u, s, t in rows
        ],
        ["user_id", "ts", "event_type"],
    )


def test_funnel_depths_closed_form(spark):
    df = _ev(spark, [
        (1, 1, "view"), (1, 2, "click"), (1, 3, "purchase"),
        (2, 1, "click"), (2, 2, "view"), (2, 3, "click"),
        (3, 1, "view"),
        (4, 1, "purchase"), (4, 2, "click"), (4, 3, "view"),
        (5, 1, "view"), (5, 1, "click"),          # tie: strict > fails
        (6, 1, "error"), (6, 2, "error"),          # filtered out
        (7, 5, "view"), (7, 4, "purchase"), (7, 6, "click"),
        (7, 7, "purchase"),                        # out-of-order input
    ])
    got = {r.user_id: r.depth for r in funnel_depths(df, STEPS).collect()}
    assert got == {1: 3, 2: 2, 3: 1, 4: 1, 5: 1, 7: 3}


def test_funnel_report_counts_and_rates(spark):
    df = _ev(spark, [
        (1, 1, "view"), (1, 2, "click"), (1, 3, "purchase"),
        (2, 1, "view"), (2, 2, "click"),
        (3, 1, "view"),
        (4, 1, "click"),   # enters at step 2 only -> depth 0? no: click
                            # without a prior view never matches step 1
    ])
    rows = funnel_report(df, STEPS).collect()
    assert [(r.step, r.event_type, r.n_users, r.conv_rate) for r in rows] == [
        (1, "view", 3, 1.0),
        (2, "click", 2, round(2 / 3, 4)),
        (3, "purchase", 1, round(1 / 3, 4)),
    ]


def test_cohort_retention_closed_form(spark):
    from rdf_knowledge_extractor_spark.operators.funnel import (
        cohort_retention,
    )

    day = lambda d, h=0: dt.datetime(2025, 1, d, h)
    df = spark.createDataFrame(
        [
            # cohort Jan 1: users 1, 2; user 1 returns d1 and d2,
            # user 2 returns d2 only; double events same day collapse
            (1, day(1)), (1, day(1, 5)), (1, day(2)), (1, day(3)),
            (2, day(1)), (2, day(3)),
            # cohort Jan 2: user 3, never returns
            (3, day(2)),
        ],
        ["user_id", "ts"],
    )
    got = {
        (r.cohort_day, r.day_offset): (r.n_active, r.retention)
        for r in cohort_retention(df).collect()
    }
    assert got == {
        ("2025-01-01", 0): (2, 1.0),
        ("2025-01-01", 1): (1, 0.5),
        ("2025-01-01", 2): (2, 1.0),
        ("2025-01-02", 0): (1, 1.0),
    }


def test_rolling_unique_users_closed_form(spark):
    from rdf_knowledge_extractor_spark.operators.funnel import (
        rolling_unique_users,
    )

    day = lambda d: dt.datetime(2025, 1, d)
    df = spark.createDataFrame(
        [
            (1, day(1)), (2, day(1)),
            (1, day(2)),               # user 1 repeats
            (3, day(4)),
            (2, day(9)),
            (4, day(10)),
        ],
        ["user_id", "ts"],
    )
    got = {
        r.day: (r.dau, r.uniques_w)
        for r in rolling_unique_users(df).collect()
    }
    # 7-day windows: d1={1,2}; d2={1,2}+{1}; d4=d1..d4={1,2,3};
    # d9 covers d3..d9={3,2} (user 1's d2 has left); d10 covers
    # d4..d10={3,2,4}; only days with dau appear (join on dau days)
    assert got == {
        "2025-01-01": (2, 2),
        "2025-01-02": (1, 2),
        "2025-01-04": (1, 3),
        "2025-01-09": (1, 2),
        "2025-01-10": (1, 3),
    }


def test_funnel_validates_steps(spark):
    df = _ev(spark, [(1, 1, "view")])
    with pytest.raises(ValueError):
        funnel_depths(df, ["view"])
    with pytest.raises(ValueError):
        funnel_depths(df, ["view", "view"])


def test_funnel_empty_input_reports_zero(spark):
    df = _ev(spark, [(1, 1, "error")])
    rows = funnel_report(df, STEPS).collect()
    assert [(r.step, r.n_users, r.conv_rate) for r in rows] == [
        (1, 0, 0.0), (2, 0, 0.0), (3, 0, 0.0),
    ]
