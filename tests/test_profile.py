"""Table profiling: closed forms, null handling, single-pass plan."""

from __future__ import annotations

import contextlib
import io

import pytest

from rdf_knowledge_extractor_spark.operators.profile import table_profile


def _df(spark):
    return spark.createDataFrame(
        [
            (1, "a", None),
            (2, "a", 1.5),
            (3, None, 1.5),
            (4, "b", None),
        ],
        ["id", "cat", "score"],
    )


def test_profile_closed_form(spark):
    rows = {r.col_name: r for r in table_profile(_df(spark)).collect()}
    assert set(rows) == {"id", "cat", "score"}
    assert all(r.n_rows == 4 for r in rows.values())
    assert (rows["id"].n_nulls, rows["id"].n_distinct) == (0, 4)
    assert (rows["cat"].n_nulls, rows["cat"].n_distinct) == (1, 2)
    assert (rows["score"].n_nulls, rows["score"].n_distinct) == (2, 1)


def test_profile_subset_and_validation(spark):
    rows = table_profile(_df(spark), ["cat"]).collect()
    assert len(rows) == 1 and rows[0].col_name == "cat"
    with pytest.raises(ValueError):
        table_profile(_df(spark), ["nope"])
    with pytest.raises(ValueError):
        table_profile(_df(spark), [])


def test_robust_outliers_closed_form(spark):
    from rdf_knowledge_extractor_spark.operators.profile import (
        robust_outliers,
    )

    # group a: values 1..9 (median 5.5 with the outlier, MAD 2.5) +
    # one extreme point; group b is constant -> MAD 0, never flags
    rows = [(i, "a", float(i + 1)) for i in range(9)] + [
        (9, "a", 1000.0),        # the outlier
        (10, "b", 5.0), (11, "b", 5.0),
    ]
    df = spark.createDataFrame(rows, ["event_id", "event_type", "value"])
    got = robust_outliers(df, "value", "event_type", "event_id").collect()
    assert [(r.event_id, r.event_type) for r in got] == [(9, "a")]


def test_profile_scans_table_once(spark):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        table_profile(_df(spark)).explain(mode="formatted")
    tree = buf.getvalue().split("\n\n", 1)[0]
    assert tree.count("Scan ExistingRDD") == 1
