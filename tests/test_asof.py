"""As-of join operator (operators/asof.py)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from rdf_knowledge_extractor_spark.operators import asof
from rdf_knowledge_extractor_spark.operators.asof import asof_join


def _ts(m):
    return datetime(2024, 1, 1, 0, m)


@pytest.fixture(scope="module")
def sides(spark):
    left = spark.createDataFrame(
        [
            (1, "u1", _ts(10)),
            (2, "u1", _ts(30)),
            (3, "u2", _ts(5)),  # before any right row for u2
            (4, "u3", _ts(20)),  # tie: right row at exactly _ts(20)
        ],
        "lid long, user string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("u1", _ts(8), 100, 1.0),
            ("u1", _ts(25), 101, 2.0),
            ("u2", _ts(9), 102, 3.0),
            ("u3", _ts(20), 103, 4.0),
        ],
        "user string, ts timestamp, rid long, rval double",
    )
    return left, right


def test_asof_backward_inclusive(sides):
    left, right = sides
    got = {
        r.lid: (r.rid, r.rval)
        for r in asof_join(left, right, on="user", ts_col="ts").collect()
    }
    assert got[1] == (100, 1.0)  # latest right ≤ 00:10 is 00:08
    assert got[2] == (101, 2.0)  # 00:25 beats 00:08
    assert got[3] == (None, None)  # nothing at/before 00:05
    assert got[4] == (103, 4.0)  # exact-timestamp match is inclusive


def test_asof_tolerance(sides):
    left, right = sides
    got = {
        r.lid: r.rid
        for r in asof_join(
            left, right, on="user", ts_col="ts", tolerance_sec=180
        ).collect()
    }
    # 3-minute window: lid 1 (match 2 min old) and lid 4 (0 s) survive,
    # lid 2's match is 5 min stale, lid 3 has none
    assert got == {1: 100, 2: None, 3: None, 4: 103}


def test_asof_collision_raises(sides):
    left, right = sides
    with pytest.raises(ValueError, match="collide"):
        asof_join(left, right.withColumnRenamed("rid", "lid"), on="user")


def test_asof_single_shuffle_plan(sides):
    left, right = sides
    plan = (
        asof_join(left, right, on="user", ts_col="ts")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # union + one keyed window — no join node, no range/theta join
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_asof_null_payload_attached_verbatim(spark):
    """The matched right row is attached atomically: its NULL payload
    fields stay NULL (DuckDB/pandas ASOF), never back-filled from an
    older right row (ADVICE r2)."""
    left = spark.createDataFrame(
        [(1, "u", _ts(30))], "lid long, user string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("u", _ts(10), 100, 1.0), ("u", _ts(20), 101, None)],
        "user string, ts timestamp, rid long, rval double",
    )
    row = asof_join(left, right, on="user", ts_col="ts").collect()[0]
    assert row.rid == 101
    assert row.rval is None  # NOT 1.0 from the older row


@pytest.fixture(scope="module")
def skewed_sides(spark):
    """One hot user owns ~50% of both sides; ties and gaps included."""
    hot = [(i, "hot", _ts(i % 59)) for i in range(1, 120)]
    cold = [(1000 + i, f"u{i % 17}", _ts((i * 7) % 59)) for i in range(120)]
    left = spark.createDataFrame(
        hot + cold, "lid long, user string, ts timestamp"
    )
    r_hot = [("hot", _ts(m), m, float(m)) for m in range(0, 59, 2)]
    r_cold = [
        (f"u{i % 17}", _ts((i * 5) % 59), 500 + i, float(i)) for i in range(80)
    ]
    right = spark.createDataFrame(
        r_hot + r_cold, "user string, ts timestamp, rid long, rval double"
    )
    return left, right


def _force_slices(monkeypatch, s):
    """Make the hot-key probe answer `s` (None: the single window)."""
    monkeypatch.setattr(asof, "_probe_hot_keys", lambda merged, keys: s)


def _single_window(left, right, **kw):
    """Rows of the unsliced plan, whatever the probe would decide."""
    with pytest.MonkeyPatch.context() as m:
        _force_slices(m, None)
        return sorted(
            map(
                tuple,
                asof_join(left, right, on="user", ts_col="ts", **kw).collect(),
            )
        )


def _spy_probe(monkeypatch):
    """Record what the probe hands to has_hot_key."""
    from rdf_knowledge_extractor_spark.operators import skew

    seen = {}
    real = skew.has_hot_key

    def spy(df, key, threshold_ratio, min_count):
        seen.update(df=df, ratio=threshold_ratio, min_count=min_count)
        return real(df, key, threshold_ratio=threshold_ratio, min_count=min_count)

    monkeypatch.setattr(skew, "has_hot_key", spy)
    return seen


def test_asof_time_sliced_equals_unsliced(skewed_sides, monkeypatch):
    """Hot-key mitigation: S time slices give byte-identical results to
    the single-window plan on a skewed fixture (VERDICT r2 #2)."""
    left, right = skewed_sides
    base = sorted(
        map(tuple, asof_join(left, right, on="user", ts_col="ts").collect())
    )
    for s in (3, 8):
        _force_slices(monkeypatch, s)
        sliced = sorted(
            map(
                tuple,
                asof_join(left, right, on="user", ts_col="ts").collect(),
            )
        )
        assert sliced == base, f"{s} slices diverged"


def test_asof_time_sliced_with_tolerance(skewed_sides, monkeypatch):
    left, right = skewed_sides
    base = sorted(
        map(
            tuple,
            asof_join(
                left, right, on="user", ts_col="ts", tolerance_sec=300
            ).collect(),
        )
    )
    _force_slices(monkeypatch, 5)
    sliced = sorted(
        map(
            tuple,
            asof_join(
                left, right, on="user", ts_col="ts", tolerance_sec=300
            ).collect(),
        )
    )
    assert sliced == base


def test_asof_sliced_window_partitions_by_slice(skewed_sides, monkeypatch):
    """The sliced plan's big window must partition by (key, _slice) —
    i.e. the hot key's history is split across slice partitions."""
    left, right = skewed_sides
    _force_slices(monkeypatch, 4)
    plan = (
        asof_join(left, right, on="user", ts_col="ts")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "_slice" in plan
    assert "hashpartitioning(user" in plan and "_slice" in plan.split(
        "hashpartitioning(user", 1
    )[1][:80]


# -- round-4: auto hot-key slicing (VERDICT r3 item 8) -------------------

def test_asof_auto_slices_on_hot_key_without_caller_optin(skewed_sides, monkeypatch):
    """With the probe tuned to this fixture's size (the whole input as
    the sample, hot from 50 rows), the hot key triggers the sliced plan
    WITHOUT the caller passing S — and the result still equals the
    unsliced plan."""
    left, right = skewed_sides
    base = _single_window(left, right)
    monkeypatch.setattr(asof, "HOT_KEY_MIN_COUNT", 50)
    monkeypatch.setattr(asof, "PROBE_FRACTION", 1.0)
    auto = asof_join(left, right, on="user", ts_col="ts")
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "_slice" in plan, "hot key should have auto-selected the sliced plan"
    assert sorted(map(tuple, auto.collect())) == base


def test_asof_auto_keeps_single_window_plan_for_uniform_keys(spark, monkeypatch):
    left = spark.createDataFrame(
        [(i, f"u{i % 40}", _ts(i % 59)) for i in range(200)],
        "lid long, user string, ts timestamp",
    )
    right = spark.createDataFrame(
        [(f"u{i % 40}", _ts((i * 3) % 59), i, float(i)) for i in range(120)],
        "user string, ts timestamp, rid long, rval double",
    )
    monkeypatch.setattr(asof, "HOT_KEY_MIN_COUNT", 50)
    monkeypatch.setattr(asof, "PROBE_FRACTION", 1.0)
    auto = asof_join(left, right, on="user", ts_col="ts")
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "_slice" not in plan, "uniform keys must keep the unsliced plan"
    base = _single_window(left, right)
    assert sorted(map(tuple, auto.collect())) == base


# -- round-5: sampled hot-key probe (VERDICT r4 item 4) ------------------

def test_probe_plan_scale_defaults_sample_with_slack(sides, monkeypatch):
    """At the default constants the probe reads a 1% Bernoulli sample,
    with both thresholds scaled by the 0.7 slack: ratio 0.05 → 0.035 and
    min count 10_000 · 0.01 · 0.7 = 70."""
    left, right = sides
    seen = _spy_probe(monkeypatch)
    asof_join(left, right, on="user", ts_col="ts")
    assert seen["ratio"] == pytest.approx(0.035)
    assert seen["min_count"] == 70  # 10_000 * 0.01 * 0.7
    assert "Sample 0.0, 0.01" in seen["df"]._jdf.queryExecution().logical().toString()


def test_asof_sampled_probe_triggers_slicing_and_stays_exact(spark, monkeypatch):
    """Large enough for the sampled path (min_count*fraction >= 30):
    the hot key must still auto-select the sliced plan off the sample,
    and the sliced result must equal the exact single-window plan."""
    hot = [(i, "hot", _ts(i % 59)) for i in range(3000)]
    cold = [(10_000 + i, f"u{i % 40}", _ts((i * 7) % 59)) for i in range(3000)]
    left = spark.createDataFrame(hot + cold, "lid long, user string, ts timestamp")
    right = spark.createDataFrame(
        [(k, _ts(m), m, float(m)) for k in ["hot", "u3"] for m in range(0, 59, 2)],
        "user string, ts timestamp, rid long, rval double",
    )
    monkeypatch.setattr(asof, "HOT_KEY_MIN_COUNT", 300)
    monkeypatch.setattr(asof, "PROBE_FRACTION", 0.1)
    auto = asof_join(left, right, on="user", ts_col="ts")
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "_slice" in plan, "sampled probe should have detected the hot key"
    base = _single_window(left, right)
    assert sorted(map(tuple, auto.collect())) == base


def test_asof_probe_scan_prunes_to_keys(spark, tmp_path, monkeypatch):
    """The auto-probe's extra pass is ~free on columnar sources: its
    scan must read ONLY the key column from both union branches
    (ReadSchema pruned), so at 100 TB the probe reads ~1% of one
    column, not the full input.  (A row-serialized .persist() upstream
    cannot prune — that artifact is documented in BENCH/BASELINE.md.)"""
    import contextlib
    import io
    import re

    spark.range(100).select(
        F.col("id").alias("user"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
        F.sha1(F.col("id").cast("string")).alias("left_payload"),
    ).write.parquet(str(tmp_path / "left"))
    spark.range(100).select(
        F.col("id").alias("user"),
        F.timestamp_seconds(F.lit(1699999999) + F.col("id")).alias("ts"),
        F.sha1(F.col("id").cast("string")).alias("click_blob"),
    ).write.parquet(str(tmp_path / "right"))
    left = spark.read.parquet(str(tmp_path / "left"))
    right = spark.read.parquet(str(tmp_path / "right"))

    seen = _spy_probe(monkeypatch)
    asof_join(left, right, on="user", ts_col="ts")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        seen["df"].groupBy("_k").count().explain("formatted")
    schemas = re.findall(r"ReadSchema: (\S+)", buf.getvalue())
    assert len(schemas) == 2  # both union branches scanned
    for s in schemas:
        assert s == "struct<user:bigint>", s
