"""Physical-plan regressions for the round-5 operators: the shapes
that make them 100-TB-safe must survive Catalyst changes."""

from __future__ import annotations

import contextlib
import io


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def _docs(spark):
    return spark.createDataFrame(
        [(i, f"tok{i} a b c d e f g h tok{i}", "en", "s") for i in range(8)],
        ["doc_id", "text", "lang", "source"],
    )


def test_lm_scores_no_cartesian_and_broadcast_vocab(spark):
    from rdf_knowledge_extractor_spark.operators.lm_score import (
        bigram_lm_scores,
    )

    plan = _plan(bigram_lm_scores(_docs(spark)))
    assert "CartesianProduct" not in plan
    # the 1-row vocab aggregate must come in as a broadcast, never a
    # shuffled join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_dupspans_no_cartesian_hash_keys(spark):
    from rdf_knowledge_extractor_spark.operators.dupspans import (
        duplicate_span_report,
    )

    plan = _plan(duplicate_span_report(_docs(spark)))
    assert "CartesianProduct" not in plan
    # the gram doc-count aggregate and the join back are keyed on the
    # hash-partitioned gram
    assert "hashpartitioning(gram" in plan


def test_mixing_rates_broadcast_not_shuffled(spark):
    from rdf_knowledge_extractor_spark.operators.mixing import (
        mix_to_weights,
    )

    plan = _plan(mix_to_weights(_docs(spark), {"en": 1.0}, group_col="lang"))
    # the |groups|-row rates table joins back via broadcast; the
    # corpus itself must not be re-shuffled for it
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_funnel_single_stream_shuffle(spark):
    import datetime as dt

    from rdf_knowledge_extractor_spark.operators.funnel import funnel_report

    ev = spark.createDataFrame(
        [(1, dt.datetime(2025, 1, 1, 0, 0, i), t)
         for i, t in enumerate(["view", "click", "purchase"])],
        ["user_id", "ts", "event_type"],
    )
    plan = _plan(funnel_report(ev, ["view", "click", "purchase"]))
    assert "CartesianProduct" not in plan
    # the big events stream is scanned ONCE and shuffled ONCE (the
    # groupBy-user fold); everything after runs on the <=(k+1)-row
    # histogram, so the remaining exchanges move tiny frames only
    tree = plan.split("\n\n", 1)[0]
    assert tree.count("Scan ExistingRDD") == 2  # events once + steps dim
    assert tree.count("Exchange") <= 5  # 1 big + hist/counts/window/bcast
    assert "SortAggregate" in plan or "ObjectHashAggregate" in plan


def test_weighted_sample_window_group_limit(spark):
    from rdf_knowledge_extractor_spark.operators.curation import (
        weighted_sample_per_group,
    )

    from pyspark.sql import functions as F

    df = _docs(spark).withColumn("w", F.length("text").cast("double"))
    plan = _plan(weighted_sample_per_group(df, weight_col="w"))
    assert "WindowGroupLimit" in plan
