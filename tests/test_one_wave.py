"""`dispatch.one_wave`: a small Python-stage input runs in one wave.

Extraction over a small persisted page table of 16 partitions runs at
most `defaultParallelism` Python tasks; with the bound lowered below the
input's estimated size the 16 partitions stay.  Either way the
extracted rows equal those of the stage without the rule.  The rule
itself never runs a Spark job, whatever the input's shape.
"""

from __future__ import annotations

import itertools

import pytest

from rdf_knowledge_extractor_spark.functions import extract
from rdf_knowledge_extractor_spark.operators.dispatch import one_wave

N_PARTS = 16
_groups = itertools.count()


def _in_group(spark, fn):
    """(fn(), [numTasks of every stage fn's jobs ran])."""
    sc = spark.sparkContext
    group = f"one-wave-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("idle", "idle")
    st = sc.statusTracker()
    tasks = [
        st.getStageInfo(s).numTasks
        for j in st.getJobIdsForGroup(group)
        for s in st.getJobInfo(j).stageIds
        if st.getStageInfo(s) is not None
    ]
    return out, tasks


@pytest.fixture(scope="module")
def pages(spark):
    from rdf_knowledge_extractor_spark.sources.pages import pages_dataframe

    df = pages_dataframe(spark, 60, seed=7).repartition(N_PARTS).persist()
    df.count()
    yield df
    df.unpersist()


def _rows(df):
    return sorted(tuple(str(r[c]) for c in df.columns) for r in df.collect())


def _extract(spark, pages, cfg):
    out = extract.extract_triples_stage(pages, cfg, html_col="html")
    return _in_group(spark, lambda: _rows(out))


def _without_rule(spark, pages, cfg, monkeypatch):
    with monkeypatch.context() as m:
        m.setattr(extract, "one_wave", lambda df: df)
        return _extract(spark, pages, cfg)


def test_small_input_runs_one_wave(spark, pages, example_config, monkeypatch):
    p = spark.sparkContext.defaultParallelism
    want, wide = _without_rule(spark, pages, example_config, monkeypatch)
    got, tasks = _extract(spark, pages, example_config)
    assert max(wide) == N_PARTS
    assert tasks and max(tasks) <= p < N_PARTS
    assert got == want and len(got) > 0


def test_input_over_the_bound_keeps_its_partitions(
    spark, pages, example_config, monkeypatch
):
    key = "spark.sql.files.openCostInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1k")  # 60 pages estimate far above 16 × 1 KB
    try:
        got, tasks = _extract(spark, pages, example_config)
    finally:
        spark.conf.set(key, old)
    want, _ = _without_rule(spark, pages, example_config, monkeypatch)
    assert max(tasks) == N_PARTS
    assert got == want and len(got) > 0


def test_one_wave_runs_no_job(spark, pages):
    """Every input shape: a built cache of an exchange (narrowed), an
    unbuilt one and a bare exchange (both left alone, since reading
    their width would run the stages under them), a plain scan."""
    p = spark.sparkContext.defaultParallelism
    unbuilt = spark.range(100).repartition(N_PARTS).persist()
    try:
        cases = [
            (pages, p),
            (unbuilt, None),
            (spark.range(100).repartition(N_PARTS), None),
            (spark.range(0, 100, 1, N_PARTS), p),
        ]
        for df, width in cases:
            out, tasks = _in_group(spark, lambda: one_wave(df))
            assert tasks == []
            if width is None:
                assert out is df
            else:
                assert out.rdd.getNumPartitions() == width
    finally:
        unbuilt.unpersist()
