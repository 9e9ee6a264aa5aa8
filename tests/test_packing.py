"""Sequence packing (operators/packing.py): binned semantics, the
overflow bound, determinism, and the one-shuffle / shard-parallel plan
shape."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from rdf_knowledge_extractor_spark.operators.packing import pack_sequences_binned


@pytest.fixture(scope="module")
def docs(spark):
    # token counts per doc (whitespace words): id -> id%7 + 1 words
    rows = [(i, " ".join(f"w{j}" for j in range(i % 7 + 1))) for i in range(40)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_binned_bounded_overflow(docs):
    packed = pack_sequences_binned(docs, max_tokens=10, n_shards=4)
    report = packed.groupBy("shard", "bin").agg(
        F.sum("n_tokens").alias("sum_tokens")
    )
    # overflow bound: sum_tokens < max + (longest doc = 7)
    assert report.filter(F.col("sum_tokens") >= 10 + 7).count() == 0
    # bins are dense from 0 within each shard
    for shard_bins in report.groupBy("shard").agg(
        F.collect_list("bin").alias("b")
    ).collect():
        got = sorted(shard_bins.b)
        assert got == list(range(len(got)))


def test_binned_is_exclusive_cumsum(spark):
    # shard 0, docs of 4 tokens each, max 8: cumsum_excl 0,4,8,12 ->
    # bins 0,0,1,1 (doc fitting exactly at the boundary starts the
    # next bin only after the budget is CONSUMED, not at >= max)
    df = spark.createDataFrame(
        [(i, "a b c d") for i in range(0, 16, 4)], ["doc_id", "text"]
    )
    rows = sorted(
        pack_sequences_binned(df, max_tokens=8, n_shards=1).collect(),
        key=lambda r: r.doc_id,
    )
    assert [r.bin for r in rows] == [0, 0, 1, 1]


def test_binned_one_shuffle(docs):
    packed = pack_sequences_binned(docs, max_tokens=10, n_shards=4)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        packed.explain()
    assert buf.getvalue().count("Exchange") == 1


def test_validation(docs):
    with pytest.raises(ValueError):
        pack_sequences_binned(docs, max_tokens=0)
    with pytest.raises(ValueError):
        pack_sequences_binned(docs, max_tokens=10, n_shards=0)
