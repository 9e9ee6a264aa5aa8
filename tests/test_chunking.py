"""Document chunking (operators/chunking.py): window rule, coverage,
edge docs, and the zero-shuffle plan shape."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from rdf_knowledge_extractor_spark.operators.chunking import chunk_documents


def test_chunk_windows_and_tail(spark):
    toks = [f"t{i}" for i in range(50)]
    df = spark.createDataFrame([(1, " ".join(toks))], ["doc_id", "text"])
    rows = sorted(chunk_documents(df).collect(), key=lambda r: r.chunk_idx)
    # 32-token windows at stride 16: starts 0,16,32,48 (all < 50); the
    # last chunk is the 2-token tail
    assert [(r.chunk_idx, r.n_tokens, r.chunk_text) for r in rows] == [
        (0, 32, " ".join(toks[0:32])),
        (1, 32, " ".join(toks[16:48])),
        (2, 18, " ".join(toks[32:50])),
        (3, 2, "t48 t49"),
    ]


def test_chunk_overlap_covers_every_token(spark):
    text = " ".join(f"t{i}" for i in range(57))
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    rows = chunk_documents(df).collect()
    covered = set()
    for r in rows:
        covered.update(r.chunk_text.split(" "))
    assert covered == {f"t{i}" for i in range(57)}


def test_short_and_empty_docs(spark):
    df = spark.createDataFrame(
        [(1, "a b"), (2, ""), (3, "   "), (4, None)],
        "doc_id long, text string",
    )
    rows = chunk_documents(df).collect()
    # doc 1 -> exactly one (short) chunk; empty/blank/null -> none
    assert [(r.doc_id, r.chunk_idx, r.chunk_text) for r in rows] == [(1, 0, "a b")]


def test_chunking_is_shuffle_free(spark):
    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    out = chunk_documents(df)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain()
    assert "Exchange" not in buf.getvalue()

