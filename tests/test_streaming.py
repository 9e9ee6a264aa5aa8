"""Structured Streaming ingest: availableNow end-to-end, checkpoint
resume (no reprocessing), graph-merge sink insert-if-absent."""

from __future__ import annotations

from pyspark.sql import functions as F

from rdf_knowledge_extractor_spark.sources.pages import pages_dataframe
from rdf_knowledge_extractor_spark.streaming.ingest import (
    read_pages_stream,
    start_graph_merge_sink,
    start_triples_sink,
    streaming_triples,
)


def _write_pages(spark, tmp_path, n, seed=42, subdir="in"):
    pages = pages_dataframe(spark, n, seed=seed)
    (tmp_path / subdir).mkdir(exist_ok=True)
    pages.write.mode("append").parquet(str(tmp_path / subdir))
    return pages


def test_stream_extract_to_parquet(spark, example_config, tmp_path):
    _write_pages(spark, tmp_path, 12)
    stream = read_pages_stream(spark, str(tmp_path / "in"))
    assert stream.isStreaming
    triples = streaming_triples(stream, example_config)
    q = start_triples_sink(
        triples, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out"))
    n1 = out.filter(F.col("subject").isNotNull()).count()
    assert n1 > 0
    assert out.select("source").distinct().count() == 12

    # checkpoint resume: nothing new → no reprocessing
    q2 = start_triples_sink(
        streaming_triples(read_pages_stream(spark, str(tmp_path / "in")), example_config),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "out")).filter(
        F.col("subject").isNotNull()
    ).count() == n1

    # new files arrive → only the delta is processed
    _write_pages(spark, tmp_path, 6, seed=7)
    q3 = start_triples_sink(
        streaming_triples(read_pages_stream(spark, str(tmp_path / "in")), example_config),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    q3.awaitTermination(120)
    out3 = spark.read.parquet(str(tmp_path / "out"))
    assert out3.select("source").distinct().count() == 18
    assert out3.filter(F.col("subject").isNotNull()).count() > n1


def test_stream_graph_merge_dedups(spark, example_config, tmp_path):
    _write_pages(spark, tmp_path, 8)
    graph_path = str(tmp_path / "graph")

    def run_once(ckpt):
        stream = read_pages_stream(spark, str(tmp_path / "in"))
        q = start_graph_merge_sink(
            streaming_triples(stream, example_config), graph_path, str(tmp_path / ckpt)
        )
        q.awaitTermination(120)

    from rdf_knowledge_extractor_spark.plans.store import TripleStore

    run_once("c1")
    g1 = TripleStore(spark, graph_path).read()
    n1 = g1.count()
    assert n1 == g1.select("subject", "predicate", "object").distinct().count()

    # replay the SAME input with a FRESH checkpoint: fresh batch keys,
    # so the transactional store's anti-join must skip every row
    run_once("c2")
    store = TripleStore(spark, graph_path)
    assert store.read().count() == n1
    assert store.total_rows() == n1
    # two checkpoints → two distinct committed batch keys
    assert len(store.batch_ids()) == 2


def test_stateful_sessionization_applyinpandaswithstate(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): event-time
    sessions with gap close + watermark-timeout close, matching the
    batch lag/window sessionization on the same data."""
    import datetime as dt

    from rdf_knowledge_extractor_spark.streaming.stateful import (
        streaming_sessions_stateful,
    )

    base = dt.datetime(2024, 1, 1)
    rows = []
    # user 1: two sessions (gap > 1800s between event 2 and 3)
    for i, off in enumerate([0, 60, 120, 4000, 4100]):
        rows.append((i, base + dt.timedelta(seconds=off), 1, "click", 10.0))
    # user 2: one session
    rows.append((10, base + dt.timedelta(seconds=30), 2, "click", 5.0))
    # a far-future event advances the watermark so open sessions time out
    rows.append((99, base + dt.timedelta(days=2), 3, "click", 1.0))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    src = str(tmp_path / "events_in")
    df.coalesce(1).write.parquet(src)

    stream = (
        spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    sessions = streaming_sessions_stateful(stream, gap_seconds=1800)
    q = (
        sessions.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.n_events, r.total_value)
        for r in spark.sql("select * from sess_out").collect()
    }
    # user 1 session A (3 events) closes inline on the gap; session B
    # (2 events) and user 2's session close via watermark timeout
    assert (1, 3, 30.0) in got
    assert (1, 2, 20.0) in got
    assert (2, 1, 5.0) in got


def test_streaming_curate_matches_batch(spark, tmp_path):
    """The streaming curation gate = batch curate_corpus on the same
    data (unique texts ⇒ the keep-first/keep-min dedup difference is
    moot), and streaming dedup drops a duplicate-content doc."""
    from pyspark.sql import types as T

    from rdf_knowledge_extractor_spark.operators.curation import curate_corpus
    from rdf_knowledge_extractor_spark.streaming.ingest import streaming_curate

    en = (
        "the cat and the dog sat on the mat and looked at the sun of a day "
        "for a while in the park with a friend and the bird is on the tree"
    )
    rows = [(i, en + f" tail{i}", "src0") for i in range(8)]
    rows.append((100, en + " tail0", "src0"))  # exact dup of doc 0's text
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    in_dir = str(tmp_path / "docs_in")
    docs.coalesce(1).write.parquet(in_dir)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("source", T.StringType()),
        ]
    )
    stream = spark.readStream.schema(schema).parquet(in_dir)
    out = streaming_curate(stream, lang="en", min_words=10)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("curated_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.doc_id, r.lang_pred, r.n_words, r.quality_score)
        for r in spark.sql("SELECT * FROM curated_stream").collect()
    }
    want = {
        (r.doc_id, r.lang_pred, r.n_words, r.quality_score)
        for r in curate_corpus(docs, lang="en", min_words=10).collect()
    }
    # batch keeps min(0, 100)=0 for the dup pair; the single-file
    # stream arrives in row order so first-arrival is also doc 0
    assert got == want
    assert len(got) == 8


def test_streaming_curate_redacts_pii(spark, tmp_path):
    """redact=True adds a PII-scrubbed text column to the surviving
    docs — the scrub is stateless Catalyst so it composes into the
    streaming gate unchanged."""
    from pyspark.sql import types as T

    from rdf_knowledge_extractor_spark.streaming.ingest import streaming_curate

    en = (
        "the cat and the dog sat on the mat and looked at the sun of a day "
        "for a while in the park and you can mail me at bob@example.com"
    )
    docs = spark.createDataFrame([(1, en, "src0")],
                                 "doc_id long, text string, source string")
    in_dir = str(tmp_path / "docs_in_pii")
    docs.coalesce(1).write.parquet(in_dir)
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("source", T.StringType()),
    ])
    stream = spark.readStream.schema(schema).parquet(in_dir)
    out = streaming_curate(stream, lang="en", min_words=10, redact=True)
    q = (
        out.writeStream.format("memory")
        .queryName("curated_pii_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    [r] = spark.sql("SELECT * FROM curated_pii_stream").collect()
    assert "bob@example.com" not in r.redacted
    assert "<EMAIL>" in r.redacted


def test_streaming_attribution_equals_batch_asof(spark, tmp_path):
    """foreachBatch as-of attribution: union of micro-batch outputs ==
    the one-shot batch asof_join on the same data; replays idempotent
    (one store commit per checkpointed batch)."""
    from datetime import datetime

    from rdf_knowledge_extractor_spark.operators.asof import asof_join
    from rdf_knowledge_extractor_spark.plans.store import TripleStore
    from rdf_knowledge_extractor_spark.streaming.ingest import (
        start_attribution_sink,
    )

    def ts(m):
        return datetime(2024, 1, 1, 0, m)

    clicks = spark.createDataFrame(
        [("u1", ts(5), 100), ("u1", ts(20), 101), ("u2", ts(8), 102)],
        "user string, ts timestamp, click_id long",
    )
    purchases = spark.createDataFrame(
        [(1, "u1", ts(10)), (2, "u1", ts(25)), (3, "u2", ts(3)), (4, "u2", ts(50))],
        "pid long, user string, ts timestamp",
    )
    src = str(tmp_path / "purchases")
    purchases.write.parquet(src)

    stream = (
        spark.readStream.schema(purchases.schema).parquet(src)
    )
    out_dir = str(tmp_path / "attributed")
    q = start_attribution_sink(
        stream, clicks, out_dir, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    got = sorted(map(tuple, TripleStore(spark, out_dir).read().collect()))
    want = sorted(map(tuple, asof_join(purchases, clicks, on="user").collect()))
    assert got == want

    # resume with the same checkpoint: no new batches, output unchanged
    q2 = start_attribution_sink(
        spark.readStream.schema(purchases.schema).parquet(src),
        clicks, out_dir, str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(120)
    assert sorted(map(tuple, TripleStore(spark, out_dir).read().collect())) == want


_BASE = (
    "the quick brown fox jumps over the lazy dog while the cat naps "
    "in the warm afternoon sun near the old garden wall by the gate"
)
_NOVEL = (
    "totally unrelated content about parquet partition discovery "
    "and the structured streaming checkpoint commit protocol"
)


def _append_docs(spark, tmp_path, rows, src="in"):
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.mode(
        "append"
    ).parquet(str(tmp_path / src))


def _run_neardup(spark, tmp_path, src="in", ckpt="ckpt", **kw):
    """Drain `<tmp_path>/<src>` through the near-dup sink under the
    checkpoint `<tmp_path>/<ckpt>`; returns every admitted doc id."""
    from rdf_knowledge_extractor_spark.streaming.neardup import (
        start_neardup_filter_sink,
    )

    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(tmp_path / src)
    )
    q = start_neardup_filter_sink(
        stream, str(tmp_path / "out"), str(tmp_path / "state"),
        str(tmp_path / ckpt), threshold=0.7, **kw,
    )
    q.awaitTermination(180)
    return {r.doc_id for r in _store(spark, tmp_path, "out").read().collect()}


def _store(spark, tmp_path, name):
    from rdf_knowledge_extractor_spark.plans.store import TripleStore

    return TripleStore(spark, str(tmp_path / name))


def _state_ids(spark, tmp_path):
    return {r.id for r in _store(spark, tmp_path, "state").read().collect()}


def test_streaming_neardup_filter_across_batches(spark, tmp_path):
    """First-arrival near-dup admission: batch 2's near-copy of an
    admitted batch-1 doc is rejected; novel docs pass; in-batch
    near-dups keep the min id."""
    other = (
        "completely different content about spark structured streaming "
        "microbatches and stateful admission filters for web corpora"
    )
    # batch 1: doc0 + an in-batch near-copy (doc1) + a novel doc (doc2)
    _append_docs(spark, tmp_path, [(0, _BASE), (1, _BASE + " extra"), (2, other)])
    got1 = _run_neardup(spark, tmp_path)
    assert got1 == {0, 2}  # doc1 rejected in-batch (min id 0 kept)

    # batch 2: near-copy of admitted doc0 (reject) + novel doc (admit)
    _append_docs(
        spark, tmp_path,
        [(10, _BASE + " tail"), (11, other.upper() + " but lowercase differs a lot here truly")],
    )
    got2 = _run_neardup(spark, tmp_path)
    assert 10 not in got2
    assert 11 in got2
    assert got2 >= {0, 2, 11}


def test_greedy_inbatch_admission_chain(spark):
    """round-4 advice (neardup.py:122): chain a~b, b~c with a!~c must
    admit c — its only near-dup b was itself rejected.  Also: a
    history-rejected doc never suppresses its in-batch peers."""
    from rdf_knowledge_extractor_spark.streaming.neardup import _greedy_rejections

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a long, id_b long"
    )
    rej = {r.id for r in _greedy_rejections(pairs, None).collect()}
    assert rej == {2}  # 1 admitted, 2 rejected, 3 re-admitted

    # doc 1 already rejected by history: 2 is then admitted, 3 rejected
    hist = spark.createDataFrame([(1,)], "id long")
    rej = {r.id for r in _greedy_rejections(pairs, hist).collect()}
    assert rej == {1, 3}

    # two independent pairs resolve independently
    pairs2 = spark.createDataFrame([(1, 2), (5, 6)], "id_a long, id_b long")
    rej = {r.id for r in _greedy_rejections(pairs2, None).collect()}
    assert rej == {2, 6}


def test_neardup_state_compaction_preserves_admission(spark, tmp_path):
    """round-4 brief #5: N batches -> compact -> admission decisions
    identical, and the state's live file sets fold into one."""
    from rdf_knowledge_extractor_spark.plans.store import TripleStore

    texts = {
        0: _BASE,
        1: _NOVEL,
        2: _BASE + " trailing near dup marker",  # near-dup of 0 -> reject
        3: "third novel document mentioning adaptive query execution "
           "and broadcast joins in distributed sql engines at scale",
    }
    for i in (0, 1, 2):
        _append_docs(spark, tmp_path, [(i, texts[i])])
        _run_neardup(spark, tmp_path)
    state = TripleStore(spark, str(tmp_path / "state"))
    # three commits; doc 2's admitted nothing, so it holds no live set
    assert len(state.batch_ids()) == 3
    assert len(state.committed_paths()) == 2
    assert state.compact() == 2
    assert len(state.committed_paths()) == 1

    # admission against compacted state is unchanged: a near-copy of
    # doc 0 is still rejected, a novel doc still admitted
    _append_docs(spark, tmp_path, [(10, _BASE + " another tail"), (3, texts[3])])
    assert _run_neardup(spark, tmp_path) == {0, 1, 3}
    assert _state_ids(spark, tmp_path) == {0, 1, 3}


def test_neardup_fresh_checkpoint_over_same_state(spark, tmp_path):
    """A new checkpoint over an existing state restarts its batch ids
    at 0, yet must read the whole admitted history and add to it: the
    near-copy it sees is rejected, and neither the admitted state nor
    the first checkpoint's output is overwritten."""
    _append_docs(spark, tmp_path, [(0, _BASE)], src="in1")
    assert _run_neardup(spark, tmp_path, src="in1", ckpt="ckpt1") == {0}

    _append_docs(spark, tmp_path, [(10, _BASE + " tail"), (11, _NOVEL)], src="in2")
    assert _run_neardup(spark, tmp_path, src="in2", ckpt="ckpt2") == {0, 11}
    assert _state_ids(spark, tmp_path) == {0, 11}


def test_neardup_crash_before_state_swap_replays_once(spark, tmp_path, monkeypatch):
    """A crash after the output commit, before the state commit's
    manifest swap: the replayed micro-batch sees the same history, finds
    its output committed and commits the state once."""
    import pytest

    from rdf_knowledge_extractor_spark.plans.store import TripleStore

    real_swap = TripleStore._swap_manifest

    def crash_on_state(self, manifest, expected_version):
        if self.root == tmp_path / "state":
            raise RuntimeError("simulated crash before the state swap")
        return real_swap(self, manifest, expected_version)

    _append_docs(spark, tmp_path, [(0, _BASE), (1, _NOVEL)])
    with monkeypatch.context() as m:
        m.setattr(TripleStore, "_swap_manifest", crash_on_state)
        with pytest.raises(Exception, match="simulated crash"):
            _run_neardup(spark, tmp_path)
    state, out = _store(spark, tmp_path, "state"), _store(spark, tmp_path, "out")
    assert state.read() is None  # the written state files are orphans
    assert len(out.batch_ids()) == 1 and out.total_rows() == 2

    assert _run_neardup(spark, tmp_path) == {0, 1}
    assert out.batch_ids() == state.batch_ids() and out.total_rows() == 2
    assert _state_ids(spark, tmp_path) == {0, 1}

    _append_docs(spark, tmp_path, [(10, _BASE + " tail")])
    assert _run_neardup(spark, tmp_path) == {0, 1}


def test_neardup_crash_in_compact_before_swap(spark, tmp_path, monkeypatch):
    """A crash inside the sink's compact(), after the compacted file set
    is written but before the manifest swap, leaves the committed state
    as it was: the replayed batch is a no-op, the next batch still
    rejects a near-copy, and its compaction reclaims the orphan."""
    import pytest

    from rdf_knowledge_extractor_spark.plans.store import TripleStore

    real_swap = TripleStore._swap_manifest

    def crash_on_compaction(self, manifest, expected_version):
        if "__compacted__" in manifest["batches"]:
            raise RuntimeError("simulated crash before the compaction swap")
        return real_swap(self, manifest, expected_version)

    _append_docs(spark, tmp_path, [(0, _BASE)])
    assert _run_neardup(spark, tmp_path, compact_every=1) == {0}

    _append_docs(spark, tmp_path, [(1, _NOVEL)])
    with monkeypatch.context() as m:
        m.setattr(TripleStore, "_swap_manifest", crash_on_compaction)
        with pytest.raises(Exception, match="simulated crash"):
            _run_neardup(spark, tmp_path, compact_every=1)
    state = TripleStore(spark, str(tmp_path / "state"))
    assert len(state.committed_paths()) == 2  # the compacted set is an orphan
    assert _state_ids(spark, tmp_path) == {0, 1}

    _append_docs(spark, tmp_path, [(10, _BASE + " tail")])
    assert _run_neardup(spark, tmp_path, compact_every=1) == {0, 1}
    assert _state_ids(spark, tmp_path) == {0, 1}
    assert len(state.committed_paths()) == 1
    assert len(list((tmp_path / "state" / "data").iterdir())) == 1


def test_neardup_sink_keeps_callers_cache(spark, tmp_path):
    """The sink releases only the frames it persisted: a view the caller
    cached is still cached after a micro-batch, and the sink leaves no
    persisted RDD of its own behind."""
    spark.range(5).createOrReplaceTempView("callers_view")
    spark.catalog.cacheTable("callers_view")
    try:
        assert spark.table("callers_view").count() == 5
        persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
        _append_docs(spark, tmp_path, [(0, _BASE), (1, _BASE + " extra")])
        assert _run_neardup(spark, tmp_path) == {0}
        assert spark.catalog.isCached("callers_view")
        assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted
    finally:
        spark.catalog.uncacheTable("callers_view")
        spark.catalog.dropTempView("callers_view")
