"""Transactional triple store (plans/store.py): exactly-once
insert-if-absent under crash + retry (VERDICT r2 #3; parity target
ref:src/knowledge_graph/mod.rs:91-114)."""

from __future__ import annotations

import contextlib
import json

import pytest

from rdf_knowledge_extractor_spark.plans.store import CommitConflict, TripleStore
from rdf_knowledge_extractor_spark.schemas import TRIPLE_SCHEMA


def _triples(spark, rows):
    return spark.createDataFrame(
        [(s, p, o, 1.0, None, {}, 0, i) for i, (s, p, o) in enumerate(rows)],
        TRIPLE_SCHEMA,
    )


@pytest.fixture()
def store(spark, tmp_path):
    return TripleStore(spark, str(tmp_path / "kg"))


@contextlib.contextmanager
def _crash_at_manifest_swap(monkeypatch):
    """A driver crash between the data write and the manifest swap."""

    def crash(self, manifest, expected_version):
        raise RuntimeError("simulated crash before manifest swap")

    with monkeypatch.context() as m:
        m.setattr(TripleStore, "_swap_manifest", crash)
        yield


def test_insert_and_anti_join_semantics(store, spark):
    a = _triples(spark, [("s1", "p", "o1"), ("s2", "p", "o2")])
    assert store.insert_if_absent(a, "b1") == 2
    # second batch overlaps on (s,p,o): only the new row lands
    b = _triples(spark, [("s2", "p", "o2"), ("s3", "p", "o3")])
    assert store.insert_if_absent(b, "b2") == 1
    got = {(r.subject, r.object) for r in store.read().collect()}
    assert got == {("s1", "o1"), ("s2", "o2"), ("s3", "o3")}
    assert store.total_rows() == 3


def test_duplicate_batch_id_is_idempotent_noop(store, spark):
    a = _triples(spark, [("s1", "p", "o1")])
    assert store.insert_if_absent(a, "b1") == 1
    # retry of a COMMITTED batch: returns the original count, no dup rows
    assert store.insert_if_absent(a, "b1") == 1
    assert store.read().count() == 1
    assert store.batch_ids() == ["b1"]


def test_crash_before_commit_then_retry_no_duplicates(store, spark, monkeypatch):
    """Kill-and-rerun: data files written, manifest swap never happened
    — the store must show ZERO effect, and the retry must commit
    exactly once with the correct added-count."""
    a = _triples(spark, [("s1", "p", "o1"), ("s2", "p", "o2")])
    assert store.insert_if_absent(a, "b1") == 2

    b = _triples(spark, [("s2", "p", "o2"), ("s3", "p", "o3")])
    with _crash_at_manifest_swap(monkeypatch), pytest.raises(
        RuntimeError, match="simulated crash"
    ):
        store.insert_if_absent(b, "b2")
    # orphan files invisible: nothing changed
    assert store.read().count() == 2
    assert store.batch_ids() == ["b1"]

    # retry same batch: exactly-once outcome
    assert store.insert_if_absent(b, "b2") == 1
    rows = [(r.subject, r.predicate, r.object) for r in store.read().collect()]
    assert len(rows) == len(set(rows)) == 3


def test_commit_conflict_detected(store, spark):
    a = _triples(spark, [("s1", "p", "o1")])
    store.insert_if_absent(a, "b1")
    # another writer bumps the version mid-commit: simulate by editing
    # the manifest between read and swap via the internal API
    manifest = store._read_manifest()
    stale_version = manifest["version"] - 1  # pretend we read v0
    with pytest.raises(CommitConflict):
        store._swap_manifest(manifest, stale_version)


def test_compact_preserves_rows_and_idempotency(store, spark):
    store.insert_if_absent(_triples(spark, [("s1", "p", "o1")]), "b1")
    store.insert_if_absent(_triples(spark, [("s2", "p", "o2")]), "b2")
    assert store.compact() == 2
    assert store.read().count() == 2
    # post-compact: old batch_ids still recognized (no re-insert)
    assert store.insert_if_absent(_triples(spark, [("s1", "p", "o1")]), "b1") == 1
    assert store.read().count() == 2
    # a second compact must not be shadowed by the first's history entry
    store.insert_if_absent(_triples(spark, [("s3", "p", "o3")]), "b3")
    assert store.compact() == 3
    assert store.read().count() == 3


def test_batch_dedup_inside_one_batch(store, spark):
    dup = _triples(spark, [("s1", "p", "o1"), ("s1", "p", "o1")])
    assert store.insert_if_absent(dup, "b1") == 1
    assert store.read().count() == 1


def test_manifest_is_the_only_visibility_point(store, spark, tmp_path):
    """Orphan parquet directories under data/ must never surface."""
    store.insert_if_absent(_triples(spark, [("s1", "p", "o1")]), "b1")
    orphan = store.root / "data" / "orphan-deadbeef"
    _triples(spark, [("sX", "p", "oX")]).write.parquet(str(orphan))
    assert {r.subject for r in store.read().collect()} == {"s1"}
    m = json.loads((store.root / "manifest.json").read_text())
    assert "orphan" not in json.dumps(m["batches"])


# -- round-4 hardening: flock'd commit, vacuum, footer counts ------------

def test_vacuum_removes_crashed_orphans_keeps_committed(store, spark, monkeypatch):
    a = _triples(spark, [("s1", "p", "o1")])
    store.insert_if_absent(a, "b1")
    b = _triples(spark, [("s2", "p", "o2")])
    with _crash_at_manifest_swap(monkeypatch), pytest.raises(
        RuntimeError, match="simulated crash"
    ):
        store.insert_if_absent(b, "b2")
    data = store.root / "data"
    assert len(list(data.iterdir())) == 2  # committed + orphan
    deleted = store.vacuum(min_age_sec=0)
    assert len(deleted) == 1 and "b2" in deleted[0]
    # committed data intact, retry still works
    assert store.read().count() == 1
    assert store.insert_if_absent(b, "b2") == 1
    assert store.read().count() == 2


def test_vacuum_retention_guard_skips_young_dirs(store, spark, monkeypatch):
    a = _triples(spark, [("s1", "p", "o1")])
    with _crash_at_manifest_swap(monkeypatch), pytest.raises(
        RuntimeError, match="simulated crash"
    ):
        store.insert_if_absent(a, "b1")
    # default-ish retention: the just-written orphan is younger than the
    # guard, so an operator running vacuum mid-commit deletes nothing
    assert store.vacuum(min_age_sec=3600) == []
    assert len(list((store.root / "data").iterdir())) == 1


def test_concurrent_commit_serialized_by_lock(store, spark):
    """Two writers racing the same expected_version: the lock forces
    one check+swap to complete before the other starts, so exactly one
    wins and the loser gets CommitConflict (not a silent lost commit)."""
    import threading

    a = _triples(spark, [("s1", "p", "o1")])
    b = _triples(spark, [("s2", "p", "o2")])
    store.insert_if_absent(a, "b1")
    manifest = store._read_manifest()
    ver = manifest["version"]
    errors: list[Exception] = []

    def commit(tag):
        m = json.loads(json.dumps(manifest))
        m["version"] += 1
        m["batches"][tag] = {"path": f"/nonexistent/{tag}", "rows": 0, "added": 0}
        try:
            store._swap_manifest(m, ver)
        except CommitConflict as e:
            errors.append(e)

    ts = [threading.Thread(target=commit, args=(t,)) for t in ("w1", "w2")]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert len(errors) == 1  # exactly one loser, loudly
    final = store._read_manifest()
    assert final["version"] == ver + 1
    assert ("w1" in final["batches"]) ^ ("w2" in final["batches"])


def test_footer_row_count_matches_spark_count(store, spark):
    rows = [(f"s{i}", "p", f"o{i}") for i in range(57)]
    assert store.insert_if_absent(_triples(spark, rows), "big") == 57
    assert store.read().count() == 57
    assert store.total_rows() == 57


def test_vacuum_reclaims_compacted_away_batch_dirs(store, spark):
    # round-4 advice (store.py:237): compact() keeps each history
    # entry's path with rows=0; vacuum must treat those as dead (only
    # rows>0 paths are read()-reachable) or old dirs live forever.
    store.insert_if_absent(_triples(spark, [("s1", "p", "o1")]), "b1")
    store.insert_if_absent(_triples(spark, [("s2", "p", "o2")]), "b2")
    total = store.compact()
    assert total == 2
    data = store.root / "data"
    assert len(list(data.iterdir())) == 3  # b1 + b2 + compact set
    deleted = store.vacuum(min_age_sec=0)
    assert len(deleted) == 2
    import os

    assert all("compact" not in os.path.basename(d) for d in deleted)
    # store still reads fully, idempotency history intact
    assert store.read().count() == 2
    assert store.insert_if_absent(_triples(spark, [("s1", "p", "o1")]), "b1") == 1


# -- reads reuse one relation per manifest version -----------------------

def _spo(df):
    return sorted((r.subject, r.predicate, r.object) for r in df.collect())


def test_read_reuses_relation_until_manifest_changes(store, spark, monkeypatch):
    import shutil

    assert store.read() is None
    store.insert_if_absent(_triples(spark, [("s1", "p", "o1")]), "b1")
    g1 = store.read()
    assert store.read() is g1  # no commit in between: the same object
    assert _spo(g1) == [("s1", "p", "o1")]

    # this instance's commit
    store.insert_if_absent(_triples(spark, [("s2", "p", "o2")]), "b2")
    g2 = store.read()
    assert g2 is not g1 and store.read() is g2
    assert _spo(g2) == [("s1", "p", "o1"), ("s2", "p", "o2")]

    # another writer's commit on the same root, which no per-instance
    # dirty flag would see
    other = TripleStore(spark, str(store.root))
    other.insert_if_absent(_triples(spark, [("s3", "p", "o3")]), "b3")
    g3 = store.read()
    want = [("s1", "p", "o1"), ("s2", "p", "o2"), ("s3", "p", "o3")]
    assert g3 is not g2 and _spo(g3) == want

    # compaction swaps the live file sets
    assert store.compact() == 3
    g4 = store.read()
    assert g4 is not g3 and _spo(g4) == want

    # a crashed commit and a vacuum leave the live set alone
    with _crash_at_manifest_swap(monkeypatch), pytest.raises(
        RuntimeError, match="simulated crash"
    ):
        store.insert_if_absent(_triples(spark, [("s4", "p", "o4")]), "b4")
    assert store.read() is g4
    assert len(store.vacuum(min_age_sec=0)) == 4  # b1, b2, b3 and the crashed b4
    assert store.read() is g4 and _spo(g4) == want

    # a root wiped and re-committed to the same version (by another
    # writer, so this instance reads nothing in between) has new file sets
    version = store._read_manifest()["version"]
    shutil.rmtree(store.root)
    for i in range(version):
        other.insert_if_absent(_triples(spark, [(f"t{i}", "p", "o")]), f"c{i}")
    assert store._read_manifest()["version"] == version
    g5 = store.read()
    assert g5 is not g4
    assert _spo(g5) == [(f"t{i}", "p", "o") for i in range(version)]


def test_repeat_read_runs_no_spark_job(store, spark):
    store.insert_if_absent(_triples(spark, [("s1", "p", "o1")]), "b1")
    store.read()
    sc = spark.sparkContext
    sc.setJobGroup("store-repeat-read", "repeat read")
    try:
        assert store.read().columns
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("store-repeat-read")) == []
