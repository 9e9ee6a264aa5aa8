"""Self-tests for the benchmark: python3 -m pytest kgbench -q (from the
repository root)."""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from kgbench import gen  # noqa: E402
from kgbench.run import layer_metrics  # noqa: E402

DIAGNOSTICS = {"trace_overhead_s", "peak_rss_mb", "loadavg_1m", "cpu_steal_pct"}


def _defs():
    return json.loads((HERE / "metrics.json").read_text())


def _bench():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def test_same_seed_gives_identical_inputs():
    for make in (
        lambda s: gen.crawl_input(s, 12, 3),
        lambda s: gen.resolve_input(s, 200, 2, 150),
        lambda s: gen.query_input(s, 60, 300, 4),
    ):
        assert gen.fingerprint(make(5)) == gen.fingerprint(make(5))
        assert gen.fingerprint(make(5)) != gen.fingerprint(make(6))


def test_resolve_clusters_match_the_linker_rules():
    inp = gen.resolve_input(3, 400, 2, 300)
    # the independent reference linker recovers the constructed clusters
    assert gen.reference_clusters(inp.clusters) == inp.clusters
    assert inp.props["alias_mix"]["typo"] > 0 and inp.props["alias_mix"]["distractor"] > 0
    assert inp.expected_total[-1] == len(inp.expected_final)


def test_metric_names_are_well_formed():
    names = [d["name"] for d in _defs()["end_to_end"] + _defs()["per_layer"]]
    assert len(names) == len(set(names))
    for n in names:
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", n) and len(n) <= 64, n


def test_benchmark_json_matches_metric_definitions():
    bench, defs = _bench(), _defs()
    for key in ("end_to_end", "per_layer"):
        assert [(d["name"], d["unit"], d["better"]) for d in bench[key]] == [
            (d["name"], d["unit"], d["better"]) for d in defs[key]
        ]
    assert any(d["name"] == "setup_s" for d in bench["end_to_end"])


def test_every_layer_metric_names_what_it_should_move():
    from kgbench.workloads import WORKLOADS

    listed = {w["name"] for w in _bench()["workloads"]}
    assert listed <= set(WORKLOADS)
    e2e = {d["name"] for d in _defs()["end_to_end"]}
    for d in _defs()["per_layer"]:
        if d["name"] in DIAGNOSTICS:
            continue
        # each layer metric moves something on a workload BENCHMARK.json lists
        assert any(mv["workload"] in listed for mv in d["moves"]), d["name"]
        for mv in d["moves"]:
            assert mv["metric"] in e2e and mv["workload"] in WORKLOADS, (d["name"], mv)


def test_layer_metrics_fold_spans_per_operation():
    class FakeTracer:
        spans = [
            {"id": 0, "parent": None, "name": "op", "start": 0.0, "end": 1.0, "jobs": 0, "stages": 0},
            {"id": 1, "parent": 0, "name": "link", "start": 0.1, "end": 0.5, "jobs": 3, "stages": 7,
             "entities": 10},
            {"id": 2, "parent": 0, "name": "store.commit", "start": 0.5, "end": 0.9, "jobs": 2,
             "stages": 2},
        ]

        def self_times(self):
            return {0: 0.2, 1: 0.4, 2: 0.4}

    m = layer_metrics(FakeTracer())
    assert m["link.s"] == pytest.approx(0.4) and m["link.jobs"] == 3 and m["link.stages"] == 7
    assert m["link.entities"] == 10 and m["store.jobs"] == 2
    assert m["store.commit_s"] == pytest.approx(0.4) and m["op.self_s"] == pytest.approx(0.2)


def test_query_gate_rejects_a_dropped_row(tmp_path):
    from kgbench.workloads import GraphQuery

    wl = GraphQuery(None, 1, tmp_path)
    wl.inp = gen.query_input(1, 80, 400, 4)
    wl.prepare()
    try:
        for kind, arg, ref in wl.queries[:40]:
            want = wl.db.execute(ref[0], ref[1]).fetchall()
            assert wl._check(kind, arg, ref, want) is None
            if want:
                assert wl._check(kind, arg, ref, want[1:]) is not None
    finally:
        wl.db.close()


def test_every_seed_runs_the_same_query_mix(tmp_path):
    from collections import Counter

    from kgbench.workloads import GraphQuery

    mixes = []
    for seed in (1, 2):
        wl = GraphQuery(None, seed, tmp_path)
        wl.inp = gen.query_input(seed, 80, 400, 4)
        wl.prepare()
        wl.db.close()
        run = wl.queries[: GraphQuery.min_ops]
        mixes.append(Counter((kind, ref[0]) for kind, _arg, ref in run))
    assert mixes[0] == mixes[1]


def test_mapping_gate_rejects_a_mislinked_entity():
    from kgbench.workloads import _check_mapping

    truth = {"a": "a", "a2": "a", "b": "b"}
    rows = [{"uri": u, "canonical": c} for u, c in truth.items()]
    assert _check_mapping(rows, truth, None) is None
    rows[1] = {"uri": "a2", "canonical": "b"}
    span: dict = {"entities": 3}
    assert _check_mapping(rows, truth, span) is not None
    assert span["precision"] == 0.0 and span["recall"] == 0.0


@pytest.fixture(scope="module")
def spark():
    from rdf_knowledge_extractor_spark.session import get_spark

    s = get_spark(app_name="kgbench-test", master="local[2]", shuffle_partitions=4,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_commit_gate_rejects_a_dropped_triple(spark, tmp_path):
    from pyspark.sql import functions as F

    from kgbench.spans import Tracer
    from kgbench.workloads import EntityResolve

    wl = EntityResolve(spark, 4, tmp_path)
    wl.N_CLUSTERS, wl.N_BATCHES, wl.MENTIONS = 300, 2, 250
    wl.setup()
    off = Tracer(spark, "t", enabled=False)
    assert [wl.op(b, off).error for b in range(2)] == [None, None]
    # drop a row whose committed triple nothing else in the input carries
    canon = lambda r: gen.canonical_triples([r[:3]], wl.inp.clusters)  # noqa: E731
    seen0 = set().union(*map(canon, wl.inp.batches[0]))
    counts: dict = {}
    for r in wl.inp.batches[1]:
        for t in canon(r):
            counts[t] = counts.get(t, 0) + 1
    victim = next(r for r in wl.inp.batches[1]
                  if all(t not in seen0 and counts[t] == 1 for t in canon(r)))
    wl.batch_dfs[1] = wl.batch_dfs[1].filter(
        (F.col("doc_seq") != victim[6]) | (F.col("triple_seq") != victim[7])
    )
    errors = [wl.op(b, off).error for b in range(2)]
    assert errors[0] is None and errors[1] is not None
    wl.close()


def test_traced_op_records_layer_spans(spark, tmp_path):
    from kgbench.spans import Tracer
    from kgbench.workloads import EntityResolve

    wl = EntityResolve(spark, 4, tmp_path)
    wl.N_CLUSTERS, wl.N_BATCHES, wl.MENTIONS = 300, 2, 250
    wl.setup()
    tracer = Tracer(spark, "t", enabled=True)
    assert wl.op(0, tracer).error is None
    names = [s["name"] for s in tracer.spans]
    assert names == ["op", "merge", "link", "canonicalize", "store.commit"]
    m = layer_metrics(tracer)
    assert m["link.jobs"] > 0 and m["link.precision"] == 1.0 and m["link.recall"] == 1.0
    assert m["store.rows_added"] == wl.inp.expected_added[0]
    wl.close()


def test_run_fails_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / HERE.name, ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    proc = subprocess.run(
        [sys.executable, f"{HERE.name}/run.py", "--workload", "crawl_build", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0 and proc.stdout.strip() == ""
