"""PageRank operator vs an independent pure-Python power iteration."""

from __future__ import annotations

from rdf_knowledge_extractor_spark.operators import pagerank as pagerank_module
from rdf_knowledge_extractor_spark.operators.pagerank import pagerank


def _py_pagerank(edges, iterations=5, d=0.85):
    nodes = sorted({n for e in edges for n in e})
    n = len(nodes)
    out: dict[str, list[str]] = {}
    for s, t in set(edges):
        out.setdefault(s, []).append(t)
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        dm = sum(r[v] for v in nodes if v not in out)
        con = {v: 0.0 for v in nodes}
        for s, ts in out.items():
            for t in ts:
                con[t] += r[s] / len(ts)
        r = {
            v: (1.0 - d) / n + d * (con[v] + dm / n)
            for v in nodes
        }
    return {v: round(x, 6) for v, x in r.items()}


def _run(spark, edges):
    df = spark.createDataFrame(edges, ["src", "dst"])
    return {r.node: r.rank for r in pagerank(df).collect()}


def test_pagerank_cycle_is_uniform(spark):
    edges = [("a", "b"), ("b", "a")]
    assert _run(spark, edges) == {"a": 0.5, "b": 0.5}


def test_pagerank_star_with_dangling_hub(spark):
    edges = [("a", "c"), ("b", "c")]
    got = _run(spark, edges)
    assert got == _py_pagerank(edges)
    assert got["c"] > got["a"] == got["b"]
    assert abs(sum(got.values()) - 1.0) < 1e-4


def test_pagerank_chain_and_duplicate_edges(spark):
    # duplicate edges collapse to the distinct edge set
    edges = [("a", "b"), ("a", "b"), ("b", "c"), ("c", "a"), ("d", "a")]
    got = _run(spark, edges)
    assert got == _py_pagerank([("a", "b"), ("b", "c"), ("c", "a"), ("d", "a")])


def test_pagerank_iterations_param(spark, monkeypatch):
    monkeypatch.setattr(pagerank_module, "ITERATIONS", 2)
    edges = [("a", "b"), ("b", "c")]
    assert _run(spark, edges) == _py_pagerank(edges, iterations=2)
    assert _run(spark, edges) != _py_pagerank(edges)
