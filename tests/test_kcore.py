"""k-core decomposition: independent min-degree-peeling differential."""

from __future__ import annotations

from collections import defaultdict

import pytest

from rdf_knowledge_extractor_spark.operators import kcore
from rdf_knowledge_extractor_spark.operators.kcore import coreness


def _peel_coreness(pairs):
    """Independent plain-Python coreness by classic min-degree peeling
    (Batagelj-Zaversnik) — a genuinely different algorithm from the
    operator's h-index iteration."""
    adj = defaultdict(set)
    for a, b in pairs:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    deg = {v: len(ns) for v, ns in adj.items()}
    core, k = {}, 0
    live = set(adj)
    while live:
        v = min(live, key=lambda x: (deg[x], x))
        k = max(k, deg[v])
        core[v] = k
        live.discard(v)
        for n in adj[v]:
            if n in live:
                deg[n] -= 1
    return core


CASES = [
    # K4 with a tail: clique coreness 3, tail 1
    [(a, b) for a in range(4) for b in range(4) if a < b] + [(3, 9), (9, 10)],
    # chord ring: every node coreness 2
    [(i, i + 1) for i in range(9)] + [(i, i + 2) for i in range(8)] + [(9, 0), (8, 0), (9, 1)],
    # two triangles joined by a bridge
    [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4)],
    # deterministic pseudo-random graph
    [(i, (i * i + 1) % 23) for i in range(23)]
    + [(i, (3 * i + 5) % 23) for i in range(23)],
]


@pytest.mark.parametrize("pairs", CASES)
def test_coreness_matches_peeling(spark, pairs):
    df = spark.createDataFrame(pairs, ["src", "dst"])
    got = {r.node: r.coreness for r in coreness(df).collect()}
    assert got == _peel_coreness(pairs)


def test_coreness_duplicate_and_reversed_edges(spark):
    df = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 1), (1, 2), (1, 1)], ["src", "dst"]
    )
    got = {r.node: r.coreness for r in coreness(df).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_coreness_raises_when_the_round_bound_is_hit(spark, monkeypatch):
    """A 5-node path needs 3 rounds (degrees 1,2,2,2,1 settle to 1 one
    hop per round); at a bound of 1 the loop stops unconverged and must
    raise, not return the overestimate."""
    monkeypatch.setattr(kcore, "MAX_ITER", 1)
    df = spark.createDataFrame([(i, i + 1) for i in range(4)], ["src", "dst"])
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        coreness(df)
