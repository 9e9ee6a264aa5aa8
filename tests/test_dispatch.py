"""Both arms behind operators/dispatch.py agree on hostile inputs.

`traversal.closure`, the one closure operator, and its callers —
`find_related_entities` and the SPARQL engine's seeded `p+` paths —
run once with the default `DRIVER_MAX_EDGES` (walk arm) and once per
forced bound at and around the edge count, down to 0 (semi-naive
loop).  The graph has a cycle back to the seed, a self-loop, NULL
endpoints, a literal object and an edge under another predicate; the
hostile seeds are a node outside the graph and a literal with no
out-edges.

The full var-var `p+`/`p*` closure runs its walk arm at the default
bound and its semi-naive loop at 0, over a graph with a cycle, a
self-loop, a diamond, a broom, NULL endpoints, duplicate edges, a
literal object and two components; both must equal a brute-force
closure.  The walk arm's job count is pinned on a multi-chain graph,
for the full closure and for a seeded path.

Both arms of `closure` (seeded and not) and of `connected_components`
leave the session's persisted RDDs and CacheManager as they found them.
"""

from __future__ import annotations

import pytest

from rdf_knowledge_extractor_spark.operators import dispatch

X = "http://x/"
P, Q = X + "p", X + "q"
LIT = "a literal"

ROWS = [
    (X + "a", P, X + "b"),
    (X + "b", P, X + "c"),
    (X + "c", P, X + "a"),   # cycle back to the seed a
    (X + "c", P, X + "d"),
    (X + "d", P, X + "d"),   # self-loop
    (X + "d", P, LIT),       # literal object
    (None, P, X + "b"),      # NULL subject
    (X + "b", P, None),      # NULL object
    (X + "e", P, X + "a"),   # reaches a only backwards
    (X + "a", Q, X + "z"),   # other predicate
]
N_P_EDGES = sum(1 for s, p, o in ROWS if p == P and s and o)  # 7


@pytest.fixture(scope="module")
def graph(spark):
    return spark.createDataFrame(
        ROWS, "subject string, predicate string, object string"
    )


def _arms(monkeypatch, run):
    """run() under the default bound, then under bounds forced at and
    just below the edge count and at 0; returns {bound: (result, took
    the driver arm)}."""
    out = {}
    real = dispatch.bounded_collect
    for bound in (dispatch.DRIVER_MAX_EDGES, N_P_EDGES, N_P_EDGES - 1, 0):
        arms = []

        def spy(df, n):
            rows = real(df, n)
            arms.append(rows is not None)
            return rows

        with monkeypatch.context() as m:
            m.setattr(dispatch, "DRIVER_MAX_EDGES", bound)
            m.setattr(dispatch, "bounded_collect", spy)
            result = run()
        assert len(set(arms)) == 1, arms
        out[bound] = (result, arms[0])
    return out


def _closure_arms(spark, graph, monkeypatch, seed, forward, max_hops):
    """{bound: ((reached nodes, rounds, seed), took the walk arm)} of
    `closure` from `seed` over the P edges, forward or transposed."""
    from pyspark.sql import functions as F

    from rdf_knowledge_extractor_spark.operators.traversal import closure

    s, o = F.col("subject"), F.col("object")
    p_edges = graph.where(F.col("predicate") == P)
    edges = p_edges.select(
        (s if forward else o).alias("src"), (o if forward else s).alias("dst")
    )

    def run():
        pairs, stats = closure(edges, seed, max_hops)
        rows = pairs.collect()
        assert {r.src for r in rows} <= {seed}
        return frozenset(r.dst for r in rows), stats["rounds"], stats["seed"]

    got = _arms(monkeypatch, run)
    assert got[dispatch.DRIVER_MAX_EDGES][1] and got[N_P_EDGES][1]
    assert not got[N_P_EDGES - 1][1] and not got[0][1]
    return got


@pytest.mark.parametrize("max_hops", [1, 2, None])
@pytest.mark.parametrize("forward", [True, False])
def test_reachable_arms_agree(spark, graph, monkeypatch, forward, max_hops):
    """The seeded `closure`: both arms reach the same nodes in the
    same rounds."""
    got = _closure_arms(spark, graph, monkeypatch, X + "a", forward, max_hops)
    results = {res for res, _ in got.values()}
    assert len(results) == 1, got
    want = {
        (True, 1): ({"b"}, 1),
        (True, 2): ({"b", "c"}, 2),
        # cycle back to a in round 3; the literal in round 4
        (True, None): ({"b", "c", "a", "d", LIT}, 5),
        (False, 1): ({"c", "e"}, 1),
        (False, 2): ({"c", "e", "b"}, 2),
        (False, None): ({"c", "e", "b", "a"}, 4),
    }[(forward, max_hops)]
    nodes, rounds, seed = results.pop()
    assert nodes == {n if n == LIT else X + n for n in want[0]}
    assert rounds == want[1]
    assert seed == X + "a"


@pytest.mark.parametrize("max_hops", [1, None])
@pytest.mark.parametrize("seed", [X + "nowhere", LIT])
def test_closure_hostile_seeds_arms_agree(spark, graph, monkeypatch, seed, max_hops):
    """A seed outside the graph and a literal with no out-edges: both
    arms reach nothing, after the one empty expansion."""
    got = _closure_arms(spark, graph, monkeypatch, seed, True, max_hops)
    assert {res for res, _ in got.values()} == {(frozenset(), 1, seed)}


@pytest.mark.parametrize("max_depth", [1, 2, 10])
@pytest.mark.parametrize("seed", ["a", "d"])
def test_find_related_entities_arms_agree(spark, graph, monkeypatch, seed, max_depth):
    from rdf_knowledge_extractor_spark.operators.traversal import (
        find_related_entities,
    )

    p_graph = graph.where(graph.predicate == P)

    def run():
        out = find_related_entities(p_graph, X + seed, max_depth=max_depth)
        return frozenset(r.entity for r in out.collect())

    got = _arms(monkeypatch, run)
    results = {res for res, _ in got.values()}
    assert len(results) == 1, got
    related = results.pop()
    # the seed is excluded even though a cycle leads back to it; the
    # literal and NULLs are never entities
    assert X + seed not in related and LIT not in related
    assert None not in related
    if max_depth == 10:
        assert related == {X + n for n in "abcde"} - {X + seed}


@pytest.mark.parametrize(
    "pattern, var, want",
    [
        # p+ includes the seed when a cycle leads back to it
        (f"<{X}a> <{P}>+ ?v", "v", {X + "a", X + "b", X + "c", X + "d", LIT}),
        (f"?v <{P}>+ <{X}a>", "v", {X + "a", X + "b", X + "c", X + "e"}),
    ],
)
def test_seeded_path_arms_agree(spark, graph, monkeypatch, pattern, var, want):
    from rdf_knowledge_extractor_spark.query.sparql import SparqlEngine

    def run():
        eng = SparqlEngine(graph)
        rows = eng.execute(f"SELECT ?{var} WHERE {{ {pattern} }}").collect()
        return frozenset(r[var] for r in rows), eng.last_path_stats["rounds"]

    got = _arms(monkeypatch, run)
    assert got[dispatch.DRIVER_MAX_EDGES][1] and got[N_P_EDGES][1]
    assert not got[N_P_EDGES - 1][1] and not got[0][1]
    results = {res for res, _ in got.values()}
    assert len(results) == 1, got
    assert results.pop()[0] == want


def test_bounded_collect_at_and_around_bound(spark):
    df = spark.range(5).repartition(3)
    assert sorted(r[0] for r in dispatch.bounded_collect(df, 5)) == list(range(5))
    assert len(dispatch.bounded_collect(df, 6)) == 5
    assert dispatch.bounded_collect(df, 4) is None
    assert dispatch.bounded_collect(df, 0) is None
    assert dispatch.bounded_collect(df.limit(0), 0) == []
    # plain tuples equal to collect()'s rows: NULLs stay None (not NaN)
    # in numeric and array columns, arrays come back as lists
    typed = spark.createDataFrame(
        [(1, ["a", None], [1, None]), (None, None, None), (3, [], [])],
        "n long, s array<string>, l array<long>",
    )
    assert sorted(dispatch.bounded_collect(typed, 3), key=repr) == sorted(
        (tuple(r) for r in typed.collect()), key=repr
    )


CLOSURE_ROWS = [
    # component 1: cycle c1 → c2 → c3 → c1, a self-loop on c3, and a
    # diamond c3 → {d1, d2} → d3 ending in a literal
    (X + "c1", P, X + "c2"),
    (X + "c2", P, X + "c3"),
    (X + "c3", P, X + "c1"),
    (X + "c3", P, X + "c3"),
    (X + "c3", P, X + "d1"),
    (X + "c3", P, X + "d2"),
    (X + "d1", P, X + "d3"),
    (X + "d2", P, X + "d3"),
    (X + "d3", P, LIT),
    (X + "d1", P, X + "d3"),  # duplicate edge
    # component 2: a broom — a 3-edge handle, 4 bristles at its end
    *[(X + f"h{i}", P, X + f"h{i + 1}") for i in range(3)],
    *[(X + "h3", P, X + f"b{i}") for i in range(4)],
    (None, P, X + "h0"),     # NULL subject
    (X + "h0", P, None),     # NULL object
    (X + "c1", Q, X + "h0"),  # other predicate joins the components
]


def _brute_closure(edges):
    """≥1-hop pairs of `edges` by repeated composition to a fixpoint."""
    pairs = set(edges)
    while True:
        more = {(a, d) for a, b in pairs for c, d in edges if b == c} - pairs
        if not more:
            return pairs
        pairs |= more


@pytest.mark.parametrize("mod", ["+", "*"])
def test_full_closure_walk_and_seminaive_agree(spark, monkeypatch, mod):
    from rdf_knowledge_extractor_spark.query.sparql import SparqlEngine

    g = spark.createDataFrame(
        CLOSURE_ROWS, "subject string, predicate string, object string"
    )
    q = f"SELECT ?a ?b WHERE {{ ?a <{P}>{mod} ?b }}"

    def run():
        eng = SparqlEngine(g)
        got = {(r.a, r.b) for r in eng.execute(q).collect()}
        return got, eng.last_path_stats

    walked, walk_stats = run()
    with monkeypatch.context() as m:
        m.setattr(dispatch, "DRIVER_MAX_EDGES", 0)
        iterated, seminaive_stats = run()
    assert walk_stats == {"mode": "walk", "seed": None}
    # round k finds the pairs k hops apart; the longest shortest path
    # is c1 → c2 → c3 → d1 → d3 → LIT, so round 6 finds nothing
    assert seminaive_stats == {"mode": "seminaive", "rounds": 6, "seed": None}
    want = _brute_closure({(s, o) for s, p, o in CLOSURE_ROWS if p == P and s and o})
    if mod == "*":
        nodes = {t for s, _, o in CLOSURE_ROWS for t in (s, o)} - {None}
        want |= {(n, n) for n in nodes}
    assert walked == iterated == want


CHAIN_ROWS = [
    (X + f"n{c}_{i}", P, X + f"n{c}_{i + 1}") for c in range(25) for i in range(19)
]


def test_walk_arm_job_count(spark):
    """25 chains of 19 hops: the walk arm's probe and its walk run at
    most 4 jobs, however long the chains are (one round per hop would
    be ~2 jobs each)."""
    from rdf_knowledge_extractor_spark.query.sparql import SparqlEngine

    g = spark.createDataFrame(CHAIN_ROWS, "subject string, predicate string, object string")
    eng = SparqlEngine(g)
    q = f"SELECT ?a ?b WHERE {{ ?a <{P}>+ ?b }}"
    sc = spark.sparkContext
    sc.setJobGroup("walk-arm-jobs", "walk-arm-jobs")
    try:
        n = eng.execute(q).count()
    finally:
        sc.setJobGroup("idle", "idle")
    jobs = len(sc.statusTracker().getJobIdsForGroup("walk-arm-jobs"))
    assert n == 25 * 19 * 20 // 2
    assert eng.last_path_stats == {"mode": "walk", "seed": None}
    assert jobs <= 4, jobs


def test_seeded_walk_arm_job_count(spark):
    """A seeded path `<seed> p+ ?b` on the same chains compiles and
    collects in at most 3 jobs: one collect decides the size and
    fetches the edges, and the walk runs on the driver."""
    from rdf_knowledge_extractor_spark.query.sparql import SparqlEngine

    g = spark.createDataFrame(CHAIN_ROWS, "subject string, predicate string, object string")
    eng = SparqlEngine(g)
    q = f"SELECT ?b WHERE {{ <{X}n0_0> <{P}>+ ?b }}"
    sc = spark.sparkContext
    sc.setJobGroup("seeded-walk-jobs", "seeded-walk-jobs")
    try:
        got = {r.b for r in eng.execute(q).collect()}
    finally:
        sc.setJobGroup("idle", "idle")
    jobs = len(sc.statusTracker().getJobIdsForGroup("seeded-walk-jobs"))
    assert got == {X + f"n0_{i}" for i in range(1, 20)}
    assert eng.last_path_stats == {"mode": "walk", "rounds": 20, "seed": X + "n0_0"}
    assert jobs <= 3, jobs


@pytest.mark.parametrize("bound", ["default", 0])
@pytest.mark.parametrize("op", ["closure", "seeded closure", "components"])
def test_dispatched_operators_release_their_caches(
    spark, graph, monkeypatch, assert_releases, op, bound
):
    from pyspark.sql import functions as F

    from rdf_knowledge_extractor_spark.operators.components import connected_components
    from rdf_knowledge_extractor_spark.operators.traversal import closure

    if bound == 0:
        monkeypatch.setattr(dispatch, "DRIVER_MAX_EDGES", 0)
    edges = graph.where(F.col("predicate") == P).select(
        F.col("subject").alias("src"), F.col("object").alias("dst")
    )
    run = {
        "closure": lambda: closure(edges)[0].count(),
        "seeded closure": lambda: closure(edges, X + "a")[0].count(),
        "components": lambda: connected_components(edges.dropna()).count(),
    }[op]
    assert_releases(run)
