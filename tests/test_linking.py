"""Entity linking + connected components + canonicalization tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from rdf_knowledge_extractor_spark.operators.canonicalize import canonicalize_triples
from rdf_knowledge_extractor_spark.operators.components import connected_components
from rdf_knowledge_extractor_spark.operators.linking import (
    entity_universe,
    link_entities,
    with_canonical_key,
)

BASE = "http://business.example.org/resource/"
NS = "http://business.example.org/ontology#"


def _triples(spark, rows):
    from rdf_knowledge_extractor_spark.schemas import TRIPLE_SCHEMA

    return spark.createDataFrame(rows, TRIPLE_SCHEMA)


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("z", "z")], "src string, dst string"
    )
    cc = {r.node: r.component for r in connected_components(edges).collect()}
    assert cc["a"] == cc["b"] == cc["c"] == "a"
    assert cc["x"] == cc["y"] == "x"
    assert cc["z"] == "z"


def test_connected_components_chain(spark):
    # path graph: propagation needs several rounds
    nodes = [f"n{i:02d}" for i in range(10)]
    edges = spark.createDataFrame(
        list(zip(nodes, nodes[1:])), "src string, dst string"
    )
    cc = {r.node: r.component for r in connected_components(edges).collect()}
    assert set(cc.values()) == {"n00"}


def test_canonical_key_strips_suffix(spark):
    ents = spark.createDataFrame(
        [
            (BASE + "TechcorpInc",),
            (BASE + "Techcorp",),
            (BASE + "TechcorpGroup",),
            (BASE + "DatasystemsCorp",),
        ],
        "uri string",
    )
    keyed = {r.uri: r.key for r in with_canonical_key(ents).collect()}
    assert keyed[BASE + "TechcorpInc"] == "techcorp"
    assert keyed[BASE + "Techcorp"] == "techcorp"
    assert keyed[BASE + "TechcorpGroup"] == "techcorp"
    assert keyed[BASE + "DatasystemsCorp"] == "datasystems"


def test_link_and_canonicalize_end_to_end(spark):
    rows = [
        (BASE + "TechcorpInc", NS + "hasName", "TechCorp Inc.", 1.0, "d1", {}, 0, 0),
        (BASE + "Techcorp", NS + "locatedIn", "Austin", 1.0, "d2", {}, 1, 0),
        (BASE + "TechcorpInc", NS + "locatedIn", "Austin", 1.0, "d1", {}, 0, 1),
        (BASE + "JohnSmith", NS + "worksFor", BASE + "TechcorpGroup", 1.0, "d3", {}, 2, 0),
        (BASE + "DatasystemsCorp", NS + "hasName", "DataSystems Corp", 1.0, "d4", {}, 3, 0),
    ]
    triples = _triples(spark, rows)
    mapping = link_entities(triples)
    m = {r.uri: r.canonical for r in mapping.collect()}
    # all TechCorp variants merge to one canonical (min uri = …/Techcorp)
    assert m[BASE + "TechcorpInc"] == m[BASE + "Techcorp"] == m[BASE + "TechcorpGroup"]
    canon = m[BASE + "Techcorp"]
    # DataSystems and the person stay separate
    assert m[BASE + "DatasystemsCorp"] != canon
    assert m[BASE + "JohnSmith"] != canon
    assert m[BASE + "JohnSmith"] != m[BASE + "DatasystemsCorp"]

    out = canonicalize_triples(triples, mapping)
    rows_out = out.collect()
    # the two locatedIn Austin rows collapse to one (first wins: d1)
    located = [r for r in rows_out if r.predicate.endswith("locatedIn")]
    assert len(located) == 1 and located[0].subject == canon and located[0].source == "d1"
    # object remap: worksFor object now canonical
    wf = [r for r in rows_out if r.predicate.endswith("worksFor")][0]
    assert wf.object == canon
    # literal objects untouched
    names = {r.object for r in rows_out if r.predicate.endswith("hasName")}
    assert names == {"TechCorp Inc.", "DataSystems Corp"}


def test_canonicalize_keeps_input_column_order(spark):
    """The subject and object joins move their keys to the front; the
    output must still carry the input's columns in the input's order."""
    triples = _triples(
        spark,
        [
            (BASE + "TechcorpInc", NS + "hasName", "TechCorp Inc.", 1.0, "d1", {}, 0, 0),
            (BASE + "JohnSmith", NS + "worksFor", BASE + "Techcorp", 1.0, "d2", {}, 1, 0),
        ],
    )
    mapping = link_entities(triples)
    assert canonicalize_triples(triples, mapping).columns == triples.columns
    shuffled = triples.select(
        "doc_seq", "object", "predicate", "subject",
        "source", "metadata", "confidence", "triple_seq",
    )
    out = canonicalize_triples(shuffled, mapping)
    assert out.columns == shuffled.columns
    assert {r.object for r in out.collect()} == {"TechCorp Inc.", BASE + "Techcorp"}


def test_linking_on_generated_corpus(spark, example_config):
    """Alias mentions in the synthetic corpus must merge: cluster
    assignment = stem rule (same stripped key ⇒ same component)."""
    from rdf_knowledge_extractor_spark.functions.extract import (
        extract_triples_stage,
        split_triples_and_lineage,
    )
    from rdf_knowledge_extractor_spark.sources.pages import pages_dataframe

    pages = pages_dataframe(spark, 40, seed=42)
    extracted = extract_triples_stage(pages, example_config, client_kind="stub")
    triples, _ = split_triples_and_lineage(extracted)
    triples = triples.cache()

    mapping = link_entities(triples)
    ent = with_canonical_key(entity_universe(triples))
    joined = ent.join(mapping, on="uri").select("key", "canonical").distinct().collect()
    by_key: dict[str, set] = {}
    by_canon: dict[str, set] = {}
    for r in joined:
        by_key.setdefault(r.key, set()).add(r.canonical)
        by_canon.setdefault(r.canonical, set()).add(r.key)
    # recall: one component per key
    bad_recall = {k: v for k, v in by_key.items() if len(v) > 1}
    assert not bad_recall, bad_recall
    # precision: one key per component
    bad_precision = {c: v for c, v in by_canon.items() if len(v) > 1}
    assert not bad_precision, bad_precision


def test_star_cc_matches_union_find_and_log_rounds(spark):
    """Large-star/small-star (VERDICT #7): identical labels to the
    driver union-find, converging in O(log n) rounds on a CHAIN (a
    per-hop flood would need n rounds)."""
    import math

    from rdf_knowledge_extractor_spark.operators.components import (
        _components_driver,
        connected_components_star,
    )

    n = 64  # chain n000-n001-...: diameter 63
    chain = [(f"n{i:03d}", f"n{i+1:03d}") for i in range(n - 1)]
    # plus a separate star and an isolated self-loop
    star = [("s_hub", f"s_leaf{i}") for i in range(5)]
    edges = spark.createDataFrame(chain + star + [("iso", "iso")], "src string, dst string")

    labels_star, rounds = connected_components_star(edges, "src", "dst")
    got = {r["node"]: r["component"] for r in labels_star.collect()}
    assert all(got[f"n{i:03d}"] == "n000" for i in range(n))
    assert got["s_hub"] == "s_hub" and got["s_leaf3"] == "s_hub"
    assert got["iso"] == "iso"
    # O(log n) + small constant — a min-label flood would take ~63
    assert rounds <= int(math.log2(n)) + 4, f"took {rounds} rounds"

    uf = {
        r["node"]: r["component"]
        for r in _components_driver(edges, "src", "dst").collect()
    }
    assert uf == got


def test_cc_dispatcher_small_and_shapes(spark):
    from rdf_knowledge_extractor_spark.operators.components import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y")], "src string, dst string"
    )
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def _bruteforce_mapping(triples):
    """uri → canonical by pairwise Jaccard ≥ 0.85 over every non-NULL
    entity's shingle set and a naive union-find, min URI as label."""
    import itertools

    ents = with_canonical_key(entity_universe(triples)).collect()
    sh = {r.uri: set(r.shingles) for r in ents if r.uri is not None}

    def jac(a, b):
        i = len(sh[a] & sh[b])
        return i / (len(sh[a]) + len(sh[b]) - i)

    parent = {u: u for u in sh}

    def find(u):
        while parent[u] != u:
            u = parent[u]
        return u

    for a, b in itertools.combinations(sorted(sh), 2):
        if jac(a, b) >= 0.85:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    return {u: find(u) for u in sh}, jac


def _link_both_arms(triples, monkeypatch, bounds=(0, 10**9)):
    """link_entities' mapping with dispatch.DRIVER_MAX_EDGES patched to
    each bound, and which arm gave it."""
    from rdf_knowledge_extractor_spark.operators import dispatch
    from rdf_knowledge_extractor_spark.operators import linking as L

    arms = []
    real = L._link_driver

    def spy(*args):
        out = real(*args)
        arms.append("driver" if out is not None else "budget")
        return out

    monkeypatch.setattr(L, "_link_driver", spy)
    got = {}
    for bound in bounds:
        monkeypatch.setattr(dispatch, "DRIVER_MAX_EDGES", bound)
        got[bound] = {r.uri: r.canonical for r in L.link_entities(triples).collect()}
    monkeypatch.undo()
    return got, arms


def test_link_arms_match_bruteforce_on_hostile_universe(spark, monkeypatch):
    """Both arms of link_entities (distributed with DRIVER_MAX_EDGES
    forced to 0, driver with it at 10⁹) give the mapping of a
    brute-force pairwise Jaccard ≥ 0.85 + union-find over every entity,
    on a universe sitting on each edge of that rule."""
    fwd = "abcdefghijklmnopqrstuvwxyz0123456789"
    rev = fwd[::-1]  # no 3-gram in common with fwd
    names = [
        # keys shorter than 3 characters: one-element shingle sets,
        # including the empty key of a bare trailing slash
        "AB", "Ab", "a-b", "X", "x", "A1", "--", "__", "",
        # a suffix stripped to a stem under 3 chars keeps the full key
        "aInc", "ainc",
        # corporate-suffix variants, a non-boundary "Labs", a fragment
        "TechcorpInc", "Techcorp", "TechcorpGroup", "Techcorp-Labs", "ns#Techcorp",
        # typo pair: J = 8/9
        "Datasystems", "Datasystem",
        # J(person1, person17) = 5/6 < 0.85
        "person1", "person17",
        # J = 17/20, exactly the threshold
        rev[0:21], rev[2:22],
        # chain: J(c0, c1) = J(c1, c2) = 26/30, J(c0, c2) = 24/32
        fwd[0:30], fwd[2:32], fwd[4:34],
    ]
    rows = [
        (BASE + n, NS + "hasName", "x", 1.0, f"d{i}", {}, i, 0)
        for i, n in enumerate(names)
    ]
    rows.append((BASE + "person1", NS + "worksFor", BASE + "Datasystem", 1.0, "d", {}, 99, 0))
    triples = _triples(spark, rows)

    expected, jac = _bruteforce_mapping(triples)
    assert jac(BASE + rev[0:21], BASE + rev[2:22]) == 0.85
    assert jac(BASE + fwd[0:30], BASE + fwd[4:34]) < 0.85
    assert expected[BASE + fwd[4:34]] == BASE + fwd[0:30]
    assert expected[BASE + "person17"] == BASE + "person17"

    got, arms = _link_both_arms(triples, monkeypatch)
    assert arms == ["driver"]
    assert got[0] == got[10**9] == expected


def test_link_hot_gram_trips_pair_budget(spark, monkeypatch):
    """A hot-gram universe: every key is a run of 'a's, so every
    shingle set is {'aaa'} and that one gram is every entity's whole
    prefix — C(n, 2) candidate pairs from one posting.  With the bound
    at the entity count the universe is collected, the pair budget
    trips, and the distributed arm answers; with a large bound the
    driver arm pairs the posting itself.  Both equal the brute force."""
    names = ["a" * k for k in range(3, 33)] + ["AAA", "aaaInc", "AaaaGroup"]
    rows = [
        (BASE + n, NS + "hasName", "x", 1.0, f"d{i}", {}, i, 0)
        for i, n in enumerate(names)
    ]
    triples = _triples(spark, rows)
    expected, _ = _bruteforce_mapping(triples)
    assert set(expected.values()) == {BASE + "AAA"}

    n_ent = len(names)
    got, arms = _link_both_arms(triples, monkeypatch, bounds=(n_ent, 10**9))
    # 30 representatives share one posting: 435 pairs > n_ent
    assert arms == ["budget", "driver"]
    assert got[n_ent] == got[10**9] == expected


def test_link_arms_agree_on_null_subjects(spark, monkeypatch):
    """A NULL subject is no entity: neither arm gives it a mapping row,
    and two of them (which the driver arm must not compare with a
    string) leave every other row as the brute force has it."""
    from pyspark.sql import types as T

    from rdf_knowledge_extractor_spark.schemas import TRIPLE_SCHEMA

    schema = T.StructType(
        [T.StructField("subject", T.StringType(), True), *TRIPLE_SCHEMA.fields[1:]]
    )
    rows = [
        (None, NS + "hasName", "x", 1.0, "d0", {}, 0, 0),
        (BASE + "TechcorpInc", NS + "worksFor", BASE + "Techcorp", 1.0, "d1", {}, 1, 0),
        (None, NS + "worksFor", BASE + "Datasystems", 1.0, "d2", {}, 2, 0),
        (BASE + "Datasystem", NS + "hasName", "y", 1.0, "d3", {}, 3, 0),
    ]
    triples = spark.createDataFrame(rows, schema)
    expected, _ = _bruteforce_mapping(triples)
    assert expected == {
        BASE + "TechcorpInc": BASE + "Techcorp",
        BASE + "Techcorp": BASE + "Techcorp",
        BASE + "Datasystems": BASE + "Datasystem",
        BASE + "Datasystem": BASE + "Datasystem",
    }
    got, arms = _link_both_arms(triples, monkeypatch)
    assert arms == ["driver"]
    assert got[0] == got[10**9] == expected


def test_star_labels_do_not_rerun_the_edge_plan(spark, monkeypatch):
    """The distributed components arm materializes its labels before it
    releases the caches under them: reading the returned labels calls
    no function of the edge plan again."""
    from pyspark.sql import types as T

    from rdf_knowledge_extractor_spark.operators import dispatch

    calls = spark.sparkContext.accumulator(0)

    @F.udf(T.StringType())
    def counted(x):
        calls.add(1)
        return x

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("z", "z")], "src string, dst string"
    ).select(counted("src").alias("src"), "dst")
    monkeypatch.setattr(dispatch, "DRIVER_MAX_EDGES", 0)
    labels = connected_components(edges)
    before = calls.value
    assert before > 0
    got = {r.node: r.component for r in labels.collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "z": "z"}
    assert calls.value == before


def test_distributed_link_releases_its_caches(spark, monkeypatch, assert_releases):
    """The distributed arm owns what it persists (the representatives and
    the posting aggregate): after each of three links, with every result
    dropped, the session is back at its baseline."""
    from rdf_knowledge_extractor_spark.operators import dispatch

    monkeypatch.setattr(dispatch, "DRIVER_MAX_EDGES", 0)
    rows = [
        (BASE + f"{stem}{suffix}", NS + "hasName", "x", 1.0, f"d{i}", {}, i, 0)
        for i, (stem, suffix) in enumerate(
            (stem, suffix)
            for stem in ("Techcorp", "Datasystems", "Datasystem", "Acme", "person1")
            for suffix in ("", "Inc", "Group", "Labs")
        )
    ]
    triples = _triples(spark, rows)

    def run():
        assert link_entities(triples).count() == len(rows)

    assert_releases(run, times=3)
