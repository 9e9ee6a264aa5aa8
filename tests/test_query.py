"""Query layer tests: faithful reference dispatcher + real mini-SPARQL."""

from __future__ import annotations

import pytest

from rdf_knowledge_extractor_spark.query.sparql import (
    SparqlError,
    execute_simple_sparql,
    execute_sparql,
)

NS = "http://sales.intelligence.org/ontology#"
R = "http://sales.intelligence.org/resource/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


@pytest.fixture(scope="module")
def graph(spark):
    rows = [
        (R + "Acme", RDF_TYPE, NS + "Organization"),
        (R + "Acme", NS + "hasName", "Acme Corp"),
        (R + "Acme", NS + "hasPriorityScore", "90"),
        (R + "Beta", RDF_TYPE, NS + "Organization"),
        (R + "Beta", NS + "hasName", "Beta Inc"),
        (R + "Beta", NS + "hasPriorityScore", "75"),
        (R + "Beta", NS + "hasRevenue", "$10M"),
        (R + "Jane", NS + "hasRole", "CEO"),
        (R + "Jane", NS + "worksFor", R + "Acme"),
    ]
    return spark.createDataFrame(rows, "subject string, predicate string, object string")


# -- faithful dispatcher (ref:src/knowledge_graph/mod.rs:116-166) --

def test_simple_name_pattern(graph):
    out = execute_simple_sparql(graph, "SELECT ?name WHERE { ?e hasName ?name }")
    rows = {(r.name, r.entity) for r in out.collect()}
    assert rows == {("Acme Corp", R + "Acme"), ("Beta Inc", R + "Beta")}
    assert out.columns == ["name", "entity"]


def test_simple_role_pattern(graph):
    out = execute_simple_sparql(graph, "select ?role where { ?p hasRole ?role }")
    assert [(r.role, r.person) for r in out.collect()] == [("CEO", R + "Jane")]


def test_simple_fallback_dump(graph):
    out = execute_simple_sparql(graph, "SELECT ?s WHERE { ?s ?p ?o }")
    assert out.count() == graph.count()
    assert out.columns == ["subject", "predicate", "object"]


def test_simple_rejects_non_select(graph):
    with pytest.raises(SparqlError):
        execute_simple_sparql(graph, "ASK { ?s ?p ?o }")


# -- real mini-SPARQL engine --

def test_bgp_join(graph):
    q = f"""
    PREFIX sales: <{NS}>
    SELECT ?name ?score WHERE {{
      ?c a sales:Organization ;
         sales:hasName ?name ;
         sales:hasPriorityScore ?score .
    }}
    ORDER BY DESC(?score)
    LIMIT 5
    """
    out = execute_sparql(graph, q)
    assert [(r.name, r.score) for r in out.collect()] == [
        ("Acme Corp", "90"),
        ("Beta Inc", "75"),
    ]


def test_optional(graph):
    q = f"""
    PREFIX sales: <{NS}>
    SELECT ?name ?revenue WHERE {{
      ?c sales:hasName ?name .
      OPTIONAL {{ ?c sales:hasRevenue ?revenue }}
    }}
    ORDER BY ?name
    """
    rows = [(r.name, r.revenue) for r in execute_sparql(graph, q).collect()]
    assert rows == [("Acme Corp", None), ("Beta Inc", "$10M")]


def test_join_across_entities(graph):
    q = f"""
    PREFIX sales: <{NS}>
    SELECT ?role ?orgname WHERE {{
      ?p sales:hasRole ?role ;
         sales:worksFor ?org .
      ?org sales:hasName ?orgname .
    }}
    """
    assert [(r.role, r.orgname) for r in execute_sparql(graph, q).collect()] == [
        ("CEO", "Acme Corp")
    ]


def test_literal_constant(graph):
    q = f'PREFIX s: <{NS}> SELECT ?e WHERE {{ ?e s:hasName "Acme Corp" }}'
    assert [r.e for r in execute_sparql(graph, q).collect()] == [R + "Acme"]


def test_select_star(graph):
    q = f"PREFIX s: <{NS}> SELECT * WHERE {{ ?e s:hasRole ?r }}"
    out = execute_sparql(graph, q)
    assert sorted(out.columns) == ["e", "r"]


def test_fallback_on_unparsable(graph):
    # parses as SELECT but the body isn't our subset → falls back to the
    # reference dispatcher (name pattern)
    out = execute_sparql(graph, "SELECT ?name WHERE { FILTER(?name) hasName }")
    assert out.columns == ["name", "entity"]


def test_sparql_fallback_only_for_loose_queries(spark):
    """A real-engine query (PREFIX/IRIs) with an unsupported feature
    must raise, not silently dump the whole graph (ADVICE fix)."""
    import pytest

    from rdf_knowledge_extractor_spark.query.sparql import (
        SparqlError,
        execute_sparql,
    )
    from rdf_knowledge_extractor_spark.schemas import TRIPLE_SCHEMA

    graph = spark.createDataFrame(
        [("http://e/s", "http://e/hasName", "Acme", 1.0, None, {}, 0, 0)],
        TRIPLE_SCHEMA,
    )
    # loose reference-style query → fallback dispatcher is fine
    rows = execute_sparql(graph, "SELECT ?name WHERE { ?e hasName ?name }").collect()
    assert rows[0]["name"] == "Acme"

    # prefixed query using an unsupported feature → propagate the error
    with pytest.raises(SparqlError):
        execute_sparql(
            graph,
            "PREFIX biz: <http://e/>\n"
            "SELECT ?s WHERE { SERVICE <http://remote/sparql> { ?s biz:hasName ?n } }",
        )
    # IRI-bearing query with a syntax error → propagate too
    with pytest.raises(SparqlError):
        execute_sparql(graph, "SELECT ?s WHERE { ?s <http://e/hasName ?n }")


def _filter_graph(spark):
    from rdf_knowledge_extractor_spark.schemas import TRIPLE_SCHEMA

    ns = "http://biz.example.org/ontology#"
    rows = [
        ("http://e/a", ns + "partneredWith", "http://e/b", 1.0, None, {}, 0, 0),
        ("http://e/b", ns + "foundedBy", "http://e/p1", 1.0, None, {}, 0, 1),
        ("http://e/c", ns + "hasName", "Acme Corp", 1.0, None, {}, 0, 2),
        ("http://e/c", ns + "hasScore", "85", 1.0, None, {}, 0, 3),
        ("http://e/d", ns + "hasScore", "42", 1.0, None, {}, 0, 4),
        ("http://e/e", ns + "hasScore", "not-a-number", 1.0, None, {}, 0, 5),
    ]
    return spark.createDataFrame(rows, TRIPLE_SCHEMA), ns


def test_filter_disjunction_on_predicates(spark):
    """The reference's generated executive_summary template query
    (ref:src/main.rs:905-917) runs on the REAL engine now."""
    from rdf_knowledge_extractor_spark.query.sparql import execute_sparql

    graph, ns = _filter_graph(spark)
    q = f"""
    PREFIX biz: <{ns}>
    SELECT ?subject ?predicate ?object WHERE {{
      ?subject ?predicate ?object .
      FILTER(
        ?predicate = biz:partneredWith ||
        ?predicate = biz:foundedBy ||
        ?predicate = biz:ceoOf
      )
    }}
    """
    rows = {(r.subject, r.predicate) for r in execute_sparql(graph, q).collect()}
    assert rows == {
        ("http://e/a", ns + "partneredWith"),
        ("http://e/b", ns + "foundedBy"),
    }


def test_filter_numeric_comparison_and_try_cast(spark):
    from rdf_knowledge_extractor_spark.query.sparql import execute_sparql

    graph, ns = _filter_graph(spark)
    q = f"""
    PREFIX biz: <{ns}>
    SELECT ?s ?score WHERE {{
      ?s biz:hasScore ?score .
      FILTER(?score > 50)
    }}
    ORDER BY DESC(?score) LIMIT 5
    """
    rows = [(r.s, r.score) for r in execute_sparql(graph, q).collect()]
    # non-numeric score rows drop out via try_cast NULL, no ANSI error
    assert rows == [("http://e/c", "85")]


def test_filter_functions_and_negation(spark):
    from rdf_knowledge_extractor_spark.query.sparql import execute_sparql

    graph, ns = _filter_graph(spark)
    q = f"""
    PREFIX biz: <{ns}>
    SELECT ?s ?name WHERE {{
      ?s biz:hasName ?name .
      FILTER(CONTAINS(?name, "Acme") && !STRSTARTS(?name, "Beta") && REGEX(?name, "corp", "i"))
    }}
    """
    rows = [r.name for r in execute_sparql(graph, q).collect()]
    assert rows == ["Acme Corp"]


def test_filter_unbound_var_raises(spark):
    import pytest

    from rdf_knowledge_extractor_spark.query.sparql import (
        SparqlError,
        execute_sparql,
    )

    graph, ns = _filter_graph(spark)
    q = f"""
    PREFIX biz: <{ns}>
    SELECT ?s WHERE {{ ?s biz:hasName ?n . FILTER(?missing = "x") }}
    """
    with pytest.raises(SparqlError, match="unbound"):
        execute_sparql(graph, q)


def test_generated_templates_run_on_real_engine(spark, tmp_path):
    """The two templates generate-templates writes must execute on the
    real engine end-to-end (OPTIONAL + FILTER coverage)."""
    from rdf_knowledge_extractor_spark.templates.engine import TemplateManager
    from rdf_knowledge_extractor_spark.cli import cmd_generate_templates

    class A:
        output_dir = str(tmp_path)

    cmd_generate_templates(A)
    graph, ns = _filter_graph(spark)
    # the templates use prefix biz: without declaring it; register via
    # a PREFIX-carrying override is the caller's job — rewrite inline
    import yaml

    for f in ("company_report.yaml", "executive_summary.yaml"):
        spec = yaml.safe_load((tmp_path / f).read_text())
        mgr = TemplateManager(graph)
        for dq in spec["data_queries"]:
            q = "PREFIX biz: <" + ns + ">\n" + dq["sparql_query"]
            from rdf_knowledge_extractor_spark.query.sparql import execute_sparql

            df = execute_sparql(graph, q)
            assert df.count() >= 0  # executes without error


# -- round-3 extensions: UNION / aggregates / DISTINCT / EXISTS / OFFSET --

def test_sparql_union_same_var(graph):
    q = f"""PREFIX kg: <{NS}>
    SELECT ?v WHERE {{ {{ ?e kg:hasRole ?v }} UNION {{ ?e kg:hasRevenue ?v }} }}"""
    assert sorted(r.v for r in execute_sparql(graph, q).collect()) == ["$10M", "CEO"]


def test_sparql_union_disjoint_vars_null_padded(graph):
    q = f"""PREFIX kg: <{NS}>
    SELECT ?r ?n WHERE {{ {{ ?e kg:hasRole ?r }} UNION {{ ?e kg:hasName ?n }} }}"""
    rows = {(r.r, r.n) for r in execute_sparql(graph, q).collect()}
    assert rows == {("CEO", None), (None, "Acme Corp"), (None, "Beta Inc")}


def test_sparql_group_by_count(graph):
    q = """SELECT ?p (COUNT(*) AS ?n) WHERE { ?s ?p ?o } GROUP BY ?p"""
    got = {r.p: r.n for r in execute_sparql(graph, q).collect()}
    assert got[NS + "hasName"] == 2
    assert got[RDF_TYPE] == 2
    assert got[NS + "hasRole"] == 1
    assert len(got) == 6


def test_sparql_global_aggregates(graph):
    q = f"""PREFIX kg: <{NS}>
    SELECT (COUNT(*) AS ?n) (MIN(?s) AS ?lo) (MAX(?s) AS ?hi) (SUM(?s) AS ?total)
    WHERE {{ ?e kg:hasPriorityScore ?s }}"""
    row = execute_sparql(graph, q).collect()[0]
    assert (row.n, row.lo, row.hi, row.total) == (2, "75", "90", 165.0)


def test_sparql_count_distinct(graph):
    q = """SELECT (COUNT(DISTINCT ?p) AS ?np) WHERE { ?s ?p ?o }"""
    assert execute_sparql(graph, q).collect()[0].np == 6


def test_sparql_having(graph):
    q = """SELECT ?p (COUNT(*) AS ?n) WHERE { ?s ?p ?o }
           GROUP BY ?p HAVING (?n >= 2)"""
    got = {r.p for r in execute_sparql(graph, q).collect()}
    assert got == {NS + "hasName", NS + "hasPriorityScore", RDF_TYPE}


def test_sparql_select_distinct(graph):
    q = """SELECT DISTINCT ?t WHERE { ?e a ?t }"""
    assert [r.t for r in execute_sparql(graph, q).collect()] == [NS + "Organization"]


def test_sparql_filter_not_exists(graph):
    q = f"""PREFIX kg: <{NS}>
    SELECT ?name WHERE {{
      ?e kg:hasName ?name .
      FILTER NOT EXISTS {{ ?e kg:hasRevenue ?x }}
    }}"""
    assert [r.name for r in execute_sparql(graph, q).collect()] == ["Acme Corp"]


def test_sparql_filter_exists(graph):
    q = f"""PREFIX kg: <{NS}>
    SELECT ?name WHERE {{
      ?e kg:hasName ?name .
      FILTER EXISTS {{ ?e kg:hasRevenue ?x }}
    }}"""
    assert [r.name for r in execute_sparql(graph, q).collect()] == ["Beta Inc"]


def test_sparql_exists_plan_uses_semi_anti_join(graph):
    from rdf_knowledge_extractor_spark.query.sparql import SparqlEngine

    q = f"""PREFIX kg: <{NS}>
    SELECT ?name WHERE {{
      ?e kg:hasName ?name . FILTER NOT EXISTS {{ ?e kg:hasRevenue ?x }} }}"""
    plan = SparqlEngine(graph).execute(q)._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftAnti" in plan


def test_sparql_order_offset_limit(graph):
    q = f"""PREFIX kg: <{NS}>
    SELECT ?name WHERE {{ ?e kg:hasName ?name }} ORDER BY ?name OFFSET 1 LIMIT 1"""
    assert [r.name for r in execute_sparql(graph, q).collect()] == ["Beta Inc"]


def test_sparql_agg_projected_var_must_be_grouped(graph):
    from rdf_knowledge_extractor_spark.query.sparql import SparqlEngine

    # engine direct: execute_sparql's loose-query fallback would mask
    # the parse error for this PREFIX-less query
    with pytest.raises(SparqlError, match="grouped"):
        SparqlEngine(graph).execute(
            "SELECT ?s (COUNT(*) AS ?n) WHERE { ?s ?p ?o } GROUP BY ?p"
        )


def test_sparql_exists_requires_shared_vars(graph):
    with pytest.raises(SparqlError, match="shares no variables"):
        execute_sparql(
            graph,
            f"""PREFIX kg: <{NS}>
            SELECT ?name WHERE {{
              ?e kg:hasName ?name . FILTER EXISTS {{ ?z kg:hasRevenue ?x }} }}""",
        )


def test_sparql_construct_basic(graph):
    q = f"""PREFIX kg: <{NS}>
    CONSTRUCT {{ ?e kg:label ?name . ?e kg:kind <{NS}Org> }}
    WHERE {{ ?e kg:hasName ?name }}"""
    rows = {(r.subject, r.predicate, r.object) for r in execute_sparql(graph, q).collect()}
    assert rows == {
        (R + "Acme", NS + "label", "Acme Corp"),
        (R + "Beta", NS + "label", "Beta Inc"),
        (R + "Acme", NS + "kind", NS + "Org"),
        (R + "Beta", NS + "kind", NS + "Org"),
    }


def test_sparql_construct_unbound_optional_dropped(graph):
    # revenue is OPTIONAL and only Beta has one: Acme's revenue triple
    # instantiation is unbound → omitted (SPARQL CONSTRUCT semantics)
    q = f"""PREFIX kg: <{NS}>
    CONSTRUCT {{ ?e kg:rev ?r }}
    WHERE {{ ?e kg:hasName ?n . OPTIONAL {{ ?e kg:hasRevenue ?r }} }}"""
    rows = [(r.subject, r.object) for r in execute_sparql(graph, q).collect()]
    assert rows == [(R + "Beta", "$10M")]


def test_sparql_construct_is_a_set(graph):
    # two bindings instantiate the SAME constant triple → one row
    q = f"""PREFIX kg: <{NS}>
    CONSTRUCT {{ <{R}All> kg:exists "y" }} WHERE {{ ?e kg:hasName ?n }}"""
    assert execute_sparql(graph, q).count() == 1


def test_sparql_construct_template_rejects_filters(graph):
    with pytest.raises(SparqlError, match="template"):
        execute_sparql(
            graph,
            f"""PREFIX kg: <{NS}>
            CONSTRUCT {{ ?e kg:x ?n . FILTER(?n = "y") }} WHERE {{ ?e kg:hasName ?n }}""",
        )


# -- property paths ------------------------------------------------------

def test_sparql_path_sequence(graph):
    # Jane --worksFor--> Acme --hasName--> "Acme Corp"
    q = f"""PREFIX kg: <{NS}>
    SELECT ?who ?org WHERE {{ ?who kg:worksFor/kg:hasName ?org }}"""
    assert [(r.who, r.org) for r in execute_sparql(graph, q).collect()] == [
        (R + "Jane", "Acme Corp")
    ]


def test_sparql_path_inverse(graph):
    q = f"""PREFIX kg: <{NS}>
    SELECT ?org WHERE {{ <{R}Jane> kg:worksFor ?org }}"""
    fwd = [r.org for r in execute_sparql(graph, q).collect()]
    q_inv = f"""PREFIX kg: <{NS}>
    SELECT ?who WHERE {{ <{R}Acme> ^kg:worksFor ?who }}"""
    inv = [r.who for r in execute_sparql(graph, q_inv).collect()]
    assert fwd == [R + "Acme"] and inv == [R + "Jane"]


def test_sparql_path_alternative(graph):
    q = f"""PREFIX kg: <{NS}>
    SELECT ?v WHERE {{ <{R}Beta> (kg:hasName|kg:hasRevenue) ?v }}"""
    assert sorted(r.v for r in execute_sparql(graph, q).collect()) == [
        "$10M", "Beta Inc"
    ]


def test_sparql_path_inverse_then_seq(graph):
    # name of anyone working for the org named by ?org: Acme's worker's role
    q = f"""PREFIX kg: <{NS}>
    SELECT ?role WHERE {{ <{R}Acme> ^kg:worksFor/kg:hasRole ?role }}"""
    assert [r.role for r in execute_sparql(graph, q).collect()] == ["CEO"]


def test_sparql_path_joins_with_plain_patterns(graph):
    q = f"""PREFIX kg: <{NS}>
    SELECT ?who ?score WHERE {{
      ?who kg:worksFor/kg:hasPriorityScore ?score .
      ?who kg:hasRole "CEO" .
    }}"""
    assert [(r.who, r.score) for r in execute_sparql(graph, q).collect()] == [
        (R + "Jane", "90")
    ]


def test_sparql_construct_rejects_paths_in_template(graph):
    with pytest.raises(SparqlError, match="property paths"):
        execute_sparql(
            graph,
            f"""PREFIX kg: <{NS}>
            CONSTRUCT {{ ?a kg:x/kg:y ?b }} WHERE {{ ?a kg:hasName ?b }}""",
        )


# -- round-4: compatible-mapping joins (UNION/OPTIONAL NULL keys) --------

@pytest.fixture(scope="module")
def compat_graph(spark):
    """Tiny graph for compatible-mapping join semantics (round-3 advice:
    NULL-padded union vars natural-joined with later patterns silently
    dropped solutions SPARQL keeps)."""
    rows = [
        ("urn:s1", NS + "p1", "urn:x1"),
        ("urn:s2", NS + "p2", "urn:y2"),
        ("urn:x1", NS + "p3", "urn:z1"),
    ]
    return spark.createDataFrame(rows, "subject string, predicate string, object string")


def test_sparql_union_branch_var_joins_later_pattern(compat_graph):
    # The advisor's live repro: the ?y branch binds no ?x, so its
    # solutions are compatible with EVERY {?x p3 ?z} solution; the old
    # equi-join on NULL ?x dropped them (1 row instead of 2).
    q = f"""PREFIX kg: <{NS}>
    SELECT ?s ?x ?y ?z WHERE {{
      {{ ?s kg:p1 ?x }} UNION {{ ?s kg:p2 ?y }} .
      ?x kg:p3 ?z
    }}"""
    rows = {(r.s, r.x, r.y, r.z) for r in execute_sparql(compat_graph, q).collect()}
    assert rows == {
        ("urn:s1", "urn:x1", None, "urn:z1"),
        ("urn:s2", "urn:x1", "urn:y2", "urn:z1"),
    }


@pytest.fixture(scope="module")
def compat_graph2(spark):
    rows = [
        ("urn:s1", NS + "p1", "urn:x1"),
        ("urn:s2", NS + "p2", "urn:y2"),
        ("urn:t1", NS + "p3", "urn:x1"),
        ("urn:t2", NS + "p3", "urn:x9"),
        ("urn:t3", NS + "p4", "urn:w3"),
    ]
    return spark.createDataFrame(rows, "subject string, predicate string, object string")


def test_sparql_union_join_union_compatibility(compat_graph2):
    # Both sides of the join carry maybe-null vars: ?x is bound by only
    # one branch of EACH union.  Exercises the isnull-or-equal residual
    # condition + coalesce path (not just join-over-union distribution).
    q = f"""PREFIX kg: <{NS}>
    SELECT ?s ?x ?y ?t ?w WHERE {{
      {{ ?s kg:p1 ?x }} UNION {{ ?s kg:p2 ?y }} .
      {{ ?t kg:p3 ?x }} UNION {{ ?t kg:p4 ?w }}
    }}"""
    rows = {
        (r.s, r.x, r.y, r.t, r.w)
        for r in execute_sparql(compat_graph2, q).collect()
    }
    assert rows == {
        ("urn:s1", "urn:x1", None, "urn:t1", None),
        ("urn:s1", "urn:x1", None, "urn:t3", "urn:w3"),
        ("urn:s2", "urn:x1", "urn:y2", "urn:t1", None),
        ("urn:s2", "urn:x9", "urn:y2", "urn:t2", None),
        ("urn:s2", None, "urn:y2", "urn:t3", "urn:w3"),
    }


def test_sparql_optional_var_joins_later_union(compat_graph):
    # OPTIONAL-introduced maybe-null var meeting a subsequent pattern
    # via a union branch: same compatibility rule, left-join flavor.
    q = f"""PREFIX kg: <{NS}>
    SELECT ?s ?x ?z WHERE {{
      ?s kg:p1 ?x .
      OPTIONAL {{ ?x kg:p3 ?z }}
    }}"""
    rows = {(r.s, r.x, r.z) for r in execute_sparql(compat_graph, q).collect()}
    assert rows == {("urn:s1", "urn:x1", "urn:z1")}


def test_sparql_group_by_without_aggregate(graph):
    # round-3 advice: used to crash with a raw PySpark AssertionError
    q = """SELECT ?p WHERE { ?s ?p ?o } GROUP BY ?p"""
    from rdf_knowledge_extractor_spark.query.sparql import SparqlEngine

    out = SparqlEngine(graph).execute(q)
    assert out.columns == ["p"]
    assert out.count() == 6


def test_sparql_group_by_without_aggregate_projection_checked(graph):
    from rdf_knowledge_extractor_spark.query.sparql import SparqlEngine

    with pytest.raises(SparqlError, match="grouped"):
        SparqlEngine(graph).execute(
            "SELECT ?s WHERE { ?s ?p ?o } GROUP BY ?p"
        )


def test_sparql_group_by_subset_projection_keeps_cardinality(graph):
    # round-4 advice: projecting a strict subset of the grouping keys
    # must NOT collapse groups — one output row per (?p, ?s) group.
    from rdf_knowledge_extractor_spark.query.sparql import SparqlEngine

    q = """SELECT ?p WHERE { ?s ?p ?o } GROUP BY ?p ?s"""
    out = SparqlEngine(graph).execute(q)
    assert out.columns == ["p"]
    full = SparqlEngine(graph).execute(
        "SELECT ?p ?s WHERE { ?s ?p ?o } GROUP BY ?p ?s"
    )
    assert out.count() == full.count() == 9


def test_sparql_group_by_having_on_unprojected_key(graph):
    # HAVING may reference grouping vars absent from the projection.
    from rdf_knowledge_extractor_spark.query.sparql import SparqlEngine

    q = f"""PREFIX sales: <{NS}>
    SELECT ?p WHERE {{ ?s ?p ?o }} GROUP BY ?p ?s
    HAVING (?s = <{R}Jane>)"""
    out = SparqlEngine(graph).execute(q)
    rows = sorted(r.p for r in out.collect())
    assert rows == [NS + "hasRole", NS + "worksFor"]


def test_sparql_optional_disjoint_vars_keeps_left(graph):
    # round-4 advice (medium): OPTIONAL sharing no vars with the left
    # group must keep every left row when the optional side is empty
    # (SPARQL LeftJoin), not cross-join it away.
    q = f"""PREFIX sales: <{NS}>
    SELECT ?name ?r WHERE {{
      ?e sales:hasName ?name .
      OPTIONAL {{ ?x sales:noSuchPredicate ?r }}
    }}"""
    rows = {(r.name, r.r) for r in execute_sparql(graph, q).collect()}
    assert rows == {("Acme Corp", None), ("Beta Inc", None)}


def test_sparql_optional_disjoint_vars_nonempty_right(graph):
    # ... and when the optional side is non-empty, each left row pairs
    # with each optional solution (the cross-product LeftJoin case).
    q = f"""PREFIX sales: <{NS}>
    SELECT ?name ?role WHERE {{
      ?e sales:hasName ?name .
      OPTIONAL {{ ?x sales:hasRole ?role }}
    }}"""
    rows = {(r.name, r.role) for r in execute_sparql(graph, q).collect()}
    assert rows == {("Acme Corp", "CEO"), ("Beta Inc", "CEO")}


# -- round-4: transitive property paths ---------------------------------

@pytest.fixture(scope="module")
def chain_graph(spark):
    """a→b→c→d chain plus a disconnected e→f edge."""
    rows = [
        ("urn:a", NS + "next", "urn:b"),
        ("urn:b", NS + "next", "urn:c"),
        ("urn:c", NS + "next", "urn:d"),
        ("urn:e", NS + "next", "urn:f"),
    ]
    return spark.createDataFrame(rows, "subject string, predicate string, object string")


def test_sparql_path_plus(chain_graph):
    q = f"""PREFIX kg: <{NS}>
    SELECT ?a ?b WHERE {{ ?a kg:next+ ?b }}"""
    rows = {(r.a, r.b) for r in execute_sparql(chain_graph, q).collect()}
    assert rows == {
        ("urn:a", "urn:b"), ("urn:a", "urn:c"), ("urn:a", "urn:d"),
        ("urn:b", "urn:c"), ("urn:b", "urn:d"),
        ("urn:c", "urn:d"),
        ("urn:e", "urn:f"),
    }


def test_sparql_path_star_includes_zero_length(chain_graph):
    q = f"""PREFIX kg: <{NS}>
    SELECT ?a ?b WHERE {{ ?a kg:next* ?b }}"""
    rows = {(r.a, r.b) for r in execute_sparql(chain_graph, q).collect()}
    nodes = {"urn:a", "urn:b", "urn:c", "urn:d", "urn:e", "urn:f"}
    expected = {(n, n) for n in nodes} | {
        ("urn:a", "urn:b"), ("urn:a", "urn:c"), ("urn:a", "urn:d"),
        ("urn:b", "urn:c"), ("urn:b", "urn:d"), ("urn:c", "urn:d"),
        ("urn:e", "urn:f"),
    }
    assert rows == expected


def test_sparql_path_plus_bound_subject(chain_graph):
    q = f"""PREFIX kg: <{NS}>
    SELECT ?b WHERE {{ <urn:b> kg:next+ ?b }}"""
    assert sorted(r.b for r in execute_sparql(chain_graph, q).collect()) == [
        "urn:c", "urn:d",
    ]


def test_sparql_path_optional_mod(chain_graph):
    q = f"""PREFIX kg: <{NS}>
    SELECT ?b WHERE {{ <urn:c> kg:next? ?b }}"""
    assert sorted(r.b for r in execute_sparql(chain_graph, q).collect()) == [
        "urn:c", "urn:d",
    ]


@pytest.mark.parametrize(
    "pattern, var, want",
    [
        ("<urn:zzz> kg:next? ?v", "v", ["urn:zzz"]),
        ("?v kg:next? <urn:zzz>", "v", ["urn:zzz"]),
        ("?v kg:next? <urn:b>", "v", ["urn:a", "urn:b"]),
        ("<urn:a> kg:next? <urn:a>", None, [1]),
        ("<urn:a> kg:next? <urn:c>", None, []),
    ],
)
def test_sparql_path_optional_mod_constant_endpoint(chain_graph, pattern, var, want):
    # ZeroLengthPath with a term argument is unconditional (SPARQL 1.1
    # §18.4): a constant endpoint binds the other end to itself even
    # when it is not in the graph, as `p*` already does
    q = f"""PREFIX kg: <{NS}>
    SELECT {'?' + var if var else '*'} WHERE {{ {pattern} }}"""
    rows = execute_sparql(chain_graph, q).collect()
    assert sorted(r[0] for r in rows) == want


def test_sparql_path_inverse_plus(chain_graph):
    # ^next+ : ancestors of c
    q = f"""PREFIX kg: <{NS}>
    SELECT ?a WHERE {{ <urn:c> ^kg:next+ ?a }}"""
    assert sorted(r.a for r in execute_sparql(chain_graph, q).collect()) == [
        "urn:a", "urn:b",
    ]


def test_sparql_path_plus_in_sequence(chain_graph):
    # next+/next : pairs at distance >= 2
    q = f"""PREFIX kg: <{NS}>
    SELECT ?a ?b WHERE {{ ?a kg:next+/kg:next ?b }}"""
    rows = {(r.a, r.b) for r in execute_sparql(chain_graph, q).collect()}
    assert rows == {("urn:a", "urn:c"), ("urn:a", "urn:d"), ("urn:b", "urn:d")}


def test_sparql_path_plus_cycle_terminates(spark):
    rows = [
        ("urn:x", NS + "next", "urn:y"),
        ("urn:y", NS + "next", "urn:x"),
    ]
    g = spark.createDataFrame(rows, "subject string, predicate string, object string")
    q = f"""PREFIX kg: <{NS}>
    SELECT ?a ?b WHERE {{ ?a kg:next+ ?b }}"""
    got = {(r.a, r.b) for r in execute_sparql(g, q).collect()}
    assert got == {
        ("urn:x", "urn:y"), ("urn:y", "urn:x"),
        ("urn:x", "urn:x"), ("urn:y", "urn:y"),
    }


# -- round-4: BIND / VALUES / string functions ---------------------------

def test_sparql_bind_concat(graph):
    q = f"""PREFIX kg: <{NS}>
    SELECT ?label WHERE {{
      ?e kg:hasName ?n .
      BIND(CONCAT(?n, " [org]") AS ?label)
    }} ORDER BY ?label"""
    assert [r.label for r in execute_sparql(graph, q).collect()] == [
        "Acme Corp [org]", "Beta Inc [org]",
    ]


def test_sparql_bind_then_filter(graph):
    q = f"""PREFIX kg: <{NS}>
    SELECT ?n WHERE {{
      ?e kg:hasName ?n .
      BIND(STRLEN(?n) AS ?len)
      FILTER(?len > 8)
    }}"""
    assert [r.n for r in execute_sparql(graph, q).collect()] == ["Acme Corp"]


def test_sparql_bind_rebind_rejected(graph):
    from rdf_knowledge_extractor_spark.query.sparql import SparqlEngine

    with pytest.raises(SparqlError, match="rebind"):
        SparqlEngine(graph).execute(
            f"""PREFIX kg: <{NS}>
            SELECT ?n WHERE {{ ?e kg:hasName ?n . BIND(UCASE(?n) AS ?n) }}"""
        )


def test_sparql_values_single_var(graph):
    q = f"""PREFIX kg: <{NS}>
    SELECT ?e ?n WHERE {{
      ?e kg:hasName ?n .
      VALUES ?n {{ "Acme Corp" "Nonexistent" }}
    }}"""
    rows = [(r.e, r.n) for r in execute_sparql(graph, q).collect()]
    assert rows == [(R + "Acme", "Acme Corp")]


def test_sparql_values_only_group(graph):
    q = """SELECT ?x WHERE { VALUES ?x { "a" "b" } }"""
    from rdf_knowledge_extractor_spark.query.sparql import SparqlEngine

    assert sorted(r.x for r in SparqlEngine(graph).execute(q).collect()) == ["a", "b"]


def test_sparql_values_tuple_with_undef(graph):
    # UNDEF leaves ?r unconstrained for the Acme row → compatible with
    # any ?r the patterns produce (here: none bind ?r, stays NULL)
    q = f"""PREFIX kg: <{NS}>
    SELECT ?e ?n ?score WHERE {{
      ?e kg:hasName ?n .
      ?e kg:hasPriorityScore ?score .
      VALUES (?n ?score) {{ ("Acme Corp" UNDEF) ("Beta Inc" "75") }}
    }} ORDER BY ?n"""
    rows = [(r.n, r.score) for r in execute_sparql(graph, q).collect()]
    assert rows == [("Acme Corp", "90"), ("Beta Inc", "75")]


def test_sparql_ucase_lcase(graph):
    q = f"""PREFIX kg: <{NS}>
    SELECT ?u WHERE {{ ?e kg:hasRole ?r . BIND(LCASE(?r) AS ?u) }}"""
    assert [r.u for r in execute_sparql(graph, q).collect()] == ["ceo"]


# -- round-4: MINUS ------------------------------------------------------

def test_sparql_minus_basic(graph):
    q = f"""PREFIX kg: <{NS}>
    SELECT ?n WHERE {{
      ?e kg:hasName ?n .
      MINUS {{ ?e kg:hasRevenue ?x }}
    }}"""
    assert [r.n for r in execute_sparql(graph, q).collect()] == ["Acme Corp"]


def test_sparql_minus_disjoint_domain_removes_nothing(graph):
    # the MINUS group binds no variable shared with the outer solutions
    # → dom(mu1) ∩ dom(mu2) = empty → every solution survives (this is
    # THE divergence between MINUS and FILTER NOT EXISTS)
    q = f"""PREFIX kg: <{NS}>
    SELECT ?n WHERE {{
      ?e kg:hasName ?n .
      MINUS {{ ?x kg:hasRevenue ?y }}
    }}"""
    assert sorted(r.n for r in execute_sparql(graph, q).collect()) == [
        "Acme Corp", "Beta Inc",
    ]


def test_sparql_minus_with_union_maybe_null(compat_graph):
    # outer union leaves ?x maybe-null; MINUS on ?x must treat the
    # NULL-x row as disjoint-domain (survives), not as a match
    q = f"""PREFIX kg: <{NS}>
    SELECT ?s ?x ?y WHERE {{
      {{ ?s kg:p1 ?x }} UNION {{ ?s kg:p2 ?y }}
      MINUS {{ ?q kg:p3 ?z . BIND(?q AS ?x) }}
    }}"""
    # MINUS group binds ?x = urn:x1 (subject of p3) → removes the
    # branch-1 row (x=urn:x1); the ?y row has x unbound → survives
    rows = {(r.s, r.x, r.y) for r in execute_sparql(compat_graph, q).collect()}
    assert rows == {("urn:s2", None, "urn:y2")}


# -- round-5: bound-endpoint transitive paths seed the frontier ----------

@pytest.fixture(scope="module")
def two_chain_graph(spark):
    """Short chain a→b→c plus a LONGER disconnected chain e→…→j, so a
    seeded walk from the short chain must finish in fewer rounds than
    any full-closure evaluation of the graph."""
    rows = [("urn:a", NS + "next", "urn:b"), ("urn:b", NS + "next", "urn:c")]
    long = ["urn:e", "urn:f", "urn:g", "urn:h", "urn:i", "urn:j"]
    rows += [(s, NS + "next", o) for s, o in zip(long, long[1:])]
    return spark.createDataFrame(
        rows, "subject string, predicate string, object string"
    )


def test_sparql_path_bound_subject_is_seeded_not_full_closure(
    two_chain_graph, monkeypatch
):
    from rdf_knowledge_extractor_spark.query.sparql import SparqlEngine

    eng = SparqlEngine(two_chain_graph)
    q = f"""PREFIX kg: <{NS}>
    SELECT ?b WHERE {{ <urn:a> kg:next+ ?b }}"""
    assert sorted(r.b for r in eng.execute(q).collect()) == ["urn:b", "urn:c"]
    # seeded walk from urn:a: frontiers {b}, {c}, {} -> 3 rounds,
    # bounded by the SHORT chain; the full closure's rounds follow the
    # long chain's diameter (5 hops, then the empty 6th), asserted
    # below
    assert eng.last_path_stats == {"mode": "walk", "rounds": 3, "seed": "urn:a"}

    q_full = f"""PREFIX kg: <{NS}>
    SELECT ?a ?b WHERE {{ ?a kg:next+ ?b }}"""
    assert eng.execute(q_full).count() == 3 + 15
    assert eng.last_path_stats == {"mode": "walk", "seed": None}
    monkeypatch.setattr(
        "rdf_knowledge_extractor_spark.operators.dispatch.DRIVER_MAX_EDGES", 0
    )
    assert eng.execute(q_full).count() == 3 + 15
    assert eng.last_path_stats == {"mode": "seminaive", "rounds": 6, "seed": None}


def test_sparql_path_bound_object_seeds_reverse(two_chain_graph):
    from rdf_knowledge_extractor_spark.query.sparql import SparqlEngine

    eng = SparqlEngine(two_chain_graph)
    q = f"""PREFIX kg: <{NS}>
    SELECT ?a WHERE {{ ?a kg:next+ <urn:g> }}"""
    assert sorted(r.a for r in eng.execute(q).collect()) == ["urn:e", "urn:f"]
    assert eng.last_path_stats["seed"] == "urn:g"


def test_sparql_path_star_bound_subject_includes_seed(two_chain_graph):
    from rdf_knowledge_extractor_spark.query.sparql import SparqlEngine

    eng = SparqlEngine(two_chain_graph)
    q = f"""PREFIX kg: <{NS}>
    SELECT ?b WHERE {{ <urn:b> kg:next* ?b }}"""
    assert sorted(r.b for r in eng.execute(q).collect()) == ["urn:b", "urn:c"]
    assert eng.last_path_stats["seed"] == "urn:b"


def test_sparql_path_both_endpoints_bound(two_chain_graph):
    q_hit = f"""PREFIX kg: <{NS}>
    SELECT ?z WHERE {{ <urn:e> kg:next+ <urn:j> . BIND(1 AS ?z) }}"""
    assert execute_sparql(two_chain_graph, q_hit).count() == 1
    q_miss = f"""PREFIX kg: <{NS}>
    SELECT ?z WHERE {{ <urn:a> kg:next+ <urn:j> . BIND(1 AS ?z) }}"""
    assert execute_sparql(two_chain_graph, q_miss).count() == 0


# -- round-5 additions: ASK, GROUP_CONCAT/SAMPLE, negated property sets --

def test_sparql_ask_true_and_false(graph):
    q_true = f"""PREFIX kg: <{NS}>
    ASK {{ ?e kg:hasRole "CEO" }}"""
    out = execute_sparql(graph, q_true)
    assert out.columns == ["ask"]
    assert out.collect()[0].ask is True
    q_false = f"""PREFIX kg: <{NS}>
    ASK WHERE {{ ?e kg:hasRole "CTO" }}"""
    assert execute_sparql(graph, q_false).collect()[0].ask is False


def test_sparql_ask_short_circuits_with_limit(graph):
    """ASK lowers to limit(1): the plan must carry a CollectLimit so a
    selective ASK over 100 TB stops at the first matching solution."""
    import contextlib
    import io

    q = f"""PREFIX kg: <{NS}>
    ASK {{ ?e kg:hasName ?n }}"""
    out = execute_sparql(graph, q)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain()
    assert "Limit" in buf.getvalue()


def test_sparql_group_concat(graph):
    q = f"""PREFIX kg: <{NS}>
    SELECT ?t (GROUP_CONCAT(?n; SEPARATOR="|") AS ?names)
    WHERE {{ ?e a ?t . ?e kg:hasName ?n }} GROUP BY ?t"""
    rows = execute_sparql(graph, q).collect()
    assert len(rows) == 1
    assert rows[0].t == NS + "Organization"
    assert rows[0].names == "Acme Corp|Beta Inc"  # sorted, deterministic


def test_sparql_group_concat_default_separator_and_distinct(graph):
    q = """SELECT (GROUP_CONCAT(DISTINCT ?t) AS ?ts) WHERE { ?e a ?t }"""
    rows = execute_sparql(graph, q).collect()
    assert rows[0].ts == NS + "Organization"  # deduped, single value


def test_sparql_sample(graph):
    q = f"""PREFIX kg: <{NS}>
    SELECT ?t (SAMPLE(?n) AS ?one) WHERE {{ ?e a ?t . ?e kg:hasName ?n }}
    GROUP BY ?t"""
    rows = execute_sparql(graph, q).collect()
    assert rows[0].one == "Acme Corp"  # min() — deterministic sample


def test_sparql_negated_property_set(graph):
    q = f"""PREFIX kg: <{NS}>
    SELECT ?o WHERE {{ <{R}Beta> !(kg:hasName|<{RDF_TYPE}>) ?o }}"""
    got = sorted(r.o for r in execute_sparql(graph, q).collect())
    assert got == ["$10M", "75"]


def test_sparql_negated_single_iri(graph):
    q = f"""PREFIX kg: <{NS}>
    SELECT ?o WHERE {{ <{R}Jane> !kg:worksFor ?o }}"""
    assert [r.o for r in execute_sparql(graph, q).collect()] == ["CEO"]


def test_sparql_negated_set_rejects_vars(graph):
    from rdf_knowledge_extractor_spark.query.sparql import SparqlEngine

    with pytest.raises(SparqlError):
        SparqlEngine(graph).execute("SELECT ?o WHERE { ?s !?p ?o }")


def test_sparql_subquery_aggregate_join(graph):
    """{ SELECT … } evaluates independently and joins as a solution
    multiset: entities with >= 3 outgoing triples, names fetched by
    the outer pattern."""
    q = f"""PREFIX kg: <{NS}>
    SELECT ?e ?n WHERE {{
      ?e kg:hasName ?n .
      {{ SELECT ?e (COUNT(*) AS ?c) WHERE {{ ?e ?p ?o }}
         GROUP BY ?e HAVING (?c >= 3) }}
    }}"""
    rows = {(r.e, r.n) for r in execute_sparql(graph, q).collect()}
    assert rows == {(R + "Acme", "Acme Corp"), (R + "Beta", "Beta Inc")}


def test_sparql_subquery_order_limit_scoped(graph):
    """Inner ORDER BY/LIMIT apply before the outer join (SPARQL 1.1
    §12): top-scored entity only."""
    q = f"""PREFIX kg: <{NS}>
    SELECT ?n WHERE {{
      ?e kg:hasName ?n .
      {{ SELECT ?e WHERE {{ ?e kg:hasPriorityScore ?s }}
         ORDER BY DESC(?s) LIMIT 1 }}
    }}"""
    assert [r.n for r in execute_sparql(graph, q).collect()] == ["Acme Corp"]


def test_sparql_subquery_projection_hides_inner_vars(graph):
    """Vars not projected by the subquery are invisible outside — ?s
    must not leak into the outer solution."""
    q = f"""PREFIX kg: <{NS}>
    SELECT * WHERE {{
      {{ SELECT ?e WHERE {{ ?e kg:hasPriorityScore ?s }} }}
    }}"""
    out = execute_sparql(graph, q)
    assert out.columns == ["e"]
    assert out.count() == 2


def test_sparql_subquery_rejects_non_select(graph):
    with pytest.raises(SparqlError):
        execute_sparql(
            graph, "SELECT ?x WHERE { { ASK { ?x ?p ?o } } }"
        )


def test_sparql_string_builtins(graph):
    q = f"""PREFIX kg: <{NS}>
    SELECT ?n ?pre ?sub WHERE {{
      ?e kg:hasName ?n .
      BIND(STRBEFORE(?n, " ") AS ?pre)
      BIND(SUBSTR(?n, 1, 4) AS ?sub)
      FILTER(STRAFTER(?n, " ") = "Corp")
    }}"""
    rows = [(r.n, r.pre, r.sub) for r in execute_sparql(graph, q).collect()]
    assert rows == [("Acme Corp", "Acme", "Acme")]


def test_sparql_strbefore_absent_separator_is_empty(graph):
    q = f"""PREFIX kg: <{NS}>
    SELECT ?r ?b WHERE {{ ?e kg:hasRole ?r . BIND(STRBEFORE(?r, "|") AS ?b) }}"""
    rows = execute_sparql(graph, q).collect()
    assert [(r.r, r.b) for r in rows] == [("CEO", "")]


def test_sparql_if_and_numeric_builtins(graph):
    q = f"""PREFIX kg: <{NS}>
    SELECT ?e ?tier ?r WHERE {{
      ?e kg:hasPriorityScore ?s .
      BIND(IF(?s >= 80, "high", "low") AS ?tier)
      BIND(ROUND(?s) AS ?r)
    }}"""
    rows = {(r.e, r.tier, r.r) for r in execute_sparql(graph, q).collect()}
    assert rows == {(R + "Acme", "high", 90.0), (R + "Beta", "low", 75.0)}


def test_sparql_replace_and_coalesce(graph):
    q = f"""PREFIX kg: <{NS}>
    SELECT ?e ?rev WHERE {{
      ?e a <{NS}Organization> .
      OPTIONAL {{ ?e kg:hasRevenue ?v }}
      BIND(COALESCE(?v, "unknown") AS ?rev0)
      BIND(REPLACE(?rev0, "[$]", "USD ") AS ?rev)
    }}"""
    rows = {(r.e, r.rev) for r in execute_sparql(graph, q).collect()}
    assert rows == {(R + "Acme", "unknown"), (R + "Beta", "USD 10M")}


# -- round-5 additions: DESCRIBE ------------------------------------

def test_sparql_describe_iri_no_where(graph):
    """DESCRIBE <iri> — no WHERE group at all; the one-hop outgoing
    subgraph of the resource (ref query surface parity: the reference
    dispatcher has no DESCRIBE, ours completes the §16.4 query forms)."""
    out = execute_sparql(graph, f"DESCRIBE <{R}Acme>")
    assert out.columns == ["subject", "predicate", "object"]
    rows = {(r.subject, r.predicate, r.object) for r in out.collect()}
    assert rows == {
        (R + "Acme", RDF_TYPE, NS + "Organization"),
        (R + "Acme", NS + "hasName", "Acme Corp"),
        (R + "Acme", NS + "hasPriorityScore", "90"),
    }


def test_sparql_describe_iri_is_join_free(graph):
    """The explicit-IRI arm must compile to a pushdown filter, not a
    join — at 100 TB `DESCRIBE <x>` touches only matching row groups."""
    import contextlib
    import io

    out = execute_sparql(graph, f"DESCRIBE <{R}Acme>")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain()
    assert "Join" not in buf.getvalue()


def test_sparql_describe_var(graph):
    q = f"""PREFIX kg: <{NS}>
    DESCRIBE ?e WHERE {{ ?e kg:hasRole "CEO" }}"""
    rows = {(r.subject, r.predicate, r.object)
            for r in execute_sparql(graph, q).collect()}
    assert rows == {
        (R + "Jane", NS + "hasRole", "CEO"),
        (R + "Jane", NS + "worksFor", R + "Acme"),
    }


def test_sparql_describe_star_and_literal_bindings(graph):
    """DESCRIBE * describes every in-scope binding; literal bindings
    (?n — names) match no subject and contribute nothing."""
    q = f"""PREFIX kg: <{NS}>
    DESCRIBE * WHERE {{ ?p kg:worksFor ?org . ?org kg:hasName ?n }}"""
    rows = {(r.subject, r.predicate, r.object)
            for r in execute_sparql(graph, q).collect()}
    jane = {(R + "Jane", NS + "hasRole", "CEO"),
            (R + "Jane", NS + "worksFor", R + "Acme")}
    acme = {(R + "Acme", RDF_TYPE, NS + "Organization"),
            (R + "Acme", NS + "hasName", "Acme Corp"),
            (R + "Acme", NS + "hasPriorityScore", "90")}
    assert rows == jane | acme


def test_sparql_describe_mixed_iri_and_var_distinct(graph):
    """IRI and ?var arms union WITHOUT duplicates even when they name
    the same resource."""
    q = f"""PREFIX kg: <{NS}>
    DESCRIBE <{R}Acme> ?org WHERE {{ ?p kg:worksFor ?org }}"""
    out = execute_sparql(graph, q).collect()
    assert len(out) == 3  # Acme described once, not twice


def test_sparql_describe_unbound_var_empty(graph):
    q = f"""PREFIX kg: <{NS}>
    DESCRIBE ?ghost WHERE {{ ?e kg:hasRole "CTO" }}"""
    assert execute_sparql(graph, q).count() == 0


def test_sparql_describe_rejects_literals_and_empty(graph):
    with pytest.raises(SparqlError):
        execute_sparql(graph, 'DESCRIBE "Acme Corp"')
    with pytest.raises(SparqlError):
        execute_sparql(graph, "DESCRIBE WHERE { ?s ?p ?o }")


def test_sparql_subquery_rejects_describe(graph):
    with pytest.raises(SparqlError):
        execute_sparql(
            graph, "SELECT ?x WHERE { { DESCRIBE ?x WHERE { ?x ?p ?o } } }"
        )
