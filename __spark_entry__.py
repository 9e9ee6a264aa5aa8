"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` — flagship: documents → synthetic HTML wrap →
byte-identical html_to_text UDF → derived triples → first-occurrence
dedup (the extract→normalize→dedup spine of the engine).

`queries()` / `oracle_sql()` — one entry per implemented operator from
SURVEY.md §2 plus the training-data operator family, each with an
ANSI-SQL DuckDB oracle where SQL-expressible (non-expressible ops are
registered without an oracle → weaker rows-only check, as allowed).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdf_knowledge_extractor_spark.sources.doc_triples import (
    BASE,
    DEDUP_SQL,
    DERIVE_TRIPLES_SQL,
    KNOWN_PREDICATES,
    NS,
    RDF_TYPE,
    derive_triples,
)

SF_DEFAULT = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# table loaders
# ---------------------------------------------------------------------------

def _docs(spark: SparkSession, sf: str) -> DataFrame:
    return spark.read.parquet(f"{sf}/documents.parquet")


def _emb(spark: SparkSession, sf: str) -> DataFrame:
    return spark.read.parquet(f"{sf}/embeddings.parquet")


def _events(spark: SparkSession, sf: str) -> DataFrame:
    return spark.read.parquet(f"{sf}/events.parquet")


def _graph(spark: SparkSession, sf: str) -> DataFrame:
    """Deduplicated derived triple table (the 'graph').

    The dedup runs on the NARROW PRE-IMAGE (derive_triples_dedup):
    the statement families are provably collision-disjoint by their
    constant predicates, so first-occurrence dedup reduces to a
    DISTINCT on (doc_id, triple_seq, attr) for the per-doc families
    plus two value-cardinality aggregates — ~20-byte tuples through
    the shuffle instead of three URI strings per row, with the URI
    concat done once per survivor (guide §2.3/§8; equivalence proven
    in derive_triples_dedup's docstring and pinned by
    tests/test_round6_plan_shapes.py).  `confidence`, `source` and
    `metadata` are pure functions of `doc_seq` and are re-derived
    after the aggregate.  Schema and values are identical for every
    consumer.

    The scan is not `spread`: the narrow pre-image aggregates are too
    cheap to justify three per-branch round-robin exchanges of it (A/B at
    sf1-scale: no-spread 0.44 s vs spread 0.57 s vs the r6 min_by form
    0.53 s); downstream parallelism comes from the distinct's own
    shuffle."""
    from rdf_knowledge_extractor_spark.sources.doc_triples import (
        derive_triples_dedup,
    )

    return derive_triples_dedup(_docs(spark, sf)).select(
        "subject",
        "predicate",
        "object",
        F.lit(1.0).cast("float").alias("confidence"),
        F.concat(F.lit("doc:"), F.col("doc_seq").cast("string")).alias("source"),
        F.create_map().cast("map<string,string>").alias("metadata"),
        "doc_seq",
        "triple_seq",
    )


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """documents → HTML wrap → html_to_text UDF → triples → dedup."""
    from rdf_knowledge_extractor_spark.functions.html_text import html_to_text
    from rdf_knowledge_extractor_spark.operators.dedup import first_occurrence_dedup

    docs = _docs(spark, SF_DEFAULT)
    esc = F.replace(
        F.replace(F.replace(F.col("text"), F.lit("&"), F.lit("&amp;")), F.lit("<"), F.lit("&lt;")),
        F.lit(">"),
        F.lit("&gt;"),
    )
    pages = docs.withColumn(
        "html",
        F.encode(
            F.concat(F.lit("<html><head><title>doc</title></head><body><p>"), esc, F.lit("</p></body></html>")),
            "UTF-8",
        ),
    )
    extracted = pages.withColumn("ex_text", html_to_text(F.col("html")))
    # per-row invariant: extracted text == trimmed source text
    checked = extracted.withColumn(
        "roundtrip_ok", F.col("ex_text") == F.trim(F.col("text"))
    )
    triples = derive_triples(
        checked.filter(F.col("roundtrip_ok")).select("doc_id", "text", "lang", "source")
    )
    return first_occurrence_dedup(triples)


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------

_STRICT_URI_SQL = "(object LIKE 'http://%' OR object LIKE 'https://%')"


def q_kg_triples_derive(spark, sf):
    return derive_triples(_docs(spark, sf)).select(
        "subject", "predicate", "object", "doc_seq", "triple_seq"
    )


def q_kg_dedup_first(spark, sf):
    return _graph(spark, sf).select(
        "subject", "predicate", "object", "doc_seq", "triple_seq"
    )


def q_kg_insert_new(spark, sf):
    from rdf_knowledge_extractor_spark.sources.doc_triples import (
        derive_triples_dedup,
    )

    # Insert-if-absent of the odd-doc batch into the even-doc graph,
    # decomposed FAMILY-WISE (guide §8: use what the optimizer cannot
    # know).  `doc_seq % 2` on the derived table equals `doc_id % 2`
    # on documents (doc_seq = cast(doc_id)), and the generic
    # batch-anti-graph join on (s,p,o) provably reduces to:
    #
    # - families 0-3 (per-doc statements): the subject embeds the
    #   odd doc_id ('…/doc'||id is injective in id), and the six
    #   families carry six distinct constant predicates, so an
    #   odd-side row can never equal ANY even-side row — the whole
    #   family passes the anti-join untouched;
    # - family 4 (src hasName source): equality holds iff the two
    #   `source` values are equal (subject and object are both
    #   injective functions of it), so the anti-join reduces to
    #   object ∉ distinct sources(even docs) — with SQL NULL-key
    #   semantics (a NULL object never matches, hence survives)
    #   identical to the string anti-join's;
    # - family 5 (lang hasRole lang): likewise on `lang`.
    #
    # The former generic anti-join exploded through the 3-branch
    # union on both sides (46 Exchanges / 20 scans / 6 broadcast
    # builds at sf1-scale); this shape joins only the two
    # value-cardinality slivers against broadcast distinct key sets.
    # Batch self-dedup semantics are preserved by
    # derive_triples_dedup (≡ first_occurrence_dedup of the batch).
    # Output equality with the generic formulation is pinned by
    # tests/test_round6_plan_shapes.py::test_insert_new_familywise_
    # matches_generic_antijoin and the unchanged DuckDB oracle.
    docs = _docs(spark, sf)
    batch = derive_triples_dedup(docs.filter(F.col("doc_id") % 2 == 1))
    evens = docs.filter(F.col("doc_id") % 2 == 0)
    fam03 = batch.filter(F.col("triple_seq") <= 3)
    fam4 = batch.filter(F.col("triple_seq") == 4).join(
        F.broadcast(evens.select(F.col("source").alias("object")).distinct()),
        on="object",
        how="left_anti",
    )
    fam5 = batch.filter(F.col("triple_seq") == 5).join(
        F.broadcast(evens.select(F.col("lang").alias("object")).distinct()),
        on="object",
        how="left_anti",
    )
    return (
        fam03.unionByName(fam4.select(*batch.columns))
        .unionByName(fam5.select(*batch.columns))
        .select("subject", "predicate", "object")
    )


def q_kg_stats(spark, sf):
    from rdf_knowledge_extractor_spark.operators.stats import graph_statistics

    return graph_statistics(_graph(spark, sf))


def q_kg_entities_by_type(spark, sf):
    from rdf_knowledge_extractor_spark.operators.stats import get_entities_by_type

    return get_entities_by_type(_graph(spark, sf), "Document", NS).distinct()


def q_kg_entity_properties(spark, sf):
    from rdf_knowledge_extractor_spark.operators.stats import get_entity_properties

    return get_entity_properties(_graph(spark, sf), BASE + "doc0").select(
        "predicate", F.array_join(F.sort_array("objects"), "|").alias("objects_str")
    )


def q_kg_query_name_pattern(spark, sf):
    from rdf_knowledge_extractor_spark.query.sparql import execute_simple_sparql

    return execute_simple_sparql(
        _graph(spark, sf), "SELECT ?name WHERE { ?e hasName ?name }"
    )


def q_kg_query_role_pattern(spark, sf):
    from rdf_knowledge_extractor_spark.query.sparql import execute_simple_sparql

    return execute_simple_sparql(
        _graph(spark, sf), "SELECT ?role WHERE { ?p hasRole ?role }"
    )


def q_kg_sparql_bgp(spark, sf):
    from rdf_knowledge_extractor_spark.query.sparql import execute_sparql

    q = f"""
    PREFIX kg: <{NS}>
    SELECT ?doc ?lang WHERE {{
      ?doc kg:belongsTo <{BASE}src_src0> ;
           kg:hasLang ?lang .
    }}
    """
    return execute_sparql(_graph(spark, sf), q)


def q_kg_sparql_agg(spark, sf):
    """SPARQL 1.1 aggregates (round-3 engine extension): GROUP BY +
    COUNT + HAVING compile to ONE Catalyst hash aggregate with
    map-side partial combine — no driver-side grouping."""
    from rdf_knowledge_extractor_spark.query.sparql import execute_sparql

    q = """
    SELECT ?p (COUNT(*) AS ?n) WHERE { ?s ?p ?o }
    GROUP BY ?p HAVING (?n >= 1) ORDER BY ?p
    """
    return execute_sparql(_graph(spark, sf), q)


def q_kg_sparql_union(spark, sf):
    """SPARQL UNION (round-3 extension): bag union with NULL-padded
    disjoint variables → unionByName(allowMissingColumns)."""
    from rdf_knowledge_extractor_spark.query.sparql import execute_sparql

    q = f"""
    PREFIX kg: <{NS}>
    SELECT ?v WHERE {{ {{ ?s kg:hasLang ?v }} UNION {{ ?s kg:hasName ?v }} }}
    """
    return execute_sparql(_graph(spark, sf), q)


def q_kg_sparql_construct(spark, sf):
    """SPARQL CONSTRUCT (round-3 extension): graph-producing query —
    template instantiation per solution, unbound rows dropped, distinct
    set semantics; compiles to a union of narrow projections."""
    from rdf_knowledge_extractor_spark.query.sparql import execute_sparql

    q = f"""
    PREFIX kg: <{NS}>
    CONSTRUCT {{ ?d kg:summaryLang ?l }} WHERE {{ ?d kg:hasLang ?l }}
    """
    return execute_sparql(_graph(spark, sf), q)


def q_kg_sparql_path(spark, sf):
    """SPARQL property path (round-3 extension): sequence path
    `belongsTo/hasName` compiles to an equi-join chain on the
    intermediate node — Catalyst pushes both predicate constants into
    the scans and picks the join strategy."""
    from rdf_knowledge_extractor_spark.query.sparql import execute_sparql

    q = f"""
    PREFIX kg: <{NS}>
    SELECT ?d ?n WHERE {{ ?d kg:belongsTo/kg:hasName ?n }}
    """
    return execute_sparql(_graph(spark, sf), q)


def q_kg_sparql_path_star(spark, sf):
    """SPARQL transitive path `*` (round-4 extension): zero-or-more
    hops over a deterministic doc-chain graph (lead() within
    source/20-doc buckets caps chain length).  The engine lowers the
    var-var `*` to the full closure (operators/traversal.py
    `closure`, unseeded): at this size one bounded collect of the
    edges, then a per-source BFS inside executor tasks; above the
    shared driver bound the semi-naive loop.  The oracle recomputes
    the closure with DuckDB WITH RECURSIVE."""
    from pyspark.sql import Window

    from rdf_knowledge_extractor_spark.query.sparql import execute_sparql

    docs = _docs(spark, sf).select("doc_id", "source")
    w1 = Window.partitionBy("source").orderBy("doc_id")
    ranked = docs.withColumn("rn", F.row_number().over(w1))
    w2 = Window.partitionBy(
        "source", F.floor((F.col("rn") - 1) / 20)
    ).orderBy("doc_id")
    chain = ranked.withColumn("next_id", F.lead("doc_id").over(w2)).where(
        F.col("next_id").isNotNull()
    )
    graph = chain.select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("subject"),
        F.lit(NS + "nextDoc").alias("predicate"),
        F.concat(F.lit("d"), F.col("next_id").cast("string")).alias("object"),
    )
    q = f"""
    PREFIX kg: <{NS}>
    SELECT ?a ?b WHERE {{ ?a kg:nextDoc* ?b }}
    """
    return execute_sparql(graph, q)


def q_kg_sparql_path_seeded(spark, sf):
    """Bound-endpoint transitive path (round-5, verdict brief #3):
    `<d0> kg:nextDoc+ ?b` seeds the closure at the constant
    (operators/traversal.py `closure` from the seed: a driver BFS
    under the shared driver bound, a semi-naive loop from the seed's
    edges above it) instead of computing the full closure and
    filtering; the oracle recomputes with DuckDB WITH RECURSIVE seeded
    from the same constant."""
    from pyspark.sql import Window

    from rdf_knowledge_extractor_spark.query.sparql import execute_sparql

    docs = _docs(spark, sf).select("doc_id", "source")
    w1 = Window.partitionBy("source").orderBy("doc_id")
    ranked = docs.withColumn("rn", F.row_number().over(w1))
    w2 = Window.partitionBy(
        "source", F.floor((F.col("rn") - 1) / 20)
    ).orderBy("doc_id")
    chain = ranked.withColumn("next_id", F.lead("doc_id").over(w2)).where(
        F.col("next_id").isNotNull()
    )
    graph = chain.select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("subject"),
        F.lit(NS + "nextDoc").alias("predicate"),
        F.concat(F.lit("d"), F.col("next_id").cast("string")).alias("object"),
    )
    q = f"""
    PREFIX kg: <{NS}>
    SELECT ?b WHERE {{ <d0> kg:nextDoc+ ?b }}
    """
    return execute_sparql(graph, q)


def q_kg_sparql_minus(spark, sf):
    """SPARQL MINUS (round-4 extension): docs whose source has no
    hasRole triple — shared-domain anti-join semantics
    (query/sparql.py, compiled to LeftAnti)."""
    from rdf_knowledge_extractor_spark.query.sparql import execute_sparql

    q = f"""
    PREFIX kg: <{NS}>
    SELECT ?d ?s WHERE {{
      ?d kg:belongsTo ?s .
      MINUS {{ ?s kg:hasName ?n . FILTER(STRENDS(?n, "0")) }}
    }}
    """
    return execute_sparql(_graph(spark, sf), q)


def q_kg_sparql_bind_values(spark, sf):
    """SPARQL BIND + VALUES (round-4 extension): inline solution table
    restricting ?lang, computed label via CONCAT."""
    from rdf_knowledge_extractor_spark.query.sparql import execute_sparql

    q = f"""
    PREFIX kg: <{NS}>
    SELECT ?d ?lang ?label WHERE {{
      ?d kg:hasLang ?lang .
      VALUES ?lang {{ "en" "de" }}
      BIND(CONCAT(?lang, ":doc") AS ?label)
    }}
    """
    return execute_sparql(_graph(spark, sf), q)


def q_kg_sparql_ask(spark, sf):
    """SPARQL ASK (round-5 extension): one boolean row; lowers to
    limit(1) + count>0 so the scan short-circuits at the first
    solution (query/sparql.py)."""
    from rdf_knowledge_extractor_spark.query.sparql import execute_sparql

    q = f"""
    PREFIX kg: <{NS}>
    ASK {{ ?d kg:hasLang "en" }}
    """
    return execute_sparql(_graph(spark, sf), q)


def q_kg_sparql_describe(spark, sf):
    """SPARQL DESCRIBE (round-5 extension): one-hop outgoing subgraph
    of an explicit IRI (pushdown-filter arm) plus every ?d bound by the
    WHERE group (distinct-bindings join arm) — query/sparql.py
    _execute_describe."""
    from rdf_knowledge_extractor_spark.query.sparql import execute_sparql

    src = f"{BASE}src_src3"
    q = f"""
    PREFIX kg: <{NS}>
    DESCRIBE <{src}> ?d WHERE {{ ?d kg:belongsTo <{src}> }}
    """
    return execute_sparql(_graph(spark, sf), q)


def q_kg_sparql_group_concat(spark, sf):
    """SPARQL GROUP_CONCAT + SAMPLE (round-5 extension): per-source
    sorted lang concatenation — one Catalyst hash aggregate
    (collect_list → array_sort → array_join, all JVM-side)."""
    from rdf_knowledge_extractor_spark.query.sparql import execute_sparql

    q = f"""
    PREFIX kg: <{NS}>
    SELECT ?s (GROUP_CONCAT(?l; SEPARATOR="|") AS ?langs) (SAMPLE(?d) AS ?one)
    WHERE {{ ?d kg:belongsTo ?s . ?d kg:hasLang ?l }}
    GROUP BY ?s
    """
    return execute_sparql(_graph(spark, sf), q)


def q_kg_sparql_pneg(spark, sf):
    """SPARQL negated property set (round-5 extension): !(iri|…)
    compiles to a NOT IN predicate pushed into the triples scan —
    never a join."""
    from rdf_knowledge_extractor_spark.query.sparql import execute_sparql

    q = f"""
    PREFIX kg: <{NS}>
    SELECT ?s ?o WHERE {{
      ?s !(kg:hasLang|kg:hasSource|kg:belongsTo|<{RDF_TYPE}>) ?o
    }}
    """
    return execute_sparql(_graph(spark, sf), q)


def q_kg_sparql_subquery(spark, sf):
    """SPARQL SubSelect (round-5 extension): inner aggregate query
    evaluated independently, result joined into the outer group as a
    solution multiset — one hash aggregate + one equi-join."""
    from rdf_knowledge_extractor_spark.query.sparql import execute_sparql

    q = f"""
    PREFIX kg: <{NS}>
    SELECT ?s ?n WHERE {{
      ?s kg:hasName ?n .
      {{ SELECT ?s (COUNT(*) AS ?c) WHERE {{ ?d kg:belongsTo ?s }}
         GROUP BY ?s HAVING (?c >= 2) }}
    }}
    """
    return execute_sparql(_graph(spark, sf), q)


def q_kg_traversal_2hop(spark, sf):
    from rdf_knowledge_extractor_spark.operators.traversal import find_related_entities

    return find_related_entities(_graph(spark, sf), BASE + "doc0", max_depth=2)


def q_kg_validation_filter(spark, sf):
    from rdf_knowledge_extractor_spark.config import Configuration, RdfSchema
    from rdf_knowledge_extractor_spark.operators.validate import apply_validation_rules

    cfg = Configuration(
        name="entry",
        rdf_schema=RdfSchema(namespace=NS, prefix="kg", base_uri=BASE, predicates=dict(KNOWN_PREDICATES)),
        validation_rules=["require_valid_uri", "require_known_predicates"],
    )
    return apply_validation_rules(derive_triples(_docs(spark, sf)), cfg).select(
        "subject", "predicate", "object", "doc_seq", "triple_seq"
    )


def q_kg_validation_issues(spark, sf):
    from rdf_knowledge_extractor_spark.operators.validate import validation_issues

    from rdf_knowledge_extractor_spark.operators.dispatch import spread

    # spread: per-triple validation regexes over the 6× Generate of a
    # one-row-group scan
    return validation_issues(derive_triples(spread(_docs(spark, sf))))


def q_kg_ntriples_strict(spark, sf):
    from rdf_knowledge_extractor_spark.sinks.serialization import ntriples_lines

    return ntriples_lines(_graph(spark, sf), strict=True)


def q_kg_ntriples_store(spark, sf):
    from rdf_knowledge_extractor_spark.sinks.serialization import ntriples_lines

    return ntriples_lines(_graph(spark, sf), strict=False)


def q_kg_turtle_lines(spark, sf):
    from rdf_knowledge_extractor_spark.sinks.serialization import turtle_line

    return _graph(spark, sf).select(turtle_line(NS, "kg", store=False).alias("line"))


def q_kg_jsonld_nodes(spark, sf):
    from rdf_knowledge_extractor_spark.sinks.serialization import jsonld_node_lines

    return jsonld_node_lines(_graph(spark, sf), NS, "kg")


def q_kg_rdfxml_lines(spark, sf):
    """RDF/XML property lines (K6), distributed + oracle-checkable: one
    row per triple with the exact `<pname …>` line serialize_rdf_xml
    emits (ref:src/utils/serialization.rs:110-154)."""
    g = _graph(spark, sf)
    pname = F.when(
        F.col("predicate").startswith(NS),
        F.concat(F.lit("kg:"), F.expr(f"substring(predicate, {len(NS) + 1})")),
    ).otherwise(F.element_at(F.split(F.col("predicate"), "#"), -1))
    escaped = F.replace(
        F.replace(
            F.replace(F.col("object"), F.lit("&"), F.lit("&amp;")),
            F.lit("<"),
            F.lit("&lt;"),
        ),
        F.lit(">"),
        F.lit("&gt;"),
    )
    line = F.when(
        F.col("object").startswith("http://") | F.col("object").startswith("https://"),
        F.concat(F.lit('    <'), pname, F.lit(' rdf:resource="'), F.col("object"), F.lit('"/>')),
    ).otherwise(
        F.concat(F.lit("    <"), pname, F.lit(">"), escaped, F.lit("</"), pname, F.lit(">"))
    )
    return g.select(F.col("subject"), line.alias("line"))


def q_kg_connected_components(spark, sf):
    """North-star canonicalization substrate: connected components over
    the graph's URI-object edges (doc —belongsTo→ src stars), oracle-
    checked against a DuckDB WITH RECURSIVE min-reachable walk."""
    from rdf_knowledge_extractor_spark.operators.components import (
        connected_components,
    )

    g = _graph(spark, sf)
    edges = g.filter(
        F.col("object").startswith("http://") | F.col("object").startswith("https://")
    ).select(F.col("subject").alias("src"), F.col("object").alias("dst"))
    return connected_components(edges).select("node", "component")


def q_kg_link_mapping(spark, sf):
    """North-star entity linking, oracle-checked end-to-end: generate
    deterministic alias variants of every graph entity — `uri+'Inc'`
    (tier-1 suffix merge) and `uri+'WidgetFactory'/'WidgetFactori'`
    (cross-key typo pair, 3-gram Jaccard (L-3)/(L-1) ≥ 0.85 → fuzzy
    tier + connected components) — then run the production
    link_entities.  The DuckDB oracle replicates key normalization,
    exact Jaccard and a recursive-CTE component walk."""
    from rdf_knowledge_extractor_spark.operators.linking import (
        entity_universe,
        link_entities,
    )

    ents = entity_universe(_graph(spark, sf))
    variants = ents.select(
        F.explode(
            F.array(
                F.col("uri"),
                F.concat(F.col("uri"), F.lit("Inc")),
                F.concat(F.col("uri"), F.lit("WidgetFactory")),
                F.concat(F.col("uri"), F.lit("WidgetFactori")),
            )
        ).alias("subject")
    ).distinct()
    triples = variants.select(
        "subject",
        F.lit(NS + "hasName").alias("predicate"),
        F.lit("x").alias("object"),
    )
    return link_entities(triples).select("uri", "canonical")


# -- training-data operators --

def q_dedup_exact(spark, sf):
    return (
        _docs(spark, sf)
        .groupBy(F.md5("text").alias("fingerprint"))
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def q_dedup_ngram_jaccard(spark, sf):
    from rdf_knowledge_extractor_spark.operators.textdedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf))


def q_dedup_survivors(spark, sf):
    """End-to-end near-dup dedup materialization (round-5 op):
    Jaccard pairs → connected components (min-id label) → keep each
    cluster's representative plus all untouched docs.  The oracle
    recomputes the clusters with a recursive closure CTE — a
    genuinely different algorithm from the large/small-star loop
    (operators/textdedup.py + operators/components.py)."""
    from rdf_knowledge_extractor_spark.operators.components import (
        connected_components,
    )
    from rdf_knowledge_extractor_spark.operators.textdedup import (
        ngram_jaccard_pairs,
    )

    docs = _docs(spark, sf)
    pairs = ngram_jaccard_pairs(docs)
    comp = connected_components(pairs, src="id_a", dst="id_b")
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    return docs.join(losers, on="doc_id", how="left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


def q_dedup_minhash_lsh(spark, sf):
    from rdf_knowledge_extractor_spark.operators.textdedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf))


def q_dedup_simhash(spark, sf):
    from rdf_knowledge_extractor_spark.operators.textdedup import simhash_pairs

    return simhash_pairs(_docs(spark, sf))


def q_dedup_embedding(spark, sf):
    """Embedding near-dup pairs via the SCALE path: sign-LSH bucketed
    candidate generation + exact cosine verification (auto-tuned
    planes/tables for the threshold; miss prob ≤ 1e-5 per qualifying
    pair).  Oracle-checked against DuckDB's exact all-pairs — same
    trick as dedup_minhash_lsh: the verified approximate path must
    reproduce the exact answer."""
    from rdf_knowledge_extractor_spark.operators.similarity import (
        cosine_pairs_bucketed,
    )

    return cosine_pairs_bucketed(_emb(spark, sf), threshold=0.45, dim=64)


def q_ann_cosine_topk(spark, sf):
    from rdf_knowledge_extractor_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )

    emb = _emb(spark, sf)
    return cosine_topk_bruteforce(emb, emb.filter(F.col("vec_id") < 10), k=5, dim=64)


def q_ann_lsh_topk(spark, sf):
    from rdf_knowledge_extractor_spark.operators.similarity import lsh_cosine_topk

    emb = _emb(spark, sf)
    return lsh_cosine_topk(emb, emb.filter(F.col("vec_id") < 10), dim=64)


def q_ann_ivf_topk(spark, sf):
    """IVF (inverted-file) approximate top-k — the second scale path
    beside sign-LSH; approximate by design (recall pinned vs
    brute-force in tests), registered rows-only."""
    from rdf_knowledge_extractor_spark.operators.similarity import ivf_cosine_topk

    emb = _emb(spark, sf)
    return ivf_cosine_topk(
        emb, emb.filter(F.col("vec_id") < 10), dim=64, nprobe=4
    )


def q_ann_ivf_fullprobe(spark, sf):
    """IVF with nprobe = its cell count (16) is exhaustive — runs the full IVF
    machinery (k-means cells, cell join, re-rank) yet provably equals
    brute force, so it shares `ann_cosine_topk`'s DuckDB oracle."""
    from rdf_knowledge_extractor_spark.operators.similarity import ivf_cosine_topk

    emb = _emb(spark, sf)
    return ivf_cosine_topk(
        emb, emb.filter(F.col("vec_id") < 10), dim=64, nprobe=16
    )


def q_ann_lsh_fullcover(spark, sf):
    """Sign-LSH with 0 planes puts every vector in one bucket — full
    candidate coverage through the real LSH path (bucket join, dedup,
    re-rank), provably equal to brute force; shares the same oracle."""
    from rdf_knowledge_extractor_spark.operators.similarity import lsh_cosine_topk

    emb = _emb(spark, sf)
    return lsh_cosine_topk(
        emb, emb.filter(F.col("vec_id") < 10), dim=64, n_planes=0, n_tables=1
    )


def q_text_langid(spark, sf):
    from rdf_knowledge_extractor_spark.functions.text_analysis import detect_language

    return _docs(spark, sf).select(
        "doc_id", detect_language(F.col("text")).alias("lang_detected")
    )


def q_text_quality(spark, sf):
    # measured: spread here LOSES (~0.25s no-spread vs ~0.4s spread at
    # sf1) — the metrics are cheap codegen expressions, so the
    # round-robin exchange costs more than the extra scan parallelism
    # buys; spreading only pays when heavy per-row work follows
    from rdf_knowledge_extractor_spark.functions.text_analysis import quality_metrics

    return quality_metrics(_docs(spark, sf)).select(
        "doc_id", "n_words", "avg_word_len", "digit_ratio", "stop_ratio", "quality_score"
    )


def q_text_tokens(spark, sf):
    from rdf_knowledge_extractor_spark.functions.text_analysis import (
        token_count_bpe_ish,
        word_count,
    )

    return _docs(spark, sf).select(
        "doc_id",
        word_count(F.col("text")).cast("long").alias("n_words"),
        token_count_bpe_ish(F.col("text")).cast("long").alias("n_tokens"),
    )


def q_text_fingerprint(spark, sf):
    from rdf_knowledge_extractor_spark.functions.text_analysis import fingerprint_md5

    return _docs(spark, sf).select(
        "doc_id", fingerprint_md5(F.col("text")).alias("fingerprint")
    )


def q_text_quality_percentiles(spark, sf):
    """Per-predicted-language quality-score distribution (n, p50/p90/p99).

    `operators.curation.quality_percentiles` aggregates with `percentile`,
    so the DuckDB `quantile_cont` oracle can hash-match (identical linear
    interpolation)."""
    from rdf_knowledge_extractor_spark.operators.curation import (
        quality_percentiles,
    )

    from rdf_knowledge_extractor_spark.operators.dispatch import spread

    # spread: metric computation + exact per-group percentiles
    # otherwise hang off a one-row-group scan's single task
    return quality_percentiles(spread(_docs(spark, sf)))


def q_docs_rollup(spark, sf):
    """ROLLUP(lang, source): per-(lang, source) doc counts + char sums
    with lang-level and grand totals in one pass — Catalyst expands
    grouping sets into a single shuffle with map-side partial
    aggregation (no N-pass union of aggregates).  Subtotal rows are
    labelled via grouping() so a data-NULL lang/source is never
    conflated with the 'ALL' rollup line (tests exercise NULL rows)."""
    from rdf_knowledge_extractor_spark.operators.curation import rollup_report

    return rollup_report(_docs(spark, sf))


def q_corpus_sample(spark, sf):
    from rdf_knowledge_extractor_spark.operators.curation import deterministic_sample

    return deterministic_sample(_docs(spark, sf), rate=0.25).select(
        "doc_id", "source", "lang"
    )


def q_corpus_quota(spark, sf):
    from rdf_knowledge_extractor_spark.operators.curation import quota_per_group

    return quota_per_group(_docs(spark, sf), group_col="source").select(
        "doc_id", "source"
    )


def q_corpus_curate(spark, sf):
    from rdf_knowledge_extractor_spark.operators.curation import curate_corpus

    from rdf_knowledge_extractor_spark.operators.dispatch import spread

    # spread: the quality-metric projection + filters otherwise run
    # in the single task of a one-row-group scan (4.9 -> 1.3 s at
    # sf1-scale); no-op at scale
    return curate_corpus(spread(_docs(spark, sf)), lang="en", min_words=10)


def q_corpus_repetition(spark, sf):
    """Gopher-style repetition/boilerplate metrics (round 3): duplicate
    -line fractions + bullet/ellipsis ratios — two map-side-combined
    hash aggregates, no windows, no UDFs."""
    from rdf_knowledge_extractor_spark.operators.curation import repetition_metrics

    return repetition_metrics(_docs(spark, sf))


def q_corpus_top_terms(spark, sf):
    from rdf_knowledge_extractor_spark.operators.curation import top_terms

    return top_terms(_docs(spark, sf))


def q_corpus_decontam(spark, sf):
    """Benchmark decontamination (round-5 training-data op): report
    every document sharing a word n-gram with the 'benchmark' slice
    (doc_id % 37 == 0 — a deterministic stand-in eval set drawn from
    the same table), with word 3-grams (`decontam.NGRAM_N`).  Plan:
    benchmark n-grams broadcast, one shuffle over matched rows only
    (operators/decontam.py)."""
    from rdf_knowledge_extractor_spark.operators.decontam import (
        contamination_report,
    )

    from rdf_knowledge_extractor_spark.operators.dispatch import spread

    # spread: the n-gram Generate + broadcast probe otherwise runs in
    # the single task of a one-row-group scan (measured 5.4 s -> 0.5 s
    # for the gram stage at sf0.1); no-op at scale
    docs = spread(_docs(spark, sf))
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    return contamination_report(docs, bench)


def q_text_entropy(spark, sf):
    """Char-bigram Shannon entropy over the first 256 chars (round-5
    gibberish signal): bounded explode + two map-side-combinable hash
    aggregates (functions/text_analysis.char_bigram_entropy)."""
    from rdf_knowledge_extractor_spark.functions.text_analysis import (
        char_bigram_entropy,
    )

    from rdf_knowledge_extractor_spark.operators.dispatch import spread

    # spread: the bounded bigram explode is Generate-heavy (measured
    # 2.9 s -> 0.6 s at sf0.1 from a one-row-group scan); no-op at scale
    return char_bigram_entropy(spread(_docs(spark, sf)))


def q_corpus_split(spark, sf):
    """Deterministic 90/5/5 train/val/test assignment (round-5
    training-data op): stateless hash CASE, zero-shuffle
    (operators/splits.py)."""
    from rdf_knowledge_extractor_spark.operators.splits import assign_splits

    return assign_splits(_docs(spark, sf)).select("doc_id", "split")


def q_corpus_tfidf(spark, sf):
    """TF-IDF top-5 keywords per doc (round-5 training-data op): two
    hash aggregates over one tokenization + WindowGroupLimit top-k
    (operators/tfidf.py)."""
    from rdf_knowledge_extractor_spark.operators.tfidf import tfidf_top_terms

    from rdf_knowledge_extractor_spark.operators.dispatch import spread

    # spread: the tokenization feeding both hash aggregates otherwise
    # runs single-task off a one-row-group scan (5.2 -> 4.6 s at
    # sf1-scale); no-op at scale
    return tfidf_top_terms(spread(_docs(spark, sf)))


BM25_QUERIES = {
    "q_scan": "fast table scan",
    "q_hash": "hash merge batch",
    "q_agg": "agg row value",
}


def _docs_with_urls(spark, sf):
    """documents + a deterministic synthetic url column (the table has
    no URL field; the SAME expression is synthesized in the oracle so
    the comparison exercises the domain operator, not the synth)."""
    d = _docs(spark, sf)
    return d.withColumn(
        "url",
        F.concat(
            F.lit("https://"),
            F.when(d.doc_id % 7 == 0, F.lit("www.")).otherwise(F.lit("")),
            d.source,
            (d.doc_id % 37).cast("string"),
            F.when(d.doc_id % 5 == 0, F.lit(".co.uk")).otherwise(
                F.lit(".com")
            ),
            F.lit("/p/"),
            d.doc_id.cast("string"),
        ),
    )


def q_corpus_bpe(spark, sf):
    """Trained BPE merge table (round-5 tokenizer op): corpus collapses
    to a word-frequency table once, then vocabulary-sized merge
    iterations with per-round localCheckpoint (operators/bpe.py).
    Iterative training is not SQL-expressible — NO oracle (rows-only
    driver check); correctness carried by the independent-pure-Python
    differential test (tests/test_bpe.py)."""
    from rdf_knowledge_extractor_spark.operators.bpe import bpe_merges_df

    return bpe_merges_df(_docs(spark, sf), n_merges=25)


def q_corpus_domains(spark, sf):
    """Per-registrable-domain rollup (round-5 web-curation op): pure
    Catalyst eTLD+1 extraction at scan speed + ONE hash aggregate +
    broadcast share; the oracle mirrors the same suffix decision
    table (operators/domains.py)."""
    from rdf_knowledge_extractor_spark.operators.domains import domain_report

    return domain_report(_docs_with_urls(spark, sf))


def q_corpus_url_canon(spark, sf):
    """URL canonicalization (round-5 web-curation op): scheme/host
    case, userinfo, default ports, fragments, tracking params, param
    order, and trailing slashes all normalized at scan speed; the
    synthetic messy URLs are built with the SAME case arms in the
    oracle (operators/domains.py::canonical_url)."""
    from rdf_knowledge_extractor_spark.operators.domains import (
        canonical_url,
        registrable_domain,
    )

    d = _docs(spark, sf)
    m = d.doc_id % 4
    sid = F.concat(d.source, (d.doc_id % 9).cast("string"))
    messy = (
        F.when(
            m == 0,
            F.concat(
                F.lit("HTTPS://User@"), sid,
                F.lit(".COM:443/p/"), d.doc_id.cast("string"),
                F.lit("/?utm_source=x&b=2&a=1#f"),
            ),
        )
        .when(m == 1, F.concat(F.lit("http://"), sid, F.lit(".com:80/")))
        .when(
            m == 2,
            F.concat(
                F.lit("http://"), sid, F.lit(".org:8080/x/"),
                d.doc_id.cast("string"), F.lit("/"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://"), sid, F.lit(".co.uk/a?z=1&gclid=g&y=2")
            )
        )
    )
    canon = canonical_url(messy)
    return d.select(
        "doc_id",
        canon.alias("url_canon"),
        registrable_domain(canon).alias("domain"),
    )


def q_corpus_bm25(spark, sf):
    """BM25 top-10 retrieval for three fixed queries (round-5
    training-data op): one corpus-sized postings shuffle, broadcast
    query-term pruning, WindowGroupLimit top-k; the oracle recomputes
    the identical Okapi formula in SQL (operators/search.py)."""
    from rdf_knowledge_extractor_spark.operators.search import bm25_topk

    return bm25_topk(_docs(spark, sf), BM25_QUERIES, k=10)


def q_corpus_links(spark, sf):
    """Hyperlink extraction through the real WHATWG parser over
    deterministically synthesized linky HTML (round-5 web op): the
    oracle extracts the same links by regex — fair on this
    well-formed corpus, while the parser also survives the messy-web
    cases covered in tests/test_links.py (functions/links.py)."""
    from rdf_knowledge_extractor_spark.functions.links import (
        with_extracted_links,
    )

    from rdf_knowledge_extractor_spark.operators.dispatch import spread

    # spread: one WHATWG parse per page in a pandas UDF — a
    # one-row-group scan serializes the whole corpus in one task
    d = spread(_docs(spark, sf))
    sid = F.concat(d.source, (d.doc_id % 9).cast("string"))
    html = F.concat(
        F.lit("<html><body><p>doc</p><a href=\"https://"),
        sid,
        F.lit(".example.com/p/"),
        d.doc_id.cast("string"),
        F.lit("\">anchor "),
        d.doc_id.cast("string"),
        F.lit("</a>"),
        F.when(
            d.doc_id % 3 == 0,
            F.concat(
                F.lit("<a href=\"https://hub.example.org/t/"),
                (d.doc_id % 11).cast("string"),
                F.lit("\">topic "),
                (d.doc_id % 11).cast("string"),
                F.lit("</a>"),
            ),
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    pages = d.select(F.col("doc_id"), html.alias("html"))
    return with_extracted_links(pages, html_col="html", id_col="doc_id")


def q_kg_triangles(spark, sf):
    """Per-node triangle counts over a deterministic chord graph on
    the doc ids (round-5 graph-analytics op): degree-ordered
    orientation (Suri-Vassilvitskii) so each triangle is found once
    at its smallest corner and hub wedges stay bounded
    (operators/triangles.py).  The oracle mirrors the same
    orientation with SQL row-value comparisons."""
    from rdf_knowledge_extractor_spark.operators.triangles import (
        triangle_counts,
    )

    d = _docs(spark, sf).select("doc_id")
    mx = d.agg(F.max("doc_id").alias("_m"))
    edges = (
        d.select(
            F.col("doc_id").alias("src"),
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(7))).alias("_o"),
        )
        .withColumn("dst", F.col("src") + F.col("_o"))
        .crossJoin(F.broadcast(mx))
        .filter(F.col("dst") <= F.col("_m"))
        .select("src", "dst")
    )
    return triangle_counts(edges)


def q_kg_clustering(spark, sf):
    """Local clustering coefficient per node over the same chord
    graph (round-5 graph-analytics op): triangle counts + one degree
    aggregate + node-keyed join (operators/triangles.py)."""
    from rdf_knowledge_extractor_spark.operators.triangles import (
        clustering_coefficient,
    )

    d = _docs(spark, sf).select("doc_id")
    mx = d.agg(F.max("doc_id").alias("_m"))
    edges = (
        d.select(
            F.col("doc_id").alias("src"),
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(7))).alias("_o"),
        )
        .withColumn("dst", F.col("src") + F.col("_o"))
        .crossJoin(F.broadcast(mx))
        .filter(F.col("dst") <= F.col("_m"))
        .select("src", "dst")
    )
    return clustering_coefficient(edges)


def q_kg_coreness(spark, sf):
    """Coreness per node over the chord graph (round-5 graph-analytics
    op): h-index fixpoint iteration — converges to exact core numbers
    (Lü et al. 2016) with window-based h-index, no neighbor arrays
    (operators/kcore.py).  Fixpoint loops are not SQL-expressible —
    NO oracle (rows-only); correctness carried by the
    independent-Python min-degree-peeling differential
    (tests/test_kcore.py).  The synthetic graph uses pseudo-random
    modular edges (expander-like, small diameter) rather than the
    ring-chord graph: h-index rounds track diameter, and the ring is
    the documented pathological input."""
    from rdf_knowledge_extractor_spark.operators.kcore import coreness

    d = _docs(spark, sf).select("doc_id")
    n = d.agg(F.count(F.lit(1)).alias("_n"))
    edges = (
        d.crossJoin(F.broadcast(n))
        .select(
            F.col("doc_id").alias("src"),
            F.explode(
                F.array(
                    (F.col("doc_id") * F.col("doc_id") + 7) % F.col("_n"),
                    (F.col("doc_id") * 3 + 11) % F.col("_n"),
                    (F.col("doc_id") * 7 + 1) % F.col("_n"),
                )
            ).alias("dst"),
        )
    )
    return coreness(edges)


HYBRID_PROBES = {"q_scan": 11, "q_hash": 42, "q_agg": 99}


def q_hybrid_search(spark, sf):
    """Hybrid lexical+vector retrieval fused with RRF (round-5 op):
    BM25 top-20 and exact-cosine top-20 per query — two already-tiny
    ranked slivers — fused by reciprocal rank; the oracle recomputes
    both arms and the fusion in SQL (operators/search.py)."""
    from rdf_knowledge_extractor_spark.operators.search import (
        bm25_topk,
        rrf_fuse,
    )
    from rdf_knowledge_extractor_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )
    from pyspark.sql import Window

    lex = bm25_topk(_docs(spark, sf), BM25_QUERIES, k=20).select(
        "query_id", "doc_id", "rank"
    )
    emb = _emb(spark, sf)
    probes = emb.filter(F.col("vec_id").isin(*HYBRID_PROBES.values()))
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    name = F.create_map(
        *[
            x
            for qid, vid in HYBRID_PROBES.items()
            for x in (F.lit(vid), F.lit(qid))
        ]
    )
    vec = (
        cosine_topk_bruteforce(emb, probes, k=20)
        .withColumn("rank", F.row_number().over(w))
        .select(
            name[F.col("query_id")].alias("query_id"),
            F.col("neighbor_id").alias("doc_id"),
            "rank",
        )
    )
    return rrf_fuse([lex, vec])


def q_corpus_lm_ppl(spark, sf):
    """Corpus-trained add-one bigram-LM perplexity per doc (round-5
    training-data op): one bigram explode + three hash aggregates +
    two sort-merge joins, all Catalyst (operators/lm_score.py)."""
    from rdf_knowledge_extractor_spark.operators.lm_score import (
        bigram_lm_scores,
    )

    return bigram_lm_scores(_docs(spark, sf))


def q_corpus_dupspans(spark, sf):
    """Cross-document duplicate 8-token-window spans, Lee-et-al-style
    (round-5 training-data op): windows explode + gram doc-count
    aggregate + skew-tolerant join back (operators/dupspans.py); the
    grams are window strings, as the DuckDB oracle compares them."""
    from rdf_knowledge_extractor_spark.operators.dupspans import (
        duplicate_span_report,
    )

    return duplicate_span_report(_docs(spark, sf))


def q_corpus_mix(spark, sf):
    """Deterministic downsampling to a 3-language recipe (round-5
    training-data op): one counts aggregate broadcast back, stateless
    md5-threshold keep predicate (operators/mixing.py).  Grouped by
    lang because the synthetic langs are non-uniform, so the rates
    exercise the binding-group math."""
    from rdf_knowledge_extractor_spark.operators.mixing import (
        mix_to_weights,
    )

    return mix_to_weights(
        _docs(spark, sf), MIX_WEIGHTS, group_col="lang"
    ).select("doc_id", "lang", "mix_rate")


# the mixing recipe the driver query and its oracle share
MIX_WEIGHTS = {"en": 0.5, "de": 0.2, "fr": 0.3}


def q_corpus_chunks(spark, sf):
    """Sliding-token-window chunking (round-5 training-data op):
    zero-shuffle Generate fan-out, md5 of each chunk as the value
    check (operators/chunking.py)."""
    from rdf_knowledge_extractor_spark.operators.chunking import (
        chunk_documents,
    )

    from rdf_knowledge_extractor_spark.operators.dispatch import spread

    # spread: the sliding-window Generate otherwise fans out in the
    # single task of a one-row-group scan (4.9 -> 0.6 s at sf1-scale);
    # no-op at scale
    out = chunk_documents(spread(_docs(spark, sf)))
    return out.select(
        "doc_id", "chunk_idx", "n_tokens",
        F.md5("chunk_text").alias("chunk_md5"),
    )


def q_corpus_pack(spark, sf):
    """Sequence packing (round-5 training-data op): bounded-overflow
    bin assignment — one window over the shard partitioning = one
    shuffle (operators/packing.py)."""
    from rdf_knowledge_extractor_spark.operators.packing import (
        pack_sequences_binned,
    )

    return pack_sequences_binned(_docs(spark, sf), max_tokens=512, n_shards=8)


def q_corpus_pii(spark, sf):
    """PII scrub (round-5 training-data op): per-type counts + md5 of
    the redacted text.  PII is planted deterministically from doc_id
    (the word-soup corpus contains none), identically in the oracle;
    zero-shuffle Catalyst map (functions/pii.py)."""
    from rdf_knowledge_extractor_spark.functions.pii import scrub_pii

    aug = _docs(spark, sf).select(
        "doc_id",
        F.concat_ws(
            " ",
            F.col("text"),
            F.concat(F.lit("user"), F.col("doc_id").cast("string"),
                     F.lit("@example.com")),
            F.concat(F.lit("10.0."),
                     (F.col("doc_id") % 256).cast("string"), F.lit(".7")),
            F.concat(F.lit("555-"),
                     F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
                     F.lit("-"),
                     F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")),
        ).alias("text"),
    )
    return scrub_pii(aug).select(
        "doc_id",
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
        F.col("n_phone").cast("long").alias("n_phone"),
        F.md5("redacted").alias("redacted_md5"),
    )


def q_multimodal_features(spark, sf):
    from rdf_knowledge_extractor_spark.functions.multimodal import (
        documents_as_media,
        extract_media_features,
    )

    media = documents_as_media(_docs(spark, sf))
    return extract_media_features(media, deterministic_fake=True).select(
        "media_id", "byte_len", "content_md5"
    )


def q_multimodal_audio(spark, sf):
    """Real-mode WAV decode (functions/wav.py) over a deterministic
    synthesized corpus; duration/RMS re-derived from the decoded
    samples, oracle recomputes them in closed form from doc_id."""
    from rdf_knowledge_extractor_spark.functions.multimodal import (
        documents_as_audio,
        extract_media_features,
    )

    from rdf_knowledge_extractor_spark.operators.dispatch import spread

    # spread: python WAV decode from a one-row-group scan is one task
    media = documents_as_audio(spread(_docs(spark, sf)))
    feats = extract_media_features(media, deterministic_fake=False)
    return feats.select(
        "media_id",
        "byte_len",
        F.round(F.element_at("feature", 3).cast("double"), 4).alias("duration_sec"),
        F.round(F.element_at("feature", 4).cast("double"), 4).alias("rms"),
        "decoder",
    )


def q_multimodal_jpeg(spark, sf):
    """Real-mode baseline-JPEG decode (functions/jpeg.py) over the
    deterministic flat-tile corpus (documents_as_jpeg): under the
    all-16-quant / multiples-of-4 contract decode is bit-exact, so
    width/height/channels/mean are closed-form integers the DuckDB
    oracle recomputes from doc_id without parsing any JPEG."""
    from rdf_knowledge_extractor_spark.functions.multimodal import (
        documents_as_jpeg,
        extract_media_features,
    )

    from rdf_knowledge_extractor_spark.operators.dispatch import spread

    # spread: the pure-python T.81 decode is ~1 ms/image — a
    # one-row-group scan serializes 5,000 decodes in one task
    # (measured 4.6 s -> 1.2 s at sf0.1); no-op at scale
    media = documents_as_jpeg(spread(_docs(spark, sf)))
    feats = extract_media_features(media, deterministic_fake=False)
    return feats.select(
        "media_id",
        F.round(F.element_at("feature", 1) * 1e4).cast("long").alias("width"),
        F.round(F.element_at("feature", 2) * 1e4).cast("long").alias("height"),
        F.round(F.element_at("feature", 3) * 4).cast("long").alias("channels"),
        F.round(F.element_at("feature", 4) * 255).cast("long").alias("mean_px"),
        "decoder",
    )


def q_corpus_weighted_sample(spark, sf):
    """Weighted sampling without replacement per language (round-5
    curation op): Efraimidis–Spirakis priorities from the md5 uniform,
    weight = n_chars, k=20 per lang; rank≤k compiles to
    WindowGroupLimit (operators/curation.weighted_sample_per_group)."""
    from rdf_knowledge_extractor_spark.operators.curation import (
        weighted_sample_per_group,
    )

    return weighted_sample_per_group(
        _docs(spark, sf), weight_col="n_chars", group_col="lang"
    ).select("doc_id", "lang", "n_chars")


def q_kg_pagerank(spark, sf):
    """Damped PageRank (5 iterations) over the KG's belongsTo link
    structure (round-5 graph-analytics op): per-iteration
    localCheckpoint, rank-only re-shuffles, broadcast dangling mass
    (operators/pagerank.py).  The oracle unrolls the same five
    iterations as chained CTEs."""
    from rdf_knowledge_extractor_spark.operators.pagerank import pagerank
    from rdf_knowledge_extractor_spark.sources.doc_triples import (
        NS,
        derive_triples,
    )

    edges = (
        derive_triples(_docs(spark, sf))
        .filter(F.col("predicate") == NS + "belongsTo")
        .select(F.col("subject").alias("src"), F.col("object").alias("dst"))
    )
    return pagerank(edges)


def q_events_funnel(spark, sf):
    """Ordered view→click→purchase funnel over high-value events
    (round-5 analytics op): one-shuffle sorted-fold chain matching;
    the oracle evaluates the same semantics as cascaded min-join
    aggregates — a genuine differential test (operators/funnel.py).
    The value>120 cut thins the synthetic stream so conversion is
    partial (95→46→10 at sf0.01) instead of saturating at 100%."""
    from rdf_knowledge_extractor_spark.operators.funnel import funnel_report

    return funnel_report(
        _events(spark, sf).filter(F.col("value") > 120.0),
        ["view", "click", "purchase"],
    )


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_events_pivot(spark, sf):
    """Daily × event-type count matrix (round-5 API-surface op):
    `groupBy(day).pivot(type, values)` with the value list PINNED —
    passing explicit pivot values skips Spark's extra distinct-scan
    job and keeps the output schema stable at any scale; compiles to
    one hash aggregate of CASE expressions (same shape as the
    oracle's manual CASE columns)."""
    return (
        _events(spark, sf)
        .groupBy(F.to_date("ts").cast("string").alias("day"))
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, EVENT_TYPES)
    )


def q_events_rolling_dau(spark, sf):
    """Daily actives + trailing 7-day distinct users (round-5
    analytics op): explode-by-offset exact rolling distincts — w× the
    deduped activity sliver, never the corpus
    (operators/funnel.py::rolling_unique_users)."""
    from rdf_knowledge_extractor_spark.operators.funnel import (
        rolling_unique_users,
    )

    return rolling_unique_users(_events(spark, sf))


def q_events_outliers(spark, sf):
    """Robust per-type outlier events (round-5 data-quality op):
    modified z-score on median/MAD — two grouped percentile passes +
    broadcast constants (operators/profile.py::robust_outliers);
    `percentile` hash-matches DuckDB median."""
    from rdf_knowledge_extractor_spark.operators.profile import (
        robust_outliers,
    )

    return robust_outliers(
        _events(spark, sf),
        value_col="value",
        group_col="event_type",
        id_col="event_id",
    )


def q_events_scd2(spark, sf):
    """SCD type-2 validity intervals per user over the event-type
    stream (round-5 warehouse op): one key-partitioned window pass —
    null-safe change detection via lag, valid_to via lead, no
    self-join (operators/scd.py)."""
    from rdf_knowledge_extractor_spark.operators.scd import scd2_intervals

    return scd2_intervals(
        _events(spark, sf), ["user_id"], "ts", ["event_type"]
    )


def q_events_profile(spark, sf):
    """Per-column profile of the events table (round-5 data-profiling
    op): ONE pass — Catalyst fuses the multi-count-distinct into a
    single Expand + two-level aggregate — then a k-row driver-side
    unpivot (operators/profile.py)."""
    from rdf_knowledge_extractor_spark.operators.profile import (
        table_profile,
    )

    from rdf_knowledge_extractor_spark.operators.dispatch import spread

    # spread: the Expand (×k columns) multiplies the scan output
    # BEFORE the partial aggregate — from a one-row-group scan that
    # is k× the table in a single task
    return table_profile(
        spread(_events(spark, sf)),
        ["event_id", "user_id", "event_type", "value", "props"],
    )


def q_events_retention(spark, sf):
    """Cohort retention grid (round-5 analytics op): first-activity
    cohorts x day offsets, one user-keyed shuffle + grid aggregate +
    broadcast cohort sizes (operators/funnel.py::cohort_retention)."""
    from rdf_knowledge_extractor_spark.operators.funnel import (
        cohort_retention,
    )

    return cohort_retention(_events(spark, sf))


def q_events_hourly(spark, sf):
    return (
        _events(spark, sf)
        .groupBy(
            F.date_trunc("hour", F.col("ts")).cast("string").alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def q_events_sessions(spark, sf):
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    ev = _events(spark, sf).withColumn("prev_ts", F.lag("ts").over(w))
    gap_exceeds = F.expr("ts - prev_ts > INTERVAL 1800 SECONDS")
    new_session = F.when(F.col("prev_ts").isNull() | gap_exceeds, 1).otherwise(0)
    return (
        ev.withColumn("new_s", new_session)
        .groupBy("user_id")
        .agg(F.sum("new_s").cast("long").alias("n_sessions"))
    )


def q_events_attribution(spark, sf):
    """As-of join attribution: each purchase + most recent prior click."""
    from rdf_knowledge_extractor_spark.operators.asof import asof_join

    ev = _events(spark, sf)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        F.col("value").alias("click_value"),
    )
    j = asof_join(purchases, clicks, on="user_id", ts_col="ts")
    return j.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        # parquet ts is TIMESTAMP_NTZ; unix_micros needs LTZ — session
        # TZ is pinned UTC so the cast is value-preserving
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        # no-match sentinels (-1 / 0.0) instead of NULL: nullable
        # BIGINTs round-trip as NaN through the oracle's pandas frame,
        # which the value-hash comparator cannot equate with None
        F.coalesce("click_id", F.lit(-1)).alias("click_id"),
        F.round(F.coalesce("click_value", F.lit(0.0)), 4).alias("click_value"),
    )


def q_tpch_q1(spark, sf):
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_tpch_q3ish(spark, sf):
    cust = spark.read.parquet(f"{sf}/customer.parquet").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("o_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


def _rotate_for_driver_window(reg: dict) -> dict:
    """Self-healing registry order for the driver's 50-row
    CORRECTNESS window (round-4 brief #2): queries absent from the
    most recent CORRECTNESS_r*.json move to the FRONT (internal order
    preserved), so a query missed in round N is guaranteed a row in
    round N+1 — every registered query is verified at least every
    second round.  Deterministic given repo state; no-op when no
    correctness file exists (first round, local runs)."""
    import glob
    import json as _json
    import os as _os

    here = _os.path.dirname(_os.path.abspath(__file__))
    files = sorted(glob.glob(_os.path.join(here, "CORRECTNESS_r*.json")))
    if not files:
        return reg
    try:
        with open(files[-1]) as f:
            covered = set(_json.load(f))
    except (OSError, ValueError):
        return reg
    missed = {k: v for k, v in reg.items() if k not in covered}
    rest = {k: v for k, v in reg.items() if k in covered}
    return {**missed, **rest}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _rotate_for_driver_window({
        "kg_triples_derive": q_kg_triples_derive,
        "kg_dedup_first": q_kg_dedup_first,
        "kg_insert_new": q_kg_insert_new,
        "kg_stats": q_kg_stats,
        "kg_entities_by_type": q_kg_entities_by_type,
        "kg_entity_properties": q_kg_entity_properties,
        "kg_query_name_pattern": q_kg_query_name_pattern,
        "kg_query_role_pattern": q_kg_query_role_pattern,
        "kg_sparql_bgp": q_kg_sparql_bgp,
        "kg_sparql_agg": q_kg_sparql_agg,
        "kg_sparql_union": q_kg_sparql_union,
        "kg_sparql_construct": q_kg_sparql_construct,
        "kg_sparql_path": q_kg_sparql_path,
        "kg_sparql_path_star": q_kg_sparql_path_star,
        "kg_sparql_path_seeded": q_kg_sparql_path_seeded,
        "kg_sparql_minus": q_kg_sparql_minus,
        "kg_sparql_bind_values": q_kg_sparql_bind_values,
        "kg_sparql_ask": q_kg_sparql_ask,
        "kg_sparql_describe": q_kg_sparql_describe,
        "kg_sparql_group_concat": q_kg_sparql_group_concat,
        "kg_sparql_pneg": q_kg_sparql_pneg,
        "kg_sparql_subquery": q_kg_sparql_subquery,
        "kg_traversal_2hop": q_kg_traversal_2hop,
        "kg_validation_filter": q_kg_validation_filter,
        "kg_validation_issues": q_kg_validation_issues,
        "kg_ntriples_strict": q_kg_ntriples_strict,
        "kg_ntriples_store": q_kg_ntriples_store,
        "kg_turtle_lines": q_kg_turtle_lines,
        "kg_jsonld_nodes": q_kg_jsonld_nodes,
        "kg_rdfxml_lines": q_kg_rdfxml_lines,
        "kg_connected_components": q_kg_connected_components,
        "kg_link_mapping": q_kg_link_mapping,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_survivors": q_dedup_survivors,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        "dedup_embedding": q_dedup_embedding,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_ivf_fullprobe": q_ann_ivf_fullprobe,
        "ann_lsh_fullcover": q_ann_lsh_fullcover,
        "text_langid": q_text_langid,
        "text_quality": q_text_quality,
        "text_tokens": q_text_tokens,
        "text_fingerprint": q_text_fingerprint,
        "text_quality_percentiles": q_text_quality_percentiles,
        "docs_rollup": q_docs_rollup,
        "corpus_sample": q_corpus_sample,
        "corpus_quota": q_corpus_quota,
        "corpus_curate": q_corpus_curate,
        "corpus_repetition": q_corpus_repetition,
        "corpus_top_terms": q_corpus_top_terms,
        "corpus_decontam": q_corpus_decontam,
        "corpus_pack": q_corpus_pack,
        "corpus_chunks": q_corpus_chunks,
        "corpus_split": q_corpus_split,
        "text_entropy": q_text_entropy,
        "corpus_tfidf": q_corpus_tfidf,
        "corpus_bm25": q_corpus_bm25,
        "corpus_domains": q_corpus_domains,
        "corpus_bpe": q_corpus_bpe,
        "hybrid_search_rrf": q_hybrid_search,
        "kg_triangles": q_kg_triangles,
        "corpus_url_canon": q_corpus_url_canon,
        "kg_clustering": q_kg_clustering,
        "kg_coreness": q_kg_coreness,
        "corpus_lm_ppl": q_corpus_lm_ppl,
        "corpus_dupspans": q_corpus_dupspans,
        "corpus_mix": q_corpus_mix,
        "corpus_pii": q_corpus_pii,
        "multimodal_features": q_multimodal_features,
        "multimodal_audio": q_multimodal_audio,
        "multimodal_jpeg": q_multimodal_jpeg,
        "corpus_weighted_sample": q_corpus_weighted_sample,
        "kg_pagerank": q_kg_pagerank,
        "events_funnel": q_events_funnel,
        "events_retention": q_events_retention,
        "events_profile": q_events_profile,
        "events_scd2": q_events_scd2,
        "events_outliers": q_events_outliers,
        "events_rolling_dau": q_events_rolling_dau,
        "corpus_links": q_corpus_links,
        "events_pivot": q_events_pivot,
        "events_hourly": q_events_hourly,
        "events_sessions": q_events_sessions,
        "events_attribution": q_events_attribution,
        "tpch_q1": q_tpch_q1,
        "tpch_q3ish": q_tpch_q3ish,
    })


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

def _lang_scores_sql() -> str:
    # derived from the ENGINE's marker dict so the oracle can never
    # drift from the implementation when languages are added
    from rdf_knowledge_extractor_spark.functions.text_analysis import LANG_MARKERS

    markers = LANG_MARKERS

    def occ(m):
        return (
            f"CAST((length(' ' || text || ' ') - "
            f"length(replace(' ' || text || ' ', '{m}', ''))) / {len(m)} AS BIGINT)"
        )

    return ", ".join(
        f"({' + '.join(occ(m) for m in ms)}) AS s_{lang}" for lang, ms in markers.items()
    )


def oracle_sql() -> dict[str, str]:
    derive = DERIVE_TRIPLES_SQL
    dedup = DEDUP_SQL
    strict_obj = (
        "CASE WHEN object LIKE 'http://%' OR object LIKE 'https://%' "
        "THEN '<' || object || '>' "
        "ELSE '\"' || replace(object, '\"', '\\\"') || '\"' END"
    )
    store_term = (
        lambda col: f"CASE WHEN {col} LIKE 'http%' THEN '<' || {col} || '>' "
        f"ELSE '\"' || {col} || '\"' END"
    )
    turtle_term = (
        lambda col: f"CASE WHEN {col} LIKE '{NS}%' "
        f"THEN 'kg:' || substr({col}, {len(NS) + 1}) "
        f"ELSE '<' || {col} || '>' END"
    )
    qm = {
        "kg_triples_derive": f"SELECT subject, predicate, object, doc_seq, triple_seq FROM ({derive})",
        "kg_dedup_first": dedup,
        "kg_insert_new": f"""
            WITH t AS ({derive}),
            graph AS (
              SELECT subject, predicate, object FROM (
                SELECT *, row_number() OVER (PARTITION BY subject, predicate, object
                                             ORDER BY doc_seq, triple_seq) rn
                FROM t WHERE doc_seq % 2 = 0) WHERE rn = 1
            ),
            batch AS (
              SELECT subject, predicate, object FROM (
                SELECT *, row_number() OVER (PARTITION BY subject, predicate, object
                                             ORDER BY doc_seq, triple_seq) rn
                FROM t WHERE doc_seq % 2 = 1) WHERE rn = 1
            )
            SELECT b.subject, b.predicate, b.object FROM batch b
            WHERE NOT EXISTS (
              SELECT 1 FROM graph g WHERE g.subject = b.subject
                AND g.predicate = b.predicate AND g.object = b.object)
        """,
        "kg_stats": f"""
            SELECT CAST(count(*) AS BIGINT) AS total_triples,
                   CAST(count(DISTINCT subject) AS BIGINT) AS unique_subjects,
                   CAST(count(DISTINCT predicate) AS BIGINT) AS unique_predicates,
                   CAST(count(DISTINCT object) AS BIGINT) AS unique_objects
            FROM ({dedup})
        """,
        "kg_entities_by_type": f"""
            SELECT DISTINCT subject AS entity FROM ({dedup})
            WHERE predicate LIKE '%type%' AND object = '{NS}Document'
        """,
        "kg_entity_properties": f"""
            SELECT predicate, string_agg(object, '|' ORDER BY object) AS objects_str
            FROM ({dedup}) WHERE subject = '{BASE}doc0' GROUP BY predicate
        """,
        "kg_query_name_pattern": f"""
            SELECT object AS name, subject AS entity FROM ({dedup})
            WHERE predicate LIKE '%hasName%'
        """,
        "kg_query_role_pattern": f"""
            SELECT object AS role, subject AS person FROM ({dedup})
            WHERE predicate LIKE '%hasRole%'
        """,
        "kg_sparql_bgp": f"""
            WITH g AS ({dedup})
            SELECT a.subject AS doc, b.object AS lang
            FROM g a JOIN g b ON a.subject = b.subject
            WHERE a.predicate = '{NS}belongsTo' AND a.object = '{BASE}src_src0'
              AND b.predicate = '{NS}hasLang'
        """,
        "kg_sparql_agg": f"""
            SELECT predicate AS p, CAST(count(*) AS BIGINT) AS n
            FROM ({dedup}) GROUP BY predicate HAVING count(*) >= 1
        """,
        "kg_sparql_union": f"""
            WITH g AS ({dedup})
            SELECT object AS v FROM g WHERE predicate = '{NS}hasLang'
            UNION ALL
            SELECT object AS v FROM g WHERE predicate = '{NS}hasName'
        """,
        "kg_sparql_path": f"""
            WITH g AS ({dedup})
            SELECT a.subject AS d, b.object AS n
            FROM g a JOIN g b ON a.object = b.subject
            WHERE a.predicate = '{NS}belongsTo' AND b.predicate = '{NS}hasName'
        """,
        "kg_sparql_path_star": f"""
            WITH RECURSIVE edges AS (
              SELECT src, dst FROM (
                SELECT 'd' || CAST(doc_id AS VARCHAR) AS src,
                       'd' || CAST(lead(doc_id) OVER (
                           PARTITION BY source, floor((rn - 1) / 20)
                           ORDER BY doc_id) AS VARCHAR) AS dst
                FROM (
                  SELECT doc_id, source,
                         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
                  FROM documents))
              WHERE dst IS NOT NULL
            ),
            closure AS (
              SELECT src, dst FROM edges
              UNION
              SELECT c.src, e.dst FROM closure c JOIN edges e ON c.dst = e.src
            ),
            nodes AS (
              SELECT src AS n FROM edges UNION SELECT dst FROM edges
            )
            SELECT src AS a, dst AS b FROM closure
            UNION
            SELECT n AS a, n AS b FROM nodes
        """,
        "kg_sparql_path_seeded": f"""
            WITH RECURSIVE edges AS (
              SELECT src, dst FROM (
                SELECT 'd' || CAST(doc_id AS VARCHAR) AS src,
                       'd' || CAST(lead(doc_id) OVER (
                           PARTITION BY source, floor((rn - 1) / 20)
                           ORDER BY doc_id) AS VARCHAR) AS dst
                FROM (
                  SELECT doc_id, source,
                         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
                  FROM documents))
              WHERE dst IS NOT NULL
            ),
            reach AS (
              SELECT dst FROM edges WHERE src = 'd0'
              UNION
              SELECT e.dst FROM reach r JOIN edges e ON r.dst = e.src
            )
            SELECT dst AS b FROM reach
        """,
        "kg_sparql_minus": f"""
            WITH g AS ({dedup})
            SELECT a.subject AS d, a.object AS s
            FROM g a
            WHERE a.predicate = '{NS}belongsTo'
              AND a.object NOT IN (
                SELECT subject FROM g
                WHERE predicate = '{NS}hasName' AND object LIKE '%0')
        """,
        "kg_sparql_bind_values": f"""
            WITH g AS ({dedup})
            SELECT subject AS d, object AS lang, object || ':doc' AS label
            FROM g
            WHERE predicate = '{NS}hasLang' AND object IN ('en', 'de')
        """,
        "kg_sparql_ask": f"""
            SELECT count(*) > 0 AS ask
            FROM ({dedup})
            WHERE predicate = '{NS}hasLang' AND object = 'en'
        """,
        "kg_sparql_describe": f"""
            WITH g AS ({dedup}),
            res AS (
              SELECT '{BASE}src_src3' AS s
              UNION
              SELECT subject FROM g
              WHERE predicate = '{NS}belongsTo'
                AND object = '{BASE}src_src3'
            )
            SELECT DISTINCT g.subject, g.predicate, g.object
            FROM g JOIN res ON g.subject = res.s
        """,
        "kg_sparql_group_concat": f"""
            WITH g AS ({dedup}),
            j AS (
              SELECT a.object AS s, b.object AS l, b.subject AS d
              FROM g a JOIN g b ON a.subject = b.subject
              WHERE a.predicate = '{NS}belongsTo'
                AND b.predicate = '{NS}hasLang'
            )
            SELECT s, string_agg(l, '|' ORDER BY l) AS langs, min(d) AS one
            FROM j GROUP BY s
        """,
        "kg_sparql_subquery": f"""
            WITH g AS ({dedup}),
            c AS (
              SELECT object AS s, count(*) AS c FROM g
              WHERE predicate = '{NS}belongsTo'
              GROUP BY object HAVING count(*) >= 2
            )
            SELECT c.s AS s, g2.object AS n
            FROM c JOIN g g2
              ON g2.subject = c.s AND g2.predicate = '{NS}hasName'
        """,
        "kg_sparql_pneg": f"""
            SELECT subject AS s, object AS o
            FROM ({dedup})
            WHERE predicate NOT IN (
              '{NS}hasLang', '{NS}hasSource', '{NS}belongsTo', '{RDF_TYPE}'
            )
        """,
        "kg_sparql_construct": f"""
            SELECT DISTINCT subject,
                   '{NS}summaryLang' AS predicate,
                   object
            FROM ({dedup}) WHERE predicate = '{NS}hasLang'
        """,
        "kg_traversal_2hop": f"""
            WITH g AS ({dedup}),
            edges AS (
              SELECT subject AS src, object AS dst FROM g WHERE object LIKE 'http%'
              UNION
              SELECT object AS src, subject AS dst FROM g WHERE object LIKE 'http%'
            ),
            hop1 AS (SELECT DISTINCT dst AS e FROM edges WHERE src = '{BASE}doc0'),
            hop2 AS (SELECT DISTINCT e2.dst AS e FROM hop1 JOIN edges e2 ON e2.src = hop1.e)
            SELECT DISTINCT e AS entity FROM (SELECT e FROM hop1 UNION SELECT e FROM hop2)
            WHERE e <> '{BASE}doc0'
        """,
        "kg_validation_filter": f"""
            SELECT subject, predicate, object, doc_seq, triple_seq FROM ({derive})
            WHERE subject LIKE 'http%'
              AND list_extract(string_split(list_extract(string_split(predicate, '/'), -1), '#'), -1)
                  IN ('hasLang', 'hasSource', 'belongsTo', 'hasName')
        """,
        "kg_jsonld_nodes": f"""
            WITH g AS ({dedup}),
            kv AS (
              SELECT subject,
                CASE WHEN predicate LIKE '{NS}%'
                     THEN 'kg:' || substr(predicate, {len(NS) + 1})
                     ELSE predicate END AS k,
                CASE WHEN object LIKE 'http://%' OR object LIKE 'https://%'
                     THEN '{{"@id":' || CAST(to_json(object) AS VARCHAR) || '}}'
                     ELSE CAST(to_json(object) AS VARCHAR) END AS v,
                row_number() OVER (
                  PARTITION BY subject,
                    CASE WHEN predicate LIKE '{NS}%'
                         THEN 'kg:' || substr(predicate, {len(NS) + 1})
                         ELSE predicate END
                  ORDER BY doc_seq DESC, triple_seq DESC
                ) AS rn
              FROM g
            ),
            props AS (
              SELECT subject,
                string_agg(CAST(to_json(k) AS VARCHAR) || ':' || v, ',' ORDER BY k, v) AS p
              FROM kv WHERE rn = 1 GROUP BY subject
            )
            SELECT '{{"@id":' || CAST(to_json(subject) AS VARCHAR)
                   || CASE WHEN length(p) > 0 THEN ',' || p ELSE '' END
                   || '}}' AS line
            FROM props
        """,
        "kg_rdfxml_lines": f"""
            SELECT subject,
              CASE WHEN object LIKE 'http://%' OR object LIKE 'https://%'
                THEN '    <' ||
                     (CASE WHEN predicate LIKE '{NS}%'
                           THEN 'kg:' || substr(predicate, {len(NS) + 1})
                           ELSE list_extract(string_split(predicate, '#'), -1) END)
                     || ' rdf:resource="' || object || '"/>'
                ELSE '    <' ||
                     (CASE WHEN predicate LIKE '{NS}%'
                           THEN 'kg:' || substr(predicate, {len(NS) + 1})
                           ELSE list_extract(string_split(predicate, '#'), -1) END)
                     || '>' ||
                     replace(replace(replace(object, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')
                     || '</' ||
                     (CASE WHEN predicate LIKE '{NS}%'
                           THEN 'kg:' || substr(predicate, {len(NS) + 1})
                           ELSE list_extract(string_split(predicate, '#'), -1) END)
                     || '>'
              END AS line
            FROM ({dedup})
        """,
        "kg_connected_components": f"""
            WITH RECURSIVE
            g AS ({dedup}),
            e0 AS (
              SELECT DISTINCT subject AS a, object AS b FROM g
              WHERE object LIKE 'http://%' OR object LIKE 'https://%'
            ),
            edges AS (SELECT DISTINCT a, b FROM (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0)),
            walk(node, comp) AS (
              SELECT a, a FROM edges
              UNION
              SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.node
            )
            SELECT node, min(comp) AS component FROM walk GROUP BY node
        """,
        "kg_link_mapping": f"""
            WITH RECURSIVE
            g AS ({derive}),
            ents AS (
              SELECT DISTINCT uri FROM (
                SELECT subject AS uri FROM g
                UNION ALL
                SELECT object FROM g
                WHERE object LIKE 'http://%' OR object LIKE 'https://%'
              )
            ),
            vars AS (
              -- DISTINCT over UNION ALL: inside WITH RECURSIVE, DuckDB
              -- mis-dedupes chained UNIONs in non-recursive CTEs
              SELECT DISTINCT uri FROM (
                SELECT uri FROM ents
                UNION ALL SELECT uri || 'Inc' FROM ents
                UNION ALL SELECT uri || 'WidgetFactory' FROM ents
                UNION ALL SELECT uri || 'WidgetFactori' FROM ents
              )
            ),
            loc AS (
              SELECT uri,
                list_extract(string_split(list_extract(string_split(uri, '/'), -1), '#'), -1) AS local
              FROM vars
            ),
            keyed AS (
              SELECT uri,
                CASE WHEN length(stripped) >= 3 THEN stripped ELSE norm END AS key
              FROM (
                SELECT uri,
                  lower(regexp_replace(
                    regexp_replace(local,
                      '([a-z0-9])(Inc|Corp|Corporation|Solutions|Industries|Group|Labs|Ltd|Llc|Gmbh)$',
                      '\\1'),
                    '[^a-zA-Z0-9]', '', 'g')) AS stripped,
                  lower(regexp_replace(local, '[^a-zA-Z0-9]', '', 'g')) AS norm
                FROM loc
              )
            ),
            reps AS (SELECT key, min(uri) AS rep FROM keyed GROUP BY key),
            sh AS (
              -- fixed-range series (DuckDB cannot lateral-join a column
              -- into generate_series); 96 bounds key length here
              SELECT DISTINCT key, gk FROM (
                SELECT key, substr(key, CAST(i AS INT), 3) AS gk
                FROM reps, generate_series(1, 96) AS t(i)
                WHERE length(key) >= 3 AND i <= length(key) - 2
                UNION ALL
                SELECT key, key FROM reps WHERE length(key) < 3
              )
            ),
            sizes AS (SELECT key, count(*) AS n FROM sh GROUP BY key),
            cand AS (
              SELECT a.key AS ka, b.key AS kb, count(*) AS inter
              FROM sh a JOIN sh b ON a.gk = b.gk AND a.key < b.key
              GROUP BY 1, 2
            ),
            fuzzy AS (
              SELECT ra.rep AS ua, rb.rep AS ub
              FROM cand c
              JOIN sizes sa ON sa.key = c.ka
              JOIN sizes sb ON sb.key = c.kb
              JOIN reps ra ON ra.key = c.ka
              JOIN reps rb ON rb.key = c.kb
              WHERE CAST(c.inter AS DOUBLE) / (sa.n + sb.n - c.inter) >= 0.85
            ),
            edges AS (SELECT DISTINCT a, b FROM (SELECT ua AS a, ub AS b FROM fuzzy UNION ALL SELECT ub, ua FROM fuzzy)),
            walk(node, comp) AS (
              SELECT a, a FROM edges
              UNION
              SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.node
            ),
            comps AS (SELECT node, min(comp) AS component FROM walk GROUP BY node),
            repcanon AS (
              SELECT r.key, COALESCE(c.component, r.rep) AS canonical
              FROM reps r LEFT JOIN comps c ON c.node = r.rep
            )
            SELECT k.uri AS uri, rc.canonical AS canonical
            FROM keyed k JOIN repcanon rc ON rc.key = k.key
        """,
        "kg_validation_issues": f"""
            WITH t AS (
              SELECT *, row_number() OVER (ORDER BY doc_seq, triple_seq) - 1 AS i
              FROM ({derive})
            ),
            checks AS (
              SELECT i, 1 AS ord,
                CASE WHEN NOT (subject LIKE 'http://%' OR subject LIKE 'https://%')
                  THEN 'Triple ' || CAST(i AS VARCHAR) || ': Invalid subject URI: ' || subject END AS issue FROM t
              UNION ALL
              SELECT i, 2,
                CASE WHEN NOT (predicate LIKE 'http://%' OR predicate LIKE 'https://%')
                  THEN 'Triple ' || CAST(i AS VARCHAR) || ': Invalid predicate URI: ' || predicate END FROM t
              UNION ALL
              SELECT i, 3, CASE WHEN subject = '' THEN 'Triple ' || CAST(i AS VARCHAR) || ': Empty subject' END FROM t
              UNION ALL
              SELECT i, 4, CASE WHEN predicate = '' THEN 'Triple ' || CAST(i AS VARCHAR) || ': Empty predicate' END FROM t
              UNION ALL
              SELECT i, 5, CASE WHEN object = '' THEN 'Triple ' || CAST(i AS VARCHAR) || ': Empty object' END FROM t
            )
            SELECT issue FROM checks WHERE issue IS NOT NULL
        """,
        "kg_ntriples_strict": f"""
            SELECT '<' || subject || '> <' || predicate || '> ' || {strict_obj} || ' .' AS line
            FROM ({dedup})
        """,
        "kg_ntriples_store": f"""
            SELECT {store_term('subject')} || ' <' || predicate || '> ' || {store_term('object')} || ' .' AS line
            FROM ({dedup})
        """,
        "kg_turtle_lines": f"""
            SELECT {turtle_term('subject')} || ' ' || {turtle_term('predicate')} || ' ' || {strict_obj} || ' .' AS line
            FROM ({dedup})
        """,
        "dedup_exact": """
            SELECT md5(text) AS fingerprint,
                   CAST(min(doc_id) AS BIGINT) AS keeper_id,
                   CAST(count(*) AS BIGINT) AS n_copies
            FROM documents GROUP BY md5(text)
        """,
        "dedup_ngram_jaccard": """
            WITH sh AS (
              SELECT DISTINCT doc_id,
                     unnest(list_transform(generate_series(1, greatest(len(text) - 8, 1)),
                                           i -> substr(text, i, 9))) AS g
              FROM documents
            ),
            cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
              FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b, round(c * 1.0 / (ca.n + cb.n - c), 4) AS jaccard
            FROM inter
            JOIN cnt ca ON ca.doc_id = id_a
            JOIN cnt cb ON cb.doc_id = id_b
            WHERE c * 1.0 / (ca.n + cb.n - c) >= 0.8
        """,
        "dedup_embedding": """
            WITH m AS (
              SELECT vec_id, embedding::DOUBLE[] AS e,
                     sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
              FROM embeddings
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4) AS sim
            FROM m a JOIN m b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.45
        """,
        "ann_cosine_topk": """
            WITH m AS (
              SELECT vec_id, embedding::DOUBLE[] AS e,
                     sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
              FROM embeddings
            ),
            scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 4) AS sim
              FROM m q JOIN m c ON q.vec_id <> c.vec_id
              WHERE q.vec_id < 10
            )
            SELECT query_id, neighbor_id, sim FROM (
              SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rn
              FROM scored
            ) WHERE rn <= 5
        """,
        "text_langid": f"""
            WITH s AS (SELECT doc_id, {_lang_scores_sql()} FROM documents)
            SELECT doc_id, {_lang_pred_case()} AS lang_detected
            FROM s
        """,
        "text_tokens": r"""
            SELECT doc_id,
              CAST(CASE WHEN trim(text) = '' THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_words,
              CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 \t\n\r]')) AS BIGINT) AS n_tokens
            FROM documents
        """,
        "text_fingerprint": "SELECT doc_id, md5(text) AS fingerprint FROM documents",
        "docs_rollup": """
            SELECT CASE WHEN GROUPING(lang) = 1 THEN 'ALL' ELSE lang END AS lang,
                   CASE WHEN GROUPING(source) = 1 THEN 'ALL' ELSE source END AS source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_chars
            FROM documents GROUP BY ROLLUP(lang, source)
        """,
        "corpus_sample": """
            SELECT doc_id, source, lang FROM documents
            WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'
        """,
        "corpus_quota": """
            SELECT doc_id, source FROM (
              SELECT doc_id, source, row_number() OVER (
                PARTITION BY source
                ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS rn
              FROM documents) WHERE rn <= 5
        """,
        "corpus_top_terms": r"""
            SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM (
              SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
              FROM documents)
            WHERE length(term) > 0
            GROUP BY term HAVING count(*) >= 2
            ORDER BY cnt DESC, term ASC LIMIT 100
        """,
        "multimodal_features": """
            SELECT CAST(doc_id AS BIGINT) AS media_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
                   md5(text) AS content_md5
            FROM documents
        """,
        "multimodal_audio": """
            -- closed forms of the synthesized WAV (documents_as_audio):
            -- frames = (id%50+1)*160 @ 16 kHz mono 16-bit → 44-byte
            -- header + 2 bytes/frame; constant amplitude (id%9+1)/10
            -- quantized to int16 → RMS rounds back to the amplitude
            SELECT CAST(doc_id AS BIGINT) AS media_id,
                   CAST(44 + ((doc_id % 50) + 1) * 160 * 2 AS BIGINT) AS byte_len,
                   round(((doc_id % 50) + 1) * 160 / 16000.0, 4) AS duration_sec,
                   round(((doc_id % 9) + 1) / 10.0, 4) AS rms,
                   'wav-stdlib-v1' AS decoder
            FROM documents
        """,
        "multimodal_jpeg": """
            -- closed forms of the synthesized flat-tile JPEG
            -- (documents_as_jpeg): tx x ty grid of flat 8x8 tiles,
            -- tile k = 4*((7*id + 13*k) % 64); all-16 quant table
            -- makes decode bit-exact, and the tile sum (multiples of
            -- 4, tile count 1/2/4) divides evenly into an integer mean
            WITH t AS (
              SELECT CAST(doc_id AS BIGINT) AS id,
                     CAST(doc_id % 2 + 1 AS BIGINT) AS tx,
                     CAST((doc_id // 2) % 2 + 1 AS BIGINT) AS ty
              FROM documents
            )
            SELECT id AS media_id,
                   8 * tx AS width,
                   8 * ty AS height,
                   CAST(1 AS BIGINT) AS channels,
                   CAST(4 * (
                        (7 * id) % 64
                        + CASE WHEN tx * ty >= 2 THEN (7 * id + 13) % 64 ELSE 0 END
                        + CASE WHEN tx * ty = 4
                               THEN (7 * id + 26) % 64 + (7 * id + 39) % 64
                               ELSE 0 END
                   ) / (tx * ty) AS BIGINT) AS mean_px,
                   'jpeg-stdlib-v1' AS decoder
            FROM t
        """,
        "events_hourly": """
            SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour, event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(SUM(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "events_attribution": """
            SELECT l.event_id AS purchase_id, l.user_id,
                   epoch_us(l.ts) AS ts_us,
                   COALESCE(r.event_id, -1) AS click_id,
                   round(COALESCE(r.value, 0), 4) AS click_value
            FROM (SELECT * FROM events WHERE event_type = 'purchase') l
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "events_sessions": """
            WITH e AS (
              SELECT user_id, ts,
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
              FROM events
            )
            SELECT user_id,
                   CAST(SUM(CASE WHEN prev_ts IS NULL
                             OR ts - prev_ts > INTERVAL 1800 SECOND THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
            FROM e GROUP BY user_id
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   round(SUM(l_quantity), 2) AS sum_qty,
                   round(SUM(l_extendedprice), 2) AS sum_base_price,
                   round(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   CAST(count(*) AS BIGINT) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "tpch_q3ish": """
            SELECT o_orderkey, round(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey
            ORDER BY revenue DESC, o_orderkey ASC
            LIMIT 10
        """,
    }
    # text_quality shares the word/stopword arithmetic — built separately
    qm["text_quality"] = _text_quality_sql()
    qm["corpus_curate"] = _curate_sql()
    qm["corpus_repetition"] = r"""
        WITH lines AS (
          SELECT doc_id, line FROM (
            SELECT doc_id, unnest(string_split(text, chr(10))) AS line
            FROM documents
          ) WHERE trim(line) <> ''
        ),
        per_line AS (
          SELECT doc_id, line, count(*) AS cnt FROM lines GROUP BY doc_id, line
        )
        SELECT doc_id,
          CAST(SUM(cnt) AS BIGINT) AS n_lines,
          round((SUM(cnt) - count(*)) / CAST(SUM(cnt) AS DOUBLE), 4)
            AS dup_line_frac,
          round(SUM((cnt - 1) * length(line))
                / CAST(SUM(cnt * length(line)) AS DOUBLE), 4)
            AS dup_line_char_frac,
          round(SUM(CASE WHEN regexp_matches(line, '^\s*([-*•‣◦]|[0-9]+[.)])\s')
                         THEN cnt ELSE 0 END) / CAST(SUM(cnt) AS DOUBLE), 4)
            AS bullet_line_frac,
          round(SUM(CASE WHEN regexp_matches(line, '(\.\.\.|…)\s*$')
                         THEN cnt ELSE 0 END) / CAST(SUM(cnt) AS DOUBLE), 4)
            AS ellipsis_line_frac
        FROM per_line GROUP BY doc_id
    """
    qm["text_quality_percentiles"] = f"""
        WITH {_quality_ctes("documents")},
        q AS ({_QUALITY_SELECT.strip()}),
        l AS (
          SELECT doc_id, {_lang_pred_case()} AS lang_pred
          FROM (SELECT doc_id, {_lang_scores_sql()} FROM documents)
        )
        SELECT l.lang_pred, CAST(count(*) AS BIGINT) AS n_docs,
               round(quantile_cont(q.quality_score, 0.5), 4) AS p50,
               round(quantile_cont(q.quality_score, 0.9), 4) AS p90,
               round(quantile_cont(q.quality_score, 0.99), 4) AS p99
        FROM q JOIN l ON q.doc_id = l.doc_id
        GROUP BY l.lang_pred
    """
    # word 3-grams via a fixed index range (DuckDB generate_series
    # cannot take a column bound); docs cap at 100 tokens, range 128.
    # DuckDB list slice t[i:i+2] is 1-based INCLUSIVE — 3 elements.
    qm["corpus_decontam"] = r"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             x -> x <> '') AS t
          FROM documents
        ),
        grams AS (
          SELECT doc_id, array_to_string(t[i:i+2], ' ') AS g
          FROM toks, generate_series(1, 128) AS s(i)
          WHERE i <= len(t) - 2
        ),
        bg AS (SELECT DISTINCT g FROM grams WHERE doc_id % 37 = 0)
        SELECT d.doc_id, CAST(count(DISTINCT d.g) AS BIGINT) AS n_matched
        FROM grams d JOIN bg ON d.g = bg.g
        GROUP BY d.doc_id
    """
    # char-bigram entropy over a 256-char prefix; docs shorter than 2
    # chars keep a row with entropy 0 (explode_outer in the engine)
    qm["text_entropy"] = r"""
        WITH t AS (SELECT doc_id, substr(text, 1, 256) AS t FROM documents),
        bg AS (
          SELECT doc_id, substr(t, i, 2) AS bg
          FROM t, generate_series(1, 255) s(i)
          WHERE i <= length(t) - 1
        ),
        c AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg),
        tot AS (SELECT doc_id, SUM(c) AS total FROM c GROUP BY doc_id),
        ent AS (
          SELECT c.doc_id,
                 -SUM((c.c * 1.0 / tot.total) * ln(c.c * 1.0 / tot.total))
                   AS e
          FROM c JOIN tot USING (doc_id) GROUP BY c.doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(tot.total, 0) AS BIGINT) AS n_bigrams,
               round(COALESCE(ent.e, 0.0), 4) AS entropy
        FROM (SELECT DISTINCT doc_id FROM documents) d
        LEFT JOIN tot USING (doc_id)
        LEFT JOIN ent USING (doc_id)
    """
    # split bounds derived from the ENGINE's boundary function
    from rdf_knowledge_extractor_spark.operators.splits import split_boundaries

    _sb = split_boundaries({"train": 0.9, "val": 0.05, "test": 0.05})
    _hex8 = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)"
    _cases = " ".join(
        f"WHEN {_hex8} < '{upper}' THEN '{name}'" for name, upper in _sb[:-1]
    )
    qm["corpus_split"] = f"""
        SELECT doc_id,
               CASE {_cases} ELSE '{_sb[-1][0]}' END AS split
        FROM documents
    """
    from rdf_knowledge_extractor_spark.operators.search import bm25_oracle_sql

    qm["corpus_bm25"] = bm25_oracle_sql(BM25_QUERIES, k=10)

    _tri_ctes = """
        ids AS (SELECT doc_id FROM documents),
        mx AS (SELECT max(doc_id) AS m FROM ids),
        edges AS (
          SELECT doc_id AS s, doc_id + o AS d
          FROM ids, (VALUES (1), (2), (7)) AS t(o), mx
          WHERE doc_id + o <= mx.m
        ),
        und AS (
          SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
          FROM edges WHERE s <> d
        ),
        deg AS (
          SELECT node, count(*) AS deg
          FROM (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
          GROUP BY node
        ),
        o AS (
          SELECT CASE WHEN (da.deg, u.a) < (db.deg, u.b)
                      THEN u.a ELSE u.b END AS u,
                 CASE WHEN (da.deg, u.a) < (db.deg, u.b)
                      THEN u.b ELSE u.a END AS v,
                 CASE WHEN (da.deg, u.a) < (db.deg, u.b)
                      THEN db.deg ELSE da.deg END AS vdeg
          FROM und u
          JOIN deg da ON da.node = u.a
          JOIN deg db ON db.node = u.b
        ),
        tri AS (
          SELECT e1.u AS x, e1.v AS y, e2.v AS z
          FROM o e1
          JOIN o e2 ON e1.u = e2.u AND (e1.vdeg, e1.v) < (e2.vdeg, e2.v)
          JOIN o e3 ON e3.u = e1.v AND e3.v = e2.v
        ),
        corners AS (
          SELECT x AS node FROM tri
          UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri
        ),
        tcount AS (
          SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
          FROM corners GROUP BY node
        )"""
    qm["kg_triangles"] = f"""
        WITH {_tri_ctes}
        SELECT node, n_triangles FROM tcount
    """
    qm["kg_clustering"] = f"""
        WITH {_tri_ctes}
        SELECT d.node, d.deg AS degree,
               CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles,
               round(CASE WHEN d.deg >= 2
                 THEN 2.0 * coalesce(t.n_triangles, 0)
                      / (d.deg * (d.deg - 1.0))
                 ELSE 0.0 END, 6) AS coeff
        FROM deg d LEFT JOIN tcount t USING (node)
    """

    _probe_case = " ".join(
        f"WHEN {vid} THEN '{qid}'" for qid, vid in HYBRID_PROBES.items()
    )
    _probe_ids = ", ".join(str(v) for v in HYBRID_PROBES.values())
    qm["hybrid_search_rrf"] = f"""
        WITH lex AS (
          SELECT query_id, doc_id, rank
          FROM ({bm25_oracle_sql(BM25_QUERIES, k=20)}) _b
        ),
        m AS (
          SELECT vec_id, embedding::DOUBLE[] AS e,
                 sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
          FROM embeddings
        ),
        vscored AS (
          SELECT q.vec_id AS qv, c.vec_id AS doc_id,
                 round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 4) AS sim
          FROM m q JOIN m c ON q.vec_id <> c.vec_id
          WHERE q.vec_id IN ({_probe_ids})
        ),
        vec AS (
          SELECT CASE qv {_probe_case} END AS query_id, doc_id,
                 row_number() OVER (
                   PARTITION BY qv ORDER BY sim DESC, doc_id) AS rank
          FROM vscored
          QUALIFY rank <= 20
        ),
        u AS (SELECT * FROM lex UNION ALL SELECT * FROM vec),
        fused AS (
          SELECT query_id, doc_id, sum(1.0 / (60.0 + rank)) AS rrf
          FROM u GROUP BY 1, 2
        ),
        ranked AS (
          SELECT query_id, doc_id, rrf,
                 row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY round(rrf, 6) DESC, doc_id) AS rank
          FROM fused
        )
        SELECT query_id, rank, doc_id, round(rrf, 6) AS rrf
        FROM ranked WHERE rank <= 10
    """

    from rdf_knowledge_extractor_spark.operators.domains import (
        canonical_url_sql,
        registrable_domain_sql,
    )

    _messy = (
        "CASE doc_id % 4"
        " WHEN 0 THEN 'HTTPS://User@' || source"
        "   || CAST(doc_id % 9 AS VARCHAR) || '.COM:443/p/'"
        "   || CAST(doc_id AS VARCHAR) || '/?utm_source=x&b=2&a=1#f'"
        " WHEN 1 THEN 'http://' || source || CAST(doc_id % 9 AS VARCHAR)"
        "   || '.com:80/'"
        " WHEN 2 THEN 'http://' || source || CAST(doc_id % 9 AS VARCHAR)"
        "   || '.org:8080/x/' || CAST(doc_id AS VARCHAR) || '/'"
        " ELSE 'https://' || source || CAST(doc_id % 9 AS VARCHAR)"
        "   || '.co.uk/a?z=1&gclid=g&y=2' END"
    )
    qm["corpus_url_canon"] = f"""
        WITH c AS (
          SELECT doc_id, {canonical_url_sql(_messy)} AS url_canon
          FROM documents
        )
        SELECT doc_id, url_canon,
               {registrable_domain_sql('url_canon')} AS domain
        FROM c
    """

    _url_synth = (
        "'https://' || CASE WHEN doc_id % 7 = 0 THEN 'www.' ELSE '' END"
        " || source || CAST(doc_id % 37 AS VARCHAR)"
        " || CASE WHEN doc_id % 5 = 0 THEN '.co.uk' ELSE '.com' END"
        " || '/p/' || CAST(doc_id AS VARCHAR)"
    )
    qm["corpus_domains"] = f"""
        WITH per AS (
          SELECT {registrable_domain_sql(_url_synth)} AS domain,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(n_chars) AS BIGINT) AS total_chars,
                 round(avg(CAST(n_chars AS DOUBLE)), 4) AS avg_chars
          FROM documents GROUP BY 1
        )
        SELECT domain, n_docs, total_chars, avg_chars,
               round(n_docs / (SELECT CAST(sum(n_docs) AS DOUBLE) FROM per),
                     4) AS share
        FROM per
    """
    qm["corpus_tfidf"] = r"""
        WITH terms AS (
          SELECT doc_id,
                 unnest(regexp_split_to_array(trim(text), '\s+')) AS term
          FROM documents
        ),
        tf AS (
          SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
          FROM terms WHERE length(term) > 0 GROUP BY doc_id, term
        ),
        dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        n AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
        ranked AS (
          SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
                 round(tf.tf * ln(nd * 1.0 / dfq.df), 4) AS tfidf,
                 row_number() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY round(tf.tf * ln(nd * 1.0 / dfq.df), 4) DESC,
                            tf.term ASC) AS rank
          FROM tf JOIN dfq USING (term), n
        )
        SELECT doc_id, term, tf, df, tfidf, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= 5
    """
    # sliding token windows: starts at multiples of 16 while < len;
    # DuckDB slice is 1-based inclusive, so [st*16+1 : st*16+32] is the
    # 32-token window
    # A-ES weighted sample: priorities rounded to 12 dp on BOTH sides
    # before ranking so libm pow() 1-ulp differences cannot flip ranks
    qm["corpus_weighted_sample"] = """
        WITH w AS (
          SELECT doc_id, lang, n_chars,
                 round(pow(
                   (CAST(concat('0x',
                      substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS UBIGINT) + 1.0) / 4294967296.0,
                   1.0 / n_chars), 12) AS aes
          FROM documents WHERE n_chars > 0
        ),
        r AS (
          SELECT *, row_number() OVER (
            PARTITION BY lang ORDER BY aes DESC, doc_id ASC) AS rn
          FROM w
        )
        SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        FROM r WHERE rn <= 20
    """
    # PageRank: the engine's 5 iterations unrolled as chained CTEs;
    # arithmetic written with the engine's exact parenthesization
    # ((1.0 - 0.85) / n, damping * (contrib + dangling / n)) so both
    # sides accumulate the same IEEE doubles; round(6) absorbs
    # summation-order 1-ulp drift
    _pr_cte = ""
    for _i in range(1, 6):
        _pr_cte += f""",
        r{_i} AS (
          SELECT n.node,
                 (1.0 - 0.85) / nn.n
                   + 0.85 * (COALESCE(c.con, 0.0) + d.dm / nn.n) AS rank
          FROM pr_nodes n
          LEFT JOIN (
            SELECT e.dst, SUM(r.rank / e.deg) AS con
            FROM pr_edges_deg e JOIN r{_i - 1} r ON r.node = e.src
            GROUP BY e.dst
          ) c ON c.dst = n.node
          CROSS JOIN (
            SELECT COALESCE(SUM(r.rank), 0.0) AS dm
            FROM r{_i - 1} r LEFT JOIN pr_outdeg o ON o.node = r.node
            WHERE o.node IS NULL
          ) d
          CROSS JOIN nn
        )"""
    qm["kg_pagerank"] = f"""
        WITH pr_edges AS (
          SELECT DISTINCT subject AS src, object AS dst FROM ({derive})
          WHERE predicate = '{NS}belongsTo'
        ),
        pr_nodes AS (
          SELECT src AS node FROM pr_edges
          UNION SELECT dst FROM pr_edges
        ),
        nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM pr_nodes),
        pr_outdeg AS (
          SELECT src AS node, count(*) AS deg FROM pr_edges GROUP BY src
        ),
        pr_edges_deg AS (
          SELECT e.src, e.dst, o.deg
          FROM pr_edges e JOIN pr_outdeg o ON o.node = e.src
        ),
        r0 AS (SELECT node, 1.0 / nn.n AS rank FROM pr_nodes, nn)
        {_pr_cte}
        SELECT node, round(rank, 6) AS rank FROM r5
    """
    # funnel chain as cascaded min-join aggregates — a DIFFERENT
    # evaluation strategy from the engine's sorted greedy fold
    # (greedy-earliest is provably optimal for strict-order funnels,
    # so the two must agree)
    _pivot_cols = ", ".join(
        f"CAST(count(*) FILTER (event_type = '{t}') AS BIGINT) AS {t}"
        for t in EVENT_TYPES
    )
    qm["events_pivot"] = f"""
        SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, {_pivot_cols}
        FROM events GROUP BY 1
    """
    _linky = (
        "'<html><body><p>doc</p><a href=\"https://' || source"
        " || CAST(doc_id % 9 AS VARCHAR) || '.example.com/p/'"
        " || CAST(doc_id AS VARCHAR) || '\">anchor '"
        " || CAST(doc_id AS VARCHAR) || '</a>'"
        " || CASE WHEN doc_id % 3 = 0 THEN"
        " '<a href=\"https://hub.example.org/t/'"
        " || CAST(doc_id % 11 AS VARCHAR) || '\">topic '"
        " || CAST(doc_id % 11 AS VARCHAR) || '</a>' ELSE '' END"
        " || '</body></html>'"
    )
    qm["corpus_links"] = f"""
        WITH synth AS (SELECT doc_id, {_linky} AS h FROM documents),
        ex AS (
          SELECT doc_id,
            regexp_extract_all(h, '<a href="([^"]*)">', 1) AS hrefs,
            regexp_extract_all(h, '<a href="[^"]*">([^<]*)</a>', 1)
              AS anchors
          FROM synth
        )
        SELECT doc_id, u[1] AS href, u[2] AS anchor
        FROM ex, unnest(list_zip(hrefs, anchors)) AS t(u)
    """
    qm["events_rolling_dau"] = """
        WITH act AS (
          SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day FROM events
        ),
        dau AS (
          SELECT day, CAST(count(*) AS BIGINT) AS dau FROM act GROUP BY day
        ),
        mx AS (SELECT max(day) AS m FROM act),
        win AS (
          SELECT a.u, a.day + CAST(k.k AS INT) AS wd
          FROM act a, (SELECT unnest(generate_series(0, 6)) AS k) k
        ),
        roll AS (
          SELECT wd, CAST(count(DISTINCT u) AS BIGINT) AS uniques_w
          FROM win, mx WHERE wd <= mx.m GROUP BY wd
        )
        SELECT CAST(d.day AS VARCHAR) AS day, d.dau, r.uniques_w
        FROM dau d JOIN roll r ON r.wd = d.day
    """
    qm["events_outliers"] = """
        WITH med AS (
          SELECT event_type, median(value) AS m FROM events GROUP BY 1
        ),
        dev AS (
          SELECT e.event_id, e.event_type, e.value,
                 abs(e.value - med.m) AS adev
          FROM events e JOIN med USING (event_type)
        ),
        mad AS (
          SELECT event_type, median(adev) AS mad FROM dev GROUP BY 1
        )
        SELECT d.event_id, d.event_type, d.value,
               round(0.6745 * d.adev / mad.mad, 4) AS robust_z
        FROM dev d JOIN mad USING (event_type)
        WHERE mad.mad > 0 AND round(0.6745 * d.adev / mad.mad, 4) > 3.5
    """
    qm["events_scd2"] = """
        WITH base AS (
          SELECT user_id, ts AS valid_from, event_type FROM events
        ),
        m AS (
          SELECT *, lag(event_type) OVER (
            PARTITION BY user_id ORDER BY valid_from) AS prev
          FROM base
        ),
        kept AS (
          SELECT user_id, valid_from, event_type FROM m
          WHERE prev IS NULL OR prev <> event_type
        )
        SELECT user_id, valid_from, event_type,
               lead(valid_from) OVER (
                 PARTITION BY user_id ORDER BY valid_from) AS valid_to
        FROM kept
    """
    _prof_cols = ["event_id", "user_id", "event_type", "value", "props"]
    qm["events_profile"] = " UNION ALL ".join(
        f"""SELECT '{c}' AS col_name,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
                   CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct
            FROM events"""
        for c in _prof_cols
    )
    qm["events_retention"] = """
        WITH activity AS (
          SELECT DISTINCT user_id AS u, date_trunc('day', ts) AS day
          FROM events
        ),
        first AS (SELECT u, min(day) AS cohort FROM activity GROUP BY u),
        grid AS (
          SELECT f.cohort, datediff('day', f.cohort, a.day) AS day_offset,
                 CAST(count(*) AS BIGINT) AS n_active
          FROM activity a JOIN first f USING (u)
          GROUP BY 1, 2
        ),
        sizes AS (
          SELECT cohort, CAST(count(*) AS DOUBLE) AS sz
          FROM first GROUP BY cohort
        )
        SELECT CAST(CAST(g.cohort AS DATE) AS VARCHAR) AS cohort_day,
               CAST(g.day_offset AS INT) AS day_offset, g.n_active,
               round(g.n_active / s.sz, 4) AS retention
        FROM grid g JOIN sizes s USING (cohort)
    """
    qm["events_funnel"] = """
        WITH ev AS (SELECT * FROM events WHERE value > 120.0),
        s1 AS (
          SELECT user_id, min(ts) AS t FROM ev
          WHERE event_type = 'view' GROUP BY user_id
        ),
        s2 AS (
          SELECT e.user_id, min(e.ts) AS t
          FROM ev e JOIN s1 USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > s1.t
          GROUP BY e.user_id
        ),
        s3 AS (
          SELECT e.user_id, min(e.ts) AS t
          FROM ev e JOIN s2 USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > s2.t
          GROUP BY e.user_id
        ),
        n AS (
          SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type,
                 (SELECT count(*) FROM s1) AS n_users
          UNION ALL
          SELECT 2, 'click', (SELECT count(*) FROM s2)
          UNION ALL
          SELECT 3, 'purchase', (SELECT count(*) FROM s3)
        )
        SELECT step, event_type, CAST(n_users AS BIGINT) AS n_users,
               round(CASE WHEN (SELECT count(*) FROM s1) > 0
                     THEN n_users * 1.0 / (SELECT count(*) FROM s1)
                     ELSE 0.0 END, 4) AS conv_rate
        FROM n
    """
    # add-one bigram LM: positions via lockstep unnest/subscripts (no
    # fixed token cap), model tables as aggregates, per-doc -ln p sum
    qm["corpus_lm_ppl"] = r"""
        WITH toks AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
          FROM documents WHERE length(trim(text)) > 0
        ),
        pos AS (
          SELECT doc_id, t, unnest(t) AS w,
                 generate_subscripts(t, 1) AS i
          FROM toks
        ),
        dbg AS (
          SELECT doc_id, w AS w1, t[i + 1] AS w2, count(*) AS cnt
          FROM pos WHERE i < len(t)
          GROUP BY doc_id, w, t[i + 1]
        ),
        c2 AS (SELECT w1, w2, SUM(cnt) AS c2 FROM dbg GROUP BY w1, w2),
        c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY w1),
        v AS (
          SELECT count(DISTINCT w) AS v
          FROM pos WHERE length(w) > 0
        ),
        sc AS (
          SELECT dbg.doc_id, SUM(cnt) AS n,
                 SUM(cnt * -ln((c2.c2 + 1.0) / (c1.c1 + v.v))) AS h
          FROM dbg JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v
          GROUP BY dbg.doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(n, 0) AS BIGINT) AS n_bigrams,
               round(COALESCE(h / n, 0.0), 4) AS cross_entropy,
               round(exp(COALESCE(h / n, 0.0)), 4) AS ppl
        FROM (SELECT DISTINCT doc_id FROM documents) d
        LEFT JOIN sc USING (doc_id)
    """
    # 8-token duplicate spans: windows from 1-based inclusive slices,
    # shared iff the gram string occurs in >= 2 distinct docs
    qm["corpus_dupspans"] = r"""
        WITH toks AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
          FROM documents WHERE length(trim(text)) > 0
        ),
        pos AS (
          SELECT doc_id, t, generate_subscripts(t, 1) AS i FROM toks
        ),
        w AS (
          SELECT doc_id, array_to_string(t[i : i + 7], ' ') AS gram
          FROM pos WHERE i <= len(t) - 7
        ),
        gd AS (
          SELECT gram, count(DISTINCT doc_id) AS ndocs FROM w GROUP BY gram
        ),
        pd AS (
          SELECT w.doc_id, count(*) AS nw,
                 SUM(CASE WHEN gd.ndocs >= 2 THEN 1 ELSE 0 END) AS ns
          FROM w JOIN gd USING (gram) GROUP BY w.doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(nw, 0) AS BIGINT) AS n_windows,
               CAST(COALESCE(ns, 0) AS BIGINT) AS n_shared,
               round(COALESCE(ns * 1.0 / nw, 0.0), 4) AS shared_frac
        FROM (SELECT DISTINCT doc_id FROM documents) d
        LEFT JOIN pd USING (doc_id)
    """
    # mixing recipe: share map inlined from the ENGINE's MIX_WEIGHTS
    # so query and oracle can never drift; rate/threshold arithmetic
    # written with the same parenthesization as operators/mixing.py
    # CAST AS DOUBLE: DuckDB parses bare 0.5 as DECIMAL, whose exact
    # arithmetic would diverge from Spark's IEEE doubles at the
    # threshold bit
    _mw_case = " ".join(
        f"WHEN '{g}' THEN CAST({w!r} AS DOUBLE)"
        for g, w in sorted(MIX_WEIGHTS.items())
    )
    _mw_in = ", ".join(f"'{g}'" for g in sorted(MIX_WEIGHTS))
    qm["corpus_mix"] = f"""
        WITH c AS (
          SELECT lang, count(*) AS cnt FROM documents
          WHERE lang IN ({_mw_in}) GROUP BY lang
        ),
        s AS (
          SELECT lang, cnt, CASE lang {_mw_case} END AS share FROM c
        ),
        t AS (SELECT MIN(cnt / share) AS t FROM s),
        r AS (
          SELECT lang, (share * t.t) / cnt AS rate,
                 lower(lpad(to_hex(CAST(least(
                   floor(((share * t.t) / cnt) * 4294967296.0),
                   4294967295) AS BIGINT)), 8, '0')) AS thresh
          FROM s, t
        )
        SELECT d.doc_id, d.lang, round(r.rate, 4) AS mix_rate
        FROM documents d JOIN r USING (lang)
        WHERE r.rate >= 1.0
           OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < r.thresh
    """
    qm["corpus_chunks"] = r"""
        WITH toks AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
          FROM documents WHERE length(trim(text)) > 0
        ),
        st AS (
          SELECT doc_id, t, i AS chunk_idx
          FROM toks, generate_series(0, 63) s(i)
          WHERE i * 16 < len(t)
        )
        SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
               CAST(least(len(t) - chunk_idx * 16, 32) AS BIGINT) AS n_tokens,
               md5(array_to_string(t[chunk_idx*16+1 : chunk_idx*16+32], ' '))
                 AS chunk_md5
        FROM st
    """
    # bounded-overflow packing: exclusive running token count within
    # the shard's doc_id order, bins cut at multiples of 512
    qm["corpus_pack"] = r"""
        WITH t AS (
          SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
                 CASE WHEN trim(text) = '' THEN 0
                      ELSE len(string_split_regex(trim(text), '\s+')) END
                   AS n_tokens
          FROM documents
        ),
        c AS (
          SELECT doc_id, shard, n_tokens,
                 COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ce
          FROM t
        )
        SELECT doc_id, shard, CAST(floor(ce / 512.0) AS BIGINT) AS bin,
               CAST(n_tokens AS BIGINT) AS n_tokens
        FROM c
    """
    # derived from the ENGINE's pattern registry so the oracle cannot
    # drift when PII types are added (same policy as _lang_scores_sql)
    from rdf_knowledge_extractor_spark.functions.pii import PII_TYPES

    pii_aug = (
        "text || ' user' || CAST(doc_id AS VARCHAR) || '@example.com'"
        " || ' 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'"
        " || ' 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')"
        " || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    )
    pii_counts = ", ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{t}"
        for t, (pat, _) in PII_TYPES.items()
    )
    pii_redacted = "text"
    for pat, token in PII_TYPES.values():
        pii_redacted = f"regexp_replace({pii_redacted}, '{pat}', '{token}', 'g')"
    qm["corpus_pii"] = f"""
        WITH aug AS (SELECT doc_id, {pii_aug} AS text FROM documents)
        SELECT doc_id, {pii_counts}, md5({pii_redacted}) AS redacted_md5
        FROM aug
    """
    # minhash-LSH verified output equals the exact-Jaccard answer
    # (candidate recall ≈ 1 - 1e-35 at J ≥ 0.9 with 32 bands × 2 rows)
    qm["dedup_minhash_lsh"] = qm["dedup_ngram_jaccard"]
    # survivors: same pair derivation, clusters via RECURSIVE closure
    # (different algorithm from the engine's large/small-star loop)
    qm["dedup_survivors"] = """
        WITH RECURSIVE sh AS (
          SELECT DISTINCT doc_id,
                 unnest(list_transform(generate_series(1, greatest(len(text) - 8, 1)),
                                       i -> substr(text, i, 9))) AS g
          FROM documents
        ),
        cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
          FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ),
        pairs AS (
          SELECT id_a, id_b FROM inter
          JOIN cnt ca ON ca.doc_id = id_a
          JOIN cnt cb ON cb.doc_id = id_b
          WHERE c * 1.0 / (ca.n + cb.n - c) >= 0.8
        ),
        edges AS (
          SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs
        ),
        reach (a, b) AS (
          SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        ),
        comp AS (
          SELECT a AS node, least(a, min(b)) AS component
          FROM reach GROUP BY a
        )
        SELECT d.doc_id, d.lang, d.source, d.n_chars
        FROM documents d
        WHERE d.doc_id NOT IN (
          SELECT node FROM comp WHERE node <> component
        )
    """
    # exhaustive ANN variants provably equal brute force (full-probe
    # IVF / zero-plane LSH), so they share the brute-force oracle
    qm["ann_ivf_fullprobe"] = qm["ann_cosine_topk"]
    qm["ann_lsh_fullcover"] = qm["ann_cosine_topk"]
    # no oracle (driver records rows-only check):
    #   dedup_simhash — sketch bit arithmetic not SQL-expressible
    #   ann_lsh_topk / ann_ivf_topk — approximate by design (their
    #     exhaustive twins above carry the oracle; recall additionally
    #     pinned vs brute force in tests/test_similarity.py)
    return qm


def _quality_ctes(relation: str = "documents") -> str:
    """`base AS (…), m AS (…)` CTE fragment computing the quality
    metrics over `relation` — composable into larger WITH lists."""
    stop = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]
    occ = lambda m: (
        f"CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' {m} ', ''))) / {len(m) + 2} AS BIGINT)"
    )
    stop_hits = " + ".join(occ(w) for w in stop)
    return rf"""base AS (
          SELECT doc_id, text,
            length(text) AS n_chars,
            CAST(CASE WHEN trim(text) = '' THEN 0
                 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_words,
            CAST((length(text) - length(replace(text, ' ', ''))) AS BIGINT) AS n_spaces,
            length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
            ({stop_hits}) AS stop_hits
          FROM {relation}
        ),
        m AS (
          SELECT doc_id, n_words,
            round(CASE WHEN n_words > 0 THEN (n_chars - n_spaces) * 1.0 / n_words ELSE 0.0 END, 4) AS avg_word_len,
            round(CASE WHEN n_chars > 0 THEN digits * 1.0 / n_chars ELSE 0.0 END, 4) AS digit_ratio,
            round(CASE WHEN n_words > 0 THEN stop_hits * 1.0 / n_words ELSE 0.0 END, 4) AS stop_ratio
          FROM base
        )"""


_QUALITY_SELECT = """
        SELECT doc_id, n_words, avg_word_len, digit_ratio, stop_ratio,
          round(least(1.0, stop_ratio * 2)
                * CASE WHEN avg_word_len >= 2 AND avg_word_len <= 12 THEN 1.0 ELSE 0.5 END
                * (1.0 - digit_ratio), 4) AS quality_score
        FROM m
"""


def _text_quality_sql(relation: str = "documents") -> str:
    return f"WITH {_quality_ctes(relation)}{_QUALITY_SELECT}"


def _lang_pred_case() -> str:
    # CASE checks in dict order = earliest-language tie-break, matching
    # the engine's array_max argmax exactly
    from rdf_knowledge_extractor_spark.functions.text_analysis import LANG_MARKERS

    langs = list(LANG_MARKERS)
    g = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    whens = " ".join(f"WHEN s_{l} = {g} THEN '{l}'" for l in langs[:-1])
    return f"CASE WHEN {g} = 0 THEN 'und' {whens} ELSE '{langs[-1]}' END"


def _curate_sql(
    lang: str = "en",
    min_words: int = 10,
    max_digit_ratio: float = 0.3,
    min_quality: float = 0.3,
) -> str:
    """Oracle for `curate_corpus`: dedup keep-first → quality metrics +
    predicted language over the deduped set → composite filter."""
    return f"""
        WITH dd AS (
          SELECT doc_id, text FROM (
            SELECT doc_id, text,
                   row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
            FROM documents) WHERE rn = 1
        ),
        {_quality_ctes("dd")},
        q AS ({_QUALITY_SELECT.strip()}),
        l AS (
          SELECT doc_id, {_lang_pred_case()} AS lang_pred
          FROM (SELECT doc_id, {_lang_scores_sql()} FROM dd)
        )
        SELECT q.doc_id, l.lang_pred, q.n_words, q.quality_score
        FROM q JOIN l ON q.doc_id = l.doc_id
        WHERE l.lang_pred = '{lang}' AND q.n_words >= {min_words}
          AND q.digit_ratio <= {max_digit_ratio}
          AND q.quality_score >= {min_quality}
    """
