"""The three workloads: inputs, one timed operation, and its check.

Every workload times calls into the package's public layer functions and
checks each operation's output against ground truth outside the timed
region.  An operation is a crawl batch (crawl_build), one committed
triple batch (entity_resolve) or one query (graph_query).  With the
tracer enabled each layer call sits in a span, and the layer's output is
forced (persisted and counted) inside that span so the span covers the
work; untraced, the chain is forced only where a user's run forces it:
at the store commit, or at a query's result.

BENCHMARK.json lists crawl_build and graph_query.  entity_resolve runs
by name (`--workload entity_resolve`) with the same metrics; it is left
out of the listed set because a measurement campaign of 4 + 22 runs per
listed workload must stay under an hour, and with three workloads the
runs (about 45-60 s each on 4 cores) do not fit.
"""

from __future__ import annotations

import random
import shutil
from collections import Counter
import time
from dataclasses import dataclass
from pathlib import Path

import duckdb
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgbench import gen
from rdf_knowledge_extractor_spark.config import Configuration, RdfSchema
from rdf_knowledge_extractor_spark.functions.extract import (
    extract_triples_stage,
    split_triples_and_lineage,
)
from rdf_knowledge_extractor_spark.operators.canonicalize import canonicalize_triples
from rdf_knowledge_extractor_spark.operators.dedup import merge_results
from rdf_knowledge_extractor_spark.operators.linking import link_entities
from rdf_knowledge_extractor_spark.operators.stats import (
    get_entity_properties,
    graph_statistics,
)
from rdf_knowledge_extractor_spark.operators.traversal import find_related_entities
from rdf_knowledge_extractor_spark.plans.store import TripleStore
from rdf_knowledge_extractor_spark.query.sparql import execute_sparql
from rdf_knowledge_extractor_spark.schemas import TRIPLE_SCHEMA
from rdf_knowledge_extractor_spark.sinks.serialization import ntriples_lines
from rdf_knowledge_extractor_spark.sources.pages import BASE_URI, NAMESPACE, PREFIX

SPO = ["subject", "predicate", "object"]
# floors of tests/test_extract.py::test_pipeline_precision_recall
EXTRACT_FLOOR = 0.95


@dataclass
class OpResult:
    latency: float        # seconds in the timed region
    items: int            # pages, triple rows entering merge, or 1 query
    error: str | None     # None when the output passed its check
    kind: str = ""        # graph_query's query class


def _dir_stats(path: Path) -> tuple[int, int]:
    files = [f for f in path.rglob("*.parquet")]
    return len(files), sum(f.stat().st_size for f in files)


def local_df(spark, rows, schema: T.StructType):
    """A DataFrame over rows held in Python, shipped to the JVM as Arrow
    batches (much cheaper than pickled rows for tens of thousands)."""
    return spark.createDataFrame(pd.DataFrame(rows, columns=schema.fieldNames()), schema)


def store_bytes_per_triple(store: TripleStore) -> float:
    nbytes = sum(_dir_stats(Path(p))[1] for p in store.committed_paths())
    return nbytes / store.total_rows()


def _pair_scores(pred: dict[str, str], truth: dict[str, str]) -> tuple[float, float]:
    """Pairwise precision and recall of a clustering (uri -> cluster id)."""
    def pairs(labels) -> int:
        return sum(n * (n - 1) // 2 for n in Counter(labels).values())

    tp = pairs((pred[u], truth[u]) for u in pred)
    p, t = pairs(pred.values()), pairs(truth[u] for u in pred)
    return (tp / p if p else 1.0), (tp / t if t else 1.0)


def _commit_chain(tracer, triples, store: TripleStore, batch_id: str, rows_in: int):
    """merge -> link -> canonicalize -> commit; returns (mapping,
    link span record, DataFrames to release after the check)."""
    traced = tracer.enabled
    held = []
    with tracer.span("merge") as s:
        merged = merge_results(triples)
        if traced:
            merged = merged.persist()
            held.append(merged)
            s["rows_in"], s["rows_out"] = rows_in, merged.count()
    with tracer.span("link") as link_span:
        mapping = link_entities(merged)
        if traced:
            mapping = mapping.persist()
            held.append(mapping)
            r = mapping.agg(
                F.count(F.lit(1)),
                F.sum((F.col("uri") != F.col("canonical")).cast("int")),
            ).first()
            link_span["entities"], link_span["linked"] = r[0], r[1] or 0
    with tracer.span("canonicalize") as s:
        graph = canonicalize_triples(merged, mapping)
        if traced:
            graph = graph.persist()
            held.append(graph)
            s["rows_out"] = canon_rows = graph.count()
    if traced:
        files0, bytes0 = _dir_stats(store.root)
    with tracer.span("store.commit") as s:
        added = store.insert_if_absent(graph, batch_id)
    if traced:
        files1, bytes1 = _dir_stats(store.root)
        s.update(rows_added=added, rows_skipped=canon_rows - added,
                 files=files1 - files0, bytes=bytes1 - bytes0)
    return mapping, link_span, held


def _check_mapping(mapping_rows, truth: dict[str, str], link_span) -> str | None:
    got = {r["uri"]: r["canonical"] for r in mapping_rows}
    want = {u: truth.get(u) for u in got}
    if link_span is not None and link_span:
        link_span["precision"], link_span["recall"] = _pair_scores(
            got, {u: truth.get(u, u) for u in got}
        )
    if got != want:
        bad = sorted(u for u in got if got[u] != want[u])[:3]
        return f"link mapping differs from the clusters at {bad}"
    return None


def _store_rows(store: TripleStore) -> set[tuple]:
    return {tuple(r) for r in store.read().select(*SPO).collect()}


class Workload:
    name = ""
    min_ops = 1
    traced_ops = 1  # operation pairs a traced run makes

    def __init__(self, spark, seed: int, workdir: Path):
        self.spark = spark
        self.seed = seed
        self.workdir = workdir
        self.props: dict = {}

    def setup(self) -> None:
        """Generate and materialize the inputs (repeatable)."""
        raise NotImplementedError

    def build(self) -> None:
        """Set-up work done once after the inputs exist."""

    def prepare(self) -> None:
        """Untimed work after set-up: reference answers for the checks."""

    def warm_up(self, off) -> None:
        """Run operations untimed with the disabled tracer `off`."""
        raise NotImplementedError

    def op(self, i: int, tracer) -> OpResult:
        raise NotImplementedError

    def can_stop(self, n_done: int) -> bool:
        return n_done >= self.min_ops

    def store_bytes_per_triple(self) -> float:
        raise NotImplementedError

    def close(self) -> None:
        shutil.rmtree(self.workdir / "stores", ignore_errors=True)

    def _fresh_store(self, tag: str) -> TripleStore:
        root = self.workdir / "stores" / tag
        shutil.rmtree(root, ignore_errors=True)
        return TripleStore(self.spark, str(root))


# ---------------------------------------------------------------------------
# crawl_build
# ---------------------------------------------------------------------------

CRAWL_CONFIG = Configuration(
    name="kgbench",
    rdf_schema=RdfSchema(
        namespace=NAMESPACE,
        prefix=PREFIX,
        base_uri=BASE_URI,
        predicates={p: p for p in gen.CRAWL_PREDICATES},
    ),
)


PAGES = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("doc_seq", T.LongType()),
])


class CrawlBuild(Workload):
    """A batch job over crawl pages: extract -> merge -> link ->
    canonicalize -> commit into an empty store."""

    name = "crawl_build"
    N_PAGES = 200
    N_FILLER = 30
    min_ops = 4
    traced_ops = 3

    def __init__(self, spark, seed, workdir):
        super().__init__(spark, seed, workdir)
        self.pages = None
        self.last_bpt = None

    def setup(self):
        if self.pages is not None:
            self.pages.unpersist()
        self.inp = gen.crawl_input(self.seed, self.N_PAGES, self.N_FILLER)
        df = local_df(self.spark, self.inp.rows, PAGES)
        self.pages = df.repartition(self.spark.sparkContext.defaultParallelism * 2).persist()
        self.pages.count()
        self.props = {
            "pages": self.N_PAGES,
            "bytes_per_page": round(self.inp.html_bytes / self.N_PAGES),
            "gold_triples": len(self.inp.gold),
        }

    def warm_up(self, off):
        # the first batch after a single warm-up one still ran ~12 % slower
        for i in (-2, -1):
            self.op(i, off, check=False)

    def op(self, i, tracer, check=True):
        traced = tracer.enabled
        store = self._fresh_store(f"crawl-{int(traced)}-{i}")
        held = []
        with tracer.span("op"):
            t0 = time.perf_counter()
            with tracer.span("extract") as s:
                extracted = extract_triples_stage(
                    self.pages, CRAWL_CONFIG, client_kind="stub", html_col="html"
                )
                if traced:
                    extracted = extracted.persist()
                    held.append(extracted)
                    r = extracted.agg(
                        F.count("subject"),
                        F.countDistinct(F.when(F.col("error").isNotNull(), F.col("source"))),
                    ).first()
                    s["triples"], s["error_docs"] = r[0], r[1]
                triples, _lineage = split_triples_and_lineage(extracted)
                if not traced:
                    triples = triples.persist()
                    held.append(triples)
            mapping, link_span, more = _commit_chain(
                tracer, triples, store, "crawl", s.get("triples", 0)
            )
            held += more
            latency = time.perf_counter() - t0
        error = self._check(triples, mapping, store, link_span) if check else None
        self.last_bpt = store_bytes_per_triple(store)
        for df in held:
            df.unpersist()
        shutil.rmtree(store.root, ignore_errors=True)
        return OpResult(latency, self.N_PAGES, error)

    def _check(self, triples, mapping, store, link_span):
        got = {tuple(r) for r in triples.select(*SPO).collect()}
        gold = self.inp.gold
        tp = len(got & gold)
        precision, recall = tp / max(len(got), 1), tp / len(gold)
        if precision < EXTRACT_FLOOR or recall < EXTRACT_FLOOR:
            return f"extraction precision {precision:.3f} / recall {recall:.3f} below {EXTRACT_FLOOR}"
        universe = {s for s, _, _ in got} | {o for _, _, o in got if o.startswith("http")}
        truth = gen.reference_clusters(universe)
        for alias, company in self.inp.alias_map.items():
            if alias in truth and company in truth and truth[alias] != truth[company]:
                return f"reference clusters split gold alias {alias}"
        error = _check_mapping(mapping.collect(), truth, link_span)
        if error:
            return error
        want = gen.canonical_triples(got, truth)
        if store.total_rows() != len(want) or _store_rows(store) != want:
            return f"store holds {store.total_rows()} rows, expected {len(want)}"
        return None

    def store_bytes_per_triple(self):
        return self.last_bpt


# ---------------------------------------------------------------------------
# entity_resolve
# ---------------------------------------------------------------------------

class EntityResolve(Workload):
    """Incremental batches of extracted triples over a large entity
    universe, each merged, linked, canonicalized and committed into one
    growing store (closed loop, like a foreachBatch sink)."""

    name = "entity_resolve"
    N_CLUSTERS = 4000
    N_BATCHES = 4
    MENTIONS = 2000
    traced_ops = N_BATCHES

    def __init__(self, spark, seed, workdir):
        super().__init__(spark, seed, workdir)
        self.landing = None
        self.stores: dict = {}
        self.bpt: list[float] = []

    def setup(self):
        if self.landing is not None:
            self.landing.unpersist()
        self.inp = gen.resolve_input(self.seed, self.N_CLUSTERS, self.N_BATCHES, self.MENTIONS)
        # one landing table, one cached scan per batch
        schema = T.StructType([*TRIPLE_SCHEMA.fields, T.StructField("batch", T.IntegerType(), False)])
        landing = local_df(
            self.spark, [r + (b,) for b, rows in enumerate(self.inp.batches) for r in rows], schema
        ).persist()
        landing.count()
        self.batch_dfs = [
            landing.filter(F.col("batch") == b).drop("batch") for b in range(self.N_BATCHES)
        ]
        self.landing = landing
        self.props = self.inp.props

    def warm_up(self, off):
        self.op(0, off, check=False)
        self.stores.clear()

    def can_stop(self, n_done):
        # at least one whole pass, so every store size is measured
        return n_done >= self.N_BATCHES

    def op(self, i, tracer, check=True):
        b = i % self.N_BATCHES
        lane = tracer.enabled
        if b == 0 or lane not in self.stores:
            self.stores[lane] = self._fresh_store(f"resolve-{int(lane)}")
        store = self.stores[lane]
        rows = self.inp.batches[b]
        with tracer.span("op"):
            t0 = time.perf_counter()
            mapping, link_span, held = _commit_chain(
                tracer, self.batch_dfs[b], store, f"b{b}", len(rows)
            )
            latency = time.perf_counter() - t0
        error = self._check(b, mapping, store, link_span) if check else None
        if b == self.N_BATCHES - 1 and not lane:
            self.bpt.append(store_bytes_per_triple(store))
        for df in held:
            df.unpersist()
        return OpResult(latency, len(rows), error)

    def _check(self, b, mapping, store, link_span):
        mapping_rows = mapping.collect()
        rows = self.inp.batches[b]
        universe = {r[0] for r in rows} | {r[2] for r in rows if r[2].startswith("http")}
        if {r["uri"] for r in mapping_rows} != universe:
            return "link mapping does not cover exactly the batch's entities"
        error = _check_mapping(mapping_rows, self.inp.clusters, link_span)
        if error:
            return error
        if store.total_rows() != self.inp.expected_total[b]:
            return (f"batch {b}: store holds {store.total_rows()} rows, "
                    f"expected {self.inp.expected_total[b]}")
        if b == self.N_BATCHES - 1 and _store_rows(store) != self.inp.expected_final:
            return "final store content differs from the expected triples"
        return None

    def store_bytes_per_triple(self):
        return sorted(self.bpt)[len(self.bpt) // 2] if self.bpt else None


# ---------------------------------------------------------------------------
# graph_query
# ---------------------------------------------------------------------------

_NS = gen.KG_NS
LANDING = T.StructType([*(T.StructField(c, T.StringType()) for c in SPO),
                        T.StructField("batch", T.IntegerType())])


class GraphQuery(Workload):
    """A read-only closed loop: one client runs a seeded query mix
    against a store committed as many file sets."""

    name = "graph_query"
    N_COMPANIES = 2000
    N_PERSONS = 12000
    N_FILE_SETS = 8
    # Queries come in shuffled blocks of exactly these counts and the two
    # variants of a class alternate, so every seed runs the same mix.
    # 100 latencies leave 10 beyond the 90th percentile.  Point lookups
    # are over half of the mix, so the median is a lookup; the slowest
    # queries (path, traversal: 4 of 100) sit above the 90th percentile,
    # which falls among the BGPs, aggregates and whole-graph statistics.
    MIX = [("lookup", 28), ("bgp", 7), ("agg", 5), ("stats", 4), ("serialize", 4),
           ("path", 1), ("traversal", 1)]
    ONE_VARIANT = ("path", "traversal")
    min_ops = 100
    traced_ops = 50
    EXTRA_WARM_OPS = 25

    def __init__(self, spark, seed, workdir):
        super().__init__(spark, seed, workdir)
        self.batch_dfs: list = []
        self.reference: dict = {}

    def setup(self):
        if self.batch_dfs:
            self.batch_dfs[0].unpersist()
        self.inp = gen.query_input(self.seed, self.N_COMPANIES, self.N_PERSONS, self.N_FILE_SETS)
        rows = [t + (j,) for j, batch in enumerate(self.inp.batches) for t in batch]
        landing = local_df(self.spark, rows, LANDING).persist()
        landing.count()
        self.batch_dfs = [
            landing.filter(F.col("batch") == j).drop("batch") for j in range(len(self.inp.batches))
        ]

    def build(self):
        """Commit the graph as one file set per batch (never compacted)."""
        self.store = self._fresh_store("query")
        for j, df in enumerate(self.batch_dfs):
            self.store.insert_if_absent(df, f"b{j}", dedup_batch=False)  # batches are distinct
        self.props = {**self.inp.props, "bytes_per_triple": round(store_bytes_per_triple(self.store), 2)}

    def prepare(self):
        """Reference answers come from DuckDB over the same triples."""
        self.db = duckdb.connect()
        self.db.register("tdf", pd.DataFrame(self.inp.triples, columns=SPO))
        self.db.execute("CREATE TABLE t AS SELECT * FROM tdf")
        self.db.unregister("tdf")
        rng = random.Random(self.seed * 7919 + 1)
        block = [k for k, n in self.MIX for _ in range(n)]
        made: Counter = Counter()
        self.queries, self.first_of_variant = [], {}
        for _ in range(40):
            rng.shuffle(block)
            for k in block:
                variant = 0 if k in self.ONE_VARIANT else made[k] % 2
                made[k] += 1
                self.first_of_variant.setdefault((k, variant), len(self.queries))
                self.queries.append(self._make_query(rng, k, variant))

    def _make_query(self, rng, kind, variant):
        inp = self.inp
        if kind == "lookup":
            e = rng.choice(inp.companies if variant else inp.persons)
            return (kind, f"SELECT ?p ?o WHERE {{ <{e}> ?p ?o }}",
                    ("SELECT predicate, object FROM t WHERE subject = ?", [e]))
        if kind == "bgp":
            city, role = rng.choice(inp.cities), rng.choice(gen._ROLES)
            pats = [f'?c <{_NS}locatedIn> "{city}"', f"?person <{_NS}worksFor> ?c",
                    f'?person <{_NS}hasRole> "{role}"']
            if variant:  # selective pattern written last
                pats.reverse()
            return (kind, f"SELECT ?person ?c WHERE {{ {' . '.join(pats)} }}",
                    ("SELECT w.subject, c.subject FROM t c JOIN t w ON w.object = c.subject "
                     "JOIN t r ON r.subject = w.subject WHERE c.predicate = ? AND c.object = ? "
                     "AND w.predicate = ? AND r.predicate = ? AND r.object = ?",
                     [_NS + "locatedIn", city, _NS + "worksFor", _NS + "hasRole", role]))
        if kind == "agg":
            if variant:
                city = rng.choice(inp.cities)
                return (kind, f'SELECT ?c (COUNT(?p) AS ?n) WHERE {{ ?c <{_NS}locatedIn> "{city}" . '
                              f"?p <{_NS}worksFor> ?c }} GROUP BY ?c",
                        ("SELECT c.subject, count(w.subject) FROM t c JOIN t w ON w.object = c.subject "
                         "WHERE c.predicate = ? AND c.object = ? AND w.predicate = ? GROUP BY c.subject",
                         [_NS + "locatedIn", city, _NS + "worksFor"]))
            return (kind, f"SELECT ?role (COUNT(?p) AS ?n) WHERE {{ ?p <{_NS}hasRole> ?role }} GROUP BY ?role",
                    ("SELECT object, count(*) FROM t WHERE predicate = ? GROUP BY object",
                     [_NS + "hasRole"]))
        if kind == "path":  # every seed is the same number of hops deep
            c = rng.choice(inp.deepest)
            return (kind, f"SELECT ?a WHERE {{ <{c}> <{_NS}subOrgOf>+ ?a }}",
                    ("WITH RECURSIVE anc(a) AS (SELECT object FROM t WHERE subject = ? AND predicate = ? "
                     "UNION SELECT t.object FROM t JOIN anc ON t.subject = anc.a WHERE t.predicate = ?) "
                     "SELECT a FROM anc", [c, _NS + "subOrgOf", _NS + "subOrgOf"]))
        if kind == "traversal":
            p = rng.choice(inp.persons)
            return (kind, p, (
                "WITH e AS (SELECT subject AS src, object AS dst FROM t WHERE object LIKE 'http%' "
                "UNION ALL SELECT object, subject FROM t WHERE object LIKE 'http%' AND subject IS NOT NULL), "
                "h1 AS (SELECT DISTINCT dst AS n FROM e WHERE src = $1 AND dst <> $1) "
                "SELECT n FROM h1 UNION SELECT dst FROM e JOIN h1 ON e.src = h1.n WHERE dst <> $1",
                [p]))
        if kind == "stats":
            if variant:
                return (kind, None, ("SELECT count(*), count(DISTINCT subject), count(DISTINCT predicate), "
                                     "count(DISTINCT object) FROM t", []))
            e = rng.choice(inp.companies)
            return (kind, e, ("SELECT predicate, list_sort(list(object)) FROM t WHERE subject = ? "
                              "GROUP BY predicate", [e]))
        pred = _NS + ("subOrgOf", "partneredWith")[variant]
        return (kind, pred, ("SELECT '<' || subject || '> <' || predicate || '> <' || object || '> .' "
                             "FROM t WHERE predicate = ?", [pred]))

    def warm_up(self, off):
        # every query variant once, then more of the mix from the end of the
        # query list: with the variants alone, the first 50 timed queries
        # ran ~10 % slower than later ones
        tail = range(len(self.queries) - self.EXTRA_WARM_OPS, len(self.queries))
        for i in sorted(self.first_of_variant.values()) + list(tail):
            self.op(i, off, check=False)

    def op(self, i, tracer, check=True):
        kind, arg, ref = self.queries[i % len(self.queries)]
        with tracer.span("op"):
            t0 = time.perf_counter()
            with tracer.span("store.read"):
                g = self.store.read()
            if kind in ("lookup", "bgp", "agg", "path"):
                with tracer.span(f"sparql.{kind}.call"):
                    df = execute_sparql(g, arg)
                with tracer.span(f"sparql.{kind}.action") as s:
                    rows = df.collect()
                    s["rows"] = len(rows)
            elif kind == "traversal":
                with tracer.span("traversal"):
                    rows = find_related_entities(g, arg, 2).collect()
            elif kind == "stats":
                with tracer.span("stats"):
                    df = graph_statistics(g) if arg is None else get_entity_properties(g, arg)
                    rows = df.collect()
            else:
                with tracer.span("serialize") as s:
                    lines = ntriples_lines(g.filter(F.col("predicate") == arg))
                    lines.write.format("noop").mode("overwrite").save()
            latency = time.perf_counter() - t0
        if kind == "serialize":
            rows = lines.collect()
            s["bytes"] = sum(len(r[0]) + 1 for r in rows)
        error = self._check(kind, arg, ref, rows) if check else None
        return OpResult(latency, 1, error, kind)

    def _check(self, kind, arg, ref, rows):
        key = (kind, arg, tuple(ref[1]))
        if key not in self.reference:
            want = self.db.execute(ref[0], ref[1]).fetchall()
            self.reference[key] = sorted(map(_norm_row, want))
        got = sorted(_norm_row(tuple(r)) for r in rows)
        if kind == "stats" and arg is not None:
            got = sorted(_norm_row((r[0], sorted(r[1]))) for r in rows)
        if got != self.reference[key]:
            return f"{kind} answer differs from DuckDB ({len(got)} vs {len(self.reference[key])} rows)"
        return None

    def store_bytes_per_triple(self):
        return store_bytes_per_triple(self.store)

    def close(self):
        self.db.close()
        super().close()


def _norm_row(row):
    return tuple(tuple(v) if isinstance(v, list) else v for v in row)


WORKLOADS = {w.name: w for w in (CrawlBuild, EntityResolve, GraphQuery)}
