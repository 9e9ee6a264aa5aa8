"""Query layer over the graph table.

Two engines:

1. `execute_simple_sparql` — faithful port of the reference's
   pattern-matching "SPARQL" (ref:src/knowledge_graph/mod.rs:116-166):
   only SELECT accepted; `?name`+`hasName` → (name, entity),
   `?role`+`hasRole` → (role, person), anything else → full dump.

2. `SparqlEngine` — a real mini-SPARQL front-end the reference never
   had (its templates carry real queries that the fake engine ignores,
   e.g. ref:templates/sales_target_companies.yaml:12-24 with OPTIONAL
   / ORDER BY DESC / LIMIT).  Supported subset: PREFIX,
   SELECT [DISTINCT] ?v…|*| (AGG(?v) AS ?a), CONSTRUCT { … } WHERE,
   ASK [WHERE] { … } (→ one boolean row, limit-1 short-circuit),
   basic graph patterns with `;` predicate lists and `a` = rdf:type,
   OPTIONAL { … }, { … } UNION { … }, FILTER(…) with =/!=/</<=/>/>=
   (numeric-coercing), ||/&&/!, CONTAINS/STRSTARTS/STRENDS/REGEX/BOUND,
   FILTER (NOT) EXISTS { … } (→ left-semi/anti joins),
   COUNT/SUM/MIN/MAX/AVG/GROUP_CONCAT(…; SEPARATOR="…")/SAMPLE
   with GROUP BY + HAVING (GROUP_CONCAT sorts values for determinism;
   SAMPLE is min()), ORDER BY (ASC|DESC)(?v), LIMIT n, OFFSET n,
   property paths: modifiers +/*/? (transitive closure by
   operators/traversal.py `closure`: a walk under the shared driver
   bound, a semi-naive loop above it; a constant endpoint seeds it),
   sequence `/`, alternative `|`, inverse `^`, and
   negated property sets !iri / !(iri|…) (forward members only),
   BIND(expr AS ?v), VALUES ?v { … } / (?a ?b) { … }
   with UNDEF, MINUS { … } (shared-domain anti-join),
   SubSelect { SELECT … } (evaluated independently, joined as a
   solution multiset; only projected vars visible outside),
   CONCAT/UCASE/LCASE/STRLEN.  UNION/OPTIONAL solution
   joins use SPARQL compatible-mapping semantics (join-over-union
   distribution; isnull-or-equal residual conditions where maybe-null
   vars meet a join).  Compilation is
   classic BGP-as-self-joins: one aliased scan of the triples table
   per pattern, equi-joined on shared variables; OPTIONAL groups are
   left joins.  Catalyst then does join reordering/pushdown; a
   predicate-partitioned graph table turns each pattern scan into a
   pruned file scan.  Top-k (ORDER BY+LIMIT) lowers to Spark's
   TakeOrderedAndProject.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdf_knowledge_extractor_spark.operators.traversal import closure

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


class SparqlError(ValueError):
    pass


# ---------------------------------------------------------------------------
# 1. faithful reference engine
# ---------------------------------------------------------------------------

def execute_simple_sparql(graph: DataFrame, query: str) -> DataFrame:
    # ref:src/knowledge_graph/mod.rs:116-125
    if not query.strip().lower().startswith("select"):
        raise SparqlError(
            "Only SELECT queries are supported in this simplified implementation"
        )
    # ref:src/knowledge_graph/mod.rs:134-162
    if "?name" in query and "hasName" in query:
        return graph.filter(F.col("predicate").contains("hasName")).select(
            F.col("object").alias("name"), F.col("subject").alias("entity")
        )
    if "?role" in query and "hasRole" in query:
        return graph.filter(F.col("predicate").contains("hasRole")).select(
            F.col("object").alias("role"), F.col("subject").alias("person")
        )
    return graph.select("subject", "predicate", "object")


# ---------------------------------------------------------------------------
# 2. real mini-SPARQL
# ---------------------------------------------------------------------------

@dataclass
class _Pattern:
    s: str
    p: str
    o: str


@dataclass
class _Group:
    patterns: list[_Pattern] = field(default_factory=list)
    optionals: list["_Group"] = field(default_factory=list)
    filters: list = field(default_factory=list)  # parsed FILTER ASTs
    unions: list[list["_Group"]] = field(default_factory=list)  # {g} UNION {g}…
    exists: list[tuple[bool, "_Group"]] = field(default_factory=list)  # (negated, group)
    binds: list[tuple[str, object]] = field(default_factory=list)  # BIND(expr AS ?v)
    values_: list[tuple[list[str], list[tuple]]] = field(default_factory=list)  # VALUES
    minus: list["_Group"] = field(default_factory=list)  # MINUS { … }
    subselects: list[str] = field(default_factory=list)  # { SELECT … } texts


@dataclass
class _Agg:
    func: str        # count | sum | min | max | avg | group_concat | sample
    var: str | None  # None = '*'
    distinct: bool
    alias: str
    sep: str = " "   # GROUP_CONCAT(…; SEPARATOR="…") — ignored otherwise


_TOKEN_RE = re.compile(
    r"""
    (?P<uri><[^<>\s]*>)              # IRIs contain no whitespace — keeps
  | (?P<literal>"(?:[^"\\]|\\.)*")   # '<' usable as a comparison op
  | (?P<var>\?[A-Za-z_][\w]*)
  | (?P<pname>[A-Za-z_][\w-]*:[A-Za-z_][\w.-]*)
  | (?P<kw>[A-Za-z_][\w]*)
  | (?P<num>-?\d+(?:\.\d+)?)
  | (?P<op>\|\||&&|!=|<=|>=|=|<|>|!|\||\^|/|\+|\?)
  | (?P<punct>[{}().;,*])
    """,
    re.X,
)


def _tokenize(text: str) -> list[str]:
    toks = []
    for m in _TOKEN_RE.finditer(text):
        toks.append(m.group(0))
    return toks


def _swap(pairs: DataFrame) -> DataFrame:
    """(src, dst) pairs with their endpoints exchanged."""
    return pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))


class SparqlEngine:
    def __init__(self, graph: DataFrame):
        self.graph = graph
        #: the stats of the most recent transitive path's
        #: `traversal.closure` (the one closure operator): {"mode":
        #: "walk" | "seminaive", "rounds": n, "seed": constant | None},
        #: no rounds for an unseeded walk — lets tests assert which arm
        #: ran, and that a bound-endpoint path never computed the full
        #: closure
        self.last_path_stats: dict | None = None

    # -- parsing -----------------------------------------------------
    def parse(self, query: str):
        toks = _tokenize(query)
        pos = 0
        prefixes: dict[str, str] = {}

        def peek():
            return toks[pos] if pos < len(toks) else None

        def take():
            nonlocal pos
            t = peek()
            pos += 1
            return t

        def expect(t):
            got = take()
            if got is None or got.lower() != t.lower():
                raise SparqlError(f"expected {t!r}, got {got!r}")

        while peek() and peek().upper() == "PREFIX":
            take()
            pname = take()
            uri = take()
            if not (pname and pname.endswith(":") or (pname and ":" in pname)):
                # tokenizer yields "px:" as pname only with local part; handle bare "px" ":"? tokenised as kw
                pass
            if uri is None or not uri.startswith("<"):
                raise SparqlError("PREFIX needs <uri>")
            prefixes[pname.rstrip(":").split(":")[0]] = uri[1:-1]

        form = take()
        if form is None or form.upper() not in (
            "SELECT", "CONSTRUCT", "ASK", "DESCRIBE"
        ):
            raise SparqlError(
                f"expected SELECT, CONSTRUCT, ASK or DESCRIBE, got {form!r}"
            )
        is_construct = form.upper() == "CONSTRUCT"
        is_ask = form.upper() == "ASK"
        is_describe = form.upper() == "DESCRIBE"
        proj: list[str] = []
        aggs: list[_Agg] = []
        star = False
        distinct = False
        _AGG_FUNCS = {"count", "sum", "min", "max", "avg", "group_concat", "sample"}
        if peek() and peek().upper() == "DISTINCT":
            take()
            distinct = True
        describe_star = False
        describe_raw: list[str] = []
        if is_describe:
            # DESCRIBE ( VarOrIri+ | '*' ) WhereClause?  (§16.4: the
            # WHERE group is optional; the description form is
            # service-defined — ours is the one-hop outgoing subgraph,
            # which with no blank nodes in the data model IS the
            # Concise Bounded Description).
            while peek() and peek().upper() != "WHERE" and peek() != "{":
                t = take()
                if t == "*":
                    describe_star = True
                else:
                    describe_raw.append(t)
            if not describe_star and not describe_raw:
                raise SparqlError("DESCRIBE needs ?vars, IRIs or *")
        while not is_construct and not is_ask and not is_describe \
                and peek() and peek().upper() != "WHERE":
            t = take()
            if t == "*":
                star = True
            elif t.startswith("?"):
                proj.append(t[1:])
            elif t == "(":
                # ( FUNC ( [DISTINCT] ?var | * ) AS ?alias )
                fn = take()
                if fn is None or fn.lower() not in _AGG_FUNCS:
                    raise SparqlError(f"unknown aggregate {fn!r}")
                expect("(")
                agg_distinct = False
                if peek() and peek().upper() == "DISTINCT":
                    take()
                    agg_distinct = True
                arg = take()
                if arg == "*":
                    if fn.lower() != "count":
                        raise SparqlError(f"{fn}(*) is not valid")
                    var = None
                elif arg and arg.startswith("?"):
                    var = arg[1:]
                else:
                    raise SparqlError(f"bad aggregate argument {arg!r}")
                sep = " "
                if fn.lower() == "group_concat" and peek() == ";":
                    take()
                    kw = take()
                    if kw is None or kw.upper() != "SEPARATOR":
                        raise SparqlError(
                            'GROUP_CONCAT options: only SEPARATOR="…" is supported'
                        )
                    expect("=")
                    lit = take()
                    if not (lit and lit.startswith('"')):
                        raise SparqlError("SEPARATOR needs a string literal")
                    sep = lit[1:-1].replace('\\"', '"')
                expect(")")
                expect("AS")
                alias = take()
                if not (alias and alias.startswith("?")):
                    raise SparqlError("aggregate needs AS ?alias")
                expect(")")
                aggs.append(_Agg(fn.lower(), var, agg_distinct, alias[1:], sep))
            else:
                raise SparqlError(f"bad projection term {t!r}")
        if is_ask or is_describe:
            # SPARQL grammar: ASK/DESCRIBE take an optional WHERE keyword
            if peek() and peek().upper() == "WHERE":
                take()
        elif not is_construct:
            expect("WHERE")

        def resolve(term: str) -> str:
            if term == "a":
                return RDF_TYPE
            if term.startswith("<"):
                return term[1:-1]
            if term.startswith('"'):
                return '\0LIT' + term[1:-1].replace('\\"', '"')
            if ":" in term and not term.startswith("?"):
                px, local = term.split(":", 1)
                if px not in prefixes:
                    raise SparqlError(f"unknown prefix {px!r}")
                return prefixes[px] + local
            if term.startswith("?"):
                return term
            # bare unprefixed name: not valid SPARQL — raising here sends
            # reference-style loose queries ("?e hasName ?name") to the
            # faithful substring dispatcher via execute_sparql's fallback
            raise SparqlError(f"bare term {term!r} (expected <uri>, prefix:name, ?var or 'a')")

        # --- FILTER expression parser (recursive descent → AST) -------
        # expr := and ('||' and)* ; and := unary ('&&' unary)*
        # unary := '!' unary | primary
        # primary := '(' expr ')' | FUNC '(' args ')' | term [cmp term]
        _FUNCS = {
            "contains", "strstarts", "strends", "regex", "bound", "lang",
            "str", "concat", "ucase", "lcase", "strlen",
            "substr", "replace", "strbefore", "strafter",
            "abs", "ceil", "floor", "round", "if", "coalesce",
        }

        def parse_filter_expr():
            def p_or():
                node = p_and()
                while peek() == "||":
                    take()
                    node = ("or", node, p_and())
                return node

            def p_and():
                node = p_unary()
                while peek() == "&&":
                    take()
                    node = ("and", node, p_unary())
                return node

            def p_unary():
                if peek() == "!":
                    take()
                    return ("not", p_unary())
                return p_primary()

            def p_term():
                t = take()
                if t is None:
                    raise SparqlError("unterminated FILTER expression")
                if t.lower() in _FUNCS and peek() == "(":
                    take()
                    args = [p_or()]
                    while peek() == ",":
                        take()
                        args.append(p_or())
                    expect(")")
                    return ("func", t.lower(), args)
                if t == "(":
                    node = p_or()
                    expect(")")
                    return node
                if t.startswith("?"):
                    return ("var", t[1:])
                if t.startswith('"'):
                    return ("lit", t[1:-1].replace('\\"', '"'))
                if re.fullmatch(r"-?\d+(?:\.\d+)?", t):
                    return ("num", float(t))
                # IRI or prefixed name → constant string
                return ("lit", resolve(t).removeprefix("\0LIT"))

            def p_primary():
                left = p_term()
                if peek() in ("=", "!=", "<", "<=", ">", ">="):
                    op = take()
                    return ("cmp", op, left, p_term())
                return left

            return p_or()

        def parse_path():
            """SPARQL 1.1 property-path subset in predicate position:
            alt := seq ('|' seq)* ; seq := elt ('/' elt)* ;
            elt := '^'? primary mod? ; mod := '+' | '*' | '?' ;
            primary := IRI | 'a' | '(' alt ')'.
            Returns a plain resolved term for the trivial case."""

            def p_primary():
                if peek() == "!":
                    # Negated property set: !iri or !(iri1|iri2|…) —
                    # forward predicates only (no ^iri members; SPARQL
                    # 1.1 §9.1 PathNegatedPropertySet subset).
                    take()
                    if peek() == "(":
                        take()
                        iris = [resolve(take())]
                        while peek() == "|":
                            take()
                            iris.append(resolve(take()))
                        expect(")")
                    else:
                        iris = [resolve(take())]
                    for iri in iris:
                        if iri.startswith("?") or iri.startswith("\0LIT"):
                            raise SparqlError(
                                "negated property set members must be IRIs"
                            )
                    return ("pneg", tuple(iris))
                if peek() == "(":
                    take()
                    node = p_alt()
                    expect(")")
                    return node
                return resolve(take())

            def p_mod(node):
                if peek() == "+":
                    take()
                    return ("pplus", node)
                if peek() == "*":
                    take()
                    return ("pstar", node)
                if peek() == "?":
                    take()
                    return ("popt", node)
                return node

            def p_elt():
                if peek() == "^":
                    take()
                    return ("pinv", p_mod(p_primary()))
                return p_mod(p_primary())

            def p_seq():
                parts = [p_elt()]
                while peek() == "/":
                    take()
                    parts.append(p_elt())
                return parts[0] if len(parts) == 1 else ("pseq", parts)

            def p_alt():
                parts = [p_seq()]
                while peek() == "|":
                    take()
                    parts.append(p_seq())
                return parts[0] if len(parts) == 1 else ("palt", parts)

            return p_alt()

        def parse_group() -> _Group:
            nonlocal pos
            expect("{")
            g = _Group()
            while peek() and peek() != "}":
                if peek().upper() == "OPTIONAL":
                    take()
                    g.optionals.append(parse_group())
                    continue
                if peek().upper() == "MINUS":
                    take()
                    g.minus.append(parse_group())
                    if peek() == ".":
                        take()
                    continue
                if (
                    peek() == "{"
                    and pos + 1 < len(toks)
                    and toks[pos + 1].upper()
                    in ("SELECT", "ASK", "CONSTRUCT", "DESCRIBE")
                ):
                    # SubSelect (SPARQL 1.1 §12): { SELECT … } — slice
                    # the balanced-brace token run and store it as
                    # re-parseable text (tokens are whitespace-lossless);
                    # compilation re-enters the full query pipeline and
                    # joins the result as a solution multiset.
                    take()
                    depth = 1
                    sub_toks: list[str] = []
                    while True:
                        t2 = take()
                        if t2 is None:
                            raise SparqlError("unterminated subquery")
                        if t2 == "{":
                            depth += 1
                        elif t2 == "}":
                            depth -= 1
                            if depth == 0:
                                break
                        sub_toks.append(t2)
                    decls = " ".join(
                        f"PREFIX {px}: <{uri}>" for px, uri in prefixes.items()
                    )
                    g.subselects.append((decls + " " + " ".join(sub_toks)).strip())
                    if peek() == ".":
                        take()
                    continue
                if peek() == "{":
                    # GroupOrUnionGraphPattern: { … } (UNION { … })*
                    chain = [parse_group()]
                    while peek() and peek().upper() == "UNION":
                        take()
                        chain.append(parse_group())
                    g.unions.append(chain)
                    if peek() == ".":
                        take()
                    continue
                if peek().upper() == "BIND":
                    take()
                    expect("(")
                    expr = parse_filter_expr()
                    expect("AS")
                    v = take()
                    if not v or not v.startswith("?"):
                        raise SparqlError("BIND needs (expr AS ?var)")
                    expect(")")
                    g.binds.append((v[1:], expr))
                    if peek() == ".":
                        take()
                    continue
                if peek().upper() == "VALUES":
                    take()

                    def values_term():
                        t2 = take()
                        if t2 is None:
                            raise SparqlError("unterminated VALUES block")
                        if t2.upper() == "UNDEF":
                            return None
                        if t2.startswith('"'):
                            return t2[1:-1].replace('\\"', '"')
                        if re.fullmatch(r"-?\d+(?:\.\d+)?", t2):
                            return t2
                        return resolve(t2).removeprefix("\0LIT")

                    head = take()
                    if head == "(":
                        vars_: list[str] = []
                        while peek() and peek() != ")":
                            vt = take()
                            if not vt or not vt.startswith("?"):
                                raise SparqlError("VALUES vars must be ?vars")
                            vars_.append(vt[1:])
                        expect(")")
                        tuple_form = True
                    elif head and head.startswith("?"):
                        vars_ = [head[1:]]
                        tuple_form = False
                    else:
                        raise SparqlError("VALUES needs ?var or (?v1 ?v2 …)")
                    if not vars_:
                        raise SparqlError("VALUES needs at least one variable")
                    expect("{")
                    rows: list[tuple] = []
                    while peek() and peek() != "}":
                        if tuple_form:
                            expect("(")
                            row = []
                            while peek() and peek() != ")":
                                row.append(values_term())
                            expect(")")
                            if len(row) != len(vars_):
                                raise SparqlError("VALUES row arity mismatch")
                        else:
                            row = [values_term()]
                        rows.append(tuple(row))
                    expect("}")
                    g.values_.append((vars_, rows))
                    if peek() == ".":
                        take()
                    continue
                if peek().upper() == "FILTER":
                    take()
                    if peek() and peek().upper() in ("EXISTS", "NOT"):
                        negated = take().upper() == "NOT"
                        if negated:
                            expect("EXISTS")
                        g.exists.append((negated, parse_group()))
                        if peek() == ".":
                            take()
                        continue
                    expect("(")
                    g.filters.append(parse_filter_expr())
                    expect(")")
                    if peek() == ".":
                        take()
                    continue
                subj = resolve(take())
                while True:
                    pred = parse_path()
                    while True:
                        obj = resolve(take())
                        g.patterns.append(_Pattern(subj, pred, obj))
                        if peek() == ",":
                            take()
                            continue
                        break
                    if peek() == ";":
                        take()
                        if peek() in (".", "}"):  # dangling ;
                            break
                        continue
                    break
                if peek() == ".":
                    take()
            expect("}")
            return g

        template: list[_Pattern] = []
        if is_construct:
            tgroup = parse_group()
            if (
                tgroup.optionals or tgroup.filters or tgroup.unions
                or tgroup.exists or tgroup.binds or tgroup.values_
            ):
                raise SparqlError("CONSTRUCT template takes plain triple patterns only")
            template = tgroup.patterns
            if not template:
                raise SparqlError("empty CONSTRUCT template")
            if any(isinstance(p.p, tuple) for p in template):
                raise SparqlError("CONSTRUCT template cannot contain property paths")
            expect("WHERE")
        if is_describe and peek() != "{":
            group = _Group()  # DESCRIBE <iri> — no WHERE group at all
        else:
            group = parse_group()
        describe_terms: list[tuple[str, str]] | None = None
        if is_describe:
            describe_terms = []
            for t in describe_raw:
                if t.startswith("?"):
                    describe_terms.append(("var", t[1:]))
                else:
                    r = resolve(t)
                    if r.startswith("\0LIT"):
                        raise SparqlError("DESCRIBE takes IRIs or ?vars, not literals")
                    describe_terms.append(("iri", r))

        order: list[tuple[str, bool]] = []  # (var, descending)
        limit: int | None = None
        offset: int | None = None
        group_by: list[str] = []
        having = None
        while peek():
            t = take()
            up = t.upper()
            if up == "GROUP":
                expect("BY")
                while peek() and peek().startswith("?"):
                    group_by.append(take()[1:])
                if not group_by:
                    raise SparqlError("GROUP BY needs at least one ?var")
            elif up == "HAVING":
                expect("(")
                having = parse_filter_expr()
                expect(")")
            elif up == "ORDER":
                expect("BY")
                while peek() and peek().upper() not in ("LIMIT", "OFFSET"):
                    t2 = take()
                    if t2.upper() in ("ASC", "DESC"):
                        expect("(")
                        v = take()
                        expect(")")
                        order.append((v[1:], t2.upper() == "DESC"))
                    elif t2.startswith("?"):
                        order.append((t2[1:], False))
                    else:
                        raise SparqlError(f"bad ORDER BY term {t2!r}")
            elif up == "LIMIT":
                limit = int(take())
            elif up == "OFFSET":
                offset = int(take())
            else:
                raise SparqlError(f"unexpected token {t!r}")

        return proj, star, group, order, limit, {
            "aggs": aggs,
            "distinct": distinct,
            "group_by": group_by,
            "having": having,
            "offset": offset,
            "construct": template,
            "ask": is_ask,
            "describe": (describe_terms, describe_star) if is_describe else None,
        }

    # -- compilation ---------------------------------------------------
    def _path_df(self, node) -> DataFrame:
        """Property path → (src, dst) endpoint pairs.  Spark-first:
        sequence = equi-join chain on the intermediate node, inverse =
        column swap, alternative = bag union — Catalyst reorders the
        joins and pushes the predicate constants into each scan."""
        if isinstance(node, str):
            if node.startswith("?") or node.startswith("\0LIT"):
                raise SparqlError("property path elements must be IRIs")
            return self.graph.filter(F.col("predicate") == node).select(
                F.col("subject").alias("src"), F.col("object").alias("dst")
            )
        kind = node[0]
        if kind == "pneg":
            # !(iri|…): any triple whose predicate is NOT in the set —
            # a NOT IN filter pushed into the scan, never a join.
            return self.graph.filter(
                ~F.col("predicate").isin(*node[1])
            ).select(F.col("subject").alias("src"), F.col("object").alias("dst"))
        if kind == "pinv":
            return _swap(self._path_df(node[1]))
        if kind == "pseq":
            cur = self._path_df(node[1][0])
            for elt in node[1][1:]:
                nxt = self._path_df(elt).select(
                    F.col("src").alias("_mid"), F.col("dst").alias("_nd")
                )
                cur = cur.join(nxt, F.col("dst") == F.col("_mid")).select(
                    "src", F.col("_nd").alias("dst")
                )
            return cur
        if kind == "palt":
            parts = [self._path_df(x) for x in node[1]]
            out = parts[0]
            for p2 in parts[1:]:
                out = out.unionByName(p2)
            return out
        if kind == "pplus":
            return self._closure(self._path_df(node[1]), None)
        if kind == "pstar":
            return self._closure(self._path_df(node[1]), None).unionByName(
                self._graph_nodes()
            ).distinct()
        if kind == "popt":
            return self._path_df(node[1]).unionByName(self._graph_nodes()).distinct()
        raise SparqlError(f"bad path node {node!r}")

    def _closure(self, edges: DataFrame, seed: str | None) -> DataFrame:
        """`traversal.closure` of the path's (src, dst) pairs, recording
        its stats as `last_path_stats`."""
        pairs, self.last_path_stats = closure(edges, seed)
        return pairs

    def _graph_nodes(self) -> DataFrame:
        """Zero-length path endpoints: every term appearing as subject
        or object, paired with itself (SPARQL 1.1 §9.3 ZeroLengthPath).
        A NULL is no RDF term, so it is no node."""
        g = self.graph
        nodes = (
            g.select(F.col("subject").alias("_n"))
            .unionByName(g.select(F.col("object").alias("_n")))
            .where(F.col("_n").isNotNull())
            .distinct()
        )
        return nodes.select(F.col("_n").alias("src"), F.col("_n").alias("dst"))

    @staticmethod
    def _term_value(term: str) -> str | None:
        """Constant value of an endpoint term (IRI or literal), None
        for variables."""
        if term.startswith("?"):
            return None
        return term[4:] if term.startswith("\0LIT") else term

    def _compile_path_pattern(self, p: _Pattern) -> tuple[DataFrame, set[str]]:
        kind = p.p[0] if isinstance(p.p, tuple) else None
        s_val, o_val = self._term_value(p.s), self._term_value(p.o)
        if kind in ("pplus", "pstar", "popt") and (
            s_val is not None or o_val is not None
        ):
            # bound-endpoint modified path: seed the closure at the
            # constant instead of computing the full closure and
            # filtering; `?` is one hop.  A constant object seeds the
            # closure of the transposed edges.  When both ends are
            # bound, seed from the subject; the constant-object filter
            # in `_bind_terms` still applies.
            forward = s_val is not None
            seed = s_val if forward else o_val
            df = self._path_df(p.p[1])
            if kind != "popt":
                df = self._closure(df if forward else _swap(df), seed)
                df = df if forward else _swap(df)
            if kind != "pplus":
                # zero-length path at a constant endpoint binds the
                # other end to the constant itself (SPARQL 1.1 §18.4
                # ZeroLengthPath with a term argument — unconditional,
                # no graph-membership test)
                zero = df.sparkSession.createDataFrame(
                    [(seed, seed)], "src string, dst string"
                )
                df = df.unionByName(zero).distinct()
        else:
            df = self._path_df(p.p)
        return self._bind_terms(df, ((p.s, "src"), (p.o, "dst")))

    def _compile_pattern(self, p: _Pattern) -> tuple[DataFrame, set[str]]:
        if isinstance(p.p, tuple):  # property path in predicate position
            return self._compile_path_pattern(p)
        return self._bind_terms(
            self.graph, ((p.s, "subject"), (p.p, "predicate"), (p.o, "object"))
        )

    @staticmethod
    def _bind_terms(df: DataFrame, terms) -> tuple[DataFrame, set[str]]:
        """Bind one pattern's (term, column) pairs over `df`: a constant
        filters its column, a variable names its first column and
        equates any repeat to it.  Returns (solutions, bound vars); a
        pattern with no variable yields one `_one` row iff it matches."""
        var_cols: dict[str, str] = {}  # var name → first source column
        for term, col in terms:
            if term.startswith("?"):
                var = term[1:]
                if var in var_cols:  # repeated var within one pattern
                    df = df.filter(F.col(col) == F.col(var_cols[var]))
                else:
                    var_cols[var] = col
            elif term.startswith("\0LIT"):
                df = df.filter(F.col(col) == term[4:])
            else:
                df = df.filter(F.col(col) == term)
        if var_cols:
            out = df.select(*[F.col(c).alias(v) for v, c in var_cols.items()])
        else:
            out = df.select(F.lit(1).alias("_one")).limit(1)
        return out, set(var_cols)

    # -- compatible-mapping join machinery ------------------------------
    #
    # SPARQL joins solutions by COMPATIBILITY: two solutions join iff for
    # every shared variable, either side is unbound (NULL) or the values
    # are equal, and the result binds coalesce(left, right).  A plain
    # equi-join silently drops solutions whose join key is NULL — which
    # happens exactly when a UNION branch or an OPTIONAL introduced the
    # variable on only one side (round-3 advice, sparql.py:534).
    #
    # Each compiled group therefore carries a `maybe_null` set: the vars
    # that can be NULL in some row.  Joins on definitely-bound vars stay
    # equi-joins (hash/SMJ-able — the 100-TB path); only vars that are
    # maybe-null on a side get the `isnull-or-equal` residual condition.

    @staticmethod
    def _compat_join(
        left: DataFrame,
        lmaybe: set[str],
        right: DataFrame,
        rmaybe: set[str],
        how: str = "inner",
    ) -> tuple[DataFrame, set[str]]:
        common = sorted(set(left.columns) & set(right.columns))
        lonly = [c for c in left.columns if c not in common]
        ronly = [c for c in right.columns if c not in common]
        if not common:
            if how == "left":
                # SPARQL LeftJoin with disjoint domains: every left row
                # survives; it pairs with each right row if any exist,
                # else extends with unbound (NULL) vars.  A crossJoin
                # here would DROP all left rows whenever the optional
                # side is empty (round-4 advice, sparql.py:690).
                out = left.join(right, F.lit(True), "left")
            else:
                out = left.crossJoin(right)
            maybe = set(lmaybe) | (set(right.columns) if how == "left" else set(rmaybe))
            return out, maybe
        eq = [c for c in common if c not in lmaybe and c not in rmaybe]
        compat = [c for c in common if c in lmaybe or c in rmaybe]
        if not compat:
            out = left.join(right, on=common, how=how)
        else:
            ren, cond = SparqlEngine._compat_cond(right, common, lmaybe | rmaybe)
            joined = left.join(ren, on=cond, how=how)
            out = joined.select(
                *lonly,
                *[F.col(c) for c in eq],
                *[F.coalesce(F.col(c), F.col("_r_" + c)).alias(c) for c in compat],
                *ronly,
            )
        maybe: set[str] = set()
        for c in common:
            if c in lmaybe and (how == "left" or c in rmaybe):
                maybe.add(c)
        maybe |= {c for c in lonly if c in lmaybe}
        maybe |= set(ronly) if how == "left" else {c for c in ronly if c in rmaybe}
        return out, maybe

    @staticmethod
    def _compat_cond(right: DataFrame, common: list[str], maybe: set[str]):
        """(`right` with each `common` column renamed `_r_<c>`, the
        compatibility condition against those columns): equality on
        every shared column, widened to isnull-or-equal where the
        column is in `maybe`."""
        ren = right
        for c in common:
            ren = ren.withColumnRenamed(c, "_r_" + c)
        cond = F.lit(True)
        for c in common:
            same = F.col(c) == F.col("_r_" + c)
            if c in maybe:
                same = F.col(c).isNull() | F.col("_r_" + c).isNull() | same
            cond = cond & same
        return ren, cond

    @staticmethod
    def _union_all(parts: list[tuple[DataFrame, set[str]]]) -> tuple[DataFrame, set[str]]:
        """Bag union with NULL padding; a var is definitely bound only if
        every branch binds it definitely."""
        all_cols: set[str] = set()
        for p, _ in parts:
            all_cols |= set(p.columns)
        bound_everywhere = set.intersection(
            *[set(p.columns) - m for p, m in parts]
        )
        u = parts[0][0]
        for p2, _ in parts[1:]:
            u = u.unionByName(p2, allowMissingColumns=True)
        return u, all_cols - bound_everywhere

    def _compile_group(self, g: _Group) -> tuple[DataFrame, set[str]]:
        if (
            not g.patterns and not g.optionals and not g.unions
            and not g.values_ and not g.subselects
        ):
            raise SparqlError("empty group")
        df: DataFrame | None = None
        maybe: set[str] = set()

        for p in g.patterns:
            pdf, _ = self._compile_pattern(p)
            df, maybe = (pdf, set()) if df is None else self._compat_join(
                df, maybe, pdf, set()
            )
        for sub_text in g.subselects:
            # SubSelect: evaluate the inner query independently (its
            # own projection/aggregation/modifiers), then join the
            # result into the group as a solution multiset.  Only
            # projected vars are visible outside (SPARQL 1.1 §12).
            sparsed = self.parse(sub_text)
            if (
                sparsed[5].get("ask")
                or sparsed[5]["construct"]
                or sparsed[5].get("describe")
            ):
                raise SparqlError("subqueries must be SELECT")
            sdf, smaybe = self._execute_parsed(*sparsed)
            df, maybe = (sdf, smaybe) if df is None else self._compat_join(
                df, maybe, sdf, smaybe
            )
        for chain in g.unions:
            # { g1 } UNION { g2 } …  Joining the rest of the group with
            # the union DISTRIBUTES over the branches —
            # Join(A, Union(B₁,B₂)) ≡ Union(Join(A,B₁), Join(A,B₂)) for
            # bag semantics — so each branch joins on only the vars IT
            # binds (plain equi-joins, no NULL keys), and branch-padded
            # NULLs can never collide with a join key.  The padded union
            # happens after the per-branch joins.
            parts = [self._compile_group(sub) for sub in chain]
            if df is None:
                df, maybe = self._union_all(parts)
            else:
                joined = [
                    self._compat_join(df, maybe, p, m) for p, m in parts
                ]
                df, maybe = self._union_all(joined)
        for opt in g.optionals:
            odf, omaybe = self._compile_group(opt)
            if df is None:
                df, maybe = odf, omaybe
            else:
                df, maybe = self._compat_join(df, maybe, odf, omaybe, how="left")
        for negated, sub in g.exists:
            # EXISTS / NOT EXISTS → left-semi / left-anti join on the
            # shared variables (Catalyst's native existential joins);
            # maybe-null shared vars get the compatibility condition
            sdf, smaybe = self._compile_group(sub)
            common = sorted(set(df.columns) & set(sdf.columns))
            if not common:
                raise SparqlError("EXISTS group shares no variables with the outer group")
            how = "left_anti" if negated else "left_semi"
            if not any(c in maybe or c in smaybe for c in common):
                df = df.join(sdf, on=common, how=how)
            else:
                ren, cond = self._compat_cond(sdf, common, maybe | smaybe)
                df = df.join(ren, on=cond, how=how)
        for sub in g.minus:
            # MINUS (SPARQL 1.1 §8.3.3): drop μ1 iff some right solution
            # μ2 is COMPATIBLE with μ1 AND shares at least one bound
            # variable (dom(μ1) ∩ dom(μ2) ≠ ∅ — disjoint-domain rows
            # survive).  Compiles to a LeftAnti join whose condition is
            # the compatibility conjunction plus an OR over "both sides
            # bound"; with definitely-bound shared vars the anti-join
            # stays hash-joinable on those keys.
            if df is None:
                raise SparqlError("MINUS needs a preceding pattern in the group")
            mdf, mmaybe = self._compile_group(sub)
            common = sorted(set(df.columns) & set(mdf.columns))
            if not common:
                continue  # disjoint domains: removes nothing
            ren, compat = self._compat_cond(mdf, common, maybe | mmaybe)
            shared_dom = F.lit(False)
            for c in common:
                shared_dom = shared_dom | (
                    F.col(c).isNotNull() & F.col("_r_" + c).isNotNull()
                )
            df = df.join(ren, on=compat & shared_dom, how="left_anti")
        for vars_, rows in g.values_:
            # inline solution table (SPARQL 1.1 VALUES): UNDEF → NULL,
            # joined with compatible-mapping semantics like any other
            # solution multiset.  At scale a VALUES block is tiny →
            # Catalyst broadcasts it into the pattern join.
            spark = self.graph.sparkSession
            vdf = spark.createDataFrame(
                rows, ", ".join(f"{v} string" for v in vars_)
            )
            vmaybe = {
                v for i, v in enumerate(vars_) if any(r[i] is None for r in rows)
            }
            if df is None:
                df, maybe = vdf, vmaybe
            else:
                df, maybe = self._compat_join(df, maybe, vdf, vmaybe)
        for var, expr in g.binds:
            # BIND applied after the group's joins (subset deviation:
            # SPARQL scopes BIND to the preceding-pattern prefix)
            if df is None:
                raise SparqlError("BIND needs a preceding pattern in the group")
            if var in df.columns:
                raise SparqlError(f"BIND would rebind in-scope ?{var}")
            df = df.withColumn(
                var, self._filter_to_column(expr, set(df.columns))
            )
            maybe.add(var)  # expression errors → NULL binding
        for flt in g.filters:
            df = df.filter(self._filter_to_column(flt, set(df.columns)))
        return df, maybe

    def _filter_to_column(self, ast, columns: set[str]):
        """FILTER AST → Catalyst Column.  Filters compile into the plan,
        so Catalyst pushes them down into the pattern scans."""
        kind = ast[0]
        if kind == "or":
            return self._filter_to_column(ast[1], columns) | self._filter_to_column(ast[2], columns)
        if kind == "and":
            return self._filter_to_column(ast[1], columns) & self._filter_to_column(ast[2], columns)
        if kind == "not":
            return ~self._filter_to_column(ast[1], columns)
        if kind == "var":
            if ast[1] not in columns:
                raise SparqlError(f"FILTER references unbound variable ?{ast[1]}")
            return F.col(ast[1])
        if kind == "lit":
            return F.lit(ast[1])
        if kind == "num":
            v = ast[1]
            return F.lit(int(v) if v == int(v) else v)
        if kind == "cmp":
            op, lhs, rhs = ast[1], ast[2], ast[3]
            numeric = lhs[0] == "num" or rhs[0] == "num"
            left = self._filter_to_column(lhs, columns)
            right = self._filter_to_column(rhs, columns)
            if numeric:  # SPARQL numeric comparison over string storage:
                # try_cast keeps non-numeric values NULL (filter-false)
                # instead of raising under ANSI mode
                left = left.try_cast("double")
                right = right.try_cast("double")
            return {
                "=": left == right,
                "!=": left != right,
                "<": left < right,
                "<=": left <= right,
                ">": left > right,
                ">=": left >= right,
            }[op]
        if kind == "func":
            name, args = ast[1], ast[2]
            cols = [self._filter_to_column(a, columns) for a in args]
            if name == "contains":
                return cols[0].contains(cols[1])
            if name == "strstarts":
                return cols[0].startswith(cols[1])
            if name == "strends":
                return cols[0].endswith(cols[1])
            if name == "regex":
                pat = args[1]
                if pat[0] != "lit":
                    raise SparqlError("REGEX pattern must be a literal")
                pattern = pat[1]
                if len(args) > 2 and args[2][0] == "lit" and "i" in args[2][1]:
                    pattern = "(?i)" + pattern
                return cols[0].rlike(pattern)
            if name == "bound":
                return cols[0].isNotNull()
            if name == "str":
                return cols[0].cast("string")
            if name == "lang":
                return F.lit("")  # no language tags in the data model
            if name == "concat":
                return F.concat(*[c.cast("string") for c in cols])
            if name == "ucase":
                return F.upper(cols[0])
            if name == "lcase":
                return F.lower(cols[0])
            if name == "strlen":
                return F.length(cols[0])
            if name == "substr":
                # SPARQL SUBSTR is 1-based like Spark's substr
                ln = cols[2] if len(cols) > 2 else F.lit(2**31 - 1)
                return cols[0].substr(cols[1].cast("int"), ln.cast("int"))
            if name == "replace":
                # SPARQL REPLACE is regex-based (xpath fn:replace)
                if args[1][0] != "lit" or args[2][0] != "lit":
                    raise SparqlError("REPLACE pattern/replacement must be literals")
                return F.regexp_replace(cols[0], args[1][1], args[2][1])
            if name in ("strbefore", "strafter"):
                if args[1][0] != "lit":
                    raise SparqlError(f"{name.upper()} separator must be a literal")
                sep = args[1][1]
                # fn:substring-before/-after: "" when the separator is absent
                if name == "strbefore":
                    hit = F.substring_index(cols[0], sep, 1)
                else:
                    pos = F.instr(cols[0], sep)
                    hit = F.substring(
                        cols[0], pos + F.lit(len(sep)), F.lit(2**31 - 1)
                    )
                return F.when(
                    F.instr(cols[0], sep) > 0, hit
                ).otherwise(F.lit(""))
            if name in ("abs", "ceil", "floor", "round"):
                return getattr(F, name)(cols[0].try_cast("double"))
            if name == "if":
                return F.when(cols[0], cols[1]).otherwise(cols[2])
            if name == "coalesce":
                return F.coalesce(*cols)
            raise SparqlError(f"unsupported FILTER function {name}")
        raise SparqlError(f"bad FILTER node {ast!r}")

    def _execute_construct(
        self, solutions: DataFrame, template: list[_Pattern], limit: int | None
    ) -> DataFrame:
        """CONSTRUCT: instantiate each template triple per solution row,
        drop instantiations with unbound terms (SPARQL semantics), and
        distinct the result — a graph is a SET of triples.  Compiles to
        a union of narrow projections over the one solution DataFrame."""
        cols = set(solutions.columns)

        def term_col(term: str):
            if term.startswith("?"):
                var = term[1:]
                if var not in cols:
                    return F.lit(None).cast("string")
                return F.col(var)
            if term.startswith("\0LIT"):
                return F.lit(term[4:])
            return F.lit(term)

        parts = [
            solutions.select(
                term_col(p.s).alias("subject"),
                term_col(p.p).alias("predicate"),
                term_col(p.o).alias("object"),
            )
            for p in template
        ]
        out = parts[0]
        for p2 in parts[1:]:
            out = out.unionByName(p2)
        out = out.filter(
            F.col("subject").isNotNull()
            & F.col("predicate").isNotNull()
            & F.col("object").isNotNull()
        ).distinct()
        if limit is not None:
            out = out.limit(limit)
        return out

    def _execute_describe(
        self,
        solutions: DataFrame,
        terms: list[tuple[str, str]],
        star: bool,
        limit: int | None,
    ) -> DataFrame:
        """DESCRIBE: the one-hop outgoing subgraph of each resource.

        §16.4 leaves the description form service-defined; with no blank
        nodes in this data model the outgoing one-hop slice IS the
        Concise Bounded Description.  Two arms, unioned:

        - explicit IRIs compile to `subject IN (...)` — a pushed-down
          scan filter, no join (the 100-TB `DESCRIBE <x>` path touches
          only matching row groups);
        - ?var terms (or every in-scope var for `DESCRIBE *`) collect
          their DISTINCT non-null bindings and inner-join the graph on
          subject — literals bound to a var simply match no subject.
        """
        g = self.graph
        parts: list[DataFrame] = []
        iris = sorted({t[1] for t in terms if t[0] == "iri"})
        var_names = [t[1] for t in terms if t[0] == "var"]
        if star:
            var_names = list(solutions.columns)
        if iris:
            parts.append(g.filter(F.col("subject").isin(iris)))
        present = [v for v in dict.fromkeys(var_names) if v in solutions.columns]
        if present:
            res = None
            for v in present:
                arm = solutions.select(F.col(v).alias("subject")).filter(
                    F.col("subject").isNotNull()
                )
                res = arm if res is None else res.unionByName(arm)
            parts.append(g.join(res.distinct(), on="subject", how="inner"))
        if not parts:  # all vars unbound in the WHERE group → empty graph
            return g.filter(F.lit(False)).select("subject", "predicate", "object")
        out = parts[0]
        for p2 in parts[1:]:
            out = out.unionByName(p2)
        out = out.select("subject", "predicate", "object").distinct()
        if limit is not None:
            out = out.limit(limit)
        return out

    def _agg_column(self, a: _Agg):
        if a.var is None:  # COUNT(*)
            return F.count(F.lit(1)).alias(a.alias)
        col = F.col(a.var)
        if a.func == "group_concat":
            # SPARQL leaves GROUP_CONCAT order implementation-defined;
            # sort the collected values so the result is deterministic
            # across partitionings (≡ SQL string_agg(… ORDER BY …)).
            vals = F.collect_set(col) if a.distinct else F.collect_list(col)
            return F.array_join(F.array_sort(vals), a.sep).alias(a.alias)
        if a.func == "sample":
            # SAMPLE(?v) is any value from the group — min() is a valid
            # choice and the only deterministic one under Spark's
            # partition-order nondeterminism.
            return F.min(col).alias(a.alias)
        if a.func in ("sum", "avg"):  # numeric aggregate over string storage
            col = col.try_cast("double")
        if a.func == "count":
            agg = F.count_distinct(col) if a.distinct else F.count(col)
        else:
            if a.distinct and a.func == "sum":
                agg = F.sum_distinct(col)
            else:
                agg = getattr(F, a.func)(col)
        return agg.alias(a.alias)

    def execute(self, query: str) -> DataFrame:
        return self._execute_parsed(*self.parse(query))[0]

    def _execute_parsed(
        self, proj, star, group, order, limit, extras
    ) -> tuple[DataFrame, set[str]]:
        """Compile a parsed query to (DataFrame, maybe-null var set).

        The maybe set is threaded out so a SubSelect's result can join
        its enclosing group with correct compatible-mapping semantics
        (isnull-or-equal residuals only where a var can be unbound)."""
        if extras.get("describe") and not (
            group.patterns or group.optionals or group.unions
            or group.values_ or group.subselects
        ):
            # DESCRIBE <iri> … with no WHERE clause: no solutions to
            # compute — a one-row dummy keeps the executor uniform.
            df, maybe = self.graph.sparkSession.range(1).select(
                F.lit(1).alias("_one")
            ), set()
        else:
            df, maybe = self._compile_group(group)
        if extras.get("ask"):
            # ASK → one boolean row.  limit(1) short-circuits: Spark's
            # CollectLimit stops the scan at the first solution, so at
            # 100 TB an ASK over a selective pattern touches one split.
            return df.limit(1).agg(
                (F.count(F.lit(1)) > F.lit(0)).alias("ask")
            ), set()
        if extras["construct"]:
            return self._execute_construct(df, extras["construct"], limit), set()
        if extras.get("describe"):
            terms, dstar = extras["describe"]
            return self._execute_describe(df, terms, dstar, limit), set()
        aggs, group_by = extras["aggs"], extras["group_by"]
        if group_by and not aggs:
            # GROUP BY with no aggregate in the projection: solution
            # sequences collapse to the distinct grouping keys (SPARQL
            # algebra Group/AggregateJoin with zero aggregates).  Without
            # this arm, groupBy().agg() raises a raw PySpark
            # AssertionError (round-3 advice, sparql.py:680).
            for v in proj:
                if v not in group_by:
                    raise SparqlError(
                        f"?{v} projected but neither aggregated nor grouped"
                    )
            # Group over the FULL key set, evaluate HAVING on that
            # frame, then project — distinct over a projected subset
            # would collapse groups (wrong cardinality) and hide
            # unprojected grouping vars from HAVING (round-4 advice,
            # sparql.py:1005).
            grouped = df.select(*group_by).distinct()
            if extras["having"] is not None:
                grouped = grouped.filter(
                    self._filter_to_column(extras["having"], set(grouped.columns))
                )
            df = grouped.select(*(proj or group_by))
            maybe &= set(df.columns)
        elif aggs or group_by:
            keys = group_by or proj  # bare projected vars double as keys
            for v in proj:
                if v not in keys:
                    raise SparqlError(
                        f"?{v} projected but neither aggregated nor grouped"
                    )
            agged = (
                df.groupBy(*keys) if keys else df.groupBy()
            ).agg(*[self._agg_column(a) for a in aggs])
            if extras["having"] is not None:
                agged = agged.filter(
                    self._filter_to_column(extras["having"], set(agged.columns))
                )
            df = agged.select(*(proj + [a.alias for a in aggs]))
            # COUNT/GROUP_CONCAT never yield NULL; the numeric/string
            # aggregates can (try_cast of non-numeric storage, all-NULL
            # groups) — conservatively maybe for subquery join purposes
            maybe = (maybe & set(df.columns)) | {
                a.alias for a in aggs if a.func not in ("count", "group_concat")
            }
        else:
            if star:
                df = df.select(*sorted(df.columns))
            elif proj:
                missing = [v for v in proj if v not in df.columns]
                for v in missing:  # unbound projection vars → NULL (SPARQL)
                    df = df.withColumn(v, F.lit(None).cast("string"))
                df = df.select(*proj)
                maybe = (maybe | set(missing)) & set(proj)
        # SPARQL clause application order: … → DISTINCT → ORDER → OFFSET/LIMIT
        if extras["distinct"]:
            df = df.distinct()
        if order:
            df = df.orderBy(
                *[F.col(v).desc() if desc else F.col(v).asc() for v, desc in order]
            )
        if extras["offset"] is not None:
            df = df.offset(extras["offset"])
        if limit is not None:
            df = df.limit(limit)
        return df, maybe & set(df.columns)


def execute_sparql(graph: DataFrame, query: str) -> DataFrame:
    """Real engine with fallback to the faithful reference dispatcher.

    The fallback only fires for reference-style LOOSE queries (bare
    terms, no PREFIX declarations and no <IRI> tokens) — the shapes the
    reference's substring dispatcher was written for
    (ref:src/knowledge_graph/mod.rs:127-166).  A query that clearly
    targets the real engine (prefixed or IRI triple patterns) must
    propagate its parse error instead of silently degrading to a full
    graph dump, which would feed templates wrong data as a "success".
    """
    if not query.strip().lower().startswith(
        ("select", "prefix", "construct", "ask", "describe")
    ):
        raise SparqlError(
            "Only SELECT queries are supported in this simplified implementation"
        )
    try:
        return SparqlEngine(graph).execute(query)
    except SparqlError:
        targets_real_engine = bool(
            re.search(r"(?im)^\s*PREFIX\s", query)
            or re.search(r"<\s*https?:", query)
            # a nested query form ({ SELECT … } subquery / misplaced
            # ASK/CONSTRUCT) is SPARQL-1.1 syntax the reference's loose
            # dispatcher never sees — never degrade it to a graph dump
            or re.search(r"\{\s*(SELECT|ASK|CONSTRUCT|DESCRIBE)\b", query, re.I)
        )
        if targets_real_engine:
            raise
        return execute_simple_sparql(graph, query)
