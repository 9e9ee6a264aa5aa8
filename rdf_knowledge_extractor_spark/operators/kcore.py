"""k-core decomposition: coreness via distributed h-index iteration.

Coreness (the largest k such that a node survives in the k-core) is
the standard graph-density signal for spam-farm and boilerplate-hub
detection on web link graphs, and the degeneracy-ordering primitive
under many community algorithms.  Beyond-reference family (the
reference engine scopes itself to small KGs).

Algorithm — Lü/Chen/Ren/Zhang/Zhou/Stanley (2016): start every node
at its degree and repeatedly replace each node's value with the
H-INDEX of its neighbors' values; the sequence is non-increasing and
converges exactly to coreness.  Unlike min-degree peeling (whose
round count is the number of distinct peel steps — O(n) worst case),
h-index iteration converges in a few rounds on real graphs and every
round is embarrassingly parallel.

Scale shape per round:

- neighbor values arrive by joining the (symmetrized) edge list with
  the current value table on the neighbor key — both sides hash-keyed,
  AQE handles hot-node skew;
- the h-index per node is computed WITHOUT collecting neighbor
  arrays: rank neighbor values descending per node with row_number
  (one window pass) and take max(min(rank, value)) — a hub's h-index
  costs a sort of its adjacency, never an in-memory array;
- values monotonically decrease, so the fixpoint test (any change?)
  is a 1-row aggregate; localCheckpoint per round truncates lineage
  (the components.py/pagerank.py playbook).

Correctness is carried by an independent pure-Python min-degree
peeling implementation in tests (a genuinely different algorithm);
the fixpoint loop is not static-SQL-expressible, so the driver row is
rows-only like the other iterative ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# the round bound of `coreness`' fixpoint loop
MAX_ITER = 60


def _symmetric_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct undirected adjacency as directed pairs both ways,
    self-loops dropped."""
    canon = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    return canon.select(
        F.col("a").alias("u"), F.col("b").alias("n")
    ).unionByName(canon.select(F.col("b").alias("u"), F.col("a").alias("n")))


def coreness(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(node, coreness) — exact core number per node.  Converges when
    an iteration changes no value (guaranteed; `MAX_ITER` is a
    safety rail and raises if hit, since a truncated run would
    silently overestimate).

    Round count: value corrections propagate one hop per round, so
    convergence is O(graph diameter) in the worst case (a long path
    is the pathological input).  Web-scale link graphs are
    small-world (diameter ~ tens), where the iteration settles in a
    handful of rounds — the reason this formulation beats min-degree
    peeling (O(distinct peel steps) sequential rounds) at scale."""
    adj = _symmetric_edges(edges, src, dst).localCheckpoint(eager=True)
    vals = adj.groupBy("u").agg(F.count(F.lit(1)).alias("c"))
    vals = vals.localCheckpoint(eager=True)
    w = Window.partitionBy("u").orderBy(F.col("_nc").desc(), F.col("n"))
    for _ in range(MAX_ITER):
        nxt = (
            adj.join(
                vals.select(F.col("u").alias("n"), F.col("c").alias("_nc")),
                on="n",
            )
            .withColumn("_rn", F.row_number().over(w))
            .groupBy("u")
            .agg(
                F.max(F.least(F.col("_rn"), F.col("_nc"))).alias("c")
            )
        )
        nxt = nxt.localCheckpoint(eager=True)
        converged = (
            nxt.join(
                vals.select("u", F.col("c").alias("_old")), on="u"
            )
            .filter(F.col("c") != F.col("_old"))
            .isEmpty()
        )
        vals = nxt
        if converged:
            return vals.select(
                F.col("u").alias("node"), F.col("c").alias("coreness")
            )
    raise RuntimeError(f"coreness did not converge in {MAX_ITER} rounds")
