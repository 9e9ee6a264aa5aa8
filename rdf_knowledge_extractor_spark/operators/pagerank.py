"""PageRank over the knowledge-graph entity link structure.

Entity importance for the KG the pipeline materializes (reference
scope: the Rust engine stores triples but has no graph analytics —
/root/reference/src/kg/mod.rs): classic damped PageRank with uniform
dangling-mass redistribution, run a fixed number of iterations.

Scale shape (the `operators/components.py` iterative playbook):

- edges get their out-degree attached ONCE, are repartitioned by src
  and localCheckpoint'ed — the loop re-shuffles only the rank table
  (one hash aggregate by dst per iteration, map-side combinable);
- dangling mass is a broadcast 1-row aggregate (no per-iteration
  driver action) and the only driver-side scalar is |nodes|, computed
  once up front (the CC convergence-scalar pattern);
- every iteration ends in `localCheckpoint(eager=True)` — Catalyst
  re-analysis of a plan that nests a join per round is THE measured
  single-node bottleneck for iterative DataFrame algorithms, and the
  checkpoint also bounds lineage for fault-free local mode;
- a fixed iteration count (not a convergence test) keeps the plan
  deterministic and lets the DuckDB oracle unroll the same five
  CTE steps; ranks round to 6 dp, far above accumulated 1-ulp drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# the oracle unrolls the same number of steps
ITERATIONS = 5


def pagerank(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """(node, rank) — PageRank (damping 0.85) after `ITERATIONS` rounds over
    the distinct directed edge set.  Ranks sum to 1 and are rounded
    to 6 dp.  Nodes are every endpoint; dangling nodes (no out-edges)
    redistribute their mass uniformly."""
    e = edges.select(
        F.col(src_col).alias("_s"), F.col(dst_col).alias("_d")
    ).distinct()
    nodes = (
        e.select(F.col("_s").alias("node"))
        .union(e.select(F.col("_d")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()  # the one driver-side scalar (constant all rounds)
    outdeg = e.groupBy("_s").agg(F.count(F.lit(1)).alias("_deg"))
    linked = (
        e.join(outdeg, on="_s")
        .repartition(F.col("_s"))
        .localCheckpoint(eager=True)
    )
    has_out = outdeg.select(F.col("_s").alias("node"))

    base = F.lit((1.0 - 0.85) / n)
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for _ in range(ITERATIONS):
        contrib = (
            ranks.join(linked, ranks["node"] == linked["_s"])
            .groupBy("_d")
            .agg(F.sum(F.col("rank") / F.col("_deg")).alias("_con"))
        )
        dangling = (
            ranks.join(has_out, on="node", how="left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm"))
        )
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["_d"], "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    base
                    + F.lit(0.85)
                    * (
                        F.coalesce(F.col("_con"), F.lit(0.0))
                        + F.col("_dm") / F.lit(float(n))
                    )
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("node", F.round("rank", 6).alias("rank"))
