"""Deterministic train/validation/test split assignment.

The last step before a curated corpus ships: every document gets a
split label that is a pure function of its id, so the assignment is
reproducible across engines, runs, and re-partitioning — and any
engine with md5() (the DuckDB oracle included) derives the identical
assignment.  Joins the curation/decontam/packing beyond-reference
family (the reference engine scopes itself to small KGs —
/root/reference/README.md).

Mechanics: the first 8 hex chars of md5(id) are a uniform 32-bit
priority (operators/curation._hash_hex8 — same primitive as
`deterministic_sample`, so a doc's sample fate and split fate come
from one hash family); cumulative weight boundaries carve [0, 2³²)
into one interval per split.  A stateless per-row CASE — narrow,
zero-shuffle, evaluated at scan speed at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from rdf_knowledge_extractor_spark.operators.curation import (
    _hash_hex8,
    sample_threshold_hex,
)


def split_boundaries(weights: dict[str, float]) -> list[tuple[str, str]]:
    """[(split_name, upper_hex8)] with cumulative upper bounds; the
    last split's bound is clamped to 'ffffffff' so rounding can never
    leave an unassigned sliver."""
    if not weights:
        raise ValueError("weights must be non-empty")
    total = sum(weights.values())
    if total <= 0:
        raise ValueError(f"weights must sum to > 0, got {total}")
    out: list[tuple[str, str]] = []
    acc = 0.0
    names = list(weights)
    for name in names:
        acc += weights[name] / total
        out.append((name, sample_threshold_hex(acc)))
    out[-1] = (out[-1][0], "ffffffff")
    return out


def split_column(id_col: Column, weights: dict[str, float]) -> Column:
    """CASE expression assigning a split name from the id hash."""
    h = _hash_hex8(id_col)
    bounds = split_boundaries(weights)
    expr = None
    for name, upper in bounds[:-1]:
        cond = h < F.lit(upper)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(bounds[-1][0])
    return last if expr is None else expr.otherwise(last)


def assign_splits(
    docs: DataFrame, id_col: str = "doc_id", out_col: str = "split"
) -> DataFrame:
    """Adds `out_col` with the deterministic 90/5/5 train/val/test
    split label."""
    weights = {"train": 0.9, "val": 0.05, "test": 0.05}
    return docs.withColumn(out_col, split_column(F.col(id_col), weights))
