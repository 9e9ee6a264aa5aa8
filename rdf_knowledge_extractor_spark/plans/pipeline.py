"""Staged KG-construction pipeline with checkpoint/resume + lineage.

North-rule requirements (BASELINE.json): explicit repartitioning
between extract / link / canonicalize stages, resumable from
checkpoint, per-partition lineage + metrics.

Design (Spark-first, not a port — the reference is one sequential
in-memory loop, ref:src/core/extractor.rs:199-208):

    pages ──html→text→extract──► s2_extracted ──┬─► s3_triples
                                                └─► s3_lineage
    s3_triples ──link──► s4_mapping ──canonicalize──► s5_graph

Extraction is the fused `extract_triples_stage(…, html_col="html")`:
html crosses into Python once and only triple rows come back.  Each
stage materializes to a checkpoint table (parquet here; an Iceberg
table in production — this repo targets the sandbox where Iceberg jars
aren't available) through the store's one commit step: stage `s` with
fingerprint `fp` (stage, config hash, input identity, params) is the
`TripleStore` at `<base>/<s>/<fp>/` holding one batch keyed `fp`.  A
stage resumes when `fp` is committed there and otherwise commits
`build()` under it; either way its other fingerprint roots are removed
once it resolves, and a recompute first vacuums the orphans of a
crashed same-fingerprint run (the pipeline is its checkpoint dir's only
writer).  The commit records each part file's row count and the
stage's schema from the footers, so neither the per-partition metric
nor the stage's read costs a Spark job.  Every stage, and `lineage()`,
reads back through `TripleStore.read()`.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdf_knowledge_extractor_spark.config import Configuration
from rdf_knowledge_extractor_spark.functions.extract import (
    extract_triples_stage,
    split_triples_and_lineage,
)
from rdf_knowledge_extractor_spark.operators.canonicalize import canonicalize_triples
from rdf_knowledge_extractor_spark.operators.dedup import merge_results
from rdf_knowledge_extractor_spark.operators.linking import link_entities
from rdf_knowledge_extractor_spark.plans.store import TripleStore


@dataclass
class StageResult:
    name: str
    rows: int
    seconds: float
    partitions: int
    resumed: bool


class KgPipeline:
    def __init__(
        self,
        spark: SparkSession,
        config: Configuration,
        base_dir: str,
        client_kind: str = "stub",
        partitions: int | None = None,
    ):
        self.spark = spark
        self.config = config
        self.base = Path(base_dir)
        self.base.mkdir(parents=True, exist_ok=True)
        self.client_kind = client_kind
        self.partitions = partitions or int(
            spark.conf.get("spark.sql.shuffle.partitions")
        )
        self.results: list[StageResult] = []

    # -- checkpoint plumbing -------------------------------------------
    def _config_hash(self) -> str:
        """Content hash of the FULL config (questions, schema, rules…) —
        editing extraction questions under the same config name must
        invalidate checkpoints."""
        import dataclasses

        blob = json.dumps(dataclasses.asdict(self.config), sort_keys=True, default=str)
        return hashlib.sha256(blob.encode()).hexdigest()[:16]

    def _input_identity(self, pages: DataFrame) -> str:
        """Cheap content fingerprint of the input: row count + xor and sum
        of per-row xxhash64 over the identifying columns (one parallel agg
        job; order-independent).  The xor alone cancels a repeated row,
        so {A, A, C} and {B, B, C} would collide; the DECIMAL(38,0) sum
        does not cancel and cannot overflow (plain `sum` of longs does,
        and raises under ANSI mode)."""
        cols = [c for c in ("url", "doc_seq", "warc_ts") if c in pages.columns]
        if not cols:
            cols = pages.columns[:2]
        h = F.xxhash64(*cols)
        row = pages.select(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(h).alias("x"),
            F.sum(h.cast("decimal(38,0)")).alias("s"),
        ).collect()[0]
        return f"{row['n']}:{row['x']}:{row['s']}"

    def _fingerprint(self, stage: str, params: dict) -> str:
        blob = json.dumps(
            {
                "stage": stage,
                "config": self.config.name,
                "config_hash": self._config_hash(),
                "input": getattr(self, "_input_id", None),
                **params,
            },
            sort_keys=True,
        )
        return hashlib.sha256(blob.encode()).hexdigest()[:16]

    def _run_stage(self, stage: str, params: dict, build) -> DataFrame:
        fp = self._fingerprint(stage, params)
        t0 = time.monotonic()
        store = TripleStore(self.spark, str(self.base / stage / fp))
        resumed = fp in store.batch_ids()
        if not resumed:
            store.vacuum(min_age_sec=0)
            store.commit(build(), fp, store.version())
        for old in (self.base / stage).iterdir():
            if old.name != fp and old.is_dir():
                shutil.rmtree(old)
        entry = store.batch(fp)
        elapsed = time.monotonic() - t0
        self.results.append(
            StageResult(stage, entry["rows"], elapsed, len(entry["files"]), resumed)
        )
        return store.read()

    # -- the pipeline ----------------------------------------------------
    def run(self, pages: DataFrame) -> DataFrame:
        """pages(url, doc_seq, html) → canonicalized graph table,
        resuming every stage whose checkpoint matches its fingerprint."""
        n = self.partitions
        # input identity folds into every stage fingerprint: re-running on
        # different pages (or an edited config) recomputes instead of
        # silently returning a stale checkpoint
        self._input_id = self._input_identity(pages)

        s2 = self._run_stage(
            "s2_extracted",
            {"n": n, "client": self.client_kind},
            lambda: extract_triples_stage(
                pages.repartition(n, "url"),
                self.config,
                self.client_kind,
                html_col="html",
            ),
        )

        triples, lineage = split_triples_and_lineage(s2)
        s3 = self._run_stage(
            "s3_triples",
            {"n": n},
            # explicit repartition on the dedup key before the global merge
            lambda: merge_results(
                triples.repartition(n, "subject", "predicate", "object"),
                deduplicate=self.config.post_processing.deduplicate,
            ),
        )
        self._run_stage("s3_lineage", {"n": n}, lambda: lineage)

        s4 = self._run_stage("s4_mapping", {"n": n}, lambda: link_entities(s3))

        return self._run_stage(
            "s5_graph",
            {"n": n},
            lambda: canonicalize_triples(s3, s4).repartition(n, "subject"),
        )

    def commit_to_store(
        self, graph: DataFrame, store_root: str, batch_id: str | None = None
    ) -> int:
        """Materialize a pipeline result into the transactional
        `TripleStore` (plans/store.py): write-new-files + atomic
        manifest swap, idempotent per batch_id — the exactly-once
        insert the reference's `add_triples` implies
        (ref:src/knowledge_graph/mod.rs:91-114) held under crash/retry.
        Default batch_id is the run's input+config fingerprint, so
        re-running the same pipeline twice commits once."""
        bid = batch_id or self._fingerprint("store_commit", {})
        return TripleStore(self.spark, store_root).insert_if_absent(graph, bid)

    def lineage(self) -> DataFrame:
        (entry,) = (m for m in self.stage_manifests() if m["stage"] == "s3_lineage")
        root = self.base / "s3_lineage" / entry["fingerprint"]
        return TripleStore(self.spark, str(root)).read()

    def stage_manifests(self) -> list[dict]:
        """Each committed stage's store entry (path, rows, per-file
        `files` row counts) with its `stage` and `fingerprint`."""
        return [
            {"stage": m.parent.parent.name, "fingerprint": m.parent.name,
             **TripleStore(self.spark, str(m.parent)).batch(m.parent.name)}
            for m in sorted(self.base.glob("*/*/manifest.json"))
        ]
