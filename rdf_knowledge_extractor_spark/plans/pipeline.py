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
aren't available).  A `_MANIFEST.json` per stage names the stage's
data dir and records row count, wall-clock, partition count and a
params fingerprint.  Each run writes a fresh data dir, then replaces
the manifest atomically (temporary file + `os.replace`), so a manifest
only ever vouches for the rows its own run wrote; `run` skips any stage
whose manifest matches the fingerprint.  Per-partition metrics (rows per
partition id) come from a partition-id aggregation and are stored in
the manifest.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import time
import uuid
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
from rdf_knowledge_extractor_spark.plans.store import TripleStore, write_json_atomic


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

    def _manifest_path(self, stage: str) -> Path:
        return self.base / stage / "_MANIFEST.json"

    def _manifest(self, stage: str) -> dict | None:
        mp = self._manifest_path(stage)
        return json.loads(mp.read_text()) if mp.exists() else None

    def _data_path(self, manifest: dict) -> str:
        return str(self.base / manifest["stage"] / manifest["data"])

    def _load_if_done(self, stage: str, fp: str) -> DataFrame | None:
        manifest = self._manifest(stage)
        if manifest and manifest.get("fingerprint") == fp and "data" in manifest:
            return self.spark.read.parquet(self._data_path(manifest))
        return None

    def _run_stage(self, stage: str, params: dict, build) -> DataFrame:
        fp = self._fingerprint(stage, params)
        cached = self._load_if_done(stage, fp)
        if cached is not None:
            self.results.append(StageResult(stage, -1, 0.0, -1, True))
            return cached
        t0 = time.monotonic()
        df: DataFrame = build()
        # a fresh dir per run, named by the manifest: the manifest on
        # disk keeps vouching for the data it names until the swap, so
        # a crash in between can never pair it with another run's rows
        data = f"data-{uuid.uuid4().hex[:8]}"
        out = str(self.base / stage / data)
        df.write.parquet(out)
        persisted = self.spark.read.parquet(out)
        # per-partition lineage: rows per physical partition of the output
        part_rows = (
            persisted.groupBy(F.spark_partition_id().alias("pid"))
            .count()
            .collect()
        )
        rows = sum(r["count"] for r in part_rows)
        elapsed = time.monotonic() - t0
        manifest = {
            "stage": stage,
            "fingerprint": fp,
            "data": data,
            "rows": rows,
            "seconds": elapsed,
            "partitions": len(part_rows),
            "partition_rows": {str(r["pid"]): r["count"] for r in part_rows},
            "params": params,
            "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        write_json_atomic(self._manifest_path(stage), manifest)
        # the superseded dir, and any a crashed run left, is unreachable now
        for old in (self.base / stage).glob("data*"):
            if old.name != data:
                shutil.rmtree(old)
        self.results.append(StageResult(stage, rows, elapsed, len(part_rows), False))
        return persisted

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
        return self.spark.read.parquet(self._data_path(self._manifest("s3_lineage")))

    def stage_manifests(self) -> list[dict]:
        out = []
        for p in sorted(self.base.glob("*/_MANIFEST.json")):
            out.append(json.loads(p.read_text()))
        return out
