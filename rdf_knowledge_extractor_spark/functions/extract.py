"""Micro-batched triple extraction stage (`mapInPandas`).

Spark-first re-expression of the reference per-document loop
(ref:src/core/extractor.rs:122-208): instead of one sequential
process → prompt → LLM → parse per document, executors consume Arrow
batches of pages, run the prompt/LLM/parse pipeline per micro-batch,
and emit exploded triple rows with `(doc_seq, triple_seq)` ordinals.

Parse semantics are exact parity with
ref:src/core/extractor.rs:246-293 (array or {"triples": […]} wrapper,
"" defaults, all-three-non-empty filter, optional numeric confidence)
plus URI/predicate normalization (ref:src/core/extractor.rs:295-309)
and per-document post-processing (first-occurrence dedup + validation
rules, ref:src/core/extractor.rs:311-383).

Documents whose LLM call / JSON parse fails produce a single sentinel
row with `subject IS NULL` and `error` set — mirroring the reference's
ExtractionResult.errors (ref:src/core/extractor.rs:156-166) as data
instead of driver state, so lineage survives at cluster scale.

Every Python task pays a fixed worker start-up, so a small input runs
in one wave of tasks (`dispatch.one_wave` records the cost and cause):
the 200-page crawl batch over 8 persisted partitions runs 4 tasks on
4 cores, not two waves of 8.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rdf_knowledge_extractor_spark.config import Configuration
from rdf_knowledge_extractor_spark.functions.llm import make_client, unfence
from rdf_knowledge_extractor_spark.functions.prompts import (
    SYSTEM_PROMPT,
    build_extraction_prompt,
)
from rdf_knowledge_extractor_spark.operators.dispatch import one_wave

EXTRACT_BATCH_SIZE = 64  # documents per LLM/stub call

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("subject", T.StringType(), True),
        T.StructField("predicate", T.StringType(), True),
        T.StructField("object", T.StringType(), True),
        T.StructField("confidence", T.FloatType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("doc_seq", T.LongType(), True),
        T.StructField("triple_seq", T.IntegerType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)


def parse_llm_response(raw: str, config: Configuration) -> tuple[list[dict], str | None]:
    """(triples, error). Exact parity with ref:src/core/extractor.rs:246-293."""
    content = unfence(raw)
    try:
        value = json.loads(content)
    except (json.JSONDecodeError, ValueError) as e:
        return [], f"Failed to parse JSON response: {e}"

    if isinstance(value, list):
        arr = value
    elif isinstance(value, dict) and "triples" in value:
        if not isinstance(value["triples"], list):
            return [], "'triples' field is not an array"
        arr = value["triples"]
    else:
        return [], None  # reference returns Ok(Vec::new())

    base_uri = config.rdf_schema.base_uri
    namespace = config.rdf_schema.namespace
    out: list[dict] = []
    for item in arr:
        if not isinstance(item, dict):
            continue
        subject = item.get("subject") if isinstance(item.get("subject"), str) else ""
        predicate = item.get("predicate") if isinstance(item.get("predicate"), str) else ""
        obj = item.get("object") if isinstance(item.get("object"), str) else ""
        if subject and predicate and obj:
            # normalize_uri / normalize_predicate (ref:extractor.rs:295-309)
            if not (subject.startswith("http://") or subject.startswith("https://")):
                subject = base_uri + subject
            if not (predicate.startswith("http://") or predicate.startswith("https://")):
                predicate = namespace + predicate
            conf = item.get("confidence")
            confidence = float(conf) if isinstance(conf, (int, float)) and not isinstance(conf, bool) else 1.0
            out.append(
                {
                    "subject": subject,
                    "predicate": predicate,
                    "object": obj,
                    "confidence": confidence,
                }
            )
    return out, None


def predicate_local_name(predicate: str) -> str:
    """split('/').last().split('#').last() (ref:src/core/extractor.rs:360-366)."""
    return predicate.split("/")[-1].split("#")[-1]


def post_process_doc_triples(triples: list[dict], config: Configuration) -> list[dict]:
    """Per-document dedup + validation (ref:src/core/extractor.rs:311-383)."""
    processed = triples
    if config.post_processing.deduplicate:
        seen: set[tuple[str, str, str]] = set()
        deduped = []
        for t in processed:
            key = (t["subject"], t["predicate"], t["object"])
            if key not in seen:
                seen.add(key)
                deduped.append(t)
        processed = deduped
    if config.validation_rules:
        known = config.rdf_schema.predicates
        valid = []
        for t in processed:
            ok = True
            for rule in config.validation_rules:
                if rule == "require_valid_uri":
                    if not t["subject"].startswith("http"):
                        ok = False
                        break
                elif rule == "require_known_predicates":
                    if predicate_local_name(t["predicate"]) not in known:
                        ok = False
                        break
            if ok:
                valid.append(t)
        processed = valid
    return processed


def extract_triples_stage(
    pages_df: DataFrame,
    config: Configuration,
    client_kind: str = "stub",
    html_col: str | None = None,
) -> DataFrame:
    """pages(url, doc_seq, text | html) → extracted triple rows (+ per-doc
    error sentinels).

    Two inputs, one UDF: documents that already carry a `text` column
    (the CLI's files), or pages whose raw html sits in `html_col` (the
    pipeline, the streaming sink and the benchmarks).  With `html_col`
    set, html→text extraction runs inside this `mapInPandas`, so the
    raw html crosses into Python once and only triple rows cross back.

    Only (url, doc_seq, text|html) are shipped through Arrow.  The
    LLM/stub call is amortized per micro-batch of `EXTRACT_BATCH_SIZE`
    docs (north_star: micro-batches rather than per-row).  Per-document
    post-processing follows the config's own switches
    (`post_processing.deduplicate`, `validation_rules`).
    """
    cfg = config  # closure capture; small dataclass, serialized with the task
    html_source = html_col is not None

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        client = make_client(client_kind, cfg)
        questions = cfg.extraction_questions
        schema = cfg.rdf_schema
        meta = {"llm_model": getattr(client, "model", client_kind),
                "extraction_config": cfg.name}
        if html_source:
            from rdf_knowledge_extractor_spark.functions.html_text import (
                _decode,
                extract_text,
            )
        for pdf in batches:
            rows: list[dict] = []
            for start in range(0, len(pdf), EXTRACT_BATCH_SIZE):
                chunk = pdf.iloc[start : start + EXTRACT_BATCH_SIZE]
                if html_source:
                    # fused html→text→extract: ONE JVM↔Python crossing
                    # for the whole hot path (text never round-trips
                    # through Arrow just to come back for extraction)
                    texts = [
                        extract_text(_decode(b)) for b in chunk[html_col].tolist()
                    ]
                else:
                    texts = chunk["text"].fillna("").tolist()
                prompts = [
                    build_extraction_prompt(t, questions, schema) for t in texts
                ]
                responses = client.generate_structured_batch(prompts, SYSTEM_PROMPT)
                urls = chunk["url"].tolist()
                doc_seqs = chunk["doc_seq"].tolist()
                for url, doc_seq_raw, raw in zip(urls, doc_seqs, responses):
                    doc_seq = int(doc_seq_raw)
                    triples, error = parse_llm_response(raw, cfg)
                    if error is not None:
                        rows.append(
                            {
                                "subject": None, "predicate": None, "object": None,
                                "confidence": None, "source": url, "metadata": meta,
                                "doc_seq": doc_seq, "triple_seq": None,
                                "error": f"LLM extraction failed: {error}",
                            }
                        )
                        continue
                    # ordinals assigned pre-post-processing so first-occurrence
                    # order is the LLM emission order (Vec push order in ref)
                    for i, t in enumerate(triples):
                        t["triple_seq"] = i
                    triples = post_process_doc_triples(triples, cfg)
                    for t in triples:
                        rows.append(
                            {
                                "subject": t["subject"],
                                "predicate": t["predicate"],
                                "object": t["object"],
                                "confidence": t["confidence"],
                                "source": url,
                                "metadata": meta,
                                "doc_seq": doc_seq,
                                "triple_seq": t["triple_seq"],
                                "error": None,
                            }
                        )
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in EXTRACTED_SCHEMA.fields],
            )

    pruned = pages_df.select("url", "doc_seq", html_col if html_source else "text")
    return one_wave(pruned).mapInPandas(run, schema=EXTRACTED_SCHEMA)


def split_triples_and_lineage(extracted: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split extractor output into (triples, per-doc lineage).

    Cache `extracted` (or checkpoint it as a stage table) before calling
    if both sides will be consumed — avoids re-running the LLM stage.
    """
    triples = extracted.filter("subject IS NOT NULL").drop("error")
    lineage = extracted.groupBy("source", "doc_seq").agg(
        F.expr("sum(CASE WHEN subject IS NOT NULL THEN 1 ELSE 0 END) AS n_triples"),
        F.expr("filter(collect_set(error), e -> e IS NOT NULL) AS errors"),
        F.expr("current_timestamp() AS ts"),
    ).withColumnRenamed("source", "doc_url")
    return triples, lineage
