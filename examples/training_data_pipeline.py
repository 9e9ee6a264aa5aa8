"""End-to-end training-data curation over a documents table.

Chains the corpus operators the way a 100-TB pretraining pipeline
would: URL canonicalization + domain blocklist -> per-language
quality gate -> near-dup removal -> benchmark decontamination -> PII
redaction -> source mixing -> deterministic splits -> BPE tokenizer
training + sequence packing.  Run against the driver-generated
parquet:

    python examples/training_data_pipeline.py /root/testdata/sf0.01
"""

from __future__ import annotations

import os
import sys
from functools import reduce

# runnable as `python examples/training_data_pipeline.py` — the
# package resolves from the repo root, not the script directory
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window, functions as F

from rdf_knowledge_extractor_spark.session import get_spark
from rdf_knowledge_extractor_spark.operators.bpe import (
    bpe_encode,
    train_bpe,
)
from rdf_knowledge_extractor_spark.operators.domains import (
    canonical_url,
    filter_domains,
)
from rdf_knowledge_extractor_spark.operators.curation import curate_corpus
from rdf_knowledge_extractor_spark.operators.textdedup import (
    minhash_lsh_pairs,
)
from rdf_knowledge_extractor_spark.operators.decontam import decontaminate
from rdf_knowledge_extractor_spark.functions.pii import redact_pii
from rdf_knowledge_extractor_spark.operators.mixing import mix_to_weights
from rdf_knowledge_extractor_spark.operators.splits import assign_splits
from rdf_knowledge_extractor_spark.operators.packing import (
    pack_sequences_binned,
)

RECIPE = {"en": 0.5, "de": 0.2, "fr": 0.3}


def main(sf_dir: str) -> None:
    spark = get_spark(app_name="training-data-pipeline")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    # 0. web hygiene: canonicalize the (synthetic) source URLs, drop
    #    blocklisted domains, and dedup exact canonical-URL repeats
    docs = docs.withColumn(
        "url",
        F.concat(
            F.lit("HTTPS://"), F.col("source"),
            (F.col("doc_id") % 31).cast("string"),
            F.lit(".example.COM/p/"), F.col("doc_id").cast("string"),
            F.lit("/?utm_source=crawl"),
        ),
    ).withColumn("url", canonical_url(F.col("url")))
    docs = filter_domains(docs, blocklist=["spam.example.com"])
    w_url = Window.partitionBy("url").orderBy("doc_id")
    docs = (
        docs.withColumn("_rn", F.row_number().over(w_url))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    # 1. per-language quality gate (dedup keep-first + langid +
    #    length/digit/quality thresholds); the gate emits a manifest,
    #    so join it back to carry the text forward
    manifests = [
        curate_corpus(docs, lang=lang, min_words=5, min_quality=0.2)
        for lang in RECIPE
    ]
    gate = reduce(lambda a, b: a.unionByName(b), manifests)
    kept = docs.join(gate.select("doc_id"), on="doc_id")

    # 2. near-dup removal: drop the larger id of each verified pair
    pairs = minhash_lsh_pairs(kept)
    kept = kept.join(
        pairs.select(F.col("id_b").alias("doc_id")).distinct(),
        on="doc_id",
        how="left_anti",
    )

    # 3. benchmark decontamination (held-out eval set = a tiny slice)
    bench = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    kept, contamination = decontaminate(kept, bench)

    # 4. PII redaction
    kept = kept.withColumn("text", redact_pii(F.col("text")))

    # 5. mix to the target language recipe (downsample-only)
    mixed = mix_to_weights(kept, RECIPE, group_col="lang")

    # 6. reproducible train/val/test assignment
    split = assign_splits(mixed)

    # 7. train a BPE tokenizer on the train split and encode it
    train = split.filter(F.col("split") == "train")
    merges = train_bpe(train, n_merges=50)
    encoded = bpe_encode(train, merges)

    # 8. pack the train split into fixed-token-budget sequences
    packed = pack_sequences_binned(train, max_tokens=256)

    print("contaminated docs:", contamination.count())
    print("bpe merges:", len(merges))
    for name, df in [
        ("mixed", mixed), ("splits", split),
        ("encoded", encoded), ("packed", packed),
    ]:
        print(name, df.count())
    packed.show(5, truncate=60)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01")
