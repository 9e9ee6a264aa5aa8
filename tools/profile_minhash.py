"""Stage-by-stage timing of dedup_minhash_lsh + ann_cosine_topk at a given SF.

Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python tools/profile_minhash.py
Each stage is forced with the noop sink (guide §1.4) and labelled (§1.5).
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from rdf_knowledge_extractor_spark.session import get_spark


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(spark, label, fn):
    spark.sparkContext.setJobDescription(label)
    t0 = time.monotonic()
    out = fn()
    dt = time.monotonic() - t0
    print(f"{label:45s} {dt:7.3f}s", flush=True)
    return out


def main():
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="profile", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 16),
                      extra_conf={"spark.local.dir": "/dev/shm/spark-local"})
    spark.sparkContext.setLogLevel("ERROR")

    from rdf_knowledge_extractor_spark.operators.dispatch import spread
    from rdf_knowledge_extractor_spark.operators.textdedup import (
        _bucket_candidate_pairs,
        _minhash_band_udf,
        _with_hashed_shingles,
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    timed(spark, "scan only", lambda: noop(docs))
    spread_docs = timed(spark, "spread (plan)", lambda: spread(docs))
    timed(spark, "spread exec", lambda: noop(spread_docs))
    sh = _with_hashed_shingles(spread_docs, "doc_id", "text", 9)
    timed(spark, "shingle+hash+distinct+sort", lambda: noop(sh))
    sh = sh.persist()
    timed(spark, "persist sh", lambda: sh.count())
    bands_of = _minhash_band_udf(64, 16)
    bucketed = sh.withColumn("_bands", bands_of(F.col("h"))).select(
        "id", F.posexplode("_bands").alias("band_idx", "band_val"))
    timed(spark, "bands UDF + posexplode", lambda: noop(bucketed))
    cands = _bucket_candidate_pairs(bucketed, ["band_idx", "band_val"], "id")
    timed(spark, "bucket pairs (incl re-run bands)", lambda: noop(cands))
    a = sh.select(F.col("id").alias("id_a"), F.col("h").alias("h_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("h").alias("h_b"))
    jac = F.size(F.array_intersect("h_a", "h_b")) / F.size(F.array_union("h_a", "h_b"))
    out = (cands.join(a, on="id_a").join(b, on="id_b")
           .withColumn("jaccard", F.round(jac, 4))
           .filter(F.col("jaccard") >= 0.8)
           .select("id_a", "id_b", "jaccard"))
    timed(spark, "verify join (full, incl upstream)", lambda: noop(out))
    print("pairs:", out.count())
    spark.catalog.clearCache()

    # end-to-end repeat like bench (count-forced)
    from rdf_knowledge_extractor_spark.operators.textdedup import minhash_lsh_pairs
    for rep in range(2):
        timed(spark, f"minhash_lsh end-to-end rep{rep}",
              lambda: minhash_lsh_pairs(docs, k=9, threshold=0.8).count())
        spark.catalog.clearCache()

    # ann_cosine_topk stages
    from rdf_knowledge_extractor_spark.operators.similarity import (
        cosine, cosine_topk_bruteforce)
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    timed(spark, "emb scan", lambda: noop(emb))
    q = emb.filter(F.col("vec_id") < 10)
    scored = (emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec"))
              .crossJoin(F.broadcast(q.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))))
              .filter(F.col("query_id") != F.col("neighbor_id"))
              .withColumn("sim", F.round(cosine(F.col("q_vec"), F.col("c_vec")), 4)))
    timed(spark, "ann scored (no topk)", lambda: noop(scored))
    for rep in range(2):
        timed(spark, f"ann end-to-end rep{rep}",
              lambda: cosine_topk_bruteforce(emb, q, k=5).count())
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
