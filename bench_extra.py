"""Stage-isolation benchmarks (round-6 optimization evidence).

`bench.py` is the FROZEN driver contract; this file carries the extra
measurements the optimization round is based on: per-stage timings of
the expensive operators with the noop sink (guide §1.4 — computes
every column of every row, no sink cost, no count() pruning), labelled
jobs (§1.5), min-of-N reporting like the main bench.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py
Prints one JSON line: {"stages": {label: min_sec, ...}, "sf": ...}.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.0

    from pyspark.sql import functions as F

    import bench
    from rdf_knowledge_extractor_spark.session import get_spark

    spark = get_spark(
        app_name="bench-extra",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 16),
        extra_conf={"spark.local.dir": "/dev/shm/spark-local"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    bench._warm_up(spark, cpus)

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    out: dict[str, float] = {}

    def timed(label, fn, reps=2, clear=False):
        """min-of-reps like bench.py; `clear=True` drops every cached
        intermediate AFTER each rep — operators that persist() inside
        (minhash, ngram) would otherwise serve rep 2 from rep 1's
        cache (the cache manager matches canonicalized plans across
        separate DataFrame instances) and report a fantasy number."""
        spark.sparkContext.setJobDescription(label)
        ts = []
        for _ in range(reps):
            t0 = time.monotonic()
            fn()
            ts.append(round(time.monotonic() - t0, 3))
            if clear:
                spark.catalog.clearCache()
        out[label] = min(ts)
        spark.sparkContext.setJobDescription(None)

    # ---- dedup_minhash_lsh stages -------------------------------------
    from rdf_knowledge_extractor_spark.operators.dispatch import spread
    from rdf_knowledge_extractor_spark.operators.textdedup import (
        _bucket_candidate_pairs,
        _minhash_band_udf,
        _with_hashed_shingles,
        minhash_lsh_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    timed("minhash/scan", lambda: noop(docs))
    sh = _with_hashed_shingles(spread(docs), "doc_id", "text", 9)
    timed("minhash/shingle+hash+distinct", lambda: noop(sh))
    sh = sh.persist()
    sh.count()
    bands_of = _minhash_band_udf(64, 16)
    bucketed = sh.select(
        "id", F.posexplode(bands_of(F.col("h"))).alias("band_idx", "band_val")
    )
    timed("minhash/bands-udf+posexplode", lambda: noop(bucketed))
    cands = _bucket_candidate_pairs(bucketed, ["band_idx", "band_val"], "id")
    timed("minhash/candidates", lambda: noop(cands))
    spark.catalog.clearCache()
    timed(
        "minhash/end-to-end",
        lambda: minhash_lsh_pairs(docs).count(),
        clear=True,
    )

    # ---- ann_cosine_topk stages ---------------------------------------
    from rdf_knowledge_extractor_spark.operators.similarity import (
        _norm,
        _sim_expr,
        cosine_topk_bruteforce,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        _norm(F.col("embedding")).alias("q_norm"),
    )
    c = spread(emb).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        _norm(F.col("embedding")).alias("c_norm"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", _sim_expr(4, 64))
    )
    timed("ann/scored", lambda: noop(scored.select("query_id", "neighbor_id", "sim")))
    timed(
        "ann/end-to-end",
        lambda: cosine_topk_bruteforce(
            emb, emb.filter(F.col("vec_id") < 10), k=5, dim=64
        ).count(),
    )
    spark.catalog.clearCache()

    # ---- kg graph family ----------------------------------------------
    import __spark_entry__ as entry

    qs = entry.queries()
    for name in ("kg_dedup_first", "kg_insert_new", "tpch_q3ish"):
        timed(f"query/{name}", lambda n=name: qs[n](spark, sf_dir).count(), clear=True)

    spark.stop()
    print(json.dumps({"stages": out, "sf": sf, "cpus": cpus}))


if __name__ == "__main__":
    main()
