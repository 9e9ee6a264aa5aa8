"""Staged pipeline: end-to-end run, checkpoint resume, lineage."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from rdf_knowledge_extractor_spark.plans.pipeline import KgPipeline
from rdf_knowledge_extractor_spark.sources.pages import pages_dataframe

STAGES = ("s2_extracted", "s3_triples", "s3_lineage", "s4_mapping", "s5_graph")


def _is_stage_manifest(path, stage: str) -> bool:
    """`path` is the store manifest of one of `stage`'s fingerprint
    roots (`<stage>/<fp>/manifest.json`)."""
    path = Path(path)
    return path.name == "manifest.json" and path.parent.parent.name == stage


def test_pipeline_run_and_resume(spark, example_config, tmp_path):
    pages = pages_dataframe(spark, 30, seed=42).drop("text")

    sc = spark.sparkContext
    pipe = KgPipeline(spark, example_config, str(tmp_path), partitions=4)
    sc.setJobGroup("pipeline-fresh", "pipeline-fresh")
    try:
        graph = pipe.run(pages)
    finally:
        sc.setJobGroup("idle", "idle")
    # the stage commits take row counts and schemas from the footers: no
    # re-read job, and no schema-inference job when a stage reads back
    fresh_jobs = len(sc.statusTracker().getJobIdsForGroup("pipeline-fresh"))
    assert fresh_jobs <= 15, fresh_jobs
    n1 = graph.count()
    assert n1 > 0
    assert not any(r.resumed for r in pipe.results)

    # canonicalization merged alias entities: canonical subjects only
    subjects = [r.subject for r in graph.select("subject").distinct().collect()]
    assert all(s.startswith("http://") for s in subjects)

    # lineage covers every page
    assert pipe.lineage().count() == 30

    # manifests written with per-partition (per part file) rows
    manifests = {m["stage"]: m for m in pipe.stage_manifests()}
    assert set(manifests) == {
        "s2_extracted", "s3_triples", "s3_lineage", "s4_mapping", "s5_graph"
    }
    assert manifests["s5_graph"]["rows"] == n1
    assert sum(manifests["s5_graph"]["files"].values()) == n1

    # resume: a fresh pipeline over the same dir skips every stage
    pipe2 = KgPipeline(spark, example_config, str(tmp_path), partitions=4)
    sc.setJobGroup("pipeline-resume", "pipeline-resume")
    try:
        graph2 = pipe2.run(pages)
    finally:
        sc.setJobGroup("idle", "idle")
    resume_jobs = len(sc.statusTracker().getJobIdsForGroup("pipeline-resume"))
    assert resume_jobs <= 2, resume_jobs
    assert all(r.resumed for r in pipe2.results)
    assert [(r.rows, r.partitions) for r in pipe2.results] == [
        (r.rows, r.partitions) for r in pipe.results
    ]
    assert graph2.count() == n1

    # changing a stage param invalidates the fingerprint → recompute
    pipe3 = KgPipeline(spark, example_config, str(tmp_path), partitions=8)
    pipe3.run(pages)
    assert not any(r.resumed for r in pipe3.results)


def test_pipeline_graph_is_canonicalized(spark, example_config, tmp_path):
    pages = pages_dataframe(spark, 30, seed=42).drop("text")
    pipe = KgPipeline(spark, example_config, str(tmp_path / "p"), partitions=4)
    graph = pipe.run(pages)
    # no two distinct subject URIs share a canonical key after the remap
    from rdf_knowledge_extractor_spark.operators.linking import with_canonical_key

    ent = with_canonical_key(graph.select(F.col("subject").alias("uri")).distinct())
    dup_keys = (
        ent.groupBy("key").agg(F.countDistinct("uri").alias("n")).filter("n > 1")
    )
    assert dup_keys.count() == 0


def test_zip_with_ordinal_matches_global_sort(spark):
    from pyspark.sql import functions as F

    from rdf_knowledge_extractor_spark.operators.ordinal import zip_with_ordinal

    df = spark.range(0, 1000).select(
        (F.col("id") % 7).alias("doc_seq"), F.col("id").alias("triple_seq")
    )
    out = zip_with_ordinal(df, ["doc_seq", "triple_seq"], out_col="i")
    rows = out.orderBy("i").collect()
    expected = sorted(
        [(r["doc_seq"], r["triple_seq"]) for r in rows],
        key=lambda t: (t[0], t[1]),
    )
    assert [(r["doc_seq"], r["triple_seq"]) for r in rows] == expected
    assert [r["i"] for r in rows] == list(range(1000))


def test_validation_issues_plan_has_no_global_sort_exchange(spark):
    """The diagnostic ordinal must not gather the table into one task:
    no SinglePartition exchange in the physical plan (VERDICT fix #2)."""
    from rdf_knowledge_extractor_spark.operators.validate import validation_issues
    from rdf_knowledge_extractor_spark.schemas import TRIPLE_SCHEMA

    df = spark.createDataFrame(
        [(f"s{i}", "p", "o", 1.0, None, {}, i // 10, i % 10) for i in range(100)],
        TRIPLE_SCHEMA,
    )
    issues = validation_issues(df)
    plan = issues._jdf.queryExecution().executedPlan().toString()
    # the final tiny orderBy("idx") on the issue rows is allowed to be a
    # rangepartitioning sort; what must NOT appear is a single-partition
    # window exchange feeding row_number over the whole input
    assert "Exchange SinglePartition" not in plan
    got = [r["issue"] for r in issues.collect()]
    assert len(got) == 200  # invalid subject + invalid predicate per row
    assert got[0] == "Triple 0: Invalid subject URI: s0"


def test_pipeline_fingerprint_covers_input_and_config(spark, tmp_path):
    """Rerunning on different pages or an edited config must NOT resume
    from the stale checkpoint (ADVICE fix)."""
    import copy

    from rdf_knowledge_extractor_spark.config import Configuration
    from rdf_knowledge_extractor_spark.plans.pipeline import KgPipeline

    cfg = Configuration.example()
    pages1 = spark.createDataFrame(
        [("https://x/a", b"<html><body>Acme Corp is led by Jane Doe, who serves as CEO.</body></html>", 0)],
        "url string, html binary, doc_seq long",
    ).withColumn("lang", __import__("pyspark.sql.functions", fromlist=["lit"]).lit("en"))
    pipe = KgPipeline(spark, cfg, str(tmp_path / "ckpt"), partitions=2)
    pipe.run(pages1)
    assert all(not r.resumed for r in pipe.results)

    # same input, same config → all stages resume
    pipe2 = KgPipeline(spark, cfg, str(tmp_path / "ckpt"), partitions=2)
    pipe2.run(pages1)
    assert all(r.resumed for r in pipe2.results)

    # different input under the same config name → recompute
    pages2 = pages1.withColumn(
        "url", __import__("pyspark.sql.functions", fromlist=["lit"]).lit("https://x/b")
    )
    pipe3 = KgPipeline(spark, cfg, str(tmp_path / "ckpt"), partitions=2)
    pipe3.run(pages2)
    assert not any(r.resumed for r in pipe3.results)

    # edited question under the same config name → recompute
    cfg2 = copy.deepcopy(cfg)
    cfg2.extraction_questions[0].question = "What partnerships are mentioned?"
    pipe4 = KgPipeline(spark, cfg2, str(tmp_path / "ckpt"), partitions=2)
    pipe4.run(pages2)
    assert not any(r.resumed for r in pipe4.results)


def test_pipeline_identity_keeps_repeated_rows_apart(spark, tmp_path):
    """{A, A, C} and {B, B, C} have the same row count and the same xor
    of row hashes (a repeated row cancels); the second run must not
    resume the first one's checkpoints."""
    from rdf_knowledge_extractor_spark.config import Configuration

    html = b"<html><body>Acme Corp is led by Jane Doe, who serves as CEO.</body></html>"

    def pages(rows):
        return spark.createDataFrame(
            [(f"https://x/{r}", html, seq) for r, seq in rows],
            "url string, html binary, doc_seq long",
        ).withColumn("lang", F.lit("en"))

    cfg = Configuration.example()
    pipe = KgPipeline(spark, cfg, str(tmp_path / "ckpt"), partitions=2)
    pipe.run(pages([("a", 0), ("a", 0), ("c", 2)]))
    pipe2 = KgPipeline(spark, cfg, str(tmp_path / "ckpt"), partitions=2)
    pipe2.run(pages([("b", 1), ("b", 1), ("c", 2)]))
    resumed = {r.name: r.resumed for r in pipe2.results}
    assert resumed["s2_extracted"] is False


def test_pipeline_manifest_write_is_atomic(
    spark, example_config, tmp_path, monkeypatch
):
    """A stage manifest is replaced atomically: a failure at the
    s4_mapping manifest leaves no partial file, and the next run resumes
    s2/s3, recomputes s4/s5 and produces a clean run's graph."""
    import os

    import pytest

    pages = pages_dataframe(spark, 10, seed=3).drop("text")
    real_replace = os.replace
    failed = []

    def replace_failing_once(src, dst):
        if _is_stage_manifest(dst, "s4_mapping") and not failed:
            failed.append(dst)
            raise OSError("simulated crash at the s4_mapping manifest")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", replace_failing_once)
    ckpt = tmp_path / "ck"
    with pytest.raises(OSError, match="simulated crash"):
        KgPipeline(spark, example_config, str(ckpt), partitions=2).run(pages)
    assert failed
    assert not list((ckpt / "s4_mapping").glob("*/manifest.json"))
    assert not list((ckpt / "s4_mapping").glob("*/manifest.tmp-*"))

    pipe = KgPipeline(spark, example_config, str(ckpt), partitions=2)
    graph = pipe.run(pages)
    resumed = {r.name: r.resumed for r in pipe.results}
    assert resumed == {
        "s2_extracted": True, "s3_triples": True, "s3_lineage": True,
        "s4_mapping": False, "s5_graph": False,
    }
    clean = KgPipeline(spark, example_config, str(tmp_path / "clean"), partitions=2)
    cols = ["subject", "predicate", "object"]
    got = sorted(tuple(r) for r in graph.select(cols).collect())
    want = sorted(tuple(r) for r in clean.run(pages).select(cols).collect())
    assert got == want and len(got) > 0


def test_pipeline_crashed_run_never_pairs_a_manifest_with_its_rows(
    spark, example_config, tmp_path, monkeypatch
):
    """Run pages A; run pages B and crash it at s5_graph's manifest; run
    A again.  The last run resumes s5_graph from A's manifest, which
    must still name A's rows, not the rows B's crashed run wrote."""
    import os

    import pytest

    cols = ["subject", "predicate", "object"]

    def spo(graph):
        return sorted(tuple(r) for r in graph.select(cols).collect())

    pages_a = pages_dataframe(spark, 10, seed=3).drop("text")
    pages_b = pages_dataframe(spark, 10, seed=4).drop("text")
    ckpt = str(tmp_path / "ck")
    want = spo(KgPipeline(spark, example_config, ckpt, partitions=2).run(pages_a))

    real_replace = os.replace

    def crash_at_s5_manifest(src, dst):
        if _is_stage_manifest(dst, "s5_graph"):
            raise OSError("simulated crash at the s5_graph manifest")
        return real_replace(src, dst)

    with monkeypatch.context() as m:
        m.setattr(os, "replace", crash_at_s5_manifest)
        with pytest.raises(OSError, match="simulated crash"):
            KgPipeline(spark, example_config, ckpt, partitions=2).run(pages_b)

    pipe = KgPipeline(spark, example_config, ckpt, partitions=2)
    got = spo(pipe.run(pages_a))
    assert {r.name: r.resumed for r in pipe.results}["s5_graph"] is True
    assert got == want and len(got) > 0
    clean_b = KgPipeline(spark, example_config, str(tmp_path / "b"), partitions=2)
    assert spo(clean_b.run(pages_b)) != want
    # one fingerprint root holding one file set per stage, the resumed
    # s5_graph included: the crashed run's roots and orphans are gone
    for stage in STAGES:
        (root,) = (tmp_path / "ck" / stage).iterdir()
        assert sorted(p.name for p in root.iterdir()) == [
            ".commit.lock", "data", "manifest.json"
        ], stage
        assert len(list((root / "data").iterdir())) == 1, stage


def test_pipeline_commits_empty_stages(spark, tmp_path):
    """One page with an empty body: every stage commits 0 rows, the
    graph is an empty frame of the triple columns (the store reads a
    table with no rows as an empty frame of its recorded schema), and a
    rerun resumes every stage."""
    from rdf_knowledge_extractor_spark.config import Configuration
    from rdf_knowledge_extractor_spark.schemas import TRIPLE_SCHEMA

    pages = spark.createDataFrame(
        [("https://x/empty", b"<html><body></body></html>", 0)],
        "url string, html binary, doc_seq long",
    ).withColumn("lang", F.lit("en"))
    for resumed in (False, True):
        pipe = KgPipeline(spark, Configuration.example(), str(tmp_path), partitions=2)
        graph = pipe.run(pages)
        assert [(r.name, r.resumed) for r in pipe.results] == [
            (stage, resumed) for stage in STAGES
        ]
        assert graph.columns == TRIPLE_SCHEMA.names
        assert graph.count() == 0
    rows = {m["stage"]: m["rows"] for m in pipe.stage_manifests()}
    assert rows == dict.fromkeys(STAGES, 0)


def test_submit_pipeline_resumes_with_committed_counts(
    spark, tmp_path, monkeypatch, capsys
):
    """examples/submit_pipeline.py end to end, twice over the same
    checkpoint and store dirs: the second run resumes every stage with
    the row count its store committed, and the store commit returns the
    first run's added count."""
    import re
    import runpy
    import sys

    pages = str(tmp_path / "pages.parquet")
    pages_dataframe(spark, 10, seed=5).drop("text").write.parquet(pages)
    script = Path(__file__).resolve().parents[1] / "examples" / "submit_pipeline.py"
    argv = ["submit_pipeline.py", pages, str(tmp_path / "ck"), str(tmp_path / "store")]
    monkeypatch.setattr(sys, "argv", argv)
    runs = []
    for _ in range(2):
        runpy.run_path(str(script), run_name="__main__")
        out = capsys.readouterr().out
        stages = re.findall(r"stage (\w+): rows=(-?\d+) sec=\S+ resumed=(\w+)", out)
        (added,) = re.findall(r"batch added=(\d+) rows", out)
        runs.append((stages, int(added)))
    (first, added1), (second, added2) = runs
    assert first == [(stage, rows, "False") for stage, rows, _ in first]
    assert [stage for stage, *_ in first] == list(STAGES)
    assert second == [(stage, rows, "True") for stage, rows, _ in first]
    assert all(int(rows) >= 0 for _, rows, _ in second)
    assert added2 == added1 > 0


def test_pipeline_commit_holds_only_triple_columns(spark, example_config, tmp_path):
    """Every file set committed from a pipeline graph holds exactly the
    triple columns, in TRIPLE_SCHEMA order — no partitioning helper
    column leaks into the store."""
    from rdf_knowledge_extractor_spark.plans.store import TripleStore
    from rdf_knowledge_extractor_spark.schemas import TRIPLE_SCHEMA

    store_root = str(tmp_path / "kgstore")
    for seed in (7, 8):
        pages = pages_dataframe(spark, 10, seed=seed).drop("text")
        ckpt = str(tmp_path / f"ck{seed}")
        pipe = KgPipeline(spark, example_config, ckpt, partitions=2)
        graph = pipe.run(pages)
        assert graph.columns == TRIPLE_SCHEMA.names
        assert pipe.commit_to_store(graph, store_root) > 0

    store = TripleStore(spark, store_root)
    paths = store.committed_paths()
    assert len(paths) == 2
    for path in paths:
        assert spark.read.parquet(path).columns == TRIPLE_SCHEMA.names
    assert store.read().columns == TRIPLE_SCHEMA.names


def test_pipeline_commit_to_store_idempotent(spark, example_config, tmp_path):
    """Pipeline → TripleStore commit: re-running the identical pipeline
    commits once (fingerprint batch key), and the store holds exactly
    the graph rows."""
    from rdf_knowledge_extractor_spark.plans.pipeline import KgPipeline
    from rdf_knowledge_extractor_spark.plans.store import TripleStore
    from rdf_knowledge_extractor_spark.sources.pages import pages_dataframe

    pages = pages_dataframe(spark, 10, seed=7)
    pipe = KgPipeline(spark, example_config, str(tmp_path / "ck"), partitions=4)
    graph = pipe.run(pages)
    n = graph.count()
    store_root = str(tmp_path / "kgstore")
    added = pipe.commit_to_store(graph, store_root)
    assert added == n > 0

    # identical rerun (resume path) → same fingerprint → no-op commit
    pipe2 = KgPipeline(spark, example_config, str(tmp_path / "ck"), partitions=4)
    graph2 = pipe2.run(pages)
    assert pipe2.commit_to_store(graph2, store_root) == added
    assert TripleStore(spark, store_root).read().count() == n


def test_pyfiles_zip_is_reproducible_and_complete(tmp_path):
    """spark-submit packaging (tools/make_pyfiles.py): byte-identical
    rebuilds, package-only contents, importable module set."""
    import sys
    import zipfile

    sys.path.insert(0, "tools")
    try:
        from make_pyfiles import build
    finally:
        sys.path.pop(0)

    z1 = build(str(tmp_path / "a.zip"))
    z2 = build(str(tmp_path / "b.zip"))
    assert open(z1, "rb").read() == open(z2, "rb").read()
    names = zipfile.ZipFile(z1).namelist()
    assert all(n.startswith("rdf_knowledge_extractor_spark/") for n in names)
    assert "rdf_knowledge_extractor_spark/plans/store.py" in names
    assert not any("__pycache__" in n or n.endswith(".pyc") for n in names)
