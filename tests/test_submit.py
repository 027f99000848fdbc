"""The north rule's submission shape, actually exercised: package the
library into dist/gliner_spark.zip, then spark-submit jobs/run_kg.py
with --py-files in a FRESH process whose cwd is outside the repo — so
imports must come from the zip, exactly as on a cluster executor."""

import os
import subprocess
import sys

from pyspark.sql import functions as F


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_spark_submit_pyfiles_end_to_end(spark, tmp_path):
    sys.path.insert(0, REPO)
    from gliner_spark.sources.pages import synthesize_pages
    from tools.package_pyfiles import build

    src = str(tmp_path / "pages_in")
    out = str(tmp_path / "kg_out")
    synthesize_pages(spark, 60).coalesce(2).write.parquet(src)
    zip_path = build(str(tmp_path / "dist"))
    assert os.path.getsize(zip_path) > 10_000

    submit = os.path.join(os.path.dirname(sys.executable), "spark-submit")
    if not os.path.exists(submit):
        submit = "spark-submit"  # PATH fallback
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        [
            submit,
            "--master", "local[2]",
            "--py-files", zip_path,
            os.path.join(REPO, "jobs", "run_kg.py"),
            "--input", src,
            "--output", out,
        ],
        capture_output=True, text=True, cwd=str(tmp_path), env=env,
        timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    nodes = spark.read.parquet(f"{out}/nodes")
    assert nodes.count() > 0
    assert {"entity_id", "canonical", "label"} <= set(nodes.columns)
    edges = spark.read.parquet(f"{out}/edges")
    assert edges.where(F.col("support") >= 1).count() == edges.count()
    # the job's stdout reports per-table row counts
    assert "nodes:" in res.stdout and "edges:" in res.stdout


def test_spark_submit_curate_job(spark, tmp_path):
    """jobs/run_curate.py end to end under spark-submit --py-files from
    a clean cwd: documents parquet in → verdicts + packed shards out,
    keep semantics consistent with the curate operator's gate row."""
    sys.path.insert(0, REPO)
    from tools.package_pyfiles import build

    src = str(tmp_path / "docs_in")
    out = str(tmp_path / "curated")
    (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .coalesce(2).write.parquet(src)
    )
    zip_path = build(str(tmp_path / "dist"))

    submit = os.path.join(os.path.dirname(sys.executable), "spark-submit")
    if not os.path.exists(submit):
        submit = "spark-submit"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        [
            submit,
            "--master", "local[2]",
            "--py-files", zip_path,
            os.path.join(REPO, "jobs", "run_curate.py"),
            "--input", src,
            "--output", out,
            "--pair-source", "ngram",
        ],
        capture_output=True, text=True, cwd=str(tmp_path), env=env,
        timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    verdicts = spark.read.parquet(f"{out}/verdicts")
    n_docs = spark.read.parquet(src).count()
    assert verdicts.count() == n_docs  # one verdict per document
    shards = spark.read.parquet(f"{out}/shards")
    n_keep = verdicts.where("keep").count()
    assert shards.count() == n_keep  # every kept doc lands in a shard
    assert 0 < n_keep < n_docs  # gates actually fire on this corpus
    # shard packing respects the budget for multi-doc shards: each
    # shard's doc count times min doc size can't exceed budget wildly —
    # direct check: no shard's token total exceeds budget + one doc
    tot = shards.groupBy(
        *(["part"] if "part" in shards.columns else []), "shard_id"
    ).agg(F.sum("n_tokens").alias("t"), F.max("n_tokens").alias("m"))
    assert tot.where(F.col("t") - F.col("m") >= 2048).count() == 0
    assert "kept:" in res.stdout


def test_spark_submit_admit_job(spark, tmp_path):
    """jobs/run_admit.py under spark-submit --py-files: two consecutive
    batch admissions against one store — the second batch's duplicates
    of the first are suppressed via the persisted signatures."""
    sys.path.insert(0, REPO)
    from tools.package_pyfiles import build

    store = str(tmp_path / "store")
    zip_path = build(str(tmp_path / "dist"))
    submit = os.path.join(os.path.dirname(sys.executable), "spark-submit")
    if not os.path.exists(submit):
        submit = "spark-submit"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    txt = lambda i: f"{base} d{i}a d{i}b d{i}c d{i}d"  # noqa: E731

    def admit(name, rows):
        src = str(tmp_path / f"{name}_in")
        out = str(tmp_path / f"{name}_verdicts")
        spark.createDataFrame(rows, "doc_id long, text string") \
            .coalesce(1).write.parquet(src)
        res = subprocess.run(
            [submit, "--master", "local[2]", "--py-files", zip_path,
             os.path.join(REPO, "jobs", "run_admit.py"),
             "--input", src, "--store", store, "--verdicts", out],
            capture_output=True, text=True, cwd=str(tmp_path), env=env,
            timeout=600,
        )
        assert res.returncode == 0, res.stderr[-3000:]
        return {r.doc_id: (r.dup_of, r.keep)
                for r in spark.read.parquet(out).collect()}, res.stdout

    v1, out1 = admit("a", [(1, txt(1)), (2, txt(2))])
    assert v1 == {1: (None, True), 2: (None, True)}
    assert "admitted: 2/2" in out1
    v2, out2 = admit("b", [(10, txt(1)), (11, txt(11))])
    assert v2 == {10: (1, False), 11: (None, True)}  # store suppressed 10
    assert "admitted: 1/2" in out2
    assert spark.read.parquet(store).count() == 3

    # --stream: the same entrypoint drains a directory as a file
    # stream (availableNow), one micro-batch per file, against the
    # SAME store — a dup of an already-admitted doc is suppressed
    # cross-mode, and verdicts land epoch-partitioned
    src = str(tmp_path / "c_in")
    out = str(tmp_path / "c_verdicts")
    for i, rows in enumerate([[(20, txt(2))], [(21, txt(21))]]):
        spark.createDataFrame(rows, "doc_id long, text string") \
            .coalesce(1).write.mode("append").parquet(src)
    res = subprocess.run(
        [submit, "--master", "local[2]", "--py-files", zip_path,
         os.path.join(REPO, "jobs", "run_admit.py"),
         "--input", src, "--store", store, "--verdicts", out,
         "--stream"],
        capture_output=True, text=True, cwd=str(tmp_path), env=env,
        timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    v3 = {r.doc_id: (r.dup_of, r.keep, r.epoch)
          for r in spark.read.parquet(out).collect()}
    assert v3[20][:2] == (2, False) and v3[21][:2] == (None, True)
    assert {v3[20][2], v3[21][2]} == {0, 1}  # one epoch per file
    assert "admitted (stream): 1/2" in res.stdout
    assert spark.read.parquet(store).count() == 4
