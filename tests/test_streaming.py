"""Streaming KG maintenance and admission: parity with batch runs over
the same files, and the streaming job entrypoint."""

from gliner_spark.kernels.scorer import ALL_LABELS
from gliner_spark.sources.pages import synthesize_pages
from gliner_spark.streaming.kg_stream import read_page_stream


def test_stream_kg_updates_matches_batch_build(spark, tmp_path):
    """Continuous KG maintenance: pages arriving across micro-batches
    fold into node/edge tables IDENTICAL to a from-scratch batch build
    over all pages, and a stream restart over the same source re-folds
    nothing (source checkpoint) while a replayed fold is manifest-
    idempotent (merge_kg_batch)."""
    from gliner_spark.plans.kg import build_kg
    from gliner_spark.streaming.kg_stream import stream_kg_updates

    src = str(tmp_path / "pages_kg")
    root = str(tmp_path / "kg_root")
    out = str(tmp_path / "kg_out")
    pages = synthesize_pages(spark, 120).persist()
    pages.coalesce(2).write.parquet(src)

    q = stream_kg_updates(
        read_page_stream(spark, src, max_files_per_trigger=1),
        ALL_LABELS, root, out,
    ).start()
    q.awaitTermination()

    full = build_kg(spark.read.parquet(src), ALL_LABELS)
    node_cols = ["entity_id", "canonical", "label", "n_mentions",
                 "n_surfaces"]
    edge_cols = ["src_entity", "dst_entity", "pred", "support", "weight"]

    def rows(df, cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    from gliner_spark.operators.sinks import read_published

    got_nodes = rows(read_published(spark, f"{out}/nodes"), node_cols)
    assert got_nodes == rows(full.nodes, node_cols) and got_nodes
    assert rows(read_published(spark, f"{out}/edges"), edge_cols) == rows(
        full.edges, edge_cols
    )

    # restart over the same source: no new files -> no re-fold, and the
    # published tables are unchanged
    n_mentions = spark.read.parquet(f"{root}/ner").count()
    q2 = stream_kg_updates(
        read_page_stream(spark, src), ALL_LABELS, root, out
    ).start()
    q2.awaitTermination()
    assert spark.read.parquet(f"{root}/ner").count() == n_mentions
    assert rows(read_published(spark, f"{out}/nodes"), node_cols) \
        == got_nodes
    pages.unpersist()


def test_run_kg_stream_job_entrypoint(spark, tmp_path, monkeypatch):
    """jobs/run_kg_stream.py drains available page files into published
    KG tables end to end (in-process; the spark-submit mechanics are
    exercised by test_submit.py for the batch twin)."""
    import os
    import runpy
    import sys

    from gliner_spark.operators.sinks import read_published

    src = str(tmp_path / "pages_in")
    out = str(tmp_path / "kg_out")
    root = str(tmp_path / "ckpt")
    synthesize_pages(spark, 60).coalesce(2).write.parquet(src)

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    monkeypatch.setattr(sys, "argv", [
        "run_kg_stream.py", "--input", src, "--output", out,
        "--checkpoint-root", root, "--max-files-per-trigger", "1",
    ])
    # the job must not switch the session's overwrite mode: its
    # partitioned writers set dynamic overwrite on their own writers
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        runpy.run_path(os.path.join(repo, "jobs/run_kg_stream.py"),
                       run_name="__main__")
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, before)

    nodes = read_published(spark, f"{out}/nodes")
    edges = read_published(spark, f"{out}/edges")
    assert nodes.count() > 0 and edges.count() > 0
    assert spark.read.parquet(f"{root}/ner").count() > 0


def test_stream_admissions_matches_batch_admission(spark, tmp_path):
    """Streaming admission ≡ sequential batch admission: documents
    arriving across micro-batches produce the same verdicts and the
    same final signature store as feeding the same batches to
    dedup_admit_batch by hand, and a stream RESTART over the same
    source admits nothing new (source checkpoint + left-anti store
    guard)."""
    from pyspark.sql import functions as F

    from gliner_spark.plans.incremental import dedup_admit_batch
    from gliner_spark.streaming.admit_stream import stream_admissions

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    mk = lambda i: (i, f"{base} d{i}a d{i}b d{i}c d{i}d")  # noqa: E731
    txt = lambda i: mk(i)[1]  # noqa: E731
    # file 0: 3 distinct + 1 exact dup; file 1: dup-of-old + fresh
    batches = [
        [mk(1), mk(2), mk(3), (11, txt(1))],
        [(20, txt(2)), mk(21)],
    ]
    src = str(tmp_path / "docs_src")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "doc_id long, text string") \
            .coalesce(1).write.mode("append").parquet(src)

    store = str(tmp_path / "sig_store")
    verdicts = str(tmp_path / "verdicts")
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema("doc_id long, text string") \
        .option("maxFilesPerTrigger", 1).parquet(src)
    q = stream_admissions(stream, store, verdicts, ckpt).start()
    q.awaitTermination()

    got = {r.doc_id: (r.dup_of, r.keep)
           for r in spark.read.parquet(verdicts).collect()}
    # reference: hand-fed sequential admission over the same batches.
    # NOTE maxFilesPerTrigger=1 makes each parquet file one micro-batch
    # in write order, so the sequential reference is well-defined.
    ref_store = str(tmp_path / "ref_store")
    ref = {}
    for rows in batches:
        b = spark.createDataFrame(rows, "doc_id long, text string")
        for r in dedup_admit_batch(b, ref_store).collect():
            ref[r.doc_id] = (r.dup_of, r.keep)
    assert got == ref
    assert got[11] == (1, False) and got[20] == (2, False)
    assert got[21] == (None, True)

    stored = {r.doc_id for r in spark.read.parquet(store).collect()}
    ref_stored = {r.doc_id for r in spark.read.parquet(ref_store).collect()}
    assert stored == ref_stored == {1, 2, 3, 21}

    # restart over the same source: nothing new admitted, verdicts and
    # store unchanged
    q2 = stream_admissions(
        spark.readStream.schema("doc_id long, text string").parquet(src),
        store, verdicts, ckpt,
    ).start()
    q2.awaitTermination()
    assert {r.doc_id: (r.dup_of, r.keep)
            for r in spark.read.parquet(verdicts).collect()} == got
    assert {r.doc_id for r in
            spark.read.parquet(store).collect()} == stored
