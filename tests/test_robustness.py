"""Edge cases: null/empty texts, empty inputs, single-row frames —
every operator must degrade to empty output, never throw."""

import pytest
from pyspark.sql import functions as F

from gliner_spark.kernels.scorer import ALL_LABELS
from gliner_spark.operators.canonicalize import (
    canonical_entities,
    connected_components,
    nodes_table,
)
from gliner_spark.operators.dedup import (
    exact_dup_groups,
    minhash_dups,
    ngram_jaccard_dups,
    simhash_dups,
)
from gliner_spark.operators.linking import entity_surfaces, exact_jaccard_links
from gliner_spark.operators.ner import extract_mentions
from gliner_spark.operators.ner_fused import extract_triples_fused
from gliner_spark.operators.relations import extract_relations
from gliner_spark.operators.textstats import quality_score, token_stats


@pytest.fixture()
def nullish_docs(spark):
    return spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "spark join table"),
            (4, "   "),
        ],
        "doc_id long, text string",
    )


def test_ner_handles_null_and_empty_text(spark, nullish_docs):
    out = extract_mentions(nullish_docs, ALL_LABELS, id_col="doc_id").collect()
    assert {r.doc_id for r in out} == {"3"}
    assert len(out) == 3  # spark, join, table


def test_fused_handles_null_and_empty_text(spark, nullish_docs):
    out = extract_triples_fused(
        nullish_docs, ALL_LABELS, id_col="doc_id"
    ).collect()
    assert all(r.doc_id == "3" for r in out)
    assert len(out) > 0  # system→operator, system→artifact, operator→artifact


def test_empty_dataframe_through_pipeline(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    mentions = extract_mentions(empty, ALL_LABELS, id_col="doc_id")
    assert mentions.count() == 0
    assert extract_relations(mentions).count() == 0
    surfaces = entity_surfaces(mentions)
    assert surfaces.count() == 0
    assert exact_jaccard_links(surfaces).count() == 0
    ents = canonical_entities(
        surfaces, exact_jaccard_links(surfaces)
    )
    assert nodes_table(ents).count() == 0


def test_empty_edges_connected_components(spark):
    empty = spark.createDataFrame([], "src string, dst string")
    assert connected_components(empty).count() == 0


def test_dedup_ops_on_nullish(spark, nullish_docs):
    safe = nullish_docs.where(F.col("text").isNotNull())
    assert exact_dup_groups(safe).count() == 3
    assert ngram_jaccard_dups(safe).count() == 0  # no near-dups here
    assert minhash_dups(safe).count() == 0
    assert simhash_dups(safe).count() >= 0  # must not throw


def test_multimodal_and_bpe_on_nullish(spark, nullish_docs):
    """Null/empty text must not break the PPM construction (base falls
    back to ' '), the decoder, or the BPE counter."""
    from gliner_spark.operators.multimodal import attach_media, extract_features
    from gliner_spark.operators.textstats import bpe_token_stats

    feats = {r.doc_id: r for r in
             extract_features(attach_media(nullish_docs)).collect()}
    assert len(feats) == 4
    img = feats[3]  # doc_id % 3 == 0 → image
    assert (img.width, img.height) == (8, 8) and img.val_n == 192
    av_null = feats[1]  # null text → null payload → zero moments
    assert av_null.val_n == 0 and av_null.val_sum == 0
    assert av_null.width == 0  # non-image dims are explicit zeros

    bpe = {r.doc_id: r for r in bpe_token_stats(nullish_docs).collect()}
    assert bpe[3].n_bpe == 3
    assert bpe[2].n_bpe == 0 and bpe[2].avg_bpe_len is None
    assert bpe[1].n_bpe == 0 or bpe[1].n_bpe is None


def test_textstats_single_word_and_empty(spark):
    docs = spark.createDataFrame(
        [(1, "x"), (2, "the")], "doc_id long, text string"
    )
    ts = {r.doc_id: r for r in token_stats(docs).collect()}
    assert ts[1].n_tokens == 1 and ts[1].avg_token_len == 1.0
    q = {r.doc_id: r for r in quality_score(docs).collect()}
    assert q[2].stopword_ratio == 1.0


def _truncate_one_parquet(root):
    import os

    f = sorted(os.path.join(d, n) for d, _, fs in os.walk(root)
               for n in fs if n.endswith(".parquet"))[0]
    with open(f, "r+b") as fh:
        fh.truncate(os.path.getsize(f) // 2)


def test_local_table_plans_as_local_table_scan_without_arrow(spark):
    """local_table never becomes a Python RDD: empty and non-empty
    tables plan as LocalTableScan even with Arrow off on the session.
    Its partitions are those of a file of the same size: one up to
    ``spark.sql.files.maxPartitionBytes`` (an empty table too), then
    ceil(Arrow bytes / split), never more than the scan's own
    min(rows, cores)."""
    import math

    import pyarrow as pa
    from pyspark.sql.types import StructType

    from gliner_spark.operators.util import _arrow_rows, local_table

    ddl = "a long, b array<bigint>, c string"
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        for rows in ([], [(1, [2, 3], "x"), (4, None, None)]):
            df = local_table(spark, rows, ddl)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "LocalTableScan" in plan and "ExistingRDD" not in plan
            assert df.rdd.getNumPartitions() == 1
            assert [tuple(r) for r in df.collect()] == rows
    finally:
        spark.conf.set(key, prev)

    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "4k")
    try:
        cores = spark.sparkContext.defaultParallelism
        want = []
        for n in (80, 400):
            rows = [(i, list(range(8)), "x" * 40) for i in range(n)]
            table = pa.Table.from_batches(
                [_arrow_rows(rows, StructType.fromDDL(ddl))])
            want.append(min(math.ceil(table.nbytes / 4096), cores))
            df = local_table(spark, table, ddl)
            assert df.rdd.getNumPartitions() == want[-1]
            assert sorted(tuple(r) for r in df.collect()) == rows
        # one table split by its size, one capped by the core count
        assert 1 < want[0] < cores == want[1]
    finally:
        spark.conf.set(key, prev)


def test_read_parquet_or_empty_checks_existence_first(spark, tmp_path):
    """A missing path (plain or ``file://``) gives the empty local table
    without a Spark read; a present one is read."""
    from gliner_spark.operators.util import read_parquet_or_empty

    ddl = "doc_id long, sig array<bigint>"
    for path in (str(tmp_path / "none"), f"file://{tmp_path}/none"):
        df = read_parquet_or_empty(spark, path, ddl)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "Parquet" not in plan
        assert df.count() == 0
    spark.createDataFrame([(1, [2])], ddl).write.parquet(str(tmp_path / "t"))
    got = read_parquet_or_empty(spark, str(tmp_path / "t"), ddl).collect()
    assert [tuple(r) for r in got] == [(1, [2])]


def test_drop_zip_importers_keeps_zip_imports_working(tmp_path,
                                                      monkeypatch):
    """The cached zipimporters go, and a module of the same zip still
    imports afterwards, also after ``importlib.invalidate_caches``."""
    import importlib
    import sys
    import zipfile
    import zipimport

    from gliner_spark.operators.util import drop_zip_importers

    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("gs_zmod_a.py", "X = 1\n")
        z.writestr("gs_zmod_b.py", "X = 2\n")
    monkeypatch.syspath_prepend(archive)
    for name in ("gs_zmod_a", "gs_zmod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("gs_zmod_a").X == 1
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
    drop_zip_importers()
    assert not any(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
    importlib.invalidate_caches()
    b = importlib.import_module("gs_zmod_b")
    assert b.X == 2 and b.__spec__.origin.startswith(archive)
    for name in ("gs_zmod_a", "gs_zmod_b"):
        sys.modules.pop(name, None)


def test_manifest_missing_reads_empty_unreadable_raises(spark, tmp_path):
    """Only a root with no manifest yet reads as an empty manifest; a
    manifest that exists but cannot be read raises instead of passing
    for 'nothing done yet' (which would silently recompute)."""
    from gliner_spark.operators.checkpoint import (
        checkpoint_write,
        read_manifest,
        stage_metrics,
        with_part_key,
    )

    root = str(tmp_path / "ck")
    assert stage_metrics(spark, root).count() == 0
    assert read_manifest(spark, root, "s").count() == 0
    df = spark.createDataFrame([(i, f"t{i}") for i in range(20)],
                               "doc_id long, text string")
    checkpoint_write(with_part_key(df, "doc_id", 4), root, "s")
    assert stage_metrics(spark, root).count() > 0
    _truncate_one_parquet(f"{root}/_checkpoints")
    with pytest.raises(Exception):
        stage_metrics(spark, root).count()
    with pytest.raises(Exception):
        read_manifest(spark, root, "s").count()
