"""End-to-end pipeline + checkpoint/resume tests (SURVEY.md §5)."""

import os
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from gliner_spark.kernels.scorer import ALL_LABELS
from gliner_spark.operators.checkpoint import (
    checkpoint_write,
    manifest_file_count,
    stage_metrics,
    with_part_key,
)
from gliner_spark.plans.kg import build_kg
from gliner_spark.schemas import MENTIONS, TRIPLES
from gliner_spark.sources.pages import (
    pages_from_documents,
    synthesize_pages,
    verify_extraction,
)


def test_html_extraction_byte_identical(spark):
    pages = synthesize_pages(spark, 300)
    assert verify_extraction(pages).count() == 0
    pages2 = pages_from_documents(spark, "/root/testdata/sf0.001")
    assert verify_extraction(pages2).count() == 0


def test_build_kg_end_to_end(spark):
    pages = synthesize_pages(spark, 300)
    kg = build_kg(pages, ALL_LABELS)
    assert kg.mentions.count() > 0
    assert kg.triples.count() > 0
    nodes = kg.nodes.collect()
    assert len(nodes) > 0
    # "new york" and "new york city" canonicalize together
    by_canon = {}
    for r in nodes:
        by_canon.setdefault(r.canonical, []).append(r)
    merged = [r for r in nodes if r.n_surfaces >= 2]
    assert merged, "expected at least one merged entity"
    assert kg.edges.count() > 0


def test_checkpoint_resume(spark, tmp_path):
    root = str(tmp_path / "ckpt")
    pages = synthesize_pages(spark, 120)
    kg1 = build_kg(pages, ALL_LABELS, checkpoint_root=root)
    n_mentions = kg1.mentions.count()
    n_triples = kg1.triples.count()
    metrics1 = stage_metrics(spark, root).where(F.col("stage") == "ner")
    n_parts = metrics1.count()
    assert n_parts > 0
    assert (
        metrics1.agg(F.sum("n_rows")).collect()[0][0] == n_mentions
    )  # per-partition counts sum to the total

    # resume: second run must skip all DONE partitions (manifest rows
    # and files unchanged) and produce identical outputs
    n_files = manifest_file_count(spark, root)
    kg2 = build_kg(pages, ALL_LABELS, checkpoint_root=root)
    assert kg2.mentions.count() == n_mentions
    assert kg2.triples.count() == n_triples
    metrics2 = stage_metrics(spark, root).where(F.col("stage") == "ner")
    assert metrics2.count() == n_parts  # no new manifest rows appended
    assert manifest_file_count(spark, root) == n_files
    # the triples keep the NER rows' part key as their partitioning
    from gliner_spark.operators.sinks import materialize_kg

    triples_dir = materialize_kg(kg2, str(tmp_path / "kg"))["triples"]
    assert any(p.startswith("part_key=") for p in os.listdir(triples_dir))


def test_compact_manifest_resume_and_bounded_files(spark, tmp_path):
    """Long-lived incremental roots: checkpoint_write appends one small
    parquet per call; compact_manifest must collapse them to ONE file
    while DONE semantics survive the boundary (a resume after
    compaction skips everything, new partitions still append)."""
    from gliner_spark.operators.checkpoint import (
        checkpoint_write,
        compact_manifest,
        completed_partitions,
        manifest_file_count,
        with_part_key,
    )

    root = str(tmp_path / "root")
    docs = spark.range(200).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("payload")
    )
    staged = with_part_key(docs, "doc_id", n_buckets=8)
    # 6 appended manifest files: 2 stages × 3 calls, each call a third
    # of the buckets (a fully resumed call appends no file)
    for i in range(6):
        third = F.col("part_key").cast("int") % 3 == i // 2
        checkpoint_write(staged.where(third), root, f"stage{i % 2}")
    # replayed DONE rows, as concurrent writers can leave them
    stage_metrics(spark, root).localCheckpoint().write.mode("append").parquet(
        f"{root}/_checkpoints")
    assert manifest_file_count(spark, root) >= 6

    done_before = {
        (s, r.part_key)
        for s in ("stage0", "stage1")
        for r in completed_partitions(spark, root, s).collect()
    }
    n = compact_manifest(spark, root)
    assert n == 16  # 2 stages × 8 buckets, replays deduped
    assert manifest_file_count(spark, root) == 1
    done_after = {
        (s, r.part_key)
        for s in ("stage0", "stage1")
        for r in completed_partitions(spark, root, s).collect()
    }
    assert done_after == done_before

    # resume across the compaction boundary: everything DONE -> the
    # write is a no-op append (row count on disk unchanged)
    n_rows = spark.read.parquet(f"{root}/stage0").count()
    checkpoint_write(staged, root, "stage0")
    assert spark.read.parquet(f"{root}/stage0").count() == n_rows
    # and a NEW stage still appends normally after compaction
    checkpoint_write(staged, root, "stage_new")
    assert completed_partitions(spark, root, "stage_new").count() == 8


def test_write_table_v2_catalog_branch(spark, tmp_path):
    """The Iceberg-shaped DataFrameWriterV2 branch of write_table,
    exercised for real against the session catalog (no Iceberg jar in
    the sandbox, but the V2 writeTo/createOrReplace/partitionedBy/append
    path is format-agnostic): createOrReplace creates, a second
    overwrite replaces, append appends, and the partition column
    prunes."""
    from pyspark.sql import functions as F

    from gliner_spark.operators.sinks import write_table

    df = spark.range(20).select(
        F.col("id"), (F.col("id") % 2).alias("side")
    )
    import pytest
    from pyspark.errors.exceptions.captured import AnalysisException

    tgt = "spark_catalog.default.gs_v2_sink_test"
    try:
        write_table(df.where("id < 10"), tgt, fmt="parquet",
                    mode="create", partition_by=["side"], catalog=True)
        assert spark.table(tgt).count() == 10  # V2 CTAS, partitioned
        assert spark.table(tgt).where("side = 0").count() == 5
        # append/replace DELEGATE to the catalog's V2 capabilities —
        # Iceberg/Delta provide them; Spark's built-in V1 fallback
        # raises. Pin the delegation (no silent degradation to a V1
        # path behind the caller's back).
        with pytest.raises(AnalysisException, match="v1 table"):
            write_table(df.where("id >= 10"), tgt, fmt="parquet",
                        mode="append", partition_by=["side"],
                        catalog=True)
        with pytest.raises(AnalysisException, match="REPLACE TABLE"):
            write_table(df, tgt, fmt="parquet", partition_by=["side"],
                        catalog=True)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tgt}")


def test_compact_manifest_crash_recovery_and_scheme_guard(spark, tmp_path):
    """The two-rename swap's crash windows heal on the next manifest op
    (r4 ADVICE): a committed .compact tmp is PROMOTED (finishing the
    compaction), an incomplete tmp rolls back to .old; object-store
    roots fail fast, and remote roots reach their own filesystem
    rather than a literal local './hdfs:/...' path."""
    import os
    import shutil

    import pytest

    from gliner_spark.operators.checkpoint import (
        checkpoint_write,
        compact_manifest,
        completed_partitions,
        manifest_file_count,
        with_part_key,
    )

    root = str(tmp_path / "root")
    docs = spark.range(100).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("payload")
    )
    staged = with_part_key(docs, "doc_id", n_buckets=4)
    for _ in range(2):
        checkpoint_write(staged, root, "s")
    path = os.path.join(root, "_checkpoints")

    # crash BETWEEN the renames, tmp fully committed: manifest gone,
    # .old + .compact(_SUCCESS) left behind
    compact_manifest(spark, root)  # produces the single-file layout
    shutil.copytree(path, path + ".compact")
    os.rename(path, path + ".old")
    assert not os.path.isdir(path)
    assert completed_partitions(spark, root, "s").count() == 4  # healed
    assert os.path.isdir(path)
    assert not os.path.isdir(path + ".old")

    # crash with an INCOMPLETE tmp (no _SUCCESS): roll back to .old
    os.rename(path, path + ".old")
    os.makedirs(path + ".compact")
    with open(os.path.join(path + ".compact", "part-0.parquet"), "wb") as f:
        f.write(b"junk")
    assert manifest_file_count(spark, root) == 1  # healed from .old
    assert not os.path.isdir(path + ".compact")

    # object-store compaction still fails fast (rename is copy+delete
    # there — the recovery walk cannot heal a crash mid-copy); remote
    # roots go to their own Hadoop filesystem, which in this sandbox
    # has no namenode or s3a jar: its own error surfaces, never a
    # count of a local './hdfs:/...' directory
    with pytest.raises(ValueError, match="atomic rename"):
        compact_manifest(spark, "s3a://bucket/ckpt")
    for bad in ("hdfs://nn:8020/ckpt", "s3a://bucket/ckpt"):
        with pytest.raises(Exception) as ei:
            manifest_file_count(spark, bad)
        assert "local filesystem" not in str(ei.value)

    # compact again, then simulate a crash between the renames and
    # confirm the recovery walk heals it
    n = compact_manifest(spark, root)
    assert n == 4
    assert manifest_file_count(spark, root) == 1
    shutil.copytree(path, path + ".compact")
    os.rename(path, path + ".old")
    from gliner_spark.operators.checkpoint import _recover_manifest_fs
    from gliner_spark.operators.fsio import fs_for

    _recover_manifest_fs(fs_for(spark, root), path)
    assert os.path.isdir(path) and not os.path.isdir(path + ".old")
    assert completed_partitions(spark, root, "s").count() == 4


def test_publish_atomic_reader_never_sees_partial(spark, tmp_path):
    """Versioned publish: while a publisher repeatedly republishes, a
    concurrent reader resolving the newest marker always reads one
    COMPLETE version — counts only ever come from the published set,
    never a partial table, and no read errors."""
    import threading

    from gliner_spark.operators.sinks import publish_atomic, read_published

    out = str(tmp_path / "pub")
    sizes = [100, 230, 370, 510]
    # retention at its most aggressive — every publish prunes ALL older
    # versions. Readers survive because read_published hardlink-PINS
    # the version it resolved: pruning drops directory names, not the
    # inodes an active pin references (r4 ADVICE retention race, now
    # closed by version-pinned reads).
    publish_atomic(spark.range(sizes[0]), out, keep_versions=1)

    seen, errors = [], []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                seen.append(read_published(spark, out).count())
            except Exception as e:  # a partial/pruned table lands here
                errors.append(repr(e))

    t = threading.Thread(target=reader)
    t.start()
    try:
        for n in sizes[1:]:
            publish_atomic(spark.range(n), out, keep_versions=1)
    finally:
        stop.set()
        t.join()
    assert not errors
    assert seen and set(seen) <= set(sizes)
    assert read_published(spark, out).count() == sizes[-1]
    # retention (sequential): default keep_versions bounds the dir count
    import os

    publish_atomic(spark.range(7), out)
    assert read_published(spark, out).count() == 7
    assert sum(1 for d in os.listdir(out) if d.startswith("v=")) <= 3


def test_publish_atomic_crash_orphan_is_harmless(spark, tmp_path):
    """A crash mid-write leaves a version dir WITHOUT a marker:
    readers keep resolving the old complete version, and the next
    successful publish allocates a higher version (never adopts or
    collides with the orphan)."""
    import os

    from gliner_spark.operators.sinks import publish_atomic, read_published

    out = str(tmp_path / "pub")
    publish_atomic(spark.range(50), out)
    # simulate a crashed writer: partial dir, no _SUCCESS, no marker
    orphan = os.path.join(out, "v=00000001")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-00000.parquet"), "wb") as f:
        f.write(b"\x00garbage")  # not even valid parquet
    assert read_published(spark, out).count() == 50  # old version serves
    vdir = publish_atomic(spark.range(75), out)
    assert vdir.endswith("v=00000002")  # orphan's number not reused
    assert read_published(spark, out).count() == 75


def test_publish_atomic_pin_lifecycle_and_scheme_guard(spark, tmp_path):
    """Pins: published_snapshot releases its pin deterministically;
    unreleased read_published pins are swept by a later publish once
    past pin_ttl_s; remote paths reach their own filesystem, never a
    marker on the driver's local disk while data goes to the store
    (r4 ADVICE: silent split-brain)."""
    import os

    import pytest

    from gliner_spark.operators.sinks import (
        publish_atomic,
        published_snapshot,
        read_published,
    )

    out = str(tmp_path / "pub")
    publish_atomic(spark.range(20), out, keep_versions=1)
    pins = os.path.join(out, "_pins")
    with published_snapshot(spark, out) as df:
        assert df.count() == 20
        assert len(os.listdir(pins)) == 1  # pinned while in scope
    assert os.listdir(pins) == []  # released on exit
    # an unreleased pin survives an immediate publish (ttl not reached)
    assert read_published(spark, out).count() == 20
    assert len(os.listdir(pins)) == 1
    publish_atomic(spark.range(30), out, keep_versions=1, pin_ttl_s=3600)
    assert len(os.listdir(pins)) == 1
    # ...and is swept once past the TTL
    publish_atomic(spark.range(40), out, keep_versions=1, pin_ttl_s=0.0)
    assert os.listdir(pins) == []
    # remote schemes ROUTE to their Hadoop FileSystem (r5 verdict #5);
    # in this sandbox there is no
    # reachable namenode / s3a jar, so the route surfaces the
    # filesystem's own error rather than a silent local-disk marker —
    # the split-brain the old guard existed for stays impossible
    for bad in ("s3://bucket/kg_out", "hdfs://nn:8020/kg"):
        with pytest.raises(Exception) as ei:
            publish_atomic(spark.range(1), bad)
        assert "local filesystem" not in str(ei.value)
    # file:// URIs are local: accepted and equivalent to the plain path
    assert read_published(spark, f"file://{out}").count() == 40


def test_incremental_merge_equals_from_scratch(spark, tmp_path):
    """merge(A) then merge(B) must yield node/edge tables identical to
    building over A ∪ B from scratch, and mention scoring must be
    append-only (second merge of the same batch is a manifest no-op)."""
    from gliner_spark.plans.incremental import merge_kg_batch

    root = str(tmp_path / "ikg")
    pages = synthesize_pages(spark, 200).persist()
    # seed-1 hash split: DECORRELATED from with_part_key's
    # xxhash64(url) % 64 buckets, so the two batches share hash buckets
    # — the case that exposed the r2 bug where a later batch's rows in
    # already-DONE buckets were silently dropped (now batch-scoped keys)
    batch_a = pages.where(F.xxhash64("url", F.lit(1)) % 2 == 0)
    batch_b = pages.where(F.xxhash64("url", F.lit(1)) % 2 != 0)

    merge_kg_batch(batch_a, ALL_LABELS, root)
    n_manifest = stage_metrics(spark, root).count()
    kg_inc = merge_kg_batch(batch_b, ALL_LABELS, root)

    full = build_kg(pages, ALL_LABELS)

    def rows(df, cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    node_cols = ["entity_id", "canonical", "label", "n_mentions",
                 "n_surfaces"]
    edge_cols = ["src_entity", "dst_entity", "pred", "support", "weight"]
    assert rows(kg_inc.nodes, node_cols) == rows(full.nodes, node_cols)
    assert rows(kg_inc.edges, edge_cols) == rows(full.edges, edge_cols)
    assert rows(kg_inc.triples, TRIPLES.fieldNames()) == rows(
        full.triples, TRIPLES.fieldNames())
    assert kg_inc.mentions.count() == full.mentions.count()

    # idempotence: re-merging batch_b adds no manifest rows, no mentions
    n_after = stage_metrics(spark, root).count()
    kg_again = merge_kg_batch(batch_b, ALL_LABELS, root)
    assert stage_metrics(spark, root).count() == n_after > n_manifest
    assert kg_again.mentions.count() == kg_inc.mentions.count()
    pages.unpersist()


def test_incremental_merge_records_zero_mention_partitions(spark, tmp_path):
    """The mentions-stage manifest after a merge must cover the batch's
    FULL part-key universe — partitions whose docs yield zero mentions
    included (DONE/0). Without expected_part_keys those keys would be
    re-scored (a full NER pass for those partitions) on EVERY subsequent
    merge (ADVICE r2)."""
    from gliner_spark.plans.incremental import merge_kg_batch
    from gliner_spark.sources.pages import wrap_html

    root = str(tmp_path / "ikg0")
    # mostly mention-free pages (no gazetteer words) + a few with entities:
    # with 64 hash buckets over 48 urls, several buckets are mention-free
    rows = [(f"https://z.example/{i}", "zzz qqq xxx yyy") for i in range(40)]
    rows += [(f"https://k.example/{i}", "Kyiv is the capital of Ukraine.")
             for i in range(8)]
    pages = spark.createDataFrame(rows, "url string, text string").select(
        "url", F.to_timestamp(F.lit("2024-05-01")).alias("warc_ts"),
        wrap_html(F.col("text")).alias("html"), "text", F.lit("en").alias("lang"),
    )
    merge_kg_batch(pages, ALL_LABELS, root)
    from gliner_spark.plans.incremental import _batch_fingerprint

    fp = _batch_fingerprint(pages, "url", "text")
    expected = {
        f"{fp}-{r.part_key}"
        for r in with_part_key(
            pages.select(F.col("url").alias("doc_id")), "doc_id"
        ).select("part_key").distinct().collect()
    }
    manifest = stage_metrics(spark, root).where(F.col("stage") == "ner")
    got = {r.part_key for r in manifest.collect()}
    assert got == expected
    assert manifest.where(F.col("n_rows") == 0).count() > 0
    # idempotence: re-merging appends no manifest rows (nothing re-scored)
    n = stage_metrics(spark, root).count()
    merge_kg_batch(pages, ALL_LABELS, root)
    assert stage_metrics(spark, root).count() == n
    # recrawl semantics (ADVICE r3): SAME urls with UPDATED text is a
    # DIFFERENT batch — the content fingerprint must change, or the old
    # manifest would left-anti away every rescored mention
    recrawl = pages.withColumn(
        "text", F.concat(F.col("text"), F.lit(" updated"))
    )
    assert _batch_fingerprint(recrawl, "url", "text") != fp


def _halves(pages):
    """Two batches of ``pages`` split by a hash decorrelated from
    ``with_part_key``'s buckets, so they share buckets."""
    odd = F.xxhash64("url", F.lit(1)) % 2 != 0
    return pages.where(~odd), pages.where(odd)


def test_merge_triples_plan_has_no_join(spark, tmp_path):
    """A merge's triples are the checkpointed NER rows of every batch
    exploded: the second merge's plan holds no Join and no Exchange,
    so no merge re-pairs the mentions of the batches before it."""
    from gliner_spark.plans.incremental import merge_kg_batch

    root = str(tmp_path / "ikg")
    batch_a, batch_b = _halves(synthesize_pages(spark, 60))
    merge_kg_batch(batch_a, ALL_LABELS, root)
    kg = merge_kg_batch(batch_b, ALL_LABELS, root)
    txt = kg.triples._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in txt and "Exchange" not in txt
    assert kg.triples.count() > 0


def test_replay_and_resume_score_nothing(spark, tmp_path, monkeypatch):
    """A replayed merge (same ``batch_id``) and a resumed checkpointed
    ``build_kg`` drop their DONE pages before the NER stage: the scorer
    sees no window of any document, the manifest gains no file and
    the tables are unchanged."""
    from gliner_spark.plans import kg as kg_mod
    from gliner_spark.plans.incremental import merge_kg_batch

    marker = tmp_path / "scored"
    os.makedirs(marker)

    def factory(path=str(marker)):
        import os as _os
        import uuid as _uuid

        from gliner_spark.kernels.scorer import SurrogateScorer

        class Counting(SurrogateScorer):
            def score_spans(self, batch_tokens, labels):
                open(_os.path.join(path, f"{len(batch_tokens)}-"
                                   f"{_uuid.uuid4().hex}"), "w").close()
                return super().score_spans(batch_tokens, labels)

        return Counting(12)

    def windows_scored():
        files = os.listdir(marker)
        for f in files:
            os.remove(marker / f)
        return sum(int(f.split("-")[0]) for f in files)

    stage = kg_mod._ner_stage
    monkeypatch.setattr(kg_mod, "_ner_stage", lambda *a: stage(
        *a[:5], factory, *a[6:]))
    pages = synthesize_pages(spark, 60)
    edge_cols = ["src_entity", "dst_entity", "pred", "support", "weight"]

    def edges(kg):
        return sorted(tuple(r) for r in kg.edges.select(*edge_cols).collect())

    for run in ("merge", "build"):
        root = str(tmp_path / run)

        def call():
            if run == "merge":
                return merge_kg_batch(pages, ALL_LABELS, root, batch_id=7)
            return kg_mod.build_kg(pages, ALL_LABELS, checkpoint_root=root)

        first = edges(call())
        assert windows_scored() > 0
        n_files = manifest_file_count(spark, root)
        again = edges(call())
        assert windows_scored() == 0, run
        assert manifest_file_count(spark, root) == n_files
        assert again == first
    spark.catalog.clearCache()


def test_merge_crash_in_manifest_append_then_retry(spark, tmp_path,
                                                   monkeypatch):
    """Batch B's merge dies in the NER stage's manifest append: its
    rows are written, its partitions not yet DONE. The retry re-scores
    them, and the KG equals a clean A-then-B run's."""
    from gliner_spark.operators import checkpoint as ckpt
    from gliner_spark.plans.incremental import merge_kg_batch

    pages = synthesize_pages(spark, 120).persist()
    batch_a, batch_b = _halves(pages)
    tables = {
        "nodes": ["entity_id", "canonical", "label", "n_mentions",
                  "n_surfaces"],
        "edges": ["src_entity", "dst_entity", "pred", "support", "weight"],
        "triples": TRIPLES.fieldNames() + ["part_key"],
        "mentions": MENTIONS.fieldNames() + ["part_key"],
    }

    def rows(kg):
        return {t: sorted(tuple(r) for r in getattr(kg, t).select(*c)
                          .collect()) for t, c in tables.items()}

    clean_root = str(tmp_path / "clean")
    merge_kg_batch(batch_a, ALL_LABELS, clean_root)
    clean = rows(merge_kg_batch(batch_b, ALL_LABELS, clean_root))

    root = str(tmp_path / "crashed")
    merge_kg_batch(batch_a, ALL_LABELS, root)
    local_table = ckpt.local_table

    def crash_once(spark, rows, ddl):
        if ddl == ckpt.MANIFEST_DDL and rows[0][0] == "ner":
            monkeypatch.setattr(ckpt, "local_table", local_table)
            raise RuntimeError("crash in the manifest append")
        return local_table(spark, rows, ddl)

    monkeypatch.setattr(ckpt, "local_table", crash_once)
    with pytest.raises(RuntimeError, match="manifest append"):
        merge_kg_batch(batch_b, ALL_LABELS, root)
    assert rows(merge_kg_batch(batch_b, ALL_LABELS, root)) == clean
    assert clean["triples"] and clean["edges"]
    pages.unpersist()


def test_checkpoint_zero_row_partitions_marked_done(spark, tmp_path):
    """Input partitions yielding zero output rows must still get a
    manifest row (n_rows=0) so resume never reprocesses them."""
    root = str(tmp_path / "ckpt0")
    df = with_part_key(
        spark.range(0, 100).select(F.col("id").cast("string").alias("doc_id")),
        "doc_id",
        n_buckets=8,
    )
    expected = [str(i) for i in range(8)]
    # a filter that empties some partitions entirely
    filtered = df.where(F.col("part_key").isin("0", "1", "2"))
    checkpoint_write(filtered, root, "s", expected_part_keys=expected)
    m = stage_metrics(spark, root)
    assert m.count() == 8
    zeros = {r.part_key for r in m.where(F.col("n_rows") == 0).collect()}
    assert zeros == {"3", "4", "5", "6", "7"}
    # resume with the full input: zero-row partitions are NOT redone
    checkpoint_write(df, root, "s", expected_part_keys=expected)
    assert stage_metrics(spark, root).count() == 8


def test_curate_fused_plan_scans_at_most_twice(spark):
    """The curation verdict must not re-scan documents once per gate:
    lang/quality/exact-dup share ONE projection, near-dup components are
    checkpointed — the final plan holds ≤ 2 parquet scans."""
    import io
    from contextlib import redirect_stdout

    from gliner_spark.plans.curation import curate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = curate(docs)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    assert buf.getvalue().count("Scan parquet") <= 2
    assert out.count() == docs.count()


def test_salted_surface_agg_identical_and_wired(spark):
    """``entity_surfaces``' two-phase salted form on a corpus with a hot
    surface key: surfaces and links IDENTICAL salted vs unsalted, and the
    salted plan wired as two aggregation exchanges (partial by (label,
    surface, salt), final by (label, surface)) instead of one."""
    import io
    from contextlib import redirect_stdout

    from gliner_spark.operators.linking import (
        entity_surfaces,
        exact_jaccard_links,
    )

    # skewed mentions: one surface carries 80% of rows
    rows = [(f"u{i}", i, i + 4, "kyiv", "city", 0.9) for i in range(400)]
    rows += [(f"v{i}", 0, 8, "new york", "city", 0.9) for i in range(50)]
    rows += [(f"v{i}", 10, 23, "new york city", "city", 0.9)
             for i in range(50)]
    mentions = spark.createDataFrame(
        rows,
        "doc_id string, m_start long, m_end long, m_text string, "
        "label string, prob double",
    )
    plain = entity_surfaces(mentions)
    salted = entity_surfaces(mentions, salt_buckets=8)
    cols = ["sid", "label", "surface", "n_mentions"]
    assert sorted(map(tuple, plain.select(*cols).collect())) == sorted(
        map(tuple, salted.select(*cols).collect())
    )
    links_plain = {tuple(r) for r in exact_jaccard_links(plain).collect()}
    links_salted = {tuple(r) for r in exact_jaccard_links(salted).collect()}
    assert links_plain == links_salted and links_plain

    buf = io.StringIO()
    with redirect_stdout(buf):
        salted.explain("formatted")
    # "Exchange (" matches the plan-tree node once per exchange (the
    # detail section prints "(n) Exchange" instead)
    assert buf.getvalue().count("Exchange (") == 2
    buf2 = io.StringIO()
    with redirect_stdout(buf2):
        plain.explain("formatted")
    assert buf2.getvalue().count("Exchange (") == 1


def test_materialize_kg_partition_layout_and_pruning(spark, tmp_path):
    """materialize_kg writes nodes partitioned by label / edges by pred
    with counts intact, and a label-filtered read prunes at the SCAN
    (PartitionFilters), not with a post-scan filter."""
    import io
    from contextlib import redirect_stdout

    from gliner_spark.operators.sinks import materialize_kg

    pages = synthesize_pages(spark, 120)
    kg = build_kg(pages, ALL_LABELS)
    targets = materialize_kg(kg, str(tmp_path / "kgout"))

    nodes_back = spark.read.parquet(targets["nodes"])
    assert nodes_back.count() == kg.nodes.count() > 0
    assert any(
        p.startswith("label=")
        for p in __import__("os").listdir(targets["nodes"])
        if not p.startswith("_")
    )
    one_label = nodes_back.where(F.col("label") == "city")
    buf = io.StringIO()
    with redirect_stdout(buf):
        one_label.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "label" in plan.split(
        "PartitionFilters", 1
    )[1].split("\n", 1)[0]

    edges_back = spark.read.parquet(targets["edges"])
    assert edges_back.count() == kg.edges.count()
    assert sorted(edges_back.columns) == sorted(kg.edges.columns)


@contextmanager
def _persist_spy():
    """Records every DataFrame ``persist`` call made in the block."""
    from pyspark.sql.classic.dataframe import DataFrame

    persisted = []
    persist = DataFrame.persist

    def spy(self, *a, **kw):
        persisted.append(self)
        return persist(self, *a, **kw)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(DataFrame, "persist", spy)
        yield persisted


def _is_pinned(df) -> bool:
    level = df.storageLevel
    return level.useMemory or level.useDisk


def test_build_kg_driver_tail_pins_ner_only_and_writes_one_node_file(
        spark, tmp_path, monkeypatch):
    """On the driver linking tail build_kg pins only its NER pass (the
    surfaces are read once, by the bounded collect), its nodes are one
    partition, and materialize_kg writes one nodes file per label. Past
    the bound the distributed tail pins the surfaces and releases them
    before build_kg returns."""
    import os

    from gliner_spark.operators.sinks import materialize_kg
    from gliner_spark.plans import kg as kg_mod

    pages = synthesize_pages(spark, 120)
    # an earlier build_kg of this corpus may still hold the same NER pin
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    # ids, not a count: the context cleaner may release an earlier
    # test's garbage-collected pin during the call
    before = set(jsc.getPersistentRDDs())
    with _persist_spy() as persisted:
        kg = build_kg(pages, ALL_LABELS)
    new_rdds = set(jsc.getPersistentRDDs()) - before
    try:
        assert len(persisted) == 1 and _is_pinned(persisted[0])  # NER
        assert len(new_rdds) == 1
        assert "LocalTableScan" in kg.nodes._jdf.queryExecution() \
            .executedPlan().toString()
        assert kg.nodes.rdd.getNumPartitions() == 1
        nodes_dir = materialize_kg(kg, str(tmp_path / "kg"))["nodes"]
        labels = [d for d in os.listdir(nodes_dir) if d.startswith("label=")]
        assert labels
        for d in labels:
            files = os.listdir(os.path.join(nodes_dir, d))
            assert sum(f.endswith(".parquet") for f in files) == 1, d
    finally:
        for df in persisted:
            df.unpersist()

    monkeypatch.setattr(kg_mod, "DRIVER_ROWS", 0)
    with _persist_spy() as persisted:
        build_kg(pages, ALL_LABELS)
    try:
        ner, surfaces = persisted[:2]
        assert "rels" in ner.columns and "sid" in surfaces.columns
        assert _is_pinned(ner) and not _is_pinned(surfaces)
    finally:
        for df in persisted:
            df.unpersist()


def test_write_table_keeps_session_overwrite_mode(spark, tmp_path):
    """Partitioned writes replace only the partitions they carry without
    switching the session's partitionOverwriteMode: a later write in the
    same session keeps whatever mode the session had."""
    from gliner_spark.operators.sinks import write_table

    key = "spark.sql.sources.partitionOverwriteMode"
    saved = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        df = spark.range(12).select("id", (F.col("id") % 3).alias("side"))
        tgt = str(tmp_path / "t")
        write_table(df, tgt, partition_by=["side"])
        assert spark.conf.get(key) == "static"
        # overwrite with side 0 only: sides 1 and 2 stay
        write_table(df.where("side = 0").withColumn("id", F.col("id") + 100),
                    tgt, partition_by=["side"])
        assert spark.conf.get(key) == "static"
        back = {(r.id, r.side) for r in spark.read.parquet(tgt).collect()}
        assert back == {(i + 100 * (i % 3 == 0), i % 3) for i in range(12)}

        ck = with_part_key(df.select(F.col("id").cast("string")
                                     .alias("doc_id")), "doc_id")
        checkpoint_write(ck, str(tmp_path / "ck"), "stage")
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, saved)


def test_connected_components_warns_when_unconverged(monkeypatch):
    import warnings

    from gliner_spark.operators import canonicalize
    from gliner_spark.session import build_session

    spark = build_session(app_name="gliner-tests", cores=4)
    # past DRIVER_ROWS (here 0) the star iteration runs; a 6-hop chain
    # needs more than one round to reach its fixpoint, so max_iters=1
    # must warn
    monkeypatch.setattr(canonicalize, "DRIVER_ROWS", 0)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src long, dst long"
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        canonicalize.connected_components(chain, max_iters=1)
        assert any("not converged" in str(x.message) for x in w)


def test_checkpoint_partial_resume(spark, tmp_path):
    """Kill-after-stage-k simulation: checkpoint half the partitions,
    then run the full write — only missing partitions are processed."""
    root = str(tmp_path / "ckpt2")
    df = with_part_key(
        spark.range(0, 1000).select(F.col("id").cast("string").alias("doc_id")),
        "doc_id",
        n_buckets=8,
    )
    half = df.where(F.col("part_key").isin("0", "1", "2", "3"))
    checkpoint_write(half, root, "stage1")
    full = checkpoint_write(df, root, "stage1")
    assert full.count() == 1000
    m = stage_metrics(spark, root)
    # 4 manifest rows from the first write + 4 from the second (not 8)
    assert m.count() == 8
    assert set(r.part_key for r in m.collect()) == {str(i) for i in range(8)}


def test_dedup_admit_batch_incremental_store(spark, tmp_path):
    """Incremental dedup against the signature store: a new crawl batch
    dedups against everything ever admitted WITHOUT touching corpus
    text (signatures only), transitively within the batch, and the
    store grows by exactly the keepers. Exact duplicates have identical
    signatures (estimator Ĵ = 1), so verdicts here are deterministic."""
    from pyspark.sql import functions as F

    from gliner_spark.plans.incremental import dedup_admit_batch

    store = str(tmp_path / "sig_store")
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    # four distinct trailing words per doc: k=3 shingles share only the
    # 8 prefix shingles -> J = 0.5 between distinct docs, well under
    # the 0.8 threshold (one differing word would give J = 0.8 exactly)
    mk = lambda i: (i, f"{base} d{i}a d{i}b d{i}c d{i}d")  # noqa: E731
    txt = lambda i: mk(i)[1]  # noqa: E731

    # batch A: 5 distinct docs + one exact dup of doc 1
    a_rows = [mk(i) for i in range(1, 6)] + [(11, txt(1))]
    A = spark.createDataFrame(a_rows, "doc_id long, text string")
    va = {r.doc_id: (r.dup_of, r.keep)
          for r in dedup_admit_batch(A, store).collect()}
    assert va[11] == (1, False)  # exact dup of admitted doc 1
    assert all(va[i] == (None, True) for i in range(1, 6))
    n_store = spark.read.parquet(store).count()
    assert n_store == 5  # keepers only

    # batch B: dup-of-old, new-new dup pair, and a fresh doc
    b_rows = [(20, txt(3)),                # exact dup of OLD doc 3
              mk(21),                      # new, kept
              (22, txt(21)),               # exact dup of NEW doc 21
              mk(23)]                      # fresh
    B = spark.createDataFrame(b_rows, "doc_id long, text string")
    vb = {r.doc_id: (r.dup_of, r.keep)
          for r in dedup_admit_batch(B, store).collect()}
    assert vb[20] == (3, False)   # suppressed by the STORE, not batch
    assert vb[21] == (None, True)
    assert vb[22] == (21, False)  # suppressed within the batch
    assert vb[23] == (None, True)
    stored = {r.doc_id for r in spark.read.parquet(store).collect()}
    assert stored == {1, 2, 3, 4, 5, 21, 23}

    # a third batch re-presenting already-admitted content is fully
    # suppressed — the store is the memory of every prior batch
    C = spark.createDataFrame(
        [(30, txt(21)), (31, txt(23))],
        "doc_id long, text string",
    )
    vc = {r.doc_id: (r.dup_of, r.keep)
          for r in dedup_admit_batch(C, store).collect()}
    assert vc == {30: (21, False), 31: (23, False)}
    assert spark.read.parquet(store).count() == 7  # unchanged

    # RETRY idempotence: re-admitting an already-admitted batch yields
    # the same verdicts (no self-duplicate suppression via the store)
    # and appends nothing (left-anti on stored ids)
    vb2 = {r.doc_id: (r.dup_of, r.keep)
           for r in dedup_admit_batch(B, store).collect()}
    assert vb2 == vb
    assert spark.read.parquet(store).count() == 7


def test_admit_batch_signature_estimator_quality(spark):
    """The admission verifier's Ĵ estimator (|matching positions| /
    n_perms) tracks true Jaccard within the documented margin
    (σ = sqrt(J(1-J)/128) ≈ 0.042 at J = 1/3): measured on a pair
    constructed at J = 1/3 exactly (k=1, |A∩B| = 10, |A∪B| = 30) the
    estimate must land within 3σ, and an exact-duplicate pair at
    Ĵ = 1.0 exactly. (A numpy replication across seeds shows the
    affine-mod-p permutation family centering on the true J — e.g.
    0.30/0.33/0.24/0.38 for J = 1/3 — so the estimator is unbiased
    within banding noise, not just in this seeded instance.)"""
    from pyspark.sql import functions as F

    from gliner_spark.plans.incremental import batch_minhash_signatures

    shared = " ".join(f"s{i}" for i in range(10))
    only_a = " ".join(f"a{i}" for i in range(10))
    only_b = " ".join(f"b{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, f"{shared} {only_a}"), (2, f"{shared} {only_b}"),
         (3, f"{shared} {only_a}")],
        "doc_id long, text string",
    )
    sigs = {r.doc_id: r.sig
            for r in batch_minhash_signatures(docs, k=1).collect()}
    jhat_12 = sum(x == y for x, y in zip(sigs[1], sigs[2])) / 128
    jhat_13 = sum(x == y for x, y in zip(sigs[1], sigs[3])) / 128
    assert jhat_13 == 1.0                 # exact dup: deterministic
    j = 1 / 3
    assert abs(jhat_12 - j) <= 3 * (j * (1 - j) / 128) ** 0.5  # 3σ


def _admit_batches():
    """Three crawl batches with every admission case: exact and near
    copies of stored docs (new-vs-old), copies inside a batch
    (new-vs-new), a new-vs-new component whose minimum is itself
    suppressed by the store (106 ≈ stored 5, 107 ≈ 106 but ≉ 5), and
    NULL/empty texts."""
    def doc(tag):
        return " ".join(f"{tag}{j}" for j in range(40))

    def near(tag):  # one word edited: J = 35/41
        w = doc(tag).split()
        w[20] = "edited"
        return " ".join(w)

    chain_a = " ".join(f"c{j}" for j in range(20))
    chain_b = chain_a + " x1 x2 x3"          # J(a, b) = 18/21
    chain_c = " ".join(chain_b.split()[3:])  # J(b, c) = 18/21, J(a, c) = 15/21
    return [
        [(1, doc("a")), (2, doc("b")), (3, doc("c")), (4, doc("d")),
         (5, chain_a), (6, doc("e")), (7, doc("b")), (8, near("c"))],
        [(101, doc("a")), (102, near("d")), (103, doc("f")),
         (104, doc("g")), (105, doc("f")), (106, chain_b), (107, chain_c),
         (108, None), (109, "")],
        [(201, doc("g")), (202, doc("b")), (203, doc("h")),
         (204, doc("h")), (205, chain_c), (206, near("h"))],
    ]


# verdicts (doc_id -> dup_of; keep = dup_of is None) of the three
# batches, as the two-pipeline admission before the single band
# self-join produced them
_ADMIT_VERDICTS = [
    {1: None, 2: None, 3: None, 4: None, 5: None, 6: None, 7: 2, 8: 3},
    {101: 1, 102: 4, 103: None, 104: None, 105: 103, 106: 5, 107: 5,
     108: None, 109: 108},
    {201: 104, 202: 2, 203: None, 204: 203, 205: None, 206: 203},
]


@contextmanager
def _admission_spies():
    """Counts ``_verified_pairs`` calls (the distributed path) and
    records the columns and the row count of every DataFrame an
    admission brings to the driver through ``toArrow`` or
    ``collect``."""
    from pyspark.sql.classic.dataframe import DataFrame

    from gliner_spark.plans import incremental

    seen = {"distributed": 0, "driver_columns": [], "driver_rows": []}
    verified_pairs = incremental._verified_pairs

    def spy_pairs(*a, **kw):
        seen["distributed"] += 1
        return verified_pairs(*a, **kw)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(incremental, "_verified_pairs", spy_pairs)
        for name in ("toArrow", "collect"):
            method = getattr(DataFrame, name)

            def spy(self, _method=method):
                out = _method(self)
                seen["driver_columns"].append(self.columns)
                seen["driver_rows"].append(len(out))
                return out

            mp.setattr(DataFrame, name, spy)
        yield seen


@pytest.mark.parametrize("driver_rows", [1_000_000, 0])
def test_admit_three_batches_pinned_verdicts_and_store(spark, tmp_path,
                                                       monkeypatch,
                                                       driver_rows):
    """Admission gives three batches the pinned verdicts on the driver
    pass and on the distributed one (DRIVER_ROWS=0, which also sends
    the verdict's components through the star iteration), chosen by
    the one ``DRIVER_ROWS`` bound; re-admitting the last batch
    changes neither its verdicts nor the store, and the store holds
    each keeper's own signature. Both paths collect store ∪ batch
    signatures once per batch, through ``limit(DRIVER_ROWS + 1)``: the
    driver pass all of them, leaving no pinned RDD behind; past the
    bound at most ``DRIVER_ROWS + 1`` reach the driver."""
    from gliner_spark.operators import canonicalize
    from gliner_spark.plans import incremental
    from gliner_spark.plans.incremental import (
        batch_minhash_signatures,
        dedup_admit_batch,
    )

    monkeypatch.setattr(incremental, "DRIVER_ROWS", driver_rows)
    monkeypatch.setattr(canonicalize, "DRIVER_ROWS", driver_rows)
    store = str(tmp_path / "sig_store")
    batches = _admit_batches()
    texts = {}
    jsc = spark.sparkContext._jsc
    for rows, want in zip(batches + batches[-1:],
                          _ADMIT_VERDICTS + _ADMIT_VERDICTS[-1:]):
        texts.update(rows)
        df = spark.createDataFrame(rows, "doc_id long, text string")
        # ids, not a count: the context cleaner may release an earlier
        # test's garbage-collected pin while the batch is admitted
        pinned = set(jsc.getPersistentRDDs())
        with _admission_spies() as seen:
            verdicts = dedup_admit_batch(df, store, threshold=0.78)
        sig_collects = [(c, n) for c, n in zip(seen["driver_columns"],
                                               seen["driver_rows"])
                        if "sig" in c]
        assert [c for c, _ in sig_collects] == [["doc_id", "sig", "new"]]
        if driver_rows:
            assert seen["distributed"] == 0
            assert set(jsc.getPersistentRDDs()) <= pinned
        else:
            assert seen["distributed"] == 1
            assert [n for _, n in sig_collects] == [driver_rows + 1]
        got = {r.doc_id: (r.dup_of, r.keep) for r in verdicts.collect()}
        assert got == {d: (o, o is None) for d, o in want.items()}
    keepers = sorted(d for v in _ADMIT_VERDICTS for d, o in v.items()
                     if o is None)
    stored = {r.doc_id: list(r.sig)
              for r in spark.read.parquet(store).collect()}
    assert sorted(stored) == keepers  # no duplicate rows after the retry
    kept = spark.createDataFrame([(d, texts[d]) for d in keepers],
                                 "doc_id long, text string")
    assert stored == {r.doc_id: list(r.sig) for r in
                      batch_minhash_signatures(kept).collect()}


def test_admit_driver_pass_appends_one_file_per_batch(spark, tmp_path):
    """Below ``DRIVER_ROWS`` the keepers and the verdicts are local
    tables of one partition each (``local_table`` splits by size, not
    by core count): every batch appends exactly one parquet file to the
    store and returns a one-partition verdict table, with the pinned
    verdicts."""
    from gliner_spark.plans.incremental import dedup_admit_batch

    store = tmp_path / "sig_store"
    for k, (rows, want) in enumerate(zip(_admit_batches()[:2],
                                         _ADMIT_VERDICTS)):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        with _admission_spies() as seen:
            verdicts = dedup_admit_batch(df, str(store), threshold=0.78)
        assert seen["distributed"] == 0
        assert len(list(store.glob("*.parquet"))) == k + 1
        assert verdicts.rdd.getNumPartitions() == 1
        got = {r.doc_id: (r.dup_of, r.keep) for r in verdicts.collect()}
        assert got == {d: (o, o is None) for d, o in want.items()}


def test_admit_local_runs_one_spark_job(spark, tmp_path):
    """The driver pass brings store ∪ batch signatures to the driver in
    one Spark job: a bounded collect, with no separate size probe."""
    from gliner_spark.operators.util import read_parquet_or_empty, unpin
    from gliner_spark.plans.incremental import (
        STORE_DDL,
        _admit_local,
        batch_minhash_signatures,
        dedup_admit_batch,
    )

    store = str(tmp_path / "sig_store")
    first, second = _admit_batches()[:2]
    dedup_admit_batch(
        spark.createDataFrame(first, "doc_id long, text string"), store)
    sig_new = batch_minhash_signatures(spark.createDataFrame(
        second, "doc_id long, text string")).localCheckpoint()
    sig_old = read_parquet_or_empty(spark, store, STORE_DDL)
    sc, group = spark.sparkContext, "test_admit_local_runs_one_spark_job"
    sc.setJobGroup(group, "_admit_local")
    try:
        local = _admit_local(sig_new, sig_old, 32, 128, 0.78, 2000)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
        unpin(sig_new)
    assert local is not None
    assert n_jobs == 1


def test_admit_candidate_pair_bound_falls_back(spark, tmp_path,
                                               monkeypatch):
    """Store ∪ batch within ``DRIVER_ROWS`` rows but past it in
    candidate pairs: the driver pass collects the signatures, gives up
    before holding the pairs, and the distributed path admits the
    batch with the verdicts and store rows of the driver pass."""
    from gliner_spark.plans import incremental
    from gliner_spark.plans.incremental import dedup_admit_batch

    doc = " ".join(f"w{j}" for j in range(40))
    first = [(1, doc), (2, "a b c d e f g h")]
    # 6 batch copies of stored doc 1: 6 new-vs-old and 15 new-vs-new
    # candidate pairs over 2 + 7 rows of store ∪ batch
    second = [(10 + i, doc) for i in range(6)] + [(20, "p q r s t u v")]
    results = []
    for bound in (1_000_000, 9):
        store = str(tmp_path / f"store-{bound}")
        monkeypatch.setattr(incremental, "DRIVER_ROWS", bound)
        dedup_admit_batch(
            spark.createDataFrame(first, "doc_id long, text string"), store)
        with _admission_spies() as seen:
            verdicts = dedup_admit_batch(
                spark.createDataFrame(second, "doc_id long, text string"),
                store)
        got = {r.doc_id: r.dup_of for r in verdicts.collect()}
        assert seen["distributed"] == (bound == 9)
        assert [c for c in seen["driver_columns"] if "sig" in c] == [
            ["doc_id", "sig", "new"]]
        results.append((got, sorted(
            (r.doc_id, list(r.sig))
            for r in spark.read.parquet(store).collect())))
    assert results[0] == results[1]
    assert results[0][0] == {**{10 + i: 1 for i in range(6)}, 20: None}


@pytest.mark.parametrize("driver_rows", [1_000_000, 0])
def test_admit_null_id_same_on_both_paths(spark, tmp_path, monkeypatch,
                                          driver_rows):
    """A batch doc with a NULL id pairs with nothing and is kept, on the
    driver pass (which hands such a batch to the distributed plan) as
    on the distributed one."""
    from gliner_spark.operators import canonicalize
    from gliner_spark.plans import incremental
    from gliner_spark.plans.incremental import dedup_admit_batch

    monkeypatch.setattr(incremental, "DRIVER_ROWS", driver_rows)
    monkeypatch.setattr(canonicalize, "DRIVER_ROWS", driver_rows)
    doc = " ".join(f"w{j}" for j in range(40))
    got = sorted(
        (r.doc_id is None, r.doc_id, r.dup_of, r.keep)
        for r in dedup_admit_batch(
            spark.createDataFrame([(1, doc), (None, doc), (2, doc)],
                                  "doc_id long, text string"),
            str(tmp_path / "store")).collect())
    assert got == [(False, 1, None, True), (False, 2, 1, False),
                   (True, None, None, True)]


def test_admit_unreadable_store_raises_and_keeps_store(spark, tmp_path):
    """A store that exists but cannot be read must fail the admission,
    not read as empty (which would re-admit every duplicate), and the
    failed admission must leave the store files as they were."""
    import os

    from gliner_spark.plans.incremental import dedup_admit_batch

    store = str(tmp_path / "sig_store")
    first, second = _admit_batches()[:2]
    dedup_admit_batch(
        spark.createDataFrame(first, "doc_id long, text string"), store)
    f = sorted(n for n in os.listdir(store) if n.endswith(".parquet"))[0]
    with open(os.path.join(store, f), "r+b") as fh:
        fh.truncate(os.path.getsize(os.path.join(store, f)) // 2)

    def snapshot():
        return {n: open(os.path.join(store, n), "rb").read()
                for n in sorted(os.listdir(store))}

    before = snapshot()
    with pytest.raises(Exception):
        dedup_admit_batch(
            spark.createDataFrame(second, "doc_id long, text string"),
            store).collect()
    assert snapshot() == before


def test_admit_dup_of_always_points_at_a_keeper(spark, tmp_path):
    """Docstring contract: ``dup_of`` resolves to a keeper in ONE hop.
    The hard case (r5 ADVICE): a new-vs-new component whose minimum doc
    is itself suppressed by the STORE — the other members must point at
    the min's admitting store doc, not at the (non-kept) min. Chain:
    admitted A ≈ B, B ≈ C, but A ≉ C (near-dup, not exact — an exact
    triple would give C a direct store match and mask the bug)."""
    from gliner_spark.plans.incremental import dedup_admit_batch

    store = str(tmp_path / "sig_store")
    base = ("w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 "
            "w16 w17 w18 w19 w20")
    A = base                                # 20 words, 18 k=3 shingles
    B = base + " x1 x2 x3"                  # J(A,B) = 18/21 ≈ 0.857
    C = " ".join(B.split()[3:])             # J(B,C) = 18/21; J(A,C) = 15/21

    va = {r.doc_id: (r.dup_of, r.keep) for r in dedup_admit_batch(
        spark.createDataFrame([(1, A)], "doc_id long, text string"),
        store, threshold=0.78).collect()}
    assert va == {1: (None, True)}

    vb = {r.doc_id: (r.dup_of, r.keep) for r in dedup_admit_batch(
        spark.createDataFrame([(10, B), (11, C)],
                              "doc_id long, text string"),
        store, threshold=0.78).collect()}
    assert vb[10] == (1, False)   # store-suppressed component min
    assert vb[11] == (1, False)   # resolved THROUGH 10 to the keeper 1
    stored = {r.doc_id for r in spark.read.parquet(store).collect()}
    assert stored == {1}


def test_read_manifest_heals_file_scheme_roots(spark, tmp_path):
    """A crash between compact_manifest's two renames must heal for
    file:// roots exactly as for plain paths — before the r5 ADVICE fix
    read_manifest skipped recovery for any '://' root, saw no manifest
    dir, and silently returned an EMPTY manifest (full recompute
    instead of resume)."""
    import os
    import shutil

    from gliner_spark.operators.checkpoint import (
        checkpoint_write,
        compact_manifest,
        completed_partitions,
        with_part_key,
    )

    root = str(tmp_path / "root")
    furi = "file://" + root
    docs = spark.range(40).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("payload")
    )
    checkpoint_write(with_part_key(docs, "doc_id", n_buckets=4), root, "s")
    compact_manifest(spark, furi)

    # crash BETWEEN the renames: manifest gone, committed tmp behind
    path = os.path.join(root, "_checkpoints")
    shutil.copytree(path, path + ".compact")
    os.rename(path, path + ".old")
    assert completed_partitions(spark, furi, "s").count() == 4  # healed
    assert os.path.isdir(path)
    assert not os.path.isdir(path + ".old")


def test_publish_atomic_skips_invalid_markers(spark, tmp_path):
    """The create-only ``_markers/`` protocol: the latest complete
    version is readable, retention prunes versions and their markers
    together, and the reader skips invalid markers (an empty file; a
    marker whose version was pruned) instead of failing."""
    import os

    from gliner_spark.operators.sinks import (
        publish_atomic,
        published_snapshot,
        read_published,
    )

    root = str(tmp_path / "pub")
    for i in range(3):
        df = spark.range(i * 10, i * 10 + 10).select(F.col("id").alias("v"))
        publish_atomic(df, root, keep_versions=2)
    want = list(range(20, 30))
    assert sorted(r.v for r in read_published(spark, root).collect()) == want
    vdirs = [d for d in os.listdir(root) if d.startswith("v=")]
    # Hadoop's LocalFileSystem leaves .crc sidecars; the reader (and
    # this assertion) consider only m-* names
    marks = [m for m in os.listdir(os.path.join(root, "_markers"))
             if m.startswith("m-")]
    assert len(vdirs) == 2 and sorted(marks) == ["m-00000001", "m-00000002"]
    # an empty (crashed-mid-create) marker that sorts HIGHEST is
    # skipped, not fatal
    open(os.path.join(root, "_markers", "m-99999999"), "w").close()
    assert sorted(r.v for r in read_published(spark, root).collect()) == want
    # a stale marker pointing at a pruned version is skipped too
    with open(os.path.join(root, "_markers", "m-99999998"), "w") as f:
        f.write("v=00000000")
    assert sorted(r.v for r in read_published(spark, root).collect()) == want
    with published_snapshot(spark, root) as df:
        assert df.count() == 10


@contextmanager
def _viewfs_default(spark, tmp_path):
    """``fs.defaultFS`` set to a ``viewfs://`` mount table whose one
    link, ``/vdata``, points at ``tmp_path``: plain paths under
    ``/vdata`` then resolve on a non-local default filesystem, as they
    do on a cluster with an HDFS default, without a cluster."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    link = "fs.viewfs.mounttable.gstest.link./vdata"
    prev = conf.get("fs.defaultFS")
    conf.set(link, f"file://{tmp_path}")
    conf.set("fs.defaultFS", "viewfs://gstest/")
    try:
        yield "/vdata"
    finally:
        conf.set("fs.defaultFS", prev)
        conf.unset(link)


def test_plain_paths_resolve_against_default_fs(spark, tmp_path):
    """With a non-local default filesystem, a plain path names a path
    on it, for Spark and for the marker and existence ops alike: a
    store Spark wrote reads back whole (not as an empty store judged
    against nothing), and a publish puts its markers next to its
    data."""
    import os

    from gliner_spark.operators.sinks import publish_atomic, read_published
    from gliner_spark.operators.util import read_parquet_or_empty

    with _viewfs_default(spark, tmp_path) as v:
        spark.range(7).write.parquet(f"{v}/store")
        assert read_parquet_or_empty(
            spark, f"{v}/store", "id long").count() == 7
        vdir = publish_atomic(spark.range(5), f"{v}/pub")
        assert read_published(spark, f"{v}/pub").count() == 5
    assert vdir == "/vdata/pub/v=00000000"
    pub = tmp_path / "pub"
    assert (pub / "v=00000000" / "_SUCCESS").is_file()
    assert "m-00000000" in os.listdir(pub / "_markers")
    assert not os.path.exists("/vdata")  # nothing on the driver's disk


def _shingles(s, k=3):
    return {s[i:i + k] for i in range(max(len(s) - (k - 1), 1))}


def _jaccard(a, b):
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


# transitive chain: each neighbour pair is linked (J ≥ 0.3), the ends
# are not — only the components step joins them
_CHAIN = ["kyivstar", "kyivstat", "kyivsxat", "kyiwsxat"]
# J = 3/10 exactly: 6 and 7 shingles, 3 shared
_J30 = ("abcdefgh", "abcdexyzw")


def _tail_surfaces(case, rng):
    """(label, surface) rows of one parity case; the random vocabulary
    mutates a few stems so that some surfaces link and some do not."""
    if case == "chain":
        return [("city", s) for s in _CHAIN] + [("country", "ukraine")]
    if case == "shared_surface":
        return [("city", "paris"), ("person", "paris"),
                ("person", "parish"), ("country", "france")]
    if case == "j_exactly_0.3":
        return [("person", _J30[0]), ("person", _J30[1]),
                ("city", "lviv")]
    if case == "oversized_bucket":
        # 2,001 surfaces with the one shingle set {"aaa"}: every band
        # bucket holds all of them, over max_bucket, so none link
        return [("car", "a" * n) for n in range(3, 2004)] + [
            ("person", "musk"), ("person", "musky")]
    stems = ["".join(rng.choice(list("abcdeklmno"), size=int(n)))
             for n in rng.integers(3, 12, size=12)]
    out = set()
    for stem in stems:
        lab = str(rng.choice(["person", "city", "country", "car"]))
        for _ in range(int(rng.integers(1, 5))):
            s = list(stem)
            for _ in range(int(rng.integers(0, 3))):
                s[int(rng.integers(0, len(s)))] = str(rng.choice(list("xyz")))
            out.add((lab, "".join(s)))
    return sorted(out)


def _tail_mentions(case, seed):
    """Mention rows whose surfaces are the case's vocabulary: each
    surface is mentioned 2-4 times, in ten-byte steps inside 20-mention
    documents, so the relation rules emit triples between them."""
    import numpy as np

    rng = np.random.default_rng(seed)
    surfaces = _tail_surfaces(case, rng)
    seq = [s for s in surfaces for _ in range(int(rng.integers(2, 5)))]
    rng.shuffle(seq)
    return [(f"d{i // 20}", 10 * (i % 20), 10 * (i % 20) + len(text), text,
             lab, round(float(rng.uniform(0.5, 1.0)), 4))
            for i, (lab, text) in enumerate(seq)]


@pytest.mark.parametrize("case,seed", [
    ("random", 1), ("random", 2), ("random", 3), ("random", 4),
    ("chain", 0), ("shared_surface", 0), ("j_exactly_0.3", 0),
    ("oversized_bucket", 0),
])
def test_build_kg_driver_tail_equals_distributed(spark, monkeypatch, case,
                                                 seed):
    """build_kg's nodes and edges (schema and rows) are the same whether
    its linking tail runs as one driver pass (default bound) or
    distributed (bound 0): on random vocabularies, across a transitive
    chain, a surface shared by two labels, a pair at exactly J = 3/10
    and a band bucket over max_bucket."""
    from gliner_spark.plans import kg as kg_mod

    spans: dict = {}
    for doc_id, *span in _tail_mentions(case, seed):
        spans.setdefault(doc_id, []).append(span)

    def ner_stage(pages, labels, id_col, text_col, config, factory, emit,
                  schema):
        # the case's spans through build_kg's own emitter, in one batch
        return spark.createDataFrame(
            emit(list(spans), list(spans.values())), schema)

    monkeypatch.setattr(kg_mod, "_ner_stage", ner_stage)
    got = {}
    for bound in (kg_mod.DRIVER_ROWS, 0):
        monkeypatch.setattr(kg_mod, "DRIVER_ROWS", bound)
        kg = kg_mod.build_kg(None, ALL_LABELS)
        local = "LocalTableScan" in kg.nodes._jdf.queryExecution() \
            .executedPlan().toString()
        assert local == (bound > 0)  # each bound ran its own tail
        got[bound] = (kg.nodes.schema.simpleString(),
                      kg.edges.schema.simpleString(),
                      sorted(map(tuple, kg.nodes.collect())),
                      sorted(map(tuple, kg.edges.collect())))
        spark.catalog.clearCache()  # build_kg's NER pin
    (*schemas, nodes, edges), (*schemas0, nodes0, edges0) = got.values()
    assert schemas == schemas0  # one nodes schema: NODES_DDL
    assert nodes == nodes0 and edges == edges0
    assert edges
    by_id = {n[0]: n for n in nodes}
    if case == "chain":
        assert _jaccard(_CHAIN[0], _CHAIN[-1]) < 0.3 <= min(
            _jaccard(a, b) for a, b in zip(_CHAIN, _CHAIN[1:]))
        assert by_id["city:kyivstar"][4] == len(_CHAIN)
    elif case == "shared_surface":
        assert {"city:paris", "person:paris"} <= set(by_id)
    elif case == "j_exactly_0.3":
        assert _jaccard(*_J30) == 0.3
        assert by_id[f"person:{_J30[0]}"][4] == 2
    elif case == "oversized_bucket":
        assert sum(n[2] == "car" for n in nodes) == 2001
    elif case == "random":
        assert any(n[4] > 1 for n in nodes)  # some surfaces linked
