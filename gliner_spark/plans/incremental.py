"""Incremental KG maintenance: fold a new crawl batch into existing
node/edge tables without reprocessing old pages.

The update decomposes cleanly because of how the pipeline is shaped
(plans/kg.py):

- mentions and triples are PER-DOCUMENT (the NER stage is row-local and
  relations are intra-document) → strictly append-only. Only the new
  batch is scored; the checkpoint manifests already make the append
  idempotent and resumable.
- nodes/edges derive from the DISTINCT-SURFACE universe, which is
  vocabulary-bounded, not corpus-bounded (SURVEY.md §2.3) → re-running
  linking + connected components over the merged surface table is cheap
  relative to scoring even at 100 TB, and is the only correct choice:
  a new surface can bridge two previously separate components, so
  components cannot be maintained per-batch without a full re-closure.

Equivalence contract (pytest): incremental(A) then merge(B) produces
node/edge tables identical to building over A ∪ B from scratch.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..operators.bands import band_pairs, band_pairs_local, minhash_bands
from ..operators.canonicalize import connected_components, union_find
from ..operators.checkpoint import checkpoint_write, with_part_key
from ..operators.linking import entity_surfaces
from ..operators.ner import extract_mentions
from ..operators.relations import extract_relations
from ..operators.util import DRIVER_ROWS, local_table, unpin
from .kg import KgResult, _nodes_and_edges


def _batch_fingerprint(
    new_pages: DataFrame, id_col: str, text_col: str
) -> str:
    """Deterministic, order-independent id of a batch's CONTENT:
    bit-xor of xxhash64(id, text) + row count. One cheap
    projection-only pass (trivial next to scoring); a replay of the
    same batch maps to the same fingerprint, different batches to
    different ones (2^-64 collision odds). Hashing (id, text) — not
    ids alone — means a recrawl that re-submits the same urls with
    UPDATED text gets a FRESH fingerprint, so its rescored mentions
    are not left-anti'd away by the earlier batch's DONE manifest."""
    row = new_pages.select(
        F.expr(f"bit_xor(xxhash64(`{id_col}`, `{text_col}`))").alias("x"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    return f"{(row.x or 0) & 0xFFFFFFFFFFFFFFFF:016x}-{row.n}"


def _prefix_keys(df: DataFrame, fp: str) -> DataFrame:
    return df.withColumn(
        "part_key", F.concat(F.lit(f"{fp}-"), F.col("part_key"))
    )


def merge_kg_batch(
    new_pages: DataFrame,
    labels: Sequence[str],
    checkpoint_root: str,
    cfg: PipelineConfig = PipelineConfig(),
    id_col: str = "url",
    text_col: str = "text",
    batch_id: str | int | None = None,
) -> KgResult:
    """Score ONLY ``new_pages``, append their mentions/triples under
    ``checkpoint_root`` (manifest-idempotent: re-runs skip DONE
    partitions), then rebuild nodes/edges from the merged mention
    corpus. Returns the merged KG tables.

    Mention partitions are BATCH-SCOPED: part_key =
    ``{batch}-{hash bucket}``. With a shared bucket space, a later
    batch whose doc ids hash into buckets an earlier batch already
    marked DONE would be silently left-anti'd away — batches routinely
    share hash buckets, so the manifest key must carry batch identity.
    ``batch_id`` (e.g. Structured Streaming's foreachBatch epoch id,
    stable across replays) is used when given; otherwise a
    content-derived fingerprint of the batch's ids stands in — both
    make a replay of the same batch a no-op while distinct batches
    never collide.

    Nodes and edges come from the linking tail ``build_kg`` runs
    (``kg._nodes_and_edges``: the driver pass below
    ``util.DRIVER_ROWS``, the distributed LSH plan past it), so
    incremental merging is bit-equivalent to a from-scratch build
    (pytest-pinned)."""
    spark = new_pages.sparkSession

    fp = (
        str(batch_id)
        if batch_id is not None
        else _batch_fingerprint(new_pages, id_col, text_col)
    )
    new_mentions = extract_mentions(
        new_pages, labels, id_col=id_col, text_col=text_col,
        config=cfg.gliner,
    )
    # append-only stages: the manifest left-anti skips anything already
    # processed, so calling merge twice with the same batch is a no-op.
    # expected_part_keys = the batch's full part-key universe (derived
    # from the INPUT ids, not the mention output): partitions whose docs
    # yield zero mentions are invisible in new_mentions and would be
    # re-scored on every subsequent merge unless recorded DONE/0 here.
    # The id is cast to STRING before hashing because extract_mentions
    # emits doc_id as string (ner.py) — xxhash64(long) != xxhash64(string
    # of the same value), so hashing the raw column would record DONE/0
    # under phantom keys while real zero-mention buckets stay unrecorded.
    batch_keys = _prefix_keys(
        with_part_key(
            new_pages.select(
                F.col(id_col).cast("string").alias("doc_id")
            ),
            "doc_id",
        ),
        fp,
    ).select("part_key")
    checkpoint_write(
        _prefix_keys(with_part_key(new_mentions, "doc_id"), fp),
        checkpoint_root, "mentions",
        lineage={"labels": list(labels), "batch": fp},
        expected_part_keys=batch_keys,
    )
    mentions = spark.read.parquet(f"{checkpoint_root}/mentions")

    triples = extract_relations(
        mentions.repartition("doc_id"),
        window_bytes=cfg.relation_window * 4,
    )

    # global closure over the merged (vocabulary-bounded) surface set:
    # new surfaces may bridge previously separate components
    nodes, edges = _nodes_and_edges(entity_surfaces(mentions), triples, cfg)
    return KgResult(mentions, triples, nodes, edges)


def batch_minhash_signatures(
    docs: DataFrame,
    k: int = 3,
    n_perms: int = 128,
    seed: int = 11,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, sig array<long>): the fixed-width MinHash signature of
    each document — the only state ``dedup_admit_batch`` ever persists
    per admitted doc. Band keys are DERIVED from the signature (its
    exact slices, ``bands.minhash_bands``), so the store needs no
    shingles, no text, no band columns.

    One row-local ``mapInArrow`` stage (``dedup.word_minhash_signatures``):
    word k-gram spans, their XXH64 and the 128-permutation min all run
    in numpy per Arrow batch — no explode, no aggregation shuffle, and
    none of the interpreted per-row ``transform`` lambdas the JVM
    shingle chain needs. Value-identical to ``minhash_signature_map``
    over ``hash_shingles(word_shingles(...))``, the reference kept in
    tests (equality pinned)."""
    from ..operators.dedup import word_minhash_signatures
    from ..operators.util import ensure_parallelism

    return word_minhash_signatures(ensure_parallelism(docs), k, n_perms,
                                   seed, id_col, text_col)


STORE_DDL = "doc_id long, sig array<bigint>"


def _tagged(sig_new: DataFrame, sig_old: DataFrame) -> DataFrame:
    """(doc_id, sig, new): batch ∪ store signatures, tagged new/old."""
    return sig_new.withColumn("new", F.lit(True)).unionByName(
        sig_old.withColumn("new", F.lit(False))
    )


def _verified_pairs(
    sig_new: DataFrame,
    sig_old: DataFrame,
    bands: int,
    n_perms: int,
    threshold: float,
    max_bucket: int,
) -> DataFrame:
    """(src, dst, dst_new): steps 2-3 of ``dedup_admit_batch`` — the
    batch docs ``src`` whose signature Ĵ-matches a stored doc or a
    larger batch doc ``dst`` (``dst_new`` tags which), from ONE guarded
    band self-join (``bands.band_pairs``) over the tagged store ∪ batch
    band keys and one verify. New-vs-old rows are reduced to each
    ``src``'s smallest match."""
    tagged = _tagged(sig_new, sig_old)
    banded, keys = minhash_bands(n_perms, bands)
    # a.doc_id != b.doc_id keeps a RETRIED batch sane: a doc already
    # admitted under its own id must not read as "duplicate of itself"
    cand = band_pairs(
        tagged.select("doc_id", "new", banded), keys, max_bucket,
        F.col("a.new")
        & (F.col("a.doc_id") != F.col("b.doc_id"))
        & (~F.col("b.new") | (F.col("a.doc_id") < F.col("b.doc_id"))),
    ).select(
        F.col("a.doc_id").alias("src"),
        F.col("b.doc_id").alias("dst"),
        F.col("b.new").alias("dst_new"),
    )
    # the dst side's signature is looked up by (id, tag): on a retry
    # the same id can be both a batch doc and a stored one
    sig_src = sig_new.select(F.col("doc_id").alias("src"),
                             F.col("sig").alias("sig_src"))
    sig_dst = tagged.select(F.col("doc_id").alias("dst"),
                            F.col("new").alias("dst_new"),
                            F.col("sig").alias("sig_dst"))
    jhat = F.round(
        F.size(F.filter(F.zip_with("sig_src", "sig_dst",
                                   lambda x, y: x == y),
                        lambda m: m))
        / F.lit(float(n_perms)), 6,
    )
    # a pair sharing several bands is verified once per shared band;
    # the aggregation after the verify collapses the repeats (cheaper
    # than a dedup shuffle before it) and already reduces new-vs-old
    # to each doc's smallest admitted match. One row per store-
    # suppressed doc plus one per new-vs-new duplicate pair: output-
    # sized, so it normally goes to the driver whole.
    return (
        cand.join(sig_src, "src").join(sig_dst, ["dst", "dst_new"])
        .where(jhat >= threshold)
        .groupBy("src", "dst_new",
                 F.when(F.col("dst_new"), F.col("dst")).alias("_d"))
        .agg(F.min("dst").alias("dst"))
        .select("src", "dst", "dst_new")
    )


VERDICT_DDL = "doc_id long, dup_of long, keep boolean"
# candidate pairs per vectorized Ĵ block: 16k pairs × 2 × 128 × 8 B
# of gathered signatures, 32 MiB
_VERIFY_BLOCK = 1 << 14


def _suppressors(vs_new, vs_old) -> dict:
    """doc → the doc that suppresses it at first sight (step 4): its
    smallest admitted match (``vs_old`` holds one (doc, match) pair per
    doc), else the minimum of its new-vs-new duplicate component
    (``vs_new``, a list of pairs) when that is another doc."""
    first = {n: c for n, c in union_find(vs_new).items() if c != n}
    first.update(vs_old)
    return first


def _admit_local(sig_new: DataFrame, sig_old: DataFrame, bands: int,
                 n_perms: int, threshold: float, max_bucket: int):
    """(verdicts, keepers) of steps 2-4 of ``dedup_admit_batch`` as
    local tables, computed in one driver pass — or None when store ∪
    batch holds more than ``DRIVER_ROWS`` rows or more than
    ``DRIVER_ROWS`` candidate pairs.

    The tagged (doc_id, new, sig) rows come to the driver in ONE
    bounded Arrow collect (``limit(DRIVER_ROWS + 1)``, one Spark job):
    up to ``DRIVER_ROWS`` signatures of n_perms × 8 B, ~1 GiB at the
    bound for 128 permutations. Past the bound at most
    ``DRIVER_ROWS + 1`` of them reach the driver, as in the other two
    driver paths (``kg._linking_tail_local``,
    ``connected_components``). The steps of ``_verified_pairs`` run on
    their values: ``bands.band_pairs_local`` over the exact signature
    slices with the same guard (a bucket counts store and batch rows),
    the same pair predicate, Ĵ with Spark's ``round(…, 6)``, each doc's
    smallest new-vs-old match and ``_suppressors``. The candidate
    pairs are bounded before they are built. ``keepers`` holds the
    kept docs' (doc_id, sig) not already stored."""
    import pyarrow.compute as pc

    from ..operators.linking import _spark_round

    tbl = _tagged(sig_new, sig_old).limit(DRIVER_ROWS + 1).toArrow()
    sigs = tbl.column("sig").combine_chunks()
    # rows with a NULL id or a signature of another width are left to
    # the distributed plan and its NULL semantics
    if (tbl.num_rows > DRIVER_ROWS or tbl.column("doc_id").null_count
            or (pc.list_value_length(sigs).fill_null(0).to_numpy()
                != n_perms).any()):
        return None
    ids = tbl.column("doc_id").to_numpy()
    new = tbl.column("new").to_numpy()
    sig = pc.list_flatten(sigs).to_numpy().reshape(-1, n_perms)

    # stored rows first, then batch rows by id: in a bucket each batch
    # row j pairs with the rows before it — every stored row and every
    # smaller batch id, the predicate's two kinds of b (or of a)
    o = np.lexsort((ids, new))
    assert n_perms % bands == 0
    rows = n_perms // bands
    pairs = band_pairs_local(
        (sig[o, b * rows:(b + 1) * rows] for b in range(bands)),
        max_bucket, DRIVER_ROWS, right=new[o],
    )
    if pairs is None:
        return None
    i, j = o[pairs[0]], o[pairs[1]]
    src = np.where(new[i], i, j)
    dst = np.where(new[i], j, i)
    # a RETRIED doc, stored and new under one id, is no duplicate of
    # itself
    keep = ids[src] != ids[dst]
    src, dst = src[keep], dst[keep]
    matches = np.empty(len(src), np.int64)
    for c in range(0, len(src), _VERIFY_BLOCK):
        blk = slice(c, c + _VERIFY_BLOCK)
        matches[blk] = (sig[src[blk]] == sig[dst[blk]]).sum(axis=1)
    passes = np.array([_spark_round(m / n_perms, 6) >= threshold
                       for m in range(n_perms + 1)])
    src, dst = src[passes[matches]], dst[passes[matches]]
    old = ~new[dst]
    a, b = ids[src[old]], ids[dst[old]]
    # each doc's smallest admitted match: the first of its sorted pairs
    srt = np.lexsort((b, a))
    a, at = np.unique(a[srt], return_index=True)
    first = _suppressors(
        list(zip(ids[src[~old]].tolist(), ids[dst[~old]].tolist())),
        zip(a.tolist(), b[srt][at].tolist()),
    )

    # the one-hop rewrite to a keeper, as the distributed verdict's
    # second lookup
    batch = np.flatnonzero(new)
    dup_of = [first.get(d, d) if d is not None else None
              for d in map(first.get, ids[batch].tolist())]
    kept = np.array([d is None for d in dup_of], bool)
    kept &= ~np.isin(ids[batch], ids[~new])
    spark = sig_new.sparkSession
    return (
        local_table(spark, [(x, d, d is None) for x, d in
                            zip(ids[batch].tolist(), dup_of)], VERDICT_DDL),
        local_table(spark, tbl.take(batch[kept]), STORE_DDL),
    )


def dedup_admit_batch(
    new_docs: DataFrame,
    store_dir: str,
    k: int = 3,
    n_perms: int = 128,
    bands: int = 32,
    threshold: float = 0.8,
    max_bucket: int = 2000,
    seed: int = 11,
    id_col: str = "doc_id",
    text_col: str = "text",
    sig: DataFrame | None = None,
) -> DataFrame:
    """Admit a new crawl batch against an append-only MinHash signature
    store — the incremental form of ``minhash_dups`` + keeper choice.

    ``sig`` optionally supplies the batch's precomputed signatures
    (``batch_minhash_signatures`` with the same k/n_perms/seed over
    exactly ``new_docs``) — the caller-side optimization for admitting
    several batches drawn from ONE source scan: signature the source
    once, slice per batch, and each admission skips its own
    shingle→MinHash pass (guide §2.4; the store protocol — batch N
    sees batch N−1's appended keepers — is unchanged). Signatures are
    per-document, so a slice of the full-corpus signature table is
    value-identical to signaturing the slice.

    At 10^12 admitted documents a new batch must not re-read, let alone
    re-shingle, the corpus. The store persists ONE fixed-width
    signature row per admitted doc (``batch_minhash_signatures``);
    admitting a batch is then:

    1. signature the new batch (the only pass over its text);
    2. tag the band keys of store ∪ batch as old/new and run ONE
       guarded band self-join over them: a pair (a, b) is a candidate
       when a is new, a ≠ b, and b is old or a < b — new-vs-old and
       new-vs-new in the same join, whose shuffle moves (id, tag,
       band index, packed signature slice) rows of primitive columns,
       never documents. The skew guard drops band buckets holding
       more than ``max_bucket`` rows of store and batch together;
    3. verify every candidate ONCE with the signature-overlap
       estimator Ĵ = |matching positions| / n_perms, looking the
       b side's signature up by (tag, id). The corpus text is
       unreachable by design, so verification is estimator-based, NOT
       exact like the batch operator's shingle re-join: E[Ĵ] = J with
       σ = sqrt(J(1-J)/n_perms) ≈ 0.035 at J = t = 0.8, n_perms = 128
       — set ``threshold`` with that margin in mind (exact-duplicate
       detection, Ĵ = 1, is unaffected). The verified pairs split by
       tag: new-vs-old gives each doc's smallest admitted match,
       new-vs-new gives the edges of the batch's duplicate graph;
    4. keep = not Ĵ-matched to any admitted doc, and the minimum
       doc_id of its new-vs-new duplicate component (transitive);
    5. append the KEPT docs' signatures to the store.

    Steps 2-5 are size-adaptive, with ``util.DRIVER_ROWS`` as the one
    bound. While store ∪ batch holds at most that many rows and
    candidate pairs, they run as one driver pass (``_admit_local``):
    one bounded Arrow collect of the tagged signatures (~1 GiB on the
    driver at the bound, one 128 × 8 B signature per row; past it at
    most ``DRIVER_ROWS + 1`` rows reach the driver), numpy banding and
    verify, and local tables for the verdicts and the appended
    keepers. Past either bound the band join and the verify run
    distributed (``_verified_pairs``), and step 4 takes the
    new-vs-new components from ``canonicalize.connected_components``
    (a driver union-find up to ``DRIVER_ROWS`` pairs, the star
    iteration past it). Both paths give the same verdicts and store
    rows (pytest-pinned).

    Returns (doc_id, dup_of, keep) for the new batch: ``dup_of`` is
    the admitted doc (or kept smaller new doc) that suppressed it,
    NULL for keepers. A store that exists but cannot be read raises;
    only a missing ``store_dir`` reads as empty. The store write is a
    plain parquet append and NOT atomic: a crash inside it can leave
    part of the batch's keepers stored. Wrap calls in the checkpoint
    manifest (``checkpoint_write``) when retries must be idempotent,
    exactly like merge_batch above.

    Pins: the driver pass releases the batch-signature checkpoint
    before it returns. The distributed path leaves two checkpoints
    pinned, the batch signatures and the verified pairs, because its
    returned verdicts are a lazy plan over both (and, past
    ``DRIVER_ROWS`` verified pairs, the two the star iteration's
    components read)."""
    from ..operators.util import read_parquet_or_empty

    # referenced by the bounded collect, or by the band keys, both
    # verify sides, the verdict and the store append — materialized
    # once. A caller-provided ``sig`` slice is re-pinned
    # too: skipping its checkpoint was measured ~1 s SLOWER per
    # admission (filter-rescans of the full-corpus signature
    # checkpoint beat one slice materialization).
    sig_new = (
        sig if sig is not None
        else batch_minhash_signatures(
            new_docs, k, n_perms, seed, id_col, text_col
        )
    ).localCheckpoint()
    spark = new_docs.sparkSession
    sig_old = read_parquet_or_empty(spark, store_dir, STORE_DDL)
    local = _admit_local(sig_new, sig_old, bands, n_perms, threshold,
                         max_bucket)
    if local is not None:
        verdicts, keepers = local
        keepers.write.mode("append").parquet(store_dir)
        # both tables are local: nothing lazy reads the pin any more
        unpin(sig_new)
        return verdicts

    # pinned: the components' probe and the verdict both read the
    # verified pairs
    verified = _verified_pairs(
        sig_new, sig_old, bands, n_perms, threshold, max_bucket
    ).localCheckpoint()

    # dup0 lookup table (m_doc, m_dup): a batch doc → the doc that
    # suppresses it at first sight — its smallest admitted match, else
    # its new-vs-new component minimum (``connected_components``: a
    # driver union-find up to DRIVER_ROWS pairs, the star iteration
    # past it)
    comp = connected_components(verified.where("dst_new"), "src", "dst")
    lookup = (
        verified.where(~F.col("dst_new")).select(
            F.col("src").alias("m_doc"), F.col("dst").alias("m_old"),
            F.lit(None).cast("long").alias("m_new"))
        .unionByName(comp.where(F.col("component") != F.col("node"))
                     .select(F.col("node").alias("m_doc"),
                             F.lit(None).cast("long").alias("m_old"),
                             F.col("component").alias("m_new")))
        .groupBy("m_doc")
        .agg(F.coalesce(F.min("m_old"), F.min("m_new")).alias("m_dup"))
    )

    def dup0(df: DataFrame, key: str, out: str) -> DataFrame:
        return (
            df.join(lookup, F.col(key) == F.col("m_doc"), "left")
            .drop("m_doc").withColumnRenamed("m_dup", out)
        )

    # dup_of must point at a KEEPER in one hop (docstring contract).
    # The one way dup0 doesn't: a new-vs-new component whose minimum
    # doc is itself store-suppressed — members got dup0 = component
    # min, which has keep=false. A second dup0 lookup rewrites those
    # to the min's own admitted match. A single hop suffices: the
    # component min can only be suppressed by the STORE — any new doc
    # that suppressed it would be a smaller member of the same
    # component, contradicting minimality (r5 ADVICE).
    judged = dup0(dup0(sig_new, "doc_id", "d0"), "d0", "d1").select(
        "doc_id", "sig", F.coalesce("d1", "d0").alias("dup_of")
    )

    # append keepers NOT already present — the left-anti makes a
    # retried admission a no-op on the store (same verdicts, no
    # duplicate signature rows), the idempotence rule every other
    # incremental op here follows via the checkpoint manifests
    (
        judged.where(F.col("dup_of").isNull()).select("doc_id", "sig")
        .join(sig_old.select("doc_id"), "doc_id", "left_anti")
        .write.mode("append").parquet(store_dir)
    )
    # the verdict reads only this call's pins and local tables, never
    # the store, so evaluating it after the append gives the same rows
    return judged.select(
        "doc_id", "dup_of", F.col("dup_of").isNull().alias("keep")
    )
