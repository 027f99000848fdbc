"""Document deduplication for training-data pipelines.

Five detectors, each a first-class operator over a documents/pages table
(core requirement for a 100 TB corpus engine; the driver's testdata
seeds near-duplicate docs at word-shingle Jaccard ≈ 0.99):

- exact:       md5 content hash groupBy (zero false positives)
- fingerprint: bag-normalized hash (order/multiplicity-insensitive)
- ngram:       exact word-k-gram Jaccard via AllPairs prefix index
- minhash:     MinHash-LSH blocked candidates + exact verification
- simhash:     64-bit SimHash (Arrow stage) + banded Hamming join

Scale notes: exact/fingerprint are one shuffle on a 16-byte key. The
prefix index's bucket-size guard bounds quadratic blowup; at 100 TB the
minhash path replaces the exact ngram join (signatures are fixed-width
regardless of doc length, candidates ≈ true pairs for b/r tuned to the
threshold). minhash and simhash draw their candidates from the one
guarded band self-join (``bands.band_pairs``: window-count skew guard,
one shuffle of the banded rows) — MinHash bands keyed by exact
signature slices, SimHash bands by 8-bit slices of the 64-bit signature
(default ``band_bits=8``): by pigeonhole, a pair at Hamming ≤ 6 leaves
at least 2 of the 8 bands identical, so the default ``max_hamming=6``
misses no pair the bucket guard keeps. minhash and ngram share one
exact-Jaccard verify (``_jaccard_verify``).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .bands import band_pairs, dropped_buckets, minhash_bands
from .linking import _exact_jaccard
from .util import _list_rows, drop_zip_importers, ensure_parallelism


def exact_dup_groups(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """(doc_id, content_hash, group_size, keep): keep marks the minimum
    id per identical-content group (the canonical survivor)."""
    h = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.md5(F.col(text_col)).alias("content_hash"),
    )
    g = h.groupBy("content_hash").agg(
        F.count(F.lit(1)).alias("group_size"), F.min("doc_id").alias("keep_id")
    )
    return h.join(g, "content_hash").select(
        "doc_id",
        "content_hash",
        "group_size",
        (F.col("doc_id") == F.col("keep_id")).alias("keep"),
    )


def fingerprint(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Bag-normalized document fingerprint: md5 over the sorted distinct
    word set — catches reordered/repeated-word copies exact hashing
    misses. (doc_id, fp, group_size, keep)."""
    h = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.md5(
            F.concat_ws(
                " ", F.array_sort(F.array_distinct(F.split(F.col(text_col), " ")))
            )
        ).alias("fp"),
    )
    g = h.groupBy("fp").agg(
        F.count(F.lit(1)).alias("group_size"), F.min("doc_id").alias("keep_id")
    )
    return h.join(g, "fp").select(
        "doc_id", "fp", "group_size",
        (F.col("doc_id") == F.col("keep_id")).alias("keep"),
    )


def word_shingles(text_col, k: int = 3):
    """Distinct word k-grams (JVM-side), in first-occurrence order.
    Short docs yield their full text as the single shingle.

    The split runs ONCE per row: it is bound as the variable of an
    outer one-element ``transform``. Written inline, ``split(text)``
    sits inside the per-shingle lambda and re-splits the whole text
    for every shingle — quadratic in the word count."""
    def grams(w):
        n = F.size(w)
        return F.array_distinct(F.transform(
            F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(w, i, k)),
        ))

    return F.element_at(
        F.transform(F.array(F.split(text_col, " ")), grams), 1
    )


# XXH64 primes, and the seed of Spark's ``xxhash64``
_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
_XXH_SEED = 42
_ZERO = np.uint64(0)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _xxh64_round(acc: np.ndarray, word: np.ndarray) -> np.ndarray:
    return _rotl(acc + word * _P2, 31) * _P1


def _xxh64_spans(buf: np.ndarray, pos: np.ndarray,
                 n: np.ndarray) -> np.ndarray:
    """int64 XXH64 (seed 42, signed) of each byte span
    ``buf[pos[i] : pos[i] + n[i]]`` — bit for bit Spark's ``xxhash64``
    of a string with those UTF-8 bytes (``XXH64.hashUnsafeBytes``).

    Vectorized over the spans: the 32-byte stripe rounds, then up to
    three 8-byte words, one 4-byte word and three tail bytes, each a
    numpy pass over the spans that still have such a step. Words are
    read through unaligned little-endian views of the zero-padded
    buffer; no read passes a span's end. Stripe rounds run on the
    spans ordered by stripe count, so round r touches only its prefix
    of still-active spans."""
    pad = np.zeros(len(buf) + 8, np.uint8)
    pad[:len(buf)] = buf
    u64 = np.ndarray((len(buf) + 1,), "<u8", pad, 0, (1,))
    u32 = np.ndarray((len(buf) + 1,), "<u4", pad, 0, (1,))
    off = pos.astype(np.int64)  # a copy: advanced in place below
    n = n.astype(np.int64)
    m64 = (1 << 64) - 1
    h = np.full(len(n), (_XXH_SEED + int(_P5)) & m64, np.uint64)

    big = np.flatnonzero(n >= 32)
    if len(big):
        stripes = n[big] // 32
        order = np.argsort(-stripes, kind="stable")
        big, stripes = big[order], stripes[order]
        o = off[big]
        v = [np.full(len(big), (_XXH_SEED + s) & m64, np.uint64)
             for s in (int(_P1) + int(_P2), int(_P2), 0, -int(_P1))]
        for r in range(int(stripes[0])):
            c = int(np.searchsorted(-stripes, -r, "left"))  # stripes > r
            for i in range(4):
                v[i][:c] = _xxh64_round(v[i][:c], u64[o[:c] + 8 * i])
            o[:c] += 32
        acc = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
               + _rotl(v[3], 18))
        for vi in v:
            acc = (acc ^ _xxh64_round(_ZERO, vi)) * _P1 + _P4
        h[big] = acc
        off[big] = o
    h += n.astype(np.uint64)

    for w in range(3):  # the 8-byte words after the stripes
        i = np.flatnonzero(n % 32 // 8 > w)
        h[i] = _rotl(h[i] ^ _xxh64_round(_ZERO, u64[off[i]]), 27) * _P1 + _P4
        off[i] += 8
    i = np.flatnonzero(n % 8 >= 4)
    h[i] = _rotl(h[i] ^ u32[off[i]].astype(np.uint64) * _P1, 23) * _P2 + _P3
    off[i] += 4
    for t in range(3):  # the tail bytes
        i = np.flatnonzero(n % 4 > t)
        h[i] = _rotl(h[i] ^ pad[off[i]].astype(np.uint64) * _P5, 11) * _P1
        off[i] += 1

    h ^= h >> np.uint64(33)
    h *= _P2
    h ^= h >> np.uint64(29)
    h *= _P3
    h ^= h >> np.uint64(32)
    return h.view(np.int64)


def word_minhash_kernel(text, k: int, n_perms: int,
                        seed: int) -> np.ndarray:
    """(len(text), n_perms) int64 MinHash signatures of the documents of
    one Arrow string array: bit-identical to ``minhash_signature_map``
    over ``hash_shingles(word_shingles(text, k))``, computed from the
    array's buffers with no per-row or per-shingle Python.

    ``split(text, " ")`` keeps empty words, so each word k-gram is one
    byte span of the text's UTF-8 buffer: from the start of its first
    word to the end of its k-th, found from the positions of byte 0x20
    (which no multi-byte UTF-8 character contains). A document of fewer
    than k words is one span, its whole text; NULL text signs as ""
    (as the JVM chain does). Each span is hashed by ``_xxh64_spans``,
    taken ``pmod MERSENNE`` and fed to ``linking.minhash_kernel``.
    Duplicate grams change no minimum, so no distinct step is needed.
    Invalid UTF-8 is hashed as its raw bytes; the JVM chain re-encodes
    it through ``java.lang.String`` first, so the two differ there."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from .linking import MERSENNE, minhash_kernel

    if not len(text):
        return np.empty((0, n_perms), np.int64)
    if text.null_count:
        text = pc.fill_null(text, "")
    _, offs, data = text.buffers()
    width = np.int64 if pa.types.is_large_string(text.type) else np.int32
    offs = np.frombuffer(offs, width)[
        text.offset:text.offset + len(text) + 1].astype(np.int64)
    buf = (np.frombuffer(data, np.uint8)[offs[0]:offs[-1]]
           if data is not None else np.empty(0, np.uint8))
    starts, ends = offs[:-1] - offs[0], offs[1:] - offs[0]
    sp = np.flatnonzero(buf == 0x20)
    before = np.searchsorted(sp, starts)  # spaces in earlier documents
    n_w = np.searchsorted(sp, ends) - before + 1
    first = np.arange(len(starts)) + before  # each doc's first word
    # word i of the flat word list: starts at its doc's start or one
    # past a space, ends at the next space or its doc's end
    is_first = np.zeros(len(sp) + len(starts), bool)
    is_first[first] = True
    ws = np.empty(len(is_first), np.int64)
    ws[is_first], ws[~is_first] = starts, sp + 1
    is_last = np.zeros_like(is_first)
    is_last[first + n_w - 1] = True
    we = np.empty_like(ws)
    we[is_last], we[~is_last] = ends, sp

    n_g = np.maximum(n_w - (k - 1), 1)
    g_first = np.repeat(first, n_g)
    i = np.arange(int(n_g.sum())) - np.repeat(np.cumsum(n_g) - n_g, n_g)
    pos = ws[g_first + i]
    end = we[g_first + np.minimum(i + k - 1, np.repeat(n_w, n_g) - 1)]
    hx = _xxh64_spans(buf, pos, end - pos) % MERSENNE
    return minhash_kernel(hx, n_g, n_perms, seed)


def word_minhash_signatures(docs: DataFrame, k: int, n_perms: int,
                            seed: int, id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """(doc_id, sig array<long>): each document's MinHash signature over
    its word k-grams, one row per document — ONE row-local
    ``mapInArrow`` stage running ``word_minhash_kernel`` per Arrow
    batch. The word-gram signature of admission
    (``incremental.batch_minhash_signatures``) and of ``minhash_dups``."""
    import pyarrow as pa

    def run(batches):
        drop_zip_importers()
        for b in batches:
            sig = word_minhash_kernel(b.column(1), k, n_perms, seed)
            yield pa.RecordBatch.from_arrays(
                [b.column(0), _list_rows(sig)], ["doc_id", "sig"])

    return docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).cast("string").alias("text"),
    ).mapInArrow(run, "doc_id long, sig array<bigint>")


def _doc_shingles(docs: DataFrame, k: int, id_col: str,
                  text_col: str) -> DataFrame:
    """(sid, sh, n_sh): each document's distinct word k-gram shingles —
    the shingle table of ``ngram_jaccard_dups`` and ``minhash_dups``
    and of their exact verify."""
    return docs.select(
        F.col(id_col).cast("long").alias("sid"),
        word_shingles(F.col(text_col), k).alias("sh"),
    ).withColumn("n_sh", F.size("sh"))


def _jaccard_verify(cand: DataFrame, sh: DataFrame,
                    threshold: float) -> DataFrame:
    """(src, dst, sim): the (src, dst) candidates whose exact shingle
    Jaccard over the ``_doc_shingles`` table ``sh`` reaches
    ``threshold`` — each side's shingle array joined back by id."""
    sh_a = sh.select(F.col("sid").alias("src"), F.col("sh").alias("sh_a"),
                     F.col("n_sh").alias("n_a"))
    sh_b = sh.select(F.col("sid").alias("dst"), F.col("sh").alias("sh_b"),
                     F.col("n_sh").alias("n_b"))
    return _exact_jaccard(cand.join(sh_a, "src").join(sh_b, "dst"),
                          threshold)


def _prefix_index(docs: DataFrame, k: int, id_col: str,
                  text_col: str) -> DataFrame:
    """The ``_doc_shingles`` table plus ``hx``, the shingles' xxhash64
    values in ascending order — the AllPairs global order, shared by
    ``ngram_jaccard_dups`` and its dropped-bucket audit together with
    ``_prefix_rows``.

    The AllPairs global order is the xxhash64 VALUE order (r7): the
    filtering theorem needs any one total order on the shingle
    universe, and sorting int64 hashes is far cheaper than sorting the
    shingle strings (and makes the prefix-index join key an int). The
    order is total as long as no two distinct shingles collide under
    xxhash64 — the same corpus-wide zero-collision precondition the
    hashed-intersection prefilter already asserts at gate scale."""
    return _doc_shingles(docs, k, id_col, text_col).withColumn(
        "hx", F.array_sort(F.transform(F.col("sh"), lambda x: F.xxhash64(x)))
    )


def _prefix_rows(sh: DataFrame, threshold: float) -> DataFrame:
    """(sid, n_sh, hx, shingle): the exploded AllPairs prefix index of a
    ``_prefix_index`` table, one row per (prefix shingle hash, doc)."""
    # ceil guard: 0.8*35 floats to 28.000000000000004 — the 1e-9 nudge
    # keeps integral products from ceiling one too high (which would
    # SHORTEN the prefix and break the no-miss guarantee)
    p = (
        F.col("n_sh")
        - F.ceil(F.lit(threshold) * F.col("n_sh") - F.lit(1e-9))
        + 1
    ).cast("int")
    return sh.select(
        "sid", "n_sh", "hx",
        F.explode(F.slice("hx", F.lit(1), p)).alias("shingle"),
    )


def ngram_prefix_dropped_buckets(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.8,
    max_bucket: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """Number of prefix-shingle buckets ``ngram_jaccard_dups`` (same
    parameters) would DROP under its ``max_bucket`` skew guard — the
    lsh_dropped_buckets twin for the AllPairs index. The operator's
    EXACT claim (and its full-index DuckDB oracle) is valid only while
    this returns 0: each dropped bucket is a hot prefix shingle whose
    co-occurring pairs are found only via their OTHER shared prefix
    shingles, if any. Monitor in production before trusting the
    prefix-filter theorem at a new scale."""
    pref = _prefix_rows(_prefix_index(docs, k, id_col, text_col), threshold)
    return dropped_buckets(pref, ["shingle"], max_bucket)


def _bucket_jaccard_candidates(
    bucketed: DataFrame, threshold: float, max_bucket: int,
    margin: float = 0.05,
) -> DataFrame:
    """(src, dst) candidate pairs from per-prefix-bucket vectorized
    Jaccard estimation — the r7 replacement for the Catalyst
    self-join + 8M-pair dropDuplicates + full-array verify join chain
    (guide §2.3/§4.2).

    Input: (shingle, sid, n_sh, hx) — one row per (prefix shingle,
    member doc), carrying the doc's xxhash64-hashed shingle array. One
    applyInArrow group per prefix shingle: a binary membership matrix
    over the group's distinct hash values gives ALL pairwise
    intersection counts in one BLAS matmul; pairs whose hash-Jaccard
    clears ``threshold − margin`` are emitted. Groups larger than
    ``max_bucket`` are dropped — the same skew guard the old bucket
    aggregation applied, now group-local.

    PRE-FILTER, not the scorer of record: survivors are re-verified by
    the exact string-array intersection downstream, so output equality
    needs only that no qualifying pair is dropped here. Hash-counted
    intersections equal string-counted ones unless two distinct
    shingles in one pair's union collide under xxhash64 (probability
    ~n²/2⁶⁵; a corpus-wide zero-collision check is asserted at gate
    scale in tests), and even a collision moves Ĵ by ~1/|A| ≪ margin.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    cut = threshold - margin
    empty = pa.table({"src": pa.array([], pa.int64()),
                      "dst": pa.array([], pa.int64())})

    def score(tbl):
        drop_zip_importers()
        m = tbl.num_rows
        if m < 2 or m > max_bucket:
            return empty
        ids = tbl.column("sid").to_numpy()
        order = np.argsort(ids)
        tbl, ids = tbl.take(order), ids[order]
        n = tbl.column("n_sh").to_numpy().astype(np.int64)
        hx = tbl.column("hx")
        lens = pc.list_value_length(hx).to_numpy()
        _, inv = np.unique(pc.list_flatten(hx).to_numpy(),
                           return_inverse=True)
        mat = np.zeros((m, int(inv.max()) + 1), dtype=np.float32)
        mat[np.repeat(np.arange(m), lens), inv] = 1.0
        inter = mat @ mat.T
        est = inter / (n[:, None] + n[None, :] - inter)
        ii, jj = np.nonzero(est >= cut)
        keep = ii < jj  # ids ascending → src < dst
        return pa.table({"src": ids[ii[keep]], "dst": ids[jj[keep]]})

    return bucketed.groupBy("shingle").applyInArrow(
        score, schema="src long, dst long"
    )


def ngram_jaccard_dups(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.8,
    max_bucket: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(src, dst, sim): doc pairs with word-k-gram Jaccard ≥ threshold.
    src < dst numerically.

    EXACT via prefix filtering (the AllPairs/PPJoin self-join —
    Chaudhuri 2006, Bayardo 2007): with every doc's shingle set sorted
    in ONE global order, any pair with J ≥ t must share a shingle
    inside their ``n - ceil(t·n) + 1`` prefixes, so only prefixes are
    indexed — at t=0.8 that's ~5× fewer index rows and ~25× fewer
    candidate pairs than the full inverted index, with identical
    output (candidates are then verified with the exact Jaccard; the
    prefix property guarantees no qualifying pair is missed). The
    DuckDB oracle keeps the full-index form — same result set by the
    filtering theorem, CONDITIONAL on the ``max_bucket`` skew guard
    dropping nothing: a prefix shingle hotter than ``max_bucket`` is
    skipped, so a qualifying pair whose only shared prefix shingle is
    hot would be missed while the uncapped oracle keeps it. Audit the
    condition with ``ngram_prefix_dropped_buckets`` (same parameters)
    — the exactness claim, and the shared oracle, hold only while it
    returns 0 at the claimed scale (0 asserted at gate scale in tests).

    Plan shape (r7 rework): the old form materialized the candidate
    pairs with a Catalyst self-join on the prefix index and verified
    EVERY candidate by joining both docs' full string shingle arrays —
    at sf1.0 that was 8.3M candidate pairs × ~1 KB of strings per side
    (~17 GB through the verify joins + 8.3M array_intersect calls,
    measured 15-16 s, the bulk of dedup_ngram/dedup_clusters/curate).
    Now each prefix bucket ships its member docs' int64-hashed shingle
    arrays ONCE into an Arrow group task (~240 MB total) that computes
    all pairwise intersection counts with one matmul and emits only
    margin-passing pairs; the exact string verify runs on survivors
    only (≈ output-sized). Same candidate-superset + identical final
    verify expressions ⇒ identical output (asserted vs the full-index
    oracle and by the unchanged pytest equality sets)."""
    # materialized ONCE (localCheckpoint): the shingle arrays feed the
    # prefix/hash pass AND both sides of the final exact verify —
    # without pinning, the scan+shingle subtree runs 3×. The string
    # arrays stay UNSORTED (array_intersect in the exact verify is
    # order-insensitive); only the hash arrays carry the AllPairs order
    sh = _prefix_index(
        ensure_parallelism(docs), k, id_col, text_col
    ).localCheckpoint()
    cand = _bucket_jaccard_candidates(
        _prefix_rows(sh, threshold), threshold, max_bucket
    ).dropDuplicates(["src", "dst"])
    return _jaccard_verify(cand, sh, threshold)


def paragraph_dedup(
    docs: DataFrame,
    delimiter: str = "\n",
    window_words: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, text_clean, n_kept, n_dropped): corpus-global
    paragraph-level exact dedup — the CCNet/Dolma preprocessing step
    that whole-document dedup cannot replace (boilerplate headers,
    navigation blocks and repeated disclaimers recur across otherwise
    distinct pages). Only the FIRST global occurrence of each paragraph
    survives (minimum (doc_id, paragraph index)); every document is
    reassembled from its kept paragraphs in original order (possibly
    empty).

    Segmentation: split on ``delimiter`` (real page layout), or — for
    corpora without layout, like the soup test tables — fixed
    ``window_words``-word windows, which keeps the exact same global
    first-occurrence computation SQL-expressible for the oracle.

    Plan shape at 10^12 docs: one explode, then first occurrence per
    paragraph via ``groupBy(para).agg(min(struct(doc_id, idx)))`` —
    NOT a row_number window: hot boilerplate paragraphs (exactly the
    keys this operator targets) get map-side partial aggregation, so a
    disclaimer repeated 10^8 times costs one min-struct per input
    partition instead of one task's full sort buffer (r5 ADVICE). The
    join back to flag keepers is probe-heavy on the same hot keys, but
    the build side is one row per paragraph and AQE's skew-join split
    can divide the probe side. Measured (tools/paragraph_probe.py, r7):
    the split did not fire below the combined gate (partition > 256 MB
    AND > 5× median), so a 10^7-repetition hot key still runs whole
    (skew 1.7, outputs identical to the window plan, groupby ≤ window
    on wall at every probed scale). Past both gates the split is
    available to this join (observed firing on a sort-merge join in
    tools/salt_probe.py), while NO skew optimization ever applies to
    a window sort. Then one groupBy(doc_id) reassembly shuffle."""
    if window_words is not None:
        def windows(words):
            n_seg = F.ceil(F.size(words) / F.lit(window_words)).cast("int")
            return F.transform(
                F.sequence(F.lit(0), n_seg - 1),
                lambda i: F.array_join(
                    F.slice(words, i * window_words + 1, window_words), " "
                ),
            )

        # split once per row, bound as the variable of an outer
        # one-element transform (as in word_shingles): inline, the split
        # sits inside the per-segment lambda and re-runs per segment
        segs = F.element_at(
            F.transform(F.array(F.split(F.col(text_col), " ")), windows), 1
        )
        joiner = " "
    else:
        segs = F.split(F.col(text_col), delimiter)
        joiner = delimiter
    # ensure_parallelism: a small local parquet arrives as ONE split,
    # which would run the explode + both map sides single-threaded
    # (guide §2.5 input skew; no-op on a real multi-split scan).
    # localCheckpoint: ``paras`` feeds the first-occurrence aggregation
    # AND the flag join — one explode pass instead of two (measured
    # 1.3-1.5× at 50k docs). NOTE this pin is CORPUS-sized, unlike the
    # signature/vocab-sized pins elsewhere: the trade is one
    # write+2-read round trip through executor storage (spilling to
    # local disk past memory) against a second full scan+split+explode
    # — favorable while local disks out-bandwidth the source store; on
    # a deployment where the source scan is cheaper than local
    # materialization, drop the checkpoint and pay the recompute.
    paras = ensure_parallelism(docs).select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.posexplode(segs).alias("idx", "para"),
    ).localCheckpoint()
    firsts = paras.groupBy("para").agg(
        F.min(F.struct("doc_id", "idx")).alias("first")
    )
    flagged = (
        paras.join(firsts, "para")
        .withColumn(
            "keep",
            (F.col("doc_id") == F.col("first.doc_id"))
            & (F.col("idx") == F.col("first.idx")),
        )
        .drop("first")
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.coalesce(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(F.col("keep"),
                                       F.struct("idx", "para"))
                            )
                        ),
                        lambda s: s.para,
                    ),
                    joiner,
                ),
                F.lit(""),
            ).alias("text_clean"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
        )
    )


def near_dup_clusters(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, cluster_id, cluster_size, keep): the curation DECISION
    layer over pairwise near-dup detection — transitive closure of the
    dup-pair graph (a≈b, b≈c ⇒ one cluster even when a/c don't pair),
    cluster id = min member, keep = the canonical representative.
    Dropping ``keep = false`` rows is the dedup a training-data pipeline
    actually applies.

    Scale shape: the pair graph contains ONLY docs with a near-dup
    (≪ corpus); connected components runs on that subgraph, and docs
    without pairs short-circuit to singleton clusters via a left join —
    the CC iterations never see the clean majority of a 10^12-doc
    corpus."""
    pairs = ngram_jaccard_dups(docs, k=k, threshold=threshold,
                               id_col=id_col, text_col=text_col)

    # zero-padded node ids: CC's lexicographic min == numeric min
    def pad(c):
        return F.lpad(c.cast("string"), 20, "0")

    from .canonicalize import connected_components

    comp = connected_components(
        pairs.select(pad(F.col("src")).alias("src"),
                     pad(F.col("dst")).alias("dst"))
    )
    ids = docs.select(F.col(id_col).cast("long").alias("doc_id"))
    clustered = (
        ids.join(comp, pad(F.col("doc_id")) == comp.node, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component").cast("long"), F.col("doc_id"))
            .alias("cluster_id"),
        )
    )
    sizes = clustered.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return clustered.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        # CC labels every member with the component minimum,
        # so the canonical keeper IS the cluster id
        (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
    )


def minhash_dups(
    docs: DataFrame,
    k: int = 3,
    n_perms: int = 128,
    bands: int = 32,
    threshold: float = 0.8,
    max_bucket: int = 2000,
    seed: int = 11,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-verified. Scale path for
    ``ngram_jaccard_dups`` (b=32, r=4 → ~50% collision at J=0.8 per
    band set; ≥1-of-32 collision prob ≈ 1 for J ≥ 0.8). Candidates come
    from the shared guarded band self-join (``bands.band_pairs``) on
    exact signature slices; ``dropped_buckets`` over
    ``_minhash_bands`` audits its guard."""
    docs = ensure_parallelism(docs)
    # materialized ONCE (guide §2.4): the shingle table feeds both sides
    # of the final exact verify; the signatures come from the text
    sh = _doc_shingles(docs, k, id_col, text_col).localCheckpoint()
    banded, keys = _minhash_bands(docs, k, n_perms, bands, seed, id_col,
                                  text_col)
    cand = band_pairs(
        banded, keys, max_bucket, F.col("a.sid") < F.col("b.sid"),
    ).select(F.col("a.sid").alias("src"), F.col("b.sid").alias("dst"))
    return _jaccard_verify(cand.dropDuplicates(["src", "dst"]), sh,
                           threshold)


def _minhash_bands(docs: DataFrame, k: int, n_perms: int, bands: int,
                   seed: int, id_col: str = "doc_id",
                   text_col: str = "text",
                   ) -> tuple[DataFrame, tuple[str, ...]]:
    """(sid, band_idx, band_key…) and its bucket keys: the banded
    signature table ``minhash_dups`` joins, of the documents' word
    k-gram signatures (``word_minhash_signatures``). Band keys only —
    the candidate join must not drag the shingle arrays through its
    shuffle (they rejoin in the verify, candidate set ≪ docs)."""
    banded, keys = minhash_bands(n_perms, bands)
    return word_minhash_signatures(
        docs, k, n_perms, seed, id_col, text_col,
    ).select(F.col("doc_id").alias("sid"), banded), keys


_SIMHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("simhash", T.LongType()),
    ]
)


def md5_hash60(col):
    """60-bit integer folded from the md5 hex digest's first 15 nibbles
    — a token-hash family DuckDB reproduces verbatim
    (``('0x'||substr(md5(w),1,15))::BIGINT``), unlike ``xxhash64``/FNV
    which have no SQL form. 60 bits (not 64) keeps every derived value
    — including bit-vote signatures re-folded from per-bit sums —
    inside non-negative int64 range on BOTH engines, so no
    two's-complement edge exists anywhere in the oracle comparison."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(doc_id, simhash): token hashing runs JVM-side (``xxhash64`` over
    the split-token array, whole-stage codegen); only the bit-vote
    accumulation — which has no efficient SQL form — crosses into a
    ``mapInArrow`` stage, fully numpy-vectorized over each batch's
    flattened int64 hash arrays (no per-row or per-token Python). Zero shuffle:
    both stages are row-local.

    ``hash_family`` picks the token hash: ``xxhash64`` (default — the
    cheapest JVM-side family, the 100 TB choice) or ``md5_60`` (60-bit
    md5 fold, ``md5_hash60``) whose values — and therefore the whole
    vote → signature → band → Hamming chain — a DuckDB oracle
    recomputes exactly. Same algorithm either way; only the hash family
    differs."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if hash_family == "xxhash64":
        def token_hash(w):
            return F.xxhash64(w)
    elif hash_family == "md5_60":
        token_hash = md5_hash60
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")
    # empty/null text → empty hash array, so signature 0 (no bit gets a
    # positive vote) — otherwise empty docs would all carry
    # xxhash64("")'s bit pattern and false-pair with anything hashing
    # near that constant
    text = F.coalesce(F.col(text_col), F.lit(""))
    hashes = F.when(
        F.length(text) == 0, F.array().cast("array<long>")
    ).otherwise(
        F.transform(F.split(text, " "), token_hash)
    )
    src = ensure_parallelism(
        docs.select(
            F.col(id_col).cast("long").alias("doc_id"),
            hashes.alias("hs"),
        )
    )

    def compute(batches):
        drop_zip_importers()
        for b in batches:
            hs = b.column(1)
            sig = simhash_vote_batch(pc.list_flatten(hs).to_numpy(),
                                     pc.list_value_length(hs).to_numpy())
            yield pa.RecordBatch.from_arrays(
                [b.column(0), pa.array(sig)], ["doc_id", "simhash"])

    return src.mapInArrow(compute, _SIMHASH_SCHEMA)


def simhash_vote_batch(flat: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Majority bit-vote → int64 signatures of ``len(lens)`` runs of
    int64 hashes laid end to end in ``flat`` (empty run → 0). One
    vectorized ``reduceat`` over the whole batch — the kernel both the
    Spark stage and the property tests call."""
    bit_idx = np.arange(64, dtype=np.uint64)
    lens = np.asarray(lens, np.int64)
    sig = np.zeros(len(lens), dtype=np.uint64)
    nz = lens > 0  # empty docs keep signature 0
    if nz.any():
        nz_lens = lens[nz]
        flat = np.asarray(flat, np.int64).view(np.uint64)
        bits = (flat[:, None] >> bit_idx) & np.uint64(1)  # (N, 64)
        starts = np.cumsum(nz_lens) - nz_lens
        votes = np.add.reduceat(bits.view(np.int64), starts, axis=0)
        keep = (2 * votes) > nz_lens[:, None]  # majority-positive bit
        sig[nz] = (keep.astype(np.uint64) << bit_idx).sum(
            axis=1, dtype=np.uint64)
    return sig.view(np.int64)


def simhash_dups(
    docs: DataFrame,
    max_hamming: int = 6,
    band_bits: int = 8,
    max_bucket: int = 10_000,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(src, dst, hamming): pairs within Hamming distance via exact band
    blocking on 64 / ``band_bits`` bands (default 8 byte-bands). The
    differing bits of a pair at Hamming ≤ 6 fall in at most 6 bands, so
    at least 2 of the 8 stay identical (pigeonhole): every such pair
    meets in a band bucket, and only the ``max_bucket`` guard can lose
    one.

    r7 note (measured and kept AS the join): a per-bucket vectorized
    grouped-Python Hamming (the rework pattern that won for the
    embedding/ngram candidates) was implemented and benchmarked at
    8.7 s vs this join's 7.8 s on a 50k-doc convergent-signature
    corpus (598M same-bucket pairs). Unlike those operators, the band
    join never SHUFFLES the quadratic candidate set — the Hamming
    predicate sits in the join condition, so candidates die streaming
    inside the join task — which leaves both forms CPU-bound on the
    same Σ C(bucket, 2) comparisons; numpy SWAR popcount (6 temps per
    element, memory-bandwidth-bound) did not beat codegen'd
    xor+bit_count, so the simpler Catalyst form stays. At web scale
    the right lever is band_bits=16 (fewer, selective buckets), not a
    faster scorer.
    """
    sig = simhash_signatures(docs, id_col, text_col, hash_family)
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    # the Hamming predicate lives IN the join condition: candidate pairs
    # that fail it are dropped while streaming out of the join, before
    # the dropDuplicates shuffle — on convergent-signature corpora the
    # raw bucket-pair volume is orders of magnitude above the surviving
    # set, so filtering pre-shuffle is the scale win
    return band_pairs(
        *_simhash_bands(sig, band_bits), max_bucket,
        (F.col("a.doc_id") < F.col("b.doc_id")) & (ham <= max_hamming),
    ).select(
        F.col("a.doc_id").alias("src"),
        F.col("b.doc_id").alias("dst"),
        ham.alias("hamming"),
    ).dropDuplicates(["src", "dst"])


def _simhash_bands(sig: DataFrame,
                   band_bits: int) -> tuple[DataFrame, tuple[str, ...]]:
    """(doc_id, simhash, band_idx, band_key) and its bucket keys: the
    banded table ``simhash_dups`` joins — each 64-bit signature cut
    into 64 / ``band_bits`` bands, keyed by the band's bits.

    band_bits=8 → 8 bands: a pair with Hamming ≤ 6 always leaves ≥ 2
    of 8 bytes identical; at web scale prefer band_bits=16 (4 bands,
    exact up to max_hamming=3) — byte-bands collide too often on
    10^12 docs. The bucket guard bounds quadratic blowup either way."""
    mask = (1 << band_bits) - 1
    return sig.select(
        "doc_id",
        "simhash",
        F.posexplode(F.array(*[
            F.shiftrightunsigned(F.col("simhash"), i * band_bits)
            .bitwiseAND(F.lit(mask))
            for i in range(64 // band_bits)
        ])).alias("band_idx", "band_key"),
    ), ("band_idx", "band_key")
