"""Entity linking: mention surfaces → similarity edges.

No reference counterpart; mandated by the north rule
(BASELINE.json:north_star — "MinHash-LSH blocked entity linking with
cosine scoring over span embeddings"). Two interchangeable paths:

1. ``exact_jaccard_links`` — exact char-shingle Jaccard via a shingle
   inverted-index join. Fully SQL-expressible (DuckDB oracle) and itself
   a respectable distributed algorithm: explode shingles, equi-join on
   shingle, count per pair, filter. Quadratic only within a shingle
   bucket, never globally.
2. ``lsh_links`` — MinHash signatures + banded LSH blocking, then exact
   Jaccard verification on candidates only. The 100 TB path: shingles
   and their hashes stay JVM-side (``xxhash64``, codegen'd), the
   permutation mins run in one row-local numpy Arrow stage
   (``minhash_signature_map``), and candidate generation is the shared
   guarded band self-join (``bands.band_pairs``) on (label, band_idx,
   band_key…), keyed by exact signature slices. ``lsh_links_local`` is the
   same computation on the driver over a collected surface table —
   ``build_kg`` runs it below ``util.DRIVER_ROWS`` surfaces and
   candidate pairs.

Skew: surfaces are distinct strings, so the shingle join's hot keys are
common shingles (e.g. "the"). ``max_bucket`` drops shingle buckets larger
than a cutoff (standard prefix-filter trick: a shingle shared by
thousands of surfaces carries ~no signal and would produce a quadratic
bucket). LSH band buckets are bounded the same way, by the window-count
guard of ``bands.band_pairs``; ``lsh_dropped_buckets`` audits it.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .bands import (
    band_pairs,
    band_pairs_local,
    dropped_buckets,
    minhash_bands,
)
from .util import _list_rows, drop_zip_importers

# deterministic MinHash permutation modulus: Mersenne prime 2^31-1, small
# enough that (a*x + b) stays under 2^62 — Spark 4 runs ANSI mode, where
# silent 64-bit overflow is an error, so operands must be bounded.
MERSENNE = (1 << 31) - 1
# the LSH linking defaults, shared by ``lsh_links`` and its driver form
# ``lsh_links_local`` so the two paths cannot drift apart: the exact
# Jaccard a candidate pair must reach, the largest band bucket that
# still joins (skew guard), and the permutation seed
LSH_THRESHOLD = 0.30
LSH_MAX_BUCKET = 2000
MINHASH_SEED = 7


def surface_key():
    return F.concat(F.col("label"), F.lit(":"), F.lower(F.col("m_text")))


def entity_surfaces(mentions: DataFrame, salt_buckets: int = 0) -> DataFrame:
    """Distinct (label, surface) with support — the linking universe.
    Aggregation shrinks the input by orders of magnitude before any
    pairwise work (distinct surfaces ≪ mentions at web scale).

    ``salt_buckets > 1`` switches to an explicit two-phase salted
    aggregation (partial count by (label, surface, salt), final sum by
    (label, surface)) — output identical, but a hot surface's rows are
    guaranteed to spread over ``salt_buckets`` reducers in the first
    shuffle instead of landing on one. The salt is a pure function of
    row content (xxhash64 over doc_id + offset), so task retries are
    deterministic. No plan enables it: on a count the salted form is
    slower, since map-side partial aggregation already ships one row
    per hot surface per map task (tools/salt_probe.py)."""
    if salt_buckets > 1:
        partial = mentions.groupBy(
            F.col("label"),
            F.lower(F.col("m_text")).alias("surface"),
            F.pmod(
                F.xxhash64(F.col("doc_id"), F.col("m_start")),
                F.lit(salt_buckets),
            ).alias("_salt"),
        ).agg(F.count(F.lit(1)).alias("_n"))
        agg = partial.groupBy("label", "surface").agg(
            F.sum("_n").alias("n_mentions")
        )
    else:
        agg = mentions.groupBy(
            F.col("label"), F.lower(F.col("m_text")).alias("surface")
        ).agg(F.count(F.lit(1)).alias("n_mentions"))
    return agg.withColumn(
        "sid", F.concat(F.col("label"), F.lit(":"), F.col("surface"))
    )


def char_shingles(col, k: int = 3):
    """Distinct char k-grams of a string column (JVM-side, codegen'd).
    Strings shorter than k yield the string itself (so nothing is
    unlinkable by construction)."""
    n = F.length(col)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
        lambda i: F.substring(col, i, k),
    )
    return F.array_distinct(grams)


def _pair_counts(exploded: DataFrame, max_bucket: int) -> DataFrame:
    """Candidate pairs with shingle-intersection counts; buckets larger
    than ``max_bucket`` are dropped (high-frequency shingles carry no
    discriminative signal and would blow up quadratically)."""
    bucket = (
        exploded.groupBy("label", "shingle")
        .agg(F.count(F.lit(1)).alias("bn"))
        .where(F.col("bn") <= max_bucket)
        .select("label", "shingle")
    )
    pruned = exploded.join(bucket, ["label", "shingle"])
    a = pruned.alias("a")
    b = pruned.alias("b")
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.sid") < F.col("b.sid")),
        )
        .groupBy(
            F.col("a.sid").alias("src"),
            F.col("b.sid").alias("dst"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )


def exact_jaccard_links(
    surfaces: DataFrame,
    k: int = 3,
    threshold: float = 0.30,
    max_bucket: int = 1000,
) -> DataFrame:
    """(src, dst, sim) for same-label surface pairs with char-k-gram
    Jaccard ≥ threshold; src < dst lexicographically."""
    sh = surfaces.withColumn("sh", char_shingles(F.col("surface"), k)).select(
        "sid", "label", "sh", F.size("sh").alias("n_sh")
    )
    # materialized ONCE (guide §2.4): the inverted index feeds the
    # bucket-guard aggregation and BOTH sides of the pair self-join —
    # without pinning each of those branches re-runs the upstream
    # surfaces aggregation (a full pass over the mentions table) plus
    # the shingle explode, 4× total. The index is surface-universe-
    # sized (vocabulary-bounded), never corpus-sized.
    exploded = sh.select(
        "sid", "label", "n_sh", F.explode("sh").alias("shingle")
    ).localCheckpoint()
    pairs = _pair_counts(exploded, max_bucket)
    return pairs.select(
        "src",
        "dst",
        F.round(
            F.col("inter")
            / (F.col("n_a") + F.col("n_b") - F.col("inter")),
            6,
        ).alias("sim"),
    ).where(F.col("sim") >= threshold)


def hash_shingles(shingle_col):
    """Base hash of each shingle string — computed ONCE; the per-
    permutation work is then an affine map over these ints. (Without the
    explicit materialization every permutation re-hashes the strings —
    measured 2-3× slower on the bench corpus.)"""
    return F.transform(
        shingle_col, lambda x: F.pmod(F.xxhash64(x), F.lit(MERSENNE))
    )


def perm_params(n_perms: int, seed: int = MINHASH_SEED):
    """Deterministic (a_i, b_i) affine-permutation parameters."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE), rng.randrange(0, MERSENNE))
        for _ in range(n_perms)
    ]


def minhash_kernel(flat: np.ndarray, lens: np.ndarray, n_perms: int,
                   seed: int = MINHASH_SEED) -> np.ndarray:
    """(len(lens), n_perms) int64 MinHash signatures of ``len(lens)``
    non-empty runs of pre-hashed shingles (``hash_shingles`` values)
    laid end to end in ``flat``: the numpy kernel of
    ``minhash_signature_map``, also run on the driver by ``build_kg``'s
    linking tail.

    One (n_perms × N) int64 broadcast-multiply + ``minimum.reduceat``
    along the contiguous shingle axis per workspace chunk. The
    (n_perms × N) layout makes each per-run min a contiguous run: the
    reduction over an (N × n_perms) array along axis 0 walks memory
    with an n_perms stride and took ~16× longer (0.08 vs 0.005 s per
    51k shingles; ~2× on the whole kernel). Chunks are run-aligned, so
    peak memory is ~CHUNK × n_perms × 8 B whatever the input size.

    Each signature entry is min over the run of (a·h + b) mod M with
    the shared ``perm_params``: h ∈ [0, M) and a, b < M = 2³¹−1 keep
    a·h + b < 2⁶² + 2³¹ inside int64, and numpy ``%`` on non-negatives
    equals Spark ``pmod`` — pinned in tests against the explode +
    min-aggregation reference kept there."""
    perms = perm_params(n_perms, seed)
    pa = np.array([p[0] for p in perms], dtype=np.int64)[:, None]
    pb = np.array([p[1] for p in perms], dtype=np.int64)[:, None]
    # flat hashes per workspace chunk: bounds the (CHUNK × n_perms)
    # int64 buffer at ~64 MB for 128 perms PER TASK — sized for
    # cores-per-executor concurrent tasks inside a few-GB Python
    # overhead budget (guide §5), not for this sandbox's headroom
    CHUNK = 65_536
    ends = np.cumsum(lens)
    starts = ends - lens
    sig = np.empty((len(lens), n_perms), dtype=np.int64)
    i = 0
    while i < len(lens):
        # runs i..j-1 fit one chunk; a run longer than CHUNK goes alone
        j = max(i + 1, int(np.searchsorted(ends, starts[i] + CHUNK, "right")))
        vals = (pa * flat[starts[i]:ends[j - 1]] + pb) % MERSENNE
        sig[i:j] = np.minimum.reduceat(vals, starts[i:j] - starts[i], axis=1).T
        i = j
    return sig


def minhash_signature_map(hashed: DataFrame, n_perms: int,
                          seed: int = MINHASH_SEED) -> DataFrame:
    """``hashed`` with its ``hx array<long>`` column of pre-hashed
    shingles (``hash_shingles``) replaced by ``sig array<long>``, the
    MinHash signature: one row-local Arrow stage running
    ``minhash_kernel`` over each batch (guide §4.2), in place of an
    explode + n_perms-min aggregation (measured ~4× on the 50k-doc
    signature pass; zero shuffle instead of one — the aggregation form
    stays in tests as the reference). Every other input column is
    carried through, so ``(id, hx)`` rows give ``(id, sig)``. Rows
    with NULL or empty hash arrays are dropped, as an explode would."""
    import pyarrow.compute as pc

    out = T.StructType(
        [f for f in hashed.schema.fields if f.name != "hx"]
        + [T.StructField("sig", T.ArrayType(T.LongType()))]
    )

    def run(batches):
        drop_zip_importers()
        for b in batches:
            b = b.filter(pc.greater(pc.fill_null(
                pc.list_value_length(b.column("hx")), 0), 0))
            hx = b.column("hx")
            sig = minhash_kernel(pc.list_flatten(hx).to_numpy(),
                                 pc.list_value_length(hx).to_numpy(),
                                 n_perms, seed)
            yield b.drop_columns("hx").append_column(
                "sig", _list_rows(sig))

    return hashed.mapInArrow(run, out)


def surface_shingles(surfaces: DataFrame, k: int) -> DataFrame:
    """(sid, label, surface, n_mentions, sh, hx): each surface's
    distinct char k-gram shingles and their base hashes, both computed
    in the JVM — the one source of the shingle sets the distributed
    and the driver linking paths work on."""
    sh = char_shingles(F.col("surface"), k)
    return surfaces.select(
        "sid", "label", "surface", "n_mentions", sh.alias("sh")
    ).withColumn("hx", hash_shingles(F.col("sh")))


def _surface_signatures(surfaces: DataFrame, k: int, n_perms: int,
                        seed: int) -> DataFrame:
    """(sid, label, sh, n_sh, sig) of every surface, not yet pinned."""
    return minhash_signature_map(
        surface_shingles(surfaces, k).select(
            "sid", "label", "sh", F.size("sh").alias("n_sh"), "hx"),
        n_perms, seed,
    )


def _banded_signatures(
    surfaces: DataFrame, k: int, n_perms: int, bands: int, seed: int
) -> tuple[DataFrame, tuple[str, ...]]:
    """(sid, label, n_sh, sh, band_idx, band_key…) and its bucket keys:
    the banded MinHash signature table ``lsh_links`` joins on — shared
    with ``lsh_dropped_buckets`` so the recall audit sees the exact
    same band buckets. A bucket lies within one label; band keys are
    exact signature slices (``bands.minhash_bands``), the keys the
    driver tail (``lsh_links_local``) uses too. Not pinned: its one
    consumer is the band-key exchange of ``band_pairs``, which both
    join sides reuse."""
    banded, keys = minhash_bands(n_perms, bands)
    return (_surface_signatures(surfaces, k, n_perms, seed).select(
        "sid", "label", "n_sh", "sh", banded), ("label", *keys))


def lsh_dropped_buckets(
    surfaces: DataFrame,
    k: int = 3,
    n_perms: int = 64,
    bands: int = 32,
    max_bucket: int = LSH_MAX_BUCKET,
    seed: int = MINHASH_SEED,
) -> int:
    """Number of band buckets ``lsh_links`` (same parameters) would DROP
    under its skew guard (``bands.dropped_buckets`` on its banded
    table). The banding miss-probability argument
    — (1-J)^bands at r=1 — silently assumes no true pair ever sits in a
    truncated bucket; this audit makes the assumption checkable: a
    recall-1.0 claim (e.g. q_kg_links_lsh's exact-oracle sharing) is
    valid only while this returns 0 at the claimed scale. At r=1 a band
    key is a single minhash value, so mega-buckets get likelier as the
    corpus grows — monitor this counter in production jobs before
    trusting banding math alone."""
    banded, keys = _banded_signatures(surfaces, k, n_perms, bands, seed)
    return dropped_buckets(banded, keys, max_bucket)


def _exact_jaccard(cand: DataFrame, threshold: float) -> DataFrame:
    """(src, dst, sim) of candidate rows (src, dst, sh_a, n_a, sh_b,
    n_b) whose exact shingle Jaccard, rounded to 6 places, reaches
    ``threshold`` — the verify of every shingle-set pair operator."""
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return cand.select(
        "src",
        "dst",
        F.round(inter / (F.col("n_a") + F.col("n_b") - inter), 6).alias("sim"),
    ).where(F.col("sim") >= threshold)


def lsh_links(
    surfaces: DataFrame,
    k: int = 3,
    n_perms: int = 64,
    bands: int = 32,
    threshold: float = LSH_THRESHOLD,
    max_bucket: int = LSH_MAX_BUCKET,
    seed: int = MINHASH_SEED,
) -> DataFrame:
    """MinHash-LSH candidate generation + exact-Jaccard verification.

    bands×rows = n_perms; a pair collides if any band's row-slice of the
    signature matches (``bands.band_pairs`` within each label). Candidates
    then verified exactly, so the output is a (possibly incomplete,
    tunably-high-recall) subset of ``exact_jaccard_links`` — recall
    measured in tests/bench.
    """
    banded, keys = _banded_signatures(surfaces, k, n_perms, bands, seed)
    cand = band_pairs(
        banded, keys, max_bucket, F.col("a.sid") < F.col("b.sid"),
    ).select(
        F.col("a.sid").alias("src"),
        F.col("b.sid").alias("dst"),
        F.col("a.sh").alias("sh_a"),
        F.col("a.n_sh").alias("n_a"),
        F.col("b.sh").alias("sh_b"),
        F.col("b.n_sh").alias("n_b"),
    )
    return _exact_jaccard(cand.dropDuplicates(["src", "dst"]), threshold)


def _spark_round(x: float, scale: int) -> float:
    """Spark's ``round(x, scale)`` of a double: HALF_UP on its decimal
    string (``BigDecimal.valueOf``, i.e. ``Double.toString``; ``repr``
    is the shortest such string, equal to it on every i/j, j ≤ 300, in
    tests), not Python's round-half-even on the binary value — e.g.
    1/128 = 0.0078125 rounds to 0.007813 here and to 0.007812 in
    Python."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-scale),
                                           ROUND_HALF_UP))


def lsh_links_local(tbl, n_perms: int, bands: int, max_pairs: int):
    """``lsh_links`` on the driver: the (src, dst) pairs it would emit
    with the same ``n_perms`` and ``bands`` and its default threshold,
    bucket bound and seed, from a collected ``surface_shingles`` Arrow
    table — or None once there are more than ``max_pairs`` candidate
    pairs, so the driver never holds more.

    The same steps on the same values: signatures from the JVM-computed
    ``hx`` through ``minhash_kernel``; buckets keyed by (label,
    band_idx, signature slice) joining only while
    ``1 < size ≤ max_bucket``; pairs with a.sid < b.sid; verification by
    exact shingle Jaccard with Spark's ``round(…, 6) >= threshold``.
    Every surface has a non-empty shingle set (``char_shingles`` of a
    string is never empty), so every row gets a signature."""
    import pyarrow.compute as pc

    assert n_perms % bands == 0
    rows = n_perms // bands
    # sid order (Arrow compares strings as UTF-8 bytes, like Spark)
    # makes position order the a.sid < b.sid test
    tbl = tbl.take(pc.sort_indices(tbl.column("sid")))
    sid = tbl.column("sid").to_pylist()
    hx = tbl.column("hx").combine_chunks()
    sig = minhash_kernel(pc.list_flatten(hx).to_numpy(),
                         pc.list_value_length(hx).to_numpy().astype(np.int64),
                         n_perms, MINHASH_SEED)
    label = (tbl.column("label").combine_chunks().dictionary_encode()
             .indices.to_numpy().astype(np.int64))
    pairs = band_pairs_local(
        (np.column_stack([label, sig[:, b * rows:(b + 1) * rows]])
         for b in range(bands)), LSH_MAX_BUCKET, max_pairs)
    if pairs is None:
        return None
    src, dst = pairs
    need = np.unique(np.concatenate([src, dst]))
    sets = dict(zip(need.tolist(),
                    map(set, tbl.column("sh").take(need).to_pylist())))
    out = []
    for a, c in zip(src.tolist(), dst.tolist()):
        inter = len(sets[a] & sets[c])
        sim = inter / (len(sets[a]) + len(sets[c]) - inter)
        if _spark_round(sim, 6) >= LSH_THRESHOLD:
            out.append((sid[a], sid[c]))
    return out
