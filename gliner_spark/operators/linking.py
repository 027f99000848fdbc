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
   Jaccard verification on candidates only. The 100 TB path: candidate
   generation is a single equi-join on (band_idx, band_hash); everything
   stays JVM-side (``xxhash64``/``transform``/``array_min`` — zero
   Python), so whole-stage codegen covers the hot path end-to-end.

Skew: surfaces are distinct strings, so the shingle join's hot keys are
common shingles (e.g. "the"). ``max_bucket`` drops shingle buckets larger
than a cutoff (standard prefix-filter trick: a shingle shared by
thousands of surfaces carries ~no signal and would produce a quadratic
bucket). LSH band buckets are bounded the same way.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# deterministic MinHash permutation modulus: Mersenne prime 2^31-1, small
# enough that (a*x + b) stays under 2^62 — Spark 4 runs ANSI mode, where
# silent 64-bit overflow is an error, so operands must be bounded.
MERSENNE = (1 << 31) - 1


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
    deterministic. plans/kg.py enables this when its hot-key probe
    fires (cfg.salt_buckets / cfg.hot_key_threshold)."""
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


def perm_params(n_perms: int, seed: int = 7):
    """Deterministic (a_i, b_i) affine-permutation parameters."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE), rng.randrange(0, MERSENNE))
        for _ in range(n_perms)
    ]


def minhash_signature_agg(hashed_exploded: DataFrame, id_cols, n_perms: int,
                          seed: int = 7):
    """Signature via explode + map-side-combined min aggregation —
    ~2× faster than nested array transforms at 128 perms (the partial
    agg computes the mins before the shuffle; only id→128 mins move).
    Input: rows (id…, h); output: (id…, sig array<long>)."""
    perms = perm_params(n_perms, seed)
    mins = [
        F.min(
            F.pmod(F.lit(a) * F.col("h") + F.lit(b), F.lit(MERSENNE))
        ).alias(f"_m{i}")
        for i, (a, b) in enumerate(perms)
    ]
    agg = hashed_exploded.groupBy(*id_cols).agg(*mins)
    return agg.select(
        *id_cols, F.array(*[F.col(f"_m{i}") for i in range(n_perms)]).alias("sig")
    )


def minhash_signature_map(hashed: DataFrame, n_perms: int, seed: int = 7,
                          id_col: str = "sid") -> DataFrame:
    """(id, sig array<long>) from rows ``(id, hx array<long>)`` of
    pre-hashed shingles (``hash_shingles``) — the row-local numpy form
    of ``minhash_signature_agg`` (guide §4.2): one Arrow stage computes
    every permutation of a whole batch with one (n_perms × N) int64
    broadcast-multiply + ``minimum.reduceat`` along the contiguous
    shingle axis, replacing the explode + n_perms-min aggregation
    (measured ~4× on the 50k-doc signature pass; zero shuffle instead
    of one). The (n_perms × N) layout makes each per-doc min a
    contiguous run: the reduction over an (N × n_perms) array along
    axis 0 walks memory with an n_perms stride and took ~16× longer
    (0.08 vs 0.005 s per 51k shingles; ~2× on the whole kernel).

    Value-identical to the agg form by construction: shared
    ``perm_params``; h ∈ [0, M) and a, b < M = 2³¹−1 keep
    a·h + b < 2⁶² + 2³¹ inside int64, and numpy ``%`` on non-negatives
    equals Spark ``pmod`` (pinned in tests). Rows with NULL or empty
    hash arrays are dropped — exactly what ``explode`` did in the agg
    form. The flat workspace is chunked (doc-aligned) so peak memory is
    ~CHUNK × n_perms × 8 B regardless of batch size."""
    import pandas as pd

    perms = perm_params(n_perms, seed)
    pa = np.array([p[0] for p in perms], dtype=np.int64)[:, None]
    pb = np.array([p[1] for p in perms], dtype=np.int64)[:, None]
    # flat hashes per workspace chunk: bounds the (CHUNK × n_perms)
    # int64 buffer at ~64 MB for 128 perms PER TASK — sized for
    # cores-per-executor concurrent tasks inside a few-GB Python
    # overhead budget (guide §5), not for this sandbox's headroom
    CHUNK = 65_536

    def run(batches):
        for pdf in batches:
            keep = [
                (i, np.asarray(x, dtype=np.int64))
                for i, x in enumerate(pdf["hx"])
                if x is not None and len(x)
            ]
            if not keep:
                yield pd.DataFrame({id_col: pdf[id_col][:0], "sig": []})
                continue
            ids = pdf[id_col].iloc[[i for i, _ in keep]]
            arrs = [x for _, x in keep]
            lens = np.fromiter((len(x) for x in arrs), dtype=np.int64,
                               count=len(arrs))
            sig = np.empty((len(arrs), n_perms), dtype=np.int64)
            i = 0
            while i < len(arrs):
                j, tot = i, 0
                while j < len(arrs) and (j == i or tot + lens[j] <= CHUNK):
                    tot += lens[j]
                    j += 1
                flat = np.concatenate(arrs[i:j])
                vals = (pa * flat + pb) % MERSENNE  # (n_perms, shingles)
                starts = np.zeros(j - i, dtype=np.int64)
                np.cumsum(lens[i:j][:-1], out=starts[1:])
                sig[i:j] = np.minimum.reduceat(vals, starts, axis=1).T
                i = j
            yield pd.DataFrame({id_col: ids, "sig": list(sig)})

    return hashed.mapInPandas(run, f"{id_col} {hashed.schema[id_col].dataType.simpleString()}, sig array<long>")


def minhash_signature(hashed_col, n_perms: int, seed: int = 7):
    """Array of n_perms MinHash values over pre-hashed shingle ints
    (``hash_shingles``) — pure SQL expressions, no Python.

    Permutation i: h_i(x) = (a_i * x + b_i) mod M31, (a_i, b_i) derived
    deterministically from the seed. Same values as
    ``minhash_signature_agg`` (shared ``perm_params``); this expression
    form suits small inputs (no shuffle), the agg form big ones.
    """

    def perm(a: int, b: int):
        # factory (not default-arg lambda): F.transform inspects arity
        def h(x):
            return F.pmod(F.lit(a) * x + F.lit(b), F.lit(MERSENNE))

        return h

    mins = [
        F.array_min(F.transform(hashed_col, perm(a, b)))
        for a, b in perm_params(n_perms, seed)
    ]
    return F.array(*mins)


def _banded_signatures(
    surfaces: DataFrame, k: int, n_perms: int, bands: int, seed: int
) -> DataFrame:
    """(sid, label, n_sh, sh, band_idx, band_hash): the banded MinHash
    signature table ``lsh_links`` joins on — shared with
    ``lsh_dropped_buckets`` so the recall audit sees the exact same
    band keys."""
    assert n_perms % bands == 0
    rows = n_perms // bands
    sh = surfaces.withColumn("sh", char_shingles(F.col("surface"), k)).select(
        "sid", "label", "surface", "sh", F.size("sh").alias("n_sh")
    )
    # materialized ONCE (guide §2.4): the signature table is consumed by
    # the bucket-guard aggregation and the pruned join side in lsh_links
    # (and once in lsh_dropped_buckets) — each reference otherwise
    # re-runs the surfaces aggregation over the full mentions table plus
    # the shingle + 64-permutation MinHash expressions. The table is
    # surface-universe-sized (vocabulary-bounded).
    sig = sh.withColumn("hx", hash_shingles(F.col("sh"))).withColumn(
        "sig", minhash_signature(F.col("hx"), n_perms, seed)
    ).drop("hx").localCheckpoint()
    return sig.select(
        "sid",
        "label",
        "n_sh",
        "sh",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.hash(F.slice(F.col("sig"), i * rows + 1, rows)),
            )
        ).alias("band_idx", "band_hash"),
    )


def lsh_dropped_buckets(
    surfaces: DataFrame,
    k: int = 3,
    n_perms: int = 64,
    bands: int = 32,
    max_bucket: int = 2000,
    seed: int = 7,
) -> int:
    """Number of band buckets ``lsh_links`` (same parameters) would DROP
    under its skew guard. The banding miss-probability argument
    — (1-J)^bands at r=1 — silently assumes no true pair ever sits in a
    truncated bucket; this audit makes the assumption checkable: a
    recall-1.0 claim (e.g. q_kg_links_lsh's exact-oracle sharing) is
    valid only while this returns 0 at the claimed scale. At r=1 a band
    key is a single minhash value, so mega-buckets get likelier as the
    corpus grows — monitor this counter in production jobs before
    trusting banding math alone."""
    banded = _banded_signatures(surfaces, k, n_perms, bands, seed)
    return (
        banded.groupBy("label", "band_idx", "band_hash")
        .agg(F.count(F.lit(1)).alias("bn"))
        .where(F.col("bn") > max_bucket)
        .count()
    )


def lsh_links(
    surfaces: DataFrame,
    k: int = 3,
    n_perms: int = 64,
    bands: int = 32,
    threshold: float = 0.30,
    max_bucket: int = 2000,
    seed: int = 7,
) -> DataFrame:
    """MinHash-LSH candidate generation + exact-Jaccard verification.

    bands×rows = n_perms; a pair collides if any band's row-slice of the
    signature matches. Candidates then verified exactly, so the output is
    a (possibly incomplete, tunably-high-recall) subset of
    ``exact_jaccard_links`` — recall measured in tests/bench.
    """
    banded = _banded_signatures(surfaces, k, n_perms, bands, seed)
    # bound pathological band buckets (skew guard)
    bucket = (
        banded.groupBy("label", "band_idx", "band_hash")
        .agg(F.count(F.lit(1)).alias("bn"))
        .where((F.col("bn") > 1) & (F.col("bn") <= max_bucket))
        .select("label", "band_idx", "band_hash")
    )
    pruned = banded.join(bucket, ["label", "band_idx", "band_hash"])
    a = pruned.alias("a")
    b = pruned.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.sid") < F.col("b.sid")),
        )
        .select(
            F.col("a.sid").alias("src"),
            F.col("b.sid").alias("dst"),
            F.col("a.sh").alias("sh_a"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.sh").alias("sh_b"),
            F.col("b.n_sh").alias("n_b"),
        )
        .dropDuplicates(["src", "dst"])
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return cand.select(
        "src",
        "dst",
        F.round(
            inter / (F.col("n_a") + F.col("n_b") - inter), 6
        ).alias("sim"),
    ).where(F.col("sim") >= threshold)
