"""Span/surface embeddings + cosine link scoring.

North-star wording (BASELINE.json): "MinHash-LSH blocked entity linking
with cosine scoring over span embeddings". The blocking lives in
operators/linking.py; this module supplies the embedding and the cosine
scorer:

- ``embed_surfaces``: deterministic hashing-trick character-n-gram
  embedding (Arrow-batched pandas stage; the surrogate for a real
  encoder exactly like SurrogateScorer is for the ONNX model — swap in
  an ONNX sentence encoder behind the same (strings → float32[dim])
  contract at scale).
- ``cosine_links``: LSH candidate pairs → cosine over embeddings ≥
  threshold. Candidates come from the MinHash band join, so no cross
  product exists anywhere; cosine is computed JVM-side
  (``similarity.cosine_expr``).

Deterministic by construction (FNV-1a n-gram hashing, fixed sign trick),
so results are reproducible across runs/processes — required for the
driver's repeated-run comparisons.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .linking import char_shingles, entity_surfaces  # noqa: F401 (re-export)
from .similarity import cosine_expr
from .util import drop_zip_importers, ensure_parallelism

EMBED_SCHEMA = T.StructType(
    [
        T.StructField("sid", T.StringType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


def embed_text(text: str, dim: int = 64, k: int = 3) -> np.ndarray:
    """Hashing-trick char-n-gram embedding: each n-gram adds ±1 to a
    hashed bucket (sign from a second hash bit), L2-normalized.

    Single-string reference kernel; the Spark stage uses the
    numpy-vectorized ``embed_texts`` (identical values, asserted in
    tests/test_linking.py)."""
    return embed_texts([text], dim, k)[0]


def _fnv1a_batch(grams: list) -> np.ndarray:
    """FNV-1a over many UTF-8 strings at once: byte-column loop with an
    active-length mask — ≤ max-gram-bytes vectorized steps instead of a
    per-gram per-byte Python loop. Bit-identical to ``hash_str_64``
    (uint64 arithmetic wraps mod 2⁶⁴ exactly like the masked Python int)."""
    if not grams:
        return np.empty(0, dtype=np.uint64)
    bs = [g.encode("utf-8") for g in grams]
    lens = np.fromiter((len(b) for b in bs), dtype=np.int64, count=len(bs))
    maxlen = int(lens.max()) if len(lens) else 0
    arr = np.zeros((len(bs), maxlen), dtype=np.uint8)
    for i, b in enumerate(bs):
        arr[i, : len(b)] = np.frombuffer(b, dtype=np.uint8)
    h = np.full(len(bs), 0xCBF29CE484222325, dtype=np.uint64)
    prime = np.uint64(0x100000001B3)
    for j in range(maxlen):
        active = lens > j
        h[active] = (h[active] ^ arr[active, j].astype(np.uint64)) * prime
    return h


def embed_texts(texts, dim: int = 64, k: int = 3) -> np.ndarray:
    """Vectorized batch form of ``embed_text``: one (n_texts, dim)
    float32 matrix; all gram hashing and the ±1 scatter run in numpy."""
    gram_list: list = []
    owners: list = []
    for ti, t in enumerate(texts):
        n = len(t)
        grams = (
            {t[i:i + k] for i in range(max(1, n - k + 1))} if n else set()
        )
        gram_list.extend(grams)
        owners.extend([ti] * len(grams))
    v = np.zeros((len(texts), dim), dtype=np.float64)
    hs = _fnv1a_batch(gram_list)
    if len(hs):
        sign = np.where(
            (hs >> np.uint64(63)) & np.uint64(1) == 0, 1.0, -1.0
        )
        cols = (hs % np.uint64(dim)).astype(np.int64)
        np.add.at(v, (np.asarray(owners, dtype=np.int64), cols), sign)
    norms = np.linalg.norm(v, axis=1)
    norms[norms == 0] = 1.0
    return (v / norms[:, None]).astype(np.float32)


def embed_surfaces(
    surfaces: DataFrame, dim: int = 64, k: int = 3,
    id_col: str = "sid", text_col: str = "surface",
) -> DataFrame:
    """(sid, embedding float32[dim]) via mapInPandas."""
    src = ensure_parallelism(
        surfaces.select(
            F.col(id_col).cast("string").alias("sid"),
            F.col(text_col).alias("text"),
        )
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        for pdf in batches:
            mat = embed_texts(pdf["text"].tolist(), dim, k)
            yield pd.DataFrame(
                {
                    "sid": pdf["sid"],
                    "embedding": list(mat),
                }
            )

    return src.mapInPandas(run, schema=EMBED_SCHEMA)


def cosine_links(
    surfaces: DataFrame,
    candidates: DataFrame,
    threshold: float = 0.60,
    dim: int = 64,
) -> DataFrame:
    """candidates(src, dst, …) × embeddings → (src, dst, cos) with
    cosine ≥ threshold. Embeddings join onto the (small) candidate set;
    the dot product runs in whole-stage codegen."""
    emb = embed_surfaces(surfaces, dim=dim)
    ea = emb.select(F.col("sid").alias("src"), F.col("embedding").alias("va"))
    eb = emb.select(F.col("sid").alias("dst"), F.col("embedding").alias("vb"))
    return (
        candidates.select("src", "dst")
        .join(ea, "src")
        .join(eb, "dst")
        .select(
            "src",
            "dst",
            F.round(
                cosine_expr(
                    F.transform(F.col("va"), lambda x: x.cast("double")),
                    F.transform(F.col("vb"), lambda x: x.cast("double")),
                ),
                6,
            ).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def md5_gram_vectors(
    surfaces: DataFrame, dim: int = 64, k: int = 3,
    id_col: str = "sid", text_col: str = "surface",
) -> DataFrame:
    """Sparse (sid, bucket, v) hashing-trick vector whose gram hash is
    the 60-bit md5 fold (``dedup.md5_hash60``) — the SQL-reproducible
    twin of ``embed_texts``'s FNV path: identical ±1 bucket-vote
    construction (distinct char k-grams, bucket = h mod dim, sign from
    a high hash bit), different hash family, so a DuckDB oracle
    recomputes every vector entry exactly. Pure Catalyst — no Python
    stage at all (the FNV path needs numpy; this one doesn't)."""
    from .dedup import md5_hash60

    grams = char_shingles(F.col(text_col), k)
    sign = F.when(
        F.shiftright(F.col("h"), 59).bitwiseAND(F.lit(1)) == 0, F.lit(1)
    ).otherwise(F.lit(-1))
    return (
        surfaces.select(
            F.col(id_col).alias("sid"), F.explode(grams).alias("gram")
        )
        .withColumn("h", md5_hash60(F.col("gram")))
        .groupBy("sid", F.pmod(F.col("h"), F.lit(dim)).alias("bucket"))
        .agg(F.sum(sign).alias("v"))
    )


def cosine_links_md5(
    surfaces: DataFrame,
    candidates: DataFrame,
    threshold: float = 0.50,
    dim: int = 64,
    k: int = 3,
) -> DataFrame:
    """``cosine_links`` over the md5-gram vectors: candidates(src, dst)
    → (src, dst, cos) with cosine ≥ threshold. The dot product is a
    bucket equi-join + integer multiply-sum (vector entries are integer
    votes, so the only floats are the two norms and the final divide —
    no accumulation-order hazard for the oracle comparison). Everything
    is whole-stage codegen; the vector table is surface-universe-sized
    (vocabulary-bounded), so both joins broadcast at any corpus scale."""
    # materialized ONCE (guide §2.4): the sparse vector table is
    # referenced FOUR times below (va, vb, and the two norm sides) and
    # every reference otherwise re-runs the gram explode + md5 +
    # bucket-vote aggregation — each of which itself re-aggregates the
    # full mentions table into surfaces. The r6 plan for kg_links_cosine
    # carried 59 Exchange nodes for this reason. The table is
    # surface-universe-sized (vocabulary-bounded), so the pin is tiny.
    vec = md5_gram_vectors(surfaces, dim=dim, k=k).localCheckpoint()
    norm = vec.groupBy("sid").agg(
        F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nrm")
    )
    va = vec.select(
        F.col("sid").alias("src"), "bucket", F.col("v").alias("va")
    )
    vb = vec.select(
        F.col("sid").alias("dst"), "bucket", F.col("v").alias("vb")
    )
    na = norm.select(F.col("sid").alias("src"), F.col("nrm").alias("na"))
    nb = norm.select(F.col("sid").alias("dst"), F.col("nrm").alias("nb"))
    dots = (
        candidates.select("src", "dst")
        .join(va, "src")
        .join(vb, ["dst", "bucket"])
        .groupBy("src", "dst")
        .agg(F.sum(F.col("va") * F.col("vb")).alias("dot"))
    )
    return (
        dots.join(na, "src")
        .join(nb, "dst")
        .select(
            "src", "dst",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6)
            .alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def lsh_cosine_links(
    mentions: DataFrame,
    threshold: float = 0.50,
    dim: int = 64,
) -> DataFrame:
    """The full north-star linking stage: mention surfaces → MinHash-LSH
    candidate blocking → cosine scoring over span embeddings."""
    from .linking import lsh_links

    surfaces = entity_surfaces(mentions)
    # LSH with a permissive Jaccard floor purely as the blocker; the
    # decision threshold is the cosine
    candidates = lsh_links(surfaces, threshold=0.1)
    return cosine_links(surfaces, candidates, threshold=threshold, dim=dim)
