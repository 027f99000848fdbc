"""Cosine link scoring over hashed character-n-gram span embeddings.

North-star wording (BASELINE.json): "MinHash-LSH blocked entity linking
with cosine scoring over span embeddings". The blocking lives in
operators/linking.py; this module supplies the embedding and the cosine
scorer, both pure Catalyst:

- ``md5_gram_vectors``: deterministic hashing-trick embedding — each
  distinct char k-gram votes ±1 into a hashed bucket, with the gram
  hash the 60-bit md5 fold, so a DuckDB oracle recomputes every vector
  entry exactly;
- ``cosine_links_md5``: candidate pairs → cosine over those vectors ≥
  threshold. Candidates come from a blocking join, so no cross product
  exists anywhere.

Deterministic by construction (md5 gram hashing, fixed sign bit), so
results are reproducible across runs/processes — required for the
driver's repeated-run comparisons.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .linking import char_shingles


def md5_gram_vectors(
    surfaces: DataFrame, dim: int = 64, k: int = 3,
    id_col: str = "sid", text_col: str = "surface",
) -> DataFrame:
    """Sparse (sid, bucket, v) hashing-trick vector whose gram hash is
    the 60-bit md5 fold (``dedup.md5_hash60``): each distinct char
    k-gram adds ±1 to bucket h mod dim, with the sign from a high hash
    bit. Pure Catalyst — no Python stage at all."""
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
    """Cosine over the md5-gram vectors: candidates(src, dst)
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
