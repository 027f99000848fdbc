"""Skew handling: hot-key detection + salted joins.

The north star calls for skewed domains to be salted before the
link-scoring shuffle (BASELINE.json). AQE's skew-join splitting covers
sort-merge joins it can see, but not aggregations feeding
``applyInPandas`` groups or joins hidden behind round-trips — there an
explicit salt is the answer (SURVEY.md §4):

- ``hot_keys``: one cheap aggregation pass returning keys whose row
  count exceeds a threshold (at 10^12 rows run it on a sample:
  ``df.sample(0.001)`` with the threshold scaled — same API).
- ``salted_equi_join``: big side gets a random-but-deterministic salt in
  [0, n_salts) on hot keys (0 on cold); small side is exploded ×n_salts
  for hot keys only. Join on (key, salt). Result set identical to the
  plain join; the hot key's rows now spread over n_salts reducers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hot_keys(df: DataFrame, key: str, threshold: int) -> DataFrame:
    """Keys with more than ``threshold`` rows. One shuffle, tiny output."""
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > threshold)
        .select(key)
    )


def salted_equi_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 8,
    threshold: int = 100_000,
    how: str = "inner",
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """Equi-join with per-hot-key salting; output ≡ ``big.join(small,
    key, how)`` for inner/left joins on the big side.

    The salt is a pure function of the big-side row (xxhash64 over ALL
    its columns, or ``salt_cols`` if given): deterministic across task
    retries and stage recomputation — a row always lands on the same
    salt, so a fetch-failure recompute cannot duplicate or lose joined
    rows (the SPARK-23207 class of hazard a
    ``monotonically_increasing_id`` salt would reintroduce).

    PRECONDITION: the big side's NON-KEY columns must vary within a hot
    key, or the content salt degenerates to one value and the skew goes
    unmitigated (e.g. a projection containing only the join key —
    identical rows all hash to the same salt). When the caller can't
    guarantee that, pass ``salt_cols`` naming a stable per-row
    discriminator (a row id, source offset, url …) to salt on instead.
    """
    hk = hot_keys(big, key, threshold).withColumn("_hot", F.lit(True))
    row_hash = F.xxhash64(*[F.col(c) for c in (salt_cols or big.columns)])

    b = big.join(F.broadcast(hk), key, "left").withColumn(
        "_salt",
        F.when(
            F.col("_hot").isNotNull(),
            F.pmod(row_hash, F.lit(n_salts)).cast("int"),
        ).otherwise(F.lit(0)),
    ).drop("_hot")

    s = small.join(F.broadcast(hk), key, "left").withColumn(
        "_salts",
        F.when(
            F.col("_hot").isNotNull(),
            F.sequence(F.lit(0), F.lit(n_salts - 1)),
        ).otherwise(F.array(F.lit(0))),
    ).drop("_hot")
    s = s.withColumn("_salt", F.explode("_salts")).drop("_salts")

    return b.join(s, [key, "_salt"], how).drop("_salt")
