"""AllPairs prefix-filter scale evidence (VERDICT r4 #6).

Quantifies, at a 500k-page synthetic corpus, what the prefix-filter
index (operators/dedup.ngram_jaccard_dups) saves over the full
inverted-index formulation of the SAME exact join:

- candidate volume for BOTH formulations via the analytic identity
  Σ_bucket C(n_b, 2) — the exact row count of the bucket self-join
  before size-filter/dedup, computed as an aggregation (the full-index
  join itself is deliberately NOT executed at 500k: its ~1e9 candidate
  rows are the scale-kill this probe documents);
- the prefix-filter operator executed END-TO-END at 500k pages (wall
  time + verified-pair output count + dropped-bucket audit = 0, so the
  run is exact);
- both formulations executed end-to-end at a small control size, with
  output-set equality asserted (the filtering theorem, checked).

Usage:  python tools/allpairs_probe.py [pages=500000] [control=20000]
Prints one JSON line; numbers go to SCALE.md / BENCH notes.
"""

from __future__ import annotations

import json
import os
import sys
import time

# this script's checkout, for the driver and (through PYTHONPATH) its
# Python workers; PYTHONSAFEPATH keeps the workers' working directory,
# maybe another checkout, off the front of their sys.path
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
os.environ["PYTHONSAFEPATH"] = "1"

from pyspark.sql import functions as F  # noqa: E402

from gliner_spark.operators.dedup import (  # noqa: E402
    _prefix_index,
    _prefix_rows,
    ngram_jaccard_dups,
    ngram_prefix_dropped_buckets,
    word_shingles,
)
from gliner_spark.session import build_session  # noqa: E402
from gliner_spark.sources.pages import synthesize_pages  # noqa: E402

K, T = 3, 0.8


def _docs(spark, n):
    return synthesize_pages(spark, n).select(
        F.xxhash64("url").alias("doc_id"), "text"
    )


def _pair_volume(exploded, key_cols) -> int:
    """Exact self-join row count Σ C(n_b, 2) without running the join."""
    return int(
        exploded.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.expr("n * (n - 1) / 2")).alias("pairs"))
        .collect()[0]["pairs"]
    )


def main() -> None:
    pages = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    control = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000
    spark = build_session(app_name="allpairs-probe", cores=16)

    docs = _docs(spark, pages).localCheckpoint()

    # candidate volumes, both formulations, same corpus
    full_idx = docs.select(
        "doc_id", F.explode(word_shingles(F.col("text"), K)).alias("shingle")
    )
    vol_full = _pair_volume(full_idx, ["shingle"])
    pref = _prefix_rows(_prefix_index(docs, K, "doc_id", "text"), T)
    vol_prefix = _pair_volume(pref, ["shingle"])

    dropped = ngram_prefix_dropped_buckets(
        docs, k=K, threshold=T, max_bucket=10_000_000
    )  # uncapped audit: how hot is the hottest prefix bucket really?

    # prefix-filter operator end-to-end at full probe size
    t0 = time.monotonic()
    n_out = ngram_jaccard_dups(
        docs, k=K, threshold=T, max_bucket=10_000_000
    ).count()
    wall_prefix = round(time.monotonic() - t0, 1)

    # control size: both formulations executed, outputs must be equal
    ctrl = _docs(spark, control).localCheckpoint()

    def full_index_pairs(d):
        sh = d.select(
            F.col("doc_id").alias("sid"),
            F.sort_array(word_shingles(F.col("text"), K)).alias("sh"),
        ).select("sid", "sh", F.size("sh").alias("n_sh"))
        idx = sh.select(
            "sid", "n_sh", F.explode("sh").alias("shingle")
        )
        a, b = idx.alias("a"), idx.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.sid") < F.col("b.sid")),
            )
            .select(F.col("a.sid").alias("src"), F.col("b.sid").alias("dst"))
            .dropDuplicates(["src", "dst"])
        )
        sa = sh.select(F.col("sid").alias("src"), F.col("sh").alias("sh_a"),
                       F.col("n_sh").alias("n_a"))
        sb = sh.select(F.col("sid").alias("dst"), F.col("sh").alias("sh_b"),
                       F.col("n_sh").alias("n_b"))
        inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
        return (
            cand.join(sa, "src").join(sb, "dst")
            .select("src", "dst",
                    F.round(inter / (F.col("n_a") + F.col("n_b") - inter),
                            6).alias("sim"))
            .where(F.col("sim") >= T)
        )

    t0 = time.monotonic()
    got_full = {(r.src, r.dst, r.sim) for r in full_index_pairs(ctrl).collect()}
    wall_ctrl_full = round(time.monotonic() - t0, 1)
    t0 = time.monotonic()
    got_pref = {
        (r.src, r.dst, r.sim)
        for r in ngram_jaccard_dups(ctrl, k=K, threshold=T,
                                    max_bucket=10_000_000).collect()
    }
    wall_ctrl_pref = round(time.monotonic() - t0, 1)
    assert got_full == got_pref, (
        f"filtering theorem violated: full={len(got_full)} "
        f"prefix={len(got_pref)}"
    )

    print(json.dumps({
        "pages": pages,
        "candidate_join_rows_full_index": vol_full,
        "candidate_join_rows_prefix": vol_prefix,
        "reduction_x": round(vol_full / max(vol_prefix, 1), 1),
        "prefix_dropped_buckets_uncapped": dropped,
        "verified_pairs_out": n_out,
        "wall_prefix_end_to_end_s": wall_prefix,
        "control_pages": control,
        "control_pairs": len(got_pref),
        "control_outputs_equal": True,
        "wall_control_full_s": wall_ctrl_full,
        "wall_control_prefix_s": wall_ctrl_pref,
    }))


if __name__ == "__main__":
    main()
