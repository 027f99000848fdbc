"""Hot-key probe for paragraph_dedup: window plan vs groupBy+join-back.

VERDICT r6 #6: paragraph_dedup's r5→r6 rework replaced the
row_number window (one task sorts EVERY occurrence of a hot
boilerplate paragraph) with groupBy(para).agg(min(struct)) + a
join-back, arguing (a) map-side partial aggregation absorbs the hot
key on the agg side and (b) AQE's skew-join split divides the
probe-heavy join-back freely. Both claims were plausible and
unmeasured. This probe synthesizes the adversarial corpus the
docstring describes — ONE boilerplate paragraph repeated once per
document, ~10^6 documents — and measures, per variant:

- wall-clock of the full operator output (noop sink),
- MAX / MEDIAN task executorRunTime and numTasks of the heaviest
  shuffle-reading stage (Spark UI REST, as tools/salt_probe.py):
  the window variant's hot sort shows up as max ≫ median; numTasks
  above the shuffle-partition count on the groupby variant is AQE's
  skew split actually firing (claim b),
- an order-insensitive output hash proving the two plans compute the
  IDENTICAL (doc_id, text_clean, n_kept, n_dropped) result.

Each variant is measured twice, in the order window, groupby, groupby,
window, and reported by its faster run (min-of-2), so neither variant
gets all of the JVM warm-up; a variant with no attributed shuffle
stage fails the probe instead of reporting an empty stage record.

Variants (both consume the same persisted (doc_id, idx, para) table,
so generation/explode cost is outside the comparison; both run under
the production session config, AQE + skew split ON):
  window  — the r5 shape: keep = row_number() over
            partitionBy(para).orderBy(doc_id, idx) == 1. AQE cannot
            split a window partition: every hot-paragraph row sorts
            in ONE task regardless of config.
  groupby — the shipped shape (operators/dedup.py:376): min-struct
            first-occurrence + join-back + reassembly.

Usage: python tools/paragraph_probe.py [n_docs] [cores]
(defaults 1e6, 8 — the hot paragraph then repeats 10^6 times, 1/3 of
all paragraph rows). Prints one JSON line; BENCH.md records it as a
standing probe.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

# this script's checkout, for the driver and (through PYTHONPATH) its
# Python workers; PYTHONSAFEPATH keeps the workers' working directory,
# maybe another checkout, off the front of their sys.path
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
os.environ["PYTHONSAFEPATH"] = "1"


def _rest(base: str, app_id: str, path: str):
    with urllib.request.urlopen(
        f"{base}/api/v1/applications/{app_id}{path}"
    ) as r:
        return json.load(r)


def _completed_stages(base: str, app_id: str) -> dict:
    out = {}
    for s in _rest(base, app_id, "/stages?status=complete"):
        out[(s["stageId"], s["attemptId"])] = s
    return out


def _task_ms(base: str, app_id: str, stage) -> tuple[float, float]:
    sid, att = stage
    d = _rest(
        base, app_id,
        f"/stages/{sid}/{att}/taskSummary?quantiles=0.5,1.0",
    )
    run = d["executorRunTime"]
    return float(run[1]), float(run[0])  # (max, median)


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 8

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from gliner_spark.session import build_session

    spark = build_session(
        app_name="paragraph-probe", cores=cores,
        shuffle_partitions=cores * 4,
        extra={"spark.ui.enabled": "true", "spark.ui.port": "4048"},
    )
    base = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    # every doc: the SAME boilerplate paragraph + two unique ones.
    # Pre-exploded and persisted so both variants start from the
    # identical in-memory (doc_id, idx, para) table.
    paras = (
        spark.range(n_docs, numPartitions=cores * 2)
        .select(
            F.col("id").alias("doc_id"),
            F.posexplode(
                F.array(
                    F.lit("subscribe to our newsletter for updates"),
                    F.concat(F.lit("unique body "), F.col("id"),
                             F.lit(" alpha")),
                    F.concat(F.lit("unique body "), F.col("id"),
                             F.lit(" beta")),
                )
            ).alias("idx", "para"),
        )
        .persist()
    )
    n_paras = paras.count()  # materialize outside the timed region

    def reassemble(flagged):
        return flagged.groupBy("doc_id").agg(
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
                    "\n",
                ),
                F.lit(""),
            ).alias("text_clean"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
        )

    def window_plan():
        # r5 shape: the hot paragraph's n_docs rows sort in ONE task
        w = Window.partitionBy("para").orderBy("doc_id", "idx")
        return reassemble(
            paras.withColumn("keep", F.row_number().over(w) == 1)
        )

    def groupby_plan():
        # shipped shape (dedup.paragraph_dedup internals, minus the
        # explode the persisted input already paid for both variants)
        firsts = paras.groupBy("para").agg(
            F.min(F.struct("doc_id", "idx")).alias("first")
        )
        return reassemble(
            paras.join(firsts, "para")
            .withColumn(
                "keep",
                (F.col("doc_id") == F.col("first.doc_id"))
                & (F.col("idx") == F.col("first.idx")),
            )
            .drop("first")
        )

    def out_hash(df) -> tuple:
        cols = [F.col(c) for c in sorted(df.columns)]
        row = df.select(
            F.sum(F.pmod(F.xxhash64(*cols), F.lit(1_000_000_007)))
            .alias("h"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        return (row.h, row.n)

    def measure(name: str, make_df) -> dict:
        before = set(_completed_stages(base, app_id))
        t0 = time.monotonic()
        make_df().write.format("noop").mode("overwrite").save()
        wall = time.monotonic() - t0
        time.sleep(0.3)
        stages = _completed_stages(base, app_id)
        # two views of the variant's new shuffle-reading stages: the
        # HEAVIEST (largest max task — where wall time goes) and the
        # most SKEWED (largest max/median — where the hot key shows;
        # the window's single-task hot sort lives here even when the
        # uniform reassembly stage owns the absolute max)
        heavy = skewed = None
        all_stages = []
        for st, info in sorted(stages.items()):
            if st in before or not info.get("shuffleReadBytes", 0):
                continue
            m, md = _task_ms(base, app_id, st)
            rec = {
                "stage": st[0],
                "max_task_ms": round(m, 1),
                "median_task_ms": round(md, 1),
                "num_tasks": info.get("numTasks", 0),
                "shuffle_read_mb": round(
                    info["shuffleReadBytes"] / 1e6, 1
                ),
                "skew": round(m / max(md, 1.0), 2),
            }
            all_stages.append(rec)
            if heavy is None or m > heavy["max_task_ms"]:
                heavy = rec
            if skewed is None or rec["skew"] > skewed["skew"]:
                skewed = rec
        # a variant with no attributed shuffle stage is a broken
        # measurement (stages missed by the REST poll), not a result
        assert all_stages, f"{name}: no shuffle-reading stage attributed"
        h = out_hash(make_df())
        time.sleep(0.2)
        return {
            "name": name,
            "wall_s": round(wall, 3),
            "heaviest_stage": heavy,
            "most_skewed_stage": skewed,
            "shuffle_stages": all_stages,
            "out_hash": h,
        }

    # each variant runs twice, in the order window, groupby, groupby,
    # window, so JVM warm-up and cache effects fall on both alike; each
    # reports its faster run (min-of-2)
    plans = {"window": window_plan, "groupby": groupby_plan}
    runs = [measure(n, plans[n])
            for n in ("window", "groupby", "groupby", "window")]
    results = [min((r for r in runs if r["name"] == n),
                   key=lambda r: r["wall_s"]) for n in plans]
    hashes = {tuple(r["out_hash"]) for r in results}
    report = {
        "probe": "paragraph_hotkey",
        "n_docs": n_docs,
        "n_paras": n_paras,
        "hot_repetitions": n_docs,
        "cores": cores,
        "shuffle_partitions": cores * 4,
        "outputs_identical": len(hashes) == 1,
        "variants": results,
    }
    print(json.dumps(report))
    assert len(hashes) == 1, "variants disagree — probe invalid"
    spark.stop()


if __name__ == "__main__":
    main()
