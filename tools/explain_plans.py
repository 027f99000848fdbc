"""Plan audit: prints formatted physical plans for the key operators and
greps for the properties that matter at 100 TB — predicate/column
pushdown into the parquet scan, broadcast joins on small sides, and
whole-stage codegen coverage. Run:  python tools/explain_plans.py
"""

from __future__ import annotations

import io
import re
import os
import sys
from contextlib import redirect_stdout

# the checkout this script belongs to
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from gliner_spark.kernels.scorer import SOUP_LABELS  # noqa: E402
from gliner_spark.operators.linking import (  # noqa: E402
    _surface_signatures,
    entity_surfaces,
    lsh_links,
)
from gliner_spark.operators.ner import extract_mentions  # noqa: E402
from gliner_spark.operators.relations import extract_relations  # noqa: E402
from gliner_spark.session import build_session  # noqa: E402

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def executed_plan_of(df) -> str:
    """Final (post-AQE) physical plan — the only place codegen `*(n)`
    markers appear once adaptive execution is on. Must execute THIS
    df's own QueryExecution (collect), not a write command's."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def check(name: str, plan: str, expects: dict[str, bool]):
    print(f"\n=== {name} ===")
    ok = True
    for needle, want in expects.items():
        has = needle in plan
        status = "OK " if has == want else "BAD"
        if has != want:
            ok = False
        print(f"  [{status}] {'contains' if want else 'absent '} {needle!r}"
              f" -> {has}")
    if not ok:
        print(plan)
    return ok


def band_join_check(name: str, plan: str) -> bool:
    """The shared guarded band self-join (operators/bands.band_pairs):
    exactly ONE join on the band keys, its skew guard a window count
    (the join's own exchange), and no guard aggregation on the band
    keys joined back."""
    n_joins = len(re.findall(r"Join \[[^\]]*band_idx", plan))
    n_guard_aggs = len(re.findall(r"HashAggregate\(keys=\[[^\]]*band_idx",
                                  plan))
    window = "Window [count(1)" in plan
    ok = n_joins == 1 and n_guard_aggs == 0 and window
    print(f"  [{'OK ' if ok else 'BAD'}] {name}: {n_joins} band join(s), "
          f"{n_guard_aggs} band-key aggregation(s), window guard {window}")
    if not ok:
        print(plan)
    return ok


def main() -> int:
    spark = build_session(cores=8)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bad = 0

    # 1. NER: column pruning — only doc_id+text read; the operator adds
    # no shuffle ABOVE the Python stage (the Exchange below it is the
    # local-file parallelism guard, absent on real multi-split scans)
    m = extract_mentions(docs, SOUP_LABELS, id_col="doc_id")
    p = plan_of(m)
    above_map = p.split("MapInPandas")[0]
    bad += not check(
        "ner_mentions (column pruning, shuffle-free above Python stage)",
        p,
        {"ReadSchema: struct<doc_id:bigint,text:string>": True,
         "ArrowEvalPython": False},  # mapInPandas, not per-row python
    )
    bad += not check(
        "ner_mentions (no shuffle above mapInPandas)",
        above_map,
        {"Exchange": False},
    )

    # 2. filter pushdown reaches the scan through mapInPandas inputs
    flt = docs.where(F.col("lang") == "en").select("doc_id", "text")
    p = plan_of(flt)
    bad += not check(
        "filtered scan (predicate pushdown)",
        p,
        {"PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]": True},
    )

    # 3. relations: rule table broadcast; single doc_id shuffle reused;
    # codegen markers only visible on the executed (final) AQE plan
    t = extract_relations(m.repartition("doc_id"))
    p = executed_plan_of(t)
    bad += not check(
        "ner_triples (broadcast rules, codegen join)",
        p,
        {"BroadcastHashJoin": True, "*(": True},
    )

    # 4. linking LSH: shingles and their hashes JVM-side, the MinHash in
    # ONE row-local Arrow stage (mapInPandas, never a row-at-a-time
    # Python UDF); the band join itself codegen'd. The surfaces are
    # pinned so the NER stage's own mapInPandas is not counted.
    surf = entity_surfaces(m).localCheckpoint()
    p = executed_plan_of(_surface_signatures(surf, 3, 64, 7)).split(
        "== Initial Plan ==")[0]
    n_map = p.count("MapInPandas")
    ok4 = n_map == 1
    print(f"\n=== kg_links_lsh (numpy minhash stage) ===\n"
          f"  [{'OK ' if ok4 else 'BAD'}] one MapInPandas -> {n_map}")
    bad += not ok4
    bad += not check(
        "kg_links_lsh (no row-at-a-time Python)",
        p,
        {"ArrowEvalPython": False, "BatchEvalPython": False},
    )
    p = executed_plan_of(lsh_links(surf)).split("== Initial Plan ==")[0]
    bad += not check(
        "kg_links_lsh (codegen band join)",
        p,
        {"ArrowEvalPython": False, "BatchEvalPython": False, "*(": True},
    )
    bad += not band_join_check("kg_links_lsh", p)

    # 4a. the dedup band joins run through the same guarded self-join
    from gliner_spark.operators.dedup import minhash_dups, simhash_dups

    print("\n=== dedup band joins (one guarded band self-join) ===")
    for name, df in (("dedup_minhash", minhash_dups(docs)),
                     ("dedup_simhash", simhash_dups(docs))):
        bad += not band_join_check(
            name, executed_plan_of(df).split("== Initial Plan ==")[0])

    # 4b. build_kg below the driver-row bound: the linking tail is one
    # driver pass, so the nodes are a LocalTableScan, and the edges
    # broadcast-join the LocalTableScan entity map (once per side) with
    # no band self-join anywhere in their plan
    from gliner_spark.plans.kg import build_kg

    kg = build_kg(docs, SOUP_LABELS, id_col="doc_id")
    bad += not check(
        "build_kg nodes (driver tail)",
        plan_of(kg.nodes),
        {"LocalTableScan": True, "Exchange": False, "MapInPandas": False},
    )
    p = kg.edges._jdf.queryExecution().executedPlan().toString()
    n_map_joins = len(re.findall(
        r"BroadcastExchange[^\n]*\n[\s:|]*\+- LocalTableScan \[e_label", p))
    ok4b = n_map_joins == 2 and "band_" not in p
    print(f"  [{'OK ' if ok4b else 'BAD'}] build_kg edges: {n_map_joins} "
          f"broadcast LocalTableScan entity map(s), band join "
          f"{'band_' in p}")
    if not ok4b:
        print(p)
    bad += not ok4b
    # build_kg's triples are its pinned NER pass exploded: the pairing
    # ran inside the one MapInPandas, so no Exchange (mentions shuffle)
    # and no join sit above it
    p = kg.triples._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan ==")[0]
    n_map = p.count("MapInPandas")
    above = p.split("MapInPandas")[0]
    ok4c = n_map == 1 and "Exchange" not in above and "Join" not in above
    print(f"  [{'OK ' if ok4c else 'BAD'}] build_kg triples: {n_map} "
          f"MapInPandas, Exchange above it {'Exchange' in above}, "
          f"join above it {'Join' in above}")
    if not ok4c:
        print(p)
    bad += not ok4c

    # 5. bpe token counting: pure Catalyst (regexp_extract_all inside
    # codegen — zero Python stage)
    from gliner_spark.operators.textstats import bpe_token_stats

    p = executed_plan_of(bpe_token_stats(docs))
    bad += not check(
        "bpe_token_stats (JVM-side regex, codegen)",
        p,
        {"ArrowEvalPython": False, "BatchEvalPython": False,
         "MapInPandas": False, "*(": True},
    )

    # 6. salted surface aggregation: exactly ONE exchange more than the
    # plain form (partial by (label, surface, salt) + final by
    # (label, surface); any exchanges below the Python stage — the
    # local-file parallelism guard — appear in both plans)
    n_plain = plan_of(entity_surfaces(m)).count("Exchange (")
    n_salted = plan_of(entity_surfaces(m, salt_buckets=8)).count(
        "Exchange ("
    )
    print("\n=== salted entity_surfaces (two-phase agg) ===")
    ok6 = n_salted == n_plain + 1
    print(f"  [{'OK ' if ok6 else 'BAD'}] salted exchanges == plain+1 "
          f"-> {n_salted} vs {n_plain}")
    bad += not ok6

    # 7. md5-gram cosine twin: pure Catalyst end to end — the embedding
    # votes, norms, bucket-join dot product and threshold must all run
    # JVM-side (no Python stage of any kind), with codegen spans
    from gliner_spark.operators.embed import cosine_links_md5

    surf = spark.createDataFrame(
        [("a", "kyiv city"), ("b", "kyiv cty")],
        "sid string, surface string",
    )
    cands = spark.createDataFrame([("a", "b")], "src string, dst string")
    p = executed_plan_of(cosine_links_md5(surf, cands, threshold=-1.0))
    bad += not check(
        "cosine_links_md5 (pure Catalyst, codegen)",
        p,
        {"ArrowEvalPython": False, "BatchEvalPython": False,
         "MapInPandas": False, "*(": True},
    )

    # 8. paragraph dedup: pure Catalyst (segmentation, first-occurrence
    # window, reassembly agg — zero Python), column-pruned scan
    from gliner_spark.operators.dedup import paragraph_dedup

    p = executed_plan_of(paragraph_dedup(docs, window_words=10))
    bad += not check(
        "paragraph_dedup (pure Catalyst, codegen)",
        p,
        {"ArrowEvalPython": False, "BatchEvalPython": False,
         "MapInPandas": False, "*(": True},
    )

    # 8b. incremental admission scale shape, structurally: (a) the
    # signature pass is row-local — shingle hashing stays JVM-side and
    # the 128-permutation min runs in ONE vectorized Arrow stage
    # (r7: replaced the explode + map-side-combined min agg; zero
    # shuffle now, and the Arrow stage is the guide-§4.2 batch-numpy
    # pattern, not a row-at-a-time UDF), (b) the persisted store schema
    # is exactly (doc_id, sig): the state a 10^12-doc admission
    # re-reads carries no text by CONSTRUCTION, not by pruning
    import tempfile

    from pyspark.sql import functions as _F

    from gliner_spark.plans.incremental import (
        batch_minhash_signatures,
        dedup_admit_batch,
    )

    p = executed_plan_of(batch_minhash_signatures(docs.limit(50)))
    bad += not check(
        "batch_minhash_signatures (row-local Arrow stage, no shuffle, "
        "no row-at-a-time Python)",
        p,
        {"BatchEvalPython": False, "MapInPandas": True,
         "Exchange hashpartitioning": False},
    )
    import shutil

    from gliner_spark.operators.util import read_parquet_or_empty
    from gliner_spark.plans.incremental import STORE_DDL, _verified_pairs

    # (c) steps 2-3 of admission are ONE band self-join over the tagged
    # store ∪ batch band keys plus one verify, on the first batch (no
    # store yet: an empty local table) and on a later one (parquet
    # store), and no admission plan scans an RDD — a Python-built table
    # would plan as `Scan ExistingRDD` and start Python workers
    adm_root = tempfile.mkdtemp(prefix="gs_plan_admit_")
    adm_store = f"{adm_root}/store"
    try:
        for when, parity in (("first batch", 0), ("later batch", 1)):
            batch = docs.where(_F.col("doc_id") % 2 == parity)
            p = executed_plan_of(_verified_pairs(
                batch_minhash_signatures(batch),
                read_parquet_or_empty(spark, adm_store, STORE_DDL),
                32, 128, 0.8, 2000,
            )).split("== Initial Plan ==")[0]
            bad += not band_join_check(f"admission pairs, {when}", p)
            ok = "ExistingRDD" not in p
            print(f"  [{'OK ' if ok else 'BAD'}] admission pairs, {when}: "
                  f"ExistingRDD scan {not ok}")
            bad += not ok
            dedup_admit_batch(batch, adm_store)
        store_cols = spark.read.parquet(adm_store).columns
    finally:
        shutil.rmtree(adm_root, ignore_errors=True)
    store_ok = store_cols == ["doc_id", "sig"]
    print(f"  [{'OK ' if store_ok else 'BAD'}] admission store schema "
          f"== [doc_id, sig] -> {store_cols}")
    bad += not store_ok

    # 9. TPC-H-style join: small dim broadcast without hints
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey).groupBy(
        "c_mktsegment"
    ).agg(F.sum("o_totalprice").alias("rev"))
    p = plan_of(j)
    bad += not check(
        "orders x customer (auto broadcast)",
        p,
        {"BroadcastHashJoin": True},
    )

    spark.stop()
    print(f"\n{'ALL PLANS OK' if not bad else f'{bad} PLAN CHECKS FAILED'}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
