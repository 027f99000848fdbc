"""Text analysis for training-data curation: language-ID, quality
scoring, token counting, document fingerprinting.

All four are pure Catalyst expressions (whole-stage codegen, no Python):
the statistics a 100 TB curation pass computes per document must not pay
the JVM→Python boundary. Each has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword profiles for the n-gram/stopword heuristic
LANG_PROFILES = {
    "en": ["the", "a", "of", "and", "is", "to", "in"],
    "es": ["el", "la", "de", "los", "y", "en", "que"],
    "de": ["der", "die", "das", "und", "ist", "von", "ein"],
    "fr": ["le", "la", "les", "et", "est", "de", "une"],
}

EN_STOPWORDS = LANG_PROFILES["en"]


def token_stats(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, n_chars, avg_token_len) — whitespace tokens."""
    w = F.split(F.col(text_col), " ")
    return docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.size(w).cast("long").alias("n_tokens"),
        F.length(text_col).cast("long").alias("n_chars"),
        F.round(
            F.aggregate(w, F.lit(0), lambda acc, x: acc + F.length(x)).cast(
                "double"
            )
            / F.size(w),
            4,
        ).alias("avg_token_len"),
    )


# BPE-style pre-tokenization pattern (the GPT-2 shape: a token is an
# optional leading space + a letter run / digit run / symbol run),
# restricted to the regex subset BOTH engines execute identically —
# Java regex (Spark, codegen'd) and RE2 (DuckDB) — i.e. no lookahead.
# This is the unit real BPE merges operate on; counting these tokens
# approximates LLM token budgets far better than whitespace splitting
# (punctuation and digit runs count separately).
BPE_PATTERN = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"


def bpe_token_stats(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """(doc_id, n_bpe, n_distinct_bpe, avg_bpe_len): BPE-ish regex
    token counts — JVM-side ``regexp_extract_all``, zero Python."""
    toks = F.regexp_extract_all(
        F.col(text_col), F.lit(BPE_PATTERN), F.lit(0)
    )
    n = F.size(toks)
    return docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        n.cast("long").alias("n_bpe"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_bpe"),
        F.when(
            n > 0,
            F.round(
                F.aggregate(
                    toks, F.lit(0), lambda acc, x: acc + F.length(x)
                ).cast("double") / n,
                4,
            ),
        ).alias("avg_bpe_len"),
    )


def quality_expr(text_col):
    """quality = 0.4·min(n_tokens/50, 1) + 0.3·(1 − |stop_ratio − 0.4|)
    + 0.3·distinct_ratio, rounded to 4 — as a reusable expression so
    fused passes (plans/curation.py) share one scan."""
    w = F.split(text_col, " ")
    n = F.size(w)
    stop_ratio = F.size(F.filter(w, lambda x: x.isin(*EN_STOPWORDS))) / n
    distinct_ratio = F.size(F.array_distinct(w)) / n
    return F.round(
        F.lit(0.4) * F.least(n / F.lit(50.0), F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - F.abs(stop_ratio - F.lit(0.4)))
        + F.lit(0.3) * distinct_ratio,
        4,
    )


def quality_score(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, stopword_ratio, distinct_ratio, quality):
    length/stopword/repetition heuristics in one codegen'd projection.
    """
    w = F.split(F.col(text_col), " ")
    n = F.size(w)
    stop_ratio = F.size(F.filter(w, lambda x: x.isin(*EN_STOPWORDS))) / n
    distinct_ratio = F.size(F.array_distinct(w)) / n
    return docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        n.cast("long").alias("n_tokens"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(distinct_ratio, 4).alias("distinct_ratio"),
        quality_expr(F.col(text_col)).alias("quality"),
    )


def pred_lang_expr(text_col):
    """Stopword-profile argmax with deterministic tie-break (profile
    order, then 'und' when all zero) — reusable expression form."""
    w = F.split(text_col, " ")

    def hits(vocab):
        # factory, not default-arg lambda: F.filter inspects lambda arity
        return F.size(F.filter(w, lambda x: x.isin(*vocab)))

    hit_cols = {lang: hits(vocab) for lang, vocab in LANG_PROFILES.items()}
    # argmax with ties broken by profile order (en before es before …):
    # scan lowest-priority first; >= lets higher-priority langs take ties
    best = F.lit("und")
    best_hits = F.lit(0)
    for lang in reversed(list(LANG_PROFILES)):
        cond = (hit_cols[lang] >= best_hits) & (hit_cols[lang] > 0)
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_hits = F.greatest(hit_cols[lang], best_hits)
    return best


def detect_language(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """(doc_id, {lang}_hits…, pred_lang): stopword-profile argmax."""
    w = F.split(F.col(text_col), " ")

    def hits(vocab):
        return F.size(F.filter(w, lambda x: x.isin(*vocab)))

    langs = list(LANG_PROFILES)
    return docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        *[hits(LANG_PROFILES[lang]).cast("long").alias(f"{lang}_hits")
          for lang in langs],
        pred_lang_expr(F.col(text_col)).alias("pred_lang"),
    )


def length_quantiles(docs: DataFrame, text_col: str = "text",
                     strata_col: str = "lang") -> DataFrame:
    """(lang, n_docs, p25, p50, p75, p95): EXACT continuous percentiles
    of token counts per stratum — the corpus-profiling pass a curation
    pipeline runs to pick length cutoffs. Uses SQL-standard linear
    interpolation (``percentile``), which matches DuckDB's
    ``quantile_cont`` value-for-value; at 10^12 rows swap in
    ``approx_percentile`` with an error bound (same call shape)."""
    n_tok = F.size(F.split(F.col(text_col), " ")).cast("double")
    return docs.groupBy(F.col(strata_col).alias("lang")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[
            F.round(F.percentile(n_tok, q), 4).alias(f"p{int(q * 100)}")
            for q in (0.25, 0.5, 0.75, 0.95)
        ],
    )


def doc_fingerprints(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """(doc_id, content_hash, bag_fp, prefix_fp): three fingerprints —
    exact content, order-insensitive bag, and first-8-token prefix (the
    cheap streaming-dedup key)."""
    w = F.split(F.col(text_col), " ")
    return docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.md5(F.col(text_col)).alias("content_hash"),
        F.md5(
            F.concat_ws(" ", F.array_sort(F.array_distinct(w)))
        ).alias("bag_fp"),
        F.md5(F.concat_ws(" ", F.slice(w, 1, 8))).alias("prefix_fp"),
    )


def bigram_lm_scores(
    docs: DataFrame,
    k_smooth: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_bigrams, avg_nll): per-document average negative
    log-likelihood under an add-k-smoothed bigram LM trained on the
    corpus itself — the CCNet-style LM quality signal (Wenzek et al.
    2020 filter CommonCrawl by KenLM perplexity; this is the
    dependency-free Spark-native form). High ``avg_nll`` = improbable
    word transitions = gibberish/boilerplate candidates; filter or
    stratify on it exactly like ``quality_score``.

    P(w2|w1) = (c(w1,w2) + k) / (c(w1·) + k·V), V = corpus vocabulary.

    Scale shape: two count aggregations shuffle (token-keyed,
    map-side-combined — the classic word-count plan); the count tables
    are vocabulary-bounded, not corpus-bounded, so the scoring join
    moves each doc's bigrams against model-sized state; the final
    per-doc mean is one doc_id shuffle. At 10^12 docs prune the long
    tail of the bigram table (c12 >= min_count) before the join —
    smoothing already floors unseen mass. Pure Catalyst throughout.

    Docs with < 2 tokens score NULL (no bigram evidence) with
    n_bigrams = 0.
    """
    k = float(k_smooth)
    words = F.split(F.col(text_col), " ")
    # ensure_parallelism: a single-split local parquet would otherwise
    # run every map side (bigram explode, vocab explode, scoring) on
    # one core (guide §2.5; no-op on a multi-split scan).
    # localCheckpoint: ``base`` — the split token arrays — feeds the
    # bigram explode, the vocabulary count and the no-bigram branch;
    # pinning it scans + splits the corpus once instead of three times.
    from .util import ensure_parallelism

    base = ensure_parallelism(docs).select(
        F.col(id_col).cast("long").alias("doc_id"), words.alias("w")
    ).localCheckpoint()
    # guard: sequence(0, -1) would DESCEND in Spark, not return empty
    pairs = F.when(
        F.size("w") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("w") - 2),
            lambda i: F.struct(
                F.element_at(F.col("w"), i + 1).alias("w1"),
                F.element_at(F.col("w"), i + 2).alias("w2"),
            ),
        ),
    ).otherwise(F.array())
    bi = base.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    bigram_counts = bi.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c12")
    )
    # head counts derived from the bigram table, not a second full
    # explode pass (guide §2.3/§2.4): c(w1·) — the number of bigrams
    # headed by w1 — is exactly Σ_w2 c(w1, w2), so aggregating the
    # (vocabulary-bounded) bigram count table replaces a second
    # corpus-wide explode + shuffle with a V²-row aggregation
    head_counts = bigram_counts.groupBy("w1").agg(
        F.sum("c12").alias("c1")
    )
    vocab = base.select(F.explode("w").alias("t")).agg(
        F.countDistinct("t").alias("v")
    )
    nll = (
        bi.join(bigram_counts, ["w1", "w2"])
        .join(head_counts, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            (-F.log(
                (F.col("c12") + F.lit(k))
                / (F.col("c1") + F.lit(k) * F.col("v"))
            )).alias("nll"),
        )
    )
    per_doc = nll.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("nll"), 4).alias("avg_nll"),
    )
    # union instead of the old base-left-join-per_doc (guide §2.4): the
    # docs missing from per_doc are EXACTLY those with < 2 tokens (they
    # produce zero bigram rows), so their (0, NULL) rows are emitted
    # from a row-local filter and the corpus-sized sort-merge join on
    # doc_id disappears. Null/empty text splits to size < 2 either way,
    # matching the old join's NULL → (0, NULL) path.
    no_bigrams = base.where(
        # NULL text → split gives NULL → size comparison is NULL; the
        # old left join kept such docs as (0, NULL), so the coalesce
        # keeps them on this branch too
        ~F.coalesce(F.size("w") >= 2, F.lit(False))
    ).select(
        "doc_id",
        F.lit(0).cast("long").alias("n_bigrams"),
        F.lit(None).cast("double").alias("avg_nll"),
    )
    return per_doc.select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        "avg_nll",
    ).unionByName(no_bigrams)
