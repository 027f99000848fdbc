"""Page-table sources.

Two ways to obtain the north-rule input shape
``pages(url, warc_ts, html, text, lang)`` (BASELINE.json:input_hint):

1. ``pages_from_documents`` — deterministic projection of the driver's
   read-only ``documents`` testdata (doc_id → url, text → text, html =
   wrapped bytes, warc_ts derived from doc_id, lang passthrough). This is
   what ``entry()``/``queries()`` use: inputs stay the driver's parquet.
2. ``synthesize_pages`` — standalone seeded generator (seed=42) whose
   corpus embeds every reference golden string (FIXTURES.md §1), plus
   skewed domains (30% of rows across 3 domains) to exercise salting, and
   non-en rows to exercise partition pruning. Used by pytest + bench.

HTML→text: two extractors. The synthesis wraps ``text`` in a fixed
template and ``extract_text_from_html`` inverts it exactly in pure
Catalyst (the fast path; ``verify_extraction`` checks the byte-identity
invariant). REAL markup goes through ``sources/html_text.py`` — a
stdlib html.parser extractor (tags/entities/script-style/whitespace)
behind an Arrow-batched UDF, plus ``pages_from_raw_html`` to load raw
crawl tables into the north-rule pages shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.util import local_table

HTML_PREFIX = "<html><body><p>"
HTML_SUFFIX = "</p></body></html>"

# deterministic skew: hot domains receiving ~30% of synthetic pages
HOT_DOMAINS = ["big-portal.example", "hub.example", "news.example"]
COLD_DOMAIN_COUNT = 97
LANGS = ["en", "en", "en", "es", "de", "fr", "zh"]  # en-heavy like CC

GOLDEN_TEXTS = [
    "Kyiv is the capital of Ukraine.",                  # tests/test.cpp:91
    "Hello world_this-is a_test!",                      # tests/test.cpp:27
    "你好 (Chinese), नमस्ते (Hindi), مرحبا (Arabic)",      # tests/test.cpp:136
    "Hello world",                                      # tests/test.cpp:48
    "I love C++",                                       # tests/test.cpp:57
    "",                                                 # empty-input guard
    "New York City is not the capital of New York.",    # overlap exerciser
    "Elon Musk visited Paris and Kyiv near the Dnipro.",
]


def wrap_html(text_col):
    """text → html bytes (invertible template)."""
    return F.encode(
        F.concat(F.lit(HTML_PREFIX), text_col, F.lit(HTML_SUFFIX)), "utf-8"
    )


def extract_text_from_html(html_col):
    """html bytes → text, byte-identical inverse of ``wrap_html``.

    Pure Spark expressions (substring arithmetic) — no Python on the hot
    path; Catalyst codegens the whole projection.
    """
    s = F.decode(html_col, "utf-8")
    return F.substring(
        s, len(HTML_PREFIX) + 1, F.length(s) - len(HTML_PREFIX) - len(HTML_SUFFIX)
    )


def pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic documents → pages projection (driver testdata in,
    north-rule shape out)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        (
            F.to_timestamp(F.lit("2024-06-01 00:00:00"))
            + F.make_interval(secs=F.col("doc_id").cast("double"))
        ).alias("warc_ts"),
        wrap_html(F.col("text")).alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def synthesize_pages(
    spark: SparkSession, n_rows: int = 1000, seed: int = 42,
    num_partitions: int | None = None,
) -> DataFrame:
    """Seeded page generator: golden rows first, then word-soup pages over
    the gazetteer vocabulary with skewed domains.

    Built with Spark-native ``range`` + deterministic hash arithmetic so
    synthesis itself distributes (no driver-side row list for the bulk).
    """
    from ..kernels.scorer import GAZETTEER

    vocab = sorted({w for phrase, _, _ in GAZETTEER for w in phrase} |
                   {"the", "a", "of", "and", "near", "visited", "in", "on"})
    vocab_arr = F.array(*[F.lit(w) for w in vocab])
    n_vocab = len(vocab)

    base = spark.range(
        0, n_rows, 1, num_partitions or spark.sparkContext.defaultParallelism
    ).withColumn("h", F.abs(F.xxhash64(F.col("id"), F.lit(seed))))
    # 30% of rows land on 3 hot domains (skew exerciser), rest spread
    domain = F.when(
        (F.col("h") % 10) < 3,
        F.element_at(
            F.array(*[F.lit(d) for d in HOT_DOMAINS]),
            (F.col("h") % 3 + 1).cast("int"),
        ),
    ).otherwise(
        F.concat(
            F.lit("site-"),
            (F.col("h") % COLD_DOMAIN_COUNT).cast("string"),
            F.lit(".example"),
        )
    )
    # deterministic 20-40 word soup: word k of row i = vocab[h(i,k) % V]
    words = F.transform(
        F.sequence(
            F.lit(0), (F.col("h") % 21 + 19).cast("int")
        ),
        lambda k: F.element_at(
            vocab_arr,
            (F.abs(F.xxhash64(F.col("id"), k, F.lit(seed + 1))) % n_vocab + 1
             ).cast("int"),
        ),
    )
    soup = base.select(
        F.concat(F.lit("https://"), domain, F.lit("/p/"),
                 F.col("id").cast("string")).alias("url"),
        (
            F.to_timestamp(F.lit("2024-05-01 00:00:00"))
            + F.make_interval(secs=F.col("id").cast("double"))
        ).alias("warc_ts"),
        F.array_join(words, " ").alias("text"),
        F.element_at(
            F.array(*[F.lit(l) for l in LANGS]),
            (F.col("h") % len(LANGS) + 1).cast("int"),
        ).alias("lang"),
    )

    golden = local_table(
        spark,
        [
            (
                f"https://golden.example/{i}",
                f"2024-05-01 00:00:{i:02d}",
                t,
                "en",
            )
            for i, t in enumerate(GOLDEN_TEXTS)
        ],
        "url string, warc_ts string, text string, lang string",
    ).select(
        "url", F.to_timestamp("warc_ts").alias("warc_ts"), "text", "lang"
    )

    return (
        golden.unionByName(soup)
        .withColumn("html", wrap_html(F.col("text")))
        .select("url", "warc_ts", "html", "text", "lang")
    )


def verify_extraction(pages: DataFrame) -> DataFrame:
    """Byte-identical html→text invariant (north rule): rows where the
    re-extracted text differs from the stored text. Must be empty."""
    return pages.where(
        ~extract_text_from_html(F.col("html")).eqNullSafe(F.col("text"))
    )
