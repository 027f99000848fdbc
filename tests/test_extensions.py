"""Token-level NER, chunking extension, and skew-salting tests."""

import pytest
from pyspark.sql import functions as F

from gliner_spark.config import SPAN_LEVEL, TOKEN_LEVEL, GlinerConfig
from gliner_spark.kernels.pipeline import ner_documents
from gliner_spark.kernels.scorer import (
    ALL_LABELS,
    GOLDEN_LABELS,
    SurrogateScorer,
    TokenSurrogateScorer,
)
from gliner_spark.operators.ner import extract_mentions
from gliner_spark.operators.skew import hot_keys, salted_equi_join


@pytest.fixture(scope="session")
def spark():
    from gliner_spark.session import build_session

    s = build_session(app_name="gliner-tests", cores=4)
    yield s
    s.stop()


# --- token-level decode path (reference TokenProcessor/TokenDecoder) ---
def test_token_level_kyiv_golden():
    cfg = GlinerConfig(model_type=TOKEN_LEVEL)
    out = ner_documents(
        ["Kyiv is the capital of Ukraine."],
        GOLDEN_LABELS,
        TokenSurrogateScorer(),
        cfg,
    )[0]
    assert [(s[0], s[1], s[2], s[3]) for s in out] == [
        (0, 4, "Kyiv", "city"),
        (23, 30, "Ukraine", "country"),
    ]


def test_token_level_matches_span_level_on_soup():
    texts = [
        "spark join table big data stream",
        "the scan merge row query window",
    ]
    span_out = ner_documents(texts, ALL_LABELS, SurrogateScorer(12))
    cfg = GlinerConfig(model_type=TOKEN_LEVEL)
    tok_out = ner_documents(texts, ALL_LABELS, TokenSurrogateScorer(), cfg)
    for a, b in zip(span_out, tok_out):
        assert [(s[0], s[1], s[2], s[3]) for s in a] == [
            (s[0], s[1], s[2], s[3]) for s in b
        ]


def test_token_level_spark_operator(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    span_m = extract_mentions(docs, ["operator", "artifact"], id_col="doc_id")
    tok_m = extract_mentions(
        docs,
        ["operator", "artifact"],
        id_col="doc_id",
        config=GlinerConfig(model_type=TOKEN_LEVEL),
    )
    a = sorted(map(tuple, span_m.drop("prob").collect()))
    b = sorted(map(tuple, tok_m.drop("prob").collect()))
    assert a == b and len(a) > 0


# --- chunking extension (SURVEY.md §1.4) ---
def test_chunking_matches_unchunked():
    base = "spark join table big data stream the scan merge row "
    text = base * 40  # 400 words ≫ chunk size
    no_chunk = ner_documents([text], ALL_LABELS, SurrogateScorer(12))[0]
    cfg = GlinerConfig(chunk_words=64, chunk_overlap=16)
    chunked = ner_documents([text], ALL_LABELS, SurrogateScorer(12), cfg)[0]
    assert chunked == no_chunk
    assert len(chunked) > 100


def test_chunking_off_by_default():
    cfg = GlinerConfig()
    assert cfg.chunk_words == 0  # reference no-truncation parity


def test_bpe_token_pattern_semantics(spark):
    """BPE-ish counting must split letter/digit/symbol runs with the
    leading space absorbed into the following token (the GPT-2 shape)
    — unlike whitespace counting, punctuation and numbers count."""
    from gliner_spark.operators.textstats import bpe_token_stats

    df = spark.createDataFrame(
        [(1, "don't count 123 items!!"), (2, "")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in bpe_token_stats(df).collect()}
    # don | ' | t | ␣count | ␣123 | ␣items | !!
    assert rows[1].n_bpe == 7
    assert rows[1].n_distinct_bpe == 7
    assert rows[1].avg_bpe_len == round(23 / 7, 4)
    assert rows[2].n_bpe == 0 and rows[2].avg_bpe_len is None


def test_mixture_sample_temperature_semantics(spark):
    """Data mixing: alpha<1 must UPsample the small source's keep rate
    relative to the big one's; alpha=1 keeps proportional allocation
    (all rates == target_frac); membership is deterministic."""
    from gliner_spark.operators.sampling import mixture_sample

    rows = [(i, "big") for i in range(900)] + \
           [(1000 + i, "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")

    out = mixture_sample(df, alpha=0.5, target_frac=0.5)
    rates = {r.source: r.rate
             for r in out.select("source", "rate").distinct().collect()}
    assert rates["small"] > 0.5 > rates["big"]  # temperature upsampling
    # expected: w_small = sqrt(100)/Z -> allocation 1.25x its size,
    # CAPPED at rate 1.0 (a stratum can't yield more than it has);
    # big gets its uncapped sqrt-weighted rate
    assert rates["small"] == 1.0
    assert rates["big"] == pytest.approx(
        round(500 * (900 ** 0.5) / ((900 ** 0.5) + (100 ** 0.5)) / 900,
              6),
        abs=1e-9,
    )

    flat = mixture_sample(df, alpha=1.0, target_frac=0.5)
    fr = {r.source: r.rate
          for r in flat.select("source", "rate").distinct().collect()}
    assert fr == {"big": 0.5, "small": 0.5}

    a = sorted(r.doc_id for r in out.collect())
    b = sorted(r.doc_id for r in mixture_sample(
        df, alpha=0.5, target_frac=0.5).collect())
    assert a == b  # deterministic membership


def test_bigram_lm_scores_semantics(spark):
    """CCNet-style LM filter signal: repeated common transitions score a
    LOWER avg negative log-likelihood than a doc of one-off transitions;
    sub-2-token docs carry no evidence (NULL, n_bigrams=0); and a known
    tiny corpus matches the hand-computed add-k probability."""
    import math

    from gliner_spark.operators.textstats import bigram_lm_scores

    df = spark.createDataFrame(
        [
            (1, "the cat sat"),
            (2, "the cat sat"),
            (3, "the cat sat"),
            (4, "quux zork gleep"),   # transitions seen once, heads rare
            (5, "solo"),
            (6, ""),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in bigram_lm_scores(df).collect()}
    assert rows[1].avg_nll == rows[2].avg_nll == rows[3].avg_nll
    assert rows[4].avg_nll > rows[1].avg_nll   # gibberish is improbable
    assert rows[5].n_bigrams == 0 and rows[5].avg_nll is None
    assert rows[6].n_bigrams == 0 and rows[6].avg_nll is None
    # hand-check doc 1: V = 8 distinct tokens ('' from the empty doc
    # counts), c(the,cat)=3, c(the·)=3 -> P = (3+.5)/(3+.5*8) = .5;
    # same for (cat,sat): avg_nll = -ln(.5)
    assert rows[1].n_bigrams == 2
    assert rows[1].avg_nll == round(-math.log(3.5 / 7.0), 4)


def test_chunking_seam_property_every_offset():
    """Adversarial seam sweep: a 3-word entity (with a nested 2-word
    entity inside it — greedy must also resolve identically) slid to
    EVERY word position of the document, so it straddles chunk seams at
    every offset mod chunk size and mod step. Contract: with
    chunk_overlap ≥ entity words, chunked output ≡ unchunked output at
    every offset (some chunk contains the entity fully; seam dedup
    keeps max prob per (start,end,label); greedy runs once globally)."""
    cfg = GlinerConfig(chunk_words=8, chunk_overlap=4)
    scorer = SurrogateScorer(12)
    labels = ["city"]
    n_words = 40
    phrase = ["New", "York", "City"]  # nests the "New York" entry
    for pos in range(0, n_words - len(phrase) + 1):
        words = ["zz"] * n_words
        words[pos : pos + len(phrase)] = phrase
        text = " ".join(words)
        plain = ner_documents([text], labels, scorer)[0]
        chunked = ner_documents([text], labels, scorer, cfg)[0]
        assert chunked == plain, f"seam mismatch at word offset {pos}"
        assert len(plain) == 1 and plain[0][2] == "New York City"


def test_chunking_overlap_contract_pinned():
    """The equality above REQUIRES overlap ≥ entity words: with
    overlap=1 a 3-word entity straddling a seam is visible to neither
    chunk and drops — pin that the contract boundary is real so the
    config requirement (chunk_overlap ≥ max expected entity width)
    stays documented by a failing-case witness."""
    cfg = GlinerConfig(chunk_words=8, chunk_overlap=1)
    scorer = SurrogateScorer(12)
    lost = 0
    for pos in range(0, 38):
        words = ["zz"] * 40
        words[pos : pos + 3] = ["New", "York", "City"]
        text = " ".join(words)
        plain = ner_documents([text], ["city"], scorer)[0]
        chunked = ner_documents([text], ["city"], scorer, cfg)[0]
        assert len(plain) == 1
        if chunked != plain:
            lost += 1
    assert lost > 0


def _tiny_onnx_scorer(tmp_path, token_level):
    """OnnxScorer over a real tiny GLiNER graph (kernels/onnx_rt.py) with
    single-word Kyiv→city / Ukraine→country semantics; ids are those of
    tests/fixtures/wordpiece_tokenizer.json."""
    import os

    from gliner_spark.kernels.onnx_rt import build_tiny_gliner_model
    from gliner_spark.kernels.scorer import OnnxScorer

    path = build_tiny_gliner_model(
        str(tmp_path / f"tiny_{token_level}.onnx"),
        word_entries={9: (0, 0.9), 17: (1, 0.9)},  # kyiv, ukraine
        label_ids={22: 0, 23: 1},  # city, country
        ent_token_id=30,
        vocab_size=32,
        token_level=token_level,
    )
    wp = os.path.join(os.path.dirname(__file__), "fixtures",
                      "wordpiece_tokenizer.json")
    return OnnxScorer(path, wp, max_width=12)


@pytest.mark.parametrize("chunk_words", [0, 8])
@pytest.mark.parametrize(
    "scorer_kind", ["span", "token", "onnx_span", "onnx_token"]
)
def test_ner_documents_batch_invariant(tmp_path, scorer_kind, chunk_words):
    """One scorer call scores every window of a ragged batch (padded to
    the longest window for ONNX): each document's spans must equal those
    of scoring it alone, for span and token models, chunked or not, with
    empty, null and longer-than-``chunk_words`` documents in the batch."""
    token = scorer_kind.endswith("token")
    cfg = GlinerConfig(
        model_type=TOKEN_LEVEL if token else SPAN_LEVEL,
        chunk_words=chunk_words,
        chunk_overlap=4,
    )
    if scorer_kind.startswith("onnx"):
        scorer = _tiny_onnx_scorer(tmp_path, token)
        labels = ["city", "country"]
    else:
        scorer = TokenSurrogateScorer() if token else SurrogateScorer(12)
        labels = ALL_LABELS
    texts = [
        "Kyiv is the capital of Ukraine.",
        "",
        "Kyiv is the capital of Ukraine, New York City of Elon Musk. " * 5,
        None,
        "hello world",
        "spark join table big data stream the scan merge row " * 3,
    ]
    batched = ner_documents(texts, labels, scorer, cfg)
    alone = [ner_documents([t], labels, scorer, cfg)[0] for t in texts]
    assert batched == alone
    assert batched[1] == batched[3] == []
    assert len(batched[2]) >= 10  # the long document found every entity


# --- skew salting ---
def test_salted_join_equals_plain_join(spark):
    # 1 hot key (80% of rows) + cold tail
    big = spark.range(0, 20000).select(
        F.when(F.col("id") % 5 < 4, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 50).cast("string")))
        .alias("k"),
        F.col("id").alias("v"),
    )
    small = spark.createDataFrame(
        [("hot", 1), ("k1", 2), ("k2", 3), ("missing", 9)], "k string, w int"
    )
    plain = big.join(small, "k").groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")
    )
    salted = salted_equi_join(big, small, "k", n_salts=4, threshold=1000)
    got = salted.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, got.collect())
    )
    hot = hot_keys(big, "k", 1000).collect()
    assert [r.k for r in hot] == ["hot"]


# --- bucketed co-located joins ---
def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Both sides bucketed on the join key → the join plan contains no
    Exchange above either scan (the write-once shuffle is amortized
    over every later join). A plain path-read join of the same data
    DOES shuffle — asserted as the contrast."""
    import io
    from contextlib import redirect_stdout

    from gliner_spark.operators.bucketing import bucketed_join, write_bucketed

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    # disable auto-broadcast so the plan choice is about distribution,
    # not size
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(
            orders.withColumnRenamed("o_custkey", "k"), "b_orders", "k", 8
        )
        write_bucketed(
            cust.withColumnRenamed("c_custkey", "k"), "b_cust", "k", 8
        )
        joined = bucketed_join(spark, "b_orders", "b_cust", "k")

        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain("formatted")
        assert "Exchange" not in buf.getvalue()

        plain = orders.withColumnRenamed("o_custkey", "k").join(
            cust.withColumnRenamed("c_custkey", "k"), "k"
        )
        buf2 = io.StringIO()
        with redirect_stdout(buf2):
            plain.explain("formatted")
        assert "Exchange" in buf2.getvalue()

        # same result set either way
        assert joined.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_cust")


def test_write_bucketed_skips_unchanged_fingerprint(spark, tmp_path):
    """Repeat invocations with an unchanged input fingerprint must NOT
    rewrite the bucketed table (the rewrite is a full shuffle); a
    changed fingerprint must."""
    from gliner_spark.operators.bucketing import bucketed_join, write_bucketed

    orders = spark.read.parquet(
        "/root/testdata/sf0.001/orders.parquet"
    ).withColumnRenamed("o_custkey", "k")
    path = str(tmp_path / "bkt_orders")
    try:
        assert write_bucketed(orders, "b_fp_orders", "k", 8, path=path,
                              fingerprint="fp-a") is True
        import os

        mtimes = sorted(
            os.path.getmtime(os.path.join(path, f))
            for f in os.listdir(path) if f.endswith(".parquet")
        )
        # same fingerprint: reused, files untouched
        assert write_bucketed(orders, "b_fp_orders", "k", 8, path=path,
                              fingerprint="fp-a") is False
        assert sorted(
            os.path.getmtime(os.path.join(path, f))
            for f in os.listdir(path) if f.endswith(".parquet")
        ) == mtimes
        # table still queryable after the skip
        assert spark.table("b_fp_orders").count() == orders.count()
        # changed fingerprint: rewritten
        assert write_bucketed(orders, "b_fp_orders", "k", 8, path=path,
                              fingerprint="fp-b") is True
    finally:
        spark.sql("DROP TABLE IF EXISTS b_fp_orders")


# --- sampling + shard packing ---
def test_hash_sampling_deterministic_and_stratified(spark):
    from gliner_spark.operators.sampling import sample_by_hash

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    s1 = {r.doc_id for r in sample_by_hash(docs, {"en": 0.5}).collect()}
    s2 = {r.doc_id for r in sample_by_hash(docs, {"en": 0.5}).collect()}
    assert s1 == s2 and s1  # run-to-run deterministic
    # only the named stratum is sampled; rate lands near 50%
    langs = {r.lang for r in docs.where(F.col("doc_id").isin(s1)).collect()}
    assert langs == {"en"}
    n_en = docs.where(F.col("lang") == "en").count()
    assert 0.35 < len(s1) / n_en < 0.65
    # monotone: a larger rate strictly contains a smaller one
    s3 = {r.doc_id for r in sample_by_hash(docs, {"en": 0.8}).collect()}
    assert s1 < s3


def test_hash_sampling_full_rate_lossless(spark):
    # rate=1.0 must keep EVERY row (strict '<' vs a 0xffffffff threshold
    # would drop md5-prefix == 'ffffffff' docs); rate=0.0 keeps none
    from gliner_spark.operators.sampling import rate_to_hex, sample_by_hash

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    n = docs.count()
    assert sample_by_hash(docs, {"en": 1.0, "es": 1.0, "de": 1.0, "fr": 1.0,
                                 "zh": 1.0}, default_rate=1.0).count() == n
    assert sample_by_hash(docs, {}, default_rate=0.0).count() == 0
    assert rate_to_hex(1.0) > "ffffffff" > rate_to_hex(0.999999)


def test_pack_shards_budget(spark):
    from gliner_spark.operators.sampling import pack_shards

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = pack_shards(docs, token_budget=500).collect()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard_id, []).append(r)
    # contiguous shard ids, each (except possibly the last) fills the
    # budget once the doc that crosses the boundary lands in it
    assert sorted(by_shard) == list(range(len(by_shard)))
    for sid, rows in by_shard.items():
        if sid < max(by_shard):
            assert sum(r.n_tokens for r in rows) >= 500 - max(
                r.n_tokens for r in rows
            )
