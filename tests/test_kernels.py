"""Mirror tests of the reference's gtest suite, Spark-free.

Golden values copied from /root/reference/tests/test.cpp (tokenizer
goldens :18-23 and :117-132; e2e golden :81-84 reproduced by injecting
logits so sigmoid ≥ 0.9 exactly at the golden spans), plus property tests
for decode/greedy invariants.
"""

import math

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gliner_spark.config import GlinerConfig
from gliner_spark.kernels.decode import (
    decode_span_logits,
    decode_token_logits,
    enumerate_spans,
    greedy_search,
    sigmoid,
)
from gliner_spark.kernels.encode import encode_batch
from gliner_spark.kernels.pipeline import ner_documents
from gliner_spark.kernels.scorer import (
    GOLDEN_LABELS,
    SurrogateScorer,
    logit_of,
)
from gliner_spark.kernels.tokenize import tokenize_text


# --- reference golden: TestWhitespaceTokenSplitter (test.cpp:17-39) ---
def test_splitter_golden_ascii():
    assert tokenize_text("Hello world_this-is a_test!") == [
        (0, 5, "Hello"),
        (6, 19, "world_this-is"),
        (20, 26, "a_test"),
        (26, 27, "!"),
    ]


# --- reference golden: TestUnicodes (test.cpp:116-148) ---
def test_splitter_golden_unicode_byte_offsets():
    text = "你好 (Chinese), नमस्ते (Hindi), مرحبا (Arabic)"
    assert tokenize_text(text) == [
        (0, 6, "你好"),
        (7, 8, "("),
        (8, 15, "Chinese"),
        (15, 16, ")"),
        (16, 17, ","),
        (18, 36, "नमस्ते"),
        (37, 38, "("),
        (38, 43, "Hindi"),
        (43, 44, ")"),
        (44, 45, ","),
        (46, 56, "مرحبا"),
        (57, 58, "("),
        (58, 64, "Arabic"),
        (64, 65, ")"),
    ]


# --- reference golden: TestProcessor smoke (test.cpp:41-68) ---
def test_processor_smoke():
    assert [t[2] for t in tokenize_text("Hello world")] == ["Hello", "world"]
    assert [t[2] for t in tokenize_text("I love C++")] == [
        "I", "love", "C", "+", "+",
    ]


# --- reference golden: TestModelInference (test.cpp:80-114) via injected
# logits: the Kyiv sentence decoded with synthetic scores ≥0.9 at the two
# golden spans exercises index arithmetic, offset mapping and greedy.
def _kyiv_setup():
    text = "Kyiv is the capital of Ukraine."
    labels = ["city", "country", "river", "person", "car"]
    tokens = tokenize_text(text)
    # words: Kyiv is the capital of Ukraine .
    logits = np.full((len(tokens), 12, len(labels)), -12.0, dtype=np.float32)
    logits[0, 0, 0] = logit_of(0.9)   # (word 0, width 1) → city
    logits[5, 0, 1] = logit_of(0.9)   # (word 5, width 1) → country
    return text, labels, tokens, logits


def test_model_inference_golden_injected():
    text, labels, tokens, logits = _kyiv_setup()
    spans = greedy_search(
        decode_span_logits(logits, tokens, text, labels, threshold=0.5)
    )
    assert len(spans) == 2
    s1, s2 = spans
    assert (s1[0], s1[1], s1[2], s1[3]) == (0, 4, "Kyiv", "city")
    assert abs(s1[4] - 0.9) < 0.1
    assert (s2[0], s2[1], s2[2], s2[3]) == (23, 30, "Ukraine", "country")
    assert abs(s2[4] - 0.9) < 0.1


def test_model_inference_golden_via_surrogate():
    text = "Kyiv is the capital of Ukraine."
    out = ner_documents([text], GOLDEN_LABELS, SurrogateScorer(12))
    assert [(s[0], s[1], s[2], s[3]) for s in out[0]] == [
        (0, 4, "Kyiv", "city"),
        (23, 30, "Ukraine", "country"),
    ]
    assert all(abs(s[4] - 0.9) < 0.1 for s in out[0])


def test_empty_inputs_guard():
    # model.cpp:50-52,104-107: empty texts or labels → no spans
    assert ner_documents([], ["city"], SurrogateScorer()) == []
    assert ner_documents(["x"], [], SurrogateScorer()) == [[]]
    assert ner_documents([""], ["city"], SurrogateScorer()) == [[]]


# --- span enumeration (processor.cpp:122-144) ---
def test_enumerate_spans_layout():
    spans = enumerate_spans(3, 12)
    # widths limited by text end: (0,0..2), (1,1..2), (2,2)
    assert spans.tolist() == [
        [0, 0], [0, 1], [0, 2], [1, 1], [1, 2], [2, 2],
    ]
    assert enumerate_spans(0, 12).shape == (0, 2)


# --- greedy semantics (decoder.cpp:11-61) ---
def _sp(s, e, p, lab="x"):
    return (s, e, f"t{s}-{e}", lab, p)


def test_greedy_keeps_higher_prob_on_overlap():
    spans = [_sp(0, 5, 0.6), _sp(3, 8, 0.9), _sp(10, 12, 0.7)]
    assert greedy_search(spans) == [_sp(3, 8, 0.9), _sp(10, 12, 0.7)]


def test_greedy_equal_prob_keeps_leftmost():
    # prev.prob < next.prob is strict (decoder.cpp:54)
    spans = [_sp(0, 5, 0.9), _sp(3, 8, 0.9)]
    assert greedy_search(spans) == [_sp(0, 5, 0.9)]


def test_greedy_identical_range_multilabel():
    a = _sp(0, 5, 0.8, "city")
    b = _sp(0, 5, 0.7, "country")
    assert greedy_search([a, b], multi_label=False) == [a]
    assert greedy_search([a, b], multi_label=True) == [a, b]


def test_greedy_nested_flat_vs_nested():
    outer = _sp(0, 10, 0.9)
    inner = _sp(2, 5, 0.8)
    # flat NER: nested = overlapping → keep higher
    assert greedy_search([outer, inner], flat_ner=True) == [outer]
    # nested-allowed mode uses hasOverlappingNested, which ALSO suppresses
    # nesting (decoder.cpp:27-29) — faithful to the reference's behavior
    assert greedy_search([outer, inner], flat_ner=False) == [outer]


def test_greedy_chain_sequential_not_windowable():
    # a<b overlap, b<c overlap, a,c disjoint: keep b only — the "winner
    # absorbs both sides" behavior a frame-window can't express
    a, b, c = _sp(0, 4, 0.5), _sp(3, 8, 0.9), _sp(7, 10, 0.6)
    assert greedy_search([a, b, c]) == [b]


# --- surrogate overlap resolution on page corpus ---
def test_surrogate_nested_phrase_beats_inner():
    text = "New York City is not the capital of New York."
    out = ner_documents([text], GOLDEN_LABELS, SurrogateScorer(12))[0]
    texts = [(s[2], s[3]) for s in out]
    # "New York City" (0.93) beats nested "New York" (0.91); trailing
    # "New York" stands alone
    assert ("New York City", "city") in texts
    assert ("New York", "city") in texts
    assert len([t for t, _ in texts if t == "New York City"]) == 1


# --- encode layout golden (processor.cpp:83-114) with a fake tokenizer ---
def test_encode_batch_layout():
    fake_vocab = {}

    def encode_word(w):
        # deterministic 1-2 subwords per word
        fid = fake_vocab.setdefault(w, 100 + len(fake_vocab) * 2)
        return [fid] if len(w) < 6 else [fid, fid + 1]

    tokens = tokenize_text("Hello world")
    enc = encode_batch([tokens], ["city"], encode_word, max_width=12)
    ids = enc.input_ids[0]
    # prompt: <<ENT>>(2 subwords) city(1) <<SEP>>(2) then Hello(1) world(1)
    assert ids[0] == 1  # BOS
    n_real = 1 + 2 + 1 + 2 + 1 + 1 + 1  # BOS + prompt subwords + 2 words + EOS
    assert ids[n_real - 1] == 2  # EOS
    assert enc.attention_mask[0, : n_real].all()
    assert not enc.attention_mask[0, n_real:].any()
    # words_mask: 1-based counter at first subword of text words only
    wm = enc.words_mask[0]
    nz = [(i, v) for i, v in enumerate(wm) if v]
    assert [v for _, v in nz] == [1, 2]
    # first text word starts right after BOS + 5 prompt subwords
    assert nz[0][0] == 1 + 5
    assert enc.text_lengths.tolist() == [[2]]
    # spans: both words enumerated
    assert enc.span_mask[0].sum() == 3  # (0,0),(0,1),(1,1)


def test_encode_batch_ragged_contract():
    """Full 6-tensor feed contract on a ragged B=3 batch (the shape a
    real ONNX session sees; /root/reference/src/processor.cpp:60,80,
    :122-144 and model.cpp:54-68): per-batch num_tokens/num_words
    maxima, BOS/EOS placement per row, zero padding beyond each row's
    real tokens, span_idx/span_mask zero-padded for the short docs,
    text_lengths shaped (B, 1)."""
    texts = [
        "Kyiv is the capital of Ukraine.",
        "Hello",
        "one two three four five six seven eight nine ten",
    ]
    toks = [tokenize_text(t) for t in texts]
    labels = ["city", "country"]

    def encode_word(w):
        return [100 + len(w)] * (1 + len(w) % 3)  # 1-3 subwords per word

    max_width = 4
    enc = encode_batch(toks, labels, encode_word, max_width=max_width)
    bsz, lens = 3, [len(t) for t in toks]
    num_words = max(lens)
    assert enc.text_lengths.shape == (bsz, 1)
    assert enc.text_lengths.dtype == np.int64
    assert enc.text_lengths[:, 0].tolist() == lens
    assert enc.num_words == num_words

    prompt_words = ["<<ENT>>", "city", "<<ENT>>", "country", "<<SEP>>"]

    def row_tokens(tk):  # 2 + Σ subword lens (processor.cpp:74)
        return 2 + sum(len(encode_word(w)) for w in prompt_words) + sum(
            len(encode_word(t[2])) for t in tk
        )

    num_tokens = max(row_tokens(tk) for tk in toks)
    for t in (enc.input_ids, enc.attention_mask, enc.words_mask):
        assert t.shape == (bsz, num_tokens) and t.dtype == np.int64
    for p, tk in enumerate(toks):
        n_real = row_tokens(tk)
        assert enc.input_ids[p, 0] == 1  # BOS (processor.cpp:93)
        assert enc.input_ids[p, n_real - 1] == 2  # EOS (:111-112)
        assert enc.attention_mask[p, :n_real].all()
        assert not enc.attention_mask[p, n_real:].any()
        assert (enc.input_ids[p, n_real:] == 0).all()  # zero padding
        wm = enc.words_mask[p]
        assert wm[wm > 0].tolist() == list(range(1, len(tk) + 1))

    # span tensors: dense (B, numWords*maxWidth[, 2]), short docs padded
    # with zeros at masked-off slots (processor.cpp:122-144)
    num_spans = num_words * max_width
    assert enc.span_idx.shape == (bsz, num_spans, 2)
    assert enc.span_idx.dtype == np.int64
    assert enc.span_mask.shape == (bsz, num_spans)
    assert enc.span_mask.dtype == bool
    for p, tk in enumerate(toks):
        n = len(tk)
        valid = enc.span_mask[p]
        assert valid.sum() == sum(min(max_width, n - i) for i in range(n))
        assert (enc.span_idx[p][~valid] == 0).all()
        si = enc.span_idx[p][valid]
        assert (si[:, 0] <= si[:, 1]).all() and si.max() < n


def test_onnx_scorer_feed_contract_with_mock_session():
    """OnnxScorer.score_spans end-to-end against a mock ONNX session
    that validates the feed dict (names/shapes/dtypes per
    /root/reference/src/model.cpp:54-68) — the execution contract the
    sandbox cannot exercise with real wheels."""
    from gliner_spark.kernels.scorer import OnnxScorer

    texts = [
        "Kyiv is the capital of Ukraine.",
        "Hello",
        "one two three four five six seven eight nine ten",
    ]
    toks = [tokenize_text(t) for t in texts]
    labels = ["city", "country", "person"]
    max_width = 12
    num_words = max(len(t) for t in toks)

    class FakeEncoding:
        def __init__(self, ids):
            self.ids = ids

    class FakeTokenizer:
        def encode(self, w, add_special_tokens=False):
            assert add_special_tokens is False  # processor.cpp:76
            return FakeEncoding([7] * (1 + len(w) % 2))

    calls = []

    class MockSession:
        def run(self, outputs, feeds):
            assert outputs == ["logits"]  # model.cpp:59-66
            assert set(feeds) == {
                "input_ids", "attention_mask", "words_mask",
                "text_lengths", "span_idx", "span_mask",
            }
            bsz, nt = feeds["input_ids"].shape
            assert bsz == 3
            for name in ("input_ids", "attention_mask", "words_mask"):
                assert feeds[name].shape == (bsz, nt)
                assert feeds[name].dtype == np.int64
            assert feeds["text_lengths"].shape == (bsz, 1)
            assert feeds["text_lengths"].dtype == np.int64
            assert feeds["span_idx"].shape == (bsz, num_words * max_width, 2)
            assert feeds["span_idx"].dtype == np.int64
            assert feeds["span_mask"].shape == (bsz, num_words * max_width)
            assert feeds["span_mask"].dtype == bool
            calls.append(bsz)
            n_ent = len(labels)
            return [
                np.zeros(bsz * num_words * max_width * n_ent, dtype=np.float32)
            ]

    scorer = OnnxScorer("mock-model", "mock-tok", max_width=max_width)
    OnnxScorer._sessions["mock-model"] = MockSession()
    OnnxScorer._tokenizers["mock-tok"] = FakeTokenizer()
    try:
        out = scorer.score_spans(toks, labels)
    finally:
        OnnxScorer._sessions.pop("mock-model")
        OnnxScorer._tokenizers.pop("mock-tok")
    assert calls == [3]
    assert len(out) == 3
    for lg in out:
        # per-doc logits reshaped to (num_words, max_width, E)
        # per decoder.cpp:96-101
        assert lg.shape == (num_words, max_width, len(labels))
        assert lg.dtype == np.float32


@settings(max_examples=100, deadline=None)
@given(st.lists(st.lists(st.integers(-(2**63), 2**63 - 1), max_size=7),
                min_size=1, max_size=5))
def test_simhash_vote_property(hash_lists):
    """The batched reduceat bit-vote (the SAME kernel the Spark stage
    calls) ≡ a naive per-doc majority loop for arbitrary int64 hash
    arrays (incl. empty docs → 0)."""
    from gliner_spark.operators.dedup import simhash_vote_batch

    got = simhash_vote_batch(
        np.asarray([x for a in hash_lists for x in a], dtype=np.int64),
        np.asarray([len(a) for a in hash_lists], dtype=np.int64),
    )

    for a, g in zip(hash_lists, got):
        expect = 0
        if a:
            for i in range(64):
                ones = sum((x & 0xFFFFFFFFFFFFFFFF) >> i & 1 for x in a)
                if 2 * ones > len(a):
                    expect |= 1 << i
            if expect >= 1 << 63:
                expect -= 1 << 64
        assert g == expect


def test_onnx_scorer_token_feed_contract_with_mock_session():
    """Token-level models take the 4-tensor feed — NO span_idx/span_mask
    (/root/reference/src/model.cpp:57-61) — and return logits of logical
    shape (3, B, numWords, E) (decoder.cpp:137-159)."""
    from gliner_spark.kernels.scorer import OnnxScorer

    texts = ["Kyiv is the capital of Ukraine.", "Hello"]
    toks = [tokenize_text(t) for t in texts]
    labels = ["city", "country"]
    num_words = max(len(t) for t in toks)

    class FakeEncoding:
        def __init__(self, ids):
            self.ids = ids

    class FakeTokenizer:
        def encode(self, w, add_special_tokens=False):
            return FakeEncoding([9])

    class MockSession:
        def run(self, outputs, feeds):
            assert outputs == ["logits"]
            assert set(feeds) == {
                "input_ids", "attention_mask", "words_mask", "text_lengths",
            }  # 4 tensors only (model.cpp:57-61)
            bsz = feeds["input_ids"].shape[0]
            return [np.zeros(3 * bsz * num_words * len(labels),
                             dtype=np.float32)]

    scorer = OnnxScorer("mock-tok-model", "mock-tok-tok")
    OnnxScorer._sessions["mock-tok-model"] = MockSession()
    OnnxScorer._tokenizers["mock-tok-tok"] = FakeTokenizer()
    try:
        out = scorer.score_tokens(toks, labels)
    finally:
        OnnxScorer._sessions.pop("mock-tok-model")
        OnnxScorer._tokenizers.pop("mock-tok-tok")
    assert len(out) == 2
    for lg in out:
        assert lg.shape == (3, num_words, len(labels))
        assert lg.dtype == np.float32


# --- property tests ---
@settings(max_examples=50, deadline=None)
@given(
    st.integers(1, 8),
    st.integers(1, 4),
    st.data(),
)
def test_decode_properties(n_words, n_labels, data):
    rng = np.random.default_rng(data.draw(st.integers(0, 2**31)))
    text = " ".join(f"w{i}" for i in range(n_words))
    tokens = tokenize_text(text)
    logits = rng.normal(0, 3, size=(n_words, 12, n_labels)).astype(np.float32)
    labels = [f"L{i}" for i in range(n_labels)]
    spans = decode_span_logits(logits, tokens, text, labels, threshold=0.5)
    for s, e, txt, lab, p in spans:
        assert 0 <= s < e <= len(text)
        assert p >= 0.5
        assert lab in labels
    sel = greedy_search(spans)
    # flat NER: mutually non-overlapping output
    for i in range(len(sel)):
        for j in range(i + 1, len(sel)):
            a, b = sel[i], sel[j]
            assert a[0] > b[1] or b[0] > a[1]


def test_sigmoid_matches_reference_formula():
    xs = np.array([-3.0, 0.0, 2.0], dtype=np.float32)
    assert np.allclose(sigmoid(xs), 1.0 / (1.0 + np.exp(-xs)))
    assert math.isclose(
        float(sigmoid(np.float32(logit_of(0.9)))), 0.9, abs_tol=1e-6
    )


# --- token-level decode (decoder.cpp:123-181) ---
def test_token_decode_running_mean():
    text = "alpha beta gamma"
    tokens = tokenize_text(text)
    labels = ["x"]
    logits = np.full((3, 3, 1), -12.0, dtype=np.float32)
    hi = logit_of(0.9)
    logits[0, 0, 0] = hi              # start at word 0
    logits[1, 0, 0] = hi              # end allowed at word 0
    logits[1, 1, 0] = hi              # end allowed at word 1
    logits[2, 0, 0] = logit_of(0.8)   # inside score w0
    logits[2, 1, 0] = logit_of(0.7)   # inside score w1
    spans = decode_token_logits(logits, tokens, text, labels, threshold=0.5)
    assert [(s[0], s[1], s[2]) for s in spans] == [
        (0, 5, "alpha"),
        (0, 10, "alpha beta"),
    ]
    assert abs(spans[0][4] - 0.8) < 1e-5
    assert abs(spans[1][4] - 0.75) < 1e-5  # running mean (0.8+0.7)/2


@settings(max_examples=150, deadline=None)
@given(
    st.integers(min_value=1, max_value=4),   # n_tok (real words)
    st.integers(min_value=0, max_value=4),   # padding words beyond n_tok
    st.lists(st.sampled_from([-6.0, -0.5, 0.5, 6.0]), min_size=1,
             max_size=120),
)
def test_token_decode_clamp_only_removes_oob_spans(n_tok, pad, vals):
    """DOCUMENTED DIVERGENCE-BY-BUGFIX vs the reference: in a ragged
    batch the reference walks end tokens to the PADDED numWords and
    indexes tokens[batch_id][endToken] out of bounds whenever a shorter
    doc's padded scores stay above threshold
    (/root/reference/src/decoder.cpp:154-177 — endToken ranges over
    numWords with no per-doc bound). This repo clamps both walks at the
    doc's own token count (kernels/decode.py). Property: the clamped
    output equals the reference's walk MINUS exactly the spans whose
    start or end index lies beyond the doc — the clamp never removes a
    span a real token pair backs, and never adds one."""
    text = " ".join("w%d" % i for i in range(n_tok))
    tokens = tokenize_text(text)
    assert len(tokens) == n_tok
    labels = ["x"]
    num_words = n_tok + pad  # reference walks the padded width
    logits = np.full((3, num_words, 1), -12.0, dtype=np.float32)
    flat = logits.reshape(-1)
    flat[: min(len(vals), flat.size)] = vals[: flat.size]

    got = decode_token_logits(logits, tokens, text, labels, threshold=0.5)

    # reference end-walk over the padded width, word-index form; spans
    # touching w >= n_tok are the ones whose token lookup is UB in C++
    probs = 1.0 / (1.0 + np.exp(-logits.astype(np.float64)))
    ref, t = [], 0.5
    for s_w in range(num_words):
        if probs[0, s_w, 0] < t:
            continue
        score_sum, n = 0.0, 0
        for e_w in range(s_w, num_words):
            score = probs[2, e_w, 0]
            if probs[1, e_w, 0] < t:
                continue
            if score < t:
                break
            score_sum += float(score)
            n += 1
            ref.append((s_w, e_w, score_sum / n))
    in_bounds = [r for r in ref if r[0] < n_tok and r[1] < n_tok]
    expect = [
        (tokens[s][0], tokens[e][1],
         text.encode()[tokens[s][0]:tokens[e][1]].decode(), "x", p)
        for s, e, p in in_bounds
    ]
    assert [(g[0], g[1], g[2], g[3]) for g in got] == \
        [(e[0], e[1], e[2], e[3]) for e in expect]
    for g, e in zip(got, expect):
        assert abs(g[4] - e[4]) < 1e-5
