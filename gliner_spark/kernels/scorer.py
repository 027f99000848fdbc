"""Span scorers: deterministic surrogate + guarded ONNX Runtime path.

The reference's only scorer is one ONNX forward pass producing logits of
logical shape (B, numWords, maxWidth, numEntities)
(/root/reference/src/model.cpp:79-99; layout arithmetic at
/root/reference/src/decoder.cpp:96-101). The sandbox has no
``onnxruntime``/``tokenizers`` wheels and no model file, so the primary
scorer here is ``SurrogateScorer``: a deterministic gazetteer that writes
high logits exactly at known (phrase → label) occurrences. It is:

- pluggable: same ``score_spans`` contract as ``OnnxScorer``, so every
  downstream stage (decode, greedy, relations, linking, components) is
  exercised unchanged;
- SQL-expressible: each (phrase, label) carries a constant prob, so a
  DuckDB oracle can enumerate the same mentions (word adjacency + window
  sums for byte offsets) — this is what makes the driver's correctness
  gate meaningful end-to-end;
- golden-compatible: contains the reference e2e entries (Kyiv → city,
  Ukraine → country at prob ≈ 0.9; /root/reference/tests/test.cpp:80-114)
  plus overlapping multi-word entries that exercise the greedy
  non-overlap semantics the soup corpus cannot.

``OnnxScorer`` implements the real model path (session per executor
process, inputs per /root/reference/src/model.cpp:54-68) behind a
try-import so it activates when wheels + model files are present.
"""

from __future__ import annotations

import math
from typing import Dict, List, Sequence, Tuple

import numpy as np

from ..config import SPAN_LEVEL, TOKEN_LEVEL

NEG_LOGIT = -12.0  # sigmoid ≈ 6e-6: never crosses any sane threshold

Token = Tuple[int, int, str]


def logit_of(prob: float) -> float:
    return math.log(prob / (1.0 - prob))


# (phrase_words, label, prob). Probs are constants so oracle SQL can quote
# them; keep every phrase's component words out of the single-word entry
# set *for the soup corpus* so its mentions are overlap-free (greedy =
# identity there; overlap semantics are exercised by the page corpus and
# pytest goldens instead).
GAZETTEER: List[Tuple[Tuple[str, ...], str, float]] = [
    # reference e2e golden (tests/test.cpp:81-84)
    (("Kyiv",), "city", 0.90),
    (("Ukraine",), "country", 0.90),
    (("Dnipro",), "river", 0.88),
    (("Paris",), "city", 0.92),
    (("France",), "country", 0.92),
    # overlap/nesting exercisers for the page corpus
    (("New", "York"), "city", 0.91),
    (("New", "York", "City"), "city", 0.93),
    (("Elon", "Musk"), "person", 0.94),
    (("Tesla",), "car", 0.89),
    # soup-corpus single-word entries (documents.parquet vocabulary)
    (("join",), "operator", 0.92),
    (("scan",), "operator", 0.90),
    (("sort",), "operator", 0.88),
    (("filter",), "operator", 0.86),
    (("merge",), "operator", 0.84),
    (("table",), "artifact", 0.93),
    (("row",), "artifact", 0.91),
    (("column",), "artifact", 0.89),
    (("vector",), "artifact", 0.87),
    (("hash",), "artifact", 0.85),
    (("spark",), "system", 0.94),
    (("query",), "system", 0.90),
    (("stream",), "system", 0.88),
    # soup-corpus phrases + their head nouns: a phrase occurrence overlaps
    # the noun occurrence inside it, so flat-NER greedy suppresses the
    # noun (phrase prob is higher) — real overlap resolution on the soup
    # corpus, and the phrase↔noun pairs give the linker non-trivial
    # Jaccard structure ("big data" ~ "data" etc.). Phrase FIRST words
    # (big, key, small, fast) are deliberately not entries, which keeps
    # the suppression SQL-expressible via a previous-word anti-join.
    (("big", "data"), "concept", 0.95),
    (("key", "value"), "concept", 0.95),
    (("small", "batch"), "concept", 0.95),
    (("fast", "window"), "concept", 0.95),
    (("data",), "concept", 0.80),
    (("value",), "concept", 0.78),
    (("batch",), "concept", 0.76),
    (("window",), "concept", 0.74),
]

SOUP_LABELS = ["operator", "artifact", "system", "concept"]
GOLDEN_LABELS = ["city", "country", "river", "person", "car"]
ALL_LABELS = GOLDEN_LABELS + SOUP_LABELS


class SurrogateScorer:
    """Deterministic gazetteer scorer producing dense span logits."""

    def __init__(self, max_width: int = 12):
        self.max_width = max_width
        # first-word → [(phrase, label, logit)]
        self._by_first: Dict[str, List[Tuple[Tuple[str, ...], str, float]]] = {}
        for phrase, label, prob in GAZETTEER:
            self._by_first.setdefault(phrase[0], []).append(
                (phrase, label, logit_of(prob))
            )

    def score_spans(
        self,
        batch_tokens: Sequence[Sequence[Token]],
        labels: Sequence[str],
    ) -> List[np.ndarray]:
        """Per-document logits of shape (n_words, max_width, n_labels)."""
        lab_idx = {l: i for i, l in enumerate(labels)}
        out: List[np.ndarray] = []
        for tokens in batch_tokens:
            n = len(tokens)
            logits = np.full(
                (n, self.max_width, len(labels)), NEG_LOGIT, dtype=np.float32
            )
            words = [t[2] for t in tokens]
            for i, w in enumerate(words):
                for phrase, label, lg in self._by_first.get(w, ()):
                    li = lab_idx.get(label)
                    if li is None or len(phrase) > self.max_width:
                        continue
                    if i + len(phrase) > n:
                        continue
                    if all(words[i + k] == phrase[k] for k in range(1, len(phrase))):
                        logits[i, len(phrase) - 1, li] = lg
            out.append(logits)
        return out


class OnnxScorer:
    """Real GLiNER model scorer (activates when onnxruntime + tokenizers
    wheels and model files are present; /root/reference/src/model.cpp).

    One session per executor process: Spark owns core-level parallelism,
    so ``intra_op_num_threads=1`` — double-threading oversubscribes cores
    and kills the N→4N scaling efficiency the north rule requires.
    """

    _sessions: Dict[str, object] = {}  # model_path → session (per process)
    _tokenizers: Dict[str, object] = {}

    def __init__(self, model_path: str, tokenizer_path: str,
                 max_width: int = 12, device_id: int = -1):
        """``device_id >= 0`` selects the CUDA execution provider for
        that GPU, mirroring Model::useDevice
        (/root/reference/src/model.cpp:71-77); the default -1 is CPU.
        On a GPU cluster set one executor per GPU and derive device_id
        from the executor-local GPU assignment (spark.task.resource.gpu)."""
        self.model_path = model_path
        self.tokenizer_path = tokenizer_path
        self.max_width = max_width
        self.device_id = device_id

    def _session(self):
        key = f"{self.model_path}@{self.device_id}"
        sess = OnnxScorer._sessions.get(key)
        if sess is None and self.device_id < 0:
            # bare-path key (tests' mock injection) is CPU-only: a scorer
            # that requested a GPU must never silently get a CPU session
            sess = OnnxScorer._sessions.get(self.model_path)
        if sess is None:
            try:
                import onnxruntime as ort  # preferred when present

                opts = ort.SessionOptions()
                opts.intra_op_num_threads = 1
                if self.device_id >= 0:
                    # CUDA EP with CPU fallback, per model.cpp:71-77
                    providers = [
                        ("CUDAExecutionProvider",
                         {"device_id": self.device_id}),
                        "CPUExecutionProvider",
                    ]
                else:
                    providers = ["CPUExecutionProvider"]
                sess = ort.InferenceSession(
                    self.model_path, opts, providers=providers
                )
            except ImportError:
                # no wheel: the bundled numpy executor parses and runs
                # the model file for real (small graphs only; it raises
                # NotImplementedError naming any op it lacks, so a full
                # transformer export fails loudly, never silently wrong)
                if self.device_id >= 0:
                    raise RuntimeError(
                        "CUDA execution requires onnxruntime; the "
                        "bundled MiniOnnxSession is CPU-only"
                    )
                from .onnx_rt import MiniOnnxSession

                sess = MiniOnnxSession(self.model_path)
            OnnxScorer._sessions[key] = sess
        return sess

    def _encode_word(self):
        tok = OnnxScorer._tokenizers.get(self.tokenizer_path)
        if tok is None:
            try:
                from tokenizers import Tokenizer  # rust wheel when present

                tok = Tokenizer.from_file(self.tokenizer_path)
            except ImportError:
                # pure-Python tokenizer.json loader (WordPiece/Unigram) —
                # the real O5 path needs no wheels (kernels/subword.py)
                from .subword import encoder_from_file

                tok = encoder_from_file(self.tokenizer_path)
            OnnxScorer._tokenizers[self.tokenizer_path] = tok
        if callable(tok):  # pure-Python loader returns the callable itself
            return tok
        # per-word encode, no special tokens (processor.cpp:76)
        return lambda w: tok.encode(w, add_special_tokens=False).ids

    def score_spans(
        self,
        batch_tokens: Sequence[Sequence[Token]],
        labels: Sequence[str],
    ) -> List[np.ndarray]:
        from .encode import encode_batch

        enc = encode_batch(
            batch_tokens, labels, self._encode_word(), self.max_width
        )
        feeds = {
            "input_ids": enc.input_ids,
            "attention_mask": enc.attention_mask,
            "words_mask": enc.words_mask,
            "text_lengths": enc.text_lengths,
            "span_idx": enc.span_idx,
            "span_mask": enc.span_mask,
        }
        (logits,) = self._session().run(["logits"], feeds)
        # (B, numWords, maxWidth, E) per decoder.cpp:96-101
        bsz = len(batch_tokens)
        logits = np.asarray(logits, dtype=np.float32).reshape(
            bsz, enc.num_words, self.max_width, len(labels)
        )
        return [logits[i] for i in range(bsz)]

    def score_tokens(
        self,
        batch_tokens: Sequence[Sequence[Token]],
        labels: Sequence[str],
    ) -> List[np.ndarray]:
        """Token-level model forward: 4-tensor feed (no span_idx/
        span_mask — /root/reference/src/model.cpp:57-61), output logits
        of logical shape (3, B, numWords, E) = start/end/inside scores
        (decoder.cpp:137-159)."""
        from .encode import encode_batch

        enc = encode_batch(
            batch_tokens, labels, self._encode_word(), self.max_width,
            with_spans=False,
        )
        feeds = {
            "input_ids": enc.input_ids,
            "attention_mask": enc.attention_mask,
            "words_mask": enc.words_mask,
            "text_lengths": enc.text_lengths,
        }
        (logits,) = self._session().run(["logits"], feeds)
        bsz = len(batch_tokens)
        logits = np.asarray(logits, dtype=np.float32).reshape(
            3, bsz, enc.num_words, len(labels)
        )
        # per-document (3, num_words, E) slices for decode_token_logits
        return [logits[:, i] for i in range(bsz)]


def make_scorer(
    max_width: int = 12,
    model_path: str | None = None,
    tokenizer_path: str | None = None,
    device_id: int = -1,
    model_type: str = SPAN_LEVEL,
):
    """ONNX when a model is configured, otherwise the surrogate that
    matches ``model_type`` (``TokenSurrogateScorer`` for token-level
    decode). The one place that picks a scorer for a config.
    ``device_id >= 0`` routes to the CUDA EP (model.cpp:71-77).

    A configured model is honored even without the onnxruntime wheel:
    ``OnnxScorer`` then executes the file with the bundled
    ``MiniOnnxSession`` (kernels/onnx_rt.py), which fails LOUDLY on ops
    it lacks — silently swapping a user-configured model for the
    surrogate would fabricate results."""
    if model_path and tokenizer_path:
        return OnnxScorer(model_path, tokenizer_path, max_width,
                          device_id=device_id)
    if model_type == TOKEN_LEVEL:
        return TokenSurrogateScorer()
    return SurrogateScorer(max_width)


class TokenSurrogateScorer:
    """Token-level surrogate: start/end/inside logits per word
    (reference token models output shape (3, B, numWords, numEntities);
    /root/reference/src/decoder.cpp:137-159). Gazetteer occurrences set
    start at the first word, end at the last, inside on every word.

    The inside logit is a per-LABEL constant (max prob of the label's
    entries): the reference's end-walk skips low-end words without
    breaking (decoder.cpp:160-164), so two same-label occurrences chain
    into a spurious long span whose prob is the mean of inside scores —
    with a per-label constant that mean ties the leftmost single span and
    greedy keeps the single (strict < at decoder.cpp:54). Nested
    same-label phrases still resolve leftmost-shortest rather than
    highest-prob; span-level is the primary mode, this is the faithful
    phase-2 decode (SURVEY.md §3.2)."""

    def __init__(self):
        self._by_first: Dict[str, List[Tuple[Tuple[str, ...], str, float]]] = {}
        label_max: Dict[str, float] = {}
        for phrase, label, prob in GAZETTEER:
            self._by_first.setdefault(phrase[0], []).append(
                (phrase, label, logit_of(prob))
            )
            label_max[label] = max(label_max.get(label, 0.0), prob)
        self._inside_logit = {
            lab: logit_of(p) for lab, p in label_max.items()
        }

    def score_tokens(
        self,
        batch_tokens: Sequence[Sequence[Token]],
        labels: Sequence[str],
    ) -> List[np.ndarray]:
        lab_idx = {l: i for i, l in enumerate(labels)}
        out: List[np.ndarray] = []
        for tokens in batch_tokens:
            n = len(tokens)
            logits = np.full((3, n, len(labels)), NEG_LOGIT, dtype=np.float32)
            words = [t[2] for t in tokens]
            for i, w in enumerate(words):
                for phrase, label, lg in self._by_first.get(w, ()):
                    li = lab_idx.get(label)
                    if li is None or i + len(phrase) > n:
                        continue
                    if all(words[i + k] == phrase[k] for k in range(1, len(phrase))):
                        logits[0, i, li] = lg                       # start
                        logits[1, i + len(phrase) - 1, li] = lg     # end
                        for k in range(len(phrase)):                # inside
                            logits[2, i + k, li] = self._inside_logit[label]
            out.append(logits)
        return out
