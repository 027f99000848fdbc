"""Span decoding + greedy non-overlap selection (reference O7, O11-O14).

Parity targets:
- span enumeration: SpanProcessor::prepareSpans
  (/root/reference/src/processor.cpp:122-144) — for word i, widths j in
  [0, min(maxWidth, textLength-i)), flat index i*maxWidth+j.
- span decode: SpanDecoder::decode (/root/reference/src/decoder.cpp:76-121)
  — logits of logical shape (B, numWords, maxWidth, numEntities), sigmoid,
  threshold, bounds checks, byte-offset gather into the original text.
- greedy select: Decoder::greedySearch (/root/reference/src/decoder.cpp:31-61)
  with hasOverlapping/isNested/hasOverlappingNested (:11-29) and the
  Model-level defaults flat_ner=True, threshold=0.5, multi_label=False
  (/root/reference/include/GLiNER/model.hpp:44-47).
- token decode: TokenDecoder::decode (/root/reference/src/decoder.cpp:123-181)
  — start/end/inside scan with running-mean prob.

Everything is numpy over one document (the decode unit); the Spark
operator applies it inside the same ``mapInArrow`` pass as scoring, so
NER needs **no shuffle** (SURVEY.md §3.1).
"""

from __future__ import annotations

from typing import List, Sequence, Tuple

import numpy as np

# A decoded span: (start_byte, end_byte, text, label, prob)
Span = Tuple[int, int, str, str, float]


def sigmoid(x: np.ndarray) -> np.ndarray:
    # decoder.cpp:7-9
    return 1.0 / (1.0 + np.exp(-x))


def enumerate_spans(text_length: int, max_width: int) -> np.ndarray:
    """All candidate spans for one text: rows of (start_word, end_word).

    Flat order matches processor.cpp:133-142: index i*max_width + j,
    span (i, i+j); invalid tails masked out by the caller via bounds.
    Returns an (n, 2) int64 array of only the VALID spans, in flat order.
    """
    if text_length <= 0:
        return np.empty((0, 2), dtype=np.int64)
    i = np.repeat(np.arange(text_length, dtype=np.int64), max_width)
    j = np.tile(np.arange(max_width, dtype=np.int64), text_length)
    keep = j < (text_length - i)
    out = np.empty((int(keep.sum()), 2), dtype=np.int64)
    out[:, 0] = i[keep]
    out[:, 1] = (i + j)[keep]
    return out


def decode_span_logits(
    logits: np.ndarray,
    tokens: Sequence[Tuple[int, int, str]],
    text: str,
    labels: Sequence[str],
    threshold: float = 0.5,
) -> List[Span]:
    """Threshold + gather for ONE document (decoder.cpp:94-118).

    ``logits``: float array of shape (num_words, max_width, num_labels)
    where num_words may exceed len(tokens) (batch padding). Candidates are
    emitted in flat-index order (start, width, label) — the generation
    order the greedy pass depends on (decoder.cpp:33).
    """
    n_tok = len(tokens)
    if n_tok == 0 or logits.size == 0:
        return []
    logits = logits.astype(np.float32, copy=False)
    # threshold in logit space first: sigmoid is monotonic, so
    # sigmoid(x) >= t  ⟺  x >= logit(t); this skips the exp over the
    # dense (num_words, max_width, n_labels) block and computes sigmoid
    # only for surviving candidates (the hot-path win: candidates are
    # sparse). 0 < t < 1 strictly, matching the reference's sigmoid-then-
    # compare up to float monotonicity.
    logit_t = np.float32(np.log(threshold / (1.0 - threshold)))
    cand = np.argwhere(logits >= logit_t)  # row-major == generation order
    if cand.size == 0:
        return []
    starts = cand[:, 0]
    ends = starts + cand[:, 1]
    keep = (starts < n_tok) & (ends < n_tok)
    cand = cand[keep]
    if cand.size == 0:
        return []
    probs = sigmoid(logits[cand[:, 0], cand[:, 1], cand[:, 2]])
    text_b = text.encode("utf-8")
    out: List[Span] = []
    for (s_w, width, lab), p in zip(cand, probs):
        e_w = s_w + width
        bs = tokens[s_w][0]
        be = tokens[e_w][1]
        out.append(
            (
                int(bs),
                int(be),
                text_b[bs:be].decode("utf-8", errors="replace"),
                labels[lab],
                float(p),
            )
        )
    return out


def _is_nested(s1: Span, s2: Span) -> bool:
    # decoder.cpp:11-13
    return (s1[0] <= s2[0] and s2[1] <= s1[1]) or (s2[0] <= s1[0] and s1[1] <= s2[1])


def _has_overlapping(s1: Span, s2: Span, multi_label: bool) -> bool:
    # decoder.cpp:16-24
    if s1[0] == s2[0] and s1[1] == s2[1]:
        return not multi_label
    if s1[0] > s2[1] or s2[0] > s1[1]:
        return False
    return True


def _has_overlapping_nested(s1: Span, s2: Span, multi_label: bool) -> bool:
    # decoder.cpp:27-29
    return _has_overlapping(s1, s2, multi_label) or _is_nested(s1, s2)


def greedy_search(
    spans: List[Span], flat_ner: bool = True, multi_label: bool = False
) -> List[Span]:
    """Sequential keep-the-best-of-each-overlap-chain (decoder.cpp:31-61).

    Input must be in generation order (sorted by start, then width, then
    label index). Intrinsically sequential per document — run inside the
    scoring pass, never as a window function.
    """
    if not spans:
        return []
    has_ov = _has_overlapping if flat_ner else _has_overlapping_nested
    out: List[Span] = []
    prev = 0
    for nxt in range(1, len(spans)):
        if not has_ov(spans[prev], spans[nxt], multi_label):
            out.append(spans[prev])
            prev = nxt
        elif spans[prev][4] < spans[nxt][4]:
            prev = nxt
    out.append(spans[prev])
    return out


def decode_token_logits(
    logits: np.ndarray,
    tokens: Sequence[Tuple[int, int, str]],
    text: str,
    labels: Sequence[str],
    threshold: float = 0.5,
) -> List[Span]:
    """Token-level start/end/inside decode for ONE document
    (decoder.cpp:123-181).

    ``logits``: shape (3, num_words, num_labels) — start/end/inside
    scores. For each start candidate ≥ threshold, walk ends forward:
    end-score < t → continue; inside-score < t → break; emit one span per
    surviving end with prob = running mean of inside scores.
    """
    n_tok = len(tokens)
    if n_tok == 0 or logits.size == 0:
        return []
    probs = sigmoid(logits.astype(np.float32, copy=False))
    start_p, end_p, inside_p = probs[0], probs[1], probs[2]
    num_words = start_p.shape[0]
    text_b = text.encode("utf-8")
    out: List[Span] = []
    for s_w in range(min(num_words, n_tok)):
        for lab in range(len(labels)):
            if start_p[s_w, lab] < threshold:
                continue
            score_sum = 0.0
            n = 0
            for e_w in range(s_w, min(num_words, n_tok)):
                score = inside_p[e_w, lab]
                if end_p[e_w, lab] < threshold:
                    continue
                if score < threshold:
                    break  # fast exit (decoder.cpp:162-164)
                score_sum += float(score)
                n += 1
                bs = tokens[s_w][0]
                be = tokens[e_w][1]
                out.append(
                    (
                        int(bs),
                        int(be),
                        text_b[bs:be].decode("utf-8", errors="replace"),
                        labels[lab],
                        score_sum / n,
                    )
                )
    return out
