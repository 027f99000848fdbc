"""Batch NER composition — the shared kernel between the Spark operator
and the single-process parity oracle.

Mirrors Model::inference (/root/reference/src/model.cpp:101-124):
validate → tokenize → score → decode → greedy, with the Model-level
defaults flat_ner=True, threshold=0.5, multi_label=False
(/root/reference/include/GLiNER/model.hpp:44-47). Empty texts or empty
label sets short-circuit to no spans (model.cpp:50-52, 104-107).

There is one path for every configuration: tokenize each text, cut each
document into windows, score ALL windows of the batch with one scorer
call, decode each window, then run greedy once per document. Only the
scorer method and the decoder change with the model type, as in the
reference's processor/decoder pair.

Two extensions beyond the reference, both opt-in:
- token-level decode (TokenProcessor/TokenDecoder path,
  /root/reference/src/processor.cpp:167-181, decoder.cpp:123-181) via
  ``model_type=TOKEN_LEVEL`` and a scorer exposing ``score_tokens``;
- chunking for oversized pages (``config.chunk_words > 0``): the
  reference never truncates (``maxLength`` is dead config, SURVEY.md
  §1.4), which is unbounded on 100 KB pages — a document longer than
  ``chunk_words`` becomes several overlapping windows cut at word
  boundaries. The windows are scored in the same batched call as every
  other window (byte offsets stay global because tokens carry
  original-offset spans); a multi-window document's seam duplicates are
  merged keeping max prob and re-sorted to generation order before
  greedy. A single-window document keeps its decoder's order untouched.

Because the Spark ``mapInArrow`` stage calls exactly this function, the
cluster output and the straight-line single-process output are the same
code path — the P/R-vs-reference gate (BASELINE.json:metric) is then a
structural identity, measured (not assumed) by bench's parity check.
"""

from __future__ import annotations

from typing import Dict, List, Sequence, Tuple

from ..config import TOKEN_LEVEL, GlinerConfig
from .decode import (
    Span,
    decode_span_logits,
    decode_token_logits,
    greedy_search,
)
from .tokenize import tokenize_text


def _windows(n_tokens: int, config: GlinerConfig) -> List[Tuple[int, int]]:
    """Token ranges scored for one document: the whole document, or
    overlapping ``chunk_words`` chunks when it is longer than that."""
    size = config.chunk_words
    if not size or n_tokens <= size:
        return [(0, n_tokens)]
    step = max(1, size - config.chunk_overlap)
    starts = range(0, max(1, n_tokens - config.chunk_overlap), step)
    return [(s, min(n_tokens, s + size)) for s in starts]


def _merge_seams(decoded: List[List[Span]], lab_pos: Dict[str, int]):
    """One document's per-window spans → deduplicated by (start, end,
    label) keeping max prob, in generation order (start, end, label)."""
    merged: Dict[Tuple[int, int, str], Span] = {}
    for spans in decoded:
        for sp in spans:
            key = (sp[0], sp[1], sp[3])
            prev = merged.get(key)
            if prev is None or sp[4] > prev[4]:
                merged[key] = sp
    return sorted(merged.values(), key=lambda s: (s[0], s[1], lab_pos[s[3]]))


def ner_documents(
    texts: Sequence[str],
    labels: Sequence[str],
    scorer,
    config: GlinerConfig = GlinerConfig(),
) -> List[List[Span]]:
    """Batch NER: texts × labels → per-document selected spans."""
    if not texts or not labels:
        return [[] for _ in texts]
    if config.model_type == TOKEN_LEVEL:
        score, decode = scorer.score_tokens, decode_token_logits
    else:
        score, decode = scorer.score_spans, decode_span_logits

    owners: List[int] = []
    windows = []
    for d, text in enumerate(texts):
        tokens = tokenize_text(text) if text else []
        if tokens:
            for lo, hi in _windows(len(tokens), config):
                owners.append(d)
                windows.append(tokens[lo:hi])

    decoded: List[List[List[Span]]] = [[] for _ in texts]
    if windows:
        logits = score(windows, labels)  # one call for the whole batch
        for d, tokens, lg in zip(owners, windows, logits):
            decoded[d].append(
                decode(lg, tokens, texts[d], labels, config.threshold)
            )

    lab_pos = {l: i for i, l in enumerate(labels)}
    return [
        greedy_search(
            doc[0] if len(doc) == 1 else _merge_seams(doc, lab_pos),
            config.flat_ner,
            config.multi_label,
        )
        for doc in decoded
    ]
