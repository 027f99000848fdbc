"""Single-process replay of the ``ner_documents`` stages.

Times tokenize, score, decode and greedy separately over a fixed slice
of a workload's pages, the same calls ``kernels.pipeline.ner_documents``
makes, then the whole ``ner_documents`` call. The span path scores the
slice in one batch; the token path scores one page at a time, as
``ner_documents`` does.
"""

from __future__ import annotations

import time


def replay(texts: list, token_level: bool) -> dict:
    from gliner_spark.config import TOKEN_LEVEL, GlinerConfig
    from gliner_spark.kernels.decode import (decode_span_logits,
                                             decode_token_logits,
                                             greedy_search)
    from gliner_spark.kernels.pipeline import ner_documents
    from gliner_spark.kernels.scorer import (ALL_LABELS, SurrogateScorer,
                                             TokenSurrogateScorer)
    from gliner_spark.kernels.tokenize import tokenize_text

    labels = ALL_LABELS
    if token_level:
        path, cfg, scorer = "token", GlinerConfig(model_type=TOKEN_LEVEL), \
            TokenSurrogateScorer()
    else:
        path, cfg = "span", GlinerConfig()
        scorer = SurrogateScorer(cfg.max_width)
    texts = [t for t in texts if t]

    t0 = time.perf_counter()
    toks = [tokenize_text(t) for t in texts]
    t1 = time.perf_counter()
    if token_level:
        logits = [scorer.score_tokens([tk], labels)[0] for tk in toks]
    else:
        logits = scorer.score_spans(toks, labels)
    t2 = time.perf_counter()
    decode = decode_token_logits if token_level else decode_span_logits
    cands = [decode(lg, tk, tx, labels, cfg.threshold)
             for lg, tk, tx in zip(logits, toks, texts)]
    t3 = time.perf_counter()
    kept = [greedy_search(c, cfg.flat_ner, cfg.multi_label) for c in cands]
    t4 = time.perf_counter()
    ner_documents(texts, labels, scorer, cfg)
    t5 = time.perf_counter()

    n_cand = sum(len(c) for c in cands)
    return {
        "kernels.tokenize.s": t1 - t0,
        "kernels.tokenize.words": sum(len(tk) for tk in toks),
        f"kernels.scorer.{path}.s": t2 - t1,
        f"kernels.scorer.{path}.cells": sum(int(lg.size) for lg in logits),
        f"kernels.decode.{path}.s": t3 - t2,
        f"kernels.decode.{path}.candidates": n_cand,
        "kernels.decode.greedy.s": t4 - t3,
        "kernels.decode.greedy.kept_frac":
            sum(len(k) for k in kept) / n_cand if n_cand else 0.0,
        "kernels.pipeline.s": t5 - t4,
    }
