"""Fused NER + relation extraction: spans → relations inside the NER pass.

The relation window is intra-document (operators/relations.py), and every
document's spans come out together inside one NER Arrow batch — so the
(subj, obj) pairing runs right there, as one numpy pass over the whole
batch (``pair_spans``): a sorted-key band join (DeWitt, Naughton and
Schneider, "An Evaluation of Non-Equijoin Algorithms", VLDB 1991) on
the key (document index, start). This removes BOTH costs the join
formulation has:

- no second computation of the NER stage (the self-join's two branches
  each re-run ``mapInArrow`` unless the mentions table is pinned);
- no mentions shuffle at all — pages → triples becomes scan → one
  Python stage → sink, embarrassingly parallel.

Who pairs with which implementation:

- ``pair_spans`` (this module), in the NER stage
  (``operators/ner._ner_stage``, only the emitter differs):
  ``extract_triples_fused`` (the ``ner_triples_fused`` query and the
  ``entry()`` flagship);
  ``plans/kg.build_kg`` through ``mention_relations``, whose mention
  rows carry the relations they are the subject of (schema
  ``MENTION_RELATIONS``); and ``relations_for_doc`` for one document.
- ``relations.extract_relations`` (a Spark band self-join) where the
  mentions already are a table: ``incremental.merge_kg_batch`` over the
  checkpointed batches, the ``ner_triples``/``kg_edges`` queries and
  bench.py.

Both give the same triples for span- and token-level configs, ``prob``
included: Spark's ``round(s.prob * o.prob, 4)`` is HALF_UP on the
product's decimal string, reproduced here in integer arithmetic on the
4-decimal probs (tests/test_fused.py).
"""

from __future__ import annotations

from typing import List, Sequence, Tuple

import numpy as np
from pyspark.sql import DataFrame

from ..config import GlinerConfig
from ..kernels.decode import Span
from ..schemas import TRIPLES
from .linking import _spark_round
from .ner import Emitter, _mention_rows, _ner_stage
from .relations import DEFAULT_RULES, DEFAULT_WINDOW_BYTES


def pair_spans(
    spans_batch: Sequence[Sequence[Span]],
    rules: dict,
    window_bytes: int,
) -> Tuple[List[Span], np.ndarray, List[tuple]]:
    """(flat, doc, pairs) of a batch of documents' selected spans.

    ``flat`` is the batch's spans in document order, ``doc`` the
    document index of each. ``pairs`` holds one (i, j, pred, prob) per
    relation, indexes into ``flat``: subject i and object j lie in one
    document with 0 < start_j − start_i ≤ ``window_bytes``, and
    ``rules[(label_i, label_j)]`` is ``pred``. ``prob`` is
    ``round(p_i × p_j, 4)`` of the 4-decimal probs as Spark computes it.

    One sort of the key (document index, start); ``searchsorted`` finds
    each subject's (start, start + window] run, which ends before the
    next document's first key; a label × label code matrix keeps the
    rule pairs."""
    flat = [s for spans in spans_batch for s in spans]
    doc = np.repeat(np.arange(len(spans_batch)),
                    [len(spans) for spans in spans_batch])
    if not flat or window_bytes < 1:
        return flat, doc, []
    names = sorted({lab for pair in rules for lab in pair})
    code = {lab: c for c, lab in enumerate(names)}
    preds = list(rules.values())
    rule_code = np.full((len(names) + 1, len(names) + 1), -1, np.int64)
    for c, (s, o) in enumerate(rules):
        rule_code[code[s], code[o]] = c
    n = len(flat)
    start = np.fromiter((s[0] for s in flat), np.int64, n)
    label = np.fromiter((code.get(s[3], len(names)) for s in flat),
                        np.int64, n)
    p4 = np.rint(np.fromiter((round(float(s[4]), 4) for s in flat),
                             np.float64, n) * 10_000).astype(np.int64)

    start = start - start.min()
    key = doc * (int(start.max()) + window_bytes + 1) + start
    order = np.argsort(key, kind="stable")
    ks = key[order]
    lo = np.searchsorted(ks, ks, "right")
    run = np.searchsorted(ks, ks + window_bytes, "right") - lo
    subj = np.repeat(order, run)
    obj = order[np.arange(run.sum()) + np.repeat(lo - (np.cumsum(run) - run),
                                                 run)]
    pred = rule_code[label[subj], label[obj]]
    keep = pred >= 0
    subj, obj, pred = subj[keep], obj[keep], pred[keep]

    # HALF_UP at 4 decimals of the exact product a·b / 10^8 — what
    # Spark's round gives unless the product is an exact tie, where the
    # decimal string of the binary product decides
    ab = p4[subj] * p4[obj]
    prob = (((ab + 5_000) // 10_000) / 10_000).tolist()
    for t in np.flatnonzero(ab % 10_000 == 5_000).tolist():
        a, b = int(p4[subj[t]]), int(p4[obj[t]])
        prob[t] = _spark_round((a / 10_000) * (b / 10_000), 4)
    return flat, doc, list(zip(subj.tolist(), obj.tolist(),
                               [preds[c] for c in pred.tolist()], prob))


def _triples(spans_batch, rules: dict, window_bytes: int) -> List[tuple]:
    """(doc index, subj, subj_label, subj_start, pred, obj, obj_label,
    obj_start, prob) of every pair of ``pair_spans``."""
    flat, doc, pairs = pair_spans(spans_batch, rules, window_bytes)
    doc = doc.tolist()
    return [
        (doc[i], s[2], s[3], s[0], pred, o[2], o[3], o[0], prob)
        for i, j, pred, prob in pairs
        for s, o in ((flat[i], flat[j]),)
    ]


def relations_for_doc(
    spans: Sequence[Span],
    rules: dict,
    window_bytes: int,
) -> List[tuple]:
    """(subj, subj_label, subj_start, pred, obj, obj_label, obj_start,
    prob) tuples for one document's selected spans — the same pairing
    rule as the distributed self-join."""
    return [t[1:] for t in _triples([spans], rules, window_bytes)]


def mention_relations(
    rules: Sequence[Tuple[str, str, str]] = DEFAULT_RULES,
    window_bytes: int = DEFAULT_WINDOW_BYTES,
) -> Emitter:
    """The NER-stage emitter of ``MENTION_RELATIONS`` rows: each mention
    row (as ``extract_mentions`` emits it) plus ``rels``, the (pred,
    obj, obj_label, obj_start, prob) of the relations whose subject it
    is."""
    rule_map = {(s, o): p for s, o, p in rules}

    def rows(doc_ids, spans_batch):
        flat, _, pairs = pair_spans(spans_batch, rule_map, window_bytes)
        rels: List[list] = [[] for _ in flat]
        for i, j, pred, prob in pairs:
            o = flat[j]
            rels[i].append((pred, o[2], o[3], o[0], prob))
        return [(*m, r) for m, r in
                zip(_mention_rows(doc_ids, spans_batch), rels)]

    return rows


def extract_triples_fused(
    pages: DataFrame,
    labels: Sequence[str],
    rules: Sequence[Tuple[str, str, str]] = DEFAULT_RULES,
    window_bytes: int = DEFAULT_WINDOW_BYTES,
    id_col: str = "url",
    text_col: str = "text",
    config: GlinerConfig = GlinerConfig(),
    scorer_factory=None,
) -> DataFrame:
    """pages → triples, single mapInArrow stage (no shuffle)."""
    rule_map = {(s, o): p for s, o, p in rules}

    def triple_rows(doc_ids, spans_batch):
        return [(doc_ids[t[0]], *t[1:])
                for t in _triples(spans_batch, rule_map, window_bytes)]

    return _ner_stage(
        pages, labels, id_col, text_col, config, scorer_factory,
        triple_rows, TRIPLES,
    )
