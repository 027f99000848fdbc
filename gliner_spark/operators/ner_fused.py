"""Fused NER + relation extraction: pages → triples in ONE pass.

The relation window is intra-document (operators/relations.py), and every
document's mentions are produced together inside one NER Arrow batch —
so the (subj, obj) pairing can run right there, per document, over ~tens
of mentions: a nested loop that is O(mentions²) per doc but costs
nothing next to scoring. This removes BOTH problems the join formulation
has at scale:

- no second computation of the NER stage (the self-join's two branches
  each re-run ``mapInPandas`` unless the mentions table is persisted);
- no mentions shuffle at all — the flagship pages→triples job becomes
  scan → one Python stage → sink, embarrassingly parallel.

The Python stage is the same one ``extract_mentions`` runs
(``operators/ner._ner_stage``: projection, parallelism guard, per-task
scorer chosen by ``make_scorer``, ``ner_documents`` per batch); only the
emitter differs — it turns each document's spans into triples with
``relations_for_doc`` instead of into mention rows.

Semantics are identical to ``extract_relations`` over
``extract_mentions`` for span- and token-level configs (asserted by
tests/test_fused.py); the modular operators remain the right choice when
the mentions table itself is a materialized product (linking, dedup,
checkpointing consume it).
"""

from __future__ import annotations

from typing import List, Sequence, Tuple

from pyspark.sql import DataFrame

from ..config import GlinerConfig
from ..schemas import TRIPLES
from .ner import _ner_stage
from .relations import DEFAULT_RULES, DEFAULT_WINDOW_BYTES


def relations_for_doc(
    spans: Sequence[Tuple[int, int, str, str, float]],
    rules: dict,
    window_bytes: int,
) -> List[tuple]:
    """(subj, subj_label, subj_start, pred, obj, obj_label, obj_start,
    prob) tuples for one document's selected spans — the same pairing
    rule as the distributed self-join."""
    out = []
    for s in spans:
        for o in spans:
            if o[0] > s[0] and o[0] - s[0] <= window_bytes:
                pred = rules.get((s[3], o[3]))
                if pred is not None:
                    out.append(
                        (
                            s[2], s[3], s[0], pred, o[2], o[3], o[0],
                            round(round(s[4], 4) * round(o[4], 4), 4),
                        )
                    )
    return out


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
    """pages → triples, single mapInPandas stage (no shuffle)."""
    rule_map = {(s, o): p for s, o, p in rules}

    def triple_rows(doc_ids, spans_batch):
        return [
            (doc_id, *rel)
            for doc_id, spans in zip(doc_ids, spans_batch)
            for rel in relations_for_doc(spans, rule_map, window_bytes)
        ]

    return _ner_stage(
        pages, labels, id_col, text_col, config, scorer_factory,
        triple_rows, TRIPLES,
    )
