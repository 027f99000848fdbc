"""Distributed NER: pages → mentions in ONE ``mapInArrow`` pass.

Spark translation of the reference lifecycle (SURVEY.md §3.1): tokenize →
score → decode → greedy all happen inside a single Arrow-batched Python
stage, because the greedy group is a single document — i.e. a single
input row — so **no shuffle is needed for NER**. The first shuffle in the
whole pipeline is the relation/linking join downstream.

``_ner_stage`` is the one Spark NER stage; ``extract_mentions``, the
fused ``extract_triples_fused`` and the mention rows with their
relations of ``plans/kg.build_kg`` and ``incremental.merge_kg_batch``
(operators/ner_fused.py) differ only in the emitter that turns a
batch's spans into output rows, and its schema.

Scale notes (100 TB / 1000 executors):
- the stage is embarrassingly parallel over input splits; throughput
  scales with cores as long as the scorer is the bottleneck (it is);
- ``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds the ONNX batch
  and Python-worker peak memory;
- for the ONNX path, sorting *within partitions* by text length before
  scoring shrinks padding waste (per-batch maxima, processor.cpp:60,:80);
  opt-in via ``length_sort=True`` — it costs a local sort, no shuffle;
- Catalyst prunes unread page columns (html is never deserialized here —
  only ``id_col`` and ``text_col`` reach Python).
"""

from __future__ import annotations

from typing import Callable, List, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import GlinerConfig
from ..kernels.decode import Span
from ..kernels.pipeline import ner_documents
from ..kernels.scorer import make_scorer
from ..schemas import MENTIONS
from .util import _arrow_rows, drop_zip_importers, ensure_parallelism

# (doc_ids, per-document selected spans) → one Arrow batch's output rows
Emitter = Callable[[List[str], List[List[Span]]], List[tuple]]


def _ner_stage(
    pages: DataFrame,
    labels: Sequence[str],
    id_col: str,
    text_col: str,
    config: GlinerConfig,
    scorer_factory,
    emit: Emitter,
    schema: T.StructType,
    length_sort: bool = False,
) -> DataFrame:
    """The one Spark NER stage: project (doc_id, text), guard input
    parallelism, then per Arrow batch run ``ner_documents`` with a
    per-task scorer and yield the rows of ``emit(doc_ids, spans_batch)``
    as a ``schema`` batch."""
    labels = list(labels)
    factory = scorer_factory or (
        lambda: make_scorer(config.max_width, model_type=config.model_type)
    )
    src = ensure_parallelism(
        pages.select(
            F.col(id_col).cast("string").alias("doc_id"),
            F.col(text_col).alias("text"),
        )
    )
    if length_sort:
        src = src.sortWithinPartitions(F.length("text"))

    def run(batches):
        drop_zip_importers()
        scorer = factory()  # once per task; sessions cache per process
        for b in batches:
            spans_batch = ner_documents(
                b.column(1).to_pylist(), labels, scorer, config
            )
            yield _arrow_rows(emit(b.column(0).to_pylist(), spans_batch),
                             schema)

    return src.mapInArrow(run, schema)


def _mention_rows(doc_ids: List[str], spans_batch: List[List[Span]]):
    return [
        (doc_id, s, e, txt, lab, round(float(p), 4))
        for doc_id, spans in zip(doc_ids, spans_batch)
        for s, e, txt, lab, p in spans
    ]


def extract_mentions(
    pages: DataFrame,
    labels: Sequence[str],
    id_col: str = "url",
    text_col: str = "text",
    config: GlinerConfig = GlinerConfig(),
    scorer_factory=None,
    length_sort: bool = False,
) -> DataFrame:
    """pages(id, text, …) → mentions(doc_id, m_start, m_end, m_text,
    label, prob). Labels are a broadcast-sized query constant folded into
    the scorer (the reference folds them into the prompt,
    /root/reference/src/processor.cpp:33-49)."""
    return _ner_stage(
        pages, labels, id_col, text_col, config, scorer_factory,
        _mention_rows, MENTIONS, length_sort,
    )
