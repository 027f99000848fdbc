"""Stateful streaming dedup: first-seen filtering across micro-batches.

A continuously-crawled corpus needs exact-dup suppression that REMEMBERS
what it has seen across micro-batches — the state-store use case
``applyInPandasWithState`` exists for. Key = content fingerprint
(md5 of text, computed JVM-side); state = one boolean per fingerprint;
output = only the first-ever row per fingerprint.

State size is one (16-byte key → flag) entry per distinct document —
the smallest possible dedup state; at 10^12 docs partition the state by
fingerprint prefix across executors (the groupBy does exactly that) and
use RocksDB state store + TTL where re-crawl windows allow it.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.util import drop_zip_importers

OUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("content_hash", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)
STATE_SCHEMA = T.StructType([T.StructField("seen", T.BooleanType())])


def _first_seen(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    drop_zip_importers()
    if state.exists:
        return  # fingerprint already emitted in an earlier batch
    # applyInPandasWithState may deliver ONE group as SEVERAL chunks —
    # the documented min-doc_id tie-break must compare across all of
    # them, not stop at the first non-empty chunk
    best = None
    for pdf in pdfs:
        if not len(pdf):
            continue
        cand = pdf.sort_values("doc_id").head(1)
        if best is None or cand.iloc[0]["doc_id"] < best.iloc[0]["doc_id"]:
            best = cand
    if best is not None:
        state.update((True,))
        yield best[["doc_id", "content_hash", "text"]]


def stream_distinct_documents(
    docs_stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Streaming exact-dedup: emits each distinct text once, at its
    first appearance (ties within a batch broken by min doc_id)."""
    keyed = docs_stream.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.md5(F.col(text_col)).alias("content_hash"),
        F.col(text_col).alias("text"),
    )
    return keyed.groupBy("content_hash").applyInPandasWithState(
        _first_seen,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
