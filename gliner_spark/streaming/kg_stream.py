"""Continuous KG maintenance: a page stream folds into the persistent
node/edge tables micro-batch by micro-batch.

This composes the two resumability mechanisms the repo already has:

- Structured Streaming's source checkpoint decides WHICH files form
  each micro-batch (exactly-once file accounting across restarts);
- ``merge_kg_batch``'s per-partition manifests make the fold ITSELF
  idempotent — if a micro-batch is replayed after a crash mid-fold
  (foreachBatch is at-least-once by contract), the pages of every
  already-scored partition left-anti-join away against the DONE
  manifest rows before the NER stage, so nothing is scored twice,
  mentions are never double-appended and the rebuilt node/edge tables
  are identical. At-least-once delivery + idempotent fold =
  effectively-once end to end.

nodes/edges are rewritten per micro-batch from the merged
(vocabulary-bounded) surface universe — the only correct choice, since
a new surface can bridge two previously separate components
(plans/incremental.py); the rewrite cost is bounded by vocabulary, not
corpus size.

``read_page_stream`` opens the page stream the fold consumes.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

from ..config import PipelineConfig
from ..plans.incremental import merge_kg_batch
from ..schemas import PAGES


def read_page_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """``readStream`` over a directory of page parquet files, at most
    ``max_files_per_trigger`` new files per micro-batch."""
    return (
        spark.readStream.schema(PAGES)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def stream_kg_updates(
    pages_stream: DataFrame,
    labels: Sequence[str],
    checkpoint_root: str,
    out_dir: str,
    cfg: PipelineConfig = PipelineConfig(),
):
    """Return a ready-to-``start()`` writeStream that folds each
    micro-batch of pages into the KG under ``checkpoint_root`` and
    republishes nodes/edges parquet under ``out_dir`` — linked by the
    same tail as ``build_kg`` (via ``merge_kg_batch``), so the streamed
    tables equal a batch build over the same pages."""

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # the epoch id is stable across replays of the same micro-batch,
        # so it scopes the manifest partitions (replay = no-op) for free
        kg = merge_kg_batch(
            batch_df, labels, checkpoint_root, cfg=cfg,
            batch_id=f"epoch{batch_id}",
        )
        # versioned-dir + create-only marker publish: a reader resolving
        # nodes/edges between (or during) micro-batches always sees one
        # COMPLETE epoch's table, never an in-place half-overwrite
        from ..operators.sinks import publish_atomic

        publish_atomic(kg.nodes, os.path.join(out_dir, "nodes"))
        publish_atomic(kg.edges, os.path.join(out_dir, "edges"))

    return (
        pages_stream.writeStream.foreachBatch(_fold)
        .option(
            "checkpointLocation", os.path.join(checkpoint_root, "_stream")
        )
        .trigger(availableNow=True)
    )
