"""Streaming admission: a document stream dedups against the
append-only MinHash signature store micro-batch by micro-batch.

The continuous form of ``plans/incremental.dedup_admit_batch`` — the
way a live crawl actually consumes the incremental dedup path. Three
mechanisms compose into effectively-once admission:

- Structured Streaming's source checkpoint decides WHICH files form
  each micro-batch (exactly-once file accounting across restarts);
- the store append inside ``dedup_admit_batch`` is left-anti guarded
  against already-stored ids, so a REPLAYED micro-batch (foreachBatch
  is at-least-once by contract) recomputes identical verdicts and
  appends nothing;
- verdicts land under ``epoch=<batch_id>`` with dynamic partition
  overwrite — a replay overwrites its own epoch partition in place
  instead of double-appending.

Scale shape is the batch operator's (docs/SCALE.md): per micro-batch
one signature pass over the NEW documents only, one band-key self-join
that moves (id, band, tag) ints, and a store append of keepers. The store is the
only cross-batch state and grows by keepers only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_admissions(
    docs_stream: DataFrame,
    store_dir: str,
    verdicts_dir: str,
    checkpoint_dir: str,
    **admit_kwargs,
):
    """Return a ready-to-``start()`` writeStream admitting each
    micro-batch of ``(doc_id, text)`` documents against ``store_dir``
    and writing ``(doc_id, dup_of, keep, epoch)`` verdict rows under
    ``verdicts_dir`` (parquet, partitioned by epoch)."""
    from ..plans.incremental import dedup_admit_batch

    def _admit(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        v = dedup_admit_batch(batch_df, store_dir, **admit_kwargs)
        (
            v.withColumn("epoch", F.lit(int(batch_id)))
            .write.mode("overwrite")
            # WRITER-scoped dynamic overwrite, not the session conf: a
            # session-global toggle races with any concurrent query in
            # the same session — another writer restoring "static"
            # before this job executes would turn the epoch-partition
            # replace into a full-directory wipe of every prior epoch
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(verdicts_dir)
        )

    return (
        docs_stream.writeStream
        .foreachBatch(_admit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
