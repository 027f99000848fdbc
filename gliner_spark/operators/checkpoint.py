"""Per-partition checkpointing with lineage + metrics, and resume.

North-rule requirement (BASELINE.json:north_rule: "resumable from
checkpoint with per-partition lineage + metrics"). The reference has no
persistence at all; this is target-side design (SURVEY.md §2.3).

Mechanism: every stage writes its output parquet partitioned by a stable
``part_key`` (e.g. ``substr(xxhash64(url), …)`` bucket or lang), and
appends one manifest row per partition to a checkpoint table:
(stage, part_key, status, n_rows, lineage, ts). A re-run left-anti-joins
its input against the DONE manifest rows for the stage and processes only
missing partitions — idempotent because each partition's output path is
deterministic and overwritten atomically (dynamic partition overwrite).

At cluster scale this is the standard Iceberg/Hive pattern; parquet is
used here because no Iceberg runtime ships with Spark, but every stage
write goes through one function (``checkpoint_write``) so swapping the
format is one line. Every manifest write commits by an append — the
rows of a call, or the fold of ``compact_manifest`` — never by a
rename.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .util import local_table, read_parquet_or_empty

PART_COL = "part_key"
DONE = "done"
MANIFEST_DDL = (
    "stage string, part_key string, status string, n_rows long, "
    "lineage string, ts timestamp"
)


def with_part_key(
    df: DataFrame, key_col: str, n_buckets: int = 64, method: str = "hash"
) -> DataFrame:
    """Deterministic bucket key: stable across runs and cluster sizes
    (content-derived, not partition id — partition ids are not stable
    under different parallelism, content buckets are).

    method="hash" (default): ``pmod(xxhash64(key), n)`` — works for any
    key type and spreads adversarial key distributions.
    method="mod": ``pmod(key, n)`` for numeric keys — same stability,
    and reproducible by any ANSI-SQL engine (``key % n``), which lets a
    checkpointed stage's manifest carry an EXACT external oracle."""
    if method == "mod":
        key = F.pmod(F.col(key_col).cast("long"), F.lit(n_buckets))
    else:
        key = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets))
    return df.withColumn(PART_COL, key.cast("string"))


def _manifest_path(root: str) -> str:
    return os.path.join(root, "_checkpoints")


def read_manifest(spark: SparkSession, root: str, stage: str) -> DataFrame:
    return stage_metrics(spark, root).where(F.col("stage") == stage)


def completed_partitions(spark: SparkSession, root: str, stage: str) -> DataFrame:
    return (
        read_manifest(spark, root, stage)
        .where(F.col("status") == DONE)
        .select(PART_COL)
        .distinct()
    )


def checkpoint_write(
    df: DataFrame,
    root: str,
    stage: str,
    lineage: dict | None = None,
    expected_part_keys: Sequence[str] | DataFrame | None = None,
) -> DataFrame:
    """Write ``df`` (must carry part_key) partition-by-partition with a
    manifest; skips partitions already DONE (resume). Returns the full
    stage output (reading back what exists on disk).

    ``todo`` is persisted across the two actions (parquet write +
    manifest count) so the upstream stage — for ``build_kg``'s NER
    rows, a full ``mapInArrow`` pass — executes ONCE, not twice.

    ``expected_part_keys`` (iterable of keys, or a 1-column DataFrame of
    part_key): input partitions that produced ZERO output rows are
    invisible in ``df``; passing the expected key universe records them
    as DONE with n_rows=0 so resume does not reprocess them forever.
    """
    spark = df.sparkSession
    out_path = os.path.join(root, stage)

    done = completed_partitions(spark, root, stage)
    todo = df.join(F.broadcast(done), PART_COL, "left_anti").persist()
    try:
        # writer-scoped dynamic overwrite: the session's mode stays put
        todo.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy(PART_COL).parquet(out_path)

        # manifest rows: per-partition row counts = the metrics the north
        # rule asks to track (NER rows per partition etc.)
        counts = todo.groupBy(PART_COL).agg(
            F.count(F.lit(1)).alias("n_rows")
        )
        exp = expected_part_keys
        if exp is not None:
            if not isinstance(exp, DataFrame):
                exp = local_table(spark, [(str(k),) for k in exp],
                                  f"{PART_COL} string")
            empty = (
                exp.select(F.col(exp.columns[0]).cast("string")
                           .alias(PART_COL)).distinct()
                .join(F.broadcast(done), PART_COL, "left_anti")
                .join(counts.select(PART_COL), PART_COL, "left_anti")
                .select(PART_COL, F.lit(0).cast("long").alias("n_rows"))
            )
            counts = counts.unionByName(empty)
        # one row per part key this call records (with_part_key makes
        # ≤ n_buckets): collected, so a fully resumed write appends none
        ts = datetime.now(timezone.utc)
        lin = json.dumps(lineage or {}, sort_keys=True)
        rows = [(stage, r[PART_COL], DONE, r.n_rows, lin, ts)
                for r in counts.collect()]
        if rows:
            local_table(spark, rows, MANIFEST_DDL).write.mode(
                "append").parquet(_manifest_path(root))
    finally:
        todo.unpersist()
    # the written schema, not inference: ``part_key`` reads back a
    # string whatever its values look like
    return spark.read.schema(df.schema).parquet(out_path)


def _manifest_parts(fs, path: str) -> list[str]:
    """Names of the manifest's data files: Spark's ``_SUCCESS`` and
    ``_temporary``, and Hadoop's ``.crc`` sidecars, are skipped."""
    if not fs.exists(path):
        return []
    return [f for f in fs.listdir(path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))]


def compact_manifest(spark: SparkSession, root: str) -> int:
    """Fold the append-only manifest into one parquet file.

    ``checkpoint_write`` appends one small parquet per call; a
    long-lived incremental root accumulates unbounded small files.
    This opt-in maintenance op lists the manifest's files, keeps the
    LATEST row per (stage, part_key, status) among exactly those —
    replays of an idempotent write can append duplicate DONE rows, and
    the newest carries the freshest lineage/ts while n_rows is
    identical by idempotence — appends the folded rows as one more
    file, and then deletes the listed files. DONE semantics are
    unchanged: ``completed_partitions`` sees exactly the same key set
    before and after (pytest-pinned across a resume boundary).

    The fold commits as every manifest write does, by an append, never
    by a rename, so it runs on any filesystem Spark writes to (object
    stores included) and beside concurrent ``checkpoint_write`` calls:
    a file appended after the listing is not deleted. A crash before
    the deletes finish leaves the folded rows beside (some of) the old
    files — duplicate rows, the same DONE set — until the next fold
    collapses them. A concurrent reader may fail loudly on a file
    deleted under it, but never reads an empty manifest: the folded
    file lands before any delete. Returns rows retained."""
    from pyspark.sql import Observation, Window

    from .fsio import fs_for

    fs = fs_for(spark, root)
    path = _manifest_path(root)
    parts = [fs.join(path, f) for f in _manifest_parts(fs, path)]
    if not parts:
        return 0
    w = (
        Window.partitionBy("stage", PART_COL, "status")
        .orderBy(F.col("ts").desc())
    )
    folded = (
        spark.read.schema(MANIFEST_DDL).parquet(*parts)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    kept = Observation()
    folded.observe(kept, F.count(F.lit(1)).alias("n")).coalesce(1) \
        .write.mode("append").parquet(path)
    for p in parts:
        fs.delete(p)
    return kept.get["n"]


def manifest_file_count(spark: SparkSession, root: str) -> int:
    """Data files currently in the (flat) manifest dir — the
    compaction gauge — listed through the root's filesystem."""
    from .fsio import fs_for

    return len(_manifest_parts(fs_for(spark, root), _manifest_path(root)))


def stage_metrics(spark: SparkSession, root: str) -> DataFrame:
    """All manifest rows — per-stage, per-partition counts and lineage.
    Empty when no manifest was written yet; an unreadable one raises."""
    return read_parquet_or_empty(spark, _manifest_path(root), MANIFEST_DDL)
