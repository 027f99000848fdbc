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
used here because the sandbox has no Iceberg runtime, but the writer goes
through one function (``_write``) so swapping the format is one line.
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


def _healed_manifest(spark: SparkSession, root: str):
    """(fs, manifest path) of ``root``, after healing an interrupted
    compaction where the filesystem renames atomically. Object stores
    never ran the rename-based compaction, so there is nothing to heal
    there."""
    from .fsio import fs_for

    fs = fs_for(spark, root)
    path = _manifest_path(root)
    if fs.atomic_rename:
        _recover_manifest_fs(fs, path)
    return fs, path


def read_manifest(spark: SparkSession, root: str, stage: str) -> DataFrame:
    _, path = _healed_manifest(spark, root)
    m = read_parquet_or_empty(spark, path, MANIFEST_DDL)
    return m.where(F.col("stage") == stage)


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
    return spark.read.parquet(out_path)


def _recover_manifest_fs(fs, path: str) -> None:
    """Heal the crash windows of ``compact_manifest``'s two-rename swap
    (called on entry by every manifest-touching op) through the root's
    Hadoop filesystem handle. States:
    - manifest present + ``.compact`` leftover → stale tmp, drop it;
    - manifest present + ``.old`` leftover → crash after the second
      rename, finish by dropping the trash;
    - manifest MISSING + complete ``.compact`` → crash between the two
      renames; the tmp was fully committed (``_SUCCESS``) before any
      rename, so promoting it FINISHES the compaction;
    - manifest missing + ``.old`` only (or incomplete tmp) → roll back
      to the pre-compaction manifest."""
    tmp, trash = path + ".compact", path + ".old"
    if fs.exists(path):
        fs.delete(tmp)
        fs.delete(trash)
        return
    if fs.exists(tmp) and fs.exists(fs.join(tmp, "_SUCCESS")):
        fs.rename(tmp, path)
        fs.delete(trash)
        return
    if fs.exists(trash):
        fs.delete(tmp)
        fs.rename(trash, path)


def _maintenance_fs(spark, root: str):
    """(fs, manifest_path) for the compaction swap, healed. The swap is
    two RENAMES, so the filesystem must rename atomically: local and
    hdfs-like ones qualify; object stores (s3a/gs/abfs — rename is
    copy+delete) fail fast with the Iceberg pointer, because a crash
    mid-copy there leaves a state the recovery walk cannot distinguish
    from a committed one. An object-store URI fails before a handle is
    built for it."""
    from urllib.parse import urlparse

    from .fsio import _ATOMIC_RENAME_SCHEMES

    scheme = urlparse(root).scheme
    if not scheme or scheme in _ATOMIC_RENAME_SCHEMES:
        fs, path = _healed_manifest(spark, root)
        if fs.atomic_rename:
            return fs, path
        scheme = fs.scheme
    raise ValueError(
        f"compact_manifest needs an atomic rename; {scheme}:// renames "
        "are copy+delete. For object-store manifests use the catalog "
        "path (write_table fmt='iceberg'|'delta') — a table-format "
        "snapshot commit is the equivalent."
    )


def compact_manifest(spark: SparkSession, root: str) -> int:
    """Rewrite the append-only manifest to a single parquet file.

    ``checkpoint_write`` appends one small parquet per call; a
    long-lived incremental root accumulates unbounded small files.
    This opt-in maintenance op collapses them, keeping the LATEST row
    per (stage, part_key, status) — replays of an idempotent write can
    append duplicate DONE rows, and the newest carries the freshest
    lineage/ts while n_rows is identical by idempotence. DONE semantics
    are unchanged: ``completed_partitions`` sees exactly the same key
    set before and after (pytest-pinned across a resume boundary).

    Single-maintainer op: run it from the process that owns the root
    with no concurrent ``checkpoint_write`` on the same root — the swap
    is two renames, not one atomic commit (the same caveat as Hive
    compaction without a lock service; the Iceberg catalog path gets
    this atomically via snapshot commit). A crash between the renames
    is healed by ``_recover_manifest_fs`` on the next manifest op (the
    committed tmp is promoted, else ``.old`` rolls back). Runs on any
    filesystem with atomic rename — local paths, ``file://``,
    ``hdfs://`` and ``viewfs://`` roots, all through Hadoop's
    FileSystem (operators/fsio.py); object stores fail fast with the
    Iceberg pointer (see ``_maintenance_fs``). Returns rows
    retained."""
    from pyspark.sql import Window

    fs, path = _maintenance_fs(spark, root)
    if not fs.exists(path):  # nothing written yet; unreadable raises
        return 0
    m = spark.read.parquet(path)
    w = (
        Window.partitionBy("stage", PART_COL, "status")
        .orderBy(F.col("ts").desc())
    )
    # materialize off the source files before overwriting them
    compacted = (
        m.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
        .localCheckpoint()
    )
    n = compacted.count()
    tmp = path + ".compact"
    compacted.coalesce(1).write.mode("overwrite").parquet(tmp)
    trash = path + ".old"
    fs.delete(trash)
    fs.rename(path, trash)
    fs.rename(tmp, path)
    fs.delete(trash)
    return n


def manifest_file_count(spark: SparkSession, root: str) -> int:
    """Data files currently in the (flat) manifest dir — the
    compaction gauge — listed through the root's filesystem."""
    fs, path = _healed_manifest(spark, root)
    if not fs.exists(path):
        return 0
    return sum(
        1 for f in fs.listdir(path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def stage_metrics(spark: SparkSession, root: str) -> DataFrame:
    """All manifest rows — per-stage, per-partition counts and lineage.
    Empty when no manifest was written yet; an unreadable one raises."""
    return read_parquet_or_empty(spark, _manifest_path(root), MANIFEST_DDL)
