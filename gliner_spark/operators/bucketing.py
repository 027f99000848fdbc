"""Bucketed tables: co-located joins without a per-query shuffle.

At 100 TB the same join keys recur across runs (mentions by doc_id,
orders by custkey, links by surface id). Writing both sides bucketed on
the join key — `bucketBy(n, key).sortBy(key).saveAsTable(...)` — lets
every subsequent equi-join run WITHOUT an Exchange on either side: the
scan's output partitioning already satisfies the join's distribution
requirement, so Spark plans a SortMergeJoin directly over the bucket
files. This is the standard pattern for repeated big-big joins
(Iceberg's bucket partition transform is the same idea; parquet
saveAsTable is the sandbox stand-in, exactly like checkpoint.py's
parquet-for-Iceberg swap).

The shuffle is paid ONCE at write time, amortized over every downstream
query — the canonical answer to "is there a shuffle here that becomes
the bottleneck at scale".

Constraints (asserted in tests):
- both sides bucketed with the SAME bucket count on the join key;
- `spark.sql.sources.bucketing.enabled` (default true);
- bucket pruning applies to point predicates on the bucket key
  (`spark.sql.sources.bucketing.autoBucketedScan.enabled`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .fsio import fs_for


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 16,
    sort: bool = True,
    path: str | None = None,
    fingerprint: str | None = None,
) -> bool:
    """Materialize ``df`` as a bucketed (and bucket-sorted) table. One
    shuffle now; zero shuffles for every later equi-join or aggregation
    on ``key`` between same-bucketed tables. Returns True if the table
    was (re)written, False if an unchanged existing table was reused.

    ``path`` makes the table external at that location — use it when
    the session's warehouse dir (default: cwd/spark-warehouse) may not
    be writable; bucket metadata still lives in the catalog either way.

    ``fingerprint`` (with ``path``): an opaque content key for the
    INPUT (e.g. source file sizes/mtimes + bucket spec). If the table
    is already registered and the fingerprint stored beside the data
    matches, the write — a full shuffle+rewrite of the table — is
    skipped entirely. A changed fingerprint (new data, different
    bucket count) rewrites and re-stamps. The stamp is written AFTER a
    successful save, so a crashed write can never leave a matching
    fingerprint over partial data.
    """
    spark = df.sparkSession
    fs = fs_for(spark, path) if fingerprint is not None and path else None
    if fs is not None:
        fp_file = fs.join(path, "_FINGERPRINT")
        try:
            if spark.catalog.tableExists(table) and fs.exists(fp_file) \
                    and fs.read_text(fp_file) == fingerprint:
                return False
        except Exception:
            pass  # unreadable stamp → rewrite
        # stale stamp must not survive a crash mid-rewrite
        fs.delete(fp_file)
    writer = df.write.mode("overwrite").bucketBy(n_buckets, key)
    if sort:
        writer = writer.sortBy(key)
    if path:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table)
    if fs is not None:
        fs.write_text(fp_file, fingerprint, overwrite=True)
    return True


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table (bucket metadata comes from the catalog —
    a plain path read would lose it)."""
    return spark.table(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, key: str,
    how: str = "inner",
) -> DataFrame:
    """Equi-join two same-bucketed tables; the physical plan contains
    no Exchange above either scan (verified in tests)."""
    return read_bucketed(spark, left_table).join(
        read_bucketed(spark, right_table), key, how
    )
