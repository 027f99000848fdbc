"""Shared operator utilities."""

from __future__ import annotations

import sys
import zipimport

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# rows a plan may hold on the driver in place of distributed work: the
# bound of every size-adaptive driver path (the KG linking tail's
# surfaces and LSH candidate pairs, connected components, admission's
# store ∪ batch signatures and verdicts). Each path collects its rows
# through a ``limit(DRIVER_ROWS + 1)`` in one job, so an oversized input
# is detected with at most DRIVER_ROWS + 1 rows on the driver.
DRIVER_ROWS = 1_000_000


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition iff the input has fewer partitions than the session's
    parallelism — small local files arrive as one split, which would run
    a following Python stage single-threaded. At cluster scale the scan
    has ≫ cores splits and this is a no-op (no shuffle added).
    """
    if df.isStreaming:  # partitioning is the source's business there
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _arrow_rows(rows, schema: StructType):
    """Tuples in ``schema`` column order as one ``pyarrow.RecordBatch``
    of ``schema``'s Arrow types — what a Python stage yields, and the
    body of every driver-side ``local_table``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow,
    )


def _list_rows(mat: np.ndarray):
    """The rows of an (n, width) numpy matrix as one
    ``pyarrow.ListArray`` of n lists — an ``array<…>`` column a Python
    stage yields."""
    import pyarrow as pa

    offsets = np.arange(len(mat) + 1, dtype=np.int32) * mat.shape[1]
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(mat.ravel()))


def local_table(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """Driver-side rows — tuples in ``ddl`` column order, or a
    ``pyarrow.Table`` holding (at least) ``ddl``'s columns — as a
    DataFrame that plans as ``LocalTableScan``, split like a file of
    the same size.

    ``createDataFrame(<python list>)`` plans as ``Scan ExistingRDD``: a
    Python RDD whose every evaluation starts Python workers (~1 CPU-s
    each on 4 cores). Going through a ``pyarrow.Table`` ships the rows
    to the JVM once, whether or not Arrow is enabled on the session.

    The scan alone splits into min(rows, cores) partitions, whatever
    the size, and every task that reads or writes a file deserializes
    the whole Hadoop ``Configuration``: a 250-row store append would
    run 4 write tasks and leave 4 files. So the table is coalesced to
    ceil(Arrow bytes / ``spark.sql.files.maxPartitionBytes``)
    partitions, as a file scan would split it: one up to 128 MiB, and
    never more than the scan's own (a coalesce cannot add any)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = StructType.fromDDL(ddl)
    if isinstance(rows, pa.Table):
        table = rows.select(schema.fieldNames()).cast(
            to_arrow_schema(schema))
    else:
        table = pa.Table.from_batches([_arrow_rows(rows, schema)])
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    return spark.createDataFrame(table, schema).coalesce(
        max(1, -(-table.nbytes // split)))


def read_parquet_or_empty(spark: SparkSession, path: str, ddl: str) -> DataFrame:
    """The parquet table at ``path`` read with schema ``ddl``, or an
    empty table of that schema when ``path`` does not exist.

    Existence is asked of the Hadoop filesystem Spark reads ``path``
    through (``fsio.fs_for``; a plain path resolves against
    ``fs.defaultFS``, as Spark's read of it does), before Spark reads
    it, so a missing path costs no Spark read and no logged
    ``FileNotFoundException``. Only a missing path reads as empty: any
    other failure (permissions, a truncated or corrupt file) raises, at
    once or when the rows are read. Reading an unreadable table as
    empty would pass for "nothing stored yet". The explicit schema also
    spares the footer-reading job that schema inference costs."""
    from .fsio import fs_for

    if not fs_for(spark, path).exists(path):
        return local_table(spark, [], ddl)
    return spark.read.schema(ddl).parquet(path)


def unpin(df: DataFrame) -> None:
    """Release the blocks of ``df``, a DataFrame ``localCheckpoint``
    returned, once nothing lazy reads it any more: a later plan over it
    would find its blocks gone, with no lineage to recompute them."""
    rdd = df._jdf.logicalPlan().rdd()
    # what RDD.unpersist does, without its warning that the lineage of
    # a local checkpoint is gone
    rdd.context().unpersistRDD(rdd.id(), False)


def drop_zip_importers() -> None:
    """Drop the ``zipimporter`` entries of ``sys.path_importer_cache``.

    A Python worker calls ``importlib.invalidate_caches()`` at the start
    of every task, and on Python 3.11 each cached ``zipimporter`` then
    re-reads its whole archive directory: ``pyspark.zip``, its
    subpackages, the py4j zip and the spark-core jar, tens of thousands
    of entries per task (~0.2 CPU-s a task on 4 cores). Without the
    entries there is nothing to re-read; an import that needs one
    re-creates it from zipimport's directory cache. Every Python stage
    function of the package calls this first."""
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]
