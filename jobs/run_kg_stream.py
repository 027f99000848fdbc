"""Production entrypoint: continuous KG maintenance via spark-submit.

    spark-submit --master <cluster> \\
        --py-files dist/gliner_spark.zip \\
        jobs/run_kg_stream.py \\
        --input  /path/or/s3/pages_parquet_dir \\
        --output /path/or/hdfs/kg_out \\
        --checkpoint-root /path/or/hdfs/kg_ckpt \\
        [--labels city,country,person] \\
        [--max-files-per-trigger 64] \\
        [--continuous]     # keep running; default drains what exists
                           # (availableNow) and exits

The streaming twin of jobs/run_kg.py: new page files appearing under
--input fold into the persistent KG micro-batch by micro-batch
(streaming/kg_stream.py — source checkpoint decides WHICH files form a
batch, the per-partition manifests make each fold idempotent, and
nodes/edges republish through publish_atomic so a concurrent reader
never observes a half-written table; resolve them with
gliner_spark.operators.sinks.read_published).

--input, --output and --checkpoint-root may be any Hadoop-supported
URI (s3a://, hdfs://, local). publish_atomic writes its create-only
markers through the same Hadoop FileSystem as the data, so it needs no
rename anywhere; neither does manifest compaction
(checkpoint.compact_manifest, not run by this job), which appends the
folded rows and deletes the files it listed. For a warehouse sink,
fold into Iceberg/Delta tables instead
(operators.sinks.write_table(fmt="iceberg") inside foreachBatch) —
a catalog snapshot commit is the cluster-scale atomic publish.
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint-root", required=True)
    ap.add_argument("--labels", default=None)
    ap.add_argument("--max-files-per-trigger", type=int, default=64)
    ap.add_argument("--continuous", action="store_true",
                    help="run until terminated instead of draining the "
                         "currently-available files and exiting")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("gliner-kg-stream").getOrCreate()
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    from gliner_spark.kernels.scorer import ALL_LABELS
    from gliner_spark.streaming.kg_stream import (
        read_page_stream,
        stream_kg_updates,
    )

    labels = args.labels.split(",") if args.labels else ALL_LABELS
    pages = read_page_stream(
        spark, args.input,
        max_files_per_trigger=args.max_files_per_trigger,
    )
    writer = stream_kg_updates(
        pages, labels, args.checkpoint_root, args.output
    )
    if args.continuous:
        writer = writer.trigger(processingTime="30 seconds")
    q = writer.start()
    q.awaitTermination()


if __name__ == "__main__":
    main()
