"""Production entrypoint: pages parquet → KG tables, via spark-submit.

    spark-submit --master <cluster> \\
        --py-files dist/gliner_spark.zip \\
        jobs/run_kg.py \\
        --input  /path/or/s3/pages_parquet \\
        --output /path/or/s3/kg_out \\
        [--labels city,country,person] \\
        [--checkpoint-root /path/kg_ckpt]   # per-partition resume
        [--raw-html]                        # input has html only: run
                                            # the real extractor first

This is the north rule's submission shape (spark-submit --py-files at
N and 4N executors); master/executor sizing comes from the submit
command, the job itself is cluster-size-agnostic. The SparkSession is
taken from the submit environment (getOrCreate) — only job-level SQL
conf (AQE, partition-overwrite) is set here.
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--labels", default=None,
                    help="comma-separated entity labels (default: the "
                         "built-in gazetteer label set)")
    ap.add_argument("--checkpoint-root", default=None)
    ap.add_argument("--format", default="parquet",
                    help="sink format: parquet (default) or iceberg "
                         "(needs a configured catalog)")
    ap.add_argument("--raw-html", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("gliner-kg").getOrCreate()
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    from gliner_spark.kernels.scorer import ALL_LABELS
    from gliner_spark.operators.sinks import materialize_kg
    from gliner_spark.plans.kg import build_kg

    labels = args.labels.split(",") if args.labels else ALL_LABELS
    pages = spark.read.parquet(args.input)
    if args.raw_html:
        from gliner_spark.sources.html_text import pages_from_raw_html

        pages = pages_from_raw_html(pages)

    kg = build_kg(pages, labels, checkpoint_root=args.checkpoint_root)
    targets = materialize_kg(kg, args.output, fmt=args.format)
    for name, path in targets.items():
        n = spark.read.parquet(path).count() if args.format == "parquet" \
            else spark.table(path).count()
        print(f"{name}: {n} rows -> {path}")
    spark.stop()


if __name__ == "__main__":
    main()
