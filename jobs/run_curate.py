"""Production entrypoint: documents parquet → curated training corpus.

    spark-submit --master <cluster> \\
        --py-files dist/gliner_spark.zip \\
        jobs/run_curate.py \\
        --input  /path/or/s3/documents_parquet \\
        --output /path/or/s3/curated_out \\
        [--langs en,de]                 # language allow-list
        [--min-quality 0.5]
        [--near-dup-threshold 0.8]
        [--pair-source minhash]         # minhash (default, the 100 TB
                                        # path) or ngram (exact AllPairs)
        [--token-budget 2048]           # shard packing target
        [--format parquet]              # or iceberg (configured catalog)

The LLM-training-data pipeline composed end to end: one fused gate
projection (language + quality + exact-dup) plus the blocked near-dup
pair source feed `plans.curation.curate`; kept documents are packed
into ~token_budget shards per language (`pack_shards` with
part_col="lang" when the input has a lang column). Outputs under
--output (paths for file formats, table identifiers for catalog
formats):

    verdicts/   (doc_id, lang_ok, quality_ok, is_exact_dup,
                 is_near_dup, keep)
    shards/     (doc_id[, part], n_tokens, shard_id) for keep=true

Both writes go through operators.sinks.write_table, so any
Hadoop-supported URI works.
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--langs", default="en")
    ap.add_argument("--min-quality", type=float, default=0.5)
    ap.add_argument("--near-dup-threshold", type=float, default=0.8)
    ap.add_argument("--pair-source", choices=("minhash", "ngram"),
                    default="minhash")
    ap.add_argument("--token-budget", type=int, default=2048)
    ap.add_argument("--format", default="parquet")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.appName("gliner-curate").getOrCreate()
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    from gliner_spark.operators.dedup import minhash_dups, ngram_jaccard_dups
    from gliner_spark.operators.sampling import pack_shards
    from gliner_spark.operators.sinks import write_table
    from gliner_spark.plans.curation import curate

    docs = spark.read.parquet(args.input)
    pair_source = (
        minhash_dups if args.pair_source == "minhash" else ngram_jaccard_dups
    )
    verdicts = curate(
        docs,
        allowed_langs=tuple(args.langs.split(",")),
        min_quality=args.min_quality,
        near_dup_threshold=args.near_dup_threshold,
        pair_source=pair_source,
    )

    catalog = args.format in ("iceberg", "delta")
    sep = "." if catalog else "/"
    write_table(verdicts, f"{args.output}{sep}verdicts", fmt=args.format)

    kept = docs.alias("d").join(
        verdicts.where("keep").select(F.col("doc_id").alias("_keep_id")),
        F.col("d.doc_id").cast("long") == F.col("_keep_id"),
    ).drop("_keep_id")
    part_col = "lang" if "lang" in docs.columns else None
    shards = pack_shards(kept, token_budget=args.token_budget,
                         part_col=part_col)
    write_table(shards, f"{args.output}{sep}shards", fmt=args.format)

    n_docs = docs.count()
    n_keep = kept.count()
    n_shards = shards.agg(F.countDistinct(
        *(["part"] if part_col else []), "shard_id").alias("n")
    ).collect()[0]["n"]
    print(f"docs: {n_docs}  kept: {n_keep}  shards: {n_shards} "
          f"-> {args.output}")
    spark.stop()


if __name__ == "__main__":
    main()
