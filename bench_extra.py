"""Extra benchmark harness for optimization work (guide §1.1/§1.4).

NOT part of the driver contract — ``bench.py`` is the frozen measurement
tool. This one exists to iterate: time any subset of the declared
queries in isolation at any scale factor with a noop sink, repeat runs,
and dump ``explain("formatted")`` plans for the before/after evidence in
``plans/r07/``.

Usage:
  python bench_extra.py --sf-dir /root/testdata/sf1.0 --queries dedup_embedding,curate
  python bench_extra.py --sf-dir /root/testdata/sf0.1 --repeats 3 --queries dedup_ngram
  python bench_extra.py --sf-dir /root/testdata/sf0.01 --explain plans/r07 --suffix before

Prints one JSON line per query: {"query": ..., "samples": [...], "min": ...}
and a final {"total_min": ...} summary line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# this script's checkout, for the driver and (through PYTHONPATH) its
# Python workers; PYTHONSAFEPATH keeps the workers' working directory,
# maybe another checkout, off the front of their sys.path
REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
os.environ["PYTHONSAFEPATH"] = "1"


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cores", type=int, default=int(
        os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--queries", default="")
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--explain", default="",
                    help="directory to write <query>_<suffix>.txt plans")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--no-warm", action="store_true")
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from gliner_spark.kernels.scorer import ALL_LABELS
    from gliner_spark.operators.ner import extract_mentions
    from gliner_spark.session import build_session
    from gliner_spark.sources.pages import synthesize_pages

    spark = build_session(app_name="bench-extra", cores=args.cores)
    qs = entry_mod.queries()
    names = [n for n in args.queries.split(",") if n] or list(qs)

    if args.explain:
        os.makedirs(args.explain, exist_ok=True)
        import io
        from contextlib import redirect_stdout
        for name in names:
            df = qs[name](spark, args.sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(args.explain, f"{name}_{args.suffix}.txt")
            with open(path, "w") as f:
                f.write(buf.getvalue())
            print(f"wrote {path}")
        spark.stop()
        return

    if not args.no_warm:
        # spawn + numpy import on every Python worker before timing
        warm = synthesize_pages(spark, args.cores * 8).repartition(args.cores)
        _noop(extract_mentions(warm, ALL_LABELS))

    def _cleanup():
        spark.catalog.clearCache()
        try:
            it = (spark.sparkContext._jsc.getPersistentRDDs()
                  .values().iterator())
            while it.hasNext():
                it.next().unpersist(False)
        except Exception:
            pass
        spark.sparkContext._jvm.System.gc()

    total = 0.0
    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        try:
            _noop(qs[name](spark, args.sf_dir))  # warm (codegen, side outputs)
            samples = []
            for _ in range(args.repeats):
                _cleanup()
                t0 = time.monotonic()
                _noop(qs[name](spark, args.sf_dir))
                samples.append(round(time.monotonic() - t0, 3))
            total += min(samples)
            print(json.dumps({"query": name, "samples": samples,
                              "min": min(samples)}), flush=True)
        except Exception as e:
            print(json.dumps({"query": name, "error": repr(e)[:300]}),
                  flush=True)
        finally:
            spark.sparkContext.setJobDescription(None)
    print(json.dumps({"total_min": round(total, 3), "sf_dir": args.sf_dir,
                      "cores": args.cores}))
    spark.stop()


if __name__ == "__main__":
    main()
