"""Length-sort padding-win measurement (VERDICT r4 #7).

SURVEY §4 claims ``extract_mentions(length_sort=True)`` shrinks padded-
batch waste on the ONNX path. ``ner_mentions_sorted`` proves the
results identical; this probe measures the WIN, through the REAL model
path: the bundled MiniOnnxSession executes a tiny-GLiNER graph whose
cost — like any transformer's — scales with the PADDED batch shape
(the word-selection and span matmuls are O(B·W²·maxWidth·d) in the
batch's max word count W), so a long-tail length distribution shows
the padding effect without the onnxruntime wheel.

Corpus: seeded long-tail mix (default 90% × 8-word docs, 10% ×
200-word docs, shuffled), small Arrow batches (512 — the session
docstring's ONNX guidance) so each partition holds many batches and
sortWithinPartitions can make them length-homogeneous. No shuffle is
added by the sort; outputs are asserted identical.

Usage: python tools/padding_probe.py [n_docs=16000] [long_words=200]
Prints one JSON line; numbers go to SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

# this script's checkout, for the driver and (through PYTHONPATH) its
# Python workers; PYTHONSAFEPATH keeps the workers' working directory,
# maybe another checkout, off the front of their sys.path
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
os.environ["PYTHONSAFEPATH"] = "1"
sys.path.insert(0, os.path.join(REPO, "tests"))  # tiny_onnx fixture

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 16_000
    long_words = int(sys.argv[2]) if len(sys.argv) > 2 else 200
    short_words, pct_long, batch = 8, 0.10, 512

    from gliner_spark.kernels.scorer import OnnxScorer
    from gliner_spark.operators.ner import extract_mentions
    from gliner_spark.session import build_session
    from tiny_onnx import build_tiny_gliner_model

    spark = build_session(
        app_name="padding-probe", cores=8, arrow_batch_rows=batch
    )

    wp = os.path.join(REPO, "tests", "fixtures", "wordpiece_tokenizer.json")
    model = build_tiny_gliner_model(
        "/tmp/gliner_padding_probe.onnx",
        word_entries={9: (0, 0.9), 17: (1, 0.9)},  # kyiv→city, ukraine→…
        label_ids={22: 0, 23: 1},
        ent_token_id=30,
        vocab_size=32,
    )

    filler = "the capital of is hello world".split()
    words_expr = F.concat(
        F.lit("kyiv "),
        F.array_join(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.when(F.col("is_long"), long_words - 2)
                    .otherwise(short_words - 2) - 1,
                ),
                lambda i: F.element_at(
                    F.array(*[F.lit(w) for w in filler]),
                    (F.pmod(F.col("id") + i, F.lit(len(filler))) + 1)
                    .cast("int"),
                ),
            ),
            " ",
        ),
        F.lit(" ukraine"),
    )
    docs = (
        spark.range(0, n_docs, 1, 8)
        .withColumn("h", F.abs(F.xxhash64("id", F.lit(7))))
        .withColumn("is_long", (F.col("h") % 100) < int(pct_long * 100))
        .select(F.col("id").cast("string").alias("doc_id"),
                words_expr.alias("text"))
        .localCheckpoint()  # fixed input rows/order for both arms
    )

    def run(sort: bool) -> float:
        df = extract_mentions(
            docs, ["city", "country"], id_col="doc_id",
            scorer_factory=lambda: OnnxScorer(model, wp, max_width=12),
            length_sort=sort,
        )
        best = None
        for _ in range(2):  # min-of-two (co-tenant noise protocol)
            t0 = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            dt = time.monotonic() - t0
            best = dt if best is None or dt < best else best
        return round(best, 2)

    # warm python workers + codegen on the small arm first
    wall_sorted_warm = run(True)
    wall_unsorted = run(False)
    wall_sorted = min(wall_sorted_warm, run(True))

    rows = lambda sort: {  # noqa: E731
        tuple(r) for r in extract_mentions(
            docs, ["city", "country"], id_col="doc_id",
            scorer_factory=lambda: OnnxScorer(model, wp, max_width=12),
            length_sort=sort,
        ).collect()
    }
    equal = rows(True) == rows(False)

    print(json.dumps({
        "n_docs": n_docs,
        "short_words": short_words,
        "long_words": long_words,
        "pct_long": pct_long,
        "arrow_batch_rows": batch,
        "scorer": "MiniOnnxSession(tiny-GLiNER graph)",
        "wall_unsorted_s": wall_unsorted,
        "wall_sorted_s": wall_sorted,
        "speedup_x": round(wall_unsorted / wall_sorted, 2),
        "outputs_equal": equal,
    }))


if __name__ == "__main__":
    main()
