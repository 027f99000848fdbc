"""Operator-level invariants that fit no other suite."""


def test_length_sorted_mentions_equal_unsorted(spark):
    """length_sort=True must be output-invariant (it only reorders rows
    within partitions before the scoring stage); kept as the pytest pin
    now that the sorted variant's gate row went to paragraph_dedup
    (r5; the padding win itself is measured by tools/padding_probe.py)."""
    from gliner_spark.kernels.scorer import SOUP_LABELS
    from gliner_spark.operators.ner import extract_mentions

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plain = {tuple(r) for r in extract_mentions(
        docs, SOUP_LABELS, id_col="doc_id").collect()}
    srt = {tuple(r) for r in extract_mentions(
        docs, SOUP_LABELS, id_col="doc_id", length_sort=True).collect()}
    assert plain and srt == plain


def test_paragraph_dedup_property_vs_python_fold(spark):
    """Property: on random corpora (repeated paragraphs drawn from a
    tiny pool, random doc sizes), paragraph_dedup equals a straight
    Python first-occurrence fold — reassembled text, kept and dropped
    counts, every doc present."""
    import random

    from gliner_spark.operators.dedup import paragraph_dedup

    rng = random.Random(17)
    pool = [f"para {i} text" for i in range(6)]
    for trial in range(5):
        docs = []
        for d in range(rng.randint(2, 8)):
            paras = [rng.choice(pool)
                     for _ in range(rng.randint(1, 5))]
            docs.append((d, "\n".join(paras)))
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {r.doc_id: (r.text_clean, r.n_kept, r.n_dropped)
               for r in paragraph_dedup(df).collect()}

        seen: set = set()
        expect = {}
        for d, text in sorted(docs):
            kept = []
            dropped = 0
            for p in text.split("\n"):
                if p in seen:
                    dropped += 1
                else:
                    seen.add(p)
                    kept.append(p)
            expect[d] = ("\n".join(kept), len(kept), dropped)
        assert got == expect, f"trial {trial}"
