"""Operator-level invariants that fit no other suite."""

import pytest


@pytest.fixture(scope="session")
def spark():
    from gliner_spark.session import build_session

    s = build_session(app_name="gliner-tests", cores=4)
    yield s
    s.stop()


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


def test_pii_scrub_matches_duckdb_twin(spark):
    """pii_scrub semantics and an oracle-grade check WITHOUT a gate
    slot: the identical patterns (RE2 ∩ Java subset) run in DuckDB over
    the same rows and must produce identical scrubbed text and counts.
    Also pins the ordering property (emails scrub before the loose
    phone pattern can eat their digits)."""
    import duckdb

    from gliner_spark.operators.textstats import PII_PATTERNS, pii_scrub

    rows = [
        (1, "contact bob.smith+x@example.co.uk or call +1 555-123-4567"),
        (2, "server at 10.0.42.7 and 192.168.1.255, backup 8.8.8.8"),
        (3, "id 1234567890123 mixed a@b.io 127.0.0.1"),
        (4, "clean text with no identifiers at all"),
        (5, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.text_clean, r.n_emails, r.n_ips, r.n_phones)
           for r in pii_scrub(docs).collect()}

    # semantic pins
    assert got[1][0] == "contact <EMAIL> or call <PHONE>"
    assert got[1][1:] == (1, 0, 1)
    assert got[2] == ("server at <IP> and <IP>, backup <IP>", 0, 3, 0)
    assert got[3] == ("id <PHONE> mixed <EMAIL> <IP>", 1, 1, 1)
    assert got[4][1:] == (0, 0, 0)
    assert got[5] == ("", 0, 0, 0)

    # DuckDB twin with the literal same patterns, same order
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    cur = "text"
    counts = {}
    for name, pat, rep in PII_PATTERNS:
        p = pat.replace("'", "''")
        counts[name] = (
            f"CAST(len(regexp_extract_all({cur}, '{p}')) AS BIGINT)"
        )
        cur = f"regexp_replace({cur}, '{p}', '{rep}', 'g')"
    sql = (f"SELECT doc_id, {cur} AS text_clean, "
           f"{counts['emails']} AS n_emails, {counts['ips']} AS n_ips, "
           f"{counts['phones']} AS n_phones FROM t")
    oracle = {r[0]: tuple(r[1:]) for r in con.execute(sql).fetchall()}
    assert oracle == got


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
