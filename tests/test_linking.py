"""Linking + canonicalization: LSH recall vs exact Jaccard, connected
components correctness. Spark tests share one session (module scope)."""

import pytest
from pyspark.sql import functions as F

from gliner_spark.operators import canonicalize
from gliner_spark.operators.canonicalize import (
    canonical_entities,
    connected_components,
    nodes_table,
)
from gliner_spark.operators.linking import (
    char_shingles,
    entity_surfaces,
    exact_jaccard_links,
    lsh_links,
)


@pytest.fixture(scope="session")
def spark():
    from gliner_spark.session import build_session

    s = build_session(app_name="gliner-tests", cores=4)
    yield s
    s.stop()


def _surfaces(spark, rows):
    return spark.createDataFrame(
        [(f"{lab}:{surf}", lab, surf, n) for lab, surf, n in rows],
        "sid string, label string, surface string, n_mentions long",
    )


SURF_ROWS = [
    ("city", "new york", 10),
    ("city", "new york city", 5),
    ("city", "york", 2),
    ("city", "kyiv", 7),
    ("country", "ukraine", 4),
    ("country", "the ukraine", 1),
    ("person", "elon musk", 3),
    ("person", "musk", 1),
]


def test_exact_jaccard_links_structure(spark):
    links = exact_jaccard_links(_surfaces(spark, SURF_ROWS), threshold=0.30)
    pairs = {(r.src, r.dst) for r in links.collect()}
    assert ("city:new york", "city:new york city") in pairs
    assert ("country:the ukraine", "country:ukraine") in pairs
    # cross-label pairs never linked
    assert all(s.split(":")[0] == d.split(":")[0] for s, d in pairs)
    # dissimilar same-label surfaces not linked
    assert ("city:kyiv", "city:new york") not in pairs


def test_lsh_recall_vs_exact(spark):
    surfaces = _surfaces(spark, SURF_ROWS)
    exact = {
        (r.src, r.dst): r.sim
        for r in exact_jaccard_links(surfaces, threshold=0.30).collect()
    }
    lsh = {
        (r.src, r.dst): r.sim
        for r in lsh_links(surfaces, threshold=0.30).collect()
    }
    # LSH is a subset with identical sims (verification is exact)
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert v == exact[k]
    # recall at default band config
    assert len(lsh) >= 0.75 * len(exact) > 0


def test_lsh_links_exact_at_gate_scale(spark):
    """The driver's kg_links_lsh shares kg_links's EXACT DuckDB oracle,
    which is only valid if the bands=64 (r=1) configuration reproduces
    exact_jaccard_links bit-for-bit on the gate corpus. Per-pair miss
    probability at threshold J=0.30 is (1-0.3)^64 ≈ 1e-10, so equality
    is expected with wide margin; this pins it empirically."""
    from gliner_spark.kernels.scorer import SOUP_LABELS
    from gliner_spark.operators.ner import extract_mentions

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    surfaces = entity_surfaces(
        extract_mentions(docs, SOUP_LABELS, id_col="doc_id", text_col="text")
    ).persist()
    exact = {tuple(r) for r in exact_jaccard_links(surfaces).collect()}
    lsh = {tuple(r) for r in lsh_links(surfaces, bands=64).collect()}
    # the banding-probability argument silently assumes the skew guard
    # never truncates a bucket; at r=1 (band key = ONE minhash value)
    # mega-buckets are plausible as corpora grow, so the recall-1.0
    # claim must also verify that zero buckets were dropped here
    from gliner_spark.operators.linking import lsh_dropped_buckets

    assert lsh_dropped_buckets(surfaces, bands=64) == 0
    surfaces.unpersist()
    assert exact and lsh == exact


def test_shingles_short_string(spark):
    df = spark.range(1).select(char_shingles(F.lit("ab"), 3).alias("sh"))
    assert df.collect()[0].sh == ["ab"]


def test_connected_components_chain(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "r"),
         ("r", "s")],
        "src string, dst string",
    )
    comp = {r.node: r.component for r in connected_components(edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == comp["y"] == "x"
    assert comp["p"] == comp["q"] == comp["r"] == comp["s"] == "p"


def test_canonical_entities_singletons_and_merge(spark):
    surfaces = _surfaces(spark, SURF_ROWS)
    links = exact_jaccard_links(surfaces, threshold=0.30)
    ents = canonical_entities(surfaces, links)
    rows = {r.sid: r for r in ents.collect()}
    assert len(rows) == len(SURF_ROWS)  # every surface mapped
    # merged component shares entity_id; singleton keeps its own
    assert rows["city:new york"].entity_id == rows["city:new york city"].entity_id
    assert rows["city:kyiv"].entity_id == "city:kyiv"
    nodes = nodes_table(ents)
    n = {r.entity_id: r for r in nodes.collect()}
    merged = rows["city:new york"].entity_id
    assert n[merged].n_mentions >= 15  # 10 + 5 (maybe + york)
    assert n[merged].n_surfaces >= 2


def _bfs_components(edges) -> dict:
    """Reference labels: node → min node of its component, by BFS over
    the edges without self-loops."""
    adj: dict = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    out: dict = {}
    for n in sorted(adj):  # the first unlabelled node is its comp's min
        if n in out:
            continue
        out[n], todo = n, [n]
        while todo:
            for m in adj[todo.pop()]:
                if m not in out:
                    out[m] = n
                    todo.append(m)
    return out


@pytest.mark.parametrize("driver_rows", [canonicalize.DRIVER_ROWS, 0],
                         ids=["union_find", "star"])
def test_connected_components_matches_bfs(spark, monkeypatch,
                                          driver_rows):
    """The one CC operator labels every node with its component minimum
    on both sides of ``DRIVER_ROWS``: the driver union-find and the
    large-star/small-star iteration. Graphs: random chains with extra
    intra-links plus a self-loop-only node (in no component on either
    side), one chain of 31 hops (past the 20 rounds the default
    ``max_iters`` allows a diameter-bound propagation), and no edges."""
    import random

    rng = random.Random(3)
    nodes = [f"n{i:03d}" for i in range(200)]
    edges = []
    # chain components of varying length + random extra intra-links
    i = 0
    while i < len(nodes) - 1:
        comp_len = rng.randint(1, 12)
        for j in range(i, min(i + comp_len - 1, len(nodes) - 1)):
            edges.append((nodes[j], nodes[j + 1]))
        i += comp_len
    for _ in range(40):
        a, b = rng.sample(range(len(nodes)), 2)
        if abs(a - b) < 5:
            edges.append((nodes[min(a, b)], nodes[max(a, b)]))
    chain = [(f"c{j:02d}", f"c{j + 1:02d}") for j in range(31)]
    rng.shuffle(chain)

    monkeypatch.setattr(canonicalize, "DRIVER_ROWS", driver_rows)
    for graph in (edges + [("solo", "solo")], chain, []):
        df = spark.createDataFrame(graph, "src string, dst string")
        comp = connected_components(df)
        got = {r.node: r.component for r in comp.collect()}
        assert got == _bfs_components(graph)
        if graph:
            plan = comp._jdf.queryExecution().executedPlan().toString()
            assert ("LocalTableScan" in plan) == (driver_rows > 0)


def minhash_signature_agg(hashed_exploded, id_cols, n_perms: int,
                          seed: int):
    """Reference MinHash: explode + map-side-combined min aggregation,
    one ``min((a·h + b) mod M)`` per permutation of ``perm_params``.
    Input: rows (id…, h); output: (id…, sig array<long>)."""
    from gliner_spark.operators.linking import MERSENNE, perm_params

    perms = perm_params(n_perms, seed)
    mins = [
        F.min(
            F.pmod(F.lit(a) * F.col("h") + F.lit(b), F.lit(MERSENNE))
        ).alias(f"_m{i}")
        for i, (a, b) in enumerate(perms)
    ]
    agg = hashed_exploded.groupBy(*id_cols).agg(*mins)
    return agg.select(
        *id_cols,
        F.array(*[F.col(f"_m{i}") for i in range(n_perms)]).alias("sig"),
    )


def test_minhash_signature_map_equals_agg(spark):
    """The row-local numpy signature stage must be value-identical to
    the explode + n_perms-min aggregation it replaced (shared
    perm_params; int64 no-overflow + numpy %% == pmod argument in the
    docstring) — pinned over the gate corpus with both id types. The
    Arrow text stage (``word_minhash_signatures``) gives the same
    signatures from the text alone."""
    from pyspark.sql import functions as F

    from gliner_spark.operators.dedup import word_shingles
    from gliner_spark.operators.linking import (
        hash_shingles,
        minhash_signature_map,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    hx = docs.select(
        F.col("doc_id").cast("long").alias("sid"),
        hash_shingles(word_shingles(F.col("text"), 3)).alias("hx"),
    )
    got = {r.sid: list(r.sig)
           for r in minhash_signature_map(hx, 128, 11).collect()}
    want = {
        r.sid: list(r.sig)
        for r in minhash_signature_agg(
            hx.select("sid", F.explode("hx").alias("h")), ["sid"], 128, 11
        ).collect()
    }
    assert got == want and len(got) == docs.count()
    assert _text_signatures(docs, 3) == got


def _py_word_shingles(text, k):
    """Reference: distinct word k-grams in first-occurrence order; a
    doc shorter than k is its own single shingle, NULL text reads as
    the empty string."""
    w = ("" if text is None else text).split(" ")
    out = []
    for i in range(max(len(w) - (k - 1), 1)):
        g = " ".join(w[i:i + k])
        if g not in out:
            out.append(g)
    return out


def test_word_shingles_matches_python_reference(spark):
    """The split-once form of word_shingles against a Python reference
    at the edges of the k-gram window (0, 1, k-1, k words), on a
    2000-word doc with repeated k-grams, and on NULL text."""
    from gliner_spark.operators.dedup import word_shingles

    k = 3
    vocab = [f"v{i % 50}" for i in range(2000)]  # period 50: repeats
    texts = {1: "", 2: "one", 3: "one two", 4: "one two three",
             5: " ".join(vocab), 6: None, 7: "a  b c"}
    docs = spark.createDataFrame(list(texts.items()),
                                 "doc_id long, text string")
    got = {r.doc_id: r.sh for r in docs.select(
        "doc_id", word_shingles(F.col("text"), k).alias("sh")).collect()}
    assert got == {i: _py_word_shingles(t, k) for i, t in texts.items()}
    assert len(got[5]) == 50 and got[6] == [""]


def _random_utf8(rng, n_bytes):
    """A random valid UTF-8 string of exactly ``n_bytes`` bytes, mixing
    1-, 2-, 3- and 4-byte characters (space and tab included)."""
    chars = ["a", "Z", " ", "\t", "é", "ß", "€", "語", "😀", "𝄞"]
    out, left = [], n_bytes
    while left:
        c = rng.choice([c for c in chars if len(c.encode()) <= left])
        out.append(c)
        left -= len(c.encode())
    return "".join(out)


def test_xxh64_spans_matches_spark_xxhash64(spark):
    """The numpy XXH64 equals Spark's ``xxhash64`` bit for bit on random
    valid UTF-8 strings of every byte length 0–100 (five each), which
    crosses the tail-byte, 4-byte, 8-byte and 32-byte-stripe branches
    and their combinations."""
    import random

    import numpy as np

    from gliner_spark.operators.dedup import _xxh64_spans

    rng = random.Random(16)
    texts = [_random_utf8(rng, n) for n in range(101) for _ in range(5)]
    df = spark.createDataFrame(list(enumerate(texts)), "i long, s string")
    want = [r.h for r in df.select("i", F.xxhash64("s").alias("h"))
            .orderBy("i").collect()]
    raw = [t.encode() for t in texts]
    n = np.array([len(b) for b in raw], np.int64)
    buf = np.frombuffer(b"".join(raw), np.uint8)
    assert _xxh64_spans(buf, np.cumsum(n) - n, n).tolist() == want


def _jvm_word_signatures(docs, k, n_perms=128, seed=11):
    """{doc_id: sig} from the JVM shingle chain — ``word_shingles`` →
    ``hash_shingles`` → ``minhash_signature_map`` — the reference the
    text kernel must reproduce bit for bit."""
    from gliner_spark.operators.dedup import word_shingles
    from gliner_spark.operators.linking import (
        hash_shingles,
        minhash_signature_map,
    )

    hx = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        hash_shingles(word_shingles(F.col("text"), k)).alias("hx"),
    )
    return {r.doc_id: list(r.sig)
            for r in minhash_signature_map(hx, n_perms, seed).collect()}


def _text_signatures(docs, k, n_perms=128, seed=11):
    from gliner_spark.operators.dedup import word_minhash_signatures

    return {r.doc_id: list(r.sig) for r in
            word_minhash_signatures(docs, k, n_perms, seed).collect()}


EDGE_TEXTS = [
    None, "", " ", "   ", "one", "one two", "one two three",
    "one two three four", " leading space", "trailing space ",
    "double  space  here x", "  both  ends  ", "tab\tinside a word",
    "new\nline inside words", "emoji 😀 🎉 words 👍🏽 here",
    "accented café naïve résumé über straße", "日本語 の テキスト です",
    "x y x y x y x y",  # repeated grams: duplicates change no minimum
]


@pytest.mark.parametrize("k", [1, 3])
def test_word_minhash_signatures_match_jvm_chain_on_edge_texts(spark, k):
    """The text kernel signs NULL, empty, 1-, 2-, 3- and 4-word texts,
    leading/trailing/double spaces, tab and newline inside a word,
    emoji and accented text exactly as the JVM chain does, for k = 1
    (as the Ĵ test uses it) and k = 3."""
    docs = spark.createDataFrame(list(enumerate(EDGE_TEXTS)),
                                 "doc_id long, text string").coalesce(1)
    want = _jvm_word_signatures(docs, k)
    assert _text_signatures(docs, k) == want
    assert len(want) == len(EDGE_TEXTS)


def test_word_minhash_signatures_long_document(spark):
    """A document with more than 65,536 grams gets a workspace chunk of
    its own in ``minhash_kernel``; short documents on both sides of it
    in the same Arrow batch keep their own signatures."""
    import random

    rng = random.Random(7)
    words = [f"w{rng.randrange(5000)}" for _ in range(70_000)]
    texts = ["a b c d", " ".join(words), "é è ê", None, "x y z w v"]
    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string").coalesce(1)
    assert _text_signatures(docs, 3, 64, 5) == _jvm_word_signatures(
        docs, 3, 64, 5)


def test_word_minhash_kernel_respects_array_offset(spark):
    """An Arrow text array that is a slice (non-zero array offset, and
    value offsets that do not start at 0, with a NULL inside the slice)
    signs as the same texts in a fresh array, in a large_string array
    (64-bit offsets) and as the JVM chain."""
    import numpy as np
    import pyarrow as pa

    from gliner_spark.operators.dedup import word_minhash_kernel

    texts = EDGE_TEXTS
    part = pa.array(["pad one", None, "pad two"] + texts).slice(3)
    assert part.offset == 3 and part.null_count == 1
    got = word_minhash_kernel(part, 3, 128, 11)
    for fresh in (pa.array(texts), pa.array(texts, pa.large_string())):
        assert np.array_equal(got, word_minhash_kernel(fresh, 3, 128, 11))
    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")
    want = _jvm_word_signatures(docs, 3)
    assert {i: list(s) for i, s in enumerate(got.tolist())} == want


def test_minhash_signature_map_chunk_boundary_and_empty_rows(spark):
    """minhash_signature_map equals the explode + min-aggregation form
    when one Arrow batch spans several workspace chunks (> 65,536
    shingles in total, and one doc larger than a chunk on its own),
    and drops NULL and empty hash arrays exactly as explode does."""
    import numpy as np

    from gliner_spark.operators.linking import (
        MERSENNE,
        minhash_signature_map,
    )
    from gliner_spark.operators.util import local_table

    rng = np.random.default_rng(3)
    sizes = {1: 30_000, 2: 30_000, 3: 10, 4: 70_000, 5: 1, 6: 20_000}
    rows = [(i, rng.integers(0, MERSENNE, n).tolist())
            for i, n in sizes.items()]
    rows += [(7, None), (8, [])]
    hx = local_table(spark, rows, "sid long, hx array<bigint>").coalesce(1)
    got = {r.sid: list(r.sig)
           for r in minhash_signature_map(hx, 64, 5).collect()}
    want = {r.sid: list(r.sig) for r in minhash_signature_agg(
        hx.select("sid", F.explode("hx").alias("h")), ["sid"], 64, 5
    ).collect()}
    assert got == want and set(got) == set(sizes)
    # a batch of only NULL and empty arrays signs nothing
    empty = local_table(spark, rows[-2:], "sid long, hx array<bigint>")
    assert minhash_signature_map(empty, 64, 5).count() == 0


def test_spark_round_matches_spark_round(spark):
    """The driver tail's verify rounds like Spark's round(x, 6) —
    HALF_UP on the shortest decimal string, so 1/128 = 0.0078125 goes
    up where Python's round goes down — over every ratio i/j, j ≤ 300,
    the Jaccard values the verify sees."""
    from gliner_spark.operators.linking import _spark_round

    ratios = sorted({i / j for j in range(1, 301) for i in range(j + 1)})
    df = spark.createDataFrame([(x,) for x in ratios], "x double")
    want = [r.r for r in df.select(F.round("x", 6).alias("r")).collect()]
    assert [_spark_round(x, 6) for x in ratios] == want
    assert _spark_round(1 / 128, 6) == 0.007813 != round(1 / 128, 6)


def test_lsh_links_local_bounds_candidate_pairs(spark):
    """The driver LSH gives up (None) past ``max_pairs`` candidate
    pairs, so it never holds more: three same-label surfaces with the
    one shingle set {"aaa"} are 3 candidates in every band — a bound of
    3 links them all, a bound of 2 gives up."""
    from gliner_spark.operators.linking import (
        lsh_links_local,
        surface_shingles,
    )

    surfaces = spark.createDataFrame(
        [(f"car:{s}", "car", s, 1) for s in ("aaa", "aaaa", "aaaaa", "bmw")],
        "sid string, label string, surface string, n_mentions bigint",
    )
    tbl = surface_shingles(surfaces, 3).toArrow()
    assert sorted(lsh_links_local(tbl, 64, 32, 3)) == [
        ("car:aaa", "car:aaaa"), ("car:aaa", "car:aaaaa"),
        ("car:aaaa", "car:aaaaa")]
    assert lsh_links_local(tbl, 64, 32, 2) is None
