"""Dedup + similarity operators: recall of approximate paths vs exact
baselines on the driver's sf0.001 testdata, and determinism goldens."""

import pytest
from pyspark.sql import functions as F

from gliner_spark.operators.dedup import (
    exact_dup_groups,
    minhash_dups,
    ngram_jaccard_dups,
    simhash_dups,
)
from gliner_spark.operators.multimodal import (
    attach_media,
    extract_features,
    media_metadata,
    sample_frames,
)
from gliner_spark.operators.similarity import (
    brute_force_topk,
    embedding_dup_pairs,
    embedding_dup_pairs_lsh,
    hyperplane_lsh_topk,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from gliner_spark.session import build_session

    s = build_session(app_name="gliner-tests", cores=4)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_dedup_all_unique_and_total(docs):
    out = exact_dup_groups(docs)
    assert out.count() == docs.count()
    assert out.where(~F.col("keep")).count() == out.where(
        F.col("group_size") > 1
    ).count() - out.where((F.col("group_size") > 1) & F.col("keep")).count()


def test_minhash_recall_vs_exact_ngram(docs):
    exact = {(r.src, r.dst) for r in ngram_jaccard_dups(docs).collect()}
    mh = {(r.src, r.dst) for r in minhash_dups(docs).collect()}
    assert exact, "testdata should contain seeded near-duplicates"
    assert mh <= exact or not (mh - exact), "minhash verified pairs ⊆ exact"
    recall = len(mh & exact) / len(exact)
    assert recall >= 0.9, f"minhash recall {recall}"


def test_minhash_equals_exact_at_gate_scale(spark):
    """dedup_minhash shares dedup_ngram's EXACT DuckDB oracle: with
    b=32/r=4 a J=0.8 pair is missed with prob (1-0.8^4)^32 ≈ 5e-8 (the
    seeded dups sit at J≈0.99 → ~1e-45) and candidates are verified with
    the identical Jaccard expression, so the outputs must be set-equal
    including sims on the gate corpus."""
    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    exact = {tuple(r) for r in ngram_jaccard_dups(d).collect()}
    mh = {tuple(r) for r in minhash_dups(d).collect()}
    assert exact and mh == exact


def test_ann_lsh_and_ivf_exact_at_gate_scale(spark):
    """ann_topk_lsh / ann_topk_ivf share ann_topk's EXACT oracle:
    - LSH at 2 bits × 32 tables: per-(query,neighbor) miss probability
      at the corpus's observed top-5 cosine floor (≈0.26) is
      (1 - p_agree²)^32 ≈ 2e-6 — empirical equality pinned here;
    - IVF at n_probe = n_cells probes every cell, so candidate
      completeness holds BY CONSTRUCTION (this is a plan-shape check)."""
    from gliner_spark.operators.similarity import ivf_topk

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qids = list(range(8))
    bf = {tuple(r) for r in brute_force_topk(e, qids, k=5).collect()}
    lsh = {tuple(r) for r in
           hyperplane_lsh_topk(e, qids, k=5, n_bits=2, n_tables=32).collect()}
    ivf = {tuple(r) for r in
           ivf_topk(e, qids, k=5, n_cells=16, n_probe=16).collect()}
    assert bf and lsh == bf and ivf == bf


def test_simhash_deterministic_and_catches_dups(docs):
    # the vote rule itself is pinned by the dedup_simhash DuckDB oracle
    # (md5_60 vote → band → Hamming) and test_simhash_vectorized_vote_*
    exact = {(r.src, r.dst) for r in ngram_jaccard_dups(docs).collect()}
    sh = {(r.src, r.dst) for r in simhash_dups(docs).collect()}
    # near-identical docs have near-identical simhashes: high recall of
    # the seeded dups (precision is the verifier stage's job)
    recall = len(sh & exact) / len(exact)
    assert recall >= 0.9, f"simhash recall {recall}"


def test_simhash_vectorized_vote_semantics(spark):
    """The distributed signature = majority bit-vote over JVM xxhash64
    token hashes: a 1-token doc's simhash IS its token hash; a 3-token
    doc's bits are the per-bit majority of the three hashes; empty and
    NULL text sign as 0."""
    from gliner_spark.operators.dedup import simhash_signatures

    df = spark.createDataFrame(
        [(1, "spark"), (2, "join"), (3, "spark join table"), (4, ""),
         (5, None)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.simhash for r in simhash_signatures(df).collect()}
    h = {
        r.w: r.h
        for r in spark.createDataFrame(
            [("spark",), ("join",), ("table",)], "w string"
        ).select("w", F.xxhash64("w").alias("h")).collect()
    }
    assert got[1] == h["spark"] and got[2] == h["join"]
    hs = [h["spark"] & 0xFFFFFFFFFFFFFFFF, h["join"] & 0xFFFFFFFFFFFFFFFF,
          h["table"] & 0xFFFFFFFFFFFFFFFF]
    expect = 0
    for i in range(64):
        if sum((x >> i) & 1 for x in hs) >= 2:
            expect |= 1 << i
    if expect >= 1 << 63:
        expect -= 1 << 64
    assert got[3] == expect
    assert got[4] == got[5] == 0


def test_prefix_filtered_ngram_equals_bruteforce(spark):
    """The AllPairs prefix filter must be LOSSLESS: on corpora dense in
    borderline pairs (many docs sharing most words, sizes straddling
    the t·n ceiling — including sizes where t·n is integral, the float
    ceil hazard), the filtered join equals a brute-force O(n²) Python
    Jaccard over the same shingle sets."""
    import itertools
    import random

    from gliner_spark.operators.dedup import ngram_jaccard_dups

    rng = random.Random(3)
    # k=1 (shingle = word) over a tiny vocabulary: dense in pairs right
    # at the 0.8 boundary, with sizes where 0.8·n is INTEGRAL (5, 10 —
    # the float-ceil hazard the prefix length must survive)
    vocab = [f"w{i}" for i in range(10)]
    docs = []
    for i in range(40):
        n = rng.randint(5, 10)
        words = rng.sample(vocab, n)
        docs.append((i, " ".join(words)))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    got = {(r.src, r.dst): r.sim
           for r in ngram_jaccard_dups(df, k=1, threshold=0.8).collect()}

    def shingles(t):
        return set(t.split(" "))

    expect = {}
    for (ia, ta), (ib, tb) in itertools.combinations(docs, 2):
        sa, sb = shingles(ta), shingles(tb)
        sim = round(len(sa & sb) / len(sa | sb), 6)
        if sim >= 0.8:
            expect[(min(ia, ib), max(ia, ib))] = sim
    assert got == expect and expect  # corpus must actually contain pairs


def test_ngram_prefix_dropped_buckets_audit(spark):
    """The max_bucket guard's exactness condition is CHECKABLE (r4
    ADVICE): the audit counts hot prefix buckets the join would skip.
    Zero on the gate corpus (so the shared full-index oracle is valid
    there); positive — with a demonstrable missed pair — once a shared
    prefix shingle exceeds the cap."""
    from gliner_spark.operators.dedup import (
        ngram_jaccard_dups,
        ngram_prefix_dropped_buckets,
    )

    gate = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    assert ngram_prefix_dropped_buckets(gate, k=3, threshold=0.8) == 0

    # adversarial corpus for the r7 HASH order (the AllPairs order is
    # now the xxhash64 value order, so "sorts first" means "hashes
    # lowest"): rank candidate tokens by their xxhash64 and build every
    # doc around the globally minimum-hashing token ``hot``. The
    # qualifying pair (100, 101) = {hot,b,y,z} vs {hot,c,y,z}
    # (J = 3/5 = 0.6 ≥ t, n=4 → prefix length 2) gets prefixes
    # {hot,b} and {hot,c} — b and c hash just above hot, y/z at the
    # top — so their ONLY shared prefix shingle is the hot bucket, and
    # capping it misses the pair the uncapped oracle keeps.
    from pyspark.sql import functions as F

    cand_toks = [f"t{i}" for i in range(120)]
    ranked = [
        r.t for r in spark.createDataFrame(
            [(t,) for t in cand_toks], "t string"
        ).select("t", F.xxhash64("t").alias("h")).orderBy("h").collect()
    ]
    hot, b, c = ranked[0], ranked[1], ranked[2]
    y, z = ranked[-2], ranked[-1]
    mids = ranked[3:-2]
    docs = [
        (i, f"{hot} {mids[3 * i]} {mids[3 * i + 1]} {mids[3 * i + 2]}")
        for i in range(30)
    ]
    docs += [(100, f"{hot} {b} {y} {z}"), (101, f"{hot} {c} {y} {z}")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    t = 0.6
    assert ngram_prefix_dropped_buckets(df, k=1, threshold=t,
                                        max_bucket=10) > 0
    capped = {(r.src, r.dst)
              for r in ngram_jaccard_dups(df, k=1, threshold=t,
                                          max_bucket=10).collect()}
    uncapped = {(r.src, r.dst)
                for r in ngram_jaccard_dups(df, k=1, threshold=t,
                                            max_bucket=10_000).collect()}
    assert (100, 101) in uncapped
    assert capped < uncapped  # the guard really does cost pairs here


def test_near_dup_clusters_transitive(spark):
    """a≈b and b≈c must land in ONE cluster even when a and c are not
    themselves a pair (the pairwise output can't express this); clean
    docs become singleton keepers."""
    from gliner_spark.operators.dedup import near_dup_clusters

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " lambda"),          # pairs with 1 and 3
            (3, base + " lambda mu"),       # pairs with 2, maybe not 1
            (7, "totally different content with no shared phrases at all"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in near_dup_clusters(docs).collect()}
    assert rows[1].cluster_id == rows[2].cluster_id == rows[3].cluster_id == 1
    assert rows[1].cluster_size == 3
    assert rows[1].keep and not rows[2].keep and not rows[3].keep
    assert rows[7].cluster_id == 7 and rows[7].cluster_size == 1
    assert rows[7].keep


def test_md5_60_hash_family_matches_python(spark):
    """The SQL-reproducible hash family behind the dedup_simhash /
    kg_links_cosine exact oracles: Spark's
    conv(substr(md5(w),1,15),16,10) must equal hashlib's digest fold —
    and the md5_60 simhash must equal the reference vote kernel run
    over those hashes."""
    import hashlib

    from gliner_spark.operators.dedup import (
        md5_hash60,
        simhash_signatures,
    )

    words = ["spark", "join", "table", "κύιβ", ""]
    got = {
        r.w: r.h
        for r in spark.createDataFrame([(w,) for w in words], "w string")
        .select("w", md5_hash60(F.col("w")).alias("h"))
        .collect()
    }
    for w in words:
        expect = int(hashlib.md5(w.encode("utf-8")).hexdigest()[:15], 16)
        assert got[w] == expect, w
        assert 0 <= got[w] < 1 << 60

    df = spark.createDataFrame(
        [(1, "spark join table")], "doc_id long, text string"
    )
    sig = simhash_signatures(df, hash_family="md5_60").collect()[0].simhash
    hs = [int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
          for w in "spark join table".split()]
    expect = 0
    for i in range(60):
        if sum((x >> i) & 1 for x in hs) >= 2:
            expect |= 1 << i
    assert sig == expect and sig >= 0


def test_md5_gram_vectors_match_python(spark):
    """kg_links_cosine's embedding twin: the Catalyst gram-vote vector
    and its cosine must equal a pure-Python recomputation (distinct
    char-3-grams, bucket = h mod 64, sign from bit 59, integer votes,
    L2-normalized dot)."""
    import hashlib
    import math

    from gliner_spark.operators.embed import (
        cosine_links_md5,
        md5_gram_vectors,
    )

    def py_vec(s):
        grams = {s[i:i + 3] for i in range(max(1, len(s) - 2))}
        v = {}
        for g in grams:
            h = int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
            v[h % 64] = v.get(h % 64, 0) + (1 if ((h >> 59) & 1) == 0
                                            else -1)
        return {b: x for b, x in v.items() if x != 0}

    surfaces = spark.createDataFrame(
        [("a", "kyiv city"), ("b", "kyiv cty")],
        "sid string, surface string",
    )
    got = {}
    for r in md5_gram_vectors(surfaces).collect():
        got.setdefault(r.sid, {})[r.bucket] = r.v
    assert {b: v for b, v in got["a"].items() if v} == py_vec("kyiv city")

    cands = spark.createDataFrame([("a", "b")], "src string, dst string")
    rows = cosine_links_md5(surfaces, cands, threshold=-1.0).collect()
    va, vb = py_vec("kyiv city"), py_vec("kyiv cty")
    dot = sum(va[k] * vb.get(k, 0) for k in va)
    cos = dot / (math.sqrt(sum(x * x for x in va.values()))
                 * math.sqrt(sum(x * x for x in vb.values())))
    assert rows[0].cos == pytest.approx(round(cos, 6), abs=1e-9)


def test_ann_lsh_recall_vs_brute_force(emb):
    qids = list(range(8))
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, qids, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in hyperplane_lsh_topk(emb, qids, k=5).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.5, f"ANN-LSH top-5 recall {recall}"


def test_ann_ivf_recall_vs_brute_force(emb):
    from gliner_spark.operators.similarity import ivf_topk

    qids = list(range(8))
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, qids, k=5).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, qids, k=5, n_cells=8, n_probe=4).collect()
    }
    recall = len(ivf & exact) / len(exact)
    assert recall >= 0.5, f"IVF top-5 recall {recall}"
    # determinism: seeded centroids + fixed Lloyd rounds → same result
    ivf2 = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, qids, k=5, n_cells=8, n_probe=4).collect()
    }
    assert ivf == ivf2


def test_brute_force_topk_shape(emb):
    out = brute_force_topk(emb, [0, 1], k=3).collect()
    assert len(out) == 6
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        sims = [r.sim for r in rows]
        assert sims == sorted(sims, reverse=True)
        assert all(r.neighbor_id != q for r in rows)


def test_embedding_dups_symmetric_free(emb):
    pairs = embedding_dup_pairs(emb, threshold=0.35).collect()
    assert all(r.src < r.dst for r in pairs)


def test_embedding_dups_lsh_exact_recall_on_gate_corpus(spark):
    """The driver query runs the LSH-BLOCKED plan against the exact O(n²)
    DuckDB oracle at sf0.01 — the defaults must reproduce the exact pair
    set bit-for-bit there, or the hash gate breaks."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    exact = {(r.src, r.dst, r.sim) for r in embedding_dup_pairs(emb).collect()}
    lsh = {(r.src, r.dst, r.sim)
           for r in embedding_dup_pairs_lsh(emb).collect()}
    assert exact and lsh == exact


def test_ngram_hash_prefilter_zero_collisions_at_gate_scale(spark):
    """r7 internals: ngram_jaccard_dups pre-filters candidates with
    xxhash64-counted intersections. That count equals the string count
    iff no two distinct shingles collide — assert ZERO collisions over
    the whole gate corpora, turning the ~n²/2⁶⁵ probability argument
    into a checked fact (the lsh_dropped_buckets pattern)."""
    from pyspark.sql import functions as F

    from gliner_spark.operators.dedup import word_shingles

    for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        sh = docs.select(
            F.explode(word_shingles(F.col("text"), 3)).alias("s")
        ).distinct()
        r = sh.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(F.xxhash64("s")).alias("nh"),
        ).first()
        assert r.n == r.nh, f"xxhash64 shingle collision at {sf}"


def test_bucket_jaccard_candidates_internals(spark):
    """r7 internals: the per-bucket Jaccard prefilter must (a) honor the
    max_bucket cap group-locally (oversized group → no pairs, matching
    the old bucket-aggregation guard), (b) emit src<dst only, (c) keep
    near-threshold pairs via the margin, (d) emit nothing for a
    one-row group."""
    from gliner_spark.operators.dedup import _bucket_jaccard_candidates

    # group "g": docs 1,2 share 4 of 5 shingles (J = 4/6 ≈ 0.667);
    # docs 1,3 identical (J = 1.0); hashes stand in for shingles.
    # group "h" holds doc 4 alone, with doc 1's shingles
    rows = [
        ("g", 1, 5, [10, 20, 30, 40, 50]),
        ("g", 2, 5, [10, 20, 30, 40, 99]),
        ("g", 3, 5, [10, 20, 30, 40, 50]),
        ("h", 4, 5, [10, 20, 30, 40, 50]),
    ]
    df = spark.createDataFrame(
        rows, "shingle string, sid long, n_sh int, hx array<long>"
    )
    got = {(r.src, r.dst)
           for r in _bucket_jaccard_candidates(df, 0.7, 1000).collect()}
    # J(1,3)=1.0 passes; J(1,2)=J(2,3)=4/6=0.667 ≥ 0.7−0.05 margin
    assert got == {(1, 3), (1, 2), (2, 3)}
    # tighten threshold: only the identical pair survives the margin
    got_hi = {(r.src, r.dst)
              for r in _bucket_jaccard_candidates(df, 0.9, 1000).collect()}
    assert got_hi == {(1, 3)}
    # cap: group of 3 > max_bucket=2 → dropped entirely
    assert _bucket_jaccard_candidates(df, 0.7, 2).count() == 0


def test_bucket_pair_candidates_prefilter_semantics(spark):
    """r7 internals: the per-bucket numpy prefilter must (a) emit every
    pair at/above threshold−margin including across its chunk boundary,
    (b) force-pair zero-norm vectors with their whole bucket (the old
    Catalyst plan emits their NaN cosine, which Spark orders ABOVE any
    threshold, so dropping them would change output), (c) emit src<dst
    only, (d) emit nothing for a one-row bucket."""
    import numpy as np

    from gliner_spark.operators.similarity import _bucket_pair_candidates

    rows = [
        (0, 0, 7, [1.0, 0.0, 0.0, 0.0]),
        (0, 0, 3, [1.0, 0.001, 0.0, 0.0]),   # ~1.0 cosine with 7
        (0, 0, 11, [0.0, 1.0, 0.0, 0.0]),    # orthogonal
        (0, 0, 5, [0.0, 0.0, 0.0, 0.0]),     # zero vector → NaN pairs
        (0, 1, 9, [1.0, 0.0, 0.0, 0.0]),     # alone in its bucket
        (1, 0, 13, [0.0, 0.0, 0.0, 0.0]),    # alone, zero vector
    ]
    df = spark.createDataFrame(
        rows, "tbl int, bucket int, nid long, vraw array<float>"
    )
    got = {(r.src, r.dst)
           for r in _bucket_pair_candidates(df, 0.9).collect()}
    # near-identical pair plus the zero vector against everyone
    assert got == {(3, 7), (3, 5), (5, 7), (5, 11)}
    assert all(s < d for s, d in got)

    # chunk boundary: force chunk=1 via a bucket larger than the
    # 32M-doubles budget is impractical; instead monkeypatch-free check
    # that a 3-vector clique at chunk size 1 (32_000_000 // n >= 1
    # always, so emulate by many vectors) still finds all pairs: use a
    # 40-vector identical clique — C(40,2) pairs, every one found once.
    clique = [(1, 1, i, [1.0, 0.0, 0.0, 0.0]) for i in range(40)]
    df2 = spark.createDataFrame(
        clique, "tbl int, bucket int, nid long, vraw array<float>"
    )
    got2 = _bucket_pair_candidates(df2, 0.9).collect()
    assert len(got2) == 40 * 39 // 2
    assert np.all([r.src < r.dst for r in got2])


@pytest.mark.parametrize("n_rows", [3, 0])
def test_vector_stages_with_empty_partitions(spark, n_rows):
    """The two Arrow vector stages — the hyperplane bucket keys
    (``_bucket_keys_udf``) and the IVF cell assignment
    (``_ivf_assign``) — over 6 partitions of which at least 3 are empty
    give, row for row, what numpy gives over the vectors directly."""
    import numpy as np

    from gliner_spark.operators.similarity import (
        _bucket_keys_udf,
        _ivf_assign,
        _planes,
    )

    dim, n_bits, n_tables, seed = 4, 3, 5, 11
    vec = F.array(F.col("id") + 1.0, 2.0 - F.col("id"),
                  F.col("id") * 0.5, F.lit(-1.0))
    df = spark.range(0, n_rows, 1, 6).select("id", vec.alias("v"))
    x = np.array([[i + 1.0, 2.0 - i, i * 0.5, -1.0] for i in range(n_rows)]
                 ).reshape(n_rows, dim)

    keys = _bucket_keys_udf(dim, n_bits, n_tables, seed)
    got = {r.id: list(r.k) for r in df.select(
        "id", keys(F.col("v")).alias("k")).collect()}
    planes = np.concatenate(
        [_planes(dim, n_bits, t, seed) for t in range(n_tables)])
    bits = ((x @ planes.T) > 0).reshape(n_rows, n_tables, n_bits)
    want = (bits * (1 << np.arange(n_bits))).sum(axis=2)
    assert got == {i: want[i].tolist() for i in range(n_rows)}

    cents = np.array([[1.0, 0, 0, 0], [0, 1.0, 0, 0], [0, 0, 0, -1.0]])
    got = {r.id: r.cell for r in _ivf_assign(df, cents).collect()}
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    want = ((x / norms) @ cents.T).argmax(axis=1)
    assert got == {i: int(want[i]) for i in range(n_rows)}


def test_multimodal_plumbing(docs):
    media = attach_media(docs)
    meta = media_metadata(media)
    row = meta.orderBy("doc_id").first()
    assert row.n_bytes > 0 and len(row.sha) == 64
    frames = sample_frames(media, frame_bytes=32, every_nth=4)
    fr = frames.groupBy("doc_id").count().first()
    assert fr["count"] > 0


def test_ppm_decode_real_roundtrip(docs):
    """attach_media image payloads are REAL P6 PPMs: decode_ppm must
    parse the header and recover pixel moments matching a direct
    recomputation from the source text bytes; malformed inputs raise."""
    import numpy as np
    import pytest as _pytest

    from gliner_spark.operators.multimodal import (
        PPM_PIXEL_BYTES,
        decode_ppm,
        extract_features,
    )

    media = attach_media(docs)
    img = media.where(F.col("kind") == "image").orderBy("doc_id").first()
    w, h, px = decode_ppm(bytes(img.media))
    assert (w, h, px.shape) == (8, 8, (8, 8, 3))
    src = docs.where(F.col("doc_id") == img.doc_id).first().text or " "
    cycled = (src.encode() * (PPM_PIXEL_BYTES // len(src.encode()) + 1))[
        :PPM_PIXEL_BYTES
    ]
    assert px.tobytes() == cycled

    feats = extract_features(media).where(F.col("kind") == "image")
    f = feats.where(F.col("doc_id") == img.doc_id).first()
    arr = np.frombuffer(cycled, dtype=np.uint8).astype(np.int64)
    assert (f.width, f.height) == (8, 8)
    assert f.val_sum == arr.sum() and f.val_sumsq == (arr * arr).sum()
    assert f.r_sum == arr.reshape(-1, 3)[:, 0].sum()

    # header comments are legal PPM; truncation/garbage must raise
    commented = b"P6\n# a comment\n2 1\n255\n" + bytes(6)
    assert decode_ppm(commented)[0:2] == (2, 1)
    with _pytest.raises(ValueError):
        decode_ppm(b"P5\n8 8\n255\n" + bytes(192))
    with _pytest.raises(ValueError):
        decode_ppm(b"P6\n8 8\n255\n" + bytes(10))


def test_paragraph_dedup_newline_mode(spark):
    """Real-layout mode: global first occurrence wins (across docs AND
    within a doc), reassembly preserves original order, a fully-
    boilerplate doc comes back empty, and counts reconcile."""
    from gliner_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [
            (1, "intro one\nshared boiler\nbody one"),
            (2, "shared boiler\nbody two\nshared boiler"),  # dup within
            (3, "shared boiler"),                            # all dup
            (4, "body two\nfresh four"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.text_clean, r.n_kept, r.n_dropped)
           for r in paragraph_dedup(docs).collect()}
    assert out[1] == ("intro one\nshared boiler\nbody one", 3, 0)
    assert out[2] == ("body two", 1, 2)   # both boiler copies dropped
    assert out[3] == ("", 0, 1)           # empty but present
    assert out[4] == ("fresh four", 1, 1)  # "body two" first seen in 2


# --- the shared guarded band self-join (operators/bands.band_pairs) ---

BAND_MAX = 3  # max_bucket under test: buckets of 3 join, of 4 drop


def _words(tag, n=40):
    return " ".join(f"{tag}{i}" for i in range(n))


# A: a bucket of exactly BAND_MAX identical docs (every band shared);
# B: BAND_MAX + 1 identical docs (every bucket dropped); C/C2: a near
# pair (one word edited: J = 35/41, shares some bands, not all); E: alone
_TA, _TB, _TE = _words("a"), _words("b"), _words("e")
_TC = _words("c")
_TC2 = _TC.replace("c20", "x20")
DOC_RECS = [(1, _TA), (2, _TA), (3, _TA), (11, _TB), (12, _TB), (13, _TB),
            (14, _TB), (21, _TC), (22, _TC2), (31, _TE)]
# admission: (id, text, new). A: store 1 + batch 2, 3 (bucket of 3);
# B: store 11 + batch 12-14 (bucket of 4); D: id 40 both stored and in
# the batch again (a retry) plus batch 41
_TD = _words("d")
ADMIT_RECS = [(1, _TA, False), (11, _TB, False), (40, _TD, False),
              (2, _TA, True), (3, _TA, True), (12, _TB, True),
              (13, _TB, True), (14, _TB, True), (40, _TD, True),
              (41, _TD, True), (21, _TC, True), (22, _TC2, True)]
# lsh_links: (label, surface). x:abab… share one char-3-gram set
# {aba, bab} (a bucket of 3 in every band), x:cdcd… share {cdc, dcd}
# (a bucket of 4); y:abab has x:abab's band keys under another label
LSH_RECS = [("x", "abab"), ("x", "ababa"), ("x", "ababab"),
            ("x", "cdcd"), ("x", "cdcdc"), ("x", "cdcdcd"), ("x", "cdcdcdc"),
            ("y", "abab"), ("z", "new york"), ("z", "new york city")]


def _ref_band_pairs(recs, keys, pred, verify):
    """Brute force over every ordered pair of records (index i, j):
    ``pred`` holds and the two meet in some band whose bucket —
    (part, band, key) over ALL records — has at most BAND_MAX rows;
    ``verify`` maps the pair to an output row or None. Returns (rows,
    number of buckets over BAND_MAX)."""
    from collections import Counter

    size = Counter((p, n, k) for (p, ks) in keys for n, k in enumerate(ks))
    out = set()
    for i in range(len(recs)):
        for j in range(len(recs)):
            (pa, ka), (pb, kb) = keys[i], keys[j]
            if i == j or pa != pb or not pred(i, j):
                continue
            if any(x == y and size[(pa, n, x)] <= BAND_MAX
                   for n, (x, y) in enumerate(zip(ka, kb))):
                row = verify(i, j)
                if row is not None:
                    out.add(row)
    return out, sum(1 for v in size.values() if v > BAND_MAX)


def _slices(sig, bands):
    r = len(sig) // bands
    return [tuple(sig[n * r:(n + 1) * r]) for n in range(bands)]


def _case_lsh_links(spark):
    from gliner_spark.operators.linking import (
        _spark_round,
        _surface_signatures,
        lsh_dropped_buckets,
        lsh_links,
    )

    surfaces = spark.createDataFrame(
        [(f"{lab}:{s}", lab, s, 1) for lab, s in LSH_RECS],
        "sid string, label string, surface string, n_mentions long")
    rows = {r.sid: r for r in
            _surface_signatures(surfaces, 3, 64, 7).collect()}
    recs = [rows[f"{lab}:{s}"] for lab, s in LSH_RECS]
    keys = [(r.label, _slices(list(r.sig), 32)) for r in recs]

    def verify(i, j):
        a, b = set(recs[i].sh), set(recs[j].sh)
        sim = _spark_round(len(a & b) / len(a | b), 6)
        return (recs[i].sid, recs[j].sid, sim) if sim >= 0.30 else None

    want, want_dropped = _ref_band_pairs(
        recs, keys, lambda i, j: recs[i].sid < recs[j].sid, verify)
    got = [tuple(r) for r in lsh_links(surfaces, max_bucket=BAND_MAX)
           .collect()]
    got_dropped = lsh_dropped_buckets(surfaces, max_bucket=BAND_MAX)
    kept = {("x:abab", "x:ababa"), ("x:abab", "x:ababab"),
            ("x:ababa", "x:ababab")}
    dropped = {(f"x:{a}", f"x:{b}") for a in ("cdcd", "cdcdc", "cdcdcd")
               for b in ("cdcdc", "cdcdcd", "cdcdcdc") if a < b}
    pairs = {(s, d) for s, d, _ in got}
    # an equal band key under two labels never pairs
    assert all(s.split(":")[0] == d.split(":")[0] for s, d in pairs)
    return got, want, got_dropped, want_dropped, kept, dropped


def _doc_rows(spark):
    return spark.createDataFrame(DOC_RECS, "doc_id long, text string")


def _case_minhash_dups(spark):
    from gliner_spark.operators.bands import dropped_buckets
    from gliner_spark.operators.dedup import (
        _doc_shingles,
        _minhash_bands,
        minhash_dups,
    )
    from gliner_spark.plans.incremental import batch_minhash_signatures

    docs = _doc_rows(spark)
    sig = {r.doc_id: list(r.sig)
           for r in batch_minhash_signatures(docs).collect()}
    sh = {r.sid: set(r.sh) for r in
          _doc_shingles(docs, 3, "doc_id", "text").collect()}
    ids = [i for i, _ in DOC_RECS]
    keys = [(0, _slices(sig[i], 32)) for i in ids]

    def verify(i, j):
        a, b = sh[ids[i]], sh[ids[j]]
        sim = round(len(a & b) / len(a | b), 6)
        return (ids[i], ids[j], sim) if sim >= 0.8 else None

    want, want_dropped = _ref_band_pairs(
        ids, keys, lambda i, j: ids[i] < ids[j], verify)
    got = [tuple(r) for r in minhash_dups(docs, max_bucket=BAND_MAX)
           .collect()]
    got_dropped = dropped_buckets(
        *_minhash_bands(docs, 3, 128, 32, 11), BAND_MAX)
    return (got, want, got_dropped, want_dropped,
            {(1, 2), (1, 3), (2, 3)}, {(11, 12), (12, 13), (13, 14)})


def _case_simhash_dups(spark):
    from gliner_spark.operators.bands import dropped_buckets
    from gliner_spark.operators.dedup import (
        _simhash_bands,
        simhash_dups,
        simhash_signatures,
    )

    docs = _doc_rows(spark)
    sim = {r.doc_id: r.simhash for r in simhash_signatures(docs).collect()}
    ids = [i for i, _ in DOC_RECS]
    keys = [(0, [(sim[i] >> (8 * n)) & 0xFF for n in range(8)])
            for i in ids]

    def ham(i, j):
        return bin((sim[ids[i]] ^ sim[ids[j]]) & (2**64 - 1)).count("1")

    want, want_dropped = _ref_band_pairs(
        ids, keys, lambda i, j: ids[i] < ids[j] and ham(i, j) <= 6,
        lambda i, j: (ids[i], ids[j], ham(i, j)))
    got = [tuple(r) for r in simhash_dups(docs, max_bucket=BAND_MAX)
           .collect()]
    got_dropped = dropped_buckets(
        *_simhash_bands(simhash_signatures(docs), 8), BAND_MAX)
    return (got, want, got_dropped, want_dropped,
            {(1, 2), (1, 3), (2, 3)}, {(11, 12), (12, 13), (13, 14)})


def _case_admission(spark):
    from pyspark.sql import functions as F

    from gliner_spark.operators.bands import dropped_buckets, minhash_bands
    from gliner_spark.plans.incremental import (
        _verified_pairs,
        batch_minhash_signatures,
    )

    def sigs(new):
        return batch_minhash_signatures(spark.createDataFrame(
            [(i, t) for i, t, n in ADMIT_RECS if n == new],
            "doc_id long, text string"))

    sig_new, sig_old = sigs(True), sigs(False)
    sig = {(r.doc_id, new): list(r.sig)
           for new, df in ((True, sig_new), (False, sig_old))
           for r in df.collect()}
    recs = [(i, n) for i, _, n in ADMIT_RECS]
    keys = [(0, _slices(sig[r], 32)) for r in recs]

    def pred(i, j):
        (a, an), (b, bn) = recs[i], recs[j]
        return an and a != b and (not bn or a < b)

    def verify(i, j):
        x, y = sig[recs[i]], sig[recs[j]]
        jhat = round(sum(p == q for p, q in zip(x, y)) / 128, 6)
        return (recs[i][0], recs[j][0], recs[j][1]) if jhat >= 0.8 else None

    pairs, want_dropped = _ref_band_pairs(recs, keys, pred, verify)
    # new-vs-old reduced to each doc's smallest admitted match
    best = {}
    for s, d, _ in (p for p in pairs if not p[2]):
        best[s] = min(d, best.get(s, d))
    want = {p for p in pairs if p[2]} | {(s, d, False)
                                         for s, d in best.items()}
    got = [tuple(r) for r in _verified_pairs(
        sig_new, sig_old, 32, 128, 0.8, BAND_MAX).collect()]
    tagged = sig_new.withColumn("new", F.lit(True)).unionByName(
        sig_old.withColumn("new", F.lit(False)))
    banded, keys = minhash_bands(128, 32)
    got_dropped = dropped_buckets(
        tagged.select("doc_id", "new", banded), keys, BAND_MAX)
    # a retried id (40 stored and in the batch) never pairs with itself
    assert all(s != d for s, d, _ in got)
    return (got, want, got_dropped, want_dropped,
            {(2, 1), (3, 1), (41, 40), (40, 41)},
            {(12, 11), (13, 11), (14, 11), (12, 13), (40, 40)})


@pytest.mark.parametrize("case", [_case_lsh_links, _case_minhash_dups,
                                  _case_simhash_dups, _case_admission],
                         ids=["lsh_links", "minhash_dups", "simhash_dups",
                              "admission"])
def test_band_pairs_callers_match_bruteforce(spark, case):
    """Every caller of the shared guarded band self-join against a
    brute-force reference of its own predicate and verify, on inputs
    built so that one bucket holds exactly ``max_bucket`` rows (kept)
    and one ``max_bucket + 1`` (dropped, and counted by the audit);
    pairs meeting in many bands come back once."""
    got, want, got_dropped, want_dropped, kept, dropped = case(spark)
    assert len(got) == len(set(got))  # several shared bands: one row
    assert set(got) == want
    pairs = {(r[0], r[1]) for r in got}
    assert kept <= pairs and not (dropped & pairs)
    assert got_dropped == want_dropped >= 8


def test_dedup_band_audits_zero_at_gate_scale(spark):
    """The guards of minhash_dups and simhash_dups drop no bucket on the
    gate corpus: q_dedup_minhash shares the exact dedup_ngram oracle,
    and that sharing holds only while this audit reads 0 (as
    lsh_dropped_buckets does for kg_links_lsh)."""
    from gliner_spark.operators.bands import dropped_buckets
    from gliner_spark.operators.dedup import (
        _minhash_bands,
        _simhash_bands,
        simhash_signatures,
    )

    gate = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    assert dropped_buckets(
        *_minhash_bands(gate, 3, 128, 32, 11), 2000) == 0
    for family in ("xxhash64", "md5_60"):
        assert dropped_buckets(
            *_simhash_bands(simhash_signatures(gate, hash_family=family), 8),
            10_000) == 0


def test_minhash_band_keys_are_exact_slices(spark):
    """The packed MinHash band keys decode back to the exact signature
    slice — even and odd rows per band, values at the top of the 31-bit
    range — so two records share a bucket iff their slices are equal."""
    from gliner_spark.operators.bands import minhash_bands

    top, mask = (1 << 31) - 2, (1 << 31) - 1
    sigs = [[top, 0, 1, top, 5, 6], [0, top, 1, top, 5, 6],
            [top, 0, 1, top, 5, 7]]
    df = spark.createDataFrame(list(enumerate(sigs)),
                               "doc_id long, sig array<bigint>")
    for bands, rows in ((3, 2), (2, 3), (1, 6)):
        banded, keys = minhash_bands(6, bands)
        got = {}
        for r in df.select("doc_id", banded).collect():
            vals = []
            for j, name in enumerate(keys[1:]):
                # a pair of values per key; an odd slice ends in one
                vals += ([r[name] >> 31, r[name] & mask]
                         if 2 * j + 1 < rows else [r[name]])
            got[r.doc_id, r.band_idx] = tuple(vals)
        assert got == {(d, n): tuple(s[n * rows:(n + 1) * rows])
                       for d, s in enumerate(sigs) for n in range(bands)}


def test_band_pairs_local_matches_bruteforce():
    """The driver band pairing against a brute-force reference: random
    two-column keys over 6 bands, buckets of exactly ``max_bucket`` rows
    joining and larger ones dropped, pairs only where the later row is
    ``right``, and the pair-count bound giving up exactly past the
    number of distinct pairs."""
    from collections import Counter
    from itertools import combinations

    import numpy as np

    from gliner_spark.operators.bands import band_pairs_local

    rng = np.random.default_rng(5)
    n, bands, max_bucket = 60, 6, 3
    keys = [rng.integers(0, 4, (n, 2)) for _ in range(bands)]
    for right in (None, rng.random(n) < 0.5):
        want = set()
        for key in keys:
            size = Counter(map(tuple, key))
            assert max_bucket in size.values()
            assert max(size.values()) > max_bucket
            want |= {(i, j) for i, j in combinations(range(n), 2)
                     if tuple(key[i]) == tuple(key[j])
                     and size[tuple(key[i])] <= max_bucket
                     and (right is None or right[j])}
        got = band_pairs_local(iter(keys), max_bucket, len(want), right)
        assert list(zip(*(a.tolist() for a in got))) == sorted(want)
        assert band_pairs_local(iter(keys), max_bucket, len(want) - 1,
                                right) is None


@pytest.mark.parametrize("driver_rows", [1_000_000, 0],
                         ids=["driver", "distributed"])
def test_admit_guard_parity_on_both_paths(spark, tmp_path, monkeypatch,
                                          driver_rows):
    """Admission's skew guard counts store and batch rows together on
    both paths: A's bucket (store 1 + batch 2, 3: exactly ``max_bucket``
    rows) joins, B's (store 11 + batch 12-14) is dropped, so B's copies
    are kept and stored; a retried stored id (40) never matches itself
    and is not stored twice. The batch signatures come in through
    ``sig=``."""
    from pyspark.sql import functions as F

    from gliner_spark.operators import canonicalize
    from gliner_spark.plans import incremental
    from gliner_spark.plans.incremental import (
        batch_minhash_signatures,
        dedup_admit_batch,
    )

    monkeypatch.setattr(incremental, "DRIVER_ROWS", driver_rows)
    monkeypatch.setattr(canonicalize, "DRIVER_ROWS", driver_rows)
    store = str(tmp_path / "store")
    recs = spark.createDataFrame(ADMIT_RECS,
                                 "doc_id long, text string, new boolean")
    batch_minhash_signatures(recs.where(~F.col("new"))).write.parquet(store)
    docs = recs.where("new").drop("new")
    got = {r.doc_id: r.dup_of for r in dedup_admit_batch(
        docs, store, max_bucket=BAND_MAX,
        sig=batch_minhash_signatures(docs)).collect()}
    stored = sorted(r.doc_id for r in spark.read.parquet(store).collect())
    # C2 (22) matches C (21) at Ĵ = 106/128
    assert got == {2: 1, 3: 1, 12: None, 13: None, 14: None, 40: None,
                   41: 40, 21: None, 22: 21}
    assert stored == [1, 11, 12, 13, 14, 21, 40]
