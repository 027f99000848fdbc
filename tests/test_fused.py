"""Fused NER+relations must equal the modular two-operator composition:
the in-batch pairing kernel against a double loop and the Spark
self-join, and build_kg's one NER pass against extract_mentions →
extract_relations."""

import pytest

from gliner_spark.config import TOKEN_LEVEL, GlinerConfig
from gliner_spark.kernels.scorer import ALL_LABELS
from gliner_spark.operators.ner import extract_mentions
from gliner_spark.operators.linking import _spark_round
from gliner_spark.operators.ner_fused import (
    _triples,
    extract_triples_fused,
    pair_spans,
    relations_for_doc,
)
from gliner_spark.operators.relations import DEFAULT_RULES, extract_relations
from gliner_spark.schemas import MENTIONS, TRIPLES
from gliner_spark.sources.pages import synthesize_pages


@pytest.fixture(scope="session")
def spark():
    from gliner_spark.session import build_session

    s = build_session(app_name="gliner-tests", cores=4)
    yield s
    s.stop()


def _key(r):
    return (
        r.doc_id, r.subj, r.subj_label, r.subj_start, r.pred,
        r.obj, r.obj_label, r.obj_start, r.prob,
    )


def _assert_fused_equals_modular(spark, config):
    pages = synthesize_pages(spark, 250).persist()
    modular = sorted(
        _key(r)
        for r in extract_relations(
            extract_mentions(pages, ALL_LABELS, config=config).persist()
        ).collect()
    )
    fused = sorted(
        _key(r)
        for r in extract_triples_fused(
            pages, ALL_LABELS, config=config
        ).collect()
    )
    assert len(fused) == len(modular) > 0
    assert fused == modular


def test_fused_equals_modular(spark):
    _assert_fused_equals_modular(spark, GlinerConfig())


def test_fused_token_level_equals_modular(spark):
    """A token-level config gets a token-level scorer on the fused path
    too (one scorer choice, ``make_scorer``)."""
    _assert_fused_equals_modular(spark, GlinerConfig(model_type=TOKEN_LEVEL))


def test_persisted_mentions_score_each_doc_once(spark, tmp_path):
    """The modular relation self-join must NOT re-run the scoring
    mapInArrow per join branch: with mentions persisted, the scorer
    factory runs once per input task; unpersisted it runs twice (one
    per branch). Counted via marker files the factory drops (local mode
    shares the filesystem with Python workers)."""
    import os

    from gliner_spark.kernels.scorer import SurrogateScorer

    marker = tmp_path / "calls"
    os.makedirs(marker)

    def factory(path=str(marker)):
        import os as _os
        import uuid as _uuid

        open(_os.path.join(path, _uuid.uuid4().hex), "w").close()
        return SurrogateScorer(12)

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).repartition(4)

    mentions = extract_mentions(
        docs, ALL_LABELS, id_col="doc_id", scorer_factory=factory
    ).persist()
    try:
        extract_relations(mentions).count()
        n_persisted = len(os.listdir(marker))
    finally:
        mentions.unpersist()

    for f in os.listdir(marker):
        os.remove(marker / f)
    extract_relations(
        extract_mentions(docs, ALL_LABELS, id_col="doc_id",
                         scorer_factory=factory)
    ).count()
    n_unpersisted = len(os.listdir(marker))

    assert n_persisted > 0
    assert n_unpersisted == 2 * n_persisted


def test_fused_no_shuffle_plan(spark):
    pages = synthesize_pages(spark, 50)
    # pre-execution formatted plan: a single Python stage, no Exchange
    # above the mapInArrow (the synthesis union below it is irrelevant)
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        extract_triples_fused(pages, ALL_LABELS).explain("formatted")
    txt = buf.getvalue()
    assert "MapInArrow" in txt
    above_map = txt.split("MapInArrow")[0]
    assert "Exchange" not in above_map


# --- the in-batch pairing kernel (operators/ner_fused.pair_spans) ---

RULES = {(s, o): p for s, o, p in DEFAULT_RULES}
RULE_LABELS = sorted({lab for pair in RULES for lab in pair})


def _loop_relations(spans_batch, rules, window_bytes):
    """The reference: every (subject, object) pair of each document
    tested in a double loop, prob rounded as Spark's ``round``."""
    return [
        (d, s[2], s[3], s[0], rules[(s[3], o[3])], o[2], o[3], o[0],
         _spark_round(round(s[4], 4) * round(o[4], 4), 4))
        for d, spans in enumerate(spans_batch)
        for s in spans
        for o in spans
        if 0 < o[0] - s[0] <= window_bytes and (s[3], o[3]) in rules
    ]


def _join_relations(spark, spans_batch, window_bytes):
    """``extract_relations`` over the same spans as a mentions table,
    keyed by document index."""
    rows = [(str(d), s[0], s[1], s[2], s[3], round(float(s[4]), 4))
            for d, spans in enumerate(spans_batch) for s in spans]
    mentions = spark.createDataFrame(rows, MENTIONS)
    return [
        (int(r.doc_id), r.subj, r.subj_label, r.subj_start, r.pred, r.obj,
         r.obj_label, r.obj_start, r.prob)
        for r in extract_relations(mentions, window_bytes=window_bytes)
        .collect()
    ]


def _random_doc(rng, n, extent):
    starts = rng.integers(0, extent, size=n)
    return [(int(s), int(s) + 3, f"w{s}", str(rng.choice(RULE_LABELS + ["x"])),
             float(rng.uniform(0.3, 1.0))) for s in starts]


def _kernel_cases():
    import numpy as np

    rng = np.random.default_rng(11)
    w = 96
    edge = [  # Δ = window is a pair, Δ = 0 and Δ = window + 1 are not
        (0, 4, "spark", "system", 0.9), (0, 4, "flink", "system", 0.8),
        (w, w + 4, "join", "operator", 0.7),
        (w + 1, w + 5, "scan", "operator", 0.6),
        (0, 4, "sort", "operator", 0.55),
    ]
    dup = [(10, 14, "paris", "city", 0.75)] * 3 + [
        (10, 14, "elon", "person", 0.5), (10, 14, "elon", "person", 0.5),
        (40, 44, "kyiv", "city", 0.61), (40, 44, "france", "country", 0.9)]
    # documents that pair if concatenated: a subject at the end of one,
    # objects at the start of the next (and an empty document between)
    tail = [(500, 504, "musk", "person", 0.8)]
    head = [(0, 4, "elon", "person", 0.6), (5, 9, "paris", "city", 0.7),
            (10, 14, "tesla", "car", 0.9)]
    return {
        "window_edges": ([edge], w),
        "duplicates": ([dup, dup], w),
        "multi_document": ([tail, head, [], tail, head], w),
        "empty": ([[], []], w),
        "random": ([_random_doc(rng, int(rng.integers(0, 60)), 600)
                    for _ in range(40)], w),
        "page_3000": ([_random_doc(rng, 3000, 40_000)], w),
        "narrow_window": ([_random_doc(rng, 200, 300)], 1),
    }


@pytest.mark.parametrize("case", list(_kernel_cases()))
def test_pair_kernel_equals_loop_and_join(spark, case):
    spans_batch, window = _kernel_cases()[case]
    got = sorted(_triples(spans_batch, RULES, window))
    assert got == sorted(_loop_relations(spans_batch, RULES, window))
    assert got == sorted(_join_relations(spark, spans_batch, window))
    if case == "window_edges":
        assert {(t[1], t[5]) for t in got} == {("spark", "join"),
                                                ("flink", "join")}
    if case == "multi_document":
        # musk (end of documents 0 and 3) pairs with nothing
        assert {t[0] for t in got} == {1, 4}
        assert {t[1] for t in got} == {"elon"}
    if case in ("duplicates", "random", "page_3000"):
        assert got


def test_relations_for_doc_is_the_kernel():
    """``relations_for_doc`` (one document, the perfbench oracle's
    entry point) is the kernel's pairs without the document index."""
    import numpy as np

    doc = _random_doc(np.random.default_rng(3), 80, 400)
    assert sorted(relations_for_doc(doc, RULES, 96)) == sorted(
        t[1:] for t in _loop_relations([doc], RULES, 96))
    # an exact tie rounds up, as Spark's round does (not half-even)
    tie = [(0, 4, "elon", "person", 0.1473), (5, 10, "kyiv", "city", 0.5)]
    assert relations_for_doc(tie, RULES, 96) == [
        ("elon", "person", 0, "located_in", "kyiv", "city", 5, 0.0737)]


def test_pair_kernel_rounds_ties_as_spark(spark):
    """Every exact tie a·b ≡ 5000 (mod 10^4) of 4-decimal probs on a
    grid, plus random products: the kernel's prob equals Spark's
    ``round(s.prob * o.prob, 4)``. Python's round-half-even on the
    binary product differs from it on some of them (0.1473 × 0.5)."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.default_rng(5)
    grid = [(a, b) for a in range(1, 10_001, 7) for b in (5_000, 2_500, 1_250,
                                                            625, 8_000, 200)
            if a * b % 10_000 == 5_000]
    grid += [(int(a), int(b)) for a, b in rng.integers(0, 10_001, (3000, 2))]
    grid.append((1_473, 5_000))
    batch = [[(0, 4, "elon", "person", a / 10_000),
              (1, 5, "paris", "city", b / 10_000)] for a, b in grid]
    _, doc, pairs = pair_spans(batch, RULES, 96)
    got = {int(doc[i]): prob for i, _, _, prob in pairs}
    want = spark.createDataFrame(
        [(d, a / 10_000, b / 10_000) for d, (a, b) in enumerate(grid)],
        "d long, s double, o double",
    ).select("d", F.round(F.col("s") * F.col("o"), 4).alias("p")).collect()
    assert len(got) == len(grid)
    assert got == {r.d: r.p for r in want}
    assert got[len(grid) - 1] == 0.0737
    assert sum(round((a / 10_000) * (b / 10_000), 4) != got[d]
               for d, (a, b) in enumerate(grid)) > 0


# --- build_kg: one NER pass gives the mentions and the triples ---

CONFIGS = {
    "span": GlinerConfig(),
    "token": GlinerConfig(model_type=TOKEN_LEVEL),
    "chunked": GlinerConfig(chunk_words=16, chunk_overlap=4),
}


@pytest.mark.parametrize("name", list(CONFIGS))
def test_build_kg_equals_modular(spark, name):
    """build_kg's mentions and triples are ``extract_mentions`` →
    ``extract_relations`` as row multisets, and carry the
    ``MENTIONS``/``TRIPLES`` schemas."""
    from collections import Counter

    from gliner_spark.config import PipelineConfig
    from gliner_spark.plans.kg import build_kg

    cfg = PipelineConfig(gliner=CONFIGS[name])
    pages = synthesize_pages(spark, 150).persist()
    kg = build_kg(pages, ALL_LABELS, cfg=cfg)
    mentions = extract_mentions(pages, ALL_LABELS, config=cfg.gliner)
    triples = extract_relations(mentions.persist(),
                                window_bytes=cfg.relation_window * 4)
    assert kg.mentions.schema == MENTIONS
    assert kg.triples.schema == TRIPLES
    got_t = Counter(map(tuple, kg.triples.collect()))
    assert sum(got_t.values()) > 0
    assert got_t == Counter(map(tuple, triples.collect()))
    assert Counter(map(tuple, kg.mentions.collect())) == Counter(
        map(tuple, mentions.collect()))
    spark.catalog.clearCache()


def test_build_kg_null_and_empty_text(spark):
    from gliner_spark.plans.kg import build_kg

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "spark join table"), (4, "   ")],
        "doc_id long, text string",
    )
    kg = build_kg(docs, ALL_LABELS, id_col="doc_id")
    assert {r.doc_id for r in kg.mentions.collect()} == {"3"}
    assert sorted(map(tuple, kg.triples.collect())) == sorted(
        map(tuple, extract_relations(
            extract_mentions(docs, ALL_LABELS, id_col="doc_id"),
            window_bytes=96).collect()))
    spark.catalog.clearCache()


@pytest.mark.parametrize("checkpointed", [False, True])
def test_build_kg_scores_each_doc_once(spark, tmp_path, monkeypatch,
                                       checkpointed):
    """Across the mentions write, the triples write, the surfaces and
    the edges, build_kg runs the scorer factory once per input task:
    as often as one ``extract_mentions`` pass does. Counted via marker
    files, as in test_persisted_mentions_score_each_doc_once."""
    import os

    from gliner_spark.kernels.scorer import SurrogateScorer
    from gliner_spark.operators.sinks import materialize_kg
    from gliner_spark.plans import kg as kg_mod

    marker = tmp_path / "calls"
    os.makedirs(marker)

    def factory(path=str(marker)):
        import os as _os
        import uuid as _uuid

        open(_os.path.join(path, _uuid.uuid4().hex), "w").close()
        return SurrogateScorer(12)

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).repartition(4)
    extract_mentions(docs, ALL_LABELS, id_col="doc_id",
                     scorer_factory=factory).count()
    n_pass = len(os.listdir(marker))
    for f in os.listdir(marker):
        os.remove(marker / f)

    stage = kg_mod._ner_stage
    monkeypatch.setattr(kg_mod, "_ner_stage", lambda *a: stage(
        *a[:5], factory, *a[6:]))
    kg = kg_mod.build_kg(
        docs, ALL_LABELS, id_col="doc_id",
        checkpoint_root=str(tmp_path / "ckpt") if checkpointed else None)
    materialize_kg(kg, str(tmp_path / "kg"))
    assert kg.triples.count() > 0
    assert len(os.listdir(marker)) == n_pass > 0
    spark.catalog.clearCache()


def test_build_kg_triples_no_shuffle_plan(spark):
    """build_kg's triples are the NER pin exploded: one MapInArrow and
    no Exchange above it (no mentions shuffle, no self-join)."""
    from gliner_spark.plans.kg import build_kg

    kg = build_kg(synthesize_pages(spark, 50), ALL_LABELS)
    txt = kg.triples._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan ==")[0]
    assert txt.count("MapInArrow") == 1
    assert "Exchange" not in txt.split("MapInArrow")[0]
    assert "Join" not in txt
    spark.catalog.clearCache()
