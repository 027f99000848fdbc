"""Fused NER+relations must equal the modular two-operator composition."""

import pytest

from gliner_spark.config import TOKEN_LEVEL, GlinerConfig
from gliner_spark.kernels.scorer import ALL_LABELS
from gliner_spark.operators.ner import extract_mentions
from gliner_spark.operators.ner_fused import extract_triples_fused
from gliner_spark.operators.relations import extract_relations
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
    mapInPandas per join branch: with mentions persisted, the scorer
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
    # above the mapInPandas (the synthesis union below it is irrelevant)
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        extract_triples_fused(pages, ALL_LABELS).explain("formatted")
    txt = buf.getvalue()
    above_map = txt.split("MapInPandas")[0]
    assert "Exchange" not in above_map
