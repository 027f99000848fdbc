"""Reference-API parity: GlinerModel mirrors Model::inference usage
(/root/reference/examples/inference.cpp, tests/test.cpp)."""

import pytest

from gliner_spark.api import GlinerModel
from gliner_spark.config import TOKEN_LEVEL


def test_inference_kyiv_golden_like_reference_example():
    # mirrors examples/inference.cpp:11-18 / tests/test.cpp:80-114
    model = GlinerModel(max_width=12, max_length=512)
    texts = ["Kyiv is the capital of Ukraine."]
    entities = ["city", "country", "river", "person", "car"]
    out = model.inference(texts, entities)
    assert len(out) == 1
    spans = out[0]
    assert [(s[0], s[1], s[2], s[3]) for s in spans] == [
        (0, 4, "Kyiv", "city"),
        (23, 30, "Ukraine", "country"),
    ]
    assert all(abs(s[4] - 0.9) < 0.1 for s in spans)


def test_inference_empty_guard(capsys):
    model = GlinerModel()
    assert model.inference([], ["city"]) == []
    assert model.inference(["x"], []) == []
    assert "Empty texts or entities" in capsys.readouterr().err


def test_library_mode_stages():
    # tests/test.cpp:41-68: stages are public API
    model = GlinerModel()
    toks = model.tokenize_text("Hello world")
    assert [t[2] for t in toks] == ["Hello", "world"]
    batch = model.batch_tokenize_text(["Hello world", "I love C++"])
    assert [t[2] for t in batch[1]] == ["I", "love", "C", "+", "+"]


def test_token_level_model():
    model = GlinerModel(model_type=TOKEN_LEVEL)
    out = model.inference(
        ["Kyiv is the capital of Ukraine."],
        ["city", "country", "river", "person", "car"],
    )
    assert [(s[2], s[3]) for s in out[0]] == [
        ("Kyiv", "city"), ("Ukraine", "country"),
    ]


def test_inference_df_matches_local(spark):
    model = GlinerModel()
    texts = [
        "Kyiv is the capital of Ukraine.",
        "Elon Musk visited Paris and Kyiv near the Dnipro.",
    ]
    entities = ["city", "country", "river", "person", "car"]
    local = model.inference(texts, entities)
    df = spark.createDataFrame(
        [(f"u{i}", t) for i, t in enumerate(texts)], "url string, text string"
    )
    rows = model.inference_df(df, entities).collect()
    got = {}
    for r in rows:
        got.setdefault(r.doc_id, []).append(
            (r.m_start, r.m_end, r.m_text, r.label)
        )
    for i, spans in enumerate(local):
        assert sorted(got[f"u{i}"]) == sorted(
            (s[0], s[1], s[2], s[3]) for s in spans
        )


def test_from_pretrained_model_dir(tmp_path):
    """from_pretrained reads the reference's converted-model layout:
    gliner_config.json keys map onto GlinerConfig, both model.onnx
    locations resolve, tokenizer.json is the pure-loader fixture, and
    a missing model file raises loudly."""
    import json
    import os
    import shutil

    fixture_tok = os.path.join(
        os.path.dirname(__file__), "fixtures", "wordpiece_tokenizer.json"
    )

    d1 = tmp_path / "m1"
    (d1 / "onnx").mkdir(parents=True)
    (d1 / "gliner_config.json").write_text(
        json.dumps({"max_width": 10, "max_len": 384, "span_mode": "markerV0"})
    )
    shutil.copy(fixture_tok, d1 / "tokenizer.json")
    (d1 / "onnx" / "model.onnx").write_bytes(b"\x08\x01")  # placeholder
    m = GlinerModel.from_pretrained(str(d1))
    assert m.config.max_width == 10 and m.config.max_length == 384
    assert m.config.model_type != TOKEN_LEVEL
    assert m._model_path.endswith(os.path.join("onnx", "model.onnx"))
    # without the onnxruntime wheel the scorer falls back to the
    # surrogate, but the tokenizer path wires to the pure loader
    from gliner_spark.kernels.scorer import OnnxScorer

    sc = OnnxScorer(m._model_path, m._tokenizer_path)
    try:
        assert sc._encode_word()("unaffable") == [4, 5, 6]
    finally:
        OnnxScorer._tokenizers.pop(m._tokenizer_path, None)

    d2 = tmp_path / "m2"
    d2.mkdir()
    (d2 / "gliner_config.json").write_text(
        json.dumps({"max_width": 8, "span_mode": "token_level"})
    )
    shutil.copy(fixture_tok, d2 / "tokenizer.json")
    (d2 / "model.onnx").write_bytes(b"\x08\x01")
    m2 = GlinerModel.from_pretrained(str(d2))
    assert m2.config.model_type == TOKEN_LEVEL
    assert m2._model_path.endswith("model.onnx")

    d3 = tmp_path / "m3"
    d3.mkdir()
    (d3 / "gliner_config.json").write_text("{}")
    with pytest.raises(FileNotFoundError):
        GlinerModel.from_pretrained(str(d3))


def test_from_pretrained_real_onnx_export_dir(tmp_path, spark):
    """The reference README's consumption flow with REAL files and zero
    mocks: a model directory (gliner_config.json + tokenizer.json +
    onnx/model.onnx) where model.onnx is a genuine protobuf built by
    tests/tiny_onnx.py, executed by the bundled numpy session inside
    OnnxScorer — local inference() AND the Spark inference_df() path
    both reproduce the Kyiv golden from the export dir alone."""
    import json
    import os
    import shutil

    from tiny_onnx import build_tiny_gliner_model

    d = tmp_path / "export"
    os.makedirs(d / "onnx")
    build_tiny_gliner_model(
        str(d / "onnx" / "model.onnx"),
        word_entries={9: (0, 0.9), 17: (1, 0.9)},  # kyiv, ukraine (WP ids)
        label_ids={22: 0, 23: 1},                  # city, country
        ent_token_id=30,
        vocab_size=32,
    )
    shutil.copy(
        os.path.join(os.path.dirname(__file__), "fixtures",
                     "wordpiece_tokenizer.json"),
        d / "tokenizer.json",
    )
    with open(d / "gliner_config.json", "w") as f:
        json.dump({"max_width": 12, "max_len": 512, "span_mode": "span"}, f)

    model = GlinerModel.from_pretrained(str(d))
    out = model.inference(
        ["Kyiv is the capital of Ukraine."], ["city", "country"]
    )
    assert [(s[0], s[1], s[2], s[3], round(s[4], 4)) for s in out[0]] == [
        (0, 4, "Kyiv", "city", 0.9),
        (23, 30, "Ukraine", "country", 0.9),
    ]

    docs = spark.createDataFrame(
        [("a", "Kyiv is the capital of Ukraine."), ("b", "hello world")],
        "doc_id string, text string",
    )
    rows = sorted(
        tuple(r)
        for r in model.inference_df(
            docs, ["city", "country"], id_col="doc_id"
        ).collect()
    )
    assert rows == [
        ("a", 0, 4, "Kyiv", "city", 0.9),
        ("a", 23, 30, "Ukraine", "country", 0.9),
    ]


def test_session_page_size_follows_heap(spark):
    """The unsafe page is heap / 8192 as a power of two, clamped to
    64 KiB–64 MiB, and the built session carries it."""
    from gliner_spark.session import _page_size

    assert [_page_size(m) for m in ("2g", "8G", "16gb", "4096", "512m",
                                    "100m", "1t")] == [
        "256k", "1024k", "2048k", "512k", "64k", "64k", "65536k"]
    mem = spark.sparkContext.getConf().get("spark.driver.memory")
    assert (spark.sparkContext.getConf().get("spark.buffer.pageSize")
            == _page_size(mem))
