"""Real HTML→text extractor: hand-written goldens (byte-determinism),
template compatibility with the synthetic corpus, and the raw-HTML
pages loader."""

import hashlib

from pyspark.sql import functions as F

from gliner_spark.sources.html_text import (
    html_text_udf,
    html_to_text,
    pages_from_raw_html,
)
from gliner_spark.sources.pages import synthesize_pages, wrap_html


REAL_PAGE = b"""<!DOCTYPE html>
<html><head><title>skip me</title>
<style>p { color: red }</style>
<script>var x = "<p>not text</p>";</script>
</head>
<body>
  <h1>Kyiv &amp; Dnipro</h1>
  <p>Kyiv is   the capital
     of Ukraine.</p>
  <div>caf\xc3\xa9 &#233;clair<br>second line</div>
  <ul><li>one</li><li>two</li></ul>
  <template><p>hidden</p></template>
  <p>trailing</p>
</body></html>"""

REAL_TEXT = (
    "Kyiv & Dnipro\n"
    "Kyiv is the capital of Ukraine.\n"
    "café éclair\n"
    "second line\n"
    "one\n"
    "two\n"
    "trailing"
)


def test_real_html_golden_and_checksum():
    text = html_to_text(REAL_PAGE)
    assert text == REAL_TEXT
    # byte-checksum invariance (north rule: per-url byte-identical text)
    assert (
        hashlib.sha256(text.encode()).hexdigest()
        == hashlib.sha256(REAL_TEXT.encode()).hexdigest()
    )
    # determinism across calls
    assert html_to_text(REAL_PAGE) == text


def test_malformed_and_edge_html():
    # unclosed tags, stray closers, None/empty input
    assert html_to_text("<p>a<p>b") == "a\nb"
    assert html_to_text("</script>after stray closer") == \
        "after stray closer"
    assert html_to_text("") == ""
    assert html_to_text(None) == ""
    assert html_to_text("no markup at all") == "no markup at all"
    # skip-subtree nesting
    assert html_to_text(
        "<script><style>x</style>y</script><p>kept</p>"
    ) == "kept"


from hypothesis import given, settings
from hypothesis import strategies as st

_tag = st.sampled_from(["p", "div", "b", "i", "li", "span", "script",
                        "style", "br", "h1"])
_chunk = st.one_of(
    st.text(alphabet="abc &<>\n\t", max_size=12),
    _tag.map(lambda t: f"<{t}>"),
    _tag.map(lambda t: f"</{t}>"),
    st.sampled_from(["&amp;", "&#233;", "&nbsp;", "<!-- c -->",
                     "<p class='x'>"]),
)


@settings(max_examples=150, deadline=None)
@given(st.lists(_chunk, max_size=25).map("".join))
def test_html_extractor_total_and_deterministic(doc):
    """Totality + determinism on adversarial tag soup: never raises,
    same bytes every time, never leaks script/style payload markers,
    and output whitespace follows the documented policy (no leading/
    trailing blanks, no blank lines, single spaces within blocks)."""
    out1 = html_to_text(doc)
    out2 = html_to_text(doc.encode("utf-8"))
    assert out1 == out2
    if out1:  # no-content documents legitimately extract to ""
        for line in out1.split("\n"):
            assert line == " ".join(line.split()) and line != ""
    assert out1 == html_to_text(doc)


def test_template_pages_roundtrip_via_udf(spark):
    """The generic parser must agree with the Catalyst template inverse
    on the synthetic corpus (single-spaced text, no markup chars):
    html_to_text(wrap_html(t)) == t for every row."""
    pages = synthesize_pages(spark, 200)
    mismatches = pages.select(
        html_text_udf(F.col("html")).alias("got"), "text"
    ).where(~F.col("got").eqNullSafe(F.col("text")))
    assert mismatches.count() == 0


def test_html_text_udf_null_and_empty(spark):
    """NULL html extracts as "", like empty html; bytes and strings
    extract alike."""
    df = spark.createDataFrame(
        [(1, None), (2, b""), (3, b"<p>a</p><p>caf\xc3\xa9</p>")],
        "id long, html binary",
    )
    got = {r.id: r.text for r in df.select(
        "id", html_text_udf(F.col("html")).alias("text")).collect()}
    assert got == {1: "", 2: "", 3: "a\ncafé"}
    s = df.select("id", F.col("html").cast("string").alias("html"))
    assert {r.id: r.text for r in s.select(
        "id", html_text_udf(F.col("html")).alias("text")).collect()} == got


def test_raw_html_to_kg_end_to_end(spark):
    """The Common-Crawl user's path: a raw crawl table with REAL markup
    (entities, script noise, nested tags) → pages_from_raw_html →
    build_kg, producing the same nodes as the clean-text corpus — the
    parser feeds the production pipeline, not just unit asserts."""
    from gliner_spark.kernels.scorer import GOLDEN_LABELS
    from gliner_spark.plans.kg import build_kg

    def page(i, body):
        return (
            f"https://raw.example/{i}",
            "2024-05-01 00:00:00",
            bytearray(
                (
                    "<html><head><script>var x=1;</script></head><body>"
                    + body + "</body></html>"
                ).encode()
            ),
        )

    raw = spark.createDataFrame(
        [
            page(1, "<p>Kyiv is the capital of Ukraine.</p>"),
            page(2, "<div>Elon Musk visited <b>Paris</b> and Kyiv near "
                    "the Dnipro.</div>"),
            page(3, "<p>nothing relevant here</p>"),
        ],
        "url string, warc_ts string, html binary",
    )
    pages = pages_from_raw_html(raw)
    kg = build_kg(pages, GOLDEN_LABELS)
    nodes = {(r.canonical, r.label): r.n_mentions
             for r in kg.nodes.collect()}
    assert nodes[("kyiv", "city")] == 2
    assert nodes[("ukraine", "country")] == 1
    assert ("dnipro", "river") in nodes
    # the <b> split inside page 2 must not break byte offsets: "Paris"
    # is a whole-word mention in the extracted text
    m = {(r.m_text, r.label) for r in kg.mentions.collect()}
    assert ("Paris", "city") in m and ("Elon Musk", "person") in m


def test_pages_from_raw_html_shape(spark):
    raw = spark.createDataFrame(
        [("https://a.example/1", "2024-05-01 00:00:00",
          bytearray(REAL_PAGE))],
        "url string, warc_ts string, html binary",
    )
    pages = pages_from_raw_html(raw)
    assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]
    row = pages.first()
    assert row.text == REAL_TEXT and row.lang == "und"
