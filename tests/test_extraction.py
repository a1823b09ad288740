"""Encoding cascade + HTML extraction + routing tests.

Encoding cases mirror the reference's own unit tests
(/root/reference/tests/processor_test.py:145-189) — same inputs, same
expected winning encodings.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from cmoncrawl_spark.extraction import html as H
from cmoncrawl_spark.extraction.encoding import decode_cascade, http_charset

HTML = "<html><body><p>test</p></body></html>".encode("latin-1")
NON_UTF8 = bytes([0x81, 0x81, 0x82, 0x83])


def test_cascade_default_utf8():
    text, enc = decode_cascade(HTML)
    assert enc == "utf-8"
    assert "test" in text


def test_cascade_record_encoding_priority():
    text, enc = decode_cascade(HTML, record_encoding="latin-1")
    assert enc == "latin-1"


def test_cascade_forced_overrides_record():
    _, enc = decode_cascade(HTML, forced_encoding="utf-8", record_encoding="latin-1")
    assert enc == "utf-8"


def test_cascade_fallback_latin1():
    text, enc = decode_cascade(NON_UTF8)
    assert enc == "latin-1"
    assert text == "\x81\x81\x82\x83"


def test_cascade_raise_on_encoding():
    with pytest.raises(ValueError):
        decode_cascade(NON_UTF8, raise_on_encoding=True)


def test_cascade_crlf_normalized():
    text, enc = decode_cascade(b"a\r\nb")
    assert text == "a\nb"


def test_cascade_http_charset():
    _, enc = decode_cascade(HTML, content_type="text/html; charset=latin-1")
    assert enc == "latin-1"
    assert http_charset("text/html") is None
    assert http_charset(None) is None


def test_cascade_unknown_encoding_skipped():
    _, enc = decode_cascade(HTML, record_encoding="not-a-codec")
    assert enc == "utf-8"


def test_html_title_and_body():
    dom = H.parse("<html><head><title>T1</title></head><body><p>a</p><p>b</p></body></html>")
    assert H.title_of(dom) == "T1"
    assert H.body_text(dom) == "ab"


def test_html_no_title():
    dom = H.parse("garbage no tags")
    assert H.title_of(dom) is None
    assert H.body_text(dom) == "garbage no tags"


#: the tracked tags weigh more, so most documents open and close them
_TAGS = [
    "title", "body", "title", "body", "TITLE", "Body", "html", "head",
    "p", "b", "div", "script", "style", "textarea", "br", "img", "meta",
]
_TEXT = [
    "a", " b ", "\n", "x y", "&amp;", "&lt;p&gt;", "&#65;", "&#x42;",
    "&nbsp;", "&bogus;", "&", "<", ">", "T1", "  ",
]
_MARKUP = st.one_of(
    st.sampled_from(_TAGS).map(lambda t: f"<{t}>"),
    st.sampled_from(_TAGS).map(lambda t: f'<{t} class="c" id=i>'),
    st.sampled_from(_TAGS).map(lambda t: f"</{t}>"),
    st.sampled_from(_TAGS).map(lambda t: f"<{t}/>"),
    st.sampled_from(_TEXT),
    st.sampled_from(
        ["<!-- c -->", "<!-- <title>x</title> -->", "<!DOCTYPE html>",
         "<?pi x?>", "<![CDATA[z]]>", "</html>", "</ body>", "<p", "</"]
    ),
)


@settings(max_examples=1000, deadline=None)
@given(
    st.one_of(
        st.lists(_MARKUP, max_size=30).map("".join),
        st.text(alphabet="<>/!-&;# abtilebodyp=\"'\n", max_size=60),
    )
)
def test_page_text_equals_tree(markup):
    """page_text reads the first title and the first body exactly as
    the tree does: nested and unbalanced tags, void and self-closing
    tags, upper-case names, entities, comments, script and style,
    several title or body elements, no body, text after </html>."""
    dom = H.parse(markup)
    assert H.page_text(markup) == (H.title_of(dom), H.body_text(dom))


@pytest.mark.parametrize(
    "markup, want",
    [
        ("<title/>x<body>b</body>", ("", "b")),
        ("<title>a<b>c</title>d</b>e", ("ac", "acde")),
        ("<body><title>t<p>u</body>v<body>w", ("tu", "tu")),
        ("<html><body>a</html>b", (None, "a")),
        ("<TITLE>A &amp; B</TITLE><script>x<title>y</title></script>", ("A & B", "A & Bx<title>y</title>")),
        ("<title>1</title><title>2</title>", ("1", "12")),
        ("<br><title>x</br>y</title>z", ("xy", "xyz")),
        ("<body><p>a<title>t</p>u</title>b</body>c", ("t", "atub")),
    ],
)
def test_page_text_cases(markup, want):
    dom = H.parse(markup)
    assert H.page_text(markup) == want == (H.title_of(dom), H.body_text(dom))


def test_html_select():
    dom = H.parse(
        '<div class="x"><span id="s">hi</span></div><p class="x y">t</p>'
    )
    assert len(H.select(dom, ".x")) == 2
    assert H.select(dom, "#s")[0].text() == "hi"
    assert H.select(dom, "div span")[0].text() == "hi"
    assert H.select(dom, "p.y")[0].text() == "t"
    assert H.select(dom, "nope") == []


def test_config_extractor_filters():
    from cmoncrawl_spark.extraction.extractor import (
        ConfigExtractor,
        CssField,
        PageMeta,
    )

    ex = ConfigExtractor(
        fields={"t": CssField("title")},
        must_exist=["body"],
        must_not_exist=[".paywall"],
    )
    ok = "<html><head><title>x</title></head><body>y</body></html>".encode()
    assert ex.extract_one(ok, PageMeta()) == {"t": "x"}
    nobody = "<html><head><title>x</title></head></html>".encode()
    assert ex.extract_one(nobody, PageMeta()) is None
    paywalled = (
        '<html><head><title>x</title></head><body><div class="paywall"/>'
        "</body></html>"
    ).encode()
    assert ex.extract_one(paywalled, PageMeta()) is None


def test_apply_extractor_spark(spark, sf_dir):
    from pyspark.sql import functions as F

    from cmoncrawl_spark.datagen import pages_with_html
    from cmoncrawl_spark.extraction.extractor import (
        PageTextExtractor,
        apply_extractor,
    )

    df = pages_with_html(spark, sf_dir).limit(50)
    out = apply_extractor(
        df, PageTextExtractor(), passthrough=["doc_id"],
        record_encoding_col="record_encoding",
    )
    rows = out.collect()
    assert len(rows) == 50
    for r in rows:
        if r["doc_id"] % 101 == 0:
            assert r["title"] is None
        else:
            assert r["title"] == f"Doc {r['doc_id']}"


def test_apply_extractor_typed_fields(spark):
    """Declared non-string fields leave the stage as their Spark
    types; dropped rows take their passthrough values with them."""
    from cmoncrawl_spark.extraction.extractor import (
        SparkExtractor,
        apply_extractor,
    )

    class Counts(SparkExtractor):
        schema = "n int, tags array<string>"

        def extract_dom(self, dom, meta):
            tags = [n.tag for n in dom.iter() if n.tag != "[document]"]
            if not tags:
                return None
            return {"n": len(tags), "tags": tags if tags[0] != "br" else None}

    df = spark.createDataFrame(
        [
            (1, {"k": "v"}, b"<p><b>x</b></p>"),
            (2, None, b"no markup"),
            (3, {}, b"<br><i>y</i>"),
            (4, {"a": None}, None),
        ],
        "id long, info map<string,string>, html binary",
    )
    out = apply_extractor(df, Counts(), passthrough=["id", "info"], url_col=None)
    assert out.schema.simpleString() == (
        "struct<id:bigint,info:map<string,string>,n:int,tags:array<string>>"
    )
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, {"k": "v"}, 2, ["p", "b"]),
        (3, {}, 2, None),
    ]


def test_routing_first_match_wins(spark):
    from datetime import datetime

    from cmoncrawl_spark.operators.routing import Route, route_records

    df = spark.createDataFrame(
        [
            ("https://a.example.com/x", datetime(2022, 6, 1)),
            ("https://b.other.org/y", datetime(2022, 6, 1)),
            ("https://a.example.com/x", datetime(2019, 1, 1)),
        ],
        ["url", "warc_ts"],
    )
    routes = [
        Route("A", [r"example\.com"], since=datetime(2020, 1, 1)),
        Route("B", [r"\.org"]),
        Route("C", [r"example\.com"]),  # shadowed by A within interval
    ]
    got = {
        (r["url"], str(r["warc_ts"])): r["route"]
        for r in route_records(df, routes, no_match="NONE").collect()
    }
    assert got[("https://a.example.com/x", "2022-06-01 00:00:00")] == "A"
    assert got[("https://b.other.org/y", "2022-06-01 00:00:00")] == "B"
    # outside A's interval the later registration C catches it
    assert got[("https://a.example.com/x", "2019-01-01 00:00:00")] == "C"


def test_check_required_semantics():
    """F11 parity with reference utils.py:223-272."""
    from cmoncrawl_spark.extraction.extractor import check_required

    v = check_required({"a": True, "b": False})
    assert v({"a": 1, "b": None}) is True          # b may be None
    assert v({"a": None, "b": 1}) is False         # a must have a value
    assert v({"b": 1}) is False                    # a missing entirely
    assert v({"a": "", "b": None}) is True         # empty ok w/o non_empty
    ve = check_required({"a": True}, non_empty=True)
    assert ve({"a": ""}) is False
    assert ve({"a": []}) is False
    assert ve({"a": "x"}) is True
    assert ve({"a": [1]}) is True


def test_allowed_domain_prefixes_both_paths(spark):
    """F10: the native Column predicate and apply_extractor's
    prefilter keep the same rows (reference extractor.py:313-318
    splits the raw netloc, userinfo and port included); a URL
    ``java.net.URI`` rejects is judged, not a job failure."""
    from urllib.parse import urlsplit

    from pyspark.sql import functions as F

    from cmoncrawl_spark.extraction.extractor import (
        ConfigExtractor,
        CssField,
        apply_extractor,
        domain_prefix_allowed,
    )

    urls = [
        "https://news.site.com/a",
        "https://www.news.site.com/a",
        "https://blog.site.com/a",
        "https://ads.site.com/a",
        "https://user@news.site.com/a",
        "http://news.site.com/a b",
        "https://news:8080/a",
        "https://www.site.com:8080/a?b#c",
        "//news.site.com/a",
    ]
    df = spark.createDataFrame(
        [(u, b"<html><head><title>t</title></head></html>") for u in urls],
        "url string, html binary",
    )
    keep = {"news", "www"}
    got = {
        r["url"]
        for r in df.where(
            domain_prefix_allowed(F.col("url"), sorted(keep))
        ).collect()
    }
    assert got == {u for u in urls if urlsplit(u).netloc.split(".")[0] in keep}
    assert "http://news.site.com/a b" in got
    assert "https://user@news.site.com/a" not in got
    assert "//news.site.com/a" in got  # scheme-relative: netloc news.site.com

    ex = ConfigExtractor(
        fields={"t": CssField("title")},
        allowed_domain_prefixes=sorted(keep),
    )
    # Spark path: prefilter hoisted before the UDF
    out = apply_extractor(df, ex, passthrough=["url"])
    assert {r["url"] for r in out.collect()} == got


def test_css_attribute_selectors():
    from cmoncrawl_spark.extraction import html as H

    doc = H.parse(
        '<html><head>'
        '<meta property="og:url" content="https://x.com/">'
        '<meta name="viewport" content="width=device-width">'
        '<link rel="home" href="/h">'
        '<link title="My RSS feed" href="/rss">'
        '</head><body>'
        '<div class="a b" data-k="v1 v2">hit</div>'
        '<div class="a">miss</div>'
        '</body></html>'
    )
    sel = lambda s: H.select(doc, s)
    assert len(sel("meta[property='og:url']")) == 1
    assert sel("meta[property='og:url']")[0].attrs["content"] == "https://x.com/"
    assert len(sel('meta[property="og:url"]')) == 1
    assert len(sel("meta[property=og:url]")) == 1
    assert len(sel("[property]")) == 1
    assert len(sel("link[title*='RSS']")) == 1
    assert len(sel("link[href^='/r']")) == 1
    assert len(sel("link[href$='ss']")) == 1
    assert len(sel("div[data-k~='v2']")) == 1
    assert sel("div[data-k~='v2']")[0].text() == "hit"
    assert len(sel("div.a[data-k]")) == 1
    assert len(sel("meta[property='nope']")) == 0
    # descendant combinator still works with brackets present
    assert len(sel("head meta[property='og:url']")) == 1
    # space INSIDE quoted attribute value doesn't split the selector
    doc2 = H.parse('<i data-x="a b">t</i>')
    assert len(H.select(doc2, "i[data-x='a b']")) == 1


def test_config_extractor_scoped_fields_and_merge(spark):
    """PageExtractor parity: head-scoped og:title preferred, article
    h1 fallback (combine_dicts first-non-None), transforms applied."""
    from cmoncrawl_spark.extraction.extractor import (
        ConfigExtractor,
        CssField,
        PageMeta,
    )

    ex = ConfigExtractor(
        fields={
            "title": [
                CssField(
                    "meta[property='og:title']", attr="content", scope="head"
                ),
                CssField("h1", scope="div.article"),
            ],
            "body": CssField(
                "p", scope="div.article", transform=lambda s: s.strip().upper()
            ),
        },
        must_exist=["div.article"],
    )
    with_og = (
        b"<html><head><meta property='og:title' content='OG Title'></head>"
        b"<body><div class='article'><h1>H1 Title</h1><p> text </p></div>"
        b"</body></html>"
    )
    res = ex.extract_one(with_og, PageMeta(record_encoding="UTF-8"))
    assert res == {"title": "OG Title", "body": "TEXT"}

    no_og = (
        b"<html><head></head><body><div class='article'>"
        b"<h1>H1 Title</h1><p>x</p></div></body></html>"
    )
    res2 = ex.extract_one(no_og, PageMeta(record_encoding="UTF-8"))
    assert res2["title"] == "H1 Title"

    # must_exist drops pages without the article scope
    bare = b"<html><body><p>x</p></body></html>"
    assert ex.extract_one(bare, PageMeta(record_encoding="UTF-8")) is None
