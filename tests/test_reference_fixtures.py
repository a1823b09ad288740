"""Byte-identity against the reference's OWN checked-in fixtures.

The input_hint invariant is "byte-identical extracted text per url vs
the reference". The reference ships the exact goldens:

- fixture files /root/reference/tests/test_extract/files/file.html and
  file.jsonl (two embedded seznam.cz WARC captures);
- the literal golden title asserted at
  /root/reference/tests/end_to_end_test.py:65-72 (RECORD mode, 5 output
  lines, golden title among them) and :93-99 (HTML mode, 1 output line,
  title == golden).

The golden is ``str(soup.title)`` — the RAW tag, not its text — so the
engine's TitleTagExtractor serializes the exact source span
(extraction/html.outer_html). These tests fail on ANY parser drift.

RECORD-mode scope note: the reference test fetches 3 of its 5 records
over the network (API/S3 DAO); this sandbox has no network, so the
pipeline here runs over file.html + the two records whose payload is
embedded in file.jsonl — all three must produce the golden byte-for-
byte, mirroring the reference's membership assertion.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from cmoncrawl_spark.extraction import html as H
from cmoncrawl_spark.extraction.extractor import (
    PageMeta,
    TitleTagExtractor,
    apply_extractor,
)

FIXTURE_DIR = "/root/reference/tests/test_extract/files"

#: the exact golden from end_to_end_test.py:65-72,93-99.
GOLDEN_TITLE = (
    '<title data-document-head-keeper="0">'
    "Seznam – najdu tam, co neznám</title>"
)

needs_fixtures = pytest.mark.skipif(
    not os.path.isdir(FIXTURE_DIR), reason="reference fixtures not present"
)


def _jsonl_payload_records() -> list[tuple[int, bytes, str | None]]:
    out = []
    with open(os.path.join(FIXTURE_DIR, "file.jsonl")) as f:
        for line in f:
            d = json.loads(line)
            html = d.get("html") or ""
            if not html:
                continue
            dr = d["domain_record"]
            out.append((dr["offset"], html.encode("utf-8"), dr.get("encoding")))
    return out


@needs_fixtures
def test_html_mode_golden_title():
    """HTML mode (end_to_end_test.py:78-99): 1 file -> 1 record whose
    title equals the golden raw tag, byte-for-byte."""
    raw = open(os.path.join(FIXTURE_DIR, "file.html"), "rb").read()
    res = TitleTagExtractor().extract_one(raw, PageMeta(record_encoding="UTF-8"))
    assert res is not None
    assert res["title"] == GOLDEN_TITLE


@needs_fixtures
def test_record_mode_golden_title_membership():
    """RECORD mode (end_to_end_test.py:43-72): every embedded-payload
    record extracts, and the golden title is among the outputs."""
    recs = _jsonl_payload_records()
    assert len(recs) == 2  # the two warc-subset captures carry payload
    titles = []
    for _, raw, enc in recs:
        res = TitleTagExtractor().extract_one(raw, PageMeta(record_encoding=enc))
        assert res is not None
        titles.append(res["title"])
    assert GOLDEN_TITLE in titles
    assert titles == [GOLDEN_TITLE, GOLDEN_TITLE]


@needs_fixtures
def test_spark_pipeline_and_jsonl_sink_golden(spark, tmp_path):
    """Full engine path: fixture files -> DataFrame -> fused
    mapInArrow extraction -> JSONL sink; the SERIALIZED line carries
    the golden title (the reference asserts on the written jsonl)."""
    from cmoncrawl_spark.sinks.jsonl import write_jsonl

    rows = [(0, open(os.path.join(FIXTURE_DIR, "file.html"), "rb").read(), "UTF-8")]
    rows += [(o, raw, enc) for o, raw, enc in _jsonl_payload_records()]
    df = spark.createDataFrame(
        rows, "rec_id long, html binary, record_encoding string"
    )
    out = apply_extractor(
        df,
        TitleTagExtractor(),
        passthrough=["rec_id"],
        record_encoding_col="record_encoding",
        url_col=None,
    )
    collected = {r["rec_id"]: r["title"] for r in out.collect()}
    assert len(collected) == 3
    assert set(collected.values()) == {GOLDEN_TITLE}

    sink_dir = str(tmp_path / "out")
    write_jsonl(out, sink_dir)
    lines = []
    for root, _, files in os.walk(sink_dir):
        for name in files:
            if name.endswith(".json") or name.endswith(".jsonl") or name.startswith("part-"):
                with open(os.path.join(root, name)) as f:
                    lines += [l for l in f.read().splitlines() if l.strip()]
    assert len(lines) == 3
    parsed_titles = [json.loads(l)["title"] for l in lines]
    assert parsed_titles == [GOLDEN_TITLE] * 3


def test_outer_html_nested_and_unclosed():
    """outer_html is the exact source span; unclosed tags run to EOF."""
    src = '<div id="a"><div class="b">x</div>y</div><p>tail'
    root = H.parse(src)
    outer = H.outer_html(root.children[0], root)
    assert outer == '<div id="a"><div class="b">x</div>y</div>'
    inner = H.outer_html(root.children[0].children[0], root)
    assert inner == '<div class="b">x</div>'
    p = root.children[1]
    assert H.outer_html(p, root) == "<p>tail"


def test_url_inference_patterns(spark):
    """S7: all four reference inference patterns (downloader.py:303-329)
    in priority order, attribute-order independent."""
    from cmoncrawl_spark.sources.jsonl import infer_url_col

    cases = [
        # og:url wins over everything; content before property also works
        (
            '<meta content="https://og.example/" property="og:url">'
            '<link rel="home" href="https://home.example/">',
            "https://og.example/",
        ),
        ('<link href="https://home.example/" rel="home">', "https://home.example/"),
        (
            '<link title="My RSS feed" href="https://rss.example/feed">',
            "https://rss.example/feed",
        ),
        (
            '<link media="only handheld" href="https://m.example/">',
            "https://m.example/",
        ),
        ("<html><body>nothing</body></html>", None),
    ]
    df = spark.createDataFrame(
        [(i, html) for i, (html, _) in enumerate(cases)], "i int, text string"
    )
    got = {
        r["i"]: r["url"]
        for r in df.select("i", infer_url_col(F.col("text")).alias("url")).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, f"case {i}: {got[i]!r} != {want!r}"


MINI_WARC = "/root/reference/tests/files/mini.warc.gz"


@pytest.mark.skipif(
    not os.path.exists(MINI_WARC), reason="reference mini.warc.gz absent"
)
def test_mini_warc_matches_reference_goldens():
    """The reference's own WARC fixture (processor_test.py:104-112
    asserts 3 records, [0] warcinfo, [2] response) through the
    engine's WARC parser."""
    from cmoncrawl_spark.sources.warc import parse_warc_bytes

    recs = parse_warc_bytes(open(MINI_WARC, "rb").read())
    assert len(recs) == 3
    assert recs[0]["rec_type"] == "warcinfo"
    assert recs[2]["rec_type"] == "response"
    # stronger than the reference: the response carries a parsed HTTP
    # layer and a real payload
    assert recs[2]["http_header"]["http_response_code"] == "200"
    assert recs[2]["url"] == "http://018hs.com/demo87/alzs.html"
    assert len(recs[2]["content"]) == 17978
    assert [r["rec_type"] for r in recs] == ["warcinfo", "request", "response"]
