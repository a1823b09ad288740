"""Scalar function library, DAO range reads and retries."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def test_scalar_functions(spark):
    from cmoncrawl_spark.functions import scalars as S

    df = spark.createDataFrame(
        [("CC-MAIN-2022-05", "2022-01-02 03:04:05", "https://a.cz/x/y")],
        ["crawl", "ts", "url"],
    ).withColumn("ts", F.to_timestamp("ts"))
    r = df.select(
        S.crawl_to_year(F.col("crawl")).alias("year"),
        S.from_compact_timestamp(F.lit("20220102030405")).alias("rt"),
        S.to_sql_date(F.col("ts")).alias("sqldate"),
        S.cache_key(F.lit("f.warc.gz"), F.lit(100), F.lit(200)).alias("ck"),
        S.name_mangle(F.col("url")).alias("mangled"),
    ).first()
    assert r["year"] == 2022
    assert str(r["rt"]) == "2022-01-02 03:04:05"
    assert r["sqldate"] == "2022-01-02 03:04:05"
    import hashlib

    assert r["ck"] == hashlib.sha256(b"f.warc.gz|100|200").hexdigest() + ".bin"
    assert r["mangled"] == "https:__a.cz_x_y"
    other = spark.createDataFrame(
        [("CC-NEWS-2023-01",), ("",), (None,)], "crawl string"
    ).select(S.crawl_to_year(F.col("crawl")).alias("year"))
    assert [r["year"] for r in other.collect()] == [None, None, None]


def test_index_query_window_skips_crawl_without_year(spark):
    """A crawl not named CC-MAIN-<year>-.. falls outside a since/to
    window instead of failing the query."""
    from datetime import datetime

    from cmoncrawl_spark.operators.ccindex import index_query

    t = datetime(2023, 1, 15)
    ccindex = spark.createDataFrame(
        [
            ("https://a.cz/", t, "CC-MAIN-2023-06", "a.warc.gz", 0, 10),
            ("https://b.cz/", t, "CC-NEWS-2023-01", "b.warc.gz", 5, 20),
        ],
        "url string, fetch_time timestamp, crawl string, warc_filename string, "
        "warc_record_offset long, warc_record_length long",
    ).selectExpr("*", "200 AS fetch_status", "'warc' AS subset")
    for since, to in ((datetime(2023, 1, 1), None), (None, datetime(2023, 12, 31))):
        got = index_query(ccindex, [], since=since, to=to).collect()
        assert [r["url"] for r in got] == ["https://a.cz/"]
    assert index_query(ccindex, []).count() == 2


def test_parse_timestamp_col_iso_union(spark):
    """X6 differential vs the reference's datetime.fromisoformat union
    (common/types.py:11-21): the declared TimestampType of
    `JSONL_SCHEMA.domain_record.timestamp` is the one parsing rule."""
    import json
    from datetime import datetime

    from cmoncrawl_spark.sources.jsonl import JSONL_SCHEMA

    cases = [
        "2023-03-21 21:19:02",
        "2023-03-21T21:19:02",
        "2021-01-01",
        "2023-03-21 21:19:02.123456",
        "2023-03-21T21:19:02.123456",
        None,
        "not a time",
    ]
    lines = [json.dumps({"domain_record": {"timestamp": c}}) for c in cases]
    df = spark.createDataFrame([(c, j) for c, j in zip(cases, lines)], "s string, j string")
    got = {r["s"]: r["ts"] for r in df.select(
        "s", F.from_json("j", JSONL_SCHEMA)["domain_record"]["timestamp"].alias("ts")
    ).collect()}
    for c in cases:
        if c is None or c == "not a time":
            assert got.get(c) is None
            continue
        want = datetime.fromisoformat(c)
        assert got[c] == want, f"{c}: {got[c]} != {want}"


def test_local_dao_range_and_cache(tmp_path):
    from cmoncrawl_spark.sources.dao import LocalFileDAO

    f = tmp_path / "arc.bin"
    f.write_bytes(bytes(range(256)))
    dao = LocalFileDAO(str(tmp_path))
    assert dao.fetch("arc.bin", 10, 5) == bytes([10, 11, 12, 13, 14])
    assert dao.fetch("arc.bin", 250, 10) == bytes([250, 251, 252, 253, 254, 255])


def test_retrying_dao_backoff():
    from cmoncrawl_spark.sources.dao import RetryingDAO

    class Flaky:
        def __init__(self, fail_times):
            self.n = fail_times

        def fetch(self, f, o, l):
            if self.n > 0:
                self.n -= 1
                raise OSError("retryable HTTP 503")
            return b"ok"

    sleeps = []
    dao = RetryingDAO(Flaky(2), _sleep=sleeps.append)
    assert dao.fetch("f", 0, 1) == b"ok"
    assert dao.attempts == 3
    assert sleeps == [5.0, 6.5]  # 5 * 1.3^0, 5 * 1.3^1

    dao2 = RetryingDAO(Flaky(10), _sleep=lambda s: None)
    with pytest.raises(OSError):
        dao2.fetch("f", 0, 1)
    assert dao2.attempts == 4  # MAX_RETRY = 3 retries after the first


def test_fetch_ranges_spark(spark, tmp_path):
    """Each range's bytes appended as ``content``; map and timestamp
    columns leave the stage equal to what went in; a range past EOF
    reads short and one at EOF reads empty."""
    from datetime import datetime

    from cmoncrawl_spark.sources.dao import LocalFileDAO, fetch_ranges

    (tmp_path / "arc.bin").write_bytes(b"0123456789abcdef")
    (tmp_path / "b.bin").write_bytes(b"abc")
    records = spark.createDataFrame(
        [
            ("arc.bin", 0, 4, {"k": "v", "n": None}, datetime(2023, 5, 1, 12, 30, 1, 5)),
            ("arc.bin", 10, 3, None, None),
            ("arc.bin", 14, 100, {}, datetime(1999, 12, 31)),
            ("b.bin", 3, 4, {"x": "y"}, datetime(2024, 2, 29, 23, 59, 59)),
        ],
        "filename string, offset long, length long, "
        "info map<string,string>, timestamp timestamp",
    )
    base = str(tmp_path)
    out = fetch_ranges(records, lambda: LocalFileDAO(base))
    assert out.schema.names == records.schema.names + ["content"]
    assert out.drop("content").collect() == records.collect()
    got = {(r["filename"], r["offset"]): bytes(r["content"]) for r in out.collect()}
    assert got == {
        ("arc.bin", 0): b"0123",
        ("arc.bin", 10): b"abc",
        ("arc.bin", 14): b"ef",
        ("b.bin", 3): b"",
    }


class _RangeHandler:
    """Minimal Range-aware handler factory over an in-memory blob, with
    an optional fail-first-N-requests mode (exercises T2 retry)."""

    @staticmethod
    def make(blob: bytes, fail_first: int = 0):
        import http.server

        state = {"fails_left": fail_first}

        class H(http.server.BaseHTTPRequestHandler):
            def do_GET(self):
                if state["fails_left"] > 0:
                    state["fails_left"] -= 1
                    self.send_response(503)
                    self.end_headers()
                    return
                rng = self.headers.get("Range")
                if rng and rng.startswith("bytes="):
                    lo, hi = rng[len("bytes="):].split("-")
                    lo, hi = int(lo), int(hi)
                    data = blob[lo : hi + 1]
                    self.send_response(206)
                else:
                    data = blob
                    self.send_response(200)
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def log_message(self, *a):
                pass

        return H


def _serve(blob: bytes, fail_first: int = 0):
    import http.server
    import threading

    srv = http.server.ThreadingHTTPServer(
        ("127.0.0.1", 0), _RangeHandler.make(blob, fail_first)
    )
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, f"http://127.0.0.1:{srv.server_address[1]}"


def test_http_range_dao_real_range_reads():
    from cmoncrawl_spark.sources.dao import HTTPRangeDAO

    blob = bytes(range(256)) * 4
    srv, base = _serve(blob)
    try:
        dao = HTTPRangeDAO(base)
        assert dao.fetch("whatever.warc.gz", 10, 20) == blob[10:30]
        assert dao.fetch("x", 0, 1) == blob[0:1]
        assert dao.fetch("x", 1000, 24) == blob[1000:1024]
    finally:
        srv.shutdown()


def test_http_range_dao_retries_503_then_succeeds():
    from cmoncrawl_spark.sources.dao import HTTPRangeDAO, RetryingDAO

    blob = b"retry-me-" * 100
    srv, base = _serve(blob, fail_first=2)
    try:
        dao = RetryingDAO(HTTPRangeDAO(base), _sleep=lambda s: None)
        assert dao.fetch("f", 9, 8) == blob[9:17]
        assert dao.attempts == 3  # 2 x 503 + 1 success
    finally:
        srv.shutdown()


def test_cli_download_html_http_dao_retries_503(spark, tmp_path, ccindex_dir, warc_record):
    """`cmon download ... html --dao_base http://...` retries 5xx range
    GETs like the reference downloader (downloader.py:104-119): the
    server answers 503 twice, then 206, and the page inside the
    gzipped WARC record at the range is written. The two retries sleep
    5 s and 6.5 s (the reference backoff)."""
    from cmoncrawl_spark.cli import main
    from cmoncrawl_spark.operators.ccindex import MatchType, index_query

    r = index_query(
        spark.read.parquet(ccindex_dir), ["blog.hot-domain.com"], MatchType.HOST,
        limit=1,
    ).first()
    record, page = warc_record(r["url"], r["warc_record_length"])
    blob = bytes(r["warc_record_offset"]) + record
    srv, base = _serve(blob, fail_first=2)
    out = str(tmp_path / "html")
    try:
        main(
            [
                "download", out, "blog.hot-domain.com", "html",
                "--match_type", "host", "--limit", "1",
                "--table_dir", ccindex_dir, "--dao_base", base,
            ]
        )
    finally:
        srv.shutdown()
    (name,) = [e for e in os.listdir(out) if not e.startswith(".")]
    with open(os.path.join(out, name), encoding="utf-8") as f:
        assert f.read() == page.decode()


def test_warc_payload_dao(spark, tmp_path, warc_record):
    """One parse of each fetched range gives the response record's page
    and its HTTP Content-Type (null when absent); a range with no WARC
    record in it raises, naming the file and the offset."""
    import gzip

    from cmoncrawl_spark.sources.dao import LocalFileDAO, fetch_ranges, warc_responses
    from cmoncrawl_spark.sources.warc import response_of, write_warc_bytes

    record, page = warc_record("https://a.example/", 600)
    bare = gzip.compress(
        write_warc_bytes(
            [{"url": "https://b.example/", "http_header": {}, "content": b"<p>b</p>"}]
        ),
        mtime=0,
    )
    (tmp_path / "arc.warc.gz").write_bytes(b"junk" + record + bare)
    recs = spark.createDataFrame(
        [("arc.warc.gz", 4, 600), ("arc.warc.gz", 604, len(bare))],
        "filename string, offset long, length long",
    )
    base = str(tmp_path)
    got = warc_responses(fetch_ranges(recs, lambda: LocalFileDAO(base))).collect()
    assert sorted((r["offset"], bytes(r["html"]), r["content_type"]) for r in got) == [
        (4, page, "text/html"),
        (604, b"<p>b</p>", None),
    ]
    assert "content" not in got[0].asDict()

    # a cut-off gzip member holds no record either
    data = (tmp_path / "arc.warc.gz").read_bytes()
    with pytest.raises(ValueError, match="arc.warc.gz at offset 4"):
        response_of(data[4:104], "arc.warc.gz at offset 4")
    # in a Spark job the error names the range it came from
    junk = spark.createDataFrame(
        [("arc.warc.gz", 0, 600)], "filename string, offset long, length long"
    )
    with pytest.raises(Exception, match="arc.warc.gz at offset 0"):
        warc_responses(fetch_ranges(junk, lambda: LocalFileDAO(base))).collect()


def test_fetch_ranges_over_http(spark):
    """Full Spark path: mapInPandas range-fetch against a live local
    server — the offline stand-in for the commoncrawl S3/HTTP gateway."""
    from cmoncrawl_spark.sources.dao import HTTPRangeDAO, fetch_ranges

    blob = bytes((i * 7) % 256 for i in range(4096))
    srv, base = _serve(blob)
    try:
        recs = spark.createDataFrame(
            [("seg/a.warc.gz", 0, 16), ("seg/a.warc.gz", 100, 32),
             ("seg/b.warc.gz", 4000, 96)],
            "filename string, offset long, length long",
        )
        out = fetch_ranges(recs, lambda: HTTPRangeDAO(base)).collect()
        got = {(r["filename"], r["offset"]): bytes(r["content"]) for r in out}
        assert got[("seg/a.warc.gz", 0)] == blob[0:16]
        assert got[("seg/a.warc.gz", 100)] == blob[100:132]
        assert got[("seg/b.warc.gz", 4000)] == blob[4000:4096]
    finally:
        srv.shutdown()
