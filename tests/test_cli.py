"""CLI end-to-end — the `cmon` UX mirrored over the Spark engine.

Replays the reference's own end-to-end scenarios
(/root/reference/tests/end_to_end_test.py) against our CLI: extract
from file.html (HTML mode) and from file.jsonl's embedded captures
(record mode) must emit the golden title; download (record mode) must
emit sorted-keys {"domain_record": {...}} lines."""

from __future__ import annotations

import json
import logging
import os

import pytest

from cmoncrawl_spark.cli import main

FIXTURE_DIR = "/root/reference/tests/test_extract/files"
GOLDEN_TITLE = (
    '<title data-document-head-keeper="0">'
    "Seznam – najdu tam, co neznám</title>"
)

needs_fixtures = pytest.mark.skipif(
    not os.path.isdir(FIXTURE_DIR), reason="reference fixtures not present"
)


def _read_jsonl_dir(path: str) -> list[dict]:
    rows = []
    for root, _d, files in os.walk(path):
        for name in files:
            if name.startswith("part-") and not name.endswith(".crc"):
                with open(os.path.join(root, name)) as f:
                    rows += [json.loads(l) for l in f if l.strip()]
    return rows


@pytest.fixture()
def plugin_cfg(tmp_path):
    exdir = tmp_path / "extractors"
    exdir.mkdir()
    (exdir / "title_raw.py").write_text(
        "from cmoncrawl_spark.extraction.extractor import TitleTagExtractor\n"
        "NAME = 'title_raw'\n"
        "extractor = TitleTagExtractor()\n"
    )
    cfg = tmp_path / "cfg.json"
    cfg.write_text(
        json.dumps(
            {
                "extractors_path": str(exdir),
                "routes": [
                    {
                        "regexes": [".*"],
                        "extractors": [
                            {"name": "title_raw", "since": "2009-01-01T00:00:00"}
                        ],
                    }
                ],
            }
        )
    )
    return str(cfg)


@needs_fixtures
def test_cli_extract_html_mode(spark, plugin_cfg, tmp_path):
    out = str(tmp_path / "out_html")
    main(
        [
            "extract", plugin_cfg, out,
            os.path.join(FIXTURE_DIR, "file.html"), "html",
        ]
    )
    rows = _read_jsonl_dir(out)
    assert len(rows) == 1
    assert rows[0]["title"] == GOLDEN_TITLE


@needs_fixtures
def test_cli_extract_record_mode(spark, plugin_cfg, tmp_path):
    out = str(tmp_path / "out_rec")
    main(
        [
            "extract", plugin_cfg, out,
            os.path.join(FIXTURE_DIR, "file.jsonl"), "record",
        ]
    )
    rows = _read_jsonl_dir(out)
    titles = [r["title"] for r in rows]
    assert len(rows) == 2  # the two embedded-payload captures
    assert GOLDEN_TITLE in titles


def test_cli_download_record_mode(spark, tmp_path, ccindex_dir):
    out = str(tmp_path / "out_dl")
    # the index is a table or the live gateway: one must be named
    with pytest.raises(SystemExit):
        main(["download", out, "hot-domain.com", "record"])
    main(
        [
            "download", out, "hot-domain.com", "record",
            "--match_type", "domain", "--limit", "7",
            "--table_dir", ccindex_dir,
        ]
    )
    rows = _read_jsonl_dir(out)
    assert len(rows) == 7
    for r in rows:
        dr = r["domain_record"]
        # reference JSONL contract: sorted keys, filename/offset/length
        assert list(r.keys()) == ["domain_record"]
        assert "filename" in dr and "offset" in dr and "length" in dr
        assert "hot-domain.com" in dr["url"]


def _stage_archives(base, rows, warc_record) -> dict[str, bytes]:
    """Write a gzipped WARC record at every row's (warc_filename,
    warc_record_offset, warc_record_length) under ``base``; returns
    url -> the page each record carries."""
    pages = {}
    by_file: dict[str, list] = {}
    for r in rows:
        by_file.setdefault(r["warc_filename"], []).append(r)
    for name, recs in by_file.items():
        p = base / name
        p.parent.mkdir(parents=True, exist_ok=True)
        size = max(r["warc_record_offset"] + r["warc_record_length"] for r in recs)
        blob = bytearray(size)
        for r in recs:
            record, pages[r["url"]] = warc_record(r["url"], r["warc_record_length"])
            blob[r["warc_record_offset"] : r["warc_record_offset"] + len(record)] = record
        p.write_bytes(bytes(blob))
    return pages


def test_cli_download_html_mode_local_dao(spark, tmp_path, ccindex_dir, warc_record):
    """html download through the LocalFileDAO: each index row's range
    holds a gzipped WARC record, and the page inside it is what gets
    written, not the record."""
    from cmoncrawl_spark.operators.ccindex import MatchType, index_query

    rows = index_query(
        spark.read.parquet(ccindex_dir), ["blog.hot-domain.com"], MatchType.HOST
    ).collect()
    base = tmp_path / "archives"
    pages = _stage_archives(base, rows, warc_record)
    out = str(tmp_path / "out_html_dl")
    main(
        [
            "download", out, "blog.hot-domain.com", "html",
            "--match_type", "host", "--limit", "3",
            "--table_dir", ccindex_dir, "--dao_base", str(base),
        ]
    )
    # one html FILE per record (url-mangled name.html), written
    # directly under the output dir — no partition directories
    # (reference streamer.py:215-229 layout)
    entries = [e for e in os.listdir(out) if not e.startswith(".")]
    assert 1 <= len(entries) <= 3
    assert all(e.endswith(".html") for e in entries)
    assert not any(os.path.isdir(os.path.join(out, e)) for e in entries)
    # host match includes www. variants (reference HOST semantics)
    assert all("blog.hot-domain.com" in e for e in entries)
    written = set()
    for e in entries:
        with open(os.path.join(out, e), encoding="utf-8") as f:
            written.add(f.read())
    assert written <= {p.decode() for p in pages.values()}


def test_cli_extract_record_mode_dao_base(spark, plugin_cfg, tmp_path, warc_record):
    """record extract with --dao_base range-reads each domain record's
    gzipped WARC record and extracts from the page inside it."""
    url = "https://news.example.com/a"
    record, _page = warc_record(url, 900)
    base = tmp_path / "archives"
    (base / "seg").mkdir(parents=True)
    (base / "seg" / "a.warc.gz").write_bytes(b"\0" * 100 + record + b"\0" * 50)
    records = tmp_path / "records.jsonl"
    records.write_text(
        json.dumps(
            {
                "domain_record": {
                    "url": url,
                    "filename": "seg/a.warc.gz",
                    "offset": 100,
                    "length": len(record),
                    "timestamp": "2023-01-01T00:00:00",
                }
            }
        )
        + "\n"
    )
    out = str(tmp_path / "out_rec_dao")
    main(
        [
            "extract", plugin_cfg, out, str(records), "record",
            "--dao_base", str(base),
        ]
    )
    rows = _read_jsonl_dir(out)
    assert [r["title"] for r in rows] == [f"<title>{url}</title>"]
    assert rows[0]["url"] == url


def test_cli_extract_record_mode_routes_before_fetch(spark, plugin_cfg, tmp_path, warc_record):
    """record extract keeps only the records its one route takes: the
    url must match the route's regexes and the crawl time must fall in
    the extractor's since/to window (a null time falls outside it).
    The other records are dropped before the fetch, so their archive
    files, which do not exist, are never read."""
    cfg = json.loads(open(plugin_cfg).read())
    cfg["routes"][0]["regexes"] = [r"^https://news\.example\.com/"]
    cfg["routes"][0]["extractors"][0].update(
        since="2020-01-01T00:00:00", to="2024-01-01T00:00:00"
    )
    routed_cfg = tmp_path / "routed.json"
    routed_cfg.write_text(json.dumps(cfg))

    url = "https://news.example.com/a"
    record, _page = warc_record(url, 900)
    base = tmp_path / "archives"
    base.mkdir()
    (base / "a.warc.gz").write_bytes(record)
    recs = [
        (url, "a.warc.gz", "2023-01-01T00:00:00"),
        ("https://shop.example.com/b", "missing-b.warc.gz", "2023-01-01T00:00:00"),
        ("https://news.example.com/c", "missing-c.warc.gz", "2019-06-01T00:00:00"),
        ("https://news.example.com/d", "missing-d.warc.gz", None),
    ]
    records = tmp_path / "records.jsonl"
    records.write_text(
        "".join(
            json.dumps(
                {
                    "domain_record": {
                        "url": u,
                        "filename": f,
                        "offset": 0,
                        "length": len(record),
                        "timestamp": ts,
                    }
                }
            )
            + "\n"
            for u, f, ts in recs
        )
    )
    out = str(tmp_path / "out_routed")
    main(["extract", str(routed_cfg), out, str(records), "record", "--dao_base", str(base)])
    rows = _read_jsonl_dir(out)
    assert [(r["url"], r["title"]) for r in rows] == [(url, f"<title>{url}</title>")]


def test_cli_extract_record_mode_dao_base_http_charset(spark, plugin_cfg, tmp_path):
    """The charset of the WARC response's HTTP Content-Type (header
    name in any case) decodes the page when the domain record names no
    encoding, as the reference's cascade does (extractor.py:100-103):
    title bytes c3 a9 served as iso-8859-1 are 'Ã©', not utf-8 'é'."""
    import gzip

    from cmoncrawl_spark.sources.warc import write_warc_bytes

    url = "https://latin.example.com/a"
    page = b"<html><head><title>\xc3\xa9</title></head><body>x</body></html>"
    http = {"http_response_code": "200", "content-type": "text/html; charset=iso-8859-1"}
    record = gzip.compress(
        write_warc_bytes([{"url": url, "http_header": http, "content": page}]), mtime=0
    )
    base = tmp_path / "archives"
    base.mkdir()
    (base / "a.warc.gz").write_bytes(record)
    records = tmp_path / "records.jsonl"
    records.write_text(
        json.dumps(
            {
                "domain_record": {
                    "url": url,
                    "filename": "a.warc.gz",
                    "offset": 0,
                    "length": len(record),
                    "timestamp": "2023-01-01T00:00:00",
                }
            }
        )
        + "\n"
    )
    out = str(tmp_path / "out_charset")
    main(["extract", plugin_cfg, out, str(records), "record", "--dao_base", str(base)])
    assert [r["title"] for r in _read_jsonl_dir(out)] == ["<title>\u00c3\u00a9</title>"]


def test_cli_extract_refuses_second_route_or_extractor(tmp_path):
    """The CLI applies one extractor to every row, so a config with a
    second route, or a route with a second extractor, is refused with
    the extra entries named instead of being silently ignored."""
    two_routes = {
        "routes": [
            {"regexes": [".*news.*"], "extractors": [{"name": "title_raw"}]},
            {"regexes": [".*"], "extractors": [{"name": "catch_all"}]},
        ]
    }
    two_extractors = {
        "routes": [
            {
                "regexes": [".*"],
                "extractors": [{"name": "title_raw"}, {"name": "second_one"}],
            }
        ]
    }
    for cfg, extra in ((two_routes, "catch_all"), (two_extractors, "second_one")):
        path = tmp_path / "cfg.json"
        path.write_text(json.dumps(cfg))
        with pytest.raises(ValueError, match=extra):
            main(["extract", str(path), str(tmp_path / "out"), "x.html", "html"])


@pytest.mark.parametrize(
    "verbosity, level",
    [("0", logging.WARNING), ("1", logging.INFO), ("2", logging.DEBUG)],
)
def test_cli_verbosity_sets_package_log_level(tmp_path, verbosity, level):
    logger = logging.getLogger("cmoncrawl_spark")
    old = logger.level
    try:
        # download without an index source exits after the level is set
        with pytest.raises(SystemExit):
            main(["-v", verbosity, "download", str(tmp_path), "x.com", "record"])
        assert logger.level == level
    finally:
        logger.setLevel(old)


def test_cli_extract_has_no_date_flag(tmp_path, capsys):
    """Html mode routes nothing and record mode routes on each record's
    own crawl time, so ``--date`` is a usage error, not a flag that is
    parsed and ignored."""
    with pytest.raises(SystemExit) as exit_:
        main(
            [
                "extract", str(tmp_path / "cfg.json"), str(tmp_path / "out"),
                "x.html", "html", "--date", "2020-01-01",
            ]
        )
    assert exit_.value.code == 2
    assert "--date" in capsys.readouterr().err


def test_cli_crawl_composed_pipeline_end_to_end(spark, tmp_path):
    """VERDICT r4 item 6: the full composed live pipeline through the
    CLI as ONE job — fixture CDX server -> cdx_records (distributed
    probe + fetch stages) -> scheduling_round (dedupe + politeness
    budget + per-host top-k) -> fetch_schedule -> rotated JSONL sink.
    Asserts record counts per host (budget-capped) and the politeness
    spacing column (fetch_offset_ms = (rank-1) * crawl_delay)."""
    import json as _json
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
    from urllib.parse import parse_qs, urlparse

    # two hosts; b.example has MORE candidates than the budget, and
    # one duplicate-canonical URL pair (/p1x vs /p1x/) exercises dedup
    recs = [
        {"url": "https://a-example.com/pa", "filename": "f1.warc.gz",
         "offset": "0", "length": "10", "digest": "SHA1:A",
         "encoding": "UTF-8", "timestamp": "20230301120000"},
        {"url": "https://b-example.com/p1x", "filename": "f1.warc.gz",
         "offset": "10", "length": "10", "digest": "SHA1:B",
         "encoding": "UTF-8", "timestamp": "20230301120001"},
        {"url": "https://b-example.com/p1x/", "filename": "f1.warc.gz",
         "offset": "20", "length": "10", "digest": "SHA1:B2",
         "encoding": "UTF-8", "timestamp": "20230301120002"},
        {"url": "https://b-example.com/p2y", "filename": "f1.warc.gz",
         "offset": "30", "length": "10", "digest": "SHA1:C",
         "encoding": "UTF-8", "timestamp": "20230301120003"},
        {"url": "https://b-example.com/p3z", "filename": "f2.warc.gz",
         "offset": "0", "length": "10", "digest": "SHA1:D",
         "encoding": "UTF-8", "timestamp": "20230301120004"},
    ]

    class H(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            q = parse_qs(urlparse(self.path).query)
            if q.get("showNumPages") == ["true"]:
                body = _json.dumps({"pages": 1}).encode()
            else:
                body = "\n".join(_json.dumps(r) for r in recs).encode()
            self.send_response(200)
            self.end_headers()
            self.wfile.write(body)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}/cdx"
    out = str(tmp_path / "sched")
    try:
        main([
            "crawl", out, "a-example.com", "b-example.com",
            "--cdx_server", base, "--match_type", "domain",
            "--budget", "2", "--crawl_delay", "1.5",
            "--max_requests_per_second", "1000",
        ])
    finally:
        srv.shutdown()
    rows = [
        _json.loads(r["value"])
        for r in spark.read.text(out).collect()
    ]
    by_host: dict[str, list] = {}
    for r in rows:
        by_host.setdefault(r["host"], []).append(r)
    # a-example: 1 candidate -> 1 scheduled; b-example: 4 candidates,
    # 1 canonical duplicate removed -> 3 distinct, budget-capped at 2
    assert sorted(by_host) == ["a-example.com", "b-example.com"]
    assert len(by_host["a-example.com"]) == 1
    assert len(by_host["b-example.com"]) == 2
    # politeness spacing: k-th fetch of a host at (k-1)*1500 ms
    for host, hrows in by_host.items():
        offsets = sorted(r["fetch_offset_ms"] for r in hrows)
        assert offsets == [1500 * i for i in range(len(hrows))], host
        assert all(r["crawl_delay_s"] == 1.5 for r in hrows)


def test_cli_crawl_domain_politeness_subdomain_hosts(spark, tmp_path):
    """Regression (round-5 review): with --domain_politeness the CLI's
    synthesized policies must be keyed by the PSL registered domain,
    not the raw hosts — scheduling_round rewrites every candidate's
    politeness key to eTLD+1 before the INNER policy join, so
    raw-host-keyed policies matched nothing and the schedule was
    silently EMPTY for any frontier of subdomain URLs (the common
    case on a real CDX index). Also asserts the semantics the flag
    exists for: subdomains of one owner share ONE budget."""
    import json as _json
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
    from urllib.parse import parse_qs, urlparse

    # three URLs across two subdomains of ONE registered domain
    # (co.uk is a wildcard-free public suffix in the bundled list)
    recs = [
        {"url": "https://www.shop-x.co.uk/p1a", "filename": "f1.warc.gz",
         "offset": "0", "length": "10", "digest": "SHA1:A",
         "encoding": "UTF-8", "timestamp": "20230301120000"},
        {"url": "https://blog.shop-x.co.uk/p2b", "filename": "f1.warc.gz",
         "offset": "10", "length": "10", "digest": "SHA1:B",
         "encoding": "UTF-8", "timestamp": "20230301120001"},
        {"url": "https://blog.shop-x.co.uk/p3c", "filename": "f2.warc.gz",
         "offset": "0", "length": "10", "digest": "SHA1:C",
         "encoding": "UTF-8", "timestamp": "20230301120002"},
    ]

    class H(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            q = parse_qs(urlparse(self.path).query)
            if q.get("showNumPages") == ["true"]:
                body = _json.dumps({"pages": 1}).encode()
            else:
                body = "\n".join(_json.dumps(r) for r in recs).encode()
            self.send_response(200)
            self.end_headers()
            self.wfile.write(body)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}/cdx"
    out = str(tmp_path / "sched_dp")
    try:
        main([
            "crawl", out, "shop-x.co.uk",
            "--cdx_server", base, "--match_type", "domain",
            "--budget", "2", "--crawl_delay", "1.0",
            "--domain_politeness",
            "--max_requests_per_second", "1000",
        ])
    finally:
        srv.shutdown()
    rows = [
        _json.loads(r["value"])
        for r in spark.read.text(out).collect()
    ]
    # pre-fix: rows == [] (policy join missed every subdomain host)
    assert rows, "domain-politeness schedule must not be empty"
    # all three candidates share one politeness key == eTLD+1 ...
    assert {r["host"] for r in rows} == {"shop-x.co.uk"}
    # ... and therefore share ONE budget: 3 distinct URLs, budget 2
    assert len(rows) == 2
    offsets = sorted(r["fetch_offset_ms"] for r in rows)
    assert offsets == [0, 1000]
