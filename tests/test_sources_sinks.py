"""Sources (WARC/JSONL/HTML), sinks (rotated JSONL), textstats and
multimodal plumbing tests."""

from __future__ import annotations

import gzip
import json
import os

from pyspark.sql import functions as F


def _fixture_warc(tmp_path, gz: bool) -> str:
    from cmoncrawl_spark.sources.warc import write_warc_bytes

    recs = [
        {"rec_type": "warcinfo", "url": "", "content": b"software: test"},
        {
            "rec_type": "request",
            "url": "https://example.com/a",
            "content": b"GET /a HTTP/1.1",
        },
        {
            "rec_type": "response",
            "url": "https://example.com/a",
            "http_header": {
                "http_response_code": "200",
                "Content-Type": "text/html; charset=utf-8",
            },
            "content": b"<html><title>W</title></html>",
        },
    ]
    data = write_warc_bytes(recs)
    if gz:
        data = gzip.compress(data)
    p = tmp_path / ("f.warc.gz" if gz else "f.warc")
    p.write_bytes(data)
    return str(p)


def test_warc_roundtrip_plain(tmp_path):
    from cmoncrawl_spark.sources.warc import parse_warc_bytes

    path = _fixture_warc(tmp_path, gz=False)
    with open(path, "rb") as f:
        rows = parse_warc_bytes(f.read())
    assert [r["record_idx"] for r in rows] == [0, 1, 2]
    assert [r["rec_type"] for r in rows] == ["warcinfo", "request", "response"]
    resp = rows[2]
    assert resp["url"] == "https://example.com/a"
    assert resp["http_header"]["http_response_code"] == "200"
    assert bytes(resp["content"]) == b"<html><title>W</title></html>"


def test_warc_roundtrip_gzip(tmp_path):
    from cmoncrawl_spark.sources.warc import parse_warc_bytes

    path = _fixture_warc(tmp_path, gz=True)
    with open(path, "rb") as f:
        rows = parse_warc_bytes(f.read())
    assert [r["rec_type"] for r in rows] == ["warcinfo", "request", "response"]
    assert rows[2]["content"] == b"<html><title>W</title></html>"


def test_domain_record_jsonl(spark, tmp_path):
    from cmoncrawl_spark.sources.jsonl import read_domain_records

    p = tmp_path / "records.jsonl"
    lines = [
        {
            "domain_record": {
                "filename": "crawl-data/x.warc.gz",
                "url": "https://www.seznam.cz/",
                "offset": 1115229508,
                "length": 116849,
                "digest": "7LSVB2",
                "encoding": "UTF-8",
                "timestamp": "2023-03-21 21:19:03",
            },
            "additional_info": {"k": "v"},
        },
        {
            "domain_record": {
                "filename": "f2",
                "offset": 1,
                "length": 2,
            },
            "additional_info": {},
        },
    ]
    # the reference accepts any datetime.fromisoformat input
    # (common/types.py:11-21); the declared TimestampType parses these
    # forms and gives null for garbage (session time zone UTC)
    iso = {
        10: ("2021-06-01 10:00:00", "2021-06-01 10:00:00.000000"),
        11: ("2021-06-01T10:00:00Z", "2021-06-01 10:00:00.000000"),
        12: ("2021-06-01T10:00:00.123456+02:00", "2021-06-01 08:00:00.123456"),
        13: ("2021-06-01", "2021-06-01 00:00:00.000000"),
        14: ("not a time", None),
    }
    lines += [
        {"domain_record": {"filename": "f", "offset": o, "length": 1, "timestamp": ts}}
        for o, (ts, _want) in iso.items()
    ]
    p.write_text("\n".join(json.dumps(x) for x in lines))
    df = read_domain_records(spark, str(p)).withColumn(
        "ts", F.date_format("timestamp", "yyyy-MM-dd HH:mm:ss.SSSSSS")
    )
    rows = df.orderBy("offset").collect()
    assert len(rows) == 7
    assert rows[6]["url"] == "https://www.seznam.cz/"
    assert rows[6]["offset"] == 1115229508
    assert rows[6]["additional_info"]["k"] == "v"
    assert rows[6]["ts"] == "2023-03-21 21:19:03.000000"
    assert rows[0]["url"] is None
    assert {r["offset"]: r["ts"] for r in rows[1:6]} == {
        o: want for o, (_ts, want) in iso.items()
    }


def test_html_files_url_inference(spark, tmp_path):
    from cmoncrawl_spark.sources.jsonl import read_html_files

    (tmp_path / "page2019.html").write_text(
        '<html><head><meta property="og:url" content="https://site.cz/x"/>'
        "</head></html>"
    )
    rows = read_html_files(spark, str(tmp_path / "*.html")).collect()
    assert rows[0]["url"] == "https://site.cz/x"
    assert rows[0]["inferred_year"] == 2019


def test_html_sink_file_per_record_no_partition_dirs(spark, tmp_path):
    """K2 writes ONE FILE per record directly under the target dir —
    not one partition DIRECTORY per record (metadata bomb)."""
    import os

    from cmoncrawl_spark.sinks.jsonl import write_html_files

    n = 2000
    df = spark.createDataFrame(
        [(f"https://site{i}.cz/p/{i}", f"<html><body>{i}</body></html>")
         for i in range(n)],
        "url string, html string",
    )
    out = str(tmp_path / "html_out")
    write_html_files(df, out)
    entries = [e for e in os.listdir(out) if not e.startswith(".")]
    assert len(entries) == n
    assert all(e.endswith(".html") for e in entries)
    assert not any(os.path.isdir(os.path.join(out, e)) for e in entries)
    # content roundtrips (direct read: names keep the reference's
    # ':' from 'https:', which Hadoop paths reject — same as the
    # reference's own output, readable by the OS but not globbable
    # via spark.read; S7 readback is covered by the jsonl tests)
    name42 = "https:__site42.cz_p_42.html"
    with open(os.path.join(out, name42), encoding="utf-8") as f:
        assert f.read() == "<html><body>42</body></html>"


def test_jsonl_sink_rotation_and_sorted_keys(spark, tmp_path):
    from cmoncrawl_spark.sinks.jsonl import count_output_files, write_jsonl

    df = spark.range(100).select(
        F.col("id").alias("zeta"), (F.col("id") * 2).alias("alpha")
    )
    out = str(tmp_path / "out")
    write_jsonl(df, out, max_file_size=10)
    n_files = count_output_files(out)
    assert n_files >= 10  # 100 rows at most 10 per file
    line = spark.read.text(out).first()["value"]
    obj = json.loads(line)
    assert list(obj.keys()) == sorted(obj.keys())


def test_lang_id_and_quality(spark):
    from cmoncrawl_spark.operators.textstats import (
        lang_id,
        quality_signals,
        rolling_fingerprint,
        tokens,
    )

    df = spark.createDataFrame(
        [
            (1, "the cat sat of the mat and the dog is a pet in the house"),
            (2, "der hund ist nicht das problem und die katze"),
            (3, "le chat est une belle la maison et les arbres"),
        ],
        ["doc_id", "text"],
    )
    rows = df.select("doc_id", lang_id(F.col("text")).alias("lang")).collect()
    got = {r["doc_id"]: r["lang"] for r in rows}
    assert got[1] == "en" and got[2] == "de" and got[3] == "fr"

    q = quality_signals(df).collect()
    for r in q:
        assert 0 <= r["q_alpha_ratio"] <= 1
        assert r["q_n_tokens"] > 0

    fp = df.select(rolling_fingerprint(tokens(F.col("text"))).alias("fp")).collect()
    assert all(r["fp"] is not None for r in fp)


def test_multimodal_features_deterministic(spark):
    from cmoncrawl_spark.operators.multimodal import image_features, synth_media

    media = synth_media(spark).where("media_id < 30")
    f1 = {r["media_id"]: r["feat_mean"] for r in image_features(media).collect()}
    f2 = {
        r["media_id"]: r["feat_mean"]
        for r in image_features(media.repartition(5)).collect()
    }
    assert f1 == f2 and len(f1) == 10  # ids % 3 == 0


def test_audio_features_deterministic_and_shaped(spark):
    from cmoncrawl_spark.operators.multimodal import audio_features, synth_media

    media = synth_media(spark).where("media_id < 30")
    a = {r["media_id"]: (r["rms"], r["zero_cross_rate"], r["n_samples"], r["sample_rate"])
         for r in audio_features(media).collect()}
    b = {r["media_id"]: (r["rms"], r["zero_cross_rate"], r["n_samples"], r["sample_rate"])
         for r in audio_features(media.repartition(5)).collect()}
    assert a == b and len(a) == 10  # ids % 3 == 1
    for rms, zcr, n, rate in a.values():
        assert rms > 0 and 0 <= zcr <= 1 and n == 512 and rate == 16000


def test_audio_decoder_pluggable(spark):
    import numpy as np

    from cmoncrawl_spark.operators import multimodal as mm

    mm.set_audio_decoder(lambda b: (np.ones(4, dtype=np.float32), 8000))
    try:
        row = mm.audio_features(mm.synth_media(spark)).first()
        assert row["rms"] == 1.0 and row["zero_cross_rate"] == 0.0
        assert row["n_samples"] == 4 and row["sample_rate"] == 8000
    finally:
        mm.set_audio_decoder(None)


def test_write_html_files_clears_stale_output(spark, tmp_path):
    """Overwrite semantics: files from a previous run whose URL is
    absent from the current DataFrame must not linger (ADVICE r3)."""
    import os

    from cmoncrawl_spark.sinks.jsonl import write_html_files

    out = str(tmp_path / "html")
    df1 = spark.createDataFrame(
        [("http://a/x", "<p>old</p>"), ("http://b/y", "<p>b</p>")],
        "url string, html string",
    )
    write_html_files(df1, out)
    df2 = spark.createDataFrame(
        [("http://b/y", "<p>new</p>")], "url string, html string"
    )
    write_html_files(df2, out)
    files = sorted(f for f in os.listdir(out) if f.endswith(".html"))
    assert files == ["http:__b_y.html"]
    with open(os.path.join(out, files[0])) as f:
        assert f.read() == "<p>new</p>"


def test_write_html_files_refuses_foreign_directory(spark, tmp_path):
    """Overwrite guard (ADVICE r4): a non-empty directory without the
    sink marker is NOT wiped — the sink raises instead of destroying
    unrelated files; empty and sink-owned directories still work."""
    import os

    import pytest as _pytest

    from cmoncrawl_spark.sinks.jsonl import write_html_files

    df = spark.createDataFrame(
        [("http://a/x", "<p>a</p>")], "url string, html string"
    )
    foreign = tmp_path / "precious"
    foreign.mkdir()
    (foreign / "notes.txt").write_text("do not delete")
    with _pytest.raises(ValueError, match="refusing to overwrite"):
        write_html_files(df, str(foreign))
    assert (foreign / "notes.txt").read_text() == "do not delete"

    # empty directory: allowed, and non-html files survive reruns
    out = tmp_path / "ok"
    out.mkdir()
    write_html_files(df, str(out))
    (out / "side.txt").write_text("kept")
    write_html_files(df, str(out))
    assert (out / "side.txt").read_text() == "kept"
    assert sorted(f for f in os.listdir(out) if f.endswith(".html")) == [
        "http:__a_x.html"
    ]
