from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF01_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from cmoncrawl_spark.session import get_spark

    spark = get_spark("cmoncrawl-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def ccindex_dir(spark, sf_dir, tmp_path_factory) -> str:
    """The synthetic ``ccindex`` view over ``sf_dir`` written as a
    parquet directory: a cc-index table ``cmon download --table_dir``
    reads."""
    from cmoncrawl_spark.datagen import register_crawl_views

    register_crawl_views(spark, sf_dir)
    path = str(tmp_path_factory.mktemp("ccindex") / "table")
    spark.table("ccindex").write.parquet(path)
    return path


@pytest.fixture(scope="session")
def warc_record():
    """Factory ``(url, length) -> (record, page)``: one gzipped WARC
    ``response`` record of exactly ``length`` bytes, as an index row's
    (offset, length) range in a Common Crawl archive holds, and the
    HTML page it carries. The page is padded with a comment of hex
    noise until the compressed record has the length, so the page's
    bytes never appear in the record as they are."""
    import gzip
    import hashlib

    from cmoncrawl_spark.sources.warc import write_warc_bytes

    http = {"http_response_code": "200", "Content-Type": "text/html"}

    def make(url: str, length: int) -> tuple[bytes, bytes]:
        for salt in range(8):
            noise = "".join(
                hashlib.sha256(f"{url}:{salt}:{i}".encode()).hexdigest()
                for i in range(length // 16 + 1)
            )
            for pad in range(len(noise)):
                page = (
                    f"<html><head><title>{url}</title></head>"
                    f"<body><!--{noise[:pad]}--></body></html>"
                ).encode()
                warc = write_warc_bytes(
                    [{"url": url, "http_header": http, "content": page}]
                )
                record = gzip.compress(warc, mtime=0)
                if len(record) == length:
                    return record, page
                if len(record) > length:
                    break
        raise ValueError(f"no {length}-byte WARC record holds a page for {url}")

    return make
