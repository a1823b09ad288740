"""Byte-range DAO layer (SURVEY §2 S3/S4 + T2 retry).

The reference fetches WARC byte ranges over HTTP/S3 with retry
(reference processor/dao/api.py:54-85, dao/s3.py:65-101). In this
engine the canonical input already carries html as a column, so the
DAO exists for ingest jobs; its semantics are preserved:

- range reads: bytes [offset, offset+length) of the named archive;
- retry with exponential backoff on retryable errors (HTTP
  500/502/503/504 — helpers.py:27) in :func:`call_with_retry`, which
  the CDX gateway shares (tenacity is not in this container).

Spark-side: :func:`fetch_ranges` is a mapInArrow stage — each Arrow
batch of (filename, offset, length) resolves through a DAO instance
created per-partition (connection reuse), never on the driver; the
other columns pass through as Arrow arrays.

``LocalFileDAO`` reads local archives; ``HTTPRangeDAO`` issues range
GETs through stdlib urllib. Either hands on the raw range;
:func:`warc_responses` turns each fetched WARC record into its page
and HTTP ``Content-Type``.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import BinaryType, StringType, StructField, StructType

from cmoncrawl_spark.sources.warc import response_of

RETRYABLE_HTTP = {500, 502, 503, 504}

#: retries after the first attempt, for range GETs and CDX requests.
MAX_RETRY = 3


class LocalFileDAO:
    """Range reads from local archive files (the testable DAO)."""

    def __init__(self, base_dir: str = "") -> None:
        self.base_dir = base_dir

    def fetch(self, filename: str, offset: int, length: int) -> bytes:
        with open(os.path.join(self.base_dir, filename), "rb") as f:
            f.seek(offset)
            return f.read(length)


def call_with_retry(
    call: Callable[[], bytes],
    retryable: Callable[[Exception], bool],
    sleep: Callable[[float], object] = time.sleep,
) -> bytes:
    """T2 — run ``call`` up to ``MAX_RETRY + 1`` times, sleeping after
    each retryable error as the reference's wait_random_exponential(
    multiplier=5, exp_base=1.3, max=120) does (helpers.py:109-184),
    without the jitter. The last error is re-raised."""
    sleep_base, max_sleep = 1.3, 120.0
    for attempt in range(MAX_RETRY + 1):
        try:
            return call()
        except Exception as e:  # noqa: BLE001 - gate below
            if attempt == MAX_RETRY or not retryable(e):
                raise
            sleep(min(5 * sleep_base**attempt, max_sleep))
    raise AssertionError("unreachable")


class RetryingDAO:
    """T2 — a DAO whose fetches go through :func:`call_with_retry`,
    retrying every ``OSError`` (``HTTPRangeDAO`` raises one for HTTP
    500/502/503/504; connection errors are ``OSError`` too)."""

    def __init__(self, inner, _sleep=time.sleep) -> None:
        self.inner = inner
        self._sleep = _sleep
        self.attempts = 0

    def fetch(self, filename: str, offset: int, length: int) -> bytes:
        def attempt() -> bytes:
            self.attempts += 1
            return self.inner.fetch(filename, offset, length)

        return call_with_retry(
            attempt, lambda e: isinstance(e, OSError), self._sleep
        )


def stdlib_http_client():
    """HTTP client on stdlib urllib (no third-party deps), with a 60 s
    timeout.

    Returns callable (url, headers) -> (status, bytes). HTTPError
    statuses are returned, not raised — the DAO decides retryability.
    """
    import urllib.error
    import urllib.request

    def client(url: str, headers: dict[str, str]) -> tuple[int, bytes]:
        req = urllib.request.Request(url, headers=headers)
        try:
            with urllib.request.urlopen(req, timeout=60.0) as resp:
                return resp.status, resp.read()
        except urllib.error.HTTPError as e:
            return e.code, b""

    return client


class HTTPRangeDAO:
    """S3 — production range GET ('bytes=o..o+l-1', reference
    dao/api.py:55-61) through :func:`stdlib_http_client`. Tested
    offline against a local Range-aware http.server
    (tests/test_scalars_dao.py).

    The reference's S3 path (dao/s3.py:65-101) reads the PUBLIC
    commoncrawl bucket unsigned — over HTTPS that is exactly this DAO
    pointed at the bucket endpoint (base_url=
    'https://data.commoncrawl.org' or the S3 REST endpoint); signed
    private-bucket access would need a signing client here."""

    def __init__(self, base_url: str) -> None:
        self.base_url = base_url
        self.client = stdlib_http_client()

    def fetch(self, filename: str, offset: int, length: int) -> bytes:
        url = f"{self.base_url.rstrip('/')}/{filename}"
        status, data = self.client(
            url, {"Range": f"bytes={offset}-{offset + length - 1}"}
        )
        if status in RETRYABLE_HTTP:
            raise OSError(f"retryable HTTP {status}")
        if status not in (200, 206):
            raise ValueError(f"HTTP {status} for {url}")
        return data


def fetch_ranges(
    records: DataFrame, dao_factory: Callable[[], object]
) -> DataFrame:
    """mapInArrow range-fetch of each (filename, offset, length) row:
    one DAO per partition, bytes column ``content`` appended to the
    batch's own arrays. The reference's per-record async fetch loop
    becomes executor-side batched I/O."""
    out_schema = StructType(
        records.schema.fields + [StructField("content", BinaryType())]
    )

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        dao = dao_factory()
        for batch in batches:
            content = [
                dao.fetch(f, o, n)
                for f, o, n in zip(
                    batch.column("filename").to_pylist(),
                    batch.column("offset").to_pylist(),
                    batch.column("length").to_pylist(),
                )
            ]
            yield batch.append_column("content", pa.array(content, pa.binary()))

    return records.mapInArrow(run, out_schema)


def warc_responses(fetched: DataFrame) -> DataFrame:
    """:func:`fetch_ranges` output with each range's ``content``
    replaced by the WARC ``response`` record inside it: ``html`` (the
    payload) and ``content_type`` (its HTTP header, null when absent),
    from one parse per row in one mapInArrow stage; the other columns
    pass through as Arrow arrays. A range with no response record
    fails the job with a ``ValueError`` naming the file and the
    offset."""
    keep = [f for f in fetched.schema.fields if f.name != "content"]
    out_schema = StructType(
        keep
        + [StructField("html", BinaryType()), StructField("content_type", StringType())]
    )

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            parsed = [
                response_of(c, f"{f} at offset {o}")
                for c, f, o in zip(
                    batch.column("content").to_pylist(),
                    batch.column("filename").to_pylist(),
                    batch.column("offset").to_pylist(),
                )
            ]
            yield pa.RecordBatch.from_arrays(
                [batch.column(f.name) for f in keep]
                + [
                    pa.array([page for page, _ in parsed], pa.binary()),
                    pa.array([ctype for _, ctype in parsed], pa.string()),
                ],
                names=out_schema.names,
            )

    return fetched.mapInArrow(run, out_schema)
