"""Live CDX gateway index fetcher (closes SURVEY §2 S1's live path).

The reference's GatewayAggregator walks the Common Crawl CDX API per
crawl: one ``showNumPages`` probe, then ndjson record pages
(/root/reference/cmoncrawl/aggregator/gateway_query.py:142-241),
throttled globally (<= max_requests_per_second, common/throttling.py:
38-43) with exponential-backoff retry (aggregator/utils/helpers.py:
109-184). Users whose crawl is NOT yet in a ccindex table need this
path; everyone else uses the table scan (operators/ccindex.py).

Spark-first shape — TWO executor-side ``mapInPandas`` stages
(see ``cdx_records`` for the authoritative walkthrough):
1. a PROBE stage fans the tiny ``showNumPages`` requests across
   executors (one per (url, crawl) pair, degrading per-URL on
   404/failure instead of failing the job), emitting the (url, page)
   work-list as a DataFrame;
2. a FETCH stage explodes that work-list and pulls ndjson record
   pages in ``mapInPandas`` partitions — the distributed analog of
   the reference's asyncio prefetch pool;
3. records parse JVM-side afterwards (compact-timestamp decode).

Rate limiting is PER TASK in BOTH stages: the cluster-wide request
rate is ``max_requests_per_second`` × concurrent tasks, and because
the probe stage issues its own throttled requests the effective
global rate during probing adds on top of fetching. Size
``max_requests_per_second`` as global_target / expected concurrent
tasks across both stages — same contract as the reference's
per-process limit under ``--n_proc`` (README.md:141-148).

Everything is injected: ``client`` is any callable
``(url, params: dict) -> (status: int, body: bytes)`` — stdlib urllib
by default, a pooled/signing transport in production, an in-process
fake in tests (tests/test_gateway.py runs a local http.server serving
reference-shaped ndjson; no network in this sandbox).
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterator
from datetime import datetime, timezone
from urllib.parse import urlencode

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cmoncrawl_spark.sources.dao import (
    MAX_RETRY,
    RETRYABLE_HTTP,
    call_with_retry,
    stdlib_http_client,
)

#: task counts of ``cdx_records``' probe stage (at most one task per
#: seed URL) and page-fetch stage.
PROBE_PARTITIONS = 32
PAGE_PARTITIONS = 64

CDX_RECORD_SCHEMA = (
    "url string, filename string, offset bigint, length bigint, "
    "digest string, encoding string, timestamp string"
)


class GatewayHTTPError(OSError):
    """Non-2xx gateway response, with the HTTP status attached so
    callers can degrade per-URL (404 = no captures)."""

    def __init__(self, status: int, msg: str) -> None:
        super().__init__(msg)
        self.status = status


def cdx_timestamp(ts: datetime) -> str:
    """A CDX ``from``/``to`` value, ``%Y%m%d%H%M%S`` (reference
    helpers.py:195-200). CDX timestamps are UTC, so an offset-aware
    time is converted to UTC first."""
    if ts.tzinfo is not None:
        ts = ts.astimezone(timezone.utc)
    return ts.strftime("%Y%m%d%H%M%S")


def _retryable(e: Exception) -> bool:
    return isinstance(e, GatewayHTTPError) and e.status in RETRYABLE_HTTP


class CDXGateway:
    """One gateway endpoint + throttle + retry (per task or driver)."""

    def __init__(
        self,
        cdx_server: str,
        client: Callable[[str, dict], tuple[int, bytes]] | None = None,
        max_requests_per_second: float = 20.0,
        _sleep=time.sleep,
    ) -> None:
        self.cdx_server = cdx_server
        if client is None:
            http = stdlib_http_client()

            def client(url: str, params: dict) -> tuple[int, bytes]:
                return http(f"{url}?{urlencode(params)}", {})

        self.client = client
        self.min_interval = (
            1.0 / max_requests_per_second if max_requests_per_second else 0.0
        )
        self._sleep = _sleep
        self._last = 0.0

    def _throttled_get(self, params: dict) -> bytes:
        """One throttled request per attempt; HTTP 500/502/503/504
        are retried through the DAO layer's ``call_with_retry``."""

        def attempt() -> bytes:
            wait = self.min_interval - (time.monotonic() - self._last)
            if wait > 0:
                self._sleep(wait)
            self._last = time.monotonic()
            status, body = self.client(self.cdx_server, params)
            if status != 200:
                raise GatewayHTTPError(
                    status, f"HTTP {status} from {self.cdx_server}"
                )
            return body

        try:
            return call_with_retry(attempt, _retryable, self._sleep)
        except GatewayHTTPError as e:
            if not _retryable(e):
                raise
            raise GatewayHTTPError(
                e.status,
                f"{e}: retries exhausted after {MAX_RETRY + 1} attempts",
            ) from e

    def num_pages(self, url: str, match_type: str | None = None) -> int:
        """showNumPages probe (gateway_query.py:142-180).

        A 404 means the gateway found no captures for this URL in this
        crawl — the reference treats that as an empty result and moves
        on (gateway_query.py:297-312), so it is 0 pages here, not an
        error.
        """
        params: dict = {"showNumPages": "true", "output": "json", "url": url}
        if match_type is not None:
            params["matchType"] = match_type
        try:
            body = self._throttled_get(params)
        except GatewayHTTPError as e:
            if e.status == 404:
                return 0
            raise
        first = body.decode("utf-8").strip().splitlines()[0]
        return int(json.loads(first).get("pages", 0))

    def fetch_page(
        self,
        url: str,
        page: int,
        match_type: str | None = None,
        since: str | None = None,
        to: str | None = None,
    ) -> list[dict]:
        """One ndjson record page (gateway_query.py:182-241); compact
        timestamps pass through as strings (decoded JVM-side)."""
        params: dict = {"output": "json", "page": page, "url": url}
        if match_type is not None:
            params["matchType"] = match_type
        if since is not None:
            params["from"] = since
        if to is not None:
            params["to"] = to
        try:
            body = self._throttled_get(params)
        except GatewayHTTPError as e:
            if e.status == 404:  # page vanished between probe and fetch
                return []
            raise
        out = []
        for line in body.decode("utf-8").splitlines():
            line = line.strip()
            if not line:
                continue
            js = json.loads(line)
            out.append(
                {
                    "url": js.get("url", ""),
                    "filename": js.get("filename", ""),
                    "offset": int(js.get("offset", 0)),
                    "length": int(js.get("length", 0)),
                    "digest": js.get("digest"),
                    "encoding": js.get("encoding"),
                    "timestamp": str(js.get("timestamp", "")),
                }
            )
        return out


def cdx_records(
    spark: SparkSession,
    cdx_server: str,
    urls: list[str],
    match_type: str | None = None,
    since: str | None = None,
    to: str | None = None,
    client_factory: Callable[[], Callable] | None = None,
    max_requests_per_second: float = 20.0,
) -> DataFrame:
    """Distributed CDX index fetch -> DataFrame of domain records.

    Both stages run on executors via ``mapInPandas`` — the distributed
    analog of the reference's interleaved prefetch pool
    (gateway_query.py:315-332):

    1. probe stage: ``showNumPages`` per seed URL, fanned across
       ``min(len(urls), PROBE_PARTITIONS)`` tasks (a driver-side loop
       at 20 rps would serialize ~83 min of HTTP for a 10^5-URL seed
       list);
    2. page expansion: ``explode(sequence(...))`` JVM-side;
    3. fetch stage: ndjson page fetches across ``PAGE_PARTITIONS``
       tasks.

    Per-URL degrade matches the reference (gateway_query.py:297-312):
    404 probes count as 0 pages; any other probe failure logs a
    warning and skips that URL instead of aborting the whole fetch.
    ``max_requests_per_second`` is enforced PER TASK — size it to
    global_target / min(PAGE_PARTITIONS, executor slots).

    The plan is lazy: re-running an action re-fetches. Persist the
    result (or write it to a table) before multi-action use.

    Returns CDX_RECORD_SCHEMA columns plus ``warc_ts`` (decoded
    compact timestamp, JVM-side).
    """
    if not urls:
        return spark.createDataFrame([], CDX_RECORD_SCHEMA).withColumn(
            "warc_ts", F.lit(None).cast("timestamp")
        )
    seeds = spark.createDataFrame(
        [(u,) for u in urls], "query_url string"
    ).repartition(min(len(urls), PROBE_PARTITIONS))

    def probe_stage(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        gw = CDXGateway(
            cdx_server,
            client=client_factory() if client_factory else None,
            max_requests_per_second=max_requests_per_second,
        )
        for pdf in batches:
            counts = []
            for u in pdf["query_url"]:
                try:
                    counts.append(gw.num_pages(u, match_type=match_type))
                except OSError as e:  # degrade per URL, like the reference
                    import logging

                    logging.getLogger(__name__).warning(
                        "CDX probe failed for %s: %s — skipping", u, e
                    )
                    counts.append(0)
            yield pd.DataFrame(
                {"query_url": pdf["query_url"], "num_pages": counts}
            )

    probed = seeds.mapInPandas(
        probe_stage, "query_url string, num_pages int"
    )
    pages = probed.where(F.col("num_pages") > 0).select(
        "query_url",
        F.explode(
            F.sequence(F.lit(0), F.col("num_pages") - 1)
        ).alias("page"),
    )
    pages = pages.repartition(PAGE_PARTITIONS, "query_url", "page")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gw = CDXGateway(
            cdx_server,
            client=client_factory() if client_factory else None,
            max_requests_per_second=max_requests_per_second,
        )
        cols = [
            "url", "filename", "offset", "length",
            "digest", "encoding", "timestamp",
        ]
        for pdf in batches:
            for qurl, page in zip(pdf["query_url"], pdf["page"]):
                try:
                    recs = gw.fetch_page(
                        qurl, int(page), match_type=match_type,
                        since=since, to=to,
                    )
                except OSError as e:
                    import logging

                    logging.getLogger(__name__).warning(
                        "CDX page fetch failed for %s page %s: %s — "
                        "skipping", qurl, page, e,
                    )
                    continue
                if recs:
                    yield pd.DataFrame(recs, columns=cols)

    out = pages.mapInPandas(run, CDX_RECORD_SCHEMA)
    from cmoncrawl_spark.functions.scalars import from_compact_timestamp

    return out.withColumn("warc_ts", from_compact_timestamp(F.col("timestamp")))
