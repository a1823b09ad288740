"""Index-query semantics over the cc-index table.

Re-expresses the reference's two index scans (CDX gateway + Athena SQL
generator) as ONE declarative DataFrame query; Catalyst supplies the
pushdown/pruning the reference hand-built into SQL strings / HTTP
params.

Semantics parity (file:line into /root/reference):
- match-type predicates: cmoncrawl/aggregator/utils/athena_query_maker.py:10-33
- date range:            athena_query_maker.py:40-50
- crawl-year pruning:    athena_query_maker.py:59-71, aggregator/utils/helpers.py:187-192
- always-on filters fetch_status=200, subset='warc': athena_query_maker.py:90-91
- projection (5 of 28 cols): athena_query_maker.py:117-127
- extra SQL where:       athena_query_maker.py:111-115
- global limit:          aggregator/gateway_query.py:359-363, athena_query.py:479-482

Scale notes: `crawl`/`subset` are the table's partition columns, so the
crawl-pruning predicate becomes partition pruning at the scan;
match-type predicates push into the parquet/Iceberg scan
(PushedFilters); the 5-column projection prunes 23 columns off a
~100 TB read. `.limit` is CollectLimit — no full materialization.
"""

from __future__ import annotations

from datetime import datetime
from enum import Enum
from urllib.parse import urlparse

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cmoncrawl_spark.functions.scalars import crawl_to_year


class MatchType(str, Enum):
    """Reference: cmoncrawl/common/types.py:140-161."""

    EXACT = "exact"
    PREFIX = "prefix"
    HOST = "host"
    DOMAIN = "domain"


def _host_path(url: str) -> tuple[str, str]:
    parsed = urlparse(url if url.startswith("http") else f"http://{url}")
    host = parsed.netloc
    if host.startswith("www."):
        host = host[4:]
    return host, parsed.path


def match_predicate(match_type: MatchType, url: str) -> Column:
    """F1 — one URL's match predicate over ccindex columns."""
    host, path = _host_path(url)
    h = F.col("url_host_name")
    match match_type:
        case MatchType.EXACT:
            return F.col("url") == url
        case MatchType.PREFIX:
            p = F.col("url_path")
            return ((h == host) | (h == f"www.{host}")) & (
                (p == path) | p.startswith(f"{path}/")
            )
        case MatchType.HOST:
            return (h == host) | (h == f"www.{host}")
        case MatchType.DOMAIN:
            return h.endswith(f".{host}") | (h == host)
    raise ValueError(f"invalid match type {match_type}")


def index_query(
    ccindex: DataFrame,
    urls: list[str],
    match_type: MatchType = MatchType.EXACT,
    since: datetime | None = None,
    to: datetime | None = None,
    extra_where: str | None = None,
    limit: int | None = None,
) -> DataFrame:
    """The reference's whole index-scan path as one Catalyst plan.

    Returns the reference's exact 5-column projection. When ``limit``
    is set, rows are first put in the reference's deterministic arrival
    order (fetch_time, url — the prefetch_size=1 contract, SURVEY §2
    L2) so limited results are reproducible.
    """
    pred = (F.col("fetch_status") == 200) & (F.col("subset") == "warc")
    if urls:
        url_pred = match_predicate(match_type, urls[0])
        for u in urls[1:]:
            url_pred = url_pred | match_predicate(match_type, u)
        pred = pred & url_pred
    if since is not None:
        pred = pred & (F.col("fetch_time") >= F.lit(since))
        pred = pred & (crawl_to_year(F.col("crawl")) >= since.year)
    if to is not None:
        pred = pred & (F.col("fetch_time") <= F.lit(to))
        pred = pred & (crawl_to_year(F.col("crawl")) <= to.year)

    out = ccindex.where(pred)
    if extra_where:
        out = out.where(F.expr(extra_where))
    out = out.select(
        "url",
        "fetch_time",
        "warc_filename",
        "warc_record_offset",
        "warc_record_length",
    )
    if limit is not None:
        out = out.orderBy("fetch_time", "url").limit(limit)
    return out
