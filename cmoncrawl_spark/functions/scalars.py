"""Scalar function library (SURVEY §2.7 X2-X9) — all native
Column expressions, one place, reference-cited.

| fn | reference |
|----|-----------|
| crawl_to_year          | aggregator/utils/helpers.py:187-192 |
| crawl_url_to_name      | aggregator/utils/athena_query_maker.py:53-56 |
| to_compact_timestamp / from_compact_timestamp | helpers.py:195-200 |
| to_sql_date            | athena_query_maker.py:36-37 |
| cache_key              | common/caching.py:10-18 |
| http_charset_col       | processor/pipeline/extractor.py:100-103 |
| name_mangle            | extractor.py:148-152 |
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def crawl_to_year(crawl: Column) -> Column:
    """X2 — year embedded in 'CC-MAIN-<year>-..' names."""
    return F.regexp_extract(crawl, r"MAIN-(\d{4})", 1).cast("int")


def crawl_url_to_name(crawl_url: Column) -> Column:
    """X3 — last path segment, '-index' suffix stripped."""
    last = F.element_at(F.split(crawl_url, "/"), -1)
    return F.element_at(F.split(last, "-index"), 1)


def to_compact_timestamp(ts: Column) -> Column:
    """X4 — CDX compact %Y%m%d%H%M%S encode."""
    return F.date_format(ts, "yyyyMMddHHmmss")


def from_compact_timestamp(s: Column) -> Column:
    return F.to_timestamp(s, "yyyyMMddHHmmss")


def to_sql_date(ts: Column) -> Column:
    """X5 — Athena SQL literal format."""
    return F.date_format(ts, "yyyy-MM-dd HH:mm:ss")


def cache_key(filename: Column, offset: Column, length: Column) -> Column:
    """X7 — sha256('filename|offset|length') + '.bin' (byte cache key)."""
    return F.concat(
        F.sha2(
            F.concat_ws(
                "|", filename, offset.cast("string"), length.cast("string")
            ),
            256,
        ),
        F.lit(".bin"),
    )


def http_charset_col(content_type: Column) -> Column:
    """X8 — charset from a Content-Type header value."""
    return F.nullif(
        F.regexp_extract(content_type, r"charset=([^;]*)$", 1), F.lit("")
    )


def name_mangle(url: Column, max_len: int = 100) -> Column:
    """X9 — url -> file name: '/'->'_', truncated."""
    return F.substring(F.translate(url, "/", "_"), 1, max_len)


def parse_timestamp_col(s: Column) -> Column:
    """X6 — ISO-union timestamp parse (reference common/types.py:11-21
    accepts any datetime.fromisoformat input): space or 'T' separator,
    optional fractional seconds / offset, date-only. NULL in -> NULL
    out; unparseable -> NULL (try_ semantics — the DataFrame analog of
    pydantic's validation error surfacing as a null row to filter)."""
    pats = [
        "yyyy-MM-dd HH:mm:ss",
        "yyyy-MM-dd'T'HH:mm:ss",
        "yyyy-MM-dd HH:mm:ss.SSSSSS",
        "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
        "yyyy-MM-dd HH:mm:ssXXX",
        "yyyy-MM-dd'T'HH:mm:ssXXX",
        "yyyy-MM-dd",
    ]
    return F.coalesce(*[F.try_to_timestamp(s, F.lit(p)) for p in pats])


def portable_hash64(s: Column) -> Column:
    """Engine-portable 64-bit hash: the little-endian uint64 of the
    LAST 8 md5 bytes, reinterpreted as signed int64 (two's complement).

    Equals DuckDB's ``md5_number_lower(s)`` bit-for-bit (as uint64),
    which makes hash-based operators (simhash bit votes, rolling
    fingerprints) ORACLE-ABLE: both engines produce identical values.
    xxhash64 stays the production default (one JVM intrinsic vs md5 +
    string conv here); this is the differential-testing twin.
    """
    hexs = F.md5(s)
    # reverse the 8 byte-pairs of hex chars 17..32 (little-endian).
    rev = F.concat(*[F.substring(hexs, 31 - 2 * i, 2) for i in range(8)])
    u = F.conv(rev, 16, 10).cast("decimal(20,0)")
    # 2^63 / 2^64 exceed int64, so they enter as string-cast decimals.
    two63 = F.lit("9223372036854775808").cast("decimal(20,0)")
    two64 = F.lit("18446744073709551616").cast("decimal(21,0)")
    return F.when(u >= two63, u - two64).otherwise(u).cast("long")


def filter_non_200(http_header: Column) -> Column:
    """F6 — keep when http_response_code is absent or '200'
    (extractor.py:157-167: missing header does NOT drop)."""
    code = http_header.getItem("http_response_code")
    return code.isNull() | (code == "200")
