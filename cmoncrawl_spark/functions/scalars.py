"""Scalar function library (SURVEY §2.7 X2-X9) — all native
Column expressions, one place, reference-cited, each with an engine
caller.

| fn | reference | engine caller |
|----|-----------|---------------|
| crawl_to_year          | aggregator/utils/helpers.py:187-192 | ccindex.index_query |
| from_compact_timestamp | helpers.py:195-200 | gateway.cdx_records |
| to_sql_date            | athena_query_maker.py:36-37 | cli download record |
| cache_key              | common/caching.py:10-18 | queries.q_cache_key |
| name_mangle            | extractor.py:148-152 | sinks.write_html_files |
| portable_hash64        | (DuckDB md5_number_lower twin) | simhash, rolling-fingerprint queries |

The CDX ``from``/``to`` encode (helpers.py:195-200) formats a Python
datetime, so it is ``sources.gateway.cdx_timestamp``; the HTTP charset
rule (X8) is ``extraction.encoding.http_charset``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def crawl_to_year(crawl: Column) -> Column:
    """X2 — year embedded in 'CC-MAIN-<year>-..' names; NULL for any
    other name (a bare cast of the empty match fails under ANSI)."""
    return F.nullif(F.regexp_extract(crawl, r"MAIN-(\d{4})", 1), F.lit("")).cast("int")


def from_compact_timestamp(s: Column) -> Column:
    """X4 — CDX compact %Y%m%d%H%M%S decode."""
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


def name_mangle(url: Column) -> Column:
    """X9 — url -> file name: '/'->'_', truncated to 100 chars."""
    return F.substring(F.translate(url, "/", "_"), 1, 100)


def portable_hash64(s: Column) -> Column:
    """Engine-portable 64-bit hash: the little-endian uint64 of the
    LAST 8 md5 bytes, reinterpreted as signed int64 (two's complement).

    Equals DuckDB's ``md5_number_lower(s)`` bit-for-bit (as uint64),
    which makes hash-based operators (simhash bit votes, rolling
    fingerprints) ORACLE-ABLE: both engines produce identical values,
    so those operators hash with it (md5 + string conversion, where
    xxhash64 would be one JVM intrinsic).
    """
    hexs = F.md5(s)
    # reverse the 8 byte-pairs of hex chars 17..32 (little-endian).
    rev = F.concat(*[F.substring(hexs, 31 - 2 * i, 2) for i in range(8)])
    u = F.conv(rev, 16, 10).cast("decimal(20,0)")
    # 2^63 / 2^64 exceed int64, so they enter as string-cast decimals.
    two63 = F.lit("9223372036854775808").cast("decimal(20,0)")
    two64 = F.lit("18446744073709551616").cast("decimal(21,0)")
    return F.when(u >= two63, u - two64).otherwise(u).cast("long")
