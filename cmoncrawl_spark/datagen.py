"""Deterministic synthesis of Common-Crawl-style tables from the driver's
parquet test data — NO external data, NO RNG state.

``BASELINE.json``'s ``input_hint`` mandates an input table
``pages(url, warc_ts, html, text, lang)``; the reference's index layer
works over the 28-column cc-index table (Athena DDL at
/root/reference/cmoncrawl/aggregator/athena_query.py:231-265). Neither
exists in /root/testdata, so we derive BOTH deterministically from the
driver's ``documents`` parquet using **dialect-portable SQL** (valid in
Spark SQL *and* DuckDB). The same CTE string is used by the Spark
queries and by the DuckDB oracle in ``__spark_entry__.oracle_sql`` —
guaranteeing both engines see identical synthetic crawl data.

Design notes on the synthesized URL population (exercises the
reference's canonicalization edge cases, tests/gateway_test.py:111-151):

- ``www.`` prefix on every 7th row (www-stripping, helpers.py:56-57);
- suffix variants ``.html`` / trailing ``/`` / ``?page=N`` / bare by
  ``doc_id % 4`` — consecutive doc_id pairs share a ``pair_id`` path so
  every pair collapses to ONE canonical id (D1 dedup semantics);
- a hot registered domain holding ~40% of rows (``news.`` + ``blog.``
  subdomains) for skew / salting tests (SURVEY §7 R4);
- path slugs end in a letter so the reference's trailing
  ``[/\\-0-9]+`` strip (helpers.py:42) is a no-op on the slug itself —
  canonical id == host + path, which lets the oracle construct the
  expected id from components while Spark runs the generic regex chain
  (a real differential test).

Only dialect-portable constructs are used: ``||``, CASE, %, floor,
CAST(AS STRING/INT/BIGINT/DOUBLE), make_timestamp, length, round.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from cmoncrawl_spark.session import load_tables

# ---------------------------------------------------------------------------
# Portable CTE bodies. Use via with_crawl_ctes("SELECT ... FROM pages ...").
# ---------------------------------------------------------------------------

# p0: URL components. pages: the input_hint table (+ carried components the
# oracle uses to construct expected values).
CRAWL_CTES = """
p0 AS (
  SELECT
    doc_id,
    text,
    lang,
    source,
    CAST(floor(doc_id / 2) AS BIGINT) AS pair_id,
    CASE
      WHEN CAST(floor(doc_id / 2) AS BIGINT) % 5 < 2 THEN 'news.hot-domain.com'
      WHEN CAST(floor(doc_id / 2) AS BIGINT) % 5 = 2 THEN 'blog.hot-domain.com'
      ELSE 'example' || CAST(CAST(floor(doc_id / 2) AS BIGINT) % 23 AS STRING)
           || (CASE WHEN CAST(floor(doc_id / 2) AS BIGINT) % 2 = 0
               THEN '.org' ELSE '.com' END)
    END AS base_host,
    CASE WHEN doc_id % 7 = 0 THEN 'www.' ELSE '' END AS www,
    '/sec' || CAST(CAST(floor(doc_id / 2) AS BIGINT) % 20 AS STRING)
        || '/story' || CAST(CAST(floor(doc_id / 2) AS BIGINT) AS STRING)
        || 'a' AS path,
    CASE CAST(doc_id % 4 AS INT)
      WHEN 0 THEN '.html'
      WHEN 1 THEN '/'
      WHEN 2 THEN '?page=' || CAST(doc_id % 13 AS STRING)
      ELSE ''
    END AS suffix
  FROM documents
),
pages AS (
  SELECT
    doc_id,
    pair_id,
    text,
    lang,
    source,
    base_host,
    www,
    path,
    suffix,
    'https://' || www || base_host || path || suffix AS url,
    www || base_host AS url_host_name,
    base_host || path AS canonical_expected,
    make_timestamp(
      2021 + CAST(doc_id % 3 AS INT),
      1 + CAST(doc_id % 12 AS INT),
      1 + CAST(doc_id % 28 AS INT),
      CAST(doc_id % 24 AS INT),
      CAST(doc_id % 60 AS INT),
      0) AS warc_ts,
    'CC-MAIN-' || CAST(2021 + doc_id % 3 AS STRING)
        || (CASE WHEN doc_id % 2 = 0 THEN '-05' ELSE '-21' END) AS crawl,
    CAST(CASE WHEN doc_id % 17 = 0 THEN 404 ELSE 200 END AS INT) AS fetch_status,
    CASE WHEN doc_id % 19 = 0 THEN 'crawldiagnostics' ELSE 'warc' END AS subset,
    CAST(doc_id % 5 AS INT) AS depth,
    round(1.0 / (1.0 + CAST(doc_id % 100 AS DOUBLE)), 6) AS priority
  FROM p0
),
ccindex AS (
  SELECT
    url,
    url_host_name,
    CASE WHEN base_host LIKE '%.org' THEN 'org' ELSE 'com' END AS url_host_tld,
    CASE WHEN base_host LIKE '%.hot-domain.com' THEN 'hot-domain.com'
         ELSE base_host END AS url_host_registered_domain,
    'https' AS url_protocol,
    path || (CASE WHEN suffix = '.html' THEN '.html'
                  WHEN suffix = '/' THEN '/'
                  ELSE '' END) AS url_path,
    CASE WHEN suffix LIKE '?%' THEN substr(suffix, 2, length(suffix) - 1)
         ELSE '' END AS url_query,
    warc_ts AS fetch_time,
    fetch_status,
    md5(url) AS content_digest,
    'text/html' AS content_mime_type,
    CASE lang
      WHEN 'zh' THEN 'UTF-8'
      WHEN 'de' THEN 'windows-1250'
      WHEN 'es' THEN 'ISO-8859-1'
      WHEN 'fr' THEN 'ISO-8859-1'
      ELSE 'UTF-8'
    END AS content_charset,
    lang AS content_languages,
    'crawl-data/' || crawl || '/segments/seg-' || CAST(doc_id % 8 AS STRING)
        || '/warc/part-' || CAST(doc_id % 8 AS STRING) || '.warc.gz'
        AS warc_filename,
    CAST(doc_id * 1000 AS BIGINT) AS warc_record_offset,
    CAST(997 AS BIGINT) AS warc_record_length,
    crawl,
    subset,
    doc_id
  FROM pages
)
"""

# Frontier-side CTEs (north_rule additions; SURVEY §2.6/§2.8, FIXTURES §6).
# seen: canonical ids already crawled (every 6th doc). host_policies:
# deterministic per-host crawl delay + robots; one disallow class.
FRONTIER_CTES = """
seen AS (
  SELECT DISTINCT canonical_expected AS url_id
  FROM pages WHERE doc_id % 6 = 0
),
host_policies AS (
  SELECT
    url_host_name AS host,
    CAST(1 + length(url_host_name) % 7 AS DOUBLE) AS crawl_delay_s,
    CAST(floor(60.0 / (1 + length(url_host_name) % 7)) AS INT) AS budget,
    (length(url_host_name) % 11 = 3) AS robots_disallow_all
  FROM (SELECT DISTINCT url_host_name FROM pages) h
),
robots AS (
  SELECT
    host,
    'User-agent: googlebot' || chr(10) || 'Disallow: /goog-only' || chr(10)
    || chr(10) || '# synthetic robots' || chr(10)
    || 'User-agent: *' || chr(10)
    || 'Crawl-delay: ' || CAST(1 + length(host) % 7 AS STRING) || chr(10)
    || CASE WHEN length(host) % 11 = 3 THEN 'Disallow: /'
       ELSE 'Disallow: /private' || chr(10) || 'Allow: /private/ok' END
    || chr(10) AS robots_txt
  FROM (SELECT DISTINCT url_host_name AS host FROM pages) h
)
"""


def with_crawl_ctes(query: str, frontier: bool = False) -> str:
    """Wrap a query with the portable pages/ccindex (+frontier) CTEs."""
    ctes = CRAWL_CTES + ("," + FRONTIER_CTES if frontier else "")
    return f"WITH {ctes} {query}"


def register_crawl_views(spark: SparkSession, sf_dir: str) -> None:
    """Register documents + derived pages/ccindex/seen/host_policies views.

    At production scale these would be tables partitioned by
    (crawl, subset); here they are derived views over the driver's
    parquet so the DuckDB oracle can mirror them exactly.
    """
    load_tables(spark, sf_dir, ("documents",))
    spark.sql(with_crawl_ctes("SELECT * FROM pages")).createOrReplaceTempView(
        "pages"
    )
    spark.sql(
        with_crawl_ctes("SELECT * FROM ccindex")
    ).createOrReplaceTempView("ccindex")
    spark.sql(
        with_crawl_ctes("SELECT * FROM seen", frontier=True)
    ).createOrReplaceTempView("seen")
    spark.sql(
        with_crawl_ctes("SELECT * FROM host_policies", frontier=True)
    ).createOrReplaceTempView("host_policies")
    spark.sql(
        with_crawl_ctes("SELECT * FROM robots", frontier=True)
    ).createOrReplaceTempView("robots")


#: charset per language — mirrors ccindex.content_charset above.
LANG_CHARSET = {
    "zh": "UTF-8",
    "de": "windows-1250",
    "es": "ISO-8859-1",
    "fr": "ISO-8859-1",
    "en": "UTF-8",
}

#: rows whose html is undecodable garbage (reference encoding-cascade
#: fixture bytes, tests/processor_test.py:152-153): doc_id % GARBAGE == 0.
GARBAGE_MOD = 101
GARBAGE_BYTES = bytes([0x81, 0x81, 0x82, 0x83])


def synthesize_html_bytes(doc_id: int, text: str, lang: str) -> bytes:
    """Deterministic page bytes for one row (shared by Spark UDF and
    test oracles). CRLF rows exercise the \\r\\n normalization."""
    if doc_id % GARBAGE_MOD == 0:
        return GARBAGE_BYTES
    sep = "\r\n" if doc_id % 13 == 0 else " "
    page = (
        f"<html><head><title>Doc {doc_id}</title></head>"
        f"<body><p>{text}{sep}end</p></body></html>"
    )
    return page.encode(LANG_CHARSET.get(lang, "UTF-8"))


def pages_with_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pages + html:binary + record_encoding — the full input_hint
    table. html built in an Arrow-batched UDF (binary can't be
    synthesized portably in SQL; the oracle predicts the EXTRACTED
    values from components instead)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from cmoncrawl_spark.session import scan_parallel_floor

    register_crawl_views(spark, sf_dir)

    def _html_fn(doc_id, text, lang):
        return pd.Series(
            [
                synthesize_html_bytes(int(d), t, lg)
                for d, t, lg in zip(doc_id, text, lang)
            ]
        )

    _html = pandas_udf(_html_fn, "binary")

    from pyspark.sql import functions as F

    charset = F.create_map(
        *[F.lit(x) for kv in LANG_CHARSET.items() for x in kv]
    )
    # scan_parallel_floor: the two Python stages downstream (html
    # synthesis UDF + the extractor's mapInArrow parse) are the
    # heaviest per-row work in the engine, and the single-row-group
    # source otherwise runs BOTH on one task (r6; measured ~2x on
    # q_extract_page at sf1.0).
    pages = scan_parallel_floor(
        spark,
        spark.table("pages"),
        os.path.join(sf_dir, "documents.parquet"),
        "doc_id",
    )
    return (
        pages
        .withColumn("html", _html("doc_id", "text", "lang"))
        .withColumn("record_encoding", charset[F.col("lang")])
    )
