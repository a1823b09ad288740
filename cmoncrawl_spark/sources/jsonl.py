"""JSONL / local-file sources (SURVEY §2 S7/S8) and domain-record
schema.

S8 — domain-record JSONL: the reference reads lines of
``{"domain_record": {...}, "additional_info": {...}}``
(/root/reference/cmoncrawl/integrations/extract.py:147-161; pydantic
DomainRecord at common/types.py:24-39). Spark-first: ``spark.read
.json`` with the schema DECLARED (never inferred — schema-on-read with
a fixed contract, so Catalyst prunes and malformed rows surface as
nulls, mirroring pydantic validation).

S7 — local HTML files: ``wholetext`` scan + metadata-inference
expressions (og:url etc., downloader.py:303-329) as native
regexp_extract — no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

DOMAIN_RECORD_SCHEMA = StructType(
    [
        StructField("filename", StringType(), False),
        StructField("url", StringType()),
        StructField("offset", LongType(), False),
        StructField("length", LongType(), False),
        StructField("digest", StringType()),
        StructField("encoding", StringType()),
        StructField("timestamp", TimestampType()),
    ]
)

JSONL_SCHEMA = StructType(
    [
        StructField("domain_record", DOMAIN_RECORD_SCHEMA),
        StructField("additional_info", MapType(StringType(), StringType())),
    ]
)


def read_domain_records(spark: SparkSession, path: str) -> DataFrame:
    """S8 — one row per record, domain_record flattened to columns."""
    raw = spark.read.schema(JSONL_SCHEMA).json(path)
    return raw.select("domain_record.*", "additional_info")


#: url-inference tag patterns, in the reference's priority order
#: (downloader.py:303-329): meta[property='og:url'] -> link[rel='home']
#: -> link[title*='RSS'] -> link[media*='handheld']; each yields
#: (tag-matching regex, attribute to read). Two-step extraction (match
#: the whole tag, then pull the attribute out of the matched span) so
#: attribute ORDER inside the tag doesn't matter — same as the
#: reference's CSS attribute selectors.
_URL_TAG_PATTERNS = [
    (r'''<meta[^>]*property=["']og:url["'][^>]*>''', "content"),
    (r'''<link[^>]*rel=["']home["'][^>]*>''', "href"),
    (r'''<link[^>]*title=["'][^"']*RSS[^"']*["'][^>]*>''', "href"),
    (r'''<link[^>]*media=["'][^"']*handheld[^"']*["'][^>]*>''', "href"),
]


def _tag_attr(text: Column, tag_re: str, attr: str) -> Column:
    tag = F.regexp_extract(text, tag_re, 0)
    return F.nullif(
        F.regexp_extract(tag, attr + r'''=["']([^"']+)["']''', 1), F.lit("")
    )


def infer_url_col(text: Column) -> Column:
    """First-hit URL inference over decoded page text (S7)."""
    return F.coalesce(
        *[_tag_attr(text, p, attr) for p, attr in _URL_TAG_PATTERNS]
    )


def read_html_files(spark: SparkSession, path: str) -> DataFrame:
    """S7 — whole-file HTML scan + native metadata inference."""
    files = spark.read.format("binaryFile").load(path)
    text = F.decode(F.col("content"), "utf-8")
    url = infer_url_col(text)
    year = F.nullif(
        F.regexp_extract(F.col("path"), r"(\d{4})", 1), F.lit("")
    ).cast("int")
    return files.select(
        F.col("path").alias("source_path"),
        F.col("content").alias("html"),
        url.alias("url"),
        year.alias("inferred_year"),
    )
