"""`cmon`-compatible CLI over the Spark engine.

Mirrors the reference's two commands (integrations/commands.py:44-58,
download.py:81-128, extract.py:84-121) so a CmonCrawl user can switch:

  python -m cmoncrawl_spark download <output> <urls...> {record|html}
      (--table_dir DIR | --cdx_server URL) [--match_type ...]
      [--since ISO] [--to ISO] [--limit N] [--max_crawls_per_file N]
      [--dao_base URL|DIR]
  python -m cmoncrawl_spark extract <config.json> <output> <files...>
      {record|html} [--url URL] [--max_crawls_per_file N] [--dao_base URL|DIR]
  python -m cmoncrawl_spark crawl <output> <urls...> --cdx_server URL
      [--budget N] [--crawl_delay S] [--domain_politeness] [--seen_dir DIR]
      [--max_requests_per_second R] [--max_crawls_per_file N]

  ``--verbosity/-v {0,1,2}`` before the command sets the
  ``cmoncrawl_spark`` log level: WARNING, INFO (default) or DEBUG.

Mappings (Spark-first, documented divergences):
- the index "aggregator" is the cc-index TABLE (the parquet directory
  --table_dir, in the cc-index column layout) queried by
  operators/ccindex.index_query — no Athena; the same
  match-type/date/limit semantics. --cdx_server queries the live CDX
  gateway instead, and one of the two is required.
- record download emits the reference's JSONL shape
  ``{"domain_record": {...}}`` with sorted keys (streamer.py:205-212).
- extract config JSON is the reference's ExtractConfig schema
  (cfg.json); extractor plugins are modules under ``extractors_path``
  defining NAME and ``extractor`` (a SparkExtractor).
- outputs are Spark-written directories (part-* files) with rotation
  via maxRecordsPerFile — the distributed analog of the reference's
  0_file.jsonl rotation counters.
- record extract reads html embedded in the jsonl ("html" key); with
  --dao_base it range-fetches each WARC record via the HTTP/local DAO
  instead (the reference's API/S3 download path) and extracts from
  the response payload, decoded with its HTTP Content-Type charset.
- a config names one route with one extractor; the reference's
  multi-route router is not implemented, so more is refused. Record
  extract keeps only the records that route takes (url matched by its
  regexes, crawl time inside the extractor's since/to) and drops the
  rest before any fetch. Html mode has no crawl time and routes
  nothing, so extract has no ``--date``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import logging
import os
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType


# ----------------------------------------------------------------- helpers


def _spark(app: str) -> SparkSession:
    from cmoncrawl_spark.session import get_spark

    return get_spark(app)


def _write_jsonl(df: DataFrame, path: str, max_per_file: int) -> None:
    from cmoncrawl_spark.sinks.jsonl import write_jsonl

    write_jsonl(df, path, max_file_size=max_per_file)


def _fetch_responses(recs: DataFrame, base: str) -> DataFrame:
    """Range-fetch each (filename, offset, length) row from ``--dao_base``
    and parse the WARC record there into ``html`` + ``content_type``.
    An http(s) base gets range GETs retried on 5xx (reference
    downloader.py:104-119); anything else is a local archive
    directory."""
    from cmoncrawl_spark.sources.dao import (
        HTTPRangeDAO,
        LocalFileDAO,
        RetryingDAO,
        fetch_ranges,
        warc_responses,
    )

    factory = (
        (lambda: RetryingDAO(HTTPRangeDAO(base)))
        if "://" in base
        else (lambda: LocalFileDAO(base))
    )
    return warc_responses(fetch_ranges(recs, factory))


def load_config(path: str) -> dict:
    """Reference ExtractConfig loader (extract.py:176-184): validates
    the minimal shape instead of pydantic. ``run_extract`` applies one
    extractor to every row its one route takes, so a second route or a
    second extractor is refused rather than silently ignored."""
    with open(path) as f:
        cfg = json.load(f)
    if "routes" not in cfg or not isinstance(cfg["routes"], list):
        raise ValueError("config must define routes: [...]")
    for r in cfg["routes"]:
        if "regexes" not in r or "extractors" not in r:
            raise ValueError("each route needs regexes + extractors")
    if len(cfg["routes"]) != 1:
        raise ValueError(
            f"{path}: one route is supported, got {len(cfg['routes'])}; "
            f"extra: {cfg['routes'][1:]}"
        )
    extractors = cfg["routes"][0]["extractors"]
    if len(extractors) != 1:
        raise ValueError(
            f"{path}: one extractor per route is supported, got "
            f"{len(extractors)}; extra: {extractors[1:]}"
        )
    return cfg


def import_extractor(extractors_path: str, name: str):
    """Import ``<extractors_path>/<name>.py`` and return its
    ``extractor`` object (the reference's plugin protocol,
    router.py:51-89)."""
    mod_path = os.path.join(extractors_path, f"{name}.py")
    spec = importlib.util.spec_from_file_location(name, mod_path)
    if spec is None or spec.loader is None:
        raise ImportError(f"no extractor module at {mod_path}")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return getattr(mod, "extractor")


# ----------------------------------------------------------------- download


def run_download(args: argparse.Namespace) -> None:
    spark = _spark("cmon-download")
    since = datetime.fromisoformat(args.since) if args.since else None
    to = datetime.fromisoformat(args.to) if args.to else None
    if args.cdx_server:
        # live gateway path: the crawl need not exist as a table
        # (reference gateway_query.py:142-241)
        from cmoncrawl_spark.sources.gateway import cdx_records, cdx_timestamp

        live = cdx_records(
            spark,
            args.cdx_server,
            args.urls,
            match_type=args.match_type,
            since=cdx_timestamp(since) if since else None,
            to=cdx_timestamp(to) if to else None,
        )
        recs = live.select(
            "url",
            F.col("filename").alias("warc_filename"),
            F.col("offset").alias("warc_record_offset"),
            F.col("length").alias("warc_record_length"),
            F.col("warc_ts").alias("fetch_time"),
        )
        if args.limit:
            recs = recs.orderBy("url", "warc_record_offset").limit(args.limit)
    else:
        from cmoncrawl_spark.operators.ccindex import MatchType, index_query

        recs = index_query(
            spark.read.parquet(args.table_dir),
            args.urls,
            MatchType(args.match_type),
            since=since,
            to=to,
            limit=args.limit,
        )
    if args.mode == "record":
        # the reference's record output shape: one sorted-keys
        # {"domain_record": {...}} object per line.
        from cmoncrawl_spark.functions.scalars import to_sql_date

        dr = F.struct(
            F.lit(None).cast("string").alias("digest"),
            F.lit(None).cast("string").alias("encoding"),
            F.col("warc_filename").alias("filename"),
            F.col("warc_record_length").alias("length"),
            F.col("warc_record_offset").alias("offset"),
            to_sql_date(F.col("fetch_time")).alias("timestamp"),
            F.col("url").alias("url"),
        )
        out = recs.select(dr.alias("domain_record"))
        _write_jsonl(out, args.output, args.max_crawls_per_file)
    else:  # html: range-fetch each WARC record, write its page
        from cmoncrawl_spark.sinks.jsonl import write_html_files

        fetched = _fetch_responses(
            recs.select(
                "url",
                F.col("warc_filename").alias("filename"),
                F.col("warc_record_offset").alias("offset"),
                F.col("warc_record_length").alias("length"),
            ),
            args.dao_base or "https://data.commoncrawl.org",
        )
        write_html_files(fetched.select("url", "html"), args.output)
    print(f"wrote {args.output}")


# ------------------------------------------------------------------ crawl


def run_crawl(args: argparse.Namespace) -> None:
    """Composed live pipeline, ONE Spark job graph: CDX gateway
    discovery -> frontier scheduling round (canonicalize, dedupe,
    politeness budget, per-host top-k) -> crawl-delay-spaced fetch
    schedule -> rotated JSONL sink.

    This is the engine's analog of the reference's `cmon download`
    composition (integrations/download.py:282-332: query the index,
    throttle per host, stream to the sink) re-expressed frontier-first
    per the north_rule: discovery feeds a scheduling round instead of
    an async fetch pool, and politeness is an explicit budget +
    fetch_offset_ms column rather than a runtime sleep."""
    spark = _spark("cmon-crawl")
    from cmoncrawl_spark.functions.urls import host_col
    from cmoncrawl_spark.operators.frontier import (
        fetch_schedule,
        scheduling_round,
    )
    from cmoncrawl_spark.sources.gateway import cdx_records

    live = cdx_records(
        spark,
        args.cdx_server,
        args.urls,
        match_type=args.match_type,
        max_requests_per_second=args.max_requests_per_second,
    )
    frontier = (
        live.select("url")
        .distinct()
        .withColumn("depth", F.lit(0))
        .withColumn("priority", F.lit(1.0))
    )
    # no --seen_dir: a first crawl, with provably no history
    seen = (
        spark.read.parquet(args.seen_dir).select("url_id")
        if args.seen_dir
        else None
    )
    hosts = frontier.select(host_col(F.col("url")).alias("host")).distinct()
    if args.domain_politeness:
        # scheduling_round rewrites each candidate's politeness key to
        # the PSL registered domain (eTLD+1) and then INNER-joins the
        # policies table on it — so the policies must be keyed the
        # same way, or every subdomain URL silently vanishes at the
        # join (raw hosts like 'www.example.com' never match the
        # rewritten key 'example.com'). Both sides are keyed by
        # psl.with_domain_key, the one definition of the key.
        from cmoncrawl_spark.functions.psl import with_domain_key

        hosts = with_domain_key(hosts).distinct()
    policies = hosts.select(
        "host",
        F.lit(args.budget).cast("int").alias("budget"),
        F.lit(False).alias("robots_disallow_all"),
        F.lit(float(args.crawl_delay)).alias("crawl_delay_s"),
    )
    sched = scheduling_round(
        frontier,
        seen,
        policies.drop("crawl_delay_s"),
        domain_politeness=args.domain_politeness,
        budget_cap=args.budget,
    )
    out = fetch_schedule(
        sched,
        policies.select("host", "crawl_delay_s"),
        default_delay=float(args.crawl_delay),
    )
    _write_jsonl(out, args.output, args.max_crawls_per_file)
    print(f"wrote {args.output}")


# ------------------------------------------------------------------ extract


def run_extract(args: argparse.Namespace) -> None:
    from cmoncrawl_spark.extraction.extractor import apply_extractor
    from cmoncrawl_spark.sources.jsonl import JSONL_SCHEMA, read_html_files

    cfg = load_config(args.config)
    spark = _spark("cmon-extract")
    extractors_path = cfg.get("extractors_path", ".")

    # load_config admits exactly one route with one extractor
    route0 = cfg["routes"][0]
    ex0 = route0["extractors"][0]
    name = ex0["name"]
    extractor = import_extractor(extractors_path, name)

    if args.mode == "html":
        df = read_html_files(spark, args.files)
        if args.url:
            df = df.withColumn("url", F.lit(args.url))
        out = apply_extractor(
            df, extractor, passthrough=["source_path"], url_col="url"
        )
    else:  # record mode: jsonl with embedded html (or DAO fetch)
        from cmoncrawl_spark.operators.routing import Route, route_records

        schema = StructType(
            JSONL_SCHEMA.fields + [StructField("html", StringType())]
        )
        raw = spark.read.schema(schema).json(args.files)
        # route before the fetch: a record whose url the route's
        # regexes miss, or whose crawl time falls outside the
        # extractor's since/to window, is neither fetched nor extracted
        # (a null time under a window matches no route)
        since, to = (
            datetime.fromisoformat(ex0[k]) if ex0.get(k) else None
            for k in ("since", "to")
        )
        route = Route(name, route0["regexes"], since, to)
        flat = route_records(
            raw.select(
                F.col("domain_record.url").alias("url"),
                F.col("domain_record.filename").alias("filename"),
                F.col("domain_record.offset").alias("offset"),
                F.col("domain_record.length").alias("length"),
                F.col("domain_record.encoding").alias("record_encoding"),
                F.col("domain_record.timestamp").alias("timestamp"),
                "html",
            ),
            [route],
            ts_col="timestamp",
        ).where(F.col("route").isNotNull())
        if args.dao_base:
            df = _fetch_responses(
                flat.select("url", "filename", "offset", "length", "record_encoding"),
                args.dao_base,
            )
        else:
            df = flat.where(
                F.col("html").isNotNull() & (F.col("html") != "")
            ).select(
                "url",
                F.encode("html", "UTF-8").alias("html"),
                "record_encoding",
            )
        out = apply_extractor(
            df,
            extractor,
            passthrough=["url"],
            record_encoding_col="record_encoding",
        )
    _write_jsonl(out, args.output, args.max_crawls_per_file)
    print(f"wrote {args.output}")


# --------------------------------------------------------------------- main


def build_parser() -> argparse.ArgumentParser:
    from cmoncrawl_spark.operators.robots import DEFAULT_CRAWL_DELAY_S

    p = argparse.ArgumentParser(prog="cmoncrawl_spark")
    p.add_argument("--verbosity", "-v", type=int, choices=[0, 1, 2], default=1)
    sub = p.add_subparsers(dest="command", required=True)

    d = sub.add_parser(
        "download", help="Query the cc-index table or the CDX gateway"
    )
    d.add_argument("output")
    d.add_argument("urls", nargs="+")
    d.add_argument("mode", choices=["record", "html"])
    d.add_argument(
        "--match_type",
        default="domain",
        choices=["exact", "prefix", "host", "domain"],
    )
    d.add_argument("--since", default=None)
    d.add_argument("--to", default=None)
    d.add_argument("--limit", type=int, default=5)
    d.add_argument("--max_crawls_per_file", type=int, default=500_000)
    d.add_argument(
        "--table_dir",
        help="parquet directory of the cc-index table; required "
        "without --cdx_server",
    )
    d.add_argument("--dao_base", default=None)
    d.add_argument(
        "--cdx_server",
        default=None,
        help="live CDX gateway endpoint (e.g. https://index.commoncrawl.org/"
        "CC-MAIN-2023-14-index); bypasses --table_dir",
    )
    d.set_defaults(func=run_download)

    c = sub.add_parser(
        "crawl",
        help="Live CDX discovery -> scheduling round -> fetch schedule",
    )
    c.add_argument("output")
    c.add_argument("urls", nargs="+")
    c.add_argument("--cdx_server", required=True)
    c.add_argument(
        "--match_type",
        default="domain",
        choices=["exact", "prefix", "host", "domain"],
    )
    c.add_argument("--budget", type=int, default=5,
                   help="per-host fetches per round")
    c.add_argument("--crawl_delay", type=float, default=DEFAULT_CRAWL_DELAY_S,
                   help="seconds between fetches of one host")
    c.add_argument("--domain_politeness", action="store_true",
                   help="politeness key = PSL registered domain")
    c.add_argument("--seen_dir", default=None,
                   help="parquet dir of already-seen url_ids")
    c.add_argument("--max_requests_per_second", type=float, default=10.0)
    c.add_argument("--max_crawls_per_file", type=int, default=500_000)
    c.set_defaults(func=run_crawl)

    e = sub.add_parser("extract", help="Extract fields from records/html")
    e.add_argument("config")
    e.add_argument("output")
    e.add_argument("files", nargs="+")
    e.add_argument("mode", choices=["record", "html"])
    e.add_argument("--url", default=None)
    e.add_argument("--max_crawls_per_file", type=int, default=500_000)
    e.add_argument("--dao_base", default=None)
    e.set_defaults(func=run_extract)
    return p


#: ``--verbosity`` -> level of the ``cmoncrawl_spark`` logger.
_LOG_LEVELS = (logging.WARNING, logging.INFO, logging.DEBUG)


def main(argv: list[str] | None = None) -> None:
    parser = build_parser()
    args = parser.parse_args(argv)
    logging.basicConfig()
    logging.getLogger("cmoncrawl_spark").setLevel(_LOG_LEVELS[args.verbosity])
    if args.command == "download" and not (args.cdx_server or args.table_dir):
        parser.error("download needs --table_dir or --cdx_server")
    args.func(args)


if __name__ == "__main__":
    main()
