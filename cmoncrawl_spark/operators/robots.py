"""robots.txt parsing + enforcement (north_rule: per-host politeness
"enforcing crawl-delay and robots.txt rules").

The reference has no robots layer (it consumes already-crawled WARCs);
this is a north_rule addition, implemented REP-style (RFC 9309):

- :func:`parse_robots` — robots.txt text -> rules DataFrame, all
  native expressions: split lines, strip comments, parse
  ``field: value`` pairs, track the active user-agent group (the line
  number of the nearest preceding ``User-agent:`` header chain), keep
  the groups whose chain names ``*``, the only agent the engine
  crawls as.
- :func:`host_policies_from_robots` — per-host policy row:
  crawl_delay (first in the winning group) + robots_disallow_all
  (a ``Disallow: /`` with no overriding ``Allow``).
- :func:`urls_allowed` — longest-match-wins allow/disallow per URL
  (RFC 9309 §2.2.2: most specific path prefix; Allow wins ties).
  One broadcast join (rules tables are tiny next to a frontier) + one
  max_by aggregation per URL; no UDF anywhere.

Group tracking trick (pure exprs, no iteration): explode lines WITH
``posexplode``; a line's group id = max line-number of any
``user-agent`` line at-or-before it that starts a group (computed with
a running max window per host — user-agent lines directly following
another user-agent line CHAIN into the same group per RFC 9309 §2.1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cmoncrawl_spark.functions.urls import path_col

#: crawl delay of a host whose robots.txt sets none, and of a host
#: with no policy row in ``frontier.fetch_schedule``.
DEFAULT_CRAWL_DELAY_S = 1.0

#: a scheme followed by no ``/``, after what ``urlsplit`` drops in
#: front: an opaque URI (``mailto:x``), matched as the path ``/``.
_OPAQUE_RE = r"^[\x00-\x20]*[A-Za-z][A-Za-z0-9+.\-]*:[^/]"


def _lines(robots_col: Column) -> Column:
    # normalize CRLF, split; comments stripped per-line later.
    return F.split(F.regexp_replace(robots_col, "\r\n", "\n"), "\n")


def parse_robots(df: DataFrame) -> DataFrame:
    """(host, robots_txt) -> (host, rule, path, line_no), rules of the
    group(s) whose ``User-agent`` chain names ``*``. The engine crawls
    as ``*``, which no named agent's group matches (RFC 9309 §2.2.1),
    so those groups are dropped.

    rule ∈ {'allow', 'disallow', 'crawl-delay'}; for crawl-delay,
    ``path`` holds the numeric value as a string.
    """
    lined = df.select(
        "host", F.posexplode(_lines(F.col("robots_txt"))).alias("line_no", "raw")
    )
    # strip comments + whitespace; parse field/value.
    stripped = F.trim(F.regexp_replace(F.col("raw"), "#.*$", ""))
    field = F.lower(F.trim(F.regexp_extract(stripped, r"^([^:]+):", 1)))
    value = F.trim(F.regexp_extract(stripped, r"^[^:]+:(.*)$", 1))
    parsed = lined.select(
        "host", "line_no", field.alias("field"), value.alias("value")
    ).where(F.col("field") != "")

    # group id: a user-agent line starts (or chains into) a group. A
    # non-UA line belongs to the group of the latest UA CHAIN start
    # before it. Chain start = UA line whose previous line is not UA.
    w = Window.partitionBy("host").orderBy("line_no")
    is_ua = F.col("field") == "user-agent"
    prev_ua = F.lag(is_ua, 1, False).over(w)
    chain_start = F.when(is_ua & ~prev_ua, F.col("line_no"))
    grouped = parsed.withColumn(
        "group_id",
        F.last(chain_start, ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).where(F.col("group_id").isNotNull())

    # which agents own each group
    agents = (
        grouped.where(is_ua)
        .groupBy("host", "group_id")
        .agg(F.collect_set(F.lower(F.col("value"))).alias("agents"))
    )
    rules = grouped.where(~is_ua).join(agents, ["host", "group_id"])
    return rules.where(F.array_contains(F.col("agents"), "*")).select(
        "host",
        F.col("field").alias("rule"),
        F.col("value").alias("path"),
        "line_no",
    ).where(F.col("rule").isin("allow", "disallow", "crawl-delay"))


def host_policies_from_robots(rules: DataFrame) -> DataFrame:
    """(host, crawl_delay_s, robots_disallow_all) from parsed rules; a
    host without a crawl-delay rule gets ``DEFAULT_CRAWL_DELAY_S``."""
    delay = (
        rules.where(F.col("rule") == "crawl-delay")
        .groupBy("host")
        .agg(F.min_by("path", "line_no").cast("double").alias("crawl_delay_s"))
    )
    # disallow-all: a 'Disallow: /' present and no 'Allow: /' override
    flags = rules.groupBy("host").agg(
        F.max(
            ((F.col("rule") == "disallow") & (F.col("path") == "/")).cast("int")
        ).alias("_dis_all"),
        F.max(
            ((F.col("rule") == "allow") & (F.col("path") == "/")).cast("int")
        ).alias("_allow_all"),
    )
    hosts = rules.select("host").distinct()
    return (
        hosts.join(flags, "host", "left")
        .join(delay, "host", "left")
        .select(
            "host",
            F.coalesce(F.col("crawl_delay_s"), F.lit(DEFAULT_CRAWL_DELAY_S)).alias(
                "crawl_delay_s"
            ),
            (
                (F.coalesce(F.col("_dis_all"), F.lit(0)) == 1)
                & (F.coalesce(F.col("_allow_all"), F.lit(0)) == 0)
            ).alias("robots_disallow_all"),
        )
    )


def urls_allowed(urls: DataFrame, rules: DataFrame) -> DataFrame:
    """urls (url, host, ...) + allowed:boolean — RFC 9309
    longest-match semantics.

    For each URL: among allow/disallow rules of its host whose path is
    a prefix of the URL path, the LONGEST path wins; on a tie, allow
    wins; no matching rule (or empty Disallow) => allowed.

    Plan: rules collapse to ONE array row per host (tiny — the rule
    table is bounded by robots.txt sizes), broadcast hash join on
    host, and the longest-match winner resolves with higher-order
    array expressions (filter + aggregate) inside codegen. The
    frontier is never shuffled and never row-expanded: one output row
    per input row, no groupBy, no window, no UDF. (The previous shape
    — expand the join then groupBy every url column — shuffled the
    whole frontier on a wide key; this one is shuffle-free.)
    """
    url = F.col("url")
    path = path_col(url)
    no_path = url.isNull() | url.rlike(_OPAQUE_RE) | (path == "")
    u = urls.withColumn("_path", F.when(no_path, "/").otherwise(path))
    per_host = (
        rules.where(F.col("rule").isin("allow", "disallow"))
        .where(F.col("path") != "")  # 'Disallow:' empty = allow all
        .groupBy(F.col("host").alias("_rhost"))
        .agg(
            F.collect_list(
                F.struct(F.col("path").alias("p"), F.col("rule").alias("r"))
            ).alias("_rules")
        )
    )
    joined = u.join(
        F.broadcast(per_host), F.col("host") == F.col("_rhost"), "left"
    )
    matching = F.filter(
        F.col("_rules"), lambda x: F.col("_path").startswith(x["p"])
    )
    # fold to the winner: longer path replaces; equal length + allow
    # replaces (allow wins ties). Null start => null when no match.
    winner = F.aggregate(
        matching,
        F.lit(None).cast("struct<p:string,r:string>"),
        lambda acc, x: F.when(
            acc.isNull()
            | (F.length(x["p"]) > F.length(acc["p"]))
            | (
                (F.length(x["p"]) == F.length(acc["p"]))
                & (x["r"] == "allow")
            ),
            x,
        ).otherwise(acc),
    )
    return joined.select(
        *urls.columns,
        (winner.isNull() | (winner["r"] == "allow")).alias("allowed"),
    )
