"""Route matching (SURVEY §2 J1) — regex + validity-interval dispatch.

The reference scans registered routes in registration order and the
first route whose regex matches the url AND whose [since, to) interval
contains the timestamp wins; no match raises
(/root/reference/cmoncrawl/processor/pipeline/router.py:141-168).

Spark-first: the route table is tiny and static, so the whole dispatch
compiles to a single CASE WHEN expression chain (pure Catalyst,
whole-stage codegen, no UDF, no join, no shuffle). First-match-wins
order is preserved by CASE WHEN evaluation order.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class Route:
    """Reference Route struct (router.py:23-28): name + url regexes +
    validity interval (None = open)."""

    name: str
    regexes: list[str]
    since: datetime | None = None
    to: datetime | None = None


def route_expr(
    routes: list[Route],
    url_col: Column,
    ts_col: Column,
    no_match: str | None = None,
) -> Column:
    """First-match-wins dispatch as one CASE WHEN chain.

    ``no_match=None`` yields NULL for unrouted rows (caller decides —
    the reference raises; a DataFrame job filters or fails on
    ``route IS NULL``).
    """
    expr: Column | None = None
    chain = []
    for r in routes:
        cond = None
        for rx in r.regexes:
            c = url_col.rlike(rx)
            cond = c if cond is None else (cond | c)
        if cond is None:
            continue
        if r.since is not None:
            cond = cond & (ts_col >= F.lit(r.since))
        if r.to is not None:
            cond = cond & (ts_col < F.lit(r.to))
        chain.append((cond, r.name))
    if not chain:
        return F.lit(no_match)
    expr = F.when(chain[0][0], F.lit(chain[0][1]))
    for cond, name in chain[1:]:
        expr = expr.when(cond, F.lit(name))
    return expr.otherwise(F.lit(no_match))


def route_records(
    records: DataFrame,
    routes: list[Route],
    ts_col: str = "warc_ts",
    no_match: str | None = None,
) -> DataFrame:
    """``records`` plus a ``route`` column dispatched on ``url``."""
    return records.withColumn(
        "route", route_expr(routes, F.col("url"), F.col(ts_col), no_match)
    )
