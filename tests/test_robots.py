"""robots.txt operator semantics (RFC 9309) — north_rule politeness."""

from __future__ import annotations

from pyspark.sql import functions as F

from cmoncrawl_spark.operators.robots import (
    host_policies_from_robots,
    parse_robots,
    urls_allowed,
)

ROBOTS = """\
# comment-only line
User-agent: googlebot
Disallow: /goog
Crawl-delay: 9

User-agent: aBot
User-agent: bBot
Disallow: /ab

User-agent: *
Crawl-delay: 2
Disallow: /private
Allow: /private/ok
Disallow:
"""


def _df(spark, txt=ROBOTS, host="h.com"):
    return spark.createDataFrame([(host, txt)], "host string, robots_txt string")


def test_group_selection_star_vs_specific(spark):
    # the * group only: the named agents' groups are not merged in
    star = parse_robots(_df(spark)).collect()
    assert {(r["rule"], r["path"]) for r in star} == {
        ("crawl-delay", "2"),
        ("disallow", "/private"),
        ("allow", "/private/ok"),
        ("disallow", ""),
    }


def test_chained_user_agent_lines_share_group(spark):
    chain = ["User-agent: aBot", "User-agent: bBot"]
    for at in range(len(chain) + 1):
        agents = chain[:at] + ["User-agent: *"] + chain[at:]
        txt = "\n".join(
            ["User-agent: googlebot", "Disallow: /goog", ""]
            + agents
            + ["Disallow: /ab", "", "User-agent: cBot", "Disallow: /c"]
        )
        rules = parse_robots(_df(spark, txt)).collect()
        assert {(r["rule"], r["path"]) for r in rules} == {("disallow", "/ab")}


def test_policies_delay_and_disallow_all(spark):
    txt = "User-agent: *\nCrawl-delay: 7\nDisallow: /\n"
    pol = host_policies_from_robots(parse_robots(_df(spark, txt))).first()
    assert pol["crawl_delay_s"] == 7.0
    assert pol["robots_disallow_all"] is True
    # Allow: / overrides the blanket disallow
    txt2 = "User-agent: *\nDisallow: /\nAllow: /\n"
    pol2 = host_policies_from_robots(parse_robots(_df(spark, txt2))).first()
    assert pol2["robots_disallow_all"] is False
    assert pol2["crawl_delay_s"] == 1.0  # default
    # the first Crawl-delay line wins, after a rule and over a smaller
    # later one; a named agent's delay and a non-number give the default
    delays = {
        "first": "User-agent: *\nDisallow: /x\nCrawl-delay: 5\nCrawl-delay: 3\n",
        "named": "User-agent: bot\nCrawl-delay: 9\n\nUser-agent: *\nDisallow: /x\n",
        "nan": "User-agent: *\nCrawl-delay: soon\nDisallow: /x\n",
    }
    robots = spark.createDataFrame(
        list(delays.items()), "host string, robots_txt string"
    )
    got = {
        r["host"]: (r["crawl_delay_s"], r["robots_disallow_all"])
        for r in host_policies_from_robots(parse_robots(robots)).collect()
    }
    assert got == {
        "first": (5.0, False), "named": (1.0, False), "nan": (1.0, False),
    }


def test_longest_match_allow_wins_ties(spark):
    rules = parse_robots(_df(spark))
    urls = spark.createDataFrame(
        [
            (1, "https://h.com/private/x", "h.com"),      # /private
            (2, "https://h.com/private/ok/y", "h.com"),   # longer Allow
            (3, "https://h.com/other", "h.com"),          # unmatched
            (4, "https://h.com/", "h.com"),               # unmatched
            (5, "https://other.com/private/x", "other.com"),  # no rules
            # java.net.URI rejects a raw space; urlsplit's path keeps it
            (6, "https://h.com/private/a b", "h.com"),
            (7, "https://h.com/private/ok/a b", "h.com"),
            (8, "https://u@h.com:8080/private/x?q=1#f", "h.com"),
            (9, "https://h.com?next=/private/x", "h.com"),  # path ''
        ],
        "id long, url string, host string",
    )
    got = {r["id"]: r["allowed"] for r in urls_allowed(urls, rules).collect()}
    assert got == {
        1: False, 2: True, 3: True, 4: True, 5: True,
        6: False, 7: True, 8: False, 9: True,
    }


def test_path_read_as_urlsplit_and_url_id_read_it(spark):
    """The robots path is ``urlsplit``'s, the one the URL id reads: a
    tab, CR or LF anywhere and leading spaces are dropped first."""
    from urllib.parse import urlsplit

    from cmoncrawl_spark.functions.urls import unify_url_id_col, unify_url_id_py

    rules = parse_robots(_df(spark))
    raw = [
        "https://h.com/pri\tvate/x",
        " https://h.com/private/y",
        "https://h.com/private/o\nk/z",
    ]
    urls = spark.createDataFrame(
        [(i, u, "h.com") for i, u in enumerate(raw)],
        "id long, url string, host string",
    )
    got = {
        r["id"]: (r["allowed"], r["url_id"])
        for r in urls_allowed(urls, rules)
        .withColumn("url_id", unify_url_id_col(F.col("url")))
        .collect()
    }
    assert [urlsplit(u).path for u in raw] == [
        "/private/x", "/private/y", "/private/ok/z",
    ]
    assert {i: a for i, (a, _) in got.items()} == {0: False, 1: False, 2: True}
    assert all(got[i][1] == unify_url_id_py(u) for i, u in enumerate(raw))
    # an opaque URI is matched as '/', after the same leading drop
    opaque = spark.createDataFrame(
        [(0, "\x01 mailto:someone@h.com", "h.com")],
        "id long, url string, host string",
    )
    block_all = parse_robots(_df(spark, "User-agent: *\nDisallow: /\n"))
    assert urls_allowed(opaque, block_all).first()["allowed"] is False


def test_exact_tie_allow_wins(spark):
    txt = "User-agent: *\nDisallow: /p\nAllow: /p\n"
    rules = parse_robots(_df(spark, txt))
    urls = spark.createDataFrame(
        [(1, "https://h.com/p/z", "h.com")], "id long, url string, host string"
    )
    assert urls_allowed(urls, rules).first()["allowed"] is True


def test_round_from_parsed_robots_equals_policy_table(spark, sf_dir):
    """Composition: robots.txt -> parsed policies (+ budget formula)
    -> scheduling_round must equal the round driven by the synthetic
    host_policies table the robots text was generated from."""
    from cmoncrawl_spark.datagen import register_crawl_views
    from cmoncrawl_spark.operators.frontier import scheduling_round

    register_crawl_views(spark, sf_dir)
    frontier = spark.table("pages").select("url", "depth", "priority")
    seen = spark.table("seen")

    parsed = host_policies_from_robots(
        parse_robots(spark.table("robots"))
    ).select(
        "host",
        F.floor(60.0 / F.col("crawl_delay_s")).cast("int").alias("budget"),
        "robots_disallow_all",
    )
    via_robots = {
        tuple(r)
        for r in scheduling_round(frontier, seen, parsed).collect()
    }
    via_table = {
        tuple(r)
        for r in scheduling_round(
            frontier, seen, spark.table("host_policies")
        ).collect()
    }
    assert via_robots == via_table and len(via_robots) > 0
