"""Bloom seen-set + frontier scheduling round tests."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from cmoncrawl_spark.datagen import register_crawl_views
from cmoncrawl_spark.operators import bloom as bloom_ops
from cmoncrawl_spark.operators.frontier import (
    canonicalize,
    dedupe_intra_batch,
    per_host_topk,
    scheduling_round,
    with_host,
)


def _frontier(spark, sf_dir):
    register_crawl_views(spark, sf_dir)
    return spark.table("pages").select("url", "depth", "priority")


def _seen(spark):
    return (
        spark.table("pages")
        .where(F.col("doc_id") % 6 == 0)
        .select(F.col("canonical_expected").alias("url_id"))
        .distinct()
    )


def test_bloom_no_false_negatives(spark, sf_dir):
    register_crawl_views(spark, sf_dir)
    seen = _seen(spark)
    shards = bloom_ops.build_shards(seen, num_shards=8, expected_per_shard=1000)
    n = seen.count()
    pos = bloom_ops.probe_positive_ids(seen, shards, num_shards=8).count()
    assert n > 0 and pos == n  # every inserted id must probe positive


def test_slim_probe_positive_ids_supersets_seen(spark, sf_dir):
    """probe_positive_ids == {ids whose bloom test passes}: contains
    every truly-seen candidate (no false negatives) and agrees exactly
    with the bit test redone on the driver from the collected blobs."""
    register_crawl_views(spark, sf_dir)
    cand = canonicalize(_frontier(spark, sf_dir))
    seen = _seen(spark)
    shards = bloom_ops.build_shards(seen, num_shards=8, expected_per_shard=1000)
    pos = [
        r["url_id"]
        for r in bloom_ops.probe_positive_ids(
            cand, shards, num_shards=8
        ).collect()
    ]
    blobs = {r["shard_id"]: r for r in shards.collect()}
    hashed = bloom_ops.with_bloom_hashes(cand.select("url_id")).withColumn(
        "shard", bloom_ops.shard_of(F.col("h1"), 8)
    )
    want = []
    for r in hashed.collect():
        blob = blobs.get(r["shard"])
        h1, h2 = (np.array([r[c]], dtype=np.int64).view(np.uint64) for c in ("h1", "h2"))
        if blob is not None and bloom_ops._test_bits(
            np.frombuffer(blob["bloom"], dtype=np.uint8),
            bloom_ops._positions(h1, h2, blob["k_hashes"], blob["m_bits"]),
        )[0]:
            want.append(r["url_id"])
    assert sorted(pos) == sorted(want)
    truly_seen = {r["url_id"] for r in seen.collect()} & {
        r["url_id"] for r in cand.select("url_id").collect()
    }
    assert truly_seen and truly_seen <= set(pos)


def test_bloom_realized_fpr_within_twice_design(spark):
    """At 32 shards the realized false-positive rate stays within 2x
    the designed ``FPP``. Choosing the shard from the low bits of h1, which
    also drive the bit positions, read ~7% here against a 1% design."""
    n_shards, per_shard, fpp = 32, 2000, bloom_ops.FPP
    n = n_shards * per_shard
    ids = spark.range(2 * n).select(
        "id",
        F.concat(F.lit("fpr.example/p"), F.col("id").cast("string"), F.lit("x"))
        .alias("url_id"),
    )
    seen = ids.where(F.col("id") % 2 == 0).select("url_id")
    unseen = ids.where(F.col("id") % 2 == 1).select("url_id")
    shards = bloom_ops.build_shards(
        seen, num_shards=n_shards, expected_per_shard=per_shard
    ).localCheckpoint()
    assert bloom_ops.probe_positive_ids(seen, shards, num_shards=n_shards).count() == n
    false_pos = bloom_ops.probe_positive_ids(unseen, shards, num_shards=n_shards).count()
    assert false_pos / n <= 2 * fpp, f"realized FPR {false_pos / n:.4f}"


def test_probe_refuses_other_shard_scheme(spark):
    """Blobs sharded another way would give false negatives, so the
    probe raises: on a table without the scheme column at plan time,
    on a blob row with another scheme when the task runs."""
    ids = spark.createDataFrame([("a.com/x",), ("b.org/y",)], "url_id string")
    shards = bloom_ops.build_shards(ids, num_shards=4, expected_per_shard=100)
    with pytest.raises(ValueError, match="shard_scheme"):
        bloom_ops.probe_positive_ids(ids, shards.drop("shard_scheme"), num_shards=4)
    wrong = shards.withColumn("shard_scheme", F.lit(bloom_ops.SHARD_SCHEME + 1))
    with pytest.raises(Exception, match="shard_scheme"):
        bloom_ops.probe_positive_ids(ids, wrong, num_shards=4).collect()


def test_bloom_dedupe_equals_exact_antijoin(spark, sf_dir):
    cand = canonicalize(_frontier(spark, sf_dir))
    seen = _seen(spark)
    shards = bloom_ops.build_shards(seen, num_shards=8, expected_per_shard=1000)
    exact = set(
        r["url"]
        for r in cand.join(seen, "url_id", "left_anti").select("url").collect()
    )
    with_bloom = set(
        r["url"]
        for r in bloom_ops.dedupe_against_seen(cand, seen, shards, num_shards=8)
        .select("url")
        .collect()
    )
    assert with_bloom == exact


def test_fetch_schedule_keeps_unlisted_hosts(spark):
    """Hosts with no policy row (no robots.txt parsed) must still be
    scheduled, at the default crawl delay — not silently dropped."""
    from cmoncrawl_spark.operators.frontier import fetch_schedule

    fetch = spark.createDataFrame(
        [("a.com/1", "a.com", 1), ("a.com/2", "a.com", 2), ("b.org/1", "b.org", 1)],
        "url_id string, host string, fetch_rank int",
    )
    policies = spark.createDataFrame(
        [("a.com", 2.0)], "host string, crawl_delay_s double"
    )
    rows = {
        r["url_id"]: (r["fetch_offset_ms"], r["crawl_delay_s"])
        for r in fetch_schedule(fetch, policies, default_delay=1.0).collect()
    }
    assert rows == {
        "a.com/1": (0, 2.0),
        "a.com/2": (2000, 2.0),
        "b.org/1": (0, 1.0),  # unlisted host kept, default delay
    }


def test_bloom_probe_multi_blob_shards(spark, sf_dir):
    """A shard may carry several blob rows (append-only crawl rounds
    add up to one per shard per round, and nothing compacts them):
    membership must be the OR over ALL blobs, not just the first row —
    a first-row-only probe silently loses half the seen set."""
    register_crawl_views(spark, sf_dir)
    seen = _seen(spark).orderBy("url_id")
    a = seen.limit(20)
    b = seen.subtract(a)
    # different expected_per_shard -> different (m_bits, k_hashes):
    # a shard table legitimately holds two blob rows per shard_id
    shards = bloom_ops.build_shards(
        a, num_shards=4, expected_per_shard=500
    ).unionByName(
        bloom_ops.build_shards(b, num_shards=4, expected_per_shard=2000)
    )
    n = seen.count()
    pos = bloom_ops.probe_positive_ids(seen, shards, num_shards=4).count()
    assert n > 20 and pos == n  # ids from BOTH blobs probe positive

    # exactness contract survives the mixed-parameter shard table
    cand = canonicalize(_frontier(spark, sf_dir))
    exact = set(
        r["url"]
        for r in cand.join(seen, "url_id", "left_anti").select("url").collect()
    )
    got = set(
        r["url"]
        for r in bloom_ops.dedupe_against_seen(cand, seen, shards, num_shards=4)
        .select("url")
        .collect()
    )
    assert got == exact


def test_capped_topk_equals_plain_window(spark, sf_dir):
    """The single capped window (rn <= cap AND rn <= budget) equals a
    plain per-host window cut at each host's own budget."""
    cand = dedupe_intra_batch(canonicalize(_frontier(spark, sf_dir)))
    cand = cand.withColumn(
        "budget", (F.pmod(F.xxhash64("host"), F.lit(4)) + 2).cast("int")
    )
    capped = per_host_topk(cand, budget_cap=5)
    w = Window.partitionBy("host").orderBy(
        F.col("depth").asc(), F.col("priority").desc(), F.col("url_id").asc()
    )
    plain = (
        cand.withColumn("fetch_rank", F.row_number().over(w))
        .where(F.col("fetch_rank") <= F.col("budget"))
    )
    a = sorted(
        (r["host"], r["url_id"], r["fetch_rank"])
        for r in capped.select("host", "url_id", "fetch_rank").collect()
    )
    b = sorted(
        (r["host"], r["url_id"], r["fetch_rank"])
        for r in plain.select("host", "url_id", "fetch_rank").collect()
    )
    assert a == b and len(a) > 0


def test_round_deterministic_across_parallelism(spark, sf_dir):
    frontier = _frontier(spark, sf_dir)
    seen = _seen(spark)
    pol = spark.table("host_policies").withColumnRenamed(
        "robots_disallow_all", "robots_disallow_all"
    )
    outs = []
    for parts in (3, 11):
        out = scheduling_round(frontier.repartition(parts), seen, pol)
        outs.append(
            sorted(
                (r["host"], r["fetch_rank"], r["url_id"])
                for r in out.collect()
            )
        )
    assert outs[0] == outs[1] and len(outs[0]) > 0


def test_round_respects_budget_and_robots(spark, sf_dir):
    frontier = _frontier(spark, sf_dir)
    seen = _seen(spark)
    pol = spark.table("host_policies")
    out = scheduling_round(frontier, seen, pol).cache()
    per_host = out.groupBy("host").agg(
        F.count("*").alias("n"), F.max("budget").alias("budget")
    )
    assert per_host.where(F.col("n") > F.col("budget")).count() == 0
    banned = pol.where("robots_disallow_all").select("host")
    assert out.join(banned, "host", "inner").count() == 0


def test_round_without_budgets_schedules_nothing(spark, sf_dir):
    """A policies table with no non-null budget derives cap 0: the
    round schedules nothing, as a null budget never admits a rank."""
    frontier = _frontier(spark, sf_dir)
    pol = spark.table("host_policies").withColumn(
        "budget", F.lit(None).cast("int")
    )
    assert scheduling_round(frontier, _seen(spark), pol).count() == 0


def test_domain_politeness_canonicalize_edge_hosts(spark, sf_dir):
    """with_host(domain_politeness=True) keys every row by its
    registered domain (eTLD+1) and keeps the edge rows: a host that
    IS a public suffix keeps its raw host key, and a malformed URL
    survives with a NULL host."""
    frontier = _frontier(spark, sf_dir).unionByName(
        spark.createDataFrame(
            [
                ("https://co.uk/path", 1, 0.5),       # host IS a suffix
                ("https://a.b.x.co.za/p", 1, 0.5),    # full-list ccTLD
                ("not a url at all", 2, 0.1),          # null host
            ],
            "url string, depth int, priority double",
        )
    )
    out = with_host(frontier, domain_politeness=True).collect()
    assert len(out) == frontier.count()
    hosts = {r["url"]: r["host"] for r in out}
    assert hosts["https://co.uk/path"] == "co.uk"       # suffix keeps host
    assert hosts["https://a.b.x.co.za/p"] == "x.co.za"  # eTLD+1
    assert "not a url at all" in hosts
    assert hosts["not a url at all"] is None


def test_round_keeps_root_page_beside_uri_rejected_url(spark):
    """A URL ``java.net.URI`` rejects no longer shares the id of its
    host's root page: it cannot win that id's dedupe and take the root
    page out of the round. Its host is ``urlsplit``'s hostname, so it is
    scheduled beside the root page; a mixed-case host meets the
    lowercase policy row."""
    frontier = spark.createDataFrame(
        [
            ("http://h.com/", 0, 0.5),
            ("http://h.com/a b", 0, 0.9),
            ("http://H.com/x", 0, 0.1),
        ],
        "url string, depth int, priority double",
    )
    pol = spark.createDataFrame(
        [("h.com", 10, False)],
        "host string, budget int, robots_disallow_all boolean",
    )
    out = scheduling_round(frontier, None, pol).collect()
    assert sorted((r["url"], r["url_id"], r["host"]) for r in out) == [
        ("http://H.com/x", "H.com/x", "h.com"),
        ("http://h.com/", "h.com", "h.com"),
        ("http://h.com/a b", "h.com/a", "h.com"),
    ]


def test_hostile_round_matches_simulator(spark):
    """Ports, userinfo, mixed case, IPv6 literals, a URL
    ``java.net.URI`` rejects and URLs with no host: the distributed
    round schedules exactly what the simulator does, host for host."""
    from urllib.parse import urlsplit

    import simulator as sim

    urls = [
        "http://h.com/a",
        "http://h.com:8080/b",
        "https://user:pw@h.com/c",
        "HTTP://H.COM/d",
        "http://H.com/e",
        "http://h.com/f g",
        "http://h.com/%zz/h",
        "https://h.com/i|j",
        "http://[::1]:8080/x",
        "http://[2001:DB8::7]/y",
        "http://u@[2001:db8::7]:80/z",
        "//Other.ORG/p",
        "https://other.org:443/q",
        "mailto:someone@h.com",
        "http:///no-host",
        "http://blocked.net/r",
    ]
    frontier = [
        sim.Candidate(u, i % 3, 1.0 / (i + 1)) for i, u in enumerate(urls)
    ]
    hosts = {urlsplit(u).hostname for u in urls} - {None}
    budgets = {h: 2 for h in hosts}
    disallowed = {"blocked.net"}
    seen = {"h.com/a"}
    want = sim.simulate_round(frontier, seen, budgets, disallowed)

    frontier_df = spark.createDataFrame(
        [(c.url, c.depth, c.priority) for c in frontier],
        "url string, depth int, priority double",
    )
    pol = spark.createDataFrame(
        [(h, b, h in disallowed) for h, b in budgets.items()],
        "host string, budget int, robots_disallow_all boolean",
    )
    seen_df = spark.createDataFrame([(i,) for i in seen], "url_id string")
    got = scheduling_round(frontier_df, seen_df, pol).collect()
    assert sorted(tuple(r) for r in got) == sorted(want)
    assert {r["host"] for r in got} == {"h.com", "::1", "2001:db8::7", "other.org"}
