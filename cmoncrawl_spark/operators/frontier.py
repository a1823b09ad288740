"""Frontier scheduling round — the engine's flagship job (north_rule).

One round is a pure DataFrame job:

    url_id -> intra-batch dedup -> dedupe-against-seen (bloom +
    exact backstop) -> host key -> robots filter -> politeness
    budget -> per-host top-k -> deterministic fetch order

Both keys read the URL as ``urlsplit`` does (``functions/urls.py``):
url_id from its netloc and path, the host key from its hostname.

The reference's analog is the per-record loop in
/root/reference/cmoncrawl/middleware/synchronized.py:14-50 (URL-seen
gate at :30-41) plus its global Throttler
(cmoncrawl/common/throttling.py:8-43); politeness here is upgraded to a
per-host budget window per the north_rule (budget = floor(round_secs /
crawl_delay)) while keeping the reference's dedup semantics (D1).

Determinism (SURVEY §7 R1): every ordering is TOTAL — priority desc,
depth asc, then canonical url_id as the unique tiebreaker — so output
is bit-for-bit reproducible at any parallelism and matches the
single-threaded simulator oracle (``tests/simulator.py``, checked by
``tests/test_rounds.py``).

Scale design:
- canonicalization + ordering keys are native expressions (codegen);
- the frontier is scanned and canonicalized ONCE per round: the host
  key is attached only after the seen-set stage, so the bloom probe
  and the final anti-join read the same url_id exchange and AQE
  reuses it (one ``ReusedExchange``, not a second scan + regex pass);
- per-host top-k is ONE window over ``partitionBy(host)`` with a
  constant cap: ``rn <= cap`` lets Spark run a Partial
  WindowGroupLimit before the exchange, so a hot host ships at most
  ``cap`` rows per map partition (R4); a salted first phase would add
  an exchange, a sort and a window and remove no skew (PLANS.md §6);
- the seen set is probed shard-local (bloom.py): what moves is the
  slim (id, h1, h2) probe input, the bloom-positive ids and the hits
  exchange, never full candidate rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cmoncrawl_spark.functions.urls import host_col, unify_url_id_col
from cmoncrawl_spark.operators import bloom as bloom_ops
from cmoncrawl_spark.operators.robots import DEFAULT_CRAWL_DELAY_S

#: total-order sort keys for scheduling (best first).
def _order_keys() -> list[Column]:
    return [F.col("depth").asc(), F.col("priority").desc(), F.col("url_id").asc()]


def with_host(df: DataFrame, domain_politeness: bool = False) -> DataFrame:
    """Attach the politeness key ``host`` of ``url`` — all codegen
    expressions.

    host (politeness key) = ``urlsplit(url).hostname``
    (:func:`~cmoncrawl_spark.functions.urls.host_col`): lowercased,
    without userinfo, port or IPv6 brackets, NULL for a URL with no
    host. url_id keys on the full netloc per the reference
    (``urls.netloc_col``) — the two differ for port/userinfo URLs and
    in case, where politeness should indeed group by hostname while
    the seen-id must match the reference.

    ``domain_politeness=True`` upgrades the politeness key to the PSL
    registered domain (eTLD+1) through
    :func:`~cmoncrawl_spark.functions.psl.with_domain_key`:
    ``a.foo.co.uk`` and ``b.foo.co.uk`` share foo.co.uk's budget while
    ``bar.co.uk`` stays separate — exact semantics of the index's
    url_host_registered_domain column (reference F1 DOMAIN match,
    athena_query_maker.py:10-33); hosts that ARE a public suffix keep
    the raw hostname key. The PSL ladder runs as row expressions on
    every URL against small broadcast rule tables: no exchange and no
    driver-side state at any host cardinality (~0.6 µs/URL over the
    host-keyed round at 4.8M URLs, PLANS.md §15)."""
    # explode_outer of a one-element array is a Generate, and Catalyst
    # pushes no filter on its output below it: the `host IS NOT NULL`
    # it infers from the round's inner policy join stays here, instead
    # of running the host regexps a second time below the seen-set
    # stage (13% fewer items/s in perfbench frontier_probe on 4 cores).
    out = df.withColumn(
        "host", F.explode_outer(F.array(host_col(F.col("url"))))
    )
    if domain_politeness:
        from cmoncrawl_spark.functions.psl import with_domain_key

        out = with_domain_key(out)
    return out


def canonicalize(frontier: DataFrame) -> DataFrame:
    """Attach url_id (D1 canonical id) + the hostname politeness key
    ``host`` (see :func:`with_host`)."""
    return with_host(frontier.withColumn("url_id", unify_url_id_col(F.col("url"))))


def dedupe_intra_batch(candidates: DataFrame) -> DataFrame:
    """One row per url_id: keep the best (depth, priority desc, url) —
    the reference processes first-arrival only (synchronized.py:36)."""
    w = Window.partitionBy("url_id").orderBy(
        F.col("depth").asc(), F.col("priority").desc(), F.col("url").asc()
    )
    return (
        candidates.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def per_host_topk(df: DataFrame, budget_cap: int) -> DataFrame:
    """Per-host top-k under the total order: one window, one exchange.

    Output = rows with rank <= budget per host, plus their exact
    ``fetch_rank``. ``budget_cap`` is a CONSTANT upper bound on every
    host's budget (max over the policies table). The rank filter is
    ``rn <= cap AND rn <= budget``; its constant half lets Spark run
    WindowGroupLimit in Partial mode BEFORE the host exchange, so a hot
    host ships at most ``cap`` rows per input partition instead of its
    whole candidate set (SURVEY §4 shuffle strategy, §7 R4). A salted
    first phase would add an exchange, a sort and a window on top of
    that cut without removing any skew (PLANS.md §6).
    """
    w = Window.partitionBy("host").orderBy(*_order_keys())
    return df.withColumn("fetch_rank", F.row_number().over(w)).where(
        (F.col("fetch_rank") <= F.lit(budget_cap))
        & (F.col("fetch_rank") <= F.col("budget"))
    )


def policy_budget_cap(host_policies: DataFrame) -> int:
    """The constant per-host top-k cap: the largest budget in the
    policies table, from one tiny driver-side agg (O(hosts)). No
    non-null budget means nothing is schedulable, and cap 0 says so."""
    cap = host_policies.agg(F.max("budget")).first()[0]
    return 0 if cap is None else int(cap)


def scheduling_round(
    frontier: DataFrame,
    seen_ids: DataFrame | None,
    host_policies: DataFrame,
    bloom_shards: DataFrame | None = None,
    num_shards: int = 32,
    budget_cap: int | None = None,
    domain_politeness: bool = False,
) -> DataFrame:
    """One full scheduling round.

    frontier:      url, depth:int, priority:double (+ passthrough cols)
    seen_ids:      url_id (canonical); None = PROVABLY no history
                   (a crawl's round 0) — the dedupe-against-seen stage
                   is an identity there and is omitted from the plan
                   outright (an anti-join against an empty set still
                   costs plan compile + an exchange-bearing subtree)
    host_policies: host, budget:int, robots_disallow_all:boolean
                   (broadcast — per-host table is tiny next to the
                   frontier even at 10^10 URLs), keyed by
                   ``urlsplit(url).hostname`` (:func:`with_host`:
                   lowercase, no port or userinfo); when
                   ``domain_politeness`` is set, keyed by PSL
                   registered domain instead of hostname. A URL with
                   no hostname, or whose host has no policy row, is
                   not scheduled.
    Returns the fetch list: url, url_id, host, depth, priority,
    budget, fetch_rank — deterministically ordered per host.
    """
    # host is attached AFTER the seen-set stage: the bloom probe prunes
    # every column but url_id, so an exchange that also carried host
    # would differ from the probe's and the frontier would be scanned
    # and canonicalized twice. Without host both read one exchange.
    cand = dedupe_intra_batch(
        frontier.withColumn("url_id", unify_url_id_col(F.col("url")))
    )
    if seen_ids is not None:
        cand = bloom_ops.dedupe_against_seen(
            cand, seen_ids, shards=bloom_shards, num_shards=num_shards
        )
    cand = with_host(cand, domain_politeness=domain_politeness)
    pol = host_policies.select("host", "budget", "robots_disallow_all")
    cand = cand.join(F.broadcast(pol), on="host", how="inner").where(
        ~F.col("robots_disallow_all")
    )
    # constant cap over all budgets -> enables pre-shuffle group limits.
    # Callers running many rounds against static policies pass it in.
    if budget_cap is None:
        budget_cap = policy_budget_cap(host_policies)
    return per_host_topk(cand, budget_cap=budget_cap).select(
        "url", "url_id", "host", "depth", "priority", "budget", "fetch_rank"
    )


def fetch_schedule(
    fetch_list: DataFrame,
    host_policies: DataFrame,
    default_delay: float = DEFAULT_CRAWL_DELAY_S,
) -> DataFrame:
    """Turn per-host fetch ranks into concrete crawl-delay-spaced fetch
    offsets: the k-th fetch of a host starts (k-1) * crawl_delay_s
    seconds into the round — the per-host politeness contract made
    explicit (north_rule 'enforcing crawl-delay'). Broadcast join +
    one multiplication; integer milliseconds for hash-stable output.

    LEFT join: a scheduled host with no policy row (e.g. no robots.txt
    parsed — host_policies_from_robots only emits hosts it saw rules
    for) is still fetched, at ``default_delay``, which defaults to the
    ``robots.DEFAULT_CRAWL_DELAY_S`` that function gives a host without
    a crawl-delay rule; an inner join would silently DROP those URLs
    from the schedule."""
    pol = F.broadcast(host_policies.select("host", "crawl_delay_s"))
    delay = F.coalesce(F.col("crawl_delay_s"), F.lit(default_delay))
    return fetch_list.join(pol, on="host", how="left").withColumn(
        "fetch_offset_ms",
        ((F.col("fetch_rank") - 1) * delay * 1000).cast("long"),
    ).withColumn("crawl_delay_s", delay)


def opic_round(cash: DataFrame, links: DataFrame) -> DataFrame:
    """One OPIC cash-distribution round (Abiteboul/Preda/Cobena,
    "Adaptive On-Line Page Importance Computation", WWW'03) — the
    north_star's OPIC priority source.

    Every fetched page splits its cash equally over its outlinks; a
    target's received cash becomes (part of) its scheduling priority
    next round. Shapes: cash(url_id, cash_micro:long),
    links(src_id, dst_id). Returns (dst_id, cash_micro, in_links).

    Integer micro-cash units (floor division) keep the result exactly
    reproducible at any parallelism AND oracle-able — double summation
    order varies across engines. Plan: two shuffles (degree agg +
    receive agg), both map-side combinable; the cash join broadcasts
    when the fetched set is small, shuffle-hash at scale.
    """
    deg = links.groupBy("src_id").agg(F.count("*").alias("_deg"))
    shares = (
        links.join(deg, "src_id")
        .join(cash.withColumnRenamed("url_id", "src_id"), "src_id")
        .select(
            "dst_id",
            F.floor(F.col("cash_micro") / F.col("_deg"))
            .cast("long")
            .alias("share"),
        )
    )
    return shares.groupBy("dst_id").agg(
        F.sum("share").alias("cash_micro"),
        F.count("*").cast("int").alias("in_links"),
    )

