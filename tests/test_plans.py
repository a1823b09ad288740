"""Physical-plan regression tests — pin the PLANS.md claims.

A query that silently loses its pushed filters, its pre-shuffle group
limit, or its TakeOrderedAndProject is a 100×-scale regression that
row-level tests can't see. These assertions read the executed plan
string the same way `.explain("formatted")` renders it.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from cmoncrawl_spark.datagen import register_crawl_views


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_topk_is_take_ordered_not_global_window(spark, sf_dir):
    from cmoncrawl_spark.session import load_tables
    from cmoncrawl_spark.operators.similarity import cosine_topk

    load_tables(spark, sf_dir, ("embeddings",))
    emb = spark.table("embeddings")
    qv = emb.where("vec_id = 0").select(
        F.col("embedding").cast("array<double>")
    ).first()[0]
    plan = _plan(cosine_topk(emb, F.array(*[F.lit(float(v)) for v in qv])))
    assert "TakeOrderedAndProject" in plan
    # the pre-limit section must not shuffle everything to one reducer
    pre = plan.split("TakeOrderedAndProject")[1]
    assert "Exchange SinglePartition" not in pre


def test_per_host_topk_has_preshuffle_group_limit(spark, sf_dir):
    from cmoncrawl_spark.operators.frontier import (
        canonicalize,
        per_host_topk,
    )

    register_crawl_views(spark, sf_dir)
    cand = canonicalize(
        spark.table("pages").select("url", "depth", "priority")
    ).withColumn("budget", F.lit(5))
    plan = _plan(per_host_topk(cand, budget_cap=5))
    # constant cap -> WindowGroupLimit applied in Partial mode BEFORE
    # the exchange (each input partition ships <= cap rows per group)
    partials = [
        l for l in plan.splitlines()
        if "WindowGroupLimit" in l and "Partia" in l
    ]
    assert partials, plan


def test_index_query_pushes_filters_and_prunes_columns(spark, sf_dir, tmp_path):
    """Over a MATERIALIZED (crawl, subset)-partitioned parquet ccindex
    (the production storage shape), the predicates must reach the scan:
    subset partition-prunes, fetch_status row-group-prunes, and the
    5-column projection prunes the read schema."""
    from cmoncrawl_spark.operators.ccindex import MatchType, index_query

    register_crawl_views(spark, sf_dir)
    path = str(tmp_path / "ccindex_pq")
    spark.table("ccindex").write.partitionBy("crawl", "subset").parquet(path)
    tbl = spark.read.parquet(path)
    plan = _plan(index_query(tbl, ["hot-domain.com"], MatchType.DOMAIN))
    assert "PartitionFilters" in plan and "subset" in plan
    assert "PushedFilters" in plan and "fetch_status" in plan
    # projection pruning: content_digest (unused) must not be read
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema and "content_digest" not in read_schema[0]


def test_frontier_round_uses_broadcast_policies(spark, sf_dir):
    from cmoncrawl_spark.operators.frontier import scheduling_round

    register_crawl_views(spark, sf_dir)
    plan = _plan(
        scheduling_round(
            spark.table("pages").select("url", "depth", "priority"),
            spark.table("seen"),
            spark.table("host_policies"),
        )
    )
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


@pytest.fixture(scope="module")
def bloom_round_final_plan(spark, sf_dir, tmp_path_factory) -> str:
    """Final AQE plan of the bloom-path round over persisted shards."""
    from cmoncrawl_spark.operators import bloom as bloom_ops
    from cmoncrawl_spark.operators.frontier import scheduling_round

    register_crawl_views(spark, sf_dir)
    path = str(tmp_path_factory.mktemp("plan_shards") / "shards")
    bloom_ops.build_shards(
        spark.table("seen"), num_shards=8, expected_per_shard=1000
    ).write.parquet(path)
    df = scheduling_round(
        spark.table("pages").select("url", "depth", "priority"),
        spark.table("seen"),
        spark.table("host_policies"),
        bloom_shards=spark.read.parquet(path),
        num_shards=8,
    )
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    return plan.split("== Initial Plan ==")[0]


def test_bloom_round_canonicalizes_frontier_once(bloom_round_final_plan):
    """The probe branch and the anti-join read ONE url_id exchange:
    the frontier is scanned and canonicalized once, and the second
    consumer shows up as a ReusedExchange of the canonicalized rows."""
    reused = [
        l for l in bloom_round_final_plan.splitlines() if "ReusedExchange" in l
    ]
    assert any("url_id" in l and "url#" in l for l in reused), bloom_round_final_plan


def test_bloom_round_topk_has_one_host_exchange(bloom_round_final_plan):
    """Per-host top-k is one capped window: one host-keyed exchange."""
    host_exchanges = [
        l for l in bloom_round_final_plan.splitlines()
        if "Exchange hashpartitioning(host" in l
    ]
    assert len(host_exchanges) == 1, bloom_round_final_plan


def test_bloom_round_probes_through_arrow(bloom_round_final_plan):
    """The shard probe crosses the Python boundary as Arrow tables."""
    assert "FlatMapCoGroupsInArrow" in bloom_round_final_plan
    assert "FlatMapCoGroupsInPandas" not in bloom_round_final_plan


def test_extraction_prefilter_applied_before_udf(spark):
    from cmoncrawl_spark.extraction.extractor import (
        ConfigExtractor,
        CssField,
        apply_extractor,
    )

    df = spark.createDataFrame(
        [("https://news.x.com/a", b"<html><title>t</title></html>")],
        "url string, html binary",
    )
    ex = ConfigExtractor(
        fields={"t": CssField("title")}, allowed_domain_prefixes=["news"]
    )
    plan = _plan(apply_extractor(df, ex, passthrough=["url"]))
    # the prefix filter must appear BELOW (execute before) the Python stage
    assert "MapInArrow" in plan
    before_udf = plan.split("MapInArrow", 1)[1]
    assert "Filter" in before_udf and "news" in before_udf, plan


def test_record_path_crosses_as_arrow(spark):
    """The range fetch, the WARC parse and the extractor hand Python
    Arrow batches, not pandas frames."""
    from cmoncrawl_spark.extraction.extractor import (
        PageTextExtractor,
        apply_extractor,
    )
    from cmoncrawl_spark.sources.dao import (
        LocalFileDAO,
        fetch_ranges,
        warc_responses,
    )

    recs = spark.createDataFrame(
        [("https://a.example/", "a.warc", 0, 10)],
        "url string, filename string, offset long, length long",
    )
    fetched = fetch_ranges(recs, LocalFileDAO)
    responses = warc_responses(fetched)
    extracted = apply_extractor(responses, PageTextExtractor(), passthrough=["url"])
    for df in (fetched, responses, extracted):
        plan = _plan(df)
        assert "MapInArrow" in plan and "MapInPandas" not in plan, plan


def test_ivf_list_partitioned_storage_prunes(spark, sf_dir, tmp_path):
    """The IVF scale path: corpus stored partitionBy(list_id) means an
    n_probe search READS only n_probe partitions — assert the partition
    filter reaches the scan."""
    from cmoncrawl_spark.session import load_tables
    from cmoncrawl_spark.operators.similarity import ivf_build

    load_tables(spark, sf_dir, ("embeddings",))
    emb = spark.table("embeddings")
    assignments, cents = ivf_build(emb)
    path = str(tmp_path / "ivf_pq")
    emb.join(
        assignments.withColumnRenamed("id", "vec_id"), "vec_id"
    ).write.partitionBy("list_id").parquet(path)
    probed = spark.read.parquet(path).where("list_id IN (0, 1)")
    plan = _plan(probed)
    assert "PartitionFilters" in plan and "list_id" in plan
    part_line = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "list_id" in part_line


def test_index_limit_is_take_ordered(spark, sf_dir):
    """L1/L2: deterministic-order limit compiles to
    TakeOrderedAndProject (per-partition heaps), not a global sort."""
    from cmoncrawl_spark.operators.ccindex import MatchType, index_query

    register_crawl_views(spark, sf_dir)
    plan = _plan(
        index_query(
            spark.table("ccindex"), ["hot-domain.com"], MatchType.DOMAIN,
            limit=10,
        )
    )
    assert "TakeOrderedAndProject" in plan, plan


#: Python evaluations (scalar Arrow UDFs, mapInPandas, grouped and
#: cogrouped Arrow maps, ...) in each registered query's physical plan
#: before execution; a query not listed has none. Each such node ships
#: rows through a Python worker, so a change that adds or removes one
#: updates this table. No plan may read a cached relation either: a
#: query that caches leaves the cache behind its lazy result.
PYTHON_NODES = {
    "q_frontier_round": 1,
    "q_frontier_round_domain": 1,
    "q_extract_page": 2,
    "q_warc_roundtrip": 1,
    "q_minhash_dedup": 1,
    "q_image_features": 1,
    "q_audio_features": 1,
    "q_config_extract": 2,
    "q_extract_valid": 2,
    "q_simhash": 1,
    "q_simhash_pairs": 2,
}
#: (shuffle ``Exchange``, ``BroadcastExchange``) nodes in each
#: registered query's physical plan before execution, taken the same
#: way; a query not listed has none, and a ``ReusedExchange`` is not
#: counted. A shuffle or a broadcast is most of an AQE stage, so a
#: change that adds or removes one updates this table.
EXCHANGES = {
    "q_url_seen_dedup": (1, 0),
    "q_exact_dedup_docs": (1, 0),
    "q_dedup_keep_longest": (1, 0),
    "q_frontier_round": (8, 2),
    "q_frontier_round_exact": (4, 2),
    "q_frontier_round_domain": (7, 7),
    "q_politeness_budgets": (1, 0),
    "q_fetch_schedule": (5, 3),
    "q_robots_policies": (1, 0),
    "q_opic_round": (5, 2),
    "q_robots_allowed": (2, 1),
    "q_token_count": (1, 0),
    "q_quality_stats": (1, 0),
    "q_lang_agg": (1, 0),
    "q_doc_fingerprint": (1, 0),
    "q_events_hourly": (1, 0),
    "q_extract_page": (1, 0),
    "q_minhash_dedup": (5, 2),
    "q_bpe_token_count": (1, 0),
    "q_registered_domain": (2, 5),
    "q_lang_id": (1, 0),
    "q_rolling_fingerprint": (1, 0),
    "q_curation_pipeline": (1, 0),
    "q_config_extract": (1, 0),
    "q_extract_valid": (1, 0),
    "q_sessionize": (1, 0),
    "q_asof_join": (1, 0),
    "q_ivf_topk": (0, 1),
    "q_simhash": (1, 0),
    "q_simhash_pairs": (3, 1),
    "q_ngram_jaccard": (2, 2),
    "q_embed_dup_pairs": (5, 2),
}
#: queries the census does not plan: q_fixture_title reads a fixture
#: file of the reference checkout (its parity test fails without it).
CENSUS_EXCLUDED = {"q_fixture_title"}
_NODE = r"(?m)^[ :|+\-]*\*?(?:\(\d+\) )?"
_PYTHON_NODE = re.compile(_NODE + r"(\w+(?:Python|InPandas|InArrow))\b")
_EXCHANGE = re.compile(_NODE + r"(Exchange|BroadcastExchange)\b")


def test_python_node_census(spark, sf_dir):
    import __spark_entry__ as entrymod

    got, exchanges, cached = {}, {}, []
    for name, query in entrymod.queries().items():
        if name in CENSUS_EXCLUDED:
            continue
        plan = _plan(query(spark, sf_dir))
        nodes = _PYTHON_NODE.findall(plan)
        if nodes:
            got[name] = len(nodes)
        ex = _EXCHANGE.findall(plan)
        if ex:
            exchanges[name] = (ex.count("Exchange"), ex.count("BroadcastExchange"))
        if "InMemoryRelation" in plan:
            cached.append(name)
    assert (got, exchanges, cached) == (PYTHON_NODES, EXCHANGES, [])


def test_rolling_fingerprint_splits_text_once(spark, sf_dir):
    """Higher-order functions run interpreted: the fingerprint's window
    lambda reads the tokens as a column, so each document's text is
    split once, not once per 8-token window."""
    from cmoncrawl_spark.queries import q_rolling_fingerprint

    df = q_rolling_fingerprint(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1, plan
