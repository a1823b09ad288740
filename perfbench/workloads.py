"""The three workloads. Each is a closed loop: one op at a time, back to
back, through the package's public functions.

A workload object is built on a live session and the generated input
directory, then driven by ``run.py``:

- ``setup()``: program-side state the ops need;
- ``warm()``: ``warm_ops`` untimed ops, so the timed ops do not pay
  first-run costs (codegen, class loading, Python workers, JIT); setup
  and warm-up together are ``setup_s``;
- ``op()``: one timed operation, returning what ``verify`` checks;
- ``verify(results)``: one problem list per op (untimed);
- ``plan_df()``: the op's DataFrame, for the plan-build/Catalyst layer;
- ``traced(tracer)``: one op split into per-layer spans, returning
  per-layer metrics;
- ``item_count()``: the number of items one op completes.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import time
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from perfbench import inputs, verify
from perfbench.tracing import TimedStateStore, Tracer, dir_stats, round_metrics

from cmoncrawl_spark.extraction.extractor import PageTextExtractor, apply_extractor
from cmoncrawl_spark.operators import bloom as bloom_ops
from cmoncrawl_spark.operators.dedup import (
    connected_components,
    lsh_candidate_pairs,
    minhash_dedup_pairs,
)
from cmoncrawl_spark.operators.frontier import (
    canonicalize,
    dedupe_intra_batch,
    per_host_topk,
    scheduling_round,
)
from cmoncrawl_spark.operators.routing import Route, route_records
from cmoncrawl_spark.sinks.jsonl import count_output_files, write_jsonl
from cmoncrawl_spark.sources.dao import LocalFileDAO, fetch_ranges
from cmoncrawl_spark.sources.jsonl import read_domain_records
from cmoncrawl_spark.streaming.rounds import StateStore, expand_links, run_crawl

NUM_SHARDS = 32


def _ckpt(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def fetch_digest(fetch_list: DataFrame) -> tuple[int, int]:
    """(rows, sum of xxhash64(url_id, fetch_rank) mod 2^40). The modulo
    keeps the sum inside a long under ANSI overflow checks."""
    row = fetch_list.agg(
        F.count("*"), F.sum(F.xxhash64("url_id", "fetch_rank") % (1 << 40))
    ).first()
    return int(row[0]), int(row[1] or 0)


class Workload:
    name = ""
    #: untimed ops before the window: the first ops in a fresh JVM carry
    #: one-off costs, and op times keep falling for several more
    warm_ops = 1
    #: timed ops per run however short ``--seconds`` is, so that
    #: ``items_per_s`` is a median of several ops
    min_ops = 5

    def __init__(self, spark: SparkSession, inp: str, work: str, info: dict) -> None:
        self.spark = spark
        self.inp = inp
        self.work = work
        self.info = info
        self.items = 0

    def item_count(self) -> int:
        return self.items

    def warm(self) -> None:
        for _ in range(self.warm_ops):
            self.op()

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.inp, name))


class FrontierProbe(Workload):
    """Repeated ``scheduling_round`` over one candidate batch, probing a
    persisted bloom filter of the seen set. Item = candidate URL."""

    name = "frontier_probe"

    def setup(self) -> None:
        self.frontier = self.read("frontier")
        self.seen = self.read("seen")
        self.policies = self.read("policies")
        self.shard_dir = os.path.join(self.work, "bloom_shards")
        t = time.monotonic()
        bloom_ops.build_shards(
            self.seen,
            num_shards=NUM_SHARDS,
            expected_per_shard=self.info["seen"] // NUM_SHARDS,
        ).write.mode("overwrite").parquet(self.shard_dir)
        self.bloom_build_s = time.monotonic() - t
        self.shards = self.spark.read.parquet(self.shard_dir)
        self.cap = int(self.policies.agg(F.max("budget")).first()[0])
        self.items = self.info["candidates"]

    def plan_df(self, exact: bool = False) -> DataFrame:
        """The round; ``exact`` drops the bloom shards (plain anti-join)."""
        return scheduling_round(
            self.frontier,
            self.seen,
            self.policies,
            bloom_shards=None if exact else self.shards,
            num_shards=NUM_SHARDS,
            budget_cap=self.cap,
        )

    def op(self):
        return fetch_digest(self.plan_df())

    def verify(self, results):
        exact = fetch_digest(self.plan_df(exact=True))
        return [verify.check_frontier(r, exact) for r in results]

    def traced(self, tracer: Tracer) -> dict:
        """scheduling_round's stages, each materialized in turn. The
        result's digest must equal the untraced op's, which keeps this
        stage list honest if the round's composition changes."""
        op = "frontier_probe/traced"
        with tracer.span("frontier.canonicalize", op):
            cand = _ckpt(canonicalize(self.frontier))
        with tracer.span("frontier.dedupe", op):
            uniq = _ckpt(dedupe_intra_batch(cand))
        with tracer.span("bloom.probe", op):
            pos = _ckpt(bloom_ops.probe_positive_ids(uniq, self.shards, num_shards=NUM_SHARDS))
        with tracer.span("bloom.confirm", op):
            hits = _ckpt(pos.join(self.seen.select("url_id"), "url_id", "left_semi"))
        with tracer.span("frontier.topk", op):
            pol = self.policies.select("host", "budget", "robots_disallow_all")
            unseen = uniq.join(hits, "url_id", "left_anti")
            eligible = unseen.join(F.broadcast(pol), "host").where(~F.col("robots_disallow_all"))
            out = _ckpt(per_host_topk(eligible, budget_cap=self.cap))
        n_in, n_uniq, n_pos, n_hit = (d.count() for d in (cand, uniq, pos, hits))
        if fetch_digest(out) != self.op():
            raise AssertionError("traced frontier stages disagree with scheduling_round")
        return {
            "frontier.canonicalize_s": tracer.duration("frontier.canonicalize"),
            "frontier.dedupe_s": tracer.duration("frontier.dedupe"),
            "frontier.intra_dup_ratio": 1 - n_uniq / n_in,
            "frontier.topk_s": tracer.duration("frontier.topk"),
            "frontier.scheduled": out.count(),
            "bloom.build_s": self.bloom_build_s,
            "bloom.shard_bytes": dir_stats(self.shard_dir)[1],
            "bloom.probe_s": tracer.duration("bloom.probe"),
            "bloom.confirm_s": tracer.duration("bloom.confirm"),
            "bloom.positives": n_pos,
            "bloom.confirmed": n_hit,
            "bloom.realized_fpr": (n_pos - n_hit) / n_uniq,
            "trace.op_s": sum(
                tracer.duration(n)
                for n in ("frontier.canonicalize", "frontier.dedupe", "bloom.probe", "bloom.confirm", "frontier.topk")
            ),
        }


class CrawlRounds(Workload):
    """``run_crawl`` from the seeds for CRAWL_ROUNDS rounds into a fresh
    StateStore. Item = candidate URL entering any round (seeds plus
    expanded links)."""

    name = "crawl_rounds"

    def setup(self) -> None:
        self.seeds = self.read("seeds")
        self.policies = self.read("policies")
        self.cap = int(self.policies.agg(F.max("budget")).first()[0])
        self.n_ops = 0

    def warm(self) -> None:
        """Untimed crawls. The last one's commit markers give the
        per-round ``scheduled`` counts every timed crawl must repeat."""
        for _ in range(self.warm_ops):
            self.warm_dir = self.op()
        self.scheduled = [m["scheduled"] for m in self._markers(self.warm_dir)]

    def item_count(self) -> int:
        """Seeds plus every later round's expanded links."""
        return self.info["seeds"] + inputs.CRAWL_FANOUT * sum(self.scheduled[:-1])

    def _crawl(self, store: StateStore) -> None:
        run_crawl(
            store,
            self.seeds,
            self.policies,
            rounds=inputs.CRAWL_ROUNDS,
            num_shards=NUM_SHARDS,
            fanout=inputs.CRAWL_FANOUT,
        )

    def op(self):
        path = os.path.join(self.work, f"crawl-{self.n_ops}")
        self.n_ops += 1
        self._crawl(StateStore(self.spark, path))
        return path

    @staticmethod
    def _markers(path: str) -> list[dict]:
        """The crawl's commit markers, in round order."""
        out = []
        for name in os.listdir(path):
            if name.startswith("_round_") and name.endswith(".json"):
                with open(os.path.join(path, name)) as f:
                    out.append(json.load(f))
        return sorted(out, key=lambda m: m["round_id"])

    def _check(self, path: str) -> list[str]:
        """check_crawl on one crawl's state dir, against the warm-up
        crawl's per-round ``scheduled`` counts."""
        markers = self._markers(path)
        fetch = (
            self.spark.read.parquet(os.path.join(path, "fetch_list"))
            .select(F.col("round").alias("round_id"), "url_id", "host")
            .toPandas()
        )
        budgets = dict(self.policies.select("host", "budget").toPandas().itertuples(index=False))
        return verify.check_crawl(markers, fetch, budgets, inputs.CRAWL_ROUNDS, self.scheduled)

    def verify(self, results):
        problems = []
        for path in results:
            problems.append(self._check(path))
            shutil.rmtree(path, ignore_errors=True)
        return problems

    def plan_df(self) -> DataFrame:
        """The last round's scheduling plan over the warm-up crawl's
        earlier rounds, built the way run_round builds it."""
        store = StateStore(self.spark, self.warm_dir)
        prev = inputs.CRAWL_ROUNDS - 2
        return scheduling_round(
            expand_links(store.read("fetch_list", prev), fanout=inputs.CRAWL_FANOUT),
            store.read_all("seen_delta", prev),
            self.policies,
            bloom_shards=store.read_all("bloom_shards", prev),
            num_shards=NUM_SHARDS,
            budget_cap=self.cap,
        )

    def traced(self, tracer: Tracer) -> dict:
        path = os.path.join(self.work, "crawl-traced")
        store = TimedStateStore(self.spark, path, tracer, "crawl_rounds/traced")
        self._crawl(store)
        problems = self._check(path)
        if problems:
            raise AssertionError(f"traced crawl failed verification: {problems}")
        files, size = dir_stats(path)
        out = round_metrics(store.round_seconds())
        out["trace.op_s"] = sum(store.round_seconds())
        out.update(
            {
                f"rounds.write_s.{n}": tracer.duration(f"rounds.write.{n}")
                for n in ("fetch_list", "seen_delta", "bloom_shards", "metrics")
            }
        )
        out.update(
            {
                "rounds.state_files": files,
                "rounds.state_bytes": size,
                "bloom.build_s": tracer.duration("rounds.write.bloom_shards"),
                "bloom.shard_bytes": dir_stats(os.path.join(path, "bloom_shards"))[1],
            }
        )
        return out


#: first match wins; the last route catches every page.
ROUTES = [
    Route("news", [r"^https://news\."]),
    Route("blog", [r"^https://blog\."]),
    Route("shop", [r"/shop/"], since=datetime(2022, 1, 1)),
    Route("page", [r"."]),
]


class RecordExtract(Workload):
    """Domain-record JSONL -> range reads from archive files -> route ->
    extract -> rotated JSONL, as ``cmon extract --dao_base`` does.
    Item = page."""

    name = "record_extract"
    warm_ops = 4
    min_ops = 7

    def setup(self) -> None:
        self.dao = functools.partial(LocalFileDAO, os.path.join(self.inp, "archives"))
        self.items = self.info["pages"]
        self.n_ops = 0

    def _records(self) -> DataFrame:
        recs = read_domain_records(self.spark, os.path.join(self.inp, "records"))
        return recs.withColumn("doc_id", F.col("additional_info")["doc_id"].cast("long"))

    def _extract(self, routed: DataFrame) -> DataFrame:
        return apply_extractor(
            routed,
            PageTextExtractor(),
            html_col="content",
            passthrough=["doc_id", "url", "route"],
            record_encoding_col="encoding",
        )

    def plan_df(self) -> DataFrame:
        fetched = fetch_ranges(self._records(), self.dao)
        return self._extract(route_records(fetched, ROUTES, ts_col="timestamp"))

    def op(self):
        path = os.path.join(self.work, f"out-{self.n_ops}")
        self.n_ops += 1
        write_jsonl(self.plan_df(), path)
        return path

    @staticmethod
    def _lines(path: str):
        for name in sorted(os.listdir(path)):
            if name.startswith("part-"):
                with open(os.path.join(path, name), encoding="utf-8") as f:
                    yield from f

    def verify(self, results):
        doc_ids = [
            int(r[0]) for r in self._records().select("doc_id").toPandas().itertuples(index=False)
        ]
        problems = []
        for path in results:
            problems.append(verify.check_extract(self._lines(path), doc_ids))
            shutil.rmtree(path, ignore_errors=True)
        return problems

    def traced(self, tracer: Tracer) -> dict:
        op = "record_extract/traced"
        with tracer.span("sources.read", op):
            recs = _ckpt(self._records())
        with tracer.span("sources.fetch", op):
            fetched = _ckpt(fetch_ranges(recs, self.dao))
        with tracer.span("routing.route", op):
            routed = _ckpt(route_records(fetched, ROUTES, ts_col="timestamp"))
        with tracer.span("extraction.extract", op):
            extracted = _ckpt(self._extract(routed))
        path = os.path.join(self.work, "out-traced")
        with tracer.span("sinks.write", op):
            write_jsonl(extracted, path)
        n_rec = recs.count()
        shares = dict(routed.groupBy("route").count().collect())
        declared = recs.select("doc_id", F.col("encoding").alias("declared"))
        enc = extracted.join(declared, "doc_id").where(F.col("encoding") != F.col("declared"))
        out = {
            "sources.read_s": tracer.duration("sources.read"),
            "sources.fetch_s": tracer.duration("sources.fetch"),
            "sources.bytes_read": fetched.agg(F.sum(F.length("content"))).first()[0],
            "sources.records": n_rec,
            "routing.route_s": tracer.duration("routing.route"),
            "extraction.extract_s": tracer.duration("extraction.extract"),
            "extraction.out_ratio": extracted.count() / n_rec,
            "extraction.encoding_fallbacks": enc.count(),
            "sinks.write_s": tracer.duration("sinks.write"),
            "sinks.bytes_written": dir_stats(path)[1],
            "sinks.files": count_output_files(path),
            "trace.op_s": sum(
                tracer.duration(n)
                for n in ("sources.read", "sources.fetch", "routing.route", "extraction.extract", "sinks.write")
            ),
        }
        out.update({f"routing.share.{r.name}": shares.get(r.name, 0) / n_rec for r in ROUTES})
        # no workload times operators.dedup; its layer runs here, untimed
        out.update(dedup_layers(self.spark, self.read("docs"), tracer, "dedup/traced"))
        return out


def dedup_layers(spark: SparkSession, docs: DataFrame, tracer: Tracer, op: str) -> dict:
    """``minhash_dedup_pairs`` -> ``connected_components`` over the
    near-duplicate corpus: one untraced call, then one split into spans
    and checked."""
    jsc = spark.sparkContext._jsc
    before = len(jsc.getPersistentRDDs())
    connected_components(minhash_dedup_pairs(docs)).toPandas()
    # the shingle frame minhash_dedup_pairs persists and never unpersists
    leaked = len(jsc.getPersistentRDDs()) - before
    spark.catalog.clearCache()  # so the spans pay for the shingling again
    with tracer.span("dedup.lsh", op):
        cand = _ckpt(lsh_candidate_pairs(docs))
    with tracer.span("dedup.pairs", op):
        pairs = _ckpt(minhash_dedup_pairs(docs))
    stats: dict = {}
    with tracer.span("dedup.cc", op):
        labels = connected_components(pairs, stats=stats).toPandas()
    n_cand, n_pairs = cand.count(), pairs.count()
    edges = [(int(a), int(b)) for a, b in pairs.select("a", "b").toPandas().itertuples(index=False)]
    problems = verify.check_dedup(edges, dict(zip(labels["id"].tolist(), labels["component"].tolist())))
    if problems:
        raise AssertionError(f"traced dedup failed verification: {problems}")
    return {
        "dedup.lsh_s": tracer.duration("dedup.lsh"),
        "dedup.candidates": n_cand,
        "dedup.pairs_s": tracer.duration("dedup.pairs"),
        "dedup.verified_pairs": n_pairs,
        "dedup.verify_ratio": n_pairs / n_cand,
        "dedup.cc_s": tracer.duration("dedup.cc"),
        "dedup.cc_iterations": stats.get("iterations", 0),
        "dedup.persisted_rdds_after_op": leaked,
    }


WORKLOADS = {w.name: w for w in (FrontierProbe, CrawlRounds, RecordExtract)}

