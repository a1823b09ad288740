"""Multi-round crawl: bit-for-bit vs the reference-faithful simulator,
and kill-and-resume from checkpoint."""

from __future__ import annotations

import logging
import os
import shutil

import pytest
from pyspark.sql import functions as F

from cmoncrawl_spark.datagen import register_crawl_views
from cmoncrawl_spark.operators.bloom import optimal_params
from cmoncrawl_spark.streaming.rounds import StateStore, run_crawl

import simulator as sim


@pytest.fixture
def setup(spark, sf_dir, tmp_path):
    register_crawl_views(spark, sf_dir)
    seeds_df = (
        spark.table("pages")
        .where(F.col("doc_id") < 300)
        .select("url", "depth", "priority")
    )
    pol_df = spark.table("host_policies")
    seeds = [
        sim.Candidate(r["url"], r["depth"], r["priority"])
        for r in seeds_df.collect()
    ]
    budgets = {}
    disallowed = set()
    for r in pol_df.collect():
        if r["robots_disallow_all"]:
            disallowed.add(r["host"])
        budgets[r["host"]] = r["budget"]
    return seeds_df, pol_df, seeds, budgets, disallowed, str(tmp_path / "state")


def _collect_round(store, r):
    return sorted(
        tuple(row)
        for row in store.read("fetch_list", r)
        .select("url", "url_id", "host", "depth", "priority", "budget", "fetch_rank")
        .collect()
    )


ROUNDS = 3
FANOUT = 2  # run_crawl's and simulate_crawl's default


def test_rounds_match_simulator(spark, setup):
    seeds_df, pol_df, seeds, budgets, disallowed, state_dir = setup
    store = StateStore(spark, state_dir)
    run_crawl(store, seeds_df, pol_df, rounds=ROUNDS, num_shards=8)

    sim_rounds, sim_seen = sim.simulate_crawl(
        seeds, budgets, disallowed, rounds=ROUNDS
    )
    for r in range(ROUNDS):
        got = _collect_round(store, r)
        want = sorted(sim_rounds[r])
        assert got == want, f"round {r}: {len(got)} vs {len(want)} fetches"

    # each marker counts the round's frontier in and its fetches out:
    # the seeds, then FANOUT children per earlier fetch
    frontier_sizes = [len(seeds)] + [FANOUT * len(f) for f in sim_rounds[:-1]]
    for r in range(ROUNDS):
        info = store.round_info(r)
        counts = (info["candidates"], info["scheduled"])
        assert counts == (frontier_sizes[r], len(sim_rounds[r])), f"round {r}"

    spark_seen = {
        row["url_id"]
        for row in store.read_all("seen_delta", ROUNDS - 1).collect()
    }
    assert spark_seen == sim_seen


def test_torn_round_marker_is_not_a_commit(spark, setup, monkeypatch):
    """A kill while the marker is written leaves no ``_round_0.json``:
    the round is not committed, and a rerun commits it."""
    import json

    seeds_df, pol_df, _seeds, _b, _d, state_dir = setup
    store = StateStore(spark, state_dir)
    dump = json.dump

    def torn(obj, fp, **kw):
        text = json.dumps(obj)
        fp.write(text[: len(text) // 2])
        raise OSError("killed mid-write")

    monkeypatch.setattr(json, "dump", torn)
    with pytest.raises(OSError, match="killed mid-write"):
        run_crawl(store, seeds_df, pol_df, rounds=1, num_shards=8)
    assert not os.path.exists(os.path.join(state_dir, "_round_0.json"))
    assert store.last_committed_round() == -1

    monkeypatch.setattr(json, "dump", dump)
    run_crawl(store, seeds_df, pol_df, rounds=1, num_shards=8)
    assert store.last_committed_round() == 0
    assert store.round_info(0)["num_shards"] == 8


def test_kill_and_resume(spark, setup):
    seeds_df, pol_df, _seeds, _b, _d, state_dir = setup
    # full run for reference
    full = StateStore(spark, state_dir + "_full")
    run_crawl(full, seeds_df, pol_df, rounds=ROUNDS, num_shards=8)
    # killed after round 1, resumed
    part = StateStore(spark, state_dir + "_part")
    run_crawl(part, seeds_df, pol_df, rounds=2, num_shards=8)
    assert part.last_committed_round() == 1
    run_crawl(part, seeds_df, pol_df, rounds=ROUNDS, num_shards=8)
    for r in range(ROUNDS):
        assert _collect_round(part, r) == _collect_round(full, r), f"round {r}"
    a = {x["url_id"] for x in part.read_all("seen_delta", ROUNDS - 1).collect()}
    b = {x["url_id"] for x in full.read_all("seen_delta", ROUNDS - 1).collect()}
    assert a == b


def test_resume_with_other_num_shards_raises(spark, setup):
    """Blobs persisted under 8 shards cannot be probed as 32: the ids
    that land in a shard with no blob would pass as unseen."""
    seeds_df, pol_df, _s, _b, _d, state_dir = setup
    store = StateStore(spark, state_dir + "_shards")
    run_crawl(store, seeds_df, pol_df, rounds=1, num_shards=8)
    with pytest.raises(ValueError, match="num_shards=8.*num_shards=32"):
        run_crawl(store, seeds_df, pol_df, rounds=2, num_shards=32)
    assert store.last_committed_round() == 0
    assert store.round_info(0)["num_shards"] == 8


def test_round_blobs_are_sized_from_the_round_count(spark, setup):
    """Each round's bloom blobs are sized for its own scheduled count,
    ``max(1024, scheduled // num_shards)`` ids per shard, whatever the
    fanout: a crawl-wide ``seeds * fanout^r`` estimate grows past any
    memory at depth before round 0 runs."""
    seeds_df, pol_df, _s, _b, _d, state_dir = setup
    store = StateStore(spark, state_dir + "_sizing")
    run_crawl(store, seeds_df, pol_df, rounds=2, num_shards=8, fanout=40)
    for r in range(2):
        scheduled = store.round_info(r)["scheduled"]
        want = optimal_params(max(1024, scheduled // 8), 0.01)[0]
        m_bits = {row["m_bits"] for row in store.read("bloom_shards", r).collect()}
        assert m_bits == {want}, f"round {r}: {scheduled} scheduled"


def test_failed_state_write_leaves_round_uncommitted(spark, setup):
    """The r6 concurrent state writes (guide §2.6) must keep the commit
    contract: if ANY of the overlapped per-round writes fails, the
    round marker is never written and a resume re-runs the round."""
    seeds_df, pol_df, _s, _b, _d, state_dir = setup
    store = StateStore(spark, state_dir + "_fail")

    real_write = StateStore.write

    def failing_write(self, name, round_id, df):
        if name == "bloom_shards":
            raise RuntimeError("injected write failure")
        return real_write(self, name, round_id, df)

    StateStore.write = failing_write
    try:
        with pytest.raises(RuntimeError, match="injected write failure"):
            run_crawl(store, seeds_df, pol_df, rounds=1, num_shards=8)
    finally:
        StateStore.write = real_write
    assert store.last_committed_round() == -1
    # the crawl is resumable after the fault clears: round 0 re-runs
    run_crawl(store, seeds_df, pol_df, rounds=1, num_shards=8)
    assert store.last_committed_round() == 0


def test_every_failed_state_write_is_reported(spark, setup, caplog):
    """Two overlapped writes fail: the first failure is raised, the
    other is logged, and the round stays uncommitted (no marker)."""
    seeds_df, pol_df, _s, _b, _d, state_dir = setup
    store = StateStore(spark, state_dir + "_fail2")

    real_write = StateStore.write

    def failing_write(self, name, round_id, df):
        if name in ("seen_delta", "bloom_shards"):
            raise RuntimeError(f"injected {name} failure")
        return real_write(self, name, round_id, df)

    StateStore.write = failing_write
    try:
        with caplog.at_level(logging.ERROR, logger="cmoncrawl_spark.streaming.rounds"):
            with pytest.raises(RuntimeError, match="injected") as err:
                run_crawl(store, seeds_df, pol_df, rounds=1, num_shards=8)
    finally:
        StateStore.write = real_write
    reported = str(err.value) + caplog.text
    assert "injected seen_delta failure" in reported
    assert "injected bloom_shards failure" in reported
    assert store.last_committed_round() == -1
    assert not os.path.exists(os.path.join(store.dir, "_round_0.json"))


def test_state_writes_keep_callers_job_properties(spark, setup):
    """The overlapped writes run in pool threads; their Spark jobs must
    still carry the caller's local properties (job description/group),
    or per-round jobs cannot be attributed in the UI or event log."""
    seeds_df, pol_df, _s, _b, _d, state_dir = setup
    seen = {}

    class RecordingStore(StateStore):
        def write(self, name, round_id, df):
            sc = self.spark.sparkContext
            seen[name] = sc.getLocalProperty("spark.job.description")
            super().write(name, round_id, df)

    store = RecordingStore(spark, state_dir + "_props")
    spark.sparkContext.setJobDescription("crawl/round0")
    try:
        run_crawl(store, seeds_df, pol_df, rounds=1, num_shards=8)
    finally:
        spark.sparkContext.setJobDescription(None)
    names = ("fetch_list", "seen_delta", "bloom_shards")
    assert seen == {n: "crawl/round0" for n in names}


def test_crawl_leaves_no_persistent_rdd(spark, setup):
    """A crawl releases everything it materializes: a round's
    checkpoint is its ``fetch_list`` table, not a block-manager copy
    that only JVM GC frees, and the view-derived policies that
    ``run_crawl`` persists are unpersisted when it returns."""
    seeds_df, pol_df, _s, _b, _d, state_dir = setup
    assert not pol_df.is_cached  # so run_crawl takes its persist path
    jsc = spark.sparkContext._jsc
    before = len(jsc.getPersistentRDDs())
    store = StateStore(spark, state_dir + "_rdds")
    run_crawl(store, seeds_df, pol_df, rounds=ROUNDS, num_shards=8)
    assert store.last_committed_round() == ROUNDS - 1
    assert len(jsc.getPersistentRDDs()) == before


#: Spark jobs of a 2-round crawl of the test fixture (300 seeds,
#: ``num_shards=8``), with the seen-delta and bloom writes in the pool
#: threads. A change that adds or removes a job per round updates this
#: number.
CRAWL_JOBS = 25


def test_crawl_job_census(spark, setup):
    """Every Spark job of a crawl, the pool threads' state writes
    included, runs in the caller's job group; pin how many there are."""
    seeds_df, pol_df, _s, _b, _d, state_dir = setup
    sc = spark.sparkContext
    store = StateStore(spark, state_dir + "_census")
    group = f"crawl-census-{os.getpid()}"
    sc.setJobGroup(group, "2-round crawl census")
    try:
        run_crawl(store, seeds_df, pol_df, rounds=2, num_shards=8)
    finally:
        sc._jsc.clearJobGroup()
    # job starts reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs == CRAWL_JOBS, f"2-round crawl ran {jobs} Spark jobs, pinned {CRAWL_JOBS}"
