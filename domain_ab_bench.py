"""Host-keyed vs domain-keyed scheduling-round A/B at growing scale.

Round-4 left `q_frontier_round_domain` with a *claim*: the +21%
recorded over the host-keyed flagship is FIXED cost (PSL broadcast
builds + plan compile against a fresh JVM), not per-row cost, so it
amortizes at scale. This harness measures that claim the cheap way
(VERDICT r4 item 2): the same amplified frontier is scheduled with
``domain_politeness=False`` and ``=True`` at several input sizes
(>=4.8M URLs), each config in a fresh idle-gated JVM at local[32],
one untimed warm round then ``reps`` timed rounds (min). If the
absolute delta (domain - host) stays ~flat in seconds while the round
time grows with input, the cost is fixed and the domain round keeps
the flagship's scaling; if the delta grows proportionally, the PSL
ladder has a real per-row cost and the claim is wrong.

Prints one JSON line: {"points": [{urls, sec_host, sec_domain,
delta_sec, ...}], "verdict_flat_delta": bool}. Raw samples disclosed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from benchgate import wait_for_quiet_window as _gate  # noqa: E402

WORKER = r"""
import json, os, sys, time
sys.path.insert(0, "/root/repo")
from pyspark.sql import functions as F
from cmoncrawl_spark.session import get_spark
from cmoncrawl_spark.datagen import register_crawl_views, with_crawl_ctes
from cmoncrawl_spark.operators import bloom as bloom_ops
from cmoncrawl_spark.operators.frontier import scheduling_round
from cmoncrawl_spark.queries import prepare_domain_policies

mode = sys.argv[1]; sf_dir = sys.argv[2]
amplify = int(sys.argv[3]); reps = int(sys.argv[4])
spark = get_spark("domain-ab", cores=32, shuffle_partitions=32)
spark.sparkContext.setLogLevel("ERROR")
register_crawl_views(spark, sf_dir)
frontier = spark.sql(with_crawl_ctes(
    "SELECT 'https://' || www || base_host || path || '/v' "
    "|| CAST(i AS STRING) || 'x' AS url, depth, priority "
    "FROM pages CROSS JOIN "
    f"(SELECT explode(sequence(1, {amplify})) AS i)"))
frontier = frontier.repartition(128).localCheckpoint(eager=True)
n_urls = frontier.count()
seen = spark.table("seen")
shards = bloom_ops.build_shards(
    seen, num_shards=32, expected_per_shard=200_000
).localCheckpoint(eager=True)
shards.count()
if mode.startswith("domain"):
    pol = spark.read.parquet(
        prepare_domain_policies(spark, sf_dir)
    ).localCheckpoint(eager=True)
else:
    pol = spark.table("host_policies").localCheckpoint(eager=True)
cap = int(pol.agg({"budget": "max"}).first()[0])
kw = dict(bloom_shards=shards, num_shards=32, budget_cap=cap,
          domain_politeness=mode.startswith("domain"))
# untimed warm round: python-worker spawn + JIT + plan compile — the
# same protocol bench.py uses for the flagship and the domain variant
scheduling_round(frontier, seen, pol, **kw).write.format("noop").mode(
    "overwrite").save()
samples = []
for _ in range(reps):
    t0 = time.monotonic()
    scheduling_round(frontier, seen, pol, **kw).write.format(
        "noop").mode("overwrite").save()
    samples.append(round(time.monotonic() - t0, 3))
print(json.dumps({"mode": mode, "sec": min(samples),
                  "samples": samples, "input_urls": n_urls}))
spark.stop()
"""


def run_config(mode: str, sf_dir: str, amplify: int, reps: int) -> dict:
    env = dict(os.environ)
    shm = "/dev/shm/sparktmp"
    if os.path.isdir("/dev/shm") and "SPARK_LOCAL_DIRS" not in env:
        os.makedirs(shm, exist_ok=True)
        env["SPARK_LOCAL_DIRS"] = shm
    busy = _gate()
    out = subprocess.run(
        [sys.executable, "-c", WORKER, mode, sf_dir, str(amplify),
         str(reps)],
        capture_output=True, text=True, check=True, cwd="/root/repo",
        env=env,
    )
    rec = json.loads(out.stdout.strip().splitlines()[-1])
    rec["window_busy"] = busy
    return rec


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("DOMAIN_AB_REPS", "3"))
    amplifies = [
        int(a)
        for a in os.environ.get("DOMAIN_AB_AMPLIFY", "30,120,240").split(",")
    ]
    modes = os.environ.get(
        "DOMAIN_AB_MODES", "host,domain-inline"
    ).split(",")
    points = []
    for amp in amplifies:
        # interleave all configs within the size so they see the same
        # window (noisy-sandbox protocol: adjacent trials, best-of)
        recs = {m: run_config(m, sf_dir, amp, reps) for m in modes}
        h = recs[modes[0]]
        pt = {"amplify": amp, "input_urls": h["input_urls"]}
        for m, r in recs.items():
            key = m.replace("-", "_")
            pt[f"sec_{key}"] = r["sec"]
            pt[f"samples_{key}"] = r["samples"]
        for m in modes[1:]:
            key = m.replace("-", "_")
            pt[f"delta_{key}"] = round(recs[m]["sec"] - h["sec"], 3)
            pt[f"pct_{key}"] = round(
                (recs[m]["sec"] / h["sec"] - 1) * 100, 1
            )
        pt["window_busy"] = [recs[m]["window_busy"] for m in modes]
        points.append(pt)
        print(json.dumps(points[-1]), file=sys.stderr, flush=True)
    # flat-delta verdict per domain mode: the absolute delta at the
    # largest input is no more than 2x the delta at the smallest
    # (fixed cost), while round time itself grew by the input ratio
    flat = {}
    for m in modes[1:]:
        key = "delta_" + m.replace("-", "_")
        d0, dn = points[0][key], points[-1][key]
        flat[m] = abs(dn) <= max(2 * abs(d0), 1.0)
    print(json.dumps({
        "metric": "domain_vs_host_delta",
        "points": points,
        "verdict_flat_delta": flat,
        "sf_dir": sf_dir,
        "protocol": "fresh idle-gated JVM per config, local[32], "
                    "1 warm + min of timed reps, all modes "
                    "interleaved per size",
    }))


if __name__ == "__main__":
    main()
