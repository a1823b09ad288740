"""Multi-executor scaling evidence on a LOCAL STANDALONE cluster.

The north_rule's criterion is throughput scaling from N to 4N
EXECUTORS. local[n] can't show that faithfully (all executor threads
share one JVM heap — GC/allocator contention, which separate executor
JVMs don't have). This harness starts a real Spark standalone cluster
on localhost — 1 master + 4 workers, 8 cores / 8g each — and runs the
identical frontier round twice:

  N  = spark.cores.max=8   -> 1 executor  (8 cores)
  4N = spark.cores.max=32  -> 4 executors (32 cores)

Same input, same shuffle partitions (fixed 64), same bloom shards.
Prints one JSON line; --update-baseline rewrites BASELINE.md's table.
"""

from __future__ import annotations

import json
import os
import socket
import subprocess
import sys
import time

PYSPARK_HOME = os.path.dirname(__import__("pyspark").__file__)
MASTER_URL = "spark://127.0.0.1:7077"


def _spark_class(cls: str, *args: str) -> subprocess.Popen:
    env = dict(os.environ)
    env.setdefault("SPARK_HOME", PYSPARK_HOME)
    env.setdefault("SPARK_NO_DAEMONIZE", "1")
    env.setdefault("SPARK_LOG_DIR", "/tmp/spark-logs")
    return subprocess.Popen(
        [os.path.join(PYSPARK_HOME, "bin", "spark-class"), cls, *args],
        env=env,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )


def _wait_port(port: int, timeout: float = 60.0) -> None:
    t0 = time.monotonic()
    while time.monotonic() - t0 < timeout:
        with socket.socket() as s:
            s.settimeout(1)
            try:
                s.connect(("127.0.0.1", port))
                return
            except OSError:
                time.sleep(0.5)
    raise TimeoutError(f"port {port} never opened")


def start_cluster(workers: int = 4, cores: int = 8, mem: str = "8g"):
    procs = [
        _spark_class(
            "org.apache.spark.deploy.master.Master",
            "--host", "127.0.0.1", "--port", "7077", "--webui-port", "8090",
        )
    ]
    _wait_port(7077)
    for i in range(workers):
        procs.append(
            _spark_class(
                "org.apache.spark.deploy.worker.Worker",
                MASTER_URL,
                "--cores", str(cores),
                "--memory", mem,
                "--webui-port", str(8190 + i),
            )
        )
    time.sleep(5)
    return procs


def stop_cluster(procs) -> None:
    for p in procs:
        p.terminate()
    for p in procs:
        try:
            p.wait(timeout=10)
        except subprocess.TimeoutExpired:
            p.kill()


def build_pyfiles_zip(path: str = "/tmp/cmoncrawl_spark.zip") -> str:
    """Package the engine for executor shipment (the north_rule's
    ``spark-submit --py-files`` distribution path): the .py sources
    plus the bundled public suffix list, which the package reads
    from the zip."""
    import zipfile

    root = "/root/repo/cmoncrawl_spark"
    with zipfile.ZipFile(path, "w") as z:
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                if f.endswith((".py", ".dat")):
                    full = os.path.join(dirpath, f)
                    rel = os.path.relpath(full, "/root/repo")
                    z.write(full, rel)
    return path


WORKER = r"""
import json, sys, time
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession, functions as F
from cmoncrawl_spark.datagen import register_crawl_views, with_crawl_ctes
from cmoncrawl_spark.operators import bloom as bloom_ops
from cmoncrawl_spark.operators.frontier import scheduling_round

cores_max = int(sys.argv[1]); sf_dir = sys.argv[2]; amplify = int(sys.argv[3]); reps = int(sys.argv[4])
spark = (SparkSession.builder.appName(f"cluster-bench-{cores_max}")
    .master("spark://127.0.0.1:7077")
    .config("spark.cores.max", str(cores_max))
    .config("spark.executor.cores", "8")
    .config("spark.executor.memory", "7g")
    .config("spark.sql.shuffle.partitions", "64")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
spark.sparkContext.addPyFile("/tmp/cmoncrawl_spark.zip")
register_crawl_views(spark, sf_dir)
frontier = spark.sql(with_crawl_ctes(
    "SELECT 'https://' || www || base_host || path || '/v' || CAST(i AS STRING) || 'x' AS url, depth, priority "
    f"FROM pages CROSS JOIN (SELECT explode(sequence(1, {amplify})) AS i)"
)).repartition(128).localCheckpoint(eager=True)
n_urls = frontier.count()
seen = spark.table("seen").localCheckpoint(eager=True)
policies = spark.table("host_policies").localCheckpoint(eager=True)
shards = bloom_ops.build_shards(seen, num_shards=32, expected_per_shard=200000).localCheckpoint(eager=True)
shards.count()
cap = int(policies.agg({"budget": "max"}).first()[0])
# one UNTIMED warm-up round: first execution pays executor python-worker
# spawn + --py-files import + JIT (measured ~4 min at 4 executors) —
# steady-state round throughput is the metric (same protocol as
# bench.py's untimed flagship warm run).
scheduling_round(frontier, seen, policies, bloom_shards=shards,
                 num_shards=32, budget_cap=cap).write.format("noop").mode("overwrite").save()
samples = []
for _ in range(reps):
    t0 = time.monotonic()
    scheduling_round(frontier, seen, policies, bloom_shards=shards,
                     num_shards=32, budget_cap=cap).write.format("noop").mode("overwrite").save()
    samples.append(round(time.monotonic() - t0, 2))
    print(json.dumps({"progress": samples[-1]}), file=sys.stderr, flush=True)
print(json.dumps({"cores_max": cores_max, "sec": min(samples),
                  "samples": samples, "input_urls": n_urls}))
spark.stop()
"""


def run_level(cores_max: int, sf_dir: str, amplify: int, reps: int) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", WORKER, str(cores_max), sf_dir, str(amplify), str(reps)],
        capture_output=True,
        text=True,
        check=True,
        cwd="/root/repo",
        timeout=int(os.environ.get("CLUSTER_LEVEL_TIMEOUT", "900")),
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    amplify = int(os.environ.get("SCALING_AMPLIFY", "240"))
    reps = int(os.environ.get("SCALING_REPS", "3"))
    build_pyfiles_zip()
    procs = start_cluster()
    try:
        lo = run_level(8, sf_dir, amplify, reps)
        hi = run_level(32, sf_dir, amplify, reps)
        lo2 = run_level(8, sf_dir, amplify, reps)
        hi2 = run_level(32, sf_dir, amplify, reps)
    finally:
        stop_cluster(procs)
    sec_n = min(lo["sec"], lo2["sec"])
    sec_4n = min(hi["sec"], hi2["sec"])
    n_urls = lo["input_urls"]
    eff = (sec_n / sec_4n) / 4
    result = {
        "metric": "frontier_scaling_efficiency",
        "value": round(eff, 3),
        "unit": "ratio",
        "N_executors": 1,
        "4N_executors": 4,
        "executor_cores": 8,
        "sec_N": round(sec_n, 3),
        "sec_4N": round(sec_4n, 3),
        "urls_per_sec_N": round(n_urls / sec_n, 1),
        "urls_per_sec_4N": round(n_urls / sec_4n, 1),
        "input_urls": n_urls,
        "sf_dir": sf_dir,
        "samples": {
            "N": [round(lo["sec"], 2), round(lo2["sec"], 2)],
            "4N": [round(hi["sec"], 2), round(hi2["sec"], 2)],
        },
    }
    print(json.dumps(result))
    if "--update-baseline" in sys.argv:
        from scaling_bench import _update_baseline

        _update_baseline(
            {
                "N_cores": "1x8 (1 executor)",
                "4N_cores": "4x8 (4 executors)",
                "input_urls": n_urls,
                "sec_N": round(sec_n, 3),
                "sec_4N": round(sec_4n, 3),
                "urls_per_sec_N": round(n_urls / sec_n, 1),
                "urls_per_sec_4N": round(n_urls / sec_4n, 1),
                "value": round(eff, 3),
            }
        )


if __name__ == "__main__":
    main()
