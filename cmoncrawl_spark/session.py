"""SparkSession factory tuned for this engine.

Centralizes the configs every job needs:

- Arrow enabled (all extraction / bloom stages are pandas UDFs);
- AQE on (runtime coalescing + skew-join handling — SURVEY §4);
- shuffle partitions sized to cores (overridable; at cluster scale this
  would be set per-job from input stats).

On a real cluster the same builder is used by ``spark-submit
--py-files``; only ``master`` changes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "cmoncrawl-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores=None -> local[*]; otherwise local[cores]. On a cluster this
    function is still the single place configs live — master comes from
    spark-submit and the local[] fallback is ignored.
    """
    if cores is None:
        env_cores = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env_cores) if env_cores else 0
    master = f"local[{cores}]" if cores and cores > 0 else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = (
            cores if cores and cores > 0 else DEFAULT_SHUFFLE_PARTITIONS
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _conf_bytes(spark: SparkSession, key: str, default: int) -> int:
    """Parse a size conf value ('128m', '134217728b', '1g') to bytes."""
    v = spark.conf.get(key, None)
    if not v:
        return default
    s = str(v).strip().lower()
    mult = 1
    for suffix, m in (
        ("kb", 1024),
        ("mb", 1024**2),
        ("gb", 1024**3),
        ("tb", 1024**4),
        ("k", 1024),
        ("m", 1024**2),
        ("g", 1024**3),
        ("t", 1024**4),
        ("b", 1),
    ):
        if s.endswith(suffix):
            s = s[: -len(suffix)]
            mult = m
            break
    try:
        return int(float(s) * mult)
    except ValueError:
        return default


def scan_parallel_floor(spark: SparkSession, df, src_path: str, key_col: str):
    """Scale-adaptive scan-parallelism floor for COMPUTE-HEAVY pipelines
    (optimization guide §2.5, 'input skew: one huge unsplittable file
    ... repartition immediately after the read').

    The driver's test tables are ONE parquet file with a single row
    group, so Spark plans the scan — and every operator until the first
    exchange (expression pipelines, Arrow stages, partial aggregates) —
    as ONE task regardless of core count. When the SOURCE file's
    estimated split count is below the session's parallelism,
    hash-redistribute by a unique-id column (no round-robin: avoids the
    sort-before-repartition pass and stays deterministic under retries).
    At production scale (estimated splits >= cores — any source over
    cores * maxPartitionBytes) this never fires and the plan is
    unchanged: no extra exchange, file-split parallelism as usual.

    Deliberately NOT applied to every table read (r6 A/B, 4 reps at
    sf1.0): pipelines whose per-row work is light and that read the
    base table several times (frontier rounds: 3-4 subtrees -> 3-4
    extra exchanges, +0.7 s; events aggregations: +0.4 s) LOSE to the
    extra exchange, while compute-dense pipelines (shingling + minhash
    ~6x, Arrow HTML extraction ~2x, hyperplane-LSH ~2x) dominate it.
    Callers opt in at the operator that is known compute-bound.
    """
    try:
        size = sum(
            os.path.getsize(os.path.join(dirpath, f))
            for dirpath, _, files in os.walk(src_path)
            for f in files
            if not f.startswith("_") and not f.startswith(".")
        ) if os.path.isdir(src_path) else os.path.getsize(src_path)
    except OSError:
        return df
    max_pb = _conf_bytes(
        spark, "spark.sql.files.maxPartitionBytes", 128 * 1024**2
    )
    cores = spark.sparkContext.defaultParallelism
    est_splits = max(1, size // max_pb)
    if est_splits >= cores or key_col not in df.columns:
        return df
    return df.repartition(cores, key_col)


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...]):
    """Register the named parquet tables of ``sf_dir`` as temp views;
    returns dict of DFs."""
    dfs = {}
    for name in names:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        df.createOrReplaceTempView(name)
        dfs[name] = df
    return dfs
