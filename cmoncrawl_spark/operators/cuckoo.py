"""Partitioned cuckoo-filter URL-seen set — the deletable fallback
behind the bloom shard interface (north_rule: "bloom/cuckoo").

Why a second filter: bloom bits cannot be deleted, so retiring URLs
from the seen set (recrawl policies, TTL'd frontiers) would force a
full rebuild. A cuckoo filter (Fan et al., "Cuckoo Filter: Practically
Better Than Bloom", CoNEXT'14) stores displaceable fingerprints in
2-choice buckets and supports true deletion at the same ~3% FP rate.

Same protocol as operators/bloom.py (shard-local, exactness preserved):
  negative  -> definitely unseen (cuckoo filters have NO false
               negatives for inserted items), pass through;
  positive  -> exact anti-join backstop removes false positives.

Layout per shard: ``table`` = uint16 little-endian array of
(n_buckets x SLOTS) fingerprint slots; 0 = empty; fingerprints are
mapped into [1, 65535]. Bucket choice is partial-key cuckoo hashing:
i1 = h1 mod n_buckets, i2 = i1 XOR spread(fp) (n_buckets is a power of
two so XOR stays in range and is an involution — delete/probe can
derive i2 from either side). The shard comes from the HIGH half of h1
(``bloom.shard_of``), so the low bits that pick i1 still vary inside a
shard; every table row records that scheme (``shard_scheme``) and the
probe and delete refuse any other.

Hashes are the SAME JVM-side xxhash64 pair the bloom shards use
(bloom.with_bloom_hashes) — zero per-row Python; the pandas UDFs do
pure numpy. Insertion walks an eviction loop per colliding item
(inherently sequential, bounded kicks) — at production scale builds
are incremental per round (O(round), like rounds.merge_bloom_shards),
so the loop amortizes to the handful of collisions per batch.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from cmoncrawl_spark.operators.bloom import (
    SHARD_SCHEME,
    check_shard_scheme,
    require_shard_scheme,
    shard_of,
    with_bloom_hashes,
)

SLOTS = 4  # slots per bucket (standard (2,4)-cuckoo: ~95% load)
_SPREAD = np.uint64(0x5BD1E995)  # MurmurHash2 multiplier for fp spread
_MAX_KICKS = 500

CUCKOO_SHARD_SCHEMA = StructType(
    [
        StructField("shard_id", IntegerType()),
        StructField("table", BinaryType()),
        StructField("n_items", LongType()),
        StructField("n_buckets", LongType()),
        StructField("fp_bits", IntegerType()),
        StructField("shard_scheme", IntegerType()),
    ]
)


def _n_buckets_for(n: int, load: float = 0.84) -> int:
    """Smallest power of two with n / (buckets*SLOTS) <= load."""
    need = max(int(n / (SLOTS * load)) + 1, 2)
    b = 1
    while b < need:
        b <<= 1
    return b


def _fingerprints(h2: np.ndarray) -> np.ndarray:
    """uint16 fingerprints in [1, 65535] (0 is the empty-slot marker)."""
    return ((h2 % np.uint64(65535)) + np.uint64(1)).astype(np.uint16)


def _alt_bucket(i: np.ndarray, fp: np.ndarray, n_buckets: int) -> np.ndarray:
    spread = (fp.astype(np.uint64) * _SPREAD) & np.uint64(n_buckets - 1)
    return (i ^ spread) & np.uint64(n_buckets - 1)


def _insert_all(
    table: np.ndarray, i1: np.ndarray, fp: np.ndarray, n_buckets: int
) -> None:
    """Insert every (bucket, fp); eviction loop only on collisions."""
    rng_state = np.uint64(0x2545F4914F6CDD1D)
    for j in range(len(fp)):
        cur_fp = fp[j]
        cur_i = np.uint64(i1[j])
        placed = False
        for _ in range(_MAX_KICKS):
            for b in (cur_i, _alt_bucket(cur_i, cur_fp, n_buckets)):
                row = table[int(b)]
                empty = np.flatnonzero(row == 0)
                if len(empty):
                    row[empty[0]] = cur_fp
                    placed = True
                    break
            if placed:
                break
            # evict a deterministic slot from cur_i and retry with it.
            rng_state = rng_state * np.uint64(6364136223846793005) + np.uint64(
                1442695040888963407
            )
            slot = int(rng_state >> np.uint64(60)) % SLOTS
            victim = table[int(cur_i)][slot]
            table[int(cur_i)][slot] = cur_fp
            cur_fp = victim
            cur_i = _alt_bucket(cur_i, np.uint16(cur_fp), n_buckets)
        if not placed:
            raise RuntimeError(
                "cuckoo shard over capacity — size shards from the seen "
                "count (expected_per_shard) before building"
            )


def build_cuckoo_shards(
    seen_ids: DataFrame,
    num_shards: int = 32,
    expected_per_shard: int = 1_000_000,
    id_col: str = "url_id",
) -> DataFrame:
    """Build cuckoo shards: one shuffle (groupBy shard), one Arrow UDF
    per shard turning the JVM hash columns into a fingerprint table."""
    n_buckets = _n_buckets_for(expected_per_shard)

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        table = np.zeros((n_buckets, SLOTS), dtype=np.uint16)
        h1 = pdf["h1"].to_numpy().astype(np.uint64)
        h2 = pdf["h2"].to_numpy().astype(np.uint64)
        fp = _fingerprints(h2)
        i1 = h1 & np.uint64(n_buckets - 1)
        # dedupe identical (bucket, fp): cuckoo insert is NOT idempotent
        # (each insert occupies a slot), bloom's was.
        uniq = np.unique(np.stack([i1, fp.astype(np.uint64)], axis=1), axis=0)
        _insert_all(table, uniq[:, 0], uniq[:, 1].astype(np.uint16), n_buckets)
        return pd.DataFrame(
            {
                "shard_id": [int(pdf["shard"].iloc[0])],
                "table": [table.tobytes()],
                "n_items": [len(pdf)],
                "n_buckets": [n_buckets],
                "fp_bits": [16],
                "shard_scheme": [SHARD_SCHEME],
            }
        )

    hashed = with_bloom_hashes(seen_ids.select(id_col), id_col)
    return (
        hashed.withColumn("shard", shard_of(F.col("h1"), num_shards))
        .groupBy("shard")
        .applyInPandas(_build, CUCKOO_SHARD_SCHEMA)
    )


def _membership(
    table: np.ndarray, n_buckets: int, h1: np.ndarray, h2: np.ndarray
) -> np.ndarray:
    fp = _fingerprints(h2)
    i1 = (h1 & np.uint64(n_buckets - 1)).astype(np.uint64)
    i2 = _alt_bucket(i1, fp, n_buckets)
    in1 = (table[i1.astype(np.int64)] == fp[:, None]).any(axis=1)
    in2 = (table[i2.astype(np.int64)] == fp[:, None]).any(axis=1)
    return in1 | in2


def probe_cuckoo(
    candidates: DataFrame,
    shards: DataFrame,
    num_shards: int = 32,
    id_col: str = "url_id",
) -> DataFrame:
    """candidates + maybe_seen:boolean — cogrouped shard-local probe,
    the bloom probe contract. Shards are chosen by ``bloom.shard_of``
    and every table row records that scheme, which the probe checks."""
    require_shard_scheme(shards)
    out_schema = StructType(
        candidates.schema.fields + [StructField("maybe_seen", BooleanType())]
    )
    cand_cols = [f.name for f in candidates.schema.fields]

    def _probe(cand: pd.DataFrame, blob: pd.DataFrame) -> pd.DataFrame:
        if cand.empty:
            return pd.DataFrame(columns=cand_cols + ["maybe_seen"])
        res = cand[cand_cols].copy()
        if blob.empty:
            res["maybe_seen"] = False
            return res
        check_shard_scheme(blob["shard_scheme"])
        h1 = cand["h1"].to_numpy().astype(np.uint64)
        h2 = cand["h2"].to_numpy().astype(np.uint64)
        # a shard may carry multiple table rows (e.g. differently-sized
        # tables merged across rounds): membership is the OR over all —
        # probing only the first would silently drop seen ids.
        seen = np.zeros(len(cand), dtype=bool)
        for _, row in blob.iterrows():
            n_buckets = int(row["n_buckets"])
            table = np.frombuffer(row["table"], dtype=np.uint16).reshape(
                n_buckets, SLOTS
            )
            seen |= _membership(table, n_buckets, h1, h2)
        res["maybe_seen"] = seen
        return res

    hashed = with_bloom_hashes(candidates, id_col).withColumn(
        "shard", shard_of(F.col("h1"), num_shards)
    )
    return (
        hashed.groupBy("shard")
        .cogroup(shards.groupBy(F.col("shard_id").alias("shard")))
        .applyInPandas(_probe, out_schema)
    )


def delete_from_cuckoo_shards(
    shards: DataFrame,
    ids: DataFrame,
    num_shards: int = 32,
    id_col: str = "url_id",
) -> DataFrame:
    """Remove ids from the filter — THE operation bloom can't do.

    Each deleted id clears ONE matching fingerprint slot from its
    bucket pair (standard cuckoo semantics: delete only items that were
    inserted, once per insertion). Returns the updated shard table.
    """
    require_shard_scheme(shards)

    def _delete(key, dfs: tuple[pd.DataFrame, pd.DataFrame]) -> pd.DataFrame:
        blob, todel = dfs
        if blob.empty:
            return pd.DataFrame(columns=[f.name for f in CUCKOO_SHARD_SCHEMA])
        check_shard_scheme(blob["shard_scheme"])
        n_buckets = int(blob["n_buckets"].iloc[0])
        table = (
            np.frombuffer(blob["table"].iloc[0], dtype=np.uint16)
            .reshape(n_buckets, SLOTS)
            .copy()
        )
        removed = 0
        if not todel.empty:
            h1 = todel["h1"].to_numpy().astype(np.uint64)
            h2 = todel["h2"].to_numpy().astype(np.uint64)
            fp = _fingerprints(h2)
            i1 = (h1 & np.uint64(n_buckets - 1)).astype(np.uint64)
            i2 = _alt_bucket(i1, fp, n_buckets)
            for a, b, f_ in zip(i1, i2, fp):
                for bucket in (int(a), int(b)):
                    hit = np.flatnonzero(table[bucket] == f_)
                    if len(hit):
                        table[bucket][hit[0]] = 0
                        removed += 1
                        break
        return pd.DataFrame(
            {
                "shard_id": [int(blob["shard_id"].iloc[0])],
                "table": [table.tobytes()],
                "n_items": [int(blob["n_items"].iloc[0]) - removed],
                "n_buckets": [n_buckets],
                "fp_bits": [int(blob["fp_bits"].iloc[0])],
                "shard_scheme": [int(blob["shard_scheme"].iloc[0])],
            }
        )

    hashed = with_bloom_hashes(ids.select(id_col), id_col).withColumn(
        "shard", shard_of(F.col("h1"), num_shards)
    )
    return (
        shards.groupBy(F.col("shard_id").alias("shard"))
        .cogroup(hashed.groupBy("shard"))
        .applyInPandas(lambda k, l, r: _delete(k, (l, r)), CUCKOO_SHARD_SCHEMA)
    )
