"""Partitioned bloom-filter URL-seen set (SURVEY §2 D1, §7 R5).

The reference keeps an in-memory ``Set[str]`` of canonical URL ids
(/root/reference/cmoncrawl/middleware/synchronized.py:30-41). At a
10^10-URL frontier that set is ~12 GB of bloom bits at 1% FPR — far too
big to broadcast — so it is SHARDED by a hash of the url id: each shard
is an independent bloom filter (one blob row), built and probed
shard-locally via Arrow UDFs.

Zero per-row Python: the two independent 64-bit hashes every bloom op
needs are computed JVM-side with ``xxhash64(id)`` and
``xxhash64(id, seed=PRIME)`` inside whole-stage codegen. The UDFs
(``applyInArrow``) receive pyarrow tables, view the int64 hash columns
as numpy arrays without a copy and do pure numpy bit math
(double-hashing h1 + i*h2 — Kirsch-Mitzenmacher); no pandas frame or
object-dtype column is ever built.

Shard choice (``shard_of``): shard = pmod(h1 >>> 32, n), the HIGH half
of h1. Bit positions are (h1 + i*h2) mod m with 64 dividing m, so they
depend on h1's low bits; a shard taken from those low bits (pmod(h1,
n)) fixes them inside a shard, puts every id's first position in 1/32
of the array at 32 shards and reads a false-positive rate ~7× the
design (PLANS.md §17). Every blob row records the scheme in
``shard_scheme``: probing a blob that was sharded another way gives
false NEGATIVES (duplicate fetches), so the probe refuses any other
scheme.

Probe protocol (keeps results EXACT, not approximate):
  bloom-negative  -> definitely unseen, pass through (no join) — at
                     scale this is ~99% of candidates, so the expensive
                     exact join only sees bloom-positives;
  bloom-positive  -> exact left_semi against the seen table confirms
                     the real hits, and the candidates anti-join them.
The net result equals an exact anti-join (the DuckDB oracle). What
moves per round is the slim probe input (id, h1, h2), the ~1% positive
ids and the hits exchange — never full candidate rows or bloom bits
beyond one shard per task.

Checkpointing: shards serialize to rows (shard_id, bloom, n_items,
m_bits, k_hashes, shard_scheme) — written/loaded as a parquet table
per round (north_rule resumability).
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

_SEED2 = 0x9E3779B1  # second-hash seed (golden-ratio prime)

#: the shard choice every blob row records: 1 = pmod(h1 >>> 32, n).
SHARD_SCHEME = 1

#: the false-positive rate every blob is designed for.
FPP = 0.01

BLOOM_SHARD_SCHEMA = StructType(
    [
        StructField("shard_id", IntegerType()),
        StructField("bloom", BinaryType()),
        StructField("n_items", LongType()),
        StructField("m_bits", LongType()),
        StructField("k_hashes", IntegerType()),
        StructField("shard_scheme", IntegerType()),
    ]
)


def optimal_params(n: int, fpp: float) -> tuple[int, int]:
    """(m_bits, k_hashes) for n items at target false-positive rate."""
    n = max(n, 1)
    m = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = (m + 63) // 64 * 64
    k = max(1, round(m / n * math.log(2)))
    return m, k


def _positions(h1: np.ndarray, h2: np.ndarray, k: int, m: int) -> np.ndarray:
    """(len, k) bit positions via double hashing; all-numpy, vectorized."""
    i = np.arange(k, dtype=np.uint64)
    # uint64 wrap-around arithmetic is exactly what we want here.
    return (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m)


def _set_bits(bits: np.ndarray, pos: np.ndarray) -> None:
    flat = pos.reshape(-1)
    np.bitwise_or.at(bits, flat >> np.uint64(3), (1 << (flat & np.uint64(7))).astype(np.uint8))


def _test_bits(bits: np.ndarray, pos: np.ndarray) -> np.ndarray:
    byte = bits[(pos >> np.uint64(3)).astype(np.int64)]
    mask = (1 << (pos & np.uint64(7))).astype(np.uint8)
    return ((byte & mask) != 0).all(axis=1)


def _hashes(tbl: pa.Table) -> tuple[np.ndarray, np.ndarray]:
    """h1/h2 of an Arrow table as uint64 views of its int64 columns."""
    return tuple(tbl.column(c).to_numpy().view(np.uint64) for c in ("h1", "h2"))


def with_bloom_hashes(df: DataFrame) -> DataFrame:
    """Attach JVM-computed h1/h2 (int64) of ``url_id`` — the only
    hashing anywhere."""
    return df.withColumn("h1", F.xxhash64("url_id")).withColumn(
        "h2", F.xxhash64(F.col("url_id"), F.lit(_SEED2))
    )


def shard_of(h1_col, num_shards: int):
    """Shard of an id from the high half of h1 (``SHARD_SCHEME``)."""
    return F.pmod(F.shiftrightunsigned(h1_col, 32), F.lit(num_shards)).cast("int")


def require_shard_scheme(shards: DataFrame) -> None:
    """Refuse a shard table written before blobs recorded their scheme."""
    if "shard_scheme" not in shards.columns:
        raise ValueError(
            "shard table has no shard_scheme column: it was sharded by "
            "pmod(h1, n) and would give false negatives; rebuild it"
        )


def check_shard_scheme(schemes) -> None:
    """Raise unless every blob row was sharded by ``SHARD_SCHEME``."""
    bad = {s for s in schemes if s != SHARD_SCHEME}
    if bad:
        raise ValueError(
            f"blob shard_scheme {sorted(bad, key=str)} != {SHARD_SCHEME}: "
            "probing it would give false negatives; rebuild the shards"
        )


def build_shards(
    seen_ids: DataFrame,
    expected_per_shard: int,
    num_shards: int = 32,
) -> DataFrame:
    """Build bloom shards from a DataFrame of seen canonical ids
    (``url_id``).

    One shuffle (groupBy shard) of (shard, h1, h2) only, then an Arrow
    UDF turns each shard's hash columns into one bloom blob row. Every
    blob is sized for ``expected_per_shard`` ids at ``FPP``; the crawl
    passes its round's own count, so each round's blobs fit that round.
    """
    m, k = optimal_params(expected_per_shard, FPP)

    def _build(tbl: pa.Table) -> pa.Table:
        bits = np.zeros(m // 8, dtype=np.uint8)
        _set_bits(bits, _positions(*_hashes(tbl), k, m))
        return pa.table(
            {
                "shard_id": pa.array([tbl.column("shard")[0].as_py()], pa.int32()),
                "bloom": pa.array([bits.tobytes()], pa.binary()),
                "n_items": pa.array([tbl.num_rows], pa.int64()),
                "m_bits": pa.array([m], pa.int64()),
                "k_hashes": pa.array([k], pa.int32()),
                "shard_scheme": pa.array([SHARD_SCHEME], pa.int32()),
            }
        )

    # No .distinct(): bloom insertion is idempotent, so deduping first
    # would only add a shuffle.
    hashed = with_bloom_hashes(seen_ids.select("url_id"))
    return (
        hashed.select(shard_of(F.col("h1"), num_shards).alias("shard"), "h1", "h2")
        .groupBy("shard")
        .applyInArrow(_build, BLOOM_SHARD_SCHEMA)
    )


def probe_positive_ids(
    candidates: DataFrame,
    shards: DataFrame,
    num_shards: int = 32,
) -> DataFrame:
    """Bloom-positive ids of ``candidates`` — the shard-local probe.

    Cogrouped Arrow UDF: each task gets one shard's (id, h1, h2) rows
    plus that shard's blob row(s); the full filter is never broadcast
    or collected (R5). Only ids whose bloom test passes come back out
    (~1% at scale plus the true hits); the id column is filtered as an
    Arrow array, never converted.

    A shard may legitimately carry MULTIPLE blob rows, possibly with
    different (m_bits, k_hashes): append-only crawl rounds add up to
    one blob per shard per round, and nothing compacts them. Membership
    is the OR over every blob row — probing only the first would
    produce silent false negatives (duplicate fetches).
    """
    require_shard_scheme(shards)
    out_schema = StructType([StructField("url_id", candidates.schema["url_id"].dataType)])

    def _probe_pos(cand: pa.Table, blob: pa.Table) -> pa.Table:
        ids = cand.column("url_id")
        if cand.num_rows == 0 or blob.num_rows == 0:
            return pa.table({"url_id": ids.slice(0, 0)})
        check_shard_scheme(blob.column("shard_scheme").to_pylist())
        h1, h2 = _hashes(cand)
        seen = np.zeros(cand.num_rows, dtype=bool)
        for i in range(blob.num_rows):
            bits = np.frombuffer(blob.column("bloom")[i].as_buffer(), dtype=np.uint8)
            m = blob.column("m_bits")[i].as_py()
            k = blob.column("k_hashes")[i].as_py()
            seen |= _test_bits(bits, _positions(h1, h2, k, m))
        return pa.table({"url_id": ids.filter(pa.array(seen))})

    slim = with_bloom_hashes(candidates.select("url_id")).withColumn(
        "shard", shard_of(F.col("h1"), num_shards)
    )
    return (
        slim.groupBy("shard")
        .cogroup(shards.groupBy(F.col("shard_id").alias("shard")))
        .applyInArrow(_probe_pos, out_schema)
    )


def dedupe_against_seen(
    candidates: DataFrame,
    seen_ids: DataFrame,
    shards: DataFrame | None = None,
    num_shards: int = 32,
) -> DataFrame:
    """Exact unseen-set via bloom pre-filter + anti-join backstop.

    Equivalent to ``candidates.join(seen, 'left_anti')`` but the exact
    join only receives bloom-POSITIVE ids. With shards=None falls back
    to the plain exact anti-join (small inputs / tests).

    No ``.distinct()`` on the seen side (r6): semi- and anti-join are
    SET operations — duplicate seen ids cannot change their result —
    so the former dedup pass was one full shuffle+aggregate of the
    seen set per round for nothing (optimization guide §2.4, 'a
    distinct on data that is already unique').
    """
    seen = seen_ids.select("url_id")
    if shards is None:
        return candidates.join(seen, on="url_id", how="left_anti")
    # Bloom path: slim probe -> exact confirm -> one anti join.
    # positives ∩ seen is exactly candidates ∩ seen (the bloom has no
    # false negatives), so anti-joining candidates against the
    # CONFIRMED hits equals the exact anti-join — while the shuffled /
    # Arrow-transferred intermediates shrink from full rows to single
    # id columns. The confirm join and the final anti-join both
    # broadcast whenever their small side allows (AQE decides). The
    # probe reads ``candidates`` through the same exchange as the
    # anti-join when the caller leaves the two plans identical below
    # it (scheduling_round does), so AQE reuses it.
    pos = probe_positive_ids(candidates, shards, num_shards=num_shards)
    hits = pos.join(seen, on="url_id", how="left_semi")
    return candidates.join(hits, on="url_id", how="left_anti")
