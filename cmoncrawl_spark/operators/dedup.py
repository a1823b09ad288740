"""Document deduplication for training-data pipelines.

Four flavors, each a `queries()` entry:

- exact: content-hash groupBy (queries.q_exact_dedup_docs);
- MinHash + LSH banding: shingle -> minhash signature -> band buckets
  -> candidate pairs -> EXACT Jaccard verify. Shingling, banding and
  the verify are native Catalyst expressions (xxhash64 + higher-order
  functions); the signature is one Arrow-batched numpy UDF;
- SimHash: JVM-side token hashing, numpy bit-vote in one Arrow UDF;
- n-gram Jaccard: exact pair similarity via array_intersect/union.

Scale notes: LSH turns the O(n^2) pair problem into groupBy(band,
bucket) — a single shuffle keyed by band hash. The exact verify join
only sees co-bucketed candidates. Dedup of a 100 TB corpus is the
textbook use (MinHashLSH as in Lee et al., "Deduplicating Training
Data Makes Language Models Better").

Determinism: hash seeds are fixed constants; the minhash permutations
are (a_j * h + b_j) mod P with a/b derived from a seeded recurrence —
same signature on every run and cluster size.

No operator here persists or caches a DataFrame, so a call leaves the
session's cache as it found it. Only the distributed loop of
connected_components materializes, with localCheckpoint.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cmoncrawl_spark.functions.scalars import portable_hash64

# Mersenne prime universe. 31-bit so (a * h') + b stays < 2^63 under
# ANSI mode (Spark 4 default): a,b,h' < 2^31 => a*h' < 2^62.
_P = (1 << 31) - 1

#: documents are ``(doc_id, text)``; text is shingled into word
#: k-grams, signed by NUM_PERM minhash permutations and banded into
#: BANDS bands of NUM_PERM // BANDS rows.
SHINGLE_K = 3
NUM_PERM = 32
BANDS = 16


def _perm_params() -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs via an LCG seeded with 7 (no RNG
    state)."""
    params = []
    x = 7
    for _ in range(NUM_PERM):
        x = (6364136223846793005 * x + 1442695040888963407) % (1 << 63)
        a = (x % (_P - 1)) + 1
        x = (6364136223846793005 * x + 1442695040888963407) % (1 << 63)
        b = x % _P
        params.append((a, b))
    return params


def _words(docs: DataFrame) -> DataFrame:
    """(id, words): each document's text split on single spaces.

    A column of its own, because higher-order functions run
    interpreted: a per-shingle lambda over ``split(text)`` would split
    the text again for every shingle. Binding the split as the variable
    of an outer ``transform`` instead fails on Spark 4.1: from the
    second call in a session on, the signature UDF over such shingles
    is left unextracted and the query cannot run."""
    return docs.select(
        F.col("doc_id").alias("id"), F.split(F.col("text"), " ").alias("words")
    )


def shingles(words: Column) -> Column:
    """Distinct word SHINGLE_K-shingles as an array<string> — native
    exprs. ``words`` is a column of :func:`_words`, not an expression,
    which the lambda would evaluate once per shingle."""
    k = SHINGLE_K
    n = F.size(words)
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i, k)))
    return F.array_distinct(sh)


def shingle_hashes(words: Column) -> Column:
    """xxhash64 of each distinct shingle (array<bigint>), JVM-side."""
    return F.transform(shingles(words), lambda s: F.xxhash64(s))


def _minhash_signatures(hash_arrays):
    # module-level, so cloudpickle ships it by reference and a worker
    # imports the package to unpickle it (see worker_imports).
    import numpy as np
    import pandas as pd

    params = np.array(_perm_params(), dtype=np.int64)
    a, b = params[:, :1], params[:, 1:]
    out = []
    empty = (b[:, 0] % _P).tolist()
    for arr in hash_arrays:
        if arr is None or len(arr) == 0:
            out.append(empty)
            continue
        # numpy % takes the divisor's sign, so h is in [0, _P)
        h = np.asarray(arr, dtype=np.int64) % _P
        sig = ((a * h[None, :] + b) % _P).min(axis=1)
        out.append(sig.tolist())
    return pd.Series(out)


def minhash_signature_udf():
    """array<bigint> signature: min((a * (h mod P) + b) mod P) per
    permutation, as one Arrow-batched numpy pass per row: the
    (perm x shingle) matrix min is one numpy op, ~50x faster than
    NUM_PERM Catalyst array traversals."""
    from pyspark.sql.functions import pandas_udf

    return pandas_udf(_minhash_signatures, "array<bigint>")


def _bounded_bucket_pairs(
    keyed: DataFrame, bucket_cols: list[str], max_bucket_size: int
) -> DataFrame:
    """Candidate pairs (a < b) from equality buckets, with a guard on
    degenerate buckets (the web's boilerplate problem: thousands of
    identical pages land in ONE bucket and an unguarded self-join goes
    quadratic there).

    Buckets of size <= max_bucket_size: full within-bucket pairs (the
    exact LSH contract). Oversized buckets: STAR + CHAIN expansion —
    every member pairs with the bucket's min id (star: diameter-2
    candidate graph) AND with its successor in id order (chain:
    connectivity insurance), 2(m-1) edges instead of O(m^2). The chain
    matters because downstream exact verification filters edges: if the
    hub happens to fail the similarity threshold against members (an
    outlier that banded into the bucket), the star alone would
    disconnect true near-dup pairs, while the chain keeps any run of
    mutually-similar members connected. Only exhaustive pair
    ENUMERATION inside a degenerate bucket is truncated, and that
    truncation is logged (no silent caps). Input: keyed(id, *bucket_cols).

    Plan shape (r6 rewrite, optimization guide §2.3/§2.4): ONE
    map-side-combinable groupBy collects each bucket's sorted member
    ids, and the pair lists are generated by array expressions inside
    codegen — replacing the previous three windows (count/min/lag) plus
    bucket self-join, whose window sorts and join exchanges carried the
    full banded table twice. Same output set, one exchange fewer and no
    per-bucket sort-merge join.
    """
    import logging

    grouped = keyed.groupBy(*bucket_cols).agg(
        F.sort_array(F.collect_list("id")).alias("_ids")
    )
    ids = F.col("_ids")
    m = F.size(ids)
    # full enumeration (i < j over the sorted ids); the greatest()
    # guards keep sequence/slice in-bounds for singleton buckets.
    all_pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.greatest(m - 1, F.lit(1))),
            lambda i: F.transform(
                F.slice(ids, i + 1, F.greatest(m - i, F.lit(0))),
                lambda b: F.struct(
                    F.element_at(ids, i).alias("a"), b.alias("b")
                ),
            ),
        )
    )
    # star: (hub = ids[1], ids[j]) for j >= 2; chain: (ids[j-1], ids[j])
    # for j >= 3 — zip of two shifted slices, empty-safe via greatest().
    star = F.transform(
        F.slice(ids, 2, F.greatest(m - 1, F.lit(0))),
        lambda b: F.struct(F.element_at(ids, 1).alias("a"), b.alias("b")),
    )
    chain = F.zip_with(
        F.slice(ids, 2, F.greatest(m - 2, F.lit(0))),
        F.slice(ids, 3, F.greatest(m - 2, F.lit(0))),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )
    pairs = F.when(m <= max_bucket_size, all_pairs).otherwise(
        F.concat(star, chain)
    )

    logger = logging.getLogger(__name__)
    if logger.isEnabledFor(logging.INFO):
        # opt-in (costs one extra job): report what the cap truncated.
        n_big = grouped.where(m > max_bucket_size).count()
        if n_big:
            logger.info(
                "lsh bucket cap: %d buckets over %d members reduced to "
                "star expansion (connectivity preserved, full pair "
                "enumeration truncated)",
                n_big,
                max_bucket_size,
            )

    return (
        grouped.select(F.explode(pairs).alias("_p"))
        .select(F.col("_p.a").alias("a"), F.col("_p.b").alias("b"))
        .distinct()
    )


def lsh_candidate_pairs(docs: DataFrame, max_bucket_size: int = 100) -> DataFrame:
    """Candidate near-dup pairs (a < b) via LSH banding.

    One wide projection (signature), one explode (bands), one
    bucket-grouped pair generation guarded by
    :func:`_bounded_bucket_pairs`. Returns distinct (a, b).
    """
    rows = NUM_PERM // BANDS
    sig_udf = minhash_signature_udf()
    sig = _hashed(docs).select("id", sig_udf(F.col("hashes")).alias("sig"))
    banded = sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(BANDS - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("sig"), b * rows + 1, rows),
                                lambda v: v.cast("string"),
                            ),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    return _bounded_bucket_pairs(banded, ["band", "bucket"], max_bucket_size)


def _hashed(docs: DataFrame) -> DataFrame:
    """(id, hashes): each document's shingle hashes."""
    return _words(docs).select("id", shingle_hashes(F.col("words")).alias("hashes"))


def jaccard(a_hashes: Column, b_hashes: Column) -> Column:
    inter = F.size(F.array_intersect(a_hashes, b_hashes))
    union = F.size(F.array_union(a_hashes, b_hashes))
    return inter / union


#: exact Jaccard a MinHash candidate pair needs to count as a near-dup.
MINHASH_THRESHOLD = 0.6


def minhash_dedup_pairs(docs: DataFrame) -> DataFrame:
    """LSH candidates verified with EXACT Jaccard >= ``MINHASH_THRESHOLD``.

    Output (a, b, jac) — with bands/rows generous for the threshold,
    recall is deterministic-complete on well-separated corpora, and
    the exact verify removes every false candidate, so the result
    equals the O(n^2) oracle — PROVIDED every LSH bucket stays within
    the 100-member cap of :func:`lsh_candidate_pairs`. When a
    degenerate bucket exceeds the cap, its pair enumeration is
    truncated to the star+chain expansion
    (see :func:`_bounded_bucket_pairs`): cluster-level results
    (connected components, keep-min dedup) are preserved for
    mutually-similar members, but the full within-bucket pair LIST is
    not exhaustive, so the O(n^2)-equality claim no longer applies to
    those buckets (truncation is logged).

    The signature stage and both verify joins each read
    :func:`_hashed` as a plain plan. Shingling once per consumer costs
    no more than writing the hashes to the block cache, and a cache
    would outlive the lazy frame returned here, which cannot release
    it.
    """
    hashed = _hashed(docs)
    cand = lsh_candidate_pairs(docs)
    return (
        cand.join(hashed.withColumnRenamed("id", "a").withColumnRenamed("hashes", "ha"), "a")
        .join(hashed.withColumnRenamed("id", "b").withColumnRenamed("hashes", "hb"), "b")
        .withColumn("jac", jaccard(F.col("ha"), F.col("hb")))
        .where(F.col("jac") >= MINHASH_THRESHOLD)
        .select("a", "b", (F.round(F.col("jac") * 1000)).cast("long").alias("jac_milli"))
    )


def ngram_jaccard_pairs(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact n-gram Jaccard for given (a, b) pairs — the non-LSH
    primitive (useful for verification / small candidate sets)."""
    sh = _words(docs).select("id", shingles(F.col("words")).alias("sh"))
    return (
        pairs.join(sh.withColumnRenamed("id", "a").withColumnRenamed("sh", "sa"), "a")
        .join(sh.withColumnRenamed("id", "b").withColumnRenamed("sh", "sb"), "b")
        .select(
            "a",
            "b",
            (F.round(jaccard(F.col("sa"), F.col("sb")) * 1000))
            .cast("long")
            .alias("jac_milli"),
        )
    )


#: label-propagation iterations between two convergence checks.
CHECK_EVERY = 3


def connected_components(
    pairs: DataFrame,
    max_iters: int = 50,
    stats: dict | None = None,
    driver_max_edges: int = 200_000,
) -> DataFrame:
    """Connected components over an undirected pair graph — the step
    that turns near-dup PAIRS into dedup CLUSTERS (keep one per
    component). Returns (id, component) with component = min id in the
    component (deterministic labels).

    Algorithm: min-label propagation with ADAPTIVE pointer jumping.
    Each iteration (a) every node adopts the smallest label among
    itself and its neighbors (one join + one groupBy on the edge key)
    — plain hooking; (b) once the first convergence check fails (the
    graph is deeper than ``CHECK_EVERY``), every subsequent iteration
    ALSO makes every node adopt its LABEL's label (one self-join on
    the label key — Shiloach-Vishkin shortcutting), after which label
    distance roughly doubles per round and convergence is O(log
    diameter) joins: a 10^2-long chain (the star+chain expansion of a
    degenerate LSH bucket produces exactly these) settles in ~10
    rounds instead of ~100. The adaptivity matters because the
    TYPICAL LSH pair graph is shallow (diameter <= CHECK_EVERY): there
    the shortcut join is pure overhead — round 3 measured a ×1.5
    regression paying it unconditionally — so the common case runs
    hooking-only and never pays the second join. Labels only decrease
    and only within a component, so the fixpoint is the component-min
    labeling either way — same answer as plain propagation,
    deterministic at any partitioning. The convergence check (a
    changed-count job) runs only every ``CHECK_EVERY`` iterations, so
    the steady state is ~1 action per join round instead of 2.

    Small-graph fast path: the verified near-dup pair graph is SPARSE
    (a tiny fraction of the corpus pairs up), so when it has at most
    ``driver_max_edges`` edges the components come from a driver-side
    union-find — O(E α(E)) in one collect, instead of ~6 distributed
    join jobs whose fixed scheduling cost dwarfs the work. Same labels
    (component = min id, path-compressed), same determinism. DRIVER
    MEMORY SIZING: each collected edge is a Python Row plus two
    union-find dict entries — ~1-2 KB of Python objects per edge, NOT
    the 16 bytes of raw longs — so the 200k default costs the driver
    ~200-400 MB transiently, safe at the 1g default driver heap; raise
    the threshold only with driver memory to match (~1-2 GB per extra
    million edges). Graphs above the threshold — the 10^10-URL-
    frontier case — run the distributed loop; set
    ``driver_max_edges=0`` to force it (the iteration-count tests do).
    Nothing is cached: the probe reads at most ``driver_max_edges + 1``
    pairs, and the distributed loop's symmetric edge list comes from
    one full read of ``pairs`` (each pair exploded into both
    directions), localCheckpointed before the loop.

    Non-convergence is an ERROR, not a silent wrong answer: if labels
    are still changing after ``max_iters`` (diameter > max_iters), the
    function raises rather than hand unconverged components to
    keep-min dedup. Pass ``stats={}`` to receive
    {"iterations": n, "converged": bool, "mode": ...} for
    testing/metrics.
    """
    spark = pairs.sparkSession
    id_type = dict(pairs.dtypes)["a"]
    if driver_max_edges > 0:
        # ONE pass decides AND fetches: collect at most limit+1 pairs
        # (a separate count probe would execute the whole upstream
        # pair pipeline — LSH + exact verify — twice).
        head = pairs.select("a", "b").limit(driver_max_edges + 1).collect()
        if len(head) <= driver_max_edges:
            parent: dict = {}

            def find(x):
                root = x
                while parent[root] != root:
                    root = parent[root]
                while parent[x] != root:  # path compression
                    parent[x], x = root, parent[x]
                return root

            for a, b in head:
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:  # union by MIN root => component = min id
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
            if stats is not None:
                stats["iterations"] = 0
                stats["converged"] = True
                stats["mode"] = "driver_union_find"
            # Arrow path for the result hand-back: a pandas frame with
            # two columns converts via one Arrow batch instead of
            # per-row pickling (guide §6 "Arrow for driver transfers")
            # — measurable at 10^5 labeled nodes.
            import pandas as pd

            nodes = list(parent)
            pdf = pd.DataFrame(
                {"id": nodes, "component": [find(x) for x in nodes]}
            )
            return spark.createDataFrame(
                pdf, f"id {id_type}, component {id_type}"
            )
    if stats is not None:
        stats["mode"] = "distributed"
    a, b = F.col("a"), F.col("b")
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(a.alias("u"), b.alias("v")),
                    F.struct(b.alias("u"), a.alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=True)
    )
    iters = 0
    converged = False
    jump = False  # engaged after the first failed convergence check
    while iters < max_iters and not converged:
        prev = labels
        for _ in range(min(CHECK_EVERY, max_iters - iters)):
            neighbor_min = (
                edges.join(
                    labels.withColumnRenamed("id", "v"), on="v"
                )
                .groupBy(F.col("u").alias("id"))
                .agg(F.min("component").alias("nbr_min"))
            )
            hooked = labels.join(neighbor_min, on="id", how="left").select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", "component")
                ).alias("component"),
            )
            if jump:
                # pointer jump: component values are always node ids,
                # so every label row finds its label's (smaller-or-
                # equal, same-component) label in one self-join.
                grand = hooked.select(
                    F.col("id").alias("component"),
                    F.col("component").alias("_grand"),
                )
                hooked = hooked.join(grand, on="component", how="left").select(
                    "id",
                    F.coalesce("_grand", "component").alias("component"),
                )
            labels = hooked
            iters += 1
        # materialize once per BLOCK, not per iteration: lineage within
        # a block is bounded (CHECK_EVERY joins), and each eager
        # localCheckpoint is a full job — per-iteration checkpointing
        # tripled the scheduling overhead of the common shallow case.
        labels = labels.localCheckpoint(eager=True)
        changed = (
            labels.alias("n")
            .join(prev.alias("o"), on="id")
            .where(F.col("n.component") != F.col("o.component"))
            .count()
        )
        converged = changed == 0
        if not converged:
            jump = True  # deep graph: shortcut from now on (O(log d))
    if stats is not None:
        stats["iterations"] = iters
        stats["converged"] = converged
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} "
            "iterations (graph diameter exceeds max_iters); refusing to "
            "return unconverged labels — raise max_iters"
        )
    return labels


def _simhash_fn(hash_arrays):
    # module-level, so cloudpickle ships it by reference and a worker
    # imports the package to unpickle it (see worker_imports).
    import numpy as np
    import pandas as pd

    out = []
    for arr in hash_arrays:
        if arr is None or len(arr) == 0:
            out.append(0)
            continue
        # int64 view + uint64 reinterpret: arr arrives as signed
        # two's-complement longs (astype on the int64 array wraps;
        # np.asarray(list, uint64) on negatives is deprecated).
        h = np.asarray(arr, dtype=np.int64).astype(np.uint64)
        bits = np.unpackbits(h.view(np.uint8)).reshape(len(h), 64)
        # SIGNED sums: uint8 sums promote unsigned, and `*2 - n`
        # would underflow for any minority bit, setting every vote
        # positive (this returned -1 for every doc until the DuckDB
        # bit-vote oracle caught it).
        votes = bits.sum(axis=0).astype(np.int64) * 2 - len(h)
        val = np.packbits((votes > 0).astype(np.uint8)).view(np.uint64)[0]
        out.append(int(val.astype(np.int64)))  # two's-complement to long
    return pd.Series(out)


def simhash(docs: DataFrame) -> DataFrame:
    """64-bit SimHash of each (doc_id, text): JVM-side token hashing,
    numpy bit-vote UDF.

    The only Python is one vectorized Arrow batch op (unpack bits of
    the token-hash matrix, sign of the column sums).

    ``simhash64`` is non-nullable (the UDF never returns null; the
    ``coalesce`` says so), so a self-join infers no ``IS NOT NULL``
    filter that would evaluate the UDF again below it.

    Tokens hash with ``functions.scalars.portable_hash64``, so DuckDB
    reproduces the exact bit votes from md5_number_lower.
    """
    from pyspark.sql.functions import pandas_udf

    _simhash = pandas_udf(_simhash_fn, "long")
    tokens_hashed = F.transform(
        F.array_distinct(F.split(F.col("text"), " ")), portable_hash64
    )
    return docs.select(
        "doc_id", F.coalesce(_simhash(tokens_hashed), F.lit(0)).alias("simhash64")
    )


#: SimHash near-dup distance, and the chunks the 64-bit hash splits
#: into for the pigeonhole self-join; SIMHASH_MAX_HAMMING < SIMHASH_BLOCKS.
SIMHASH_MAX_HAMMING = 3
SIMHASH_BLOCKS = 4


def simhash_near_pairs(docs: DataFrame) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= ``SIMHASH_MAX_HAMMING``.

    Pigeonhole blocking: split the 64-bit hash into ``SIMHASH_BLOCKS``
    chunks; any pair within distance < ``SIMHASH_BLOCKS`` shares at
    least one exact chunk, so the self-join keys on (block_idx, chunk)
    — no O(n^2). As ``SIMHASH_MAX_HAMMING`` < ``SIMHASH_BLOCKS``, the
    result is EXACTLY the all-pairs answer (recall 1 by pigeonhole) —
    which makes it oracle-able.
    """
    width = 64 // SIMHASH_BLOCKS
    sh = simhash(docs)
    mask = (1 << width) - 1
    block_structs = [
        F.struct(
            F.lit(i).alias("blk"),
            F.shiftrightunsigned(F.col("simhash64"), i * width)
            .bitwiseAND(F.lit(mask))
            .alias("chunk"),
        )
        for i in range(SIMHASH_BLOCKS)
    ]
    chunks = sh.select(
        F.col("doc_id").alias("id"),
        F.col("simhash64"),
        F.explode(F.array(*block_structs)).alias("c"),
    ).select(
        "id",
        "simhash64",
        F.col("c.blk").alias("blk"),
        F.col("c.chunk").alias("chunk"),
    )
    l, r = chunks.alias("l"), chunks.alias("r")
    ham = F.bit_count(F.col("l.simhash64").bitwiseXOR(F.col("r.simhash64")))
    return (
        l.join(
            r,
            (F.col("l.blk") == F.col("r.blk"))
            & (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .where(ham <= SIMHASH_MAX_HAMMING)
        .select(
            F.col("l.id").alias("a"),
            F.col("r.id").alias("b"),
            ham.alias("hamming"),
        )
        .distinct()
    )
