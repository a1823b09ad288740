"""Similarity search over embedding columns (array<float>).

- :func:`cosine_topk` — brute-force exact top-k vs a query vector;
  all-native double arithmetic (zip_with + aggregate), in-order fold
  so results are bit-reproducible (and oracle-able in DuckDB).
- :func:`signs_lsh` / :func:`cosine_dup_pairs` — random-hyperplane
  LSH bucketing for near-duplicate detection: deterministic seeded
  hyperplanes, bucket = sign-bit string, exact cosine verify within
  buckets. The O(n^2) pair space collapses to one groupBy(bucket).
- :func:`ann_topk` — LSH-bucketed approximate nearest neighbors: probe
  only the query's bucket, exact rerank inside. The 100 TB path:
  buckets are the partition key; a query touches one partition
  instead of the corpus.

No Python in any hot path — hyperplane dots are native expressions
generated from literal arrays (the hyperplanes are tiny: dim x bits).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: seed of every generated hyperplane and centroid.
SEED = 11
#: rows every top-k search returns.
TOP_K = 10
#: exact cosine a pair needs to count as a near-duplicate embedding.
COSINE_DUP_THRESHOLD = 0.99
#: IVF lists (seeded centroids) and how many of them a search scans.
IVF_LISTS = 8
IVF_PROBES = 2
#: sign bits of the ANN bucket key.
ANN_BITS = 8


def _lcg_floats(n: int) -> list[float]:
    """Deterministic pseudo-normal floats via an LCG seeded with
    ``SEED`` (sum of 4 uniforms, centered) — no RNG state,
    reproducible everywhere."""
    out = []
    x = SEED
    for _ in range(n):
        acc = 0.0
        for _ in range(4):
            x = (6364136223846793005 * x + 1442695040888963407) % (1 << 63)
            acc += x / float(1 << 63)
        out.append(acc - 2.0)
    return out


def hyperplanes(dim: int, bits: int) -> list[list[float]]:
    flat = _lcg_floats(dim * bits)
    return [flat[i * dim : (i + 1) * dim] for i in range(bits)]


def dot(a: Column, b: Column) -> Column:
    """In-order double dot product (bit-reproducible fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def sign_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """Concatenated sign bits of the hyperplane dots — the LSH key."""
    bits = [
        F.when(
            dot(vec_col, F.array(*[F.lit(float(v)) for v in p])) >= 0, "1"
        ).otherwise("0")
        for p in planes
    ]
    return F.concat(*bits)


def _sign_bucket_py(vec: list[float], planes: list[list[float]]) -> str:
    """Python twin of :func:`sign_bucket` — same in-order double fold
    (acc += x*y left-to-right), so signs match Spark bit-for-bit."""
    out = []
    for p in planes:
        acc = 0.0
        for x, y in zip(vec, p):
            acc += x * y
        out.append("1" if acc >= 0 else "0")
    return "".join(out)


def _topk_ranked(sims: DataFrame) -> DataFrame:
    """Scale-safe top-``TOP_K`` + rank over a (vec_id, sim) DataFrame.

    ``orderBy(...).limit(TOP_K)`` compiles to TakeOrderedAndProject —
    per-partition heaps merged on the driver, NO single-reducer
    global sort (the round-1 Window.orderBy plan shuffled the whole
    corpus into one partition). The rank window then sees only the
    survivors; the two-key (sim desc, id asc) order preserves the
    deterministic tie-break, so output rows and ranks are identical.
    """
    top = sims.orderBy(F.col("sim").desc(), F.col("vec_id").asc()).limit(TOP_K)
    return top.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("sim").desc(), F.col("vec_id"))),
    )


def cosine_topk(vecs: DataFrame, query_vec: Column) -> DataFrame:
    e = vecs.select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("_v")
    ).withColumn("_q", query_vec)
    sim = cosine(F.col("_v"), F.col("_q"))
    return _topk_ranked(e.select("vec_id", sim.alias("sim")))


#: bucket size over which cosine_dup_pairs switches to star expansion.
COSINE_MAX_BUCKET = 200


def cosine_dup_pairs(vecs: DataFrame) -> DataFrame:
    """Near-dup pairs (a < b) with exact cosine >=
    ``COSINE_DUP_THRESHOLD``, found via 12-bit sign-LSH buckets. Not
    exact: a pair at cosine θ lands in one bucket only when all 12
    hyperplanes agree, so the recall at θ is about
    (1 − arccos(θ)/π)^12, ≈ 0.58 at θ = 0.99 (ROADMAP direction 11's
    probe found 58% of the pairs at cosine 0.9905). Pairs near 1
    (exact copies) are always found. The exact verify inside buckets
    removes all false candidates.

    Degenerate-bucket guard: buckets over ``COSINE_MAX_BUCKET`` (mass-
    duplicated embeddings — common for boilerplate pages) switch to
    star expansion via dedup._bounded_bucket_pairs, bounding candidates
    at O(m) per bucket while keeping duplicate-cluster connectivity;
    truncation is logged at INFO."""
    from cmoncrawl_spark.operators.dedup import _bounded_bucket_pairs

    sample = vecs.select("embedding").first()
    dim = len(sample[0])
    planes = hyperplanes(dim, 12)
    keyed = vecs.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    ).withColumn("bucket", sign_bucket(F.col("v"), planes))
    cand = _bounded_bucket_pairs(
        keyed.select("id", "bucket"), ["bucket"], COSINE_MAX_BUCKET
    )
    va = keyed.select(F.col("id").alias("a"), F.col("v").alias("va"))
    vb = keyed.select(F.col("id").alias("b"), F.col("v").alias("vb"))
    sim = cosine(F.col("va"), F.col("vb"))
    return (
        cand.join(va, "a")
        .join(vb, "b")
        .where(sim >= COSINE_DUP_THRESHOLD)
        .select("a", "b")
    )


def ivf_build(vecs: DataFrame) -> tuple[DataFrame, list[list[float]]]:
    """IVF index over seeded centroids: ``IVF_LISTS`` deterministic LCG
    vectors (no training pass), and every vector assigned to its
    nearest centroid by one native expression argmin. The only job is
    the one-row read of the dimension; the assignments stay lazy. The
    centroids are literals both engines share, so the search path is
    oracle-checked bit-for-bit.
    Returns (assignments DataFrame [id, list_id], centroids)."""
    dim = len(vecs.select("embedding").first()[0])
    cents = hyperplanes(dim, IVF_LISTS)  # reuse the seeded generator
    e = vecs.select(
        F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("v")
    )
    return _assign(e, cents).select("id", "list_id"), cents


def _assign(e: DataFrame, cents: list[list[float]]) -> DataFrame:
    """Nearest-centroid assignment as a pure expression argmin."""
    dists = [
        F.struct(
            F.aggregate(
                F.zip_with(
                    F.col("v"),
                    F.array(*[F.lit(float(x)) for x in c]),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d"),
            F.lit(i).alias("i"),
        )
        for i, c in enumerate(cents)
    ]
    best = F.array_min(F.array(*dists))
    return e.withColumn("list_id", best["i"])


def ivf_topk(
    vecs: DataFrame,
    query_vec_values: list[float],
    centroids: list[list[float]],
    assignments: DataFrame,
) -> DataFrame:
    """IVF search: rank centroids driver-side, scan only the
    ``IVF_PROBES`` nearest lists, exact rerank inside. At scale the
    corpus is stored partitioned by list_id, so this reads
    ``IVF_PROBES`` partitions."""
    q = query_vec_values
    order = sorted(
        range(len(centroids)),
        key=lambda i: sum((a - b) ** 2 for a, b in zip(centroids[i], q)),
    )[:IVF_PROBES]
    qcol = F.array(*[F.lit(float(v)) for v in q])
    e = vecs.select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("v")
    ).join(
        assignments.withColumnRenamed("id", "vec_id"), on="vec_id", how="inner"
    )
    cand = e.where(F.col("list_id").isin(order))
    sim = cosine(F.col("v"), qcol)
    return _topk_ranked(cand.select("vec_id", sim.alias("sim")))


def ann_topk(vecs: DataFrame, query_vec_values: list[float]) -> DataFrame:
    """Approximate top-``TOP_K``: scan only the query's ``ANN_BITS``-bit
    LSH bucket, exact rerank inside it. At scale the corpus is stored
    bucket-partitioned so this is a single-partition read (partition
    pruning)."""
    dim = len(query_vec_values)
    planes = hyperplanes(dim, ANN_BITS)
    qcol = F.array(*[F.lit(float(v)) for v in query_vec_values])
    keyed = vecs.select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("bucket", sign_bucket(F.col("v"), planes))
    # query bucket driver-side in pure Python: planes are literals and
    # the in-order fold is the same IEEE sequence Spark's F.aggregate
    # runs, so no Spark job is needed for one constant
    qbucket = _sign_bucket_py([float(v) for v in query_vec_values], planes)
    cand = keyed.where(F.col("bucket") == qbucket)
    sim = cosine(F.col("v"), qcol)
    return _topk_ranked(cand.select("vec_id", sim.alias("sim")))
