"""Dedup + similarity operator tests (sf0.001 for speed)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cmoncrawl_spark.queries import _docs2
from cmoncrawl_spark.session import load_tables


def test_minhash_finds_planted_pairs(spark, sf_dir):
    from cmoncrawl_spark.operators.dedup import minhash_dedup_pairs

    docs2 = _docs2(spark, sf_dir)
    pairs = minhash_dedup_pairs(docs2)
    found = {(r["a"], r["b"]) for r in pairs.collect()}
    n_docs = docs2.count() // 2
    # every planted (d, d+1e6) pair with enough words must be found
    planted = {
        (r["doc_id"], r["doc_id"] + 1000000)
        for r in spark.table("documents")
        .where(F.size(F.split("text", " ")) >= 20)
        .collect()
    }
    missing = planted - found
    assert not missing, f"missed {len(missing)} of {len(planted)}"


def test_simhash_near_pairs_find_mutants(spark, sf_dir):
    from cmoncrawl_spark.operators.dedup import simhash_near_pairs

    docs2 = _docs2(spark, sf_dir)
    pairs = simhash_near_pairs(docs2)
    found = {(r["a"], r["b"]) for r in pairs.collect()}
    # long docs: dropping 2 words flips few simhash bits
    long_docs = {
        r["doc_id"]
        for r in spark.table("documents")
        .where(F.size(F.split("text", " ")) >= 60)
        .collect()
    }
    planted = {(d, d + 1000000) for d in long_docs}
    hit = len(planted & found) / max(len(planted), 1)
    assert hit >= 0.8, f"simhash recall {hit:.2f} on long docs"


def test_simhash_deterministic(spark, sf_dir):
    from cmoncrawl_spark.operators.dedup import simhash

    a = {(r["doc_id"], r["simhash64"]) for r in simhash(_docs2(spark, sf_dir)).collect()}
    b = {(r["doc_id"], r["simhash64"]) for r in simhash(_docs2(spark, sf_dir).repartition(7)).collect()}
    assert a == b


def test_ann_topk_contains_self(spark, sf_dir):
    from cmoncrawl_spark.operators.similarity import ann_topk

    load_tables(spark, sf_dir, ("embeddings",))
    emb = spark.table("embeddings")
    qv = emb.where("vec_id = 3").first()["embedding"]
    res = ann_topk(emb, [float(x) for x in qv])
    rows = res.collect()
    assert rows, "query bucket empty"
    assert rows[0]["vec_id"] == 3 and rows[0]["rank"] == 1


def test_exact_topk_matches_ann_rerank(spark, sf_dir):
    """ANN's bucket-restricted ranks must be consistent with exact sims."""
    from cmoncrawl_spark.operators.similarity import cosine_topk

    load_tables(spark, sf_dir, ("embeddings",))
    emb = spark.table("embeddings")
    qv = emb.where("vec_id = 0").select(
        F.col("embedding").cast("array<double>")
    ).first()[0]
    res = cosine_topk(emb, F.array(*[F.lit(float(v)) for v in qv])).collect()
    assert res[0]["vec_id"] == 0  # self is nearest
    sims = [r["sim"] for r in res]
    assert sims == sorted(sims, reverse=True)


def test_simhash_precision_dissimilar_docs_not_paired(spark):
    """Negative case: unrelated docs must NOT land within hamming<=3.
    (The pre-fix unsigned-underflow bug set every vote positive, giving
    simhash=-1 for every doc — recall tests alone couldn't see it.)"""
    from cmoncrawl_spark.operators.dedup import simhash, simhash_near_pairs

    import random

    rnd = random.Random(42)
    vocab_a = [f"alpha{i}" for i in range(200)]
    vocab_b = [f"beta{i}" for i in range(200)]
    rows = []
    for d in range(20):
        vocab = vocab_a if d % 2 == 0 else vocab_b
        rows.append((d, " ".join(rnd.choice(vocab) for _ in range(80))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    hashes = {r["doc_id"]: r["simhash64"] for r in simhash(df).collect()}
    assert len(set(hashes.values())) > 1, "all simhashes identical"
    pairs = {(r["a"], r["b"]) for r in simhash_near_pairs(df).collect()}
    # cross-vocabulary pairs share no tokens; none should be near-dups
    cross = {(a, b) for (a, b) in pairs if a % 2 != b % 2}
    assert not cross, f"dissimilar docs paired: {sorted(cross)[:5]}"


def test_simhash_single_token_equals_token_hash(spark):
    """n=1 ground truth: the simhash of a one-token doc IS the token
    hash (every set bit wins 1-0)."""
    from pyspark.sql import functions as F

    from cmoncrawl_spark.functions.scalars import portable_hash64
    from cmoncrawl_spark.operators.dedup import simhash

    df = spark.createDataFrame([(1, "solo")], "doc_id long, text string")
    got = simhash(df).first()["simhash64"]
    want = (
        spark.range(1)
        .select(portable_hash64(F.lit("solo")).alias("h"))
        .first()["h"]
    )
    assert got == want


def test_degenerate_bucket_cap_bounded_and_connected(spark):
    """1,000 identical docs: unguarded LSH would enumerate ~500k pairs
    per band; the bucket cap must bound candidates to a star while
    keeping the duplicate cluster fully connected (keep-min dedup
    unchanged)."""
    from cmoncrawl_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_dedup_pairs,
    )

    n = 1000
    df = spark.createDataFrame(
        [(i, "exact same boilerplate page text repeated for every doc "
              "in this degenerate web corpus cluster") for i in range(n)],
        "doc_id long, text string",
    )
    cand = lsh_candidate_pairs(df, max_bucket_size=50)
    n_cand = cand.count()
    # star + chain expansion: hub->member (n-1) plus consecutive-id
    # chain (n-2, the hub->1 chain edge coincides with a star edge),
    # NOT ~n^2/2
    assert n_cand == 2 * n - 3, f"candidates {n_cand}, want {2 * n - 3}"
    pairs = minhash_dedup_pairs(df)
    rows = pairs.collect()
    assert len(rows) == 2 * n - 3
    # connectivity: keep-min over the pair graph dedups to ONE survivor
    members = {r["a"] for r in rows} | {r["b"] for r in rows}
    assert members == set(range(n))
    star = [r for r in rows if r["a"] == 0]
    assert len(star) == n - 1  # hub (min id) pairs with every member
    assert all(r["jac_milli"] == 1000 for r in rows)


def test_degenerate_bucket_survives_hub_outlier(spark):
    """The reason for the chain edges: an oversized bucket whose hub
    (min id) fails exact verification against the members must still
    come out as ONE connected near-dup cluster of the true members.

    Construct it directly at the candidate level: bucket = {0 (outlier
    text), 1..99 (identical text)}. Star-only expansion would leave
    1..99 with NO surviving pairs after the Jaccard verify."""
    from cmoncrawl_spark.operators.dedup import (
        _bounded_bucket_pairs,
        connected_components,
        ngram_jaccard_pairs,
    )

    n = 100
    rows = [(0, "completely different outlier content with unrelated words")]
    rows += [
        (i, "identical boilerplate page body repeated across the bucket")
        for i in range(1, n)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    keyed = docs.selectExpr("doc_id AS id", "1 AS band", "1 AS bucket")
    cand = _bounded_bucket_pairs(keyed, ["band", "bucket"], max_bucket_size=10)
    verified = ngram_jaccard_pairs(docs, cand.select("a", "b")).where(
        "jac_milli >= 900"
    )
    comp = connected_components(verified.select("a", "b"))
    groups = {r["id"]: r["component"] for r in comp.collect()}
    assert 0 not in groups  # outlier hub has no surviving edges
    assert set(groups) == set(range(1, n))
    assert len(set(groups.values())) == 1  # one cluster, not n-1 islands


def test_bucket_cap_no_change_on_normal_corpus(spark, sf_dir):
    """On a well-separated corpus the cap must be a no-op: capped and
    uncapped candidate sets are identical."""
    from cmoncrawl_spark.operators.dedup import lsh_candidate_pairs

    docs2 = _docs2(spark, sf_dir)
    capped = {(r["a"], r["b"]) for r in lsh_candidate_pairs(docs2, max_bucket_size=100).collect()}
    uncapped = {(r["a"], r["b"]) for r in lsh_candidate_pairs(docs2, max_bucket_size=10**9).collect()}
    assert capped == uncapped


def test_embedding_degenerate_bucket_cap(spark):
    """500 identical embeddings: cosine_dup_pairs must return the star
    (bounded), all verified at cosine 1."""
    from cmoncrawl_spark.operators.similarity import cosine_dup_pairs

    n = 500
    vec = [float(x) for x in (0.25, -0.5, 0.125, 1.0, -0.75, 0.3, 0.9, -0.1)]
    df = spark.createDataFrame(
        [(i, vec) for i in range(n)], "vec_id long, embedding array<float>"
    )
    rows = cosine_dup_pairs(df).collect()
    assert len(rows) == 2 * n - 3  # star (n-1) + chain (n-2)
    assert sum(1 for r in rows if r["a"] == 0) == n - 1


def test_connected_components_chain_and_keep_min(spark):
    """Every component is labeled by its minimum id."""
    from cmoncrawl_spark.operators.dedup import connected_components

    # components: {1,2,3,4 chain}, {10,11}, isolated pairs via edges only
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "a long, b long",
    )
    comp = {
        r["id"]: r["component"] for r in connected_components(pairs).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                    20: 20, 21: 20, 22: 20}


def test_asof_join_edge_cases(spark):
    """<= semantics, equal-ts match, tie on right seq, no-match null."""
    from datetime import datetime

    from cmoncrawl_spark.operators.asof import asof_join

    T = lambda s: datetime.fromisoformat(s)
    left = spark.createDataFrame(
        [
            (1, 7, T("2023-01-01 10:00:00")),   # equal-ts right matches (<=)
            (2, 7, T("2023-01-01 11:00:00")),   # later right ignored
            (3, 8, T("2023-01-01 09:00:00")),   # before any right -> null
            (4, 9, T("2023-01-01 12:00:00")),   # user with no rights -> null
        ],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (7, T("2023-01-01 10:00:00"), 100, 5),
            (7, T("2023-01-01 10:00:00"), 200, 6),  # same ts: max seq wins
            (7, T("2023-01-01 11:30:00"), 999, 7),
            (8, T("2023-01-01 09:30:00"), 50, 8),
        ],
        "user_id long, ts timestamp, cents long, seq long",
    )
    out = {
        r["event_id"]: r["cents_asof"]
        for r in asof_join(
            left, right, key="user_id", ts="ts",
            value_cols=["cents"], right_seq="seq",
        ).collect()
    }
    assert out == {1: 200, 2: 200, 3: None, 4: None}


def test_connected_components_path_graph_iterations_and_raise(spark):
    """Path graph 0-1-2-...-11 (diameter 11): min-label propagation
    must converge in <= diameter iterations + one confirmation block,
    and REFUSE to return unconverged labels when max_iters is too
    small (silent wrong components would corrupt keep-min dedup)."""
    import pytest

    from cmoncrawl_spark.operators.dedup import connected_components

    n = 12
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a long, b long"
    )
    stats: dict = {}
    comp = {
        r["id"]: r["component"]
        for r in connected_components(path, stats=stats, driver_max_edges=0).collect()
    }
    assert comp == {i: 0 for i in range(n)}
    assert stats["converged"]
    # label 0 reaches node n-1 in n-1 propagation steps; the batched
    # convergence check detects it at most two check_every blocks
    # later (the block containing the last change still reports
    # changed > 0, the next all-quiet block confirms).
    assert stats["iterations"] <= (n - 1) + 2 * 3

    # with pointer jumping a 12-path converges in ~3 rounds, so force
    # non-convergence with a 1-iteration budget
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(path, max_iters=1, driver_max_edges=0)


def test_connected_components_deterministic_under_repartition(spark):
    from cmoncrawl_spark.operators.dedup import connected_components

    import random

    rnd = random.Random(3)
    pairs = [(rnd.randrange(200), rnd.randrange(200)) for _ in range(150)]
    pairs = [(a, b) for a, b in pairs if a != b]
    df = spark.createDataFrame(pairs, "a long, b long")
    r1 = {(r["id"], r["component"]) for r in connected_components(df).collect()}
    r2 = {
        (r["id"], r["component"])
        for r in connected_components(df.repartition(13)).collect()
    }
    assert r1 == r2 and r1


def test_connected_components_100_chain_olog_iterations(spark):
    """Adaptive pointer jumping: a 100-path (diameter 99) must settle
    in O(log d) iterations — ~check_every plain-hooking rounds, then
    doubling shortcut rounds — NOT ~99 propagation steps."""
    from cmoncrawl_spark.operators.dedup import connected_components

    n = 100
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a long, b long"
    )
    stats: dict = {}
    comp = {
        r["id"]: r["component"]
        for r in connected_components(path, stats=stats, driver_max_edges=0).collect()
    }
    assert comp == {i: 0 for i in range(n)}
    assert stats["converged"]
    # 3 hooking rounds + ~log2(100) jump rounds + confirmation block
    assert stats["iterations"] <= 24, stats


def test_connected_components_driver_fastpath_matches_distributed(spark):
    """Small-graph union-find fast path: identical (id, component)
    labels as the distributed loop on a random sparse graph, and the
    fast path actually engages below the edge threshold."""
    import random

    from cmoncrawl_spark.operators.dedup import connected_components

    rng = random.Random(42)
    edges = list({
        tuple(sorted(rng.sample(range(200), 2))) for _ in range(150)
    })
    df = spark.createDataFrame(edges, "a long, b long")
    s_fast: dict = {}
    fast = {
        (r["id"], r["component"])
        for r in connected_components(df, stats=s_fast).collect()
    }
    s_dist: dict = {}
    dist = {
        (r["id"], r["component"])
        for r in connected_components(
            df, stats=s_dist, driver_max_edges=0
        ).collect()
    }
    assert s_fast["mode"] == "driver_union_find"
    assert s_dist["mode"] == "distributed"
    assert fast == dist


def test_connected_components_overthreshold_no_pair_recompute(spark):
    """When the graph exceeds driver_max_edges, the limit-probe reads
    part of the upstream pair pipeline and the distributed loop's edge
    build reads all of it once, exploding each pair into both
    directions. With N edges and threshold t << N, upstream evaluations
    stay under 2N; a second full read of ``pairs`` would reach 2N."""
    from pyspark.sql import functions as F

    from cmoncrawl_spark.operators.dedup import connected_components

    n = 400
    acc = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def tick(x):
        acc.add(1)
        return x

    base = spark.range(n).repartition(4)
    pairs = base.select(
        tick(F.col("id")).alias("a"), (F.col("id") + 1000).alias("b")
    )
    stats: dict = {}
    comp = connected_components(pairs, stats=stats, driver_max_edges=20)
    rows = comp.count()
    assert stats["mode"] == "distributed"
    assert rows == 2 * n  # n disjoint 2-node components
    # one full pass (n) + the bounded probe (< n); a recompute of the
    # full pipeline would push this to ~2n
    assert acc.value < 2 * n, acc.value
    assert acc.value >= n


def test_dedup_operators_leave_no_cache(spark, sf_dir):
    """MinHash pairs, both connected-components paths and SimHash pairs
    return plain plans: running them leaves the session's cache empty."""
    from cmoncrawl_spark.operators.dedup import (
        connected_components,
        minhash_dedup_pairs,
        simhash_near_pairs,
    )

    spark.catalog.clearCache()
    docs2 = _docs2(spark, sf_dir)
    pairs = minhash_dedup_pairs(docs2).select("a", "b")
    assert pairs.count() > 0
    s_fast: dict = {}
    s_dist: dict = {}
    fast = set(connected_components(pairs, stats=s_fast).collect())
    dist = set(
        connected_components(pairs, stats=s_dist, driver_max_edges=0).collect()
    )
    assert (s_fast["mode"], s_dist["mode"]) == ("driver_union_find", "distributed")
    assert fast == dist
    assert simhash_near_pairs(docs2).count() > 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_shingles_split_text_once(spark):
    """Higher-order functions run interpreted, so the shingle hashes
    read the split words as a column instead of splitting the text in
    the per-shingle lambda. The shingles are the distinct word k-grams
    in order, also on texts shorter than k words and with empty
    words."""
    from cmoncrawl_spark.operators.dedup import SHINGLE_K, _hashed, _words, shingles

    def py_shingles(text):
        words = text.split(" ")
        last = max(len(words) - (SHINGLE_K - 1), 1)
        grams = [" ".join(words[i : i + SHINGLE_K]) for i in range(last)]
        return list(dict.fromkeys(grams))

    texts = ["", "a", "a b", "a b c", "a  b c d", "x y x y x y", " lead trail "]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    plan = _hashed(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1, plan
    got = {
        r["id"]: r["sh"]
        for r in _words(docs).select("id", shingles(F.col("words")).alias("sh")).collect()
    }
    assert got == {i: py_shingles(t) for i, t in enumerate(texts)}
