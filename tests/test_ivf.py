"""IVF approximate-nearest-neighbor tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from cmoncrawl_spark.session import load_tables


def test_ivf_build_and_search(spark, sf_dir):
    from cmoncrawl_spark.operators.similarity import ivf_build, ivf_topk

    load_tables(spark, sf_dir, ("embeddings",))
    emb = spark.table("embeddings")
    assignments, cents = ivf_build(emb)
    a = assignments.localCheckpoint(eager=True)

    # every vector assigned exactly one list; lists non-degenerate
    assert a.count() == emb.count()
    n_lists_used = a.select("list_id").distinct().count()
    assert n_lists_used >= 2

    # searching with a corpus vector finds itself first (it's in the
    # probed list by construction: its own list is nearest)
    qv = [float(x) for x in emb.where("vec_id = 7").first()["embedding"]]
    res = ivf_topk(emb, qv, cents, a).collect()
    assert res and res[0]["vec_id"] == 7 and res[0]["rank"] == 1


def test_ivf_deterministic(spark, sf_dir):
    from cmoncrawl_spark.operators.similarity import ivf_build

    load_tables(spark, sf_dir, ("embeddings",))
    emb = spark.table("embeddings")
    a1, c1 = ivf_build(emb)
    a2, c2 = ivf_build(emb.repartition(5))
    assert c1 == c2
    s1 = sorted((r["id"], r["list_id"]) for r in a1.collect())
    s2 = sorted((r["id"], r["list_id"]) for r in a2.collect())
    assert s1 == s2
