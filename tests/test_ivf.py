"""IVF ANN: deterministic inverted-file index + probe search."""

import pytest
from pyspark.sql import functions as F

from french_admin_etl_spark.operators.similarity import (
    cosine_topk,
    ivf_ann,
    ivf_assign,
    ivf_train,
)


@pytest.fixture()
def emb(spark):
    # two well-separated clusters around (1,0,0,0) and (0,0,1,0) + noise ids
    rows = []
    for i in range(20):
        rows.append((i, [1.0 + (i % 5) * 0.01, 0.02 * (i % 3), 0.0, 0.01 * i]))
    for i in range(20, 40):
        rows.append((i, [0.01 * (i % 4), 0.0, 1.0 + (i % 5) * 0.01, 0.02 * (i % 3)]))
    return spark.createDataFrame(rows, "vec_id int, embedding array<float>")


def test_ivf_train_produces_k_rounded_centroids(spark, emb):
    cents = ivf_train(emb, k_lists=4).collect()
    assert 1 < len(cents) <= 4
    for r in cents:
        assert len(r["centroid"]) == 4
        for x in r["centroid"]:
            assert x == round(x, 6)  # reproducibility contract


def test_ivf_assign_is_deterministic_and_total(spark, emb):
    cents = ivf_train(emb, k_lists=4)
    a1 = {r["vec_id"]: r["list_id"] for r in ivf_assign(emb, cents).collect()}
    a2 = {r["vec_id"]: r["list_id"] for r in ivf_assign(emb, cents).collect()}
    assert a1 == a2 and len(a1) == 40  # every vector assigned exactly once


def test_ivf_separates_obvious_clusters(spark, emb):
    cents = ivf_train(emb, k_lists=2)
    a = {r["vec_id"]: r["list_id"] for r in ivf_assign(emb, cents).collect()}
    lists_lo = {a[i] for i in range(20)}
    lists_hi = {a[i] for i in range(20, 40)}
    assert len(lists_lo) == 1 and len(lists_hi) == 1 and lists_lo != lists_hi


def test_ivf_ann_matches_bruteforce_on_clustered_data(spark, emb):
    """With clean clusters and nprobe covering the query's cluster, IVF
    top-k == exact brute-force top-k (recall 1.0 here by construction)."""
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    corpus = emb.filter(F.col("vec_id") != 0)
    exact = [r["vec_id"] for r in cosine_topk(corpus, q, k=5).collect()]
    approx = [r["vec_id"] for r in ivf_ann(corpus, q, k=5, k_lists=2, nprobe=1).collect()]
    assert approx == exact


def test_ivf_recall_measured_and_iterations_help(spark):
    """Recall@10 of IVF ANN vs brute-force ground truth on the REAL
    embeddings table (sf0.001, 500×64f): the e4 configuration
    (k_lists=8, nprobe=6, 1 Lloyd step) must clear the 0.9 floor
    (round-5 sweep: measured 0.94 here, 0.90 at sf0.1; nprobe=5 was
    0.86 — on these near-uniform synthetic embeddings recall tracks the
    scanned fraction; clustered corpora hit the same recall at far
    smaller fractions, see the planted-cluster test), and extra Lloyd
    iterations must not lose recall (they tighten the partitions).
    Prints the numbers so the measurement is on record."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = [int(r["vec_id"]) for r in emb.select("vec_id").orderBy("vec_id").limit(5).collect()]
    recalls = {}
    for iters in (1, 3):
        hits = total = 0
        for qid in queries:
            q = emb.filter(F.col("vec_id") == qid).select(
                F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
            )
            corpus = emb.filter(F.col("vec_id") != qid)
            exact = {r["vec_id"] for r in cosine_topk(corpus, q, k=10).collect()}
            approx = {
                r["vec_id"]
                for r in ivf_ann(
                    corpus, q, k=10, k_lists=8, nprobe=6, iterations=iters
                ).collect()
            }
            hits += len(exact & approx)
            total += len(exact)
        recalls[iters] = hits / total
    print(f"IVF recall@10 over {len(queries)} queries: {recalls}")
    assert recalls[1] >= 0.9, recalls  # e4 config floor (measured 0.94)
    assert recalls[3] >= recalls[1] - 0.05, recalls  # iterating never collapses


def test_ivf_ann_prunes_to_probed_lists(spark, emb):
    """nprobe=1 on 2 clean clusters must never return the other cluster."""
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    corpus = emb.filter(F.col("vec_id") != 0)
    got = [r["vec_id"] for r in ivf_ann(corpus, q, k=30, k_lists=2, nprobe=1).collect()]
    assert got and all(v < 20 for v in got)  # only the query's cluster


def test_ivf_lloyd_iterations_fix_bad_seeding(spark):
    """Planted 3-cluster corpus whose k seeds (lowest ids) ALL fall in one
    cluster — the pathological k-means init. One Lloyd step leaves a
    cluster split across lists (purity < 0.95); a second step migrates
    the centroids apart and partitions perfectly. Deterministic: seeded
    data, deterministic train/assign."""
    import collections

    import numpy as np

    rng = np.random.default_rng(5)
    dims, k = 8, 3
    centers = np.eye(dims)[:k]
    rows = []
    vid = 0
    for c in range(k):  # ids 0..39 are ALL cluster 0 → seeds are degenerate
        for _ in range(40):
            v = centers[c] + rng.normal(0, 0.15, dims)
            rows.append((vid, [float(x) for x in v], c))
            vid += 1
    emb = spark.createDataFrame(
        [(i, v) for i, v, _ in rows], "vec_id int, embedding array<float>"
    )
    truth = {i: c for i, v, c in rows}

    def purity(iters):
        cents = ivf_train(emb, k_lists=3, iterations=iters)
        a = {r["vec_id"]: r["list_id"] for r in ivf_assign(emb, cents).collect()}
        per = []
        for c in range(k):
            cnt = collections.Counter(a[i] for i in a if truth[i] == c)
            per.append(max(cnt.values()) / sum(cnt.values()))
        return sum(per) / k

    p1, p2 = purity(1), purity(2)
    assert p1 < 0.95  # bad seeding visibly hurts a single step
    assert p2 == 1.0  # a second Lloyd step separates the clusters


def test_per_query_topk_multi_row_query(spark):
    """Review finding: the default global orderBy().limit(k) is the
    single-query plan; a multi-row query frame silently returned the
    UNION's top-k (one dense query starves the rest). per_query=True
    must rank within each q_id across all three batch functions."""
    from french_admin_etl_spark.operators.similarity import (
        cosine_topk,
        ivf_ann,
        signature_bucket_ann,
    )

    # two clusters far apart: q0 near cluster A (high sims), q1 near
    # cluster B (lower sims) — global top-k would be all-A
    a = [(i, [10.0 + i * 0.01, 1.0, 0.0, 0.0]) for i in range(20)]
    b = [(100 + i, [0.0, 0.0, 5.0, 2.0 + i]) for i in range(20)]
    corpus = spark.createDataFrame(a + b, "vec_id long, embedding array<float>")
    q = spark.createDataFrame(
        [(0, [10.0, 1.0, 0.0, 0.0]), (1, [0.0, 0.0, 5.0, 10.0])],
        "q_id long, q_emb array<float>",
    )
    for fn, kw in (
        (cosine_topk, {}),
        (signature_bucket_ann, {"bits": 4}),
        (ivf_ann, {"k_lists": 2, "nprobe": 1}),
    ):
        rows = fn(corpus, q, k=3, per_query=True, **kw).collect()
        per_q = {}
        for r in rows:
            per_q.setdefault(r["q_id"], []).append(r["vec_id"])
        assert set(per_q) == {0, 1}, (fn.__name__, per_q)
        assert all(len(v) == 3 for v in per_q.values()), (fn.__name__, per_q)
        # each query's neighbors come from its own cluster
        assert all(v < 100 for v in per_q[0]), (fn.__name__, per_q)
        assert all(v >= 100 for v in per_q[1]), (fn.__name__, per_q)


def test_topk_drops_zero_norm_rows(spark):
    """A zero-norm vector scores NULL; with fewer than k scored
    candidates, nulls-last ordering alone would still rank it. Both
    top-k branches must leave NULL scores out."""
    corpus = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.8, 0.6])],
        "vec_id long, embedding array<float>",
    )
    q = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0])], "q_id long, q_emb array<float>"
    )
    one = cosine_topk(corpus, q.filter("q_id = 0"), k=5).collect()
    assert [r["vec_id"] for r in one] == [2, 3]
    rows = cosine_topk(corpus, q, k=5, per_query=True).collect()
    assert sorted((r["q_id"], r["vec_id"]) for r in rows) == [(0, 2), (0, 3)]
    assert all(r["cos_sim"] is not None for r in one + rows)
