"""Approximate-nearest-neighbor search over embedding columns.

Two paths, both pure DataFrame ops (JVM-side array folds — no Python in
the hot path):

- ``cosine_topk``: brute-force exact baseline. Broadcast the query
  vector(s), fold the dot product with ``zip_with``/``aggregate``, global
  top-k. O(N·d) per query — correct at any scale but reads the whole
  corpus; use for verification and for small/filtered candidate sets.
- ``signature_bucket_ann``: the scale path. Every vector gets a coarse
  bucket id from the sign pattern of its first ``bits`` components (a
  deterministic, data-independent hyperplane LSH — the axis-aligned
  special case). Search probes only the query's bucket (plus optional
  1-bit-flip neighbor buckets), so a 10^10-vector corpus is pruned by
  ~2^bits before any distance math. Bucket ids are computable in plain
  SQL (oracle-checkable) and partition-prunable when the table is written
  partitioned/bucketed by ``bucket``.

At cluster scale: write the embedding table bucketed by the signature →
each query touches ``multiplicity`` buckets → scan pruning does the work;
the per-bucket top-k is a tiny sort. Skew: sign-buckets over centered
embeddings are near-balanced; a hot bucket degrades to a larger scan, not
a failed job (cap with LIMIT on the candidate set if needed).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """JVM-side dot product of two array columns."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(_as_double(a), lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """NULL (not an error) when either vector has zero norm: cosine is
    undefined there, and under Spark 4's default ANSI mode a bare divide
    would raise DIVIDE_BY_ZERO and kill the WHOLE job on one all-zeros
    embedding — a padding row or failed embedding call becomes a poison
    pill in every ANN path (review finding, reproduced). :func:`_topk`
    drops NULL scores before ranking, so zero-norm rows never rank."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom)


def _topk(scored: DataFrame, k: int, id_col: str, per_query: bool) -> DataFrame:
    """Top-k of a scored (q_id, id, cos_sim) frame. The default
    (``per_query=False``) keeps the single-query plan — a global
    TakeOrderedAndProject, the 100-TB-right top-k with no shuffle — and
    is ONLY correct for a ONE-ROW query frame; ``per_query=True`` ranks
    within each q_id (one shuffle of the scored candidates, still
    corpus-scan dominated) for batched query frames. Review finding: the
    global limit over a multi-row query silently returned the UNION's
    top-k, starving all but the densest query.

    NULL scores (zero-norm vectors, see :func:`cosine`) are dropped before
    ranking: nulls-last ordering alone would still rank them whenever
    fewer than k scored candidates exist."""
    scored = scored.filter(F.col("cos_sim").isNotNull())
    if per_query:
        from pyspark.sql import Window

        w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col(id_col))
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .drop("_rn")
        )
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)


def cosine_topk(
    corpus: DataFrame,
    query: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    per_query: bool = False,
) -> DataFrame:
    """Exact brute-force cosine top-k of ``corpus`` against one query row
    (columns ``q_id``, ``q_emb``). Query side is broadcast; corpus scan is
    embarrassingly parallel; the final top-k is a k-row sort. Pass
    ``per_query=True`` for a MULTI-row query frame (see :func:`_topk`)."""
    joined = corpus.crossJoin(F.broadcast(query))
    scored = joined.select(
        F.col("q_id"),
        F.col(id_col),
        cosine(F.col(vec_col), F.col("q_emb")).alias("cos_sim"),
    )
    return _topk(scored, k, id_col, per_query)


def sign_bucket(vec_col: str | Column, bits: int = 8) -> Column:
    """Coarse LSH bucket: bit i set iff component i > 0 (axis-aligned
    hyperplane signs). Deterministic, SQL-expressible, partition-prunable.

    Components beyond the vector's length (or NULL) count as bit 0 —
    ``try_element_at``, because under ANSI mode a plain ``element_at``
    on an embedding shorter than ``bits`` raises and, flowing through
    ``AnnIndex.transform``, would permanently wedge the CDC index
    cascade on one corrupt row (review finding, reproduced)."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    out = F.lit(0)
    for i in range(bits):
        out = out + F.when(
            F.try_element_at(v, F.lit(i + 1)) > 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
    return out.cast("int")


def probe_buckets(bucket_col: Column, flips: int) -> Column:
    """Multiprobe bucket array: the bucket itself plus its first ``flips``
    hamming-1 neighbors (bit i flipped). ONE definition shared by the
    batch ANN (:func:`signature_bucket_ann`) and the incremental
    ``AnnIndex.probe`` so the two probe expansions cannot drift (review
    finding — they were previously duplicated inline)."""
    return F.array(
        bucket_col, *[bucket_col.bitwiseXOR(F.lit(1 << i)) for i in range(flips)]
    )


def signature_bucket_ann(
    corpus: DataFrame,
    query: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    bits: int = 8,
    probe_flips: int = 0,
    per_query: bool = False,
) -> DataFrame:
    """ANN via sign-bucket pruning: score only corpus vectors whose bucket
    matches the query's (optionally also buckets at hamming distance 1 —
    ``probe_flips`` of them — to trade recall for scan size). ``query``
    is ONE row (q_id, q_emb) unless ``per_query=True`` (see
    :func:`_topk`)."""
    c = corpus.withColumn("_bucket", sign_bucket(vec_col, bits))
    q = query.withColumn("_qbucket", sign_bucket("q_emb", bits))
    if probe_flips:
        q = q.withColumn(
            "_probe", F.explode(probe_buckets(F.col("_qbucket"), probe_flips))
        ).drop("_qbucket")
        cond = c["_bucket"] == q["_probe"]
    else:
        cond = c["_bucket"] == q["_qbucket"]
    joined = c.join(F.broadcast(q), cond)
    scored = joined.select(
        F.col("q_id"),
        F.col(id_col),
        cosine(F.col(vec_col), F.col("q_emb")).alias("cos_sim"),
    )
    return _topk(scored, k, id_col, per_query)


def near_dup_pairs_cosine(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bits: int = 8,
) -> DataFrame:
    """Embedding near-duplicate pairs: candidate pairs share a sign-bucket
    (blocking), then exact cosine ≥ threshold. The bucket join replaces the
    quadratic cross-join — at 10^10 rows the all-pairs form is impossible;
    this form shuffles each row once by bucket.

    Norms are computed ONCE per vector before the join (each vector meets
    O(bucket) partners — recomputing its norm per pair would triple the
    per-pair arithmetic; the division is algebraically and floating-point
    identical since the per-vector fold is unchanged)."""
    b = df.withColumn("_bucket", sign_bucket(vec_col, bits)).withColumn(
        "_norm", l2_norm(F.col(vec_col))
    )
    a = b.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"),
        F.col("_norm").alias("_na"), "_bucket",
    )
    c = b.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"),
        F.col("_norm").alias("_nb"), "_bucket",
    )
    return (
        a.join(c, "_bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))).alias(
                "cos_sim"
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its max-cosine centroid (``list_id``).

    ``centroids``: (list_id, centroid) — small by construction (k lists).
    The whole centroid set collapses to ONE broadcast row holding a
    (list_id, centroid, norm) array, and the argmax runs INSIDE the scan
    as an array fold (``array_max`` over (sim, −list_id) structs — struct
    ordering is field-lexicographic, so ties break to the LOWEST
    list_id): assignment is a pure map over the corpus with no explode,
    no shuffle, and no window at any corpus size. (The first cut
    exploded corpus×k rows through a row_number window — a corpus-sized
    sort-shuffle per Lloyd step that this form deletes outright; sims
    are computed by the same dot/norm folds, so assignments are
    float-identical and the DuckDB oracle is unchanged.)"""
    cents = centroids.agg(
        F.collect_list(
            F.struct(
                F.col("list_id"),
                _as_double(F.col("centroid")).alias("centroid"),
                l2_norm(F.col("centroid")).alias("_cn"),
            )
        ).alias("_cs")
    )
    best = F.array_max(
        F.transform(
            F.col("_cs"),
            lambda c: F.struct(
                (
                    dot(F.col(vec_col), c["centroid"]) / (F.col("_vn") * c["_cn"])
                ).alias("sim"),
                (-c["list_id"]).alias("_neg"),
            ),
        )
    )
    return (
        df.withColumn("_vn", l2_norm(F.col(vec_col)))
        .crossJoin(F.broadcast(cents))
        .select(id_col, vec_col, (-best["_neg"]).alias("list_id"))
    )


def ivf_train(
    df: DataFrame,
    k_lists: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    iterations: int = 1,
) -> DataFrame:
    """Deterministic k-means → (list_id, centroid) inverted-file index
    (IVF-flat, à la FAISS):

    seeds = the ``k_lists`` lowest-id vectors (deterministic, replayable);
    each Lloyd iteration assigns all vectors to the current centroids and
    recomputes each list's element-wise mean, ROUNDED to ``round_digits``
    so the result is bit-identical across engines/aggregation orders
    (floating sums are order-sensitive; rounding makes the index
    reproducible and oracle-checkable).

    Scale: each iteration is one broadcast assignment scan plus one
    posexplode + combinable avg groupBy on (list_id, position) — shuffle
    volume k·d doubles, independent of corpus size. ``iterations=1``
    suffices for a bucketing index (FAISS ships few-iteration coarse
    quantizers too) and is what the oracle-checked driver query pins;
    more iterations tighten the partitions (higher recall per probed
    list — measured in ``tests/test_ivf.py::test_ivf_recall``). A list
    that ends an iteration empty drops out (k shrinks), matching k-means
    on degenerate seeds."""
    cents = (
        df.orderBy(id_col)
        .limit(k_lists)
        .select(F.col(id_col).alias("list_id"), F.col(vec_col).alias("centroid"))
    )
    for it in range(iterations):
        assigned = ivf_assign(df, cents, id_col, vec_col)
        means = (
            assigned.select("list_id", F.posexplode(F.col(vec_col)).alias("_pos", "_x"))
            .groupBy("list_id", "_pos")
            .agg(F.round(F.avg(F.col("_x").cast("double")), round_digits).alias("_m"))
        )
        cents = means.groupBy("list_id").agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_pos"), F.col("_m")))
            ).getField("_m").alias("centroid")
        )
        if it + 1 < iterations:
            # the next iteration's assignment broadcast-scans these k·d
            # values twice (assign + probe) — pin them so the lineage
            # doesn't recompute the whole previous iteration per action
            cents = cents.localCheckpoint(eager=True)
    return cents


def ivf_ann(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    k_lists: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 1,
    per_query: bool = False,
) -> DataFrame:
    """IVF ANN: train a k-list inverted file over the corpus, probe the
    ``nprobe`` centroids nearest the query, exact cosine top-k over only
    those lists' vectors. ``query``: one row (q_id, q_emb) unless
    ``per_query=True``, which ranks probes AND results within each q_id
    (see :func:`_topk`).

    The 100-TB shape: write the corpus partitioned by ``list_id`` → a
    query scans nprobe/k_lists of the data (partition pruning does the
    candidate selection); the centroid table is k rows, always broadcast.
    Versus ``signature_bucket_ann`` (data-independent buckets), IVF adapts
    the partitions to the data distribution — better recall per scanned
    byte on clustered embeddings."""
    # pin the k·d-value centroid table: it feeds both the assignment scan
    # and the probe ranking — left lazy, each action replays the whole
    # training lineage
    cents = ivf_train(corpus, k_lists, id_col, vec_col, iterations=iterations)
    cents = cents.localCheckpoint(eager=True)
    assigned = ivf_assign(corpus, cents, id_col, vec_col)
    probes_scored = query.crossJoin(F.broadcast(cents)).select(
        "q_id", "q_emb", "list_id",
        cosine(F.col("q_emb"), F.col("centroid")).alias("_csim"),
    )
    if per_query:
        from pyspark.sql import Window

        w = Window.partitionBy("q_id").orderBy(
            F.col("_csim").desc(), F.col("list_id")
        )
        probes = (
            probes_scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= nprobe)
            .select("q_id", "q_emb", "list_id")
        )
    else:
        probes = (
            probes_scored.orderBy(F.col("_csim").desc(), F.col("list_id"))
            .limit(nprobe)
            .select("q_id", "q_emb", "list_id")
        )
    cand = assigned.join(F.broadcast(probes), "list_id")
    scored = cand.select(
        "q_id", id_col, cosine(F.col(vec_col), F.col("q_emb")).alias("cos_sim")
    )
    return _topk(scored, k, id_col, per_query)
