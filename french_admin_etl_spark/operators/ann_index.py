"""Incremental ANN maintenance: a persistent sign-LSH bucket index over
an embedding stream, kept current by the CDC machinery.

The embedding twin of :mod:`.neardup_index`: batch ANN
(:func:`.similarity.signature_bucket_ann`) recomputes every bucket per
run — wrong as the standing shape for a living vector corpus. This
module keeps a **bucketed vector table** (key = vec_id, columns
embedding + sign bucket) maintained as a CascadeJob target over the
vectors table's ``changes()``:

- vector insert/update → its row is upserted with the recomputed bucket
  (an updated embedding moves buckets atomically — one row, one key);
- vector delete → tombstone;
- exactly-once: the cascade's fenced merge.

Probing an increment (``probe``) is O(increment x bucket size): the new
vectors' buckets (plus optional hamming-1 multiprobe flips) restrict the
corpus side via a broadcast join before any dot product is computed —
never a full-corpus scan. Bucket semantics are shared with the batch
operator (:func:`.similarity.sign_bucket`), so the maintained index
equals a from-scratch rebuild row-for-row and probe results match the
batch ANN per query (both tested).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from french_admin_etl_spark.operators.similarity import (
    _topk,
    cosine,
    probe_buckets,
    sign_bucket,
)
from french_admin_etl_spark.table.lake_table import LakeTable


def ann_index_schema() -> T.StructType:
    return T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("bucket", T.IntegerType()),
        ]
    )


class AnnIndex:
    """A LakeTable of (vec_id, embedding, sign bucket) plus the
    maintenance/probe logic. ``bits`` is the index's identity — probing
    with different bits silently mixes hash families, so every entry
    point goes through this object."""

    KEYS = ["vec_id"]

    def __init__(self, table: LakeTable, bits: int = 8):
        self.table = table
        self.bits = bits

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        num_buckets: int = 16,
        **params,
    ) -> "AnnIndex":
        table = LakeTable.create(
            spark, root, schema=ann_index_schema(), key_cols=cls.KEYS,
            num_buckets=num_buckets,
        )
        return cls(table, **params)

    # ------------------------------------------------------------ maintenance

    def transform(
        self, id_col: str = "vec_id", vec_col: str = "embedding"
    ) -> Callable[[DataFrame], DataFrame]:
        """CascadeJob transform seam: vector change stream (logical cols
        + ``lsn`` + ``op``) → index change stream with the bucket
        recomputed per upsert. Cost per window: one scan-speed bucket
        expression over the CHANGED vectors only."""

        def tf(df: DataFrame) -> DataFrame:
            # no dedup here: the cascade window is already one row per key
            # (changes()/read_raw resolve), the downstream merge dedups the
            # transform output again, and — unlike the near-dup transform,
            # whose inner dedup gates an expensive minhash — the bucket
            # expression is scan-speed, so an extra groupBy would be a
            # pure wasted shuffle per window (reviewer finding)
            ups = df.filter(F.col("op") != "D").select(
                F.col(id_col).alias("vec_id"),
                F.col(vec_col).cast("array<float>").alias("embedding"),
                "lsn",
            ).select(
                "vec_id",
                "embedding",
                sign_bucket("embedding", self.bits).alias("bucket"),
                "lsn",
                F.lit("U").alias("op"),
            )
            dels = df.filter(F.col("op") == "D").select(
                F.col(id_col).alias("vec_id"),
                F.lit(None).cast("array<float>").alias("embedding"),
                F.lit(None).cast("int").alias("bucket"),
                "lsn",
                F.lit("D").alias("op"),
            )
            return ups.unionByName(dels)

        return tf

    def rebuild_rows(
        self, vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
    ) -> DataFrame:
        """Index rows from a full corpus from scratch — the parity
        oracle the maintained index must equal. The bucket is computed on
        the CAST float embedding, exactly as ``transform`` computes it: on
        the raw column a double component inside the float-denormal gap
        (e.g. +1e-46) is > 0 before the cast and 0.0 after, so hashing the
        raw column could disagree with the maintained index by one bit
        (review finding)."""
        return vectors.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<float>").alias("embedding"),
        ).select(
            "vec_id",
            "embedding",
            sign_bucket("embedding", self.bits).alias("bucket"),
        )

    # ------------------------------------------------------------------ probe

    def probe(
        self, new_ids: DataFrame, k: int = 10, probe_flips: int = 0,
        materialize: bool = True, id_col: str | None = None,
    ) -> DataFrame:
        """Top-``k`` cosine neighbors per NEW vector against the standing
        index: (q_id, vec_id, cos_sim), scored only inside the query's
        bucket (+ ``probe_flips`` hamming-1 buckets). ONE corpus read,
        persisted for its two consumers (query extraction + the bucket
        join) — re-reading the index per consumer re-runs the MOR
        resolution each time, the exact cost measured and fixed in the
        near-dup probe (reviewer finding).

        The probe id column is ``id_col`` if given, else ``new_ids`` must
        have EXACTLY one column — a silent positional ``columns[0]`` pick
        on a wide frame probed the wrong column with no error (review
        finding; same contract as ``SecondaryIndex.search_in``).

        ``materialize=False`` skips the eager localCheckpoint and returns
        the LAZY plan (the plan audit asserts its join shape, which the
        checkpointed RDD would hide); lazy results recompute the index
        resolution per action since the persist is released on return."""
        if id_col is None:
            if len(new_ids.columns) != 1:
                raise ValueError(
                    f"probe id frame has {len(new_ids.columns)} columns "
                    f"{new_ids.columns!r}; pass id_col= or a single-column frame"
                )
            id_col = new_ids.columns[0]
        elif id_col not in new_ids.columns:
            raise ValueError(f"id_col {id_col!r} not in {new_ids.columns!r}")
        idx = self.table.read().persist()
        try:
            q = idx.join(
                F.broadcast(
                    new_ids.select(F.col(id_col).alias("vec_id"))
                ),
                ["vec_id"],
                "left_semi",
            ).select(
                F.col("vec_id").alias("q_id"),
                F.col("embedding").alias("q_emb"),
                F.col("bucket").alias("_qb"),
            )
            if probe_flips:
                # shared multiprobe definition (similarity.probe_buckets)
                # — probe results must match the batch ANN's
                q = q.withColumn(
                    "bucket", F.explode(probe_buckets(F.col("_qb"), probe_flips))
                ).drop("_qb")
            else:
                q = q.withColumnRenamed("_qb", "bucket")
            hits = (
                idx.join(F.broadcast(q), ["bucket"])
                .filter(F.col("vec_id") != F.col("q_id"))
                .select(
                    "q_id",
                    "vec_id",
                    cosine(F.col("embedding"), F.col("q_emb")).alias("cos_sim"),
                )
            )
            # ONE top-k implementation (similarity._topk, per_query) —
            # a hand-rolled window here could drift from the batch ANN's
            # tiebreak/ranking rules (review finding; same consolidation
            # rationale as probe_buckets)
            out = _topk(hits, k, "vec_id", per_query=True)
            return out.localCheckpoint() if materialize else out
        finally:
            idx.unpersist()
