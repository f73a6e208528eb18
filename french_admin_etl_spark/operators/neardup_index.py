"""Incremental near-dup maintenance: a persistent MinHash/LSH index that
is kept current by the CDC machinery instead of re-hashing the corpus.

At 100 TB you never re-LSH the whole corpus for a daily increment. The
batch path (:func:`.textdedup.lsh_candidate_pairs`) recomputes every
signature per run — correct for a one-shot dedup sweep, wrong as the
standing shape for a living corpus. This module keeps a **band-row index
table** (one row per document per LSH band, key = (doc_id, band_id))
maintained as a :class:`~french_admin_etl_spark.streaming.cascade.CascadeJob`
target over the documents table's ``changes()`` window:

- document insert/update → its ``bands`` rows are upserted (the band
  count is schema-fixed, so every band row of a changed doc is rewritten
  — no stale bands can linger);
- document delete → tombstones for all of the doc's band rows;
- exactly-once: the cascade's fenced merge; a replayed window is a no-op.

Probing an increment (``probe``) is **O(increment), not O(corpus)**: the
new docs' band hashes (bounded by |batch| x bands) are pushed into the
index scan as an ``IN`` filter — with the index compacted under
``sort_cols=["band_hash"]`` (the engine's Z-ORDER-lite layout) parquet
row-group pruning makes that scan sublinear in the corpus — and the
matches join back broadcast-style. Candidate semantics match the batch
operator exactly: same signature family, same banding
(:func:`.textdedup.banded_signature` is shared), so an incrementally
maintained index equals a from-scratch rebuild row-for-row (tested).

No reference analog — this composes the engine's CDC core with the
training-data dedup suite; the batch operators it extends derive from
the standard MinHash/LSH construction (Broder; MMDS ch. 3).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from french_admin_etl_spark.operators.dedup import dedup_max_seq
from french_admin_etl_spark.operators.textdedup import banded_signature, minhash_signature
from french_admin_etl_spark.table.lake_table import LakeTable


def index_schema(id_type: str = "bigint") -> T.StructType:
    return T.StructType(
        [
            T.StructField("doc_id", T._parse_datatype_string(id_type)),
            T.StructField("band_id", T.IntegerType()),
            T.StructField("band_hash", T.StringType()),
        ]
    )


class NearDupIndex:
    """A LakeTable of LSH band rows plus the maintenance/probe logic.

    ``num_hashes`` / ``bands`` / ``shingle_n`` are the index's identity:
    probing or maintaining with different values silently mixes hash
    families, so every entry point goes through this one object.
    """

    KEYS = ["doc_id", "band_id"]

    def __init__(
        self,
        table: LakeTable,
        num_hashes: int = 16,
        bands: int = 4,
        shingle_n: int = 3,
    ):
        if num_hashes % bands:
            raise ValueError("bands must divide num_hashes")
        self.table = table
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_n = shingle_n

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        id_type: str = "bigint",
        num_buckets: int = 16,
        **params,
    ) -> "NearDupIndex":
        table = LakeTable.create(
            spark,
            root,
            schema=index_schema(id_type),
            key_cols=cls.KEYS,
            num_buckets=num_buckets,
        )
        return cls(table, **params)

    # ------------------------------------------------------------ maintenance

    def transform(
        self, id_col: str = "doc_id", text_col: str = "text"
    ) -> Callable[[DataFrame], DataFrame]:
        """The CascadeJob transform seam (U3): document change stream
        (logical cols + ``lsn`` + ``op``) → band-row change stream.

        Wire it up with::

            cascade = CascadeJob(spark, docs_table, index.table,
                                 transform=index.transform(), writer_id="ndidx")
            cascade.run_to_latest(checkpoint)

        Cost per window: one shingle explode + one combinable groupBy
        over the CHANGED documents only, then batch-local joins — never a
        corpus scan.
        """

        def tf(df: DataFrame) -> DataFrame:
            band_range = F.array(
                *[F.lit(b).cast("int") for b in range(self.bands)]
            )
            ups = dedup_max_seq(
                df.filter(F.col("op") != "D").select(
                    F.col(id_col).alias("doc_id"), F.col(text_col).alias("_txt"), "lsn"
                ),
                ["doc_id"],
                "lsn",
            )
            sig = minhash_signature(
                ups, "doc_id", "_txt", self.num_hashes, self.shingle_n
            )
            up_rows = (
                banded_signature(sig, "doc_id", self.num_hashes, self.bands)
                .join(ups.select("doc_id", "lsn"), ["doc_id"])
                .select(
                    "doc_id", "band_id", "band_hash", "lsn", F.lit("U").alias("op")
                )
            )
            # deletes clear every band row of the doc. (There is no
            # "unshingleable upsert" path to handle: word_shingles yields
            # at least one shingle for ANY text, null included — the
            # degenerate '' gram — so every upserted doc re-lands all of
            # its band rows; an anti-join safety net here would be dead
            # code costing a join per window, reviewer-confirmed.)
            del_rows = (
                df.filter(F.col("op") == "D")
                .select(F.col(id_col).alias("doc_id"), "lsn")
                .select(
                    "doc_id",
                    F.explode(band_range).alias("band_id"),
                    F.lit(None).cast("string").alias("band_hash"),
                    "lsn",
                    F.lit("D").alias("op"),
                )
            )
            return up_rows.unionByName(del_rows)

        return tf

    def rebuild_rows(
        self, docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
    ) -> DataFrame:
        """Band rows for a full corpus from scratch (the batch formulation;
        what the maintained index must equal — the parity test's oracle)."""
        sig = minhash_signature(docs, id_col, text_col, self.num_hashes, self.shingle_n)
        return banded_signature(sig, id_col, self.num_hashes, self.bands).select(
            F.col(id_col).alias("doc_id"), "band_id", "band_hash"
        )

    # ------------------------------------------------------------------ probe

    def probe(
        self,
        new_ids: DataFrame,
        max_pushdown: int = 500,
        max_bucket: int = 50,
    ) -> DataFrame:
        """Candidate near-dup pairs touching an increment: (id_a, id_b),
        id_a < id_b, at least one side in ``new_ids`` (a 1-column frame
        of doc ids; the increment must already be applied to the index).

        O(increment), ONE corpus pass: the new docs' band rows come from
        a broadcast semi-join on doc_id; the corpus side is then read
        ONCE, restricted to the probed buckets by a broadcast join on
        (band_id, band_hash), and that restricted frame feeds both the
        bucket-size guard and the pair join (measured: re-reading the
        index per consumer tripled the MOR resolution cost). For SMALL
        increments (≤ ``max_pushdown`` distinct band hashes) the hashes
        are additionally pushed into the parquet scan as an IN filter —
        row-group pruning on a band_hash-sorted layout; beyond that a
        literal IN list costs more to compile than it prunes (measured
        3x slower at 8k literals than the plain broadcast join).
        Buckets larger than ``max_bucket`` are dropped, mirroring the
        batch operator's degenerate-bucket guard.
        """
        idx = self.table.read()
        new_bands = idx.join(
            F.broadcast(new_ids.select(F.col(new_ids.columns[0]).alias("doc_id"))),
            ["doc_id"],
            "left_semi",
        ).persist()
        try:
            hashes = [
                r["band_hash"]
                for r in new_bands.select("band_hash").distinct().limit(max_pushdown + 1).collect()
            ]
            corpus = idx
            if len(hashes) <= max_pushdown:
                # bounded driver round-trip buys a pushed scan filter
                corpus = corpus.filter(F.col("band_hash").isin(hashes))
            bucket_keys = new_bands.select("band_id", "band_hash").distinct()
            probed = corpus.join(
                F.broadcast(bucket_keys), ["band_id", "band_hash"]
            ).persist()
            try:
                sizes = (
                    probed.groupBy("band_id", "band_hash")
                    .agg(F.count(F.lit(1)).alias("_bsz"))
                    .filter(F.col("_bsz") <= max_bucket)
                )
                hits = probed.join(
                    F.broadcast(
                        new_bands.select(
                            "band_id", "band_hash", F.col("doc_id").alias("_new_id")
                        )
                    ),
                    ["band_id", "band_hash"],
                ).filter(F.col("doc_id") != F.col("_new_id"))
                return (
                    hits.join(
                        F.broadcast(sizes.select("band_id", "band_hash")),
                        ["band_id", "band_hash"],
                    )
                    .select(
                        F.least("doc_id", "_new_id").alias("id_a"),
                        F.greatest("doc_id", "_new_id").alias("id_b"),
                    )
                    .distinct()
                    .localCheckpoint()
                )
            finally:
                probed.unpersist()
        finally:
            new_bands.unpersist()
