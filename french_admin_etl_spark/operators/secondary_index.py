"""CDC-maintained secondary index: equality search on non-key columns
without scanning the primary table.

``lookup()`` answers "give me THESE keys" in O(touched buckets) via
bucket pruning + manifest stats/blooms — but the inverse question, "which
keys have ``lang='go'``", has no fast path: the predicate lands on a
non-key column, so every bucket of a 100-TB table must be scanned.
``SecondaryIndex`` closes that gap the lake-native way (Hudi's record
index / the classic covering-index idea), reusing two engine pieces:

- **storage**: the index IS a LakeTable — a narrow projection (source
  keys + the indexed columns) keyed by the SOURCE keys. Keying by source
  keys makes updates self-cleaning: when a row's indexed value changes,
  the cascade upserts the one index row and the old value disappears with
  it — no stale postings, no before-image bookkeeping (an index keyed by
  (value, keys) would strand a posting under the old value on every
  update).
- **maintenance**: a :class:`~french_admin_etl_spark.streaming.cascade.
  CascadeJob` over the source's ``changes()`` window with a projection
  transform — O(changed rows) per sync, exactly-once via the cascade's
  fenced merge, deletes ride through as tombstones.

Search cost: one scan of the INDEX (a few columns instead of the source's
full width — at a 100-TB source with wide content columns the index is
orders of magnitude smaller), made sublinear by ``optimize()``: the
engine's sort-layout compaction clusters the index by value, so the
pushed equality predicate prunes row groups by parquet min/max stats.
``rows()`` then restricts the SOURCE scan to the hit buckets via an
equi-join on the keys.

No reference analog (Postgres gives the reference CREATE INDEX for free;
a lake engine has to build it) — composes the engine's CDC core with its
own table format, like ``NearDupIndex``/``AnnIndex`` for the relational
case.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from french_admin_etl_spark.streaming.cascade import CascadeJob, CascadeResult
from french_admin_etl_spark.streaming.checkpoint import CheckpointStore
from french_admin_etl_spark.table.lake_table import (
    LakeTable,
    _bucket_expr,
    _parse_type_json,
)


class SecondaryIndex:
    """A value→keys index over ``columns`` of ``source``, stored as a
    LakeTable keyed by the source's keys."""

    def __init__(self, source: LakeTable, table: LakeTable, columns: list[str]):
        self.source = source
        self.table = table
        self.columns = list(columns)

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        source: LakeTable,
        root: str,
        columns: list[str],
        num_buckets: int | None = None,
        writer_id: str = "secidx",
    ) -> "SecondaryIndex":
        """Index table schema and key types come from the SOURCE snapshot
        (never hand-declared — the bigint-keys bucket lesson)."""
        snap = source.snapshot()
        keys = snap["key_cols"]
        fields = {
            f["name"]: f["type"]
            for f in snap["schemas"][str(snap["schema_version"])]["fields"]
        }
        bad = [c for c in columns if c not in fields]
        if bad:
            raise ValueError(f"source has no column(s) {bad!r}")
        overlap = [c for c in columns if c in keys]
        if overlap:
            raise ValueError(f"{overlap!r} are key columns — already indexed by lookup()")
        schema = T.StructType(
            [T.StructField(k, _parse_type_json(fields[k]), True) for k in keys]
            + [T.StructField(c, _parse_type_json(fields[c]), True) for c in columns]
        )
        table = LakeTable.create(
            spark,
            root,
            schema=schema,
            key_cols=list(keys),
            num_buckets=num_buckets or snap["num_buckets"],
        )
        idx = cls(source, table, columns)
        idx.writer_id = writer_id
        return idx

    # ------------------------------------------------------------ maintenance

    def _transform(self) -> Callable[[DataFrame], DataFrame]:
        keys = self.source.snapshot()["key_cols"]
        cols = list(keys) + self.columns

        def tf(df: DataFrame) -> DataFrame:
            return df.select(*cols, "lsn", "op")

        return tf

    def cascade(self, writer_id: str | None = None) -> CascadeJob:
        return CascadeJob(
            self.table.spark,
            self.source,
            self.table,
            transform=self._transform(),
            writer_id=writer_id or getattr(self, "writer_id", "secidx"),
        )

    def sync(self, checkpoint: CheckpointStore) -> list[CascadeResult]:
        """Advance the index to the source's current version — O(changed
        rows), exactly-once, crash-safe (all from CascadeJob)."""
        return self.cascade().run_to_latest(checkpoint)

    def optimize(self) -> int:
        """Rewrite the index clustered by indexed value (sort-layout
        compaction): equality probes then skip non-matching row groups
        via parquet min/max — the scan becomes sublinear in the corpus."""
        return self.table.compact(include_clean=True, sort_cols=self.columns)

    # ----------------------------------------------------------------- search

    def search(self, **equals) -> DataFrame:
        """Key tuples whose indexed columns equal the given values, e.g.
        ``idx.search(lang="go")`` → DataFrame of the source's key columns.
        Only indexed columns are accepted; the predicate is pushed into
        the (narrow, value-clustered) index scan."""
        bad = [c for c in equals if c not in self.columns]
        if bad:
            raise ValueError(f"{bad!r} not in indexed columns {self.columns!r}")
        if not equals:
            raise ValueError("search() needs at least one <indexed-column>=value")
        keys = self.source.snapshot()["key_cols"]
        df = self.table.read()
        for c, v in equals.items():
            df = df.filter(F.col(c).eqNullSafe(F.lit(v)))
        return df.select(*keys)

    def search_in(
        self, column: str, values: DataFrame, probe_col: str | None = None
    ) -> DataFrame:
        """Set-probe twin of :meth:`search`: key tuples whose indexed
        ``column`` equals ANY value in ``values``. The probe column is
        ``probe_col`` if given, else ``values`` must have EXACTLY one
        column (a silent positional columns[0] pick on a wide frame
        probed the wrong column with no error — review finding). The
        probe side is broadcast and the scan side is the NARROW index
        read — at a wide 100-TB source this is the difference between
        scanning a few key+value columns and the full table width (the
        DAG FK gate's parent-delete leg uses this to find candidate
        referrers of a deleted dimension key set)."""
        if column not in self.columns:
            raise ValueError(f"{column!r} not in indexed columns {self.columns!r}")
        if probe_col is None:
            if len(values.columns) != 1:
                raise ValueError(
                    f"search_in probe frame has {len(values.columns)} columns "
                    f"{values.columns!r}; pass probe_col= or a single-column frame"
                )
            probe_col = values.columns[0]
        elif probe_col not in values.columns:
            raise ValueError(f"probe_col {probe_col!r} not in {values.columns!r}")
        keys = self.source.snapshot()["key_cols"]
        probe = values.select(F.col(probe_col).alias(f"_probe_{column}")).distinct()
        idx = self.table.read()
        # null-safe like search(): a NULL probe value matches IS NULL rows
        return idx.join(
            F.broadcast(probe),
            idx[column].eqNullSafe(probe[f"_probe_{column}"]),
            "left_semi",
        ).select(*keys)

    def rows(self, **equals) -> DataFrame:
        """Full SOURCE rows matching the indexed predicate: index search
        → bucket-restricted source scan → left-semi join on the keys.

        The hit keys are materialized once (localCheckpoint) and their
        buckets collected (≤ num_buckets ints through the driver, a
        bounded collect), so the SOURCE side
        reads only the buckets that can hold a hit — at a 100-TB source
        with a selective predicate that is the difference between
        touching a handful of buckets and resolving the whole table
        (review finding: the first cut scanned everything)."""
        snap = self.source.snapshot()
        keys, nb = snap["key_cols"], snap["num_buckets"]
        hits = self.search(**equals).localCheckpoint(eager=True)
        buckets = sorted(
            r["_b"]
            for r in hits.select(_bucket_expr(keys, nb).alias("_b")).distinct().collect()
        )
        if not buckets:
            return self.source.read().limit(0)
        logical = [
            f["name"] for f in snap["schemas"][str(snap["schema_version"])]["fields"]
        ]
        # the hit-keys semi join rides BELOW the MOR resolution
        # (``key_filter``): the resolution shuffle moves only the matched
        # keys' physical rows, not the whole touched bucket. ``hits`` is
        # an equality-probe result (checkpointed above) → broadcast.
        return (
            self.source.read_raw(buckets=buckets, key_filter=F.broadcast(hits))
            .filter(~F.col("_deleted"))
            .select(*logical)
        )
