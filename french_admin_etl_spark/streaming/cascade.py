"""Lake-to-lake cascade: tail one LakeTable's changes() into another.

The engine's generalization of the reference's staged pipeline (extract →
normalize → load, ``cmd/main.go:110-120``) to the lakehouse: once a CDC
stream lands in a bronze table, every downstream (silver/gold) table is
itself maintained INCREMENTALLY by tailing the upstream table's CDF-style
``changes()`` window — the medallion-pipeline pattern (Delta Live Tables /
Iceberg incremental processing), built here on the engine's own
primitives:

- **source**: ``LakeTable.changes(from_version, current)`` — O(changed
  data) file-pruned scan of the commits since the last cascade run.
- **transform seam**: an optional DataFrame→DataFrame hook (the U3
  analog) applied to the change stream before the merge; key columns and
  the op/seq columns must survive it.
- **sink**: the same exactly-once ``merge`` (batch-id fence under the
  cascade's own ``writer_id``) into the target — crash between merge and
  checkpoint replays as a fenced no-op.
- **recovery**: if the upstream window was already folded away by
  compaction (``changes()`` refuses), the cascade falls back to a FULL
  RESYNC: replay the source's resolved physical state — tombstones
  included, so downstream deletes still happen — through the same
  LSN-guarded merge. Stale rows no-op under the seq guard, so the
  fallback is idempotent and converges to the same state the incremental
  path would have reached.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from french_admin_etl_spark.operators.dedup import dedup_max_seq
from french_admin_etl_spark.streaming.checkpoint import CheckpointStore
from french_admin_etl_spark.table.lake_table import LakeTable, MergeStats, is_fenced


@dataclass
class CascadeResult:
    batch_id: int
    from_version: int
    to_version: int
    mode: str  # 'incremental' | 'full_resync' | 'noop'
    merge: MergeStats | None


class CascadeJob:
    def __init__(
        self,
        spark: SparkSession,
        source: LakeTable,
        target: LakeTable,
        transform: Callable[[DataFrame], DataFrame] | None = None,
        writer_id: str = "cascade",
    ):
        self.spark = spark
        self.source = source
        self.target = target
        self.transform = transform
        self.writer_id = writer_id

    def _merge_stream(self, df: DataFrame, batch_id: int, resync: bool = False) -> MergeStats:
        """df: logical columns + lsn + op. Dedup per key, then the fenced
        exactly-once merge under the cascade's writer namespace.

        ``resync=True`` (full-resync windows only) also RETRACTS: a source
        key whose delete tombstone was vacuumed between the cascade's last
        sync and this resync is simply ABSENT from the replayed state, so
        without an explicit retraction the target row would survive
        forever (review finding — permanent source/target divergence).
        Every live target key missing from the transformed stream is
        tombstoned at one LSN past its own row's — minimal shadowing, and
        it wins the merge's seq guard. Skipped when the target holds no
        file groups yet (bootstrap): nothing can be stale, and the skip
        spares the corpus-wide key distinct."""
        if self.transform is not None:
            df = self.transform(df)
        snap = self.target.snapshot()
        keys = snap["key_cols"]
        if resync and snap["file_groups"]:
            live = self.target.read_raw().filter(~F.col("_deleted"))
            missing = live.select(*keys, (F.col("_lsn") + 1).alias("lsn")).join(
                df.select(*keys).distinct(), on=keys, how="left_anti"
            )
            gone_cols = []
            for c in df.columns:
                if c in keys or c == "lsn":
                    gone_cols.append(F.col(c))
                elif c == "op":
                    gone_cols.append(F.lit("D").alias("op"))
                else:
                    gone_cols.append(F.lit(None).cast(df.schema[c].dataType).alias(c))
            df = df.unionByName(missing.select(*gone_cols))
        deduped = dedup_max_seq(df, keys, "lsn")
        return self.target.merge(
            deduped, seq_col="lsn", op_col="op", batch_id=batch_id,
            writer_id=self.writer_id,
        )

    def _as_stream(self, raw: DataFrame, logical: list[str]) -> DataFrame:
        return raw.select(
            *logical,
            F.col("_lsn").alias("lsn"),
            F.when(F.col("_deleted"), "D").otherwise("U").alias("op"),
        )

    def run_once(self, checkpoint: CheckpointStore) -> CascadeResult:
        """Advance the target to the source's current snapshot. Call it in
        a loop (or from a scheduler) to tail continuously.

        Crash safety: the planned window ``(from_version, to_version]`` is
        PERSISTED (as ``pending``) before the merge. A crash between
        merge-commit and checkpoint advance replays the SAME window on
        re-entry — the fence turns the merge into a no-op and the
        checkpoint then advances to exactly the window that was applied.
        Recomputing ``to_version`` on replay instead would mark upstream
        commits that landed after the crash as applied when the fenced
        merge never touched them (reviewer finding — silent divergence)."""
        state = checkpoint.load() or {"from_version": 0, "batch_id": 0}
        from_v, batch_id = state["from_version"], state["batch_id"]
        pending = state.get("pending")
        if pending is not None:
            cur = pending["to_version"]  # replay the previously planned window
            try:
                snap = self.source.snapshot(cur)
            except FileNotFoundError:
                # the pinned window's snapshot was EXPIRED before the replay
                # ran (crash + expire_snapshots racing recovery) — without a
                # fallback every rerun re-raises and the cascade is wedged
                # until the checkpoint is hand-edited (review finding; the
                # aggview sync handles the same class). Whether the pending
                # merge COMMITTED decides the recovery:
                props = self.target.snapshot()["properties"]
                if is_fenced(props, batch_id, self.writer_id):
                    # it landed — only the checkpoint write was lost; advance
                    # past it and let the next run plan a fresh window
                    checkpoint.save({"from_version": cur, "batch_id": batch_id + 1})
                    return CascadeResult(batch_id, from_v, cur, "recovered", None)
                # it never committed: re-plan from the live snapshot (the
                # fresh pending is persisted below like any first attempt)
                pending = None
                cur = self.source.current_version()
                snap = self.source.snapshot(cur)
        else:
            cur = self.source.current_version()
            snap = self.source.snapshot(cur)
        logical = [
            f["name"] for f in snap["schemas"][str(snap["schema_version"])]["fields"]
        ]
        if cur <= from_v:
            return CascadeResult(batch_id, from_v, cur, "noop", None)
        if pending is None:
            checkpoint.save(
                {"from_version": from_v, "batch_id": batch_id,
                 "pending": {"to_version": cur}}
            )

        if from_v > 0:
            try:
                stream = self._as_stream(
                    self.source.changes(from_v, cur).drop("_commit_version"), logical
                )
                mode = "incremental"
            except ValueError:
                # window folded by upstream compaction (or source rewound):
                # full resync through the same LSN-guarded merge — stale
                # rows no-op, deletes ride the tombstones
                stream = self._as_stream(self.source.read_raw(version=cur), logical)
                mode = "full_resync"
        else:
            # first run: bootstrap from the resolved physical state
            # (changes() can't attribute pre-existing rows to a window)
            stream = self._as_stream(self.source.read_raw(version=cur), logical)
            mode = "full_resync"

        stats = self._merge_stream(stream, batch_id, resync=(mode == "full_resync"))
        checkpoint.save({"from_version": cur, "batch_id": batch_id + 1})
        return CascadeResult(batch_id, from_v, cur, mode, stats)

    def run_to_latest(self, checkpoint: CheckpointStore) -> list[CascadeResult]:
        """Drain: run windows until the target has caught up (handles a
        pending crash window plus everything committed since)."""
        out = []
        while True:
            r = self.run_once(checkpoint)
            out.append(r)
            if r.mode == "noop":
                return out
