"""The CDC apply job: change-event batches → exactly-once MERGE into repos.

This is the engine's industrialized version of the reference's whole
pipeline (``cmd/main.go:110-120`` → processor → transformer → repository):

  batch → validate-and-split (P4/P5/S9 analog)
        → normalize + vectorized sha256 (U1 / input_hint)
        → schema-epoch split on SCHEMA events (main.go's dimension-before-
          fact DAG ordering, generalized)
        → W1 max-LSN dedup (map-side-combining, skew-proof)
        → MERGE INTO LakeTable with batch-id fencing (S6/S7/S8/T5)
        → per-bucket lineage + throughput metrics (S10/A2/A3)

Three drivers share ``apply_batch``:
- ``run_incremental``: deterministic LSN-windowed batches with a JSON
  checkpoint (replay from any checkpoint reconverges — north_rule).
- ``run_incremental_balanced``: event-balanced windows whose planned
  bounds ride the checkpoint.
- ``run_stream``: Structured Streaming foreachBatch over the log directory
  (file-source checkpointing; the same fence makes epoch replays no-ops).

The FK-ordered multi-table driver (``streaming.dag``) runs the same steps
through the two halves of a batch, :meth:`CDCApplyJob.stage` and
:meth:`CDCApplyJob.commit`, so it can stage several tables at once.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from functools import reduce

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from french_admin_etl_spark.functions.hashing import content_sha
from french_admin_etl_spark.operators.dedup import dedup_coalesce, dedup_max_seq
from french_admin_etl_spark.operators.validate import validate_split
from french_admin_etl_spark.sources.event_log import EventLog
from french_admin_etl_spark.streaming.checkpoint import CheckpointStore
from french_admin_etl_spark.table.lake_table import (
    LakeTable,
    MergeStats,
    SchemaOp,
    StagedMerge,
    _bucket_expr,
    is_fenced,
)

REPOS_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
        T.StructField("content_sha", T.StringType(), True),
    ]
)

KEYS = ["repo", "path"]

def validation_rules(
    merge_mode: str = "overwrite",
    key_cols: list[str] | None = None,
    payload_cols: list[str] | None = None,
) -> dict:
    """Engine-mandated invariants before apply (the CHECK-constraint analog,
    migrations/000005:5-37): built lazily — Column exprs need a live session.

    Mode-aware: under ``merge_mode='coalesce'`` a null column means "not
    updated" (reference S7, COALESCE(EXCLUDED.c, t.c)), so a non-delete
    event with null content is a LEGITIMATE partial update, not a reject —
    the full-row rule would dead-letter exactly the partial events the
    mode exists for. Coalesce mode instead requires that a non-delete
    event sets at least ONE payload column (an all-null update is
    meaningless and almost certainly producer breakage).

    Table-generic: defaults are the repos contract (KEYS +
    commit/lang/content, with the reference's content-NOT-NULL rule); any
    other table passes its own key/payload columns and gets the generic
    invariants (keys non-null; a non-delete sets >=1 payload column)."""
    keys = key_cols if key_cols is not None else KEYS
    payload = payload_cols if payload_cols is not None else ["commit", "lang", "content"]
    rules = {
        "bad_op": F.col("op").isin("I", "U", "D"),
        "null_key": reduce(lambda a, b: a & b, [F.col(k).isNotNull() for k in keys]),
    }
    any_set = (
        reduce(lambda a, b: a | b, [F.col(c).isNotNull() for c in payload])
        if payload
        else F.lit(True)
    )
    if merge_mode != "coalesce" and "content" in payload:
        rules["null_content"] = (F.col("op") == "D") | F.col("content").isNotNull()
    else:
        rules["all_null_update"] = (F.col("op") == "D") | any_set
    return rules


def valid_predicate(rules: dict):
    """Single formulation of "event passes every validation rule" (null
    rule results fail, matching ``validate_split``), for the reject
    count."""
    return F.coalesce(reduce(lambda a, b: a & b, rules.values()), F.lit(False))


@dataclass
class BatchResult:
    batch_id: int
    n_events: int
    n_rejects: int
    merge: MergeStats | None
    schema_evolutions: int
    wall_ms: int


@dataclass
class StagedBatch:
    """One table's batch between :meth:`CDCApplyJob.stage` and
    :meth:`CDCApplyJob.commit`: validated, deduped and staged, not yet
    visible. ``replayed`` holds the finished result instead when the
    table fence already covers the batch."""

    batch_id: int
    n_events: int
    fence_writer: str | None
    valid: DataFrame
    rejects: DataFrame
    n_rejects: int = 0
    source: DataFrame | None = None  # persisted in coalesce mode
    merge: StagedMerge | None = None
    stage_s: float = 0.0
    replayed: BatchResult | None = None

    def release(self) -> None:
        """Drop the source's cache: after the commit, or when the batch
        is quarantined or abandoned. Idempotent."""
        if self.source is not None:
            self.source.unpersist()


def _fence_id(batch_id: int, sub: int) -> int:
    """The table fence id of schema epoch ``sub`` of a batch: epochs share
    the batch fence through a composite id, so a replay skips exactly the
    epochs already committed."""
    if sub >= 1024:
        # the composite fence encodes sub in 10 bits; epoch 1024 of batch
        # B would reuse batch B+1's fence ids and silently drop its first
        # epochs on replay — fail loudly instead (a batch carrying >=1024
        # SCHEMA events must be split upstream)
        raise ValueError(
            f"batch {batch_id} carries >=1024 schema epochs; composite "
            "fence ids would collide with the next batch — use smaller "
            "batch windows"
        )
    return batch_id * 1024 + sub


def _partition(sink: str, batch_id: int) -> str:
    """A batch's directory in an audit sink (dead-letter or lineage)."""
    return os.path.join(sink, f"batch_id={batch_id}")


class CDCApplyJob:
    def __init__(
        self,
        spark: SparkSession,
        table: LakeTable,
        dead_letter_dir: str | None = None,
        lineage_dir: str | None = None,
        merge_mode: str = "overwrite",
        writer_id: str | None = None,
    ):
        self.spark = spark
        self.table = table
        self.dead_letter_dir = dead_letter_dir
        self.lineage_dir = lineage_dir
        self.merge_mode = merge_mode
        # multi-writer topology (one job per log partition into one table):
        # each job passes a distinct writer_id so its exactly-once fence is
        # namespaced per writer instead of a shared scalar
        self.writer_id = writer_id
        # the natural key is the TABLE's, not the module's: any LakeTable
        # (not just the repos north-rule table) can sit behind this job —
        # the FK-ordered DAG driver applies region/department/commune
        # streams through the same apply_batch
        self.keys = table.snapshot()["key_cols"]

    # ------------------------------------------------------------- per batch

    def _payload_cols(self, df: DataFrame, snap: dict) -> list[str]:
        """Logical non-key columns the validation rules may reference:
        restricted to columns actually present in the incoming events
        (older events predate added columns) and excluding the derived
        ``content_sha``. Event columns BEYOND the current snapshot count
        too — but ONLY when a SCHEMA event inside this batch is about to
        add/rename to them: a coalesce-mode partial update that sets only
        the new column must not be dead-lettered as all-null, while an
        event whose only set field is a stray column the table will NEVER
        have must still dead-letter, not silently normalize to an empty
        update (two reviewer findings, opposite directions). The marker
        scan is a pushed-filter job that runs only when unknown columns
        are present at all — the rare evolution-in-batch case."""
        logical = [
            f["name"] for f in snap["schemas"][str(snap["schema_version"])]["fields"]
        ]
        meta = {"lsn", "ts", "op", "schema_version", "props"}
        extra = [
            c
            for c in df.columns
            if c not in logical and c not in meta and not c.startswith("_")
        ]
        if extra and "props" in df.columns:
            introduced = set()
            for r in (
                df.filter(F.col("op") == "SCHEMA").select("props").collect()
            ):
                try:
                    p = json.loads(r["props"])
                except (TypeError, ValueError):
                    continue
                name = p.get("to") if p.get("action") == "rename_column" else p.get("name")
                if name:
                    introduced.add(name)
            extra = [c for c in extra if c in introduced]
        return [
            c
            for c in [*logical, *extra]
            if c not in self.keys and c != "content_sha" and c in df.columns
        ]

    def _prepare(self, events: DataFrame, snap: dict):
        """Validation, shared by every apply path: ``(observed, valid,
        rejects, obs)``. ``obs`` counts the events and the rejects on the
        first job that runs over ``observed`` or a frame derived from it,
        so the counts ride a job the caller runs anyway — no count() jobs.
        SCHEMA rows are neither valid nor rejected."""
        rules = validation_rules(self.merge_mode, self.keys, self._payload_cols(events, snap))
        is_data = F.col("op") != "SCHEMA"
        obs = Observation()
        observed = events.observe(
            obs,
            F.count(F.lit(1)).alias("n_events"),
            F.sum((is_data & ~valid_predicate(rules)).cast("long")).alias("n_rejects"),
        )
        valid, rejects = validate_split(observed.filter(is_data), rules, cache=False)
        return observed, valid, rejects, obs

    def _source(self, valid: DataFrame, snap: dict) -> DataFrame:
        """One slice's MERGE source: projected to the table's columns with
        the derived sha (JVM ``sha2``, whole-stage codegen; never per-row
        Python) and deduped to one row per key. Coalesce mode folds
        intra-batch PARTIAL updates per column (``dedup_max_seq`` would
        keep only the max-LSN row, dropping columns set by earlier events)
        and PERSISTS the result: staging reads it twice (the delta rows and
        the barrier union of intra-batch deletes), and re-running the
        dedup shuffle + sha per read would double the work. The caller
        unpersists it once the slice is committed or dropped."""
        sha = F.when(F.col("content").isNotNull(), content_sha("content"))
        cols = [F.col("lsn"), F.col("op")]
        for f in snap["schemas"][str(snap["schema_version"])]["fields"]:
            c = f["name"]
            if c == "content_sha":
                cols.append(sha.alias("content_sha"))
            elif c in valid.columns:
                cols.append(F.col(c))
            else:  # column added by schema evolution, absent in older events
                cols.append(F.lit(None).alias(c))
        normalized = valid.select(*cols)
        if self.merge_mode == "coalesce":
            return dedup_coalesce(normalized, self.keys, "lsn", "op").persist()
        return dedup_max_seq(normalized, self.keys, "lsn")

    def _apply_schema_event(self, ev_row) -> bool:
        """Apply one SCHEMA event idempotently: skip when the table has
        already reached the event's schema_version (replay safety)."""
        target_version = int(ev_row["schema_version"])
        snap = self.table.snapshot()
        if snap["schema_version"] >= target_version:
            return False
        props = json.loads(ev_row["props"])
        action = props["action"]
        if action == "add_column":
            op = SchemaOp(action="add_column", name=props["name"], type=props["type"])
        elif action == "widen":
            op = SchemaOp(action="widen", name=props["name"], type=props["type"])
        elif action == "rename_column":
            op = SchemaOp(action="rename_column", from_name=props["from"], to_name=props["to"])
        else:
            raise ValueError(f"unknown schema action {action}")
        self.table.evolve([op])
        return True

    def apply_batch(
        self, events: DataFrame, batch_id: int, fence_writer: str | None = None
    ) -> BatchResult:
        """Apply one micro-batch exactly-once. Replays are no-ops (fence).

        ``fence_writer`` overrides the job's ``writer_id`` for the table
        fence — used by drivers whose batch-id sequence is independent of
        ``run_incremental``'s (e.g. the balanced driver) so two sequences
        against one table/checkpoint can never fence each other out."""
        t0 = time.monotonic()
        # the batch has 2-3 consumers (schema-marker collect + counts, the
        # merge pipeline, lineage): materialize it once in executor memory.
        # The finally releases it even when a stage fails mid-batch — a
        # driver retrying batches in a loop would otherwise accumulate one
        # orphaned cached frame per failed attempt
        events = events.cache()
        try:
            # 1. one driver action does triple duty: collect the SCHEMA
            #    markers (applied in LSN order; data events split into schema
            #    epochs so evolution lands between the right events — SURVEY
            #    §7 hard-part 3), materialize the cache, and fill the counts
            snap = self.table.snapshot()
            observed, valid, rejects, obs = self._prepare(events, snap)
            schema_events = sorted(
                observed.filter(F.col("op") == "SCHEMA").collect(), key=lambda r: r["lsn"]
            )
            n_events = int(obs.get["n_events"] or 0)
            fence_writer = self.writer_id if fence_writer is None else fence_writer
            # the last epoch commits after every other epoch and SCHEMA
            # event, so once it is fenced the whole batch is a replay
            last = _fence_id(batch_id, len(schema_events))
            if is_fenced(snap["properties"], last, fence_writer):
                stats = MergeStats(last, snap["version"], 0, 0, 0, fenced=True)
                return self._replayed(valid, rejects, batch_id, n_events, stats)

            # 2. dead-letter the rejects before any commit (P5/S9)
            n_rejects = int(obs.get["n_rejects"] or 0)
            if n_rejects and self.dead_letter_dir:
                self._write_dead_letter(rejects, batch_id)

            # 3. one fenced MERGE per schema epoch, each SCHEMA event between
            evolutions = 0
            merge_stats: MergeStats | None = None
            for sub, ev in enumerate([*schema_events, None]):
                part = valid
                if sub:
                    part = part.filter(F.col("lsn") >= schema_events[sub - 1]["lsn"])
                if ev is not None:
                    part = part.filter(F.col("lsn") < ev["lsn"])
                # epoch 0 runs under the batch's opening schema; later ones
                # read the schema their SCHEMA event left
                stats = self._merge_epoch(
                    part, batch_id, sub, fence_writer, None if sub else snap
                )
                if merge_stats is not None and not stats.fenced:
                    stats.rows_upserted += merge_stats.rows_upserted
                    stats.rows_deleted += merge_stats.rows_deleted
                if merge_stats is None or not stats.fenced:
                    merge_stats = stats
                if ev is not None and self._apply_schema_event(ev):
                    evolutions += 1

            wall_ms = int((time.monotonic() - t0) * 1000)
            self._write_lineage(valid, batch_id, merge_stats, wall_ms)
            return BatchResult(batch_id, n_events, n_rejects, merge_stats, evolutions, wall_ms)
        finally:
            events.unpersist()

    def _merge_epoch(
        self,
        valid: DataFrame,
        batch_id: int,
        sub: int,
        fence_writer: str | None,
        snap: dict | None = None,
    ) -> MergeStats:
        """Dedup + MERGE schema epoch ``sub`` of a batch under its
        composite fence id (see :func:`_fence_id`)."""
        fid = _fence_id(batch_id, sub)
        source = self._source(valid, snap or self.table.snapshot())
        try:
            return self.table.merge(
                source, "lsn", "op", fid, self.merge_mode, writer_id=fence_writer
            )
        finally:
            source.unpersist()

    def stage(
        self, events: DataFrame, batch_id: int, n_events: int, fence_writer: str | None = None
    ) -> StagedBatch:
        """Stage half of :meth:`apply_batch` for a batch with no SCHEMA
        event: validate, normalize, dedup and write the delta file groups
        — every distributed job of the batch, the reject count riding the
        stage write — with nothing visible until :meth:`commit`. A
        multi-table driver stages several tables at once. The fence id is
        ``apply_batch``'s for a batch of one epoch, so either path fences
        the other's replays. ``n_events`` is the caller's count of
        ``events`` (a fenced replay runs no job to count them)."""
        t0 = time.monotonic()
        fence_writer = self.writer_id if fence_writer is None else fence_writer
        fid = _fence_id(batch_id, 0)
        snap = self.table.snapshot()
        _observed, valid, rejects, obs = self._prepare(events, snap)
        st = StagedBatch(batch_id, n_events, fence_writer, valid, rejects)
        if is_fenced(snap["properties"], fid, fence_writer):
            stats = MergeStats(fid, snap["version"], 0, 0, 0, fenced=True)
            st.replayed = self._replayed(valid, rejects, batch_id, n_events, stats)
            return st
        st.source = self._source(valid, snap)
        try:
            st.merge = self.table.stage_merge(st.source, "lsn", "op", self.merge_mode)
        except BaseException:
            st.release()
            raise
        st.n_rejects = int(obs.get["n_rejects"] or 0)
        st.stage_s = time.monotonic() - t0
        return st

    def commit(self, st: StagedBatch) -> BatchResult:
        """Commit half of :meth:`stage`: the dead-letter partition before
        the fenced commit and lineage after it (``apply_batch``'s order),
        releasing the staged source."""
        if st.replayed is not None:
            return st.replayed
        t0 = time.monotonic()
        fid = _fence_id(st.batch_id, 0)
        try:
            if st.n_rejects and self.dead_letter_dir:
                self._write_dead_letter(st.rejects, st.batch_id)
            if st.merge is None:  # empty after validation: no commit, no fence
                stats = MergeStats(fid, self.table.snapshot()["version"], 0, 0, 0)
            else:
                stats = self.table.commit_merge(st.merge, fid, st.fence_writer)
        finally:
            st.release()
        wall_ms = int((st.stage_s + time.monotonic() - t0) * 1000)
        self._write_lineage(st.valid, st.batch_id, stats, wall_ms)
        return BatchResult(st.batch_id, st.n_events, st.n_rejects, stats, 0, wall_ms)

    def _replayed(
        self,
        valid: DataFrame,
        rejects: DataFrame,
        batch_id: int,
        n_events: int,
        stats: MergeStats,
    ) -> BatchResult:
        """A batch the table fence already covers: a crash replay, on any
        driver path. Nothing is restaged. The original attempt may have
        crashed before an audit write landed (lineage is written after the
        commit), so each sink's ``batch_id=<id>/`` partition is written
        again only when it is missing — one extra job, on crash replays
        only; a batch without rejects backfills one empty dead-letter
        partition. A backfilled lineage row carries the current snapshot
        version and ``wall_ms=0``: the commit's own are not recoverable.
        The reject count comes from the dead-letter partition's parquet
        footers (driver-side, no job); without that sink it is 0."""
        dl, lin = self.dead_letter_dir, self.lineage_dir
        if dl and not os.path.isdir(_partition(dl, batch_id)):
            self._write_dead_letter(rejects, batch_id)
        if lin and not os.path.isdir(_partition(lin, batch_id)):
            self._write_lineage(valid, batch_id, stats, 0)
        n_rejects = 0
        if dl:
            part = _partition(dl, batch_id)
            n_rejects = sum(
                pq.ParquetFile(os.path.join(part, f)).metadata.num_rows
                for f in os.listdir(part)
                if f.endswith(".parquet")
            )
        return BatchResult(batch_id, n_events, n_rejects, stats, 0, 0)

    def _write_dead_letter(self, rejects: DataFrame, batch_id: int) -> None:
        """Quarantine a batch's rejects under ``batch_id=<id>/`` with
        OVERWRITE semantics: the validation split is deterministic over
        the (pinned) replay window, so a crash-replayed batch rewrites the
        same partition with identical content instead of appending
        duplicates — the fenced table merge was exactly-once but the
        append-mode audit sink was not (review finding). Readers recover
        ``batch_id`` as a partition column from the directory name."""
        rejects.write.mode("overwrite").parquet(_partition(self.dead_letter_dir, batch_id))

    def _write_lineage(
        self, valid: DataFrame, batch_id: int, stats: MergeStats, wall_ms: int
    ) -> None:
        """Per-bucket lineage: LSN range + op counts (§1.5; the structured
        version of csv_processor.go:131's throughput log line). No-op
        without a lineage sink."""
        if not self.lineage_dir:
            return
        nb = self.table.snapshot()["num_buckets"]
        lineage = (
            # the table's OWN bucket expression — an inline twin would
            # silently drift from real bucket ids if routing ever changed
            # (review finding)
            valid.groupBy(_bucket_expr(self.keys, nb).alias("partition_id"))
            .agg(
                F.min("lsn").alias("lsn_min"),
                F.max("lsn").alias("lsn_max"),
                F.sum(F.when(F.col("op") != "D", 1).otherwise(0)).alias("rows_applied"),
                F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("rows_deleted"),
            )
            .withColumn("commit_snapshot_id", F.lit(stats.snapshot_version).cast("long"))
            .withColumn("wall_ms", F.lit(wall_ms).cast("long"))
        )
        # same idempotent per-batch overwrite as the dead-letter sink:
        # replaying a batch rewrites batch_id=<id>/ instead of appending a
        # second copy of its lineage rows; batch_id rides the directory
        # name and comes back as a partition column
        lineage.write.mode("overwrite").parquet(_partition(self.lineage_dir, batch_id))

    # ---------------------------------------------------------------- drivers

    def run_incremental(
        self,
        log: EventLog,
        checkpoint: CheckpointStore,
        batch_lsns: int = 10_000,
        max_batches: int | None = None,
    ) -> list[BatchResult]:
        """Deterministic LSN-windowed micro-batches with checkpoint resume.
        Kill it anywhere; rerunning reconverges to the identical final state
        (fence makes the replayed window a no-op)."""
        state = checkpoint.load() or {"batch_id": 0, "next_lsn": 0}
        if "bounds" in state:
            # the two drivers persist incompatible shapes; silently
            # re-windowing another driver's checkpoint would re-plan from
            # LSN 0 / crash later (reviewer finding) — refuse up front
            raise ValueError(
                "checkpoint was written by run_incremental_balanced; use "
                "that driver (or a fresh checkpoint path) for this table"
            )
        results = []
        hi_all = log.max_lsn() + 1
        while state["next_lsn"] < hi_all or "pending_hi" in state:
            if max_batches is not None and len(results) >= max_batches:
                break
            lo = state["next_lsn"]
            if "pending_hi" in state:
                # crash replay: reuse the exact window that was planned
                hi = state["pending_hi"]
            else:
                # clamp to the log's current end AND pin the planned
                # window before applying: without both, a crash between
                # apply and checkpoint plus log growth replays a WIDER
                # window under the same batch_id — the fence no-ops it
                # and the newly-arrived tail events are silently lost
                # (round-5 self-review; same pending-window protocol as
                # the DAG/cascade drivers and the balanced driver's
                # persisted bounds)
                hi = min(lo + batch_lsns, hi_all)
                state = dict(state, pending_hi=hi)
                checkpoint.save(state)
            res = self.apply_batch(log.lsn_range(lo, hi), state["batch_id"])
            results.append(res)
            state = {"batch_id": state["batch_id"] + 1, "next_lsn": hi}
            checkpoint.save(state)
        return results

    def run_incremental_balanced(
        self,
        log: EventLog,
        checkpoint: CheckpointStore,
        batch_events: int = 1_000_000,
        max_batches: int | None = None,
    ) -> list[BatchResult]:
        """Adaptive micro-batches of ~``batch_events`` events each: window
        boundaries come from LSN percentiles of the log (one pass) so a
        binlog with skewed LSN density — dense after a bulk import, sparse
        later — still yields CONSTANT-SIZE batches instead of one giant
        batch plus empties. The planned boundaries are persisted in the
        checkpoint on first run and replayed verbatim on resume:
        exactly-once fencing requires the replayed windows to be identical
        to the originally-committed ones.

        Re-entry with a growing log: when the planned windows are
        exhausted but events have been appended past the last planned
        bound, NEW windows are planned over only the fresh suffix
        ``[last_bound, max_lsn+1)`` and APPENDED to the checkpointed list
        — the committed prefix is never re-planned, so replayed windows
        stay bit-identical to the ones already fenced. This makes the
        driver safe to call in a tail-the-log loop.

        Fencing: this driver numbers batches independently of
        ``run_incremental`` (ids restart at 0 over its own window list),
        so its table fence is NAMESPACED under ``<writer_id>.balanced`` —
        switching drivers against one TABLE can never fence out the other
        driver's fresh windows as replays. CHECKPOINTS however are
        per-driver (incompatible shapes): handing this driver a
        ``run_incremental`` checkpoint raises instead of silently
        re-planning the whole log."""
        fence_writer = f"{self.writer_id}.balanced" if self.writer_id else "balanced"
        state = checkpoint.load()
        if state is not None and "bounds" not in state:
            raise ValueError(
                "checkpoint was written by run_incremental; use that driver "
                "(or a fresh checkpoint path) for this table"
            )
        if state is None:
            state = {"batch_id": 0, "bounds": log.event_balanced_bounds(batch_events)}
            checkpoint.save(state)
        bounds = state["bounds"]
        if state["batch_id"] >= len(bounds) - 1:
            # planned windows exhausted — extend over the appended suffix
            mx = log.max_lsn()
            if mx + 1 > bounds[-1]:
                ext = log.event_balanced_bounds(batch_events, start_lsn=bounds[-1])
                bounds = bounds + ext[1:]
                state = {"batch_id": state["batch_id"], "bounds": bounds}
                checkpoint.save(state)
        results = []
        while state["batch_id"] < len(bounds) - 1:
            if max_batches is not None and len(results) >= max_batches:
                break
            i = state["batch_id"]
            lo, hi = bounds[i], bounds[i + 1]
            results.append(
                self.apply_batch(log.lsn_range(lo, hi), i, fence_writer=fence_writer)
            )
            state = {"batch_id": i + 1, "bounds": bounds}
            checkpoint.save(state)
        return results

    def run_stream(
        self,
        log: EventLog,
        checkpoint_dir: str,
        max_files_per_trigger: int = 4,
    ) -> list[BatchResult]:
        """Structured Streaming driver: foreachBatch over the log directory,
        availableNow trigger (bounded replay), Spark-managed offsets +
        table-side fence = exactly-once.

        The fence is namespaced ``<writer>.stream.<uid>`` with the uid
        minted per stream-checkpoint dir (see
        :func:`.checkpoint.stream_fence_uid`): epoch ids restart at 0
        under a fresh checkpoint, and fencing them against another
        driver's (or an earlier stream's) high-water mark silently drops
        fresh events — with the uid, the worst case is a convergent
        LSN-guarded re-apply."""
        from french_admin_etl_spark.streaming.checkpoint import stream_fence_uid

        uid = stream_fence_uid(checkpoint_dir)
        ns = f"{self.writer_id}.stream.{uid}" if self.writer_id else f"stream.{uid}"
        results: list[BatchResult] = []

        def handle(df: DataFrame, epoch_id: int) -> None:
            results.append(self.apply_batch(df, int(epoch_id), fence_writer=ns))

        q = (
            log.read_stream(max_files_per_trigger)
            .writeStream.foreachBatch(handle)
            .option("checkpointLocation", os.path.join(checkpoint_dir, "stream"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return results
