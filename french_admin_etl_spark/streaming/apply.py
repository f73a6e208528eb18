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

Both drivers share ``apply_batch``:
- ``run_incremental``: deterministic LSN-windowed batches with a JSON
  checkpoint (replay from any checkpoint reconverges — north_rule).
- ``run_stream``: Structured Streaming foreachBatch over the log directory
  (file-source checkpointing; the same fence makes epoch replays no-ops).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from french_admin_etl_spark.functions.hashing import content_sha
from french_admin_etl_spark.operators.dedup import dedup_coalesce, dedup_max_seq
from french_admin_etl_spark.operators.validate import validate_split
from french_admin_etl_spark.sources.event_log import EventLog
from french_admin_etl_spark.streaming.checkpoint import CheckpointStore
from french_admin_etl_spark.table.lake_table import LakeTable, MergeStats, SchemaOp

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
    rule results fail, matching ``validate_split``). Shared by
    ``apply_batch``'s reject predicate and the DAG FK gate so the two
    sites cannot drift (reviewer finding)."""
    return F.coalesce(reduce(lambda a, b: a & b, rules.values()), F.lit(False))


@dataclass
class BatchResult:
    batch_id: int
    n_events: int
    n_rejects: int
    merge: MergeStats | None
    schema_evolutions: int
    wall_ms: int


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

    def _payload_cols(self, df: DataFrame) -> list[str]:
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
        snap = self.table.snapshot()
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
            import json

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

    def _normalize(self, df: DataFrame) -> DataFrame:
        """Project to MERGE-source shape + derived sha (vectorized; never
        per-row Python).

        The sha is JVM ``sha2`` (whole-stage codegen)."""
        sha = F.when(F.col("content").isNotNull(), content_sha("content"))
        snap = self.table.snapshot()  # once: listdir + full JSON parse per call
        logical = [
            f["name"] for f in snap["schemas"][str(snap["schema_version"])]["fields"]
        ]
        cols = [F.col("lsn"), F.col("op")]
        for c in logical:
            if c == "content_sha":
                cols.append(sha.alias("content_sha"))
            elif c in df.columns:
                cols.append(F.col(c))
            else:  # column added by schema evolution, absent in older events
                cols.append(F.lit(None).alias(c))
        return df.select(*cols)

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
        # merge pipeline, lineage): materialize it once in executor memory
        events = events.cache()
        try:
            return self._apply_batch_inner(events, batch_id, fence_writer, t0)
        finally:
            # release the batch cache even when a stage fails mid-batch —
            # a driver retrying batches in a loop would otherwise
            # accumulate one orphaned cached frame per failed attempt
            # (review finding); unpersist on an uncached frame is a no-op
            events.unpersist()

    def _apply_batch_inner(
        self, events: DataFrame, batch_id: int, fence_writer: str | None, t0: float
    ) -> BatchResult:
        # 1. one driver action does triple duty: collect the SCHEMA markers
        #    (applied in LSN order; data events split into schema epochs so
        #    evolution lands between the right events — SURVEY §7 hard-part
        #    3), materialize the cache, and piggyback batch/reject counts as
        #    observed metrics — no separate count() jobs per batch.
        rules = validation_rules(self.merge_mode, self.keys, self._payload_cols(events))
        is_data = F.col("op") != "SCHEMA"
        reject_pred = is_data & ~valid_predicate(rules)
        obs = Observation()
        schema_events = sorted(
            events.observe(
                obs,
                F.count(F.lit(1)).alias("n_events"),
                F.sum(reject_pred.cast("long")).alias("n_rejects"),
            )
            .filter(F.col("op") == "SCHEMA")
            .collect(),
            key=lambda r: r["lsn"],
        )
        got = obs.get
        n_events = int(got["n_events"] or 0)
        n_rejects = int(got["n_rejects"] or 0)
        data = events.filter(is_data)

        # 2. validate-and-split (dead-letter rejects; batch survives — P5/S9)
        valid, rejects = validate_split(data, rules, cache=False)
        if n_rejects and self.dead_letter_dir:
            self._write_dead_letter(rejects, batch_id)

        evolutions = 0
        merge_stats: MergeStats | None = None
        epochs: list[tuple[DataFrame, object]] = []
        lo = None
        for ev in schema_events:
            epochs.append((valid.filter(F.col("lsn") < ev["lsn"]) if lo is None
                           else valid.filter((F.col("lsn") >= lo) & (F.col("lsn") < ev["lsn"])), ev))
            lo = ev["lsn"]
        tail = valid if lo is None else valid.filter(F.col("lsn") >= lo)

        fence_writer = self.writer_id if fence_writer is None else fence_writer
        sub = 0
        for epoch_df, schema_ev in epochs:
            merge_stats = self._merge_epoch(epoch_df, batch_id, sub, merge_stats, fence_writer)
            sub += 1
            if self._apply_schema_event(schema_ev):
                evolutions += 1
        merge_stats = self._merge_epoch(tail, batch_id, sub, merge_stats, fence_writer)

        wall_ms = int((time.monotonic() - t0) * 1000)
        if self.lineage_dir and merge_stats is not None:
            self._write_lineage(valid, batch_id, merge_stats, wall_ms)
        return BatchResult(batch_id, n_events, n_rejects, merge_stats, evolutions, wall_ms)

    def _merge_epoch(
        self,
        df: DataFrame,
        batch_id: int,
        sub: int,
        prev: MergeStats | None,
        fence_writer: str | None = None,
    ) -> MergeStats | None:
        """Dedup + MERGE one schema epoch. Sub-batches share the batch fence
        through a composite id (batch_id * 1024 + sub) so replay skips
        exactly the epochs already committed."""
        if sub >= 1024:
            # the composite fence encodes sub in 10 bits; epoch 1024 of
            # batch B would reuse batch B+1's fence ids and silently drop
            # its first epochs on replay — fail loudly instead (a batch
            # carrying >=1024 SCHEMA events must be split upstream)
            raise ValueError(
                f"batch {batch_id} carries >=1024 schema epochs; composite "
                "fence ids would collide with the next batch — use smaller "
                "batch windows"
            )
        normalized = self._normalize(df)
        # persist the deduped MERGE source: the stage write reads it twice
        # in coalesce mode (the delta rows and _build_mor_delta's barrier
        # union), and _restage_on_layout_change reads it again when a
        # rebucket races the commit; re-running the dedup shuffle + sha
        # for each read would multiply the work.
        # coalesce mode folds intra-batch PARTIAL updates per column
        # (dedup_max_seq would keep only the max-LSN row, dropping columns
        # set by earlier events in the same batch)
        if self.merge_mode == "coalesce":
            deduped = dedup_coalesce(normalized, self.keys, "lsn", "op").persist()
        else:
            deduped = dedup_max_seq(normalized, self.keys, "lsn").persist()
        try:
            stats = self.table.merge(
                deduped,
                seq_col="lsn",
                op_col="op",
                batch_id=batch_id * 1024 + sub,
                mode=self.merge_mode,
                writer_id=fence_writer if fence_writer is not None else self.writer_id,
            )
        finally:
            deduped.unpersist()
        if prev is not None and not stats.fenced:
            stats.rows_upserted += prev.rows_upserted
            stats.rows_deleted += prev.rows_deleted
        return stats if not stats.fenced else (prev or stats)

    def _write_dead_letter(self, rejects: DataFrame, batch_id: int) -> None:
        """Quarantine a batch's rejects under ``batch_id=<id>/`` with
        OVERWRITE semantics: the validation split is deterministic over
        the (pinned) replay window, so a crash-replayed batch rewrites the
        same partition with identical content instead of appending
        duplicates — the fenced table merge was exactly-once but the
        append-mode audit sink was not (review finding). Readers recover
        ``batch_id`` as a partition column from the directory name."""
        rejects.write.mode("overwrite").parquet(
            os.path.join(self.dead_letter_dir, f"batch_id={batch_id}")
        )

    def _write_lineage(
        self, valid: DataFrame, batch_id: int, stats: MergeStats, wall_ms: int
    ) -> None:
        """Per-bucket lineage: LSN range + op counts (§1.5; the structured
        version of csv_processor.go:131's throughput log line)."""
        from french_admin_etl_spark.table.lake_table import _bucket_expr

        snap = self.table.snapshot()
        nb = snap["num_buckets"]
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
        lineage.write.mode("overwrite").parquet(
            os.path.join(self.lineage_dir, f"batch_id={batch_id}")
        )

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
