"""Write-Audit-Publish branches: stage CDC batches invisibly, gate, publish.

The Iceberg WAP idiom (stage-only commits + cherry-pick, branch
``audit``): a producer lands micro-batches on a BRANCH that main-chain
readers never see, an audit (row counts, FK gates, quality checks — any
callable over the branch read) runs against the would-be state, and only
then does one atomic ``publish()`` make all of it visible. A failed
audit drops the branch; readers never observed a byte of it. This is how
production CDC pipelines gate bad upstream data out of serving tables
(reference parity: the reference stages a whole load inside ONE
transaction — per-row savepoints, then a single Commit,
``internal/infrastructure/repository/region_repository.go:26-87`` —
WAP is that all-or-nothing contract at micro-batch scale).

Mechanics on this table format:

- branch state is ONE json under ``_meta/branch-<name>.json`` (atomic
  ``os.replace`` updates; one writer per branch — producers that need
  parallelism use distinct branches or writer fences, as on main).
- staged merges are plain MOR delta groups built against the branch's
  pinned PARENT snapshot, so audits are stable while main advances.
  Batch fences live in the branch state and move to main on publish.
- ``read()`` resolves parent + staged groups through the normal MOR
  read path (a synthetic snapshot) — the audit sees exactly the state
  publish would produce over the parent.
- ``publish()`` appends the staged groups to the CURRENT main snapshot
  in one fenced commit (MOR deltas are position-independent, so the
  rebase is free); all groups share the commit's seq, with their
  intra-branch order preserved by the ``sub`` tie-break the read path
  honors. A publish/branch uid recorded in main's properties makes a
  crash between commit and branch-file cleanup replay as a no-op.
- a ``rebucket()`` on main under an open branch is refused at publish
  (staged files route by the old hash); drop and re-stage.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, functions as F

from french_admin_etl_spark.table.lake_table import (
    CommitConflict,
    LakeTable,
    MergeStats,
    fence_key,
    is_fenced,
)


class Branch:
    def __init__(self, table: LakeTable, name: str):
        if not name.replace("_", "").replace("-", "").isalnum():
            raise ValueError(f"bad branch name {name!r}")
        self.table = table
        self.name = name

    @property
    def _path(self) -> str:
        return os.path.join(self.table._meta_dir, f"branch-{self.name}.json")

    def exists(self) -> bool:
        return os.path.exists(self._path)

    def _load(self) -> dict:
        with open(self._path) as fh:
            return json.load(fh)

    def _save(self, state: dict) -> None:
        tmp = self._path + f".{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as fh:
            json.dump(state, fh)
            fh.flush()
            os.fsync(fh.fileno())  # torn branch state loses staged refs
        os.replace(tmp, self._path)

    def _state(self) -> dict:
        """Existing state, or a fresh one pinned to main's CURRENT version."""
        if self.exists():
            return self._load()
        snap = self.table.snapshot()
        if snap["properties"].get("resolution") == "additive":
            raise ValueError("additive tables have no branch path (use merge_add)")
        return {
            "name": self.name,
            "uid": uuid.uuid4().hex,
            "parent_version": snap["version"],
            "file_groups": [],
            "properties": {},
            "commits": 0,
        }

    # ---------------------------------------------------------------- write

    def merge(
        self,
        source: DataFrame,
        seq_col: str = "lsn",
        op_col: str = "op",
        batch_id: int | None = None,
        mode: str = "overwrite",
        writer_id: str | None = None,
    ) -> MergeStats:
        """Stage a (pre-deduped) CDC batch on the branch — merge semantics
        as ``LakeTable.merge`` on a MOR table, invisible to main readers
        until ``publish()``. Fencing is BRANCH-SCOPED (the branch owns
        its batch-id sequence; fences max-fold into main at publish) —
        see the inline note below for how sequences that continue main's
        get parent-aware fencing."""
        state = self._state()
        # BRANCH-SCOPED fence by design: a branch owns its batch-id
        # sequence, and its fences move to main (max-folded) only at
        # publish. A caller whose sequence CONTINUES main's — the WAP
        # driver flow — gets parent-aware fencing for free by driving
        # CDCApplyJob at the branch (apply_batch checks
        # snapshot()["properties"], and Branch.snapshot() overlays the
        # pinned parent's fences); a direct Branch.merge caller sharing
        # main's namespace across both sinks must pass a distinct
        # writer_id, same as two log partitions on main.
        if is_fenced(state["properties"], batch_id, writer_id):
            return MergeStats(batch_id, state["parent_version"], 0, 0, 0, fenced=True)
        parent = self.table.snapshot(state["parent_version"])
        coalesce = mode == "coalesce"
        source = self.table._align_source_types(source, parent)
        delta, obs = self.table._build_mor_delta(source, parent, seq_col, op_col, coalesce)
        groups = self.table._stage_groups(delta, parent["schema_version"], coalesce)
        if not groups:
            return MergeStats(batch_id, state["parent_version"], 0, 0, 0)
        got = obs.get
        for g in groups:
            g["sub"] = state["commits"] + 1  # intra-branch commit order
        state["file_groups"].extend(groups)
        state["commits"] += 1
        if batch_id is not None:
            state["properties"][fence_key(writer_id)] = batch_id
        self._save(state)
        return MergeStats(
            batch_id,
            state["parent_version"],
            int(got["upserts"] or 0),
            int(got["deletes"] or 0),
            len(groups),
        )

    # ------------------------------------------------- duck-typed sink seam

    def snapshot(self, version: int | None = None) -> dict:
        """The branch's would-be snapshot: pinned parent + staged groups,
        with the branch's fence properties overlaid. This makes a Branch a
        drop-in SINK for :class:`~french_admin_etl_spark.streaming.apply.
        CDCApplyJob` (which only calls ``snapshot()``/``merge()``/
        ``evolve()``) — the driver-level WAP flow: run the real apply
        job against the branch, audit, publish."""
        if version is not None:
            raise ValueError("branches have no version history; time-travel the table")
        state = self._state()
        snap = self._synthetic_snapshot(state)
        props = dict(snap["properties"])
        props.update(state["properties"])
        snap["properties"] = props
        return snap

    def evolve(self, ops) -> int:
        raise ValueError(
            "schema evolution cannot be staged on a branch — publish (or "
            "drop), evolve on main, then re-branch; a mid-branch evolution "
            "would fork the schema lineage the publish rebase relies on"
        )

    # ----------------------------------------------------------------- read

    def _synthetic_snapshot(self, state: dict) -> dict:
        snap = self.table.snapshot(state["parent_version"])
        staged = [dict(g, seq=state["parent_version"] + 1) for g in state["file_groups"]]
        snap["file_groups"] = snap["file_groups"] + staged
        return snap

    def read(self) -> DataFrame:
        """The would-be state: parent snapshot + staged groups, resolved
        through the normal MOR read path. This is what the audit sees and
        exactly what publish makes visible (over the pinned parent)."""
        state = self._state()
        snap = self._synthetic_snapshot(state)
        logical = [
            f["name"] for f in snap["schemas"][str(snap["schema_version"])]["fields"]
        ]
        return (
            self.table.read_raw(snapshot_dict=snap)
            .filter(~F.col("_deleted"))
            .select(*logical)
        )

    # -------------------------------------------------------------- publish

    def publish(self, audit=None) -> int:
        """Atomically make every staged commit visible on main.

        ``audit`` — optional callable receiving the branch ``read()``
        DataFrame; any exception aborts the publish with the branch (and
        main) untouched. Returns the new main version (or the current one
        for an empty/already-published branch). Idempotent: the branch
        uid is recorded in main's properties inside the SAME commit, so a
        crash between commit and branch-file cleanup replays as cleanup."""
        if not self.exists():
            raise ValueError(f"no branch {self.name!r}")
        state = self._load()
        pub_key = f"branch.published.{self.name}"
        if not state["file_groups"]:
            os.unlink(self._path)
            return self.table.current_version()
        if audit is not None:
            audit(self.read())

        parent_nb = self.table.snapshot(state["parent_version"])["num_buckets"]
        for attempt in range(10):
            snap = self.table.snapshot()
            if snap["properties"].get(pub_key) == state["uid"]:
                # published by a previous (crashed) attempt: just clean up
                os.unlink(self._path)
                return snap["version"]
            if snap["num_buckets"] != parent_nb:
                raise ValueError(
                    "table was rebucketed under the open branch; staged files "
                    "route by the old bucket hash — drop the branch and re-stage"
                )
            groups = [dict(g, seq=snap["version"] + 1) for g in state["file_groups"]]
            props = dict(snap["properties"])
            for k, v in state["properties"].items():
                cur = props.get(k)
                props[k] = v if cur is None else max(cur, v)
            props[pub_key] = state["uid"]
            new = dict(snap)
            new.update(
                version=snap["version"] + 1,
                file_groups=sorted(snap["file_groups"] + groups, key=lambda g: g["bucket"]),
                properties=props,
                parent=snap["version"],
            )
            try:
                self.table._commit(new)
                break
            except CommitConflict:
                if attempt == 9:
                    raise
        os.unlink(self._path)
        return new["version"]

    def drop(self) -> None:
        """Abandon the branch: staged files become orphans for the
        age-guarded ``vacuum_orphans``."""
        if self.exists():
            os.unlink(self._path)
