"""FK-ordered multi-table CDC apply: one log, many tables, one DAG.

The reference's pipeline is itself a small DAG: ``cmd/main.go:110-120``
loads regions, then departments, then communes, because each child table
declares an FK to its parent (``migrations/000003:28,63-65``) and loading
out of order would violate it. The engine generalizes this to a job-level
operator: a :class:`DagApplyJob` owns one :class:`CDCApplyJob` per table
plus the FK edges between them, and applies each LSN window of a shared
multi-table envelope log (:mod:`..sources.envelope_log`) to every table in
**topological order** — parents always COMMIT before the children that
reference them, so crash states and window boundaries never show a child
ahead of its parent.

Exactly-once: each table's merges are fenced under its own writer
namespace ``<writer_id>.<table>``. A crash after table k of a window has
committed but before the window checkpoint advances replays the whole
window — tables 1..k fence to no-ops, tables k+1.. apply, and the stream
converges with no double-apply and no gap. One checkpoint therefore
covers the whole DAG.

Per-window cost: ONE combined scan collects every table's op counts and
schema markers. Each table then runs the same per-table pipeline as the
single-table drivers, :class:`CDCApplyJob`'s, split in its two halves:
every present table's ``stage`` (validate, dedup, delta stage write —
the distributed jobs) runs CONCURRENTLY in driver threads, and only the
``commit`` halves (driver-side metadata writes plus the audit sinks) run
sequentially in FK order. Stage order is free because staged files are
invisible until their commit; commit order is what the integrity
contract needs. A window that carries a SCHEMA event for an owned table
runs ``apply_batch`` per table instead, which splits each table's window
at its evolution points.

FK gates (both broadcast-shaped — the parent/probe side of every join is
the small side, so at 100 TB these are map-side filters, never shuffles):

- **per-window** (default): the child table's LIVE rows for the keys the
  window touched are anti-joined against the parent table AFTER the
  window applied (post-merge state — immune to superseded/stale/replayed
  events); parent deletes are cross-checked against surviving children.
  All edges' checks union into ONE Spark job per window.
- **deep** (:meth:`DagApplyJob.deep_fk_check`): the e2e gate — every
  child ROW against its parent table, the assertable form of the
  declarative constraint. O(child tables); run on demand, not per window.

The per-window gate runs in one of two placements (``gate=``):

- ``'post'`` (default): apply, then check — the gate DETECTS; a
  violating window's rows are briefly visible even under 'halt'. With
  ``on_violation='halt'`` the gate raises and the checkpoint does NOT
  advance (a poison window re-raises on every rerun until an operator
  repairs upstream); ``'record'`` logs the violation into the
  ``WindowResult`` and advances so the stream keeps flowing, with
  ``deep_fk_check`` as the audit.
- ``'pre'`` (round 4 — write-audit-publish semantics without branch
  files): a SCHEMA-free window already separates staging from
  committing, so its staged-but-uncommitted file groups ARE an implicit
  WAP branch.
  The gate runs between the two, against SYNTHETIC snapshots (current
  state + staged groups — exactly the state the commits would publish),
  and the commits happen only if every edge is clean. The gate
  PREVENTS: 'halt' raises with main untouched (staged files go to the
  age-guarded vacuum); 'record' QUARANTINES the window — skipped
  wholesale, violation recorded, stream advances (rewind the checkpoint
  to reprocess after repairing upstream). Sequential-path windows
  (SCHEMA events) still gate post-commit.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field
from graphlib import CycleError, TopologicalSorter

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from french_admin_etl_spark.operators.dim_join import fk_orphans
from french_admin_etl_spark.sources.envelope_log import MultiTableLog
from french_admin_etl_spark.streaming.apply import BatchResult, CDCApplyJob, StagedBatch
from french_admin_etl_spark.streaming.checkpoint import CheckpointStore

# concurrent stage writes per SCHEMA-free window
_MAX_STAGE_THREADS = 8


@dataclass
class FKEdge:
    """child.fk_col references parent.parent_key (NULL FKs are legal)."""

    child: str
    fk_col: str
    parent: str
    parent_key: str


@dataclass
class WindowResult:
    batch_id: int
    lo: int
    hi: int
    tables: dict[str, BatchResult] = field(default_factory=dict)
    violations: list[str] = field(default_factory=list)
    gate_ms: float = 0.0


class FKViolation(AssertionError):
    pass


class DagApplyJob:
    def __init__(
        self,
        jobs: dict[str, CDCApplyJob],
        edges: list[FKEdge],
        writer_id: str = "dag",
        fk_check: bool = True,
        on_violation: str = "halt",
        gate: str = "post",
        fk_indexes: dict | None = None,
        quarantine_dir: str | None = None,
    ):
        """``on_violation``: 'halt' (default) raises :class:`FKViolation`
        and leaves the checkpoint behind the window (poison windows
        re-raise on every rerun — loud, operator-visible); 'record' logs
        the violation into ``WindowResult.violations`` and advances, so a
        poison window cannot wedge the stream.

        ``gate``: WHEN the FK gate runs relative to the window's commits.

        - ``'post'`` (default): apply, then check — the gate DETECTS; a
          violating window's rows are briefly visible even under 'halt'.
        - ``'pre'`` (write-audit-publish semantics): a SCHEMA-free
          window's staged-but-uncommitted file groups ARE an implicit WAP branch,
          so the gate runs against SYNTHETIC snapshots (current state +
          staged groups — exactly what the commits would publish) and
          the commits happen only if every edge is clean. The gate
          PREVENTS: under 'halt' a poison window never becomes visible
          (staged files are reclaimed by the age-guarded vacuum); under
          'record' the whole window is QUARANTINED — skipped entirely,
          good rows included, violation recorded — and the stream
          advances (rewind the checkpoint to reprocess after repairing
          upstream). Windows that fall back to the sequential path
          (SCHEMA events) gate post-commit.

        ``fk_indexes``: ``{(child, fk_col): (SecondaryIndex, CheckpointStore)}``
        — opt-in scale path for the gate's parent-delete leg (the lake
        analog of the btree Postgres plants under the reference's FK
        constraints, ``migrations/000003_create_base_tables_ref_admin.up
        .sql:28,63-65`` — there the database probes an index on delete;
        here the engine maintains and probes its own). Without an
        index, checking that a deleted parent key left no referrers
        requires scanning the WHOLE child table each delete window (the
        referrers can live in any bucket — the child is bucketed by its
        own key, not the FK). With a :class:`SecondaryIndex` over the FK
        column, the leg instead probes the narrow, CDC-maintained index
        for candidate referrer keys and verifies exactly those keys
        against the live child via the keyed read — O(index-narrow-scan +
        candidates), never the child's full width. The gate keeps the
        index fresh itself: one cascade sync per gated window per index
        (O(changed rows), fenced, resync-on-folded-window — all cascade
        semantics), so the probe is always consistent with the state the
        gate asserts over.

        ``quarantine_dir``: durable store for windows QUARANTINED by
        ``gate='pre', on_violation='record'`` — one small JSON record per
        skipped window (batch_id, LSN bounds, violations). Without it the
        quarantine is only visible on the in-memory ``WindowResult`` and
        draining means hand-rewinding the checkpoint;
        :meth:`requeue_quarantined` replays the recorded windows after
        upstream repair."""
        if on_violation not in ("halt", "record"):
            raise ValueError("on_violation must be 'halt' or 'record'")
        if gate not in ("post", "pre"):
            raise ValueError("gate must be 'post' or 'pre'")
        self.jobs = jobs
        self.edges = edges
        self.writer_id = writer_id
        self.fk_check = fk_check
        self.on_violation = on_violation
        self.gate = gate
        self.quarantine_dir = quarantine_dir
        # Gate cost model: key-filtering a parent probe below its MOR
        # resolution only pays when the parent is LARGE — the filter costs
        # an extra materialization job (the window's referenced values must
        # be a SMALL CONCRETE frame before they can ride a broadcast; an
        # unmaterialized child subtree nested inside the parent's plan
        # re-evaluates the child probe per leg and blows the optimizer up
        # combinatorially, measured: the 4-window bench DAG went 24 s ->
        # stuck >10 min when the probe subtree was inlined). Parents whose
        # live physical rows (from snapshot metadata, free) are under this
        # threshold resolve whole — a sub-second single job. Tests set 0 to
        # force the key-filtered path.
        self.gate_keyfilter_min_rows = 2_000_000
        for e in edges:
            for t in (e.child, e.parent):
                if t not in jobs:
                    raise ValueError(f"FK edge references unknown table {t!r}")
        self.fk_indexes = dict(fk_indexes or {})
        # introspection for tests/ops: which path the last gate's delete
        # legs took, {(child, fk_col): 'index' | 'scan'}
        self.last_gate_delete_paths: dict = {}
        edge_pairs = {(e.child, e.fk_col) for e in edges}
        for pair, (idx, _ck) in self.fk_indexes.items():
            if pair not in edge_pairs:
                raise ValueError(f"fk_indexes key {pair!r} matches no FK edge")
            if pair[1] not in idx.columns:
                raise ValueError(
                    f"index for {pair!r} does not cover column {pair[1]!r}"
                )
            if idx.source.root != jobs[pair[0]].table.root:
                raise ValueError(
                    f"index for {pair!r} is not built over table {pair[0]!r}"
                )
        self.order = self._topo_order()

    def _topo_order(self) -> list[str]:
        """Parents before children; ties broken by name for determinism."""
        ts = TopologicalSorter({t: set() for t in self.jobs})
        for e in self.edges:
            ts.add(e.child, e.parent)
        try:
            ts.prepare()
        except CycleError as exc:
            raise ValueError(f"FK graph has a cycle: {exc.args[1]}") from exc
        order: list[str] = []
        while ts.is_active():
            ready = sorted(ts.get_ready())
            order.extend(ready)
            ts.done(*ready)
        return order

    # ------------------------------------------------------------ per window

    def _parse_schema(self, name: str, markers: list) -> T.StructType:
        """Payload parse schema for this window: the table's current
        logical columns, EXTENDED with columns that SCHEMA events inside
        the window are about to add or rename — an event after the
        mid-window evolution already carries the new key in its JSON, and
        parsing with only the pre-window schema would silently drop it.
        (Old names are kept too: pre-rename events still use them.)
        ``markers`` are this table's SCHEMA rows, pre-collected once for
        the whole window by :meth:`apply_window`."""
        import json

        snap = self.jobs[name].table.snapshot()
        fields = {
            f["name"]: T.StructField.fromJson(f)
            for f in snap["schemas"][str(snap["schema_version"])]["fields"]
            if f["name"] != "content_sha"  # derived, never in the payload
        }
        for m in sorted(markers, key=lambda r: r["lsn"]):
            p = json.loads(m["props"])
            if p["action"] == "add_column":
                fields[p["name"]] = T.StructField(
                    p["name"], T._parse_datatype_string(p["type"]), True
                )
            elif p["action"] == "widen":
                fields[p["name"]] = T.StructField(
                    p["name"], T._parse_datatype_string(p["type"]), True
                )
            elif p["action"] == "rename_column":
                old = fields.get(p["from"])
                if old is not None:
                    fields[p["to"]] = T.StructField(p["to"], old.dataType, True)
                elif p["to"] in fields:
                    # crash replay AFTER the evolve already applied: the
                    # current snapshot carries only the NEW name, so
                    # indexing fields[from] raised KeyError and wedged the
                    # stream on every rerun (review finding). Re-expose the
                    # OLD name for the window's pre-rename events — their
                    # epochs are fenced, but they must still PARSE.
                    fields[p["from"]] = T.StructField(
                        p["from"], fields[p["to"]].dataType, True
                    )
                else:
                    raise ValueError(
                        f"rename_column {p['from']!r}->{p['to']!r}: neither "
                        f"name exists in table {name!r}'s schema"
                    )
        return T.StructType(list(fields.values()))

    def apply_window(
        self,
        window: DataFrame,
        batch_id: int,
        lo: int,
        hi: int,
        fence_ns: str | None = None,
    ) -> WindowResult:
        """Apply one envelope window to every table in FK order, then gate.

        Driver cost is O(tables WITH events in the window), not O(all
        tables): one distinct scan finds the tables present and one pushed
        filter collects every table's SCHEMA markers, then absent tables
        are skipped entirely (no per-table jobs, no fence advance — a
        replay re-skips them identically). With hundreds of tables sharing
        one binlog, most windows touch a handful; this keeps the per-window
        scheduler cost proportional to actual work.

        ``fence_ns`` — fence namespace prefix; defaults to ``writer_id``.
        Drivers with INDEPENDENT batch-id sequences must pass distinct
        namespaces or one driver's replays would fence out the other's
        fresh windows (see :meth:`run_stream`)."""
        ns = fence_ns or self.writer_id
        res = WindowResult(batch_id, lo, hi)
        we_cached = window.is_cached
        if not we_cached:
            window = window.persist()
        try:
            # ONE combined scan: per-(table, op) counts AND every table's
            # SCHEMA marker rows ride the same aggregation (collect_list
            # skips the nulls the when() leaves on data rows) — presence,
            # delete presence, gate applicability, per-table event counts,
            # and the evolution markers, all from a single job. A shared
            # binlog may carry events for tables this DAG doesn't own —
            # they are skipped below like un-owned data events.
            scan = (
                window.groupBy("table", "op")
                .agg(
                    F.count("*").alias("n"),
                    F.collect_list(
                        F.when(F.col("op") == "SCHEMA", F.struct("lsn", "props"))
                    ).alias("schema_rows"),
                )
                .collect()
            )
            ops: dict[tuple[str, str], int] = {(r["table"], r["op"]): r["n"] for r in scan}
            present = {t for (t, _op) in ops}
            markers: dict[str, list] = {name: [] for name in self.jobs}
            for r in scan:
                if r["op"] == "SCHEMA" and r["table"] in self.jobs:
                    markers[r["table"]].extend(r["schema_rows"])
            typed: dict[str, DataFrame] = {}
            # a SCHEMA-free window — the shape of virtually every
            # steady-state window (evolutions are rare) — stages all its
            # tables at once; the others split at their evolution points
            schema_free = not any(markers[name] for name in self.order if name in present)
            gate_buckets: dict[str, list[int]] = {}
            gated = False
            if schema_free:
                gated = self._apply_window_staged(
                    window, present, ops, batch_id, ns, res, typed, gate_buckets
                )
            else:
                for name in self.order:
                    if name not in present:
                        continue
                    job = self.jobs[name]
                    typed[name] = MultiTableLog.for_table(
                        window, name, self._parse_schema(name, markers[name])
                    )
                    res.tables[name] = job.apply_batch(
                        typed[name], batch_id, fence_writer=f"{ns}.{name}"
                    )
            if self.fk_check and not gated:
                g0 = time.monotonic()
                try:
                    self._check_window(typed, ops, gate_buckets)
                except FKViolation as exc:
                    if self.on_violation == "halt":
                        raise
                    res.violations.append(str(exc))
                finally:
                    # fractional ms: int() truncation made a sub-ms gate
                    # read 0 and flake the >0 observability assertion
                    res.gate_ms = (time.monotonic() - g0) * 1000
        finally:
            if not we_cached:
                window.unpersist()
        return res

    def _apply_window_staged(
        self,
        window: DataFrame,
        present: set,
        ops: dict[tuple[str, str], int],
        batch_id: int,
        ns: str,
        res: WindowResult,
        typed: dict[str, DataFrame],
        gate_buckets: dict[str, list[int]],
    ) -> bool:
        """SCHEMA-free window: stage every present table concurrently,
        gate, commit in FK order.

        Each table's :meth:`CDCApplyJob.stage` (validate → normalize →
        dedup → delta stage write, the distributed jobs) runs in its own
        driver thread — the stage writes are independent (distinct tables,
        distinct staging dirs, invisible until commit), so overlapping
        them collapses the window's fixed per-job cost from sum(tables) to
        ~max(tables). :meth:`CDCApplyJob.commit` is driver-side metadata
        plus the audit writes and runs SEQUENTIALLY in topological order,
        preserving the contract that a crash state never shows a child
        ahead of its parent. Fences, audit sinks and crash replays are the
        job's own, identical to ``apply_batch`` on a one-epoch batch.

        With ``gate='pre'`` the FK gate runs HERE, between staging and
        the commits, against each staged merge's would-be snapshot: a
        violating window never commits (halt raises; record quarantines
        the window and advances). Returns True when the gate already ran
        (so ``apply_window`` must not gate again)."""
        names = [name for name in self.order if name in present]
        for name in names:
            typed[name] = MultiTableLog.for_table(
                window, name, self._parse_schema(name, [])
            )
        staged: dict[str, StagedBatch] = {}
        errors: dict[str, BaseException] = {}
        sem = threading.Semaphore(_MAX_STAGE_THREADS)

        def run(name: str) -> None:
            n_events = sum(n for (t, _op), n in ops.items() if t == name)
            with sem:
                try:
                    staged[name] = self.jobs[name].stage(
                        typed[name], batch_id, n_events, fence_writer=f"{ns}.{name}"
                    )
                except BaseException as e:  # surfaced after join()
                    errors[name] = e

        threads = [threading.Thread(target=run, args=(n,), daemon=True) for n in names]
        try:
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            if errors:
                # staged files of the non-failing tables become orphans —
                # age-thresholded vacuum reclaims them, and the window replays
                name, exc = next(iter(errors.items()))
                raise RuntimeError(f"stage failed for table {name!r}") from exc

            # a fully replayed window has nothing staged: it gates post-commit
            pre = self.gate == "pre" and self.fk_check and any(
                st.replayed is None for st in staged.values()
            )
            if pre:
                # WAP semantics: gate the WOULD-BE state (each staged
                # merge's snapshot plus its groups, exactly what the
                # commits publish) BEFORE any commit. On violation nothing
                # was published: halt raises the window away (staged files
                # -> age-guarded vacuum), record quarantines it (skipped
                # wholesale, violation on the result).
                merges = {n: st.merge for n, st in staged.items() if st.merge is not None}
                g0 = time.monotonic()
                try:
                    self._check_window(
                        typed,
                        ops,
                        {n: m.buckets for n, m in merges.items()},
                        {n: m.snapshot() for n, m in merges.items()},
                    )
                except FKViolation as exc:
                    if self.on_violation == "halt":
                        raise
                    res.violations.append(str(exc))
                    for name, st in staged.items():
                        # quarantined: nothing committed, nothing fenced —
                        # the result row says so (merge=None)
                        res.tables[name] = st.replayed or BatchResult(
                            batch_id, st.n_events, st.n_rejects, None, 0,
                            int(st.stage_s * 1000),
                        )
                    self._record_quarantine(res)
                    return True
                finally:
                    res.gate_ms = (time.monotonic() - g0) * 1000

            for name in names:
                st = staged[name]
                res.tables[name] = self.jobs[name].commit(st)
                if st.merge is not None:
                    # the committed buckets ARE the buckets the window's
                    # keys hash to — the FK gate prunes its child probe
                    # to them
                    gate_buckets[name] = st.merge.buckets
            return pre
        finally:
            for st in staged.values():
                st.release()

    def _check_window(
        self,
        typed: dict[str, DataFrame],
        ops: dict[tuple[str, str], int] | None = None,
        gate_buckets: dict[str, list[int]] | None = None,
        synthetic: dict[str, dict] | None = None,
    ) -> None:
        """Referential gate scoped to THIS window's events, fused into ONE
        Spark job: every applicable edge leg contributes a ≤5-row tagged
        violation sample and the legs union into a single collect — the
        per-window gate cost is one job regardless of edge count, not two
        jobs per edge. ``ops`` — per-(table, op) counts precomputed by
        :meth:`apply_window` — lets legs with provably nothing to check
        contribute no plan at all.

        The gate checks what the window actually LEFT IN THE TABLE, not
        the raw events: checking raw (or even folded) EVENTS
        false-positives whenever the table is ahead of the event — a
        superseded U in a delete-children-then-parent cascade, a stale
        event the LSN guard rejected, or a whole replayed window during a
        convergent re-apply (reviewer findings, rounds 3+3cont).
        Post-merge state is the invariant the DAG promises, so it is also
        the thing to assert. Every leg is broadcast-shaped: touched keys /
        deleted keys are the small probe side.

        ``synthetic`` (gate='pre'): per-table synthetic snapshots — the
        current snapshot PLUS the window's staged-but-uncommitted file
        groups. Every read below then sees the WOULD-BE published state,
        so the same assertion prevents instead of detects."""

        # keep configured FK indexes fresh BEFORE planning any leg: one
        # cascade sync per index per gated window — O(changed rows),
        # fenced, falls back to full resync on a folded window (cascade
        # semantics), and a pure metadata no-op when the child hasn't
        # committed since the last sync. The sync runs UNCONDITIONALLY —
        # not only when the child has events in this window: under
        # gate='pre' the sync sees only COMMITTED state (this window's
        # child commits are still staged), so the index is brought up to
        # date by the NEXT window's gate — which may be a delete-only
        # window with no child events at all (reviewer finding: the
        # child-presence condition left the index one window behind
        # forever and a delete-only window then passed orphaning deletes
        # the scan path would have caught). gate='post': index covers
        # this window too. Either way the candidate union below is a
        # superset of every possible live referrer, and the keyed verify
        # read prunes it exactly.
        for (_child, _fk), (idx, ck) in self.fk_indexes.items():
            idx.sync(ck)
        self.last_gate_delete_paths = {}

        def has(table: str, *which: str) -> bool:
            return ops is None or any((table, op) in ops for op in which)

        def live(
            job: CDCApplyJob, name: str, key_filter: DataFrame | None = None
        ) -> DataFrame:
            synth = (synthetic or {}).get(name)
            if synth is None and key_filter is None:
                return job.table.read()
            snap = synth if synth is not None else job.table.snapshot()
            logical = [
                f["name"]
                for f in snap["schemas"][str(snap["schema_version"])]["fields"]
            ]
            return (
                job.table.read_raw(snapshot_dict=synth, key_filter=key_filter)
                .filter(~F.col("_deleted"))
                .select(*logical)
            )

        def parent_probe(
            e: FKEdge, ref_vals: DataFrame, materialize: bool
        ) -> DataFrame:
            """The parent side of a gate leg, restricted to the window's
            referenced values. Returns ``(frame, broadcastable)`` —
            broadcastable is False only for the large composite-keyed /
            non-key-referencing fallback, which must shuffle-join. When the FK targets the parent's key (the
            reference's FK shape, and the overwhelmingly common one) AND
            the parent is large, the referenced values ride BELOW the
            parent's MOR resolution via ``key_filter`` — the gate resolves
            O(window) parent keys, never the whole parent table (a
            dimension can be 10^8 rows at 100 TB; a superset of referenced
            keys is sound: extra parent keys resolve and the anti-join
            ignores them). Small parents (physical rows from snapshot metadata
            under ``gate_keyfilter_min_rows``), composite-keyed, and
            non-key-referencing parents keep the full live read — resolving
            a small dimension whole is one cheap job, cheaper than the
            filter's own setup. The size estimate is PHYSICAL rows from
            snapshot metadata (for MOR that counts tombstones and
            superseded delta rows too, so a heavily-deleted small parent
            can be overcounted into the key-filter path — sound either
            way, the threshold only picks the cheaper plan).

            ``materialize`` — True when ``ref_vals`` is a non-trivial plan
            (the insert leg derives it from the child's own keyed MOR
            probe): it must become a small CONCRETE frame (localCheckpoint)
            before riding the parent's broadcast, or the child probe
            subtree is inlined — and re-evaluated — inside the parent's
            plan, which measurably wedges the optimizer at real window
            counts. The delete leg's values come from the persisted window
            frame and skip the extra job."""
            pjob = self.jobs[e.parent]
            psnap = (synthetic or {}).get(e.parent) or pjob.table.snapshot()
            physical_rows = sum(g.get("rows", 0) for g in psnap["file_groups"])
            small = physical_rows < self.gate_keyfilter_min_rows
            if psnap["key_cols"] != [e.parent_key] or small:
                # full live read; the second element says whether this
                # side may ride a broadcast — a LARGE composite-keyed /
                # non-key-referencing parent must shuffle-join instead
                # (broadcasting a 10^8-key dimension fails the driver —
                # review finding)
                return live(pjob, e.parent), small
            kf = ref_vals.select(F.col(ref_vals.columns[0]).alias(e.parent_key))
            if materialize:
                kf = kf.localCheckpoint(eager=True)
            # key-filtered to the window's referenced values → window-sized
            return live(pjob, e.parent, key_filter=F.broadcast(kf)), True

        def tagged(df: DataFrame, violation: str) -> DataFrame:
            return df.limit(5).select(
                F.lit(violation).alias("violation"),
                F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("sample"),
            )

        legs: list[DataFrame] = []
        for e in self.edges:
            child_job, parent_job = self.jobs[e.child], self.jobs[e.parent]
            if e.child in typed and has(e.child, "I", "U"):
                # the child's live rows for the keys this window touched,
                # against the parent's post-window state. O(window) twice
                # over: the probe reads only the buckets the window staged
                # into (``gate_buckets``), and the touched keys are pushed
                # BELOW the MOR resolution aggregate (``key_filter``), so
                # the resolution shuffle moves the touched keys' physical
                # rows, never the whole child table.
                touched = (
                    typed[e.child]
                    .filter(F.col("op").isin("I", "U"))
                    .select(*child_job.keys)
                    .distinct()
                )
                csnap = child_job.table.snapshot()
                lcols = [
                    f["name"]
                    for f in csnap["schemas"][str(csnap["schema_version"])]["fields"]
                ]
                child_live = (
                    child_job.table.read_raw(
                        buckets=(gate_buckets or {}).get(e.child),
                        key_filter=F.broadcast(touched),
                        snapshot_dict=(synthetic or {}).get(e.child),
                    )
                    .filter(~F.col("_deleted"))
                    .select(*lcols)
                )
                refs = child_live.filter(F.col(e.fk_col).isNotNull())
                # ref values must come from the POST-MERGE child state (refs),
                # not the raw events: a stale window whose events all lost to
                # pre-window rows would otherwise miss the live fk values and
                # false-positive. The O(window) probe subtree appears twice in
                # the one gate job — still no full-table work anywhere.
                probe, bcast = parent_probe(
                    e, refs.select(e.fk_col).distinct(), materialize=True
                )
                legs.append(
                    tagged(
                        fk_orphans(
                            refs,
                            probe,
                            e.fk_col,
                            e.parent_key,
                            broadcast_dim=bcast,
                        ),
                        f"window events of {e.child}.{e.fk_col} reference missing "
                        f"{e.parent}.{e.parent_key}",
                    )
                )
            if e.parent not in typed or not has(e.parent, "D"):
                continue  # parent absent or delete-free -> nothing to orphan
            # parent deletes that actually survived (no later reinsert in
            # the window) must leave no child rows behind
            deleted = (
                typed[e.parent]
                .filter(F.col("op") == "D")
                .select(F.col(e.parent_key).alias(e.fk_col))
                .distinct()
            )
            # liveness of exactly the deleted keys — same key_filter
            # restriction as the insert leg's parent probe
            still_absent = deleted.join(
                parent_probe(e, deleted, materialize=False)[0].select(
                    F.col(e.parent_key).alias(e.fk_col)
                ),
                [e.fk_col],
                "left_anti",
            )
            idx_entry = self.fk_indexes.get((e.child, e.fk_col))
            if idx_entry is not None:
                # index path: candidate referrer keys = narrow-index hits
                # for the deleted values ∪ every key this window touched
                # (intra-window FK changes are not yet in the index under
                # gate='pre'; under 'post' the union is redundant but
                # harmless — superset-then-verify). The union is
                # MATERIALIZED before riding the keyed read's broadcast
                # (same rule as parent_probe: concrete frames only).
                idx, _ck = idx_entry
                ckeys = self.jobs[e.child].keys
                cands = idx.search_in(e.fk_col, deleted)
                if e.child in typed:
                    cands = cands.unionByName(
                        typed[e.child]
                        .filter(F.col("op").isin("I", "U"))
                        .select(*ckeys)
                    )
                cands = cands.distinct().localCheckpoint(eager=True)
                referrers = live(
                    child_job, e.child, key_filter=F.broadcast(cands)
                )
                self.last_gate_delete_paths[(e.child, e.fk_col)] = "index"
            else:
                referrers = live(child_job, e.child)
                self.last_gate_delete_paths[(e.child, e.fk_col)] = "scan"
            legs.append(
                tagged(
                    referrers.filter(F.col(e.fk_col).isNotNull())
                    .join(F.broadcast(still_absent), [e.fk_col], "left_semi"),
                    f"deleting {e.parent} rows orphaned {e.child} rows via {e.fk_col}",
                )
            )
        if not legs:
            return
        out = legs[0]
        for leg in legs[1:]:
            out = out.unionByName(leg)
        found = out.collect()
        if found:
            raise FKViolation(
                "; ".join(f"{r['violation']}; sample: {r['sample']}" for r in found)
            )

    def _record_quarantine(self, res: WindowResult) -> None:
        """Persist a quarantined window's identity so it can be drained
        later — atomic single-file write (tmp + rename), one record per
        window; a re-quarantine of the same window overwrites it."""
        if not self.quarantine_dir:
            return
        import json

        os.makedirs(self.quarantine_dir, exist_ok=True)
        path = os.path.join(
            self.quarantine_dir, f"win_{res.batch_id:012d}_{res.lo}_{res.hi}.json"
        )
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "batch_id": res.batch_id,
                    "lo": res.lo,
                    "hi": res.hi,
                    "violations": res.violations,
                    "quarantined_at": time.time(),
                },
                fh,
            )
            # a torn record silently loses the skipped window's replay
            # identity (same fsync-before-rename rule as CheckpointStore)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)

    def quarantined(self) -> list[dict]:
        """The standing quarantine records, oldest window first."""
        import glob
        import json

        if not self.quarantine_dir or not os.path.isdir(self.quarantine_dir):
            return []
        out = []
        for path in sorted(glob.glob(os.path.join(self.quarantine_dir, "win_*.json"))):
            with open(path) as fh:
                rec = json.load(fh)
            rec["_path"] = path
            out.append(rec)
        return out

    def requeue_quarantined(
        self, log: MultiTableLog, repair_where: str | None = None
    ) -> list[WindowResult]:
        """Drain the quarantine: re-apply each recorded window (oldest
        first) after upstream repair. Two repair shapes:

        - **upstream fixed** (``repair_where=None``): later windows
          supplied what the poison window was missing (e.g. the referenced
          parent finally arrived) — the window replays as-is and the gate
          now passes. LSN-guarded merges make the late replay convergent:
          a requeued event can never clobber newer state.
        - **repair predicate**: a SQL boolean over the ENVELOPE columns
          (``lsn ts op table payload schema_version props``); events where
          it is false are DROPPED from the replay — the operator's
          explicit decision to shed the poison rows.

        Fence bump: each requeued window commits under its OWN
        ``<writer_id>.rq<batch_id>`` namespace with its original batch_id
        — the main stream's fences have long advanced past the quarantined
        id, so replaying under the main namespace would fence the whole
        window out as a no-op (silently losing it). The namespace is
        per-WINDOW, not one shared ``.rq``: windows need not drain in
        batch order (a later window's poison can be repaired before an
        earlier one's), and under a shared monotonic namespace an
        out-of-order drain would fence the earlier window's eventual
        replay to no-ops while this method still deleted its record —
        silent loss (round-5 review finding). Per-window namespaces keep
        every drain exactly-once on its own sequence (a crashed drain
        re-runs the same namespace and fences to no-ops). A clean re-apply
        deletes the record; a window that still violates keeps it (and
        re-records under ``on_violation='record'``)."""
        results: list[WindowResult] = []
        for rec in self.quarantined():
            window = log.lsn_range(rec["lo"], rec["hi"])
            if repair_where is not None:
                window = window.filter(F.expr(repair_where))
            res = self.apply_window(
                window,
                rec["batch_id"],
                rec["lo"],
                rec["hi"],
                fence_ns=f"{self.writer_id}.rq{rec['batch_id']}",
            )
            results.append(res)
            if not res.violations:
                os.remove(rec["_path"])
        return results

    def deep_fk_check(self, use_indexes: bool = False) -> dict[str, int]:
        """Whole-table FK audit (the reference's declarative constraint as
        an assertion): orphan count per edge; raises on any violation.

        ``use_indexes=True``: edges with a configured FK index audit the
        INDEX's (key, fk) projection instead of the full-width child read
        — at a wide 100-TB child that is the difference between scanning
        a few columns and the whole table. The index is synced first
        (O(changed rows)), and the audit then trusts the maintained index
        to mirror the child — exactly-once cascade semantics, with the
        index-mirrors-live property separately asserted in tests. The
        default (False) audits the table itself with no structural trust.
        Edges without an index always take the full read."""
        counts = {}
        for e in self.edges:
            idx_entry = self.fk_indexes.get((e.child, e.fk_col)) if use_indexes else None
            if idx_entry is not None:
                idx, ck = idx_entry
                idx.sync(ck)
                child_side = idx.table.read()
            else:
                child_side = self.jobs[e.child].table.read()
            psnap = self.jobs[e.parent].table.snapshot()
            parent_rows = sum(g.get("rows", 0) for g in psnap["file_groups"])
            n = fk_orphans(
                child_side,
                self.jobs[e.parent].table.read(),
                e.fk_col,
                e.parent_key,
                # a 10^8-key dimension's distinct key set is multiple GB —
                # broadcast only small parents, shuffle-join the rest
                # (physical-row estimate from snapshot metadata, free)
                broadcast_dim=parent_rows < self.gate_keyfilter_min_rows,
            ).count()
            counts[f"{e.child}.{e.fk_col}->{e.parent}.{e.parent_key}"] = n
        bad = {k: v for k, v in counts.items() if v}
        if bad:
            raise FKViolation(f"FK audit failed: {bad}")
        return counts

    # ---------------------------------------------------------------- driver

    def run_incremental(
        self,
        log: MultiTableLog,
        checkpoint: CheckpointStore,
        batch_lsns: int = 10_000,
        max_batches: int | None = None,
        group_commit: int = 1,
    ) -> list[WindowResult]:
        """LSN-windowed batches over the shared log; ONE checkpoint for the
        whole DAG. Kill it anywhere — mid-window, between tables — and the
        rerun reconverges (per-table fences make replayed merges no-ops).

        ``group_commit`` > 1 is the catch-up throttle (the classic
        group-commit): when the log is BEHIND — more than one window of
        events already landed — up to that many consecutive windows
        coalesce into ONE apply, so the per-window fixed cost (combined
        scan, stage writes, FK gate, commits, index syncs) is paid once
        per GROUP instead of once per window. A caught-up stream (one
        pending window) behaves exactly like ``group_commit=1``; latency
        is only traded where there was already a backlog. Fence safety
        under regrouping: EVERY planned window's upper bound — clamped
        to the log's current end — is PINNED into the checkpoint BEFORE
        the apply (``pending_hi``, the same pending-window protocol as
        ``CascadeJob``), so a crash mid-window replays the IDENTICAL
        window under the same batch_id and the per-table fences hold.
        Without the pin+clamp, a rerun that windowed wider (different
        group_commit, or the log grew past a planned bound) would reuse
        the fenced batch_id and silently skip the never-applied tail —
        the exact data-loss trap the CDC resume contract documents for
        re-windowed replays."""
        if group_commit < 1:
            raise ValueError("group_commit must be >= 1")
        state = checkpoint.load()
        if state is not None and ("next_lsn" not in state or "bounds" in state):
            # e.g. a CDCApplyJob.run_incremental_balanced checkpoint —
            # silently re-windowing a foreign driver's state would crash
            # or replan from LSN 0 (reviewer finding); refuse up front
            raise ValueError(
                "checkpoint was not written by DagApplyJob.run_incremental; "
                "use the driver that owns it (or a fresh checkpoint path)"
            )
        state = state or {"batch_id": 0, "next_lsn": 0}
        results: list[WindowResult] = []
        hi_all = log.max_lsn() + 1
        while state["next_lsn"] < hi_all or "pending_hi" in state:
            if max_batches is not None and len(results) >= max_batches:
                break
            lo = state["next_lsn"]
            if "pending_hi" in state:
                # crash replay: reuse the exact window that was planned
                hi = state["pending_hi"]
            else:
                pending = -(-(hi_all - lo) // batch_lsns)  # ceil
                n = max(1, min(group_commit, pending))
                # clamp to the log's CURRENT end: a recorded bound past
                # hi_all would fold events that ARRIVE LATER into an
                # already-planned (and possibly already-fenced) window —
                # on a crash+growth replay, fenced tables would skip them
                # while unfenced ones applied them (round-5 self-review).
                # Clamped, growth lands at lsn >= hi_all in its own window.
                hi = min(lo + n * batch_lsns, hi_all)
                # pin EVERY planned window, not just groups: the same
                # crash+growth replay must see the IDENTICAL window under
                # the same batch_id for the per-table fences to hold
                state = dict(state, pending_hi=hi)
                checkpoint.save(state)
            window = log.lsn_range(lo, hi)
            results.append(self.apply_window(window, state["batch_id"], lo, hi))
            state = {"batch_id": state["batch_id"] + 1, "next_lsn": hi}
            checkpoint.save(state)
        return results

    def run_stream(
        self,
        log: MultiTableLog,
        checkpoint_dir: str,
        max_files_per_trigger: int = 4,
    ) -> list[WindowResult]:
        """Structured Streaming driver for the whole DAG: foreachBatch over
        the envelope log directory, availableNow trigger (bounded replay).
        Spark's file-source offsets define the micro-batches; each batch is
        applied to every table in FK order, so exactly-once comes from
        Spark offsets + the per-table writer fences (a replayed epoch
        fences every table's merge to a no-op).

        Epoch ids are Spark's own sequence, scoped to ONE stream
        checkpoint dir, so the fence namespace must be too: this driver
        fences under ``<writer_id>.stream.<stream_uid>.<table>``, where
        ``stream_uid`` is minted once per checkpoint dir (persisted in
        ``<dir>/engine_id``). Replays within a checkpoint reuse the uid
        (fences work); a FRESH checkpoint dir gets a fresh uid, so its
        restarted epoch-0 can never be fenced out by a previous stream's
        or driver's fence — the worst case is a convergent, LSN-guarded
        re-apply (reviewer finding: a shared namespace across checkpoint
        dirs silently dropped fresh events when epoch ids restarted).

        Requires the producer to land log segments in LSN order (see
        :meth:`MultiTableLog.read_stream`) so the per-window FK gates see
        parents before children; out-of-order EVENTS inside a segment are
        fine (LSN-guarded merge), out-of-order SEGMENTS are a producer
        bug this driver surfaces as an FKViolation rather than hiding."""
        from french_admin_etl_spark.streaming.checkpoint import stream_fence_uid

        stream_uid = stream_fence_uid(checkpoint_dir)
        results: list[WindowResult] = []

        def handle(df: DataFrame, epoch_id: int) -> None:
            df = df.persist()
            try:
                bounds = df.agg(
                    F.min("lsn").alias("lo"), F.max("lsn").alias("hi")
                ).collect()[0]
                if bounds["lo"] is None:
                    return
                results.append(
                    self.apply_window(
                        df,
                        int(epoch_id),
                        int(bounds["lo"]),
                        int(bounds["hi"]) + 1,
                        fence_ns=f"{self.writer_id}.stream.{stream_uid}",
                    )
                )
            finally:
                df.unpersist()

        q = (
            log.read_stream(max_files_per_trigger)
            .writeStream.foreachBatch(handle)
            .option("checkpointLocation", os.path.join(checkpoint_dir, "stream"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return results
