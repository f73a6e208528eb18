"""The benchmark's workloads. Each drives the engine only through its
public API and returns a :class:`Outcome` for ``run.py`` to report.

- ``tail``: open loop. A producer thread lands LSN-contiguous log
  segments on a fixed schedule into the log of a bootstrapped MOR table,
  the apply loop calls ``CDCApplyJob.run_incremental`` (COALESCE partial
  upserts) to the log's end again and again, and one reader thread
  issues closed-loop ``LakeTable.lookup`` calls on hot keys.
- ``dag``: closed loop. After the dimension tables are bootstrapped, the
  rest of a ``gen_cog_events`` envelope log (region <- department <-
  commune) drains in two windows through ``DagApplyJob`` with
  pre-commit FK gates; hot communes are looked up once it has drained.

Sizes live in ``WORKLOADS``; inputs come only from the seed.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import traceback
from dataclasses import dataclass, field
from functools import reduce

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as papq

from common import (
    backlog_steady,
    compare_state,
    cut_segments,
    dir_bytes,
    drain_time,
    index_state,
    lookup_matches,
    median,
    percentile,
    state_failures,
)

WORKLOADS = {
    # offered rate of the tail producer; it lands ``segments`` segments
    # evenly over the run, so p95 freshness always has >= 10 samples
    # beyond it
    "tail": dict(
        boot_events=6_000, n_keys=4_000, n_repos=40, rate=1_000,
        segments=200, buckets=16, compact_every=3,
        hot_keys=16, keys_per_lookup=4,
    ),
    "dag": dict(
        n_regions=13, n_departments=100, n_communes=12_500, n_updates=100_000,
        windows=2, buckets=8, hot_keys=16, keys_per_lookup=4, lookups=6,
    ),
}

FINAL_READS = 3
SETUP_REPS = 3

EVENT_ARROW = pa.schema([
    ("lsn", pa.int64()), ("ts", pa.timestamp("us")), ("op", pa.string()),
    ("repo", pa.string()), ("path", pa.string()), ("commit", pa.string()),
    ("lang", pa.string()), ("content", pa.string()),
    ("schema_version", pa.int32()), ("props", pa.string()),
])
ENVELOPE_ARROW = pa.schema([
    ("lsn", pa.int64()), ("ts", pa.timestamp("us")), ("op", pa.string()),
    ("table", pa.string()), ("payload", pa.string()),
    ("schema_version", pa.int32()), ("props", pa.string()),
])


@dataclass
class Outcome:
    """What a workload measured. ``attempted``/``failed`` count batches,
    lookups, oracle-compared keys and fence probes."""

    events: int = 0
    apply_wall_s: float = 0.0
    freshness: list[float] = field(default_factory=list)  # one sample per segment (tail) or window (dag)
    freshness_p50_s: float = 0.0
    freshness_p95_s: float = 0.0
    lookups: list[float] = field(default_factory=list)
    final_reads: list[float] = field(default_factory=list)
    setup_reps: list[float] = field(default_factory=list)
    bootstrap_s: float = 0.0  # one-off bootstrap apply after set-up
    data_bytes_written: int = 0
    data_files_written: int = 0
    log_bytes: int = 0
    snapshot_bytes: int = 0
    live_rows: int = 0
    attempted: int = 0
    failed: int = 0
    checks: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    batch_results: list = field(default_factory=list)  # BatchResult per table merge
    lag_samples: list[int] = field(default_factory=list)  # produced - committed LSN, per cycle

    def check(self, name: str, attempted: int, failed: int, **info) -> None:
        self.attempted += attempted
        self.failed += failed
        c = self.checks.setdefault(name, {"attempted": 0, "failed": 0})
        c["attempted"] += attempted
        c["failed"] += failed
        c.update(info)


def land(log_dir: str, name: str, frame: pd.DataFrame, schema: pa.Schema) -> int:
    """Write one log segment under a hidden temp name, then rename it into
    place — readers never see a half-written file. Returns its bytes."""
    tmp = os.path.join(log_dir, f".{name}.tmp")
    papq.write_table(pa.Table.from_pandas(frame, schema=schema, preserve_index=False), tmp)
    final = os.path.join(log_dir, f"{name}.parquet")
    os.rename(tmp, final)
    return os.path.getsize(final)


def snapshot_bytes(table) -> int:
    snap = table.snapshot()
    return sum(
        os.path.getsize(os.path.join(table.root, f))
        for g in snap["file_groups"] for f in g["files"]
    )


def delta_groups(table) -> int:
    return sum(1 for g in table.snapshot()["file_groups"] if g.get("delta"))


def timed_final_reads(table, out: Outcome) -> int:
    """``FINAL_READS`` timed ``read().count()`` calls on the final state."""
    for _ in range(FINAL_READS):
        t0 = time.perf_counter()
        n = table.read().count()
        out.final_reads.append(time.perf_counter() - t0)
    return n


class Reader:
    """``LakeTable.lookup`` calls, each on ``per_call`` keys taken
    round-robin from ``keys``: closed-loop on a thread of their own
    (``start``/``stop``) or one at a time (``lookup_once``). Every call records
    the committed LSN before it (``next_lsn``) and the highest LSN that
    may have committed by its end (``pending_hi``), so it can be checked
    afterwards against the oracle at a commit visible during the call."""

    def __init__(self, spark, table_root: str, keys: list, per_call: int, ck, as_row):
        from french_admin_etl_spark.table.lake_table import LakeTable

        self.spark, self.keys, self.per_call, self.ck, self.as_row = spark, keys, per_call, ck, as_row
        self.table = LakeTable(spark, table_root)  # its own snapshot cache
        self.records: list[tuple] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="reader")

    def _run(self) -> None:
        self.spark.sparkContext.setJobGroup("lookup", "lookup")
        while not self._stop.is_set():
            self.lookup_once()

    def lookup_once(self) -> None:
        i = len(self.records) * self.per_call
        ks = [self.keys[(i + j) % len(self.keys)] for j in range(self.per_call)]
        s0 = self.ck.load() or {"next_lsn": 0}
        t0 = time.perf_counter()
        try:
            rows, err = dict(map(self.as_row, self.table.lookup(ks).collect())), None
        except Exception as exc:  # a failed lookup counts against the run
            traceback.print_exc()
            rows, err = {}, repr(exc)
        dt = time.perf_counter() - t0
        s1 = self.ck.load() or {"next_lsn": 0}
        self.records.append((ks, rows, s0["next_lsn"], max(s1["next_lsn"], s1.get("pending_hi", 0)), dt, err))

    def start(self) -> "Reader":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=120)

    def check(self, state_at, bounds: list[int], out: "Outcome") -> None:
        """``state_at(b)``: the oracle's ``{key: column tuple}`` for the
        events below committed boundary ``b``."""
        states: dict[int, dict] = {}
        for ks, rows, c0, c1, dt, err in self.records:
            out.lookups.append(dt)
            cands = [b for b in bounds if c0 <= b <= c1] or [c0]
            for b in cands:
                if b not in states:
                    states[b] = state_at(b)
            ok = err is None and lookup_matches(rows, ks, [states[b] for b in cands])
            out.check("lookups", 1, 0 if ok else 1)


def _fence_probe_cdc(job, table, log, ck, bounds: list[int], batch_lsns: int, out: Outcome) -> None:
    """Exactly-once probe: rewind the checkpoint one window — to the state
    a crash between the table commit and the checkpoint write leaves,
    window pinned — and replay it with the same ``batch_lsns``; every
    merge must come back fenced and the table must keep its version."""
    state = ck.load()
    v0 = table.current_version()
    ck.save({"batch_id": state["batch_id"] - 1, "next_lsn": bounds[-2], "pending_hi": bounds[-1]})
    res = job.run_incremental(log, ck, batch_lsns=batch_lsns, max_batches=1)
    ok = bool(res) and all(r.merge is not None and r.merge.fenced for r in res)
    ok = ok and table.current_version() == v0 and ck.load()["next_lsn"] == bounds[-1]
    out.check("fence_probe", 1, 0 if ok else 1, replayed=len(res))


# ====================================================================== tail


def run_tail(ctx, cfg: dict) -> Outcome:
    from french_admin_etl_spark import datagen
    from french_admin_etl_spark.sources.event_log import EventLog
    from french_admin_etl_spark.streaming.apply import KEYS, REPOS_SCHEMA, CDCApplyJob
    from french_admin_etl_spark.streaming.checkpoint import CheckpointStore
    from french_admin_etl_spark.table.lake_table import LakeTable

    spark, out = ctx.spark, Outcome()
    rate, n_meas = cfg["rate"], cfg["segments"]
    interval = ctx.seconds / n_meas
    seg_events = max(1, round(rate * interval))
    boot = cfg["boot_events"]
    # the producer keeps landing past the measured segments (up to as many
    # again) so the measured ones see steady traffic, not a draining log
    n_total = boot + 2 * n_meas * seg_events
    cols = ["commit", "lang", "content", "content_sha"]

    def setup(d: str):
        ev = datagen.gen_change_events(
            n_events=n_total, n_keys=cfg["n_keys"], n_repos=cfg["n_repos"], seed=ctx.seed,
            duplicate_rate=0.02, delete_rate=0.05, shuffle_window=50, partial_update_rate=0.5,
        )
        os.makedirs(f"{d}/log")
        land(f"{d}/log", "seg-000000", ev[ev["lsn"] <= boot], EVENT_ARROW)  # the history
        LakeTable.create(
            spark, f"{d}/table", REPOS_SCHEMA, KEYS, num_buckets=cfg["buckets"], write_mode="mor",
            properties={"compact.max-delta-files": str(cfg["compact_every"])},
        )
        return ev

    ev = ctx.repeat_setup(setup, out)
    d = f"{ctx.work}/setup0"
    log_dir = f"{d}/log"
    segs = cut_segments(ev, boot + 1, n_total + 1, seg_events)
    keys_df = datagen.make_keys(cfg["n_keys"], cfg["n_repos"], ctx.seed)
    hot = [tuple(k) for k in keys_df[["repo", "path"]].head(cfg["hot_keys"]).itertuples(index=False, name=None)]
    look_cols = ["commit", "lang", "content"]
    # the oracle resolves each key on its own, so the hot keys' events
    # give the hot keys' state
    hot_set = set(hot)
    ev_hot = ev[[k in hot_set for k in zip(ev["repo"], ev["path"])]]

    table = LakeTable(spark, f"{d}/table")
    job = CDCApplyJob(spark, table, merge_mode="coalesce")
    log = EventLog(spark, log_dir)
    ck = CheckpointStore(f"{d}/ck.json")
    huge = n_total + 1  # one window per cycle: everything the log holds

    # bootstrap: replay the history in one window (this also warms the
    # apply path), then one lookup to warm the read path
    t0 = time.perf_counter()
    job.run_incremental(log, ck, batch_lsns=huge)
    out.bootstrap_s = time.perf_counter() - t0
    table.lookup(hot[: cfg["keys_per_lookup"]]).collect()
    bounds = [ck.load()["next_lsn"]]
    data0 = dir_bytes(f"{d}/table/data")

    lock = threading.Lock()
    landed = {"hi": bounds[0], "late": [], "bytes": {}}
    stop_producer = threading.Event()

    def producer(t0: float) -> None:
        for j, (_lo, hi, frame) in enumerate(segs):
            due = t0 + j * interval
            if stop_producer.wait(max(0.0, due - time.perf_counter())):
                return
            size = land(log_dir, f"seg-{j + 1:06d}", frame, EVENT_ARROW)
            with lock:
                landed["late"].append(time.perf_counter() - due)
                landed["hi"] = hi
                landed["bytes"][hi] = size

    # the first segment lands as the loop starts, so every run's first
    # cycle has work and compaction falls on the same cycle
    t_start = time.perf_counter()
    sched = [t_start + j * interval for j in range(n_meas)]
    seg_last = [hi - 1 for _lo, hi, _f in segs[:n_meas]]
    prod = threading.Thread(target=producer, args=(t_start,), name="producer")
    prod.start()
    while landed["hi"] == bounds[0]:
        time.sleep(0.001)
    reader = Reader(
        spark, f"{d}/table", hot, cfg["keys_per_lookup"], ck,
        lambda r: ((r["repo"], r["path"]), tuple(r[c] for c in look_cols)),
    ).start()
    ctx.begin_loop()
    cycles = 0
    try:
        while bounds[-1] <= seg_last[-1]:
            res = job.run_incremental(log, ck, batch_lsns=huge)
            tc = time.perf_counter()
            cycles += 1
            out.batch_results.extend(res)
            committed = ck.load()["next_lsn"]
            if committed != bounds[-1]:
                bounds.append(committed)
            with lock:
                out.lag_samples.append(landed["hi"] - committed)
            while len(out.freshness) < n_meas and seg_last[len(out.freshness)] < committed:
                out.freshness.append(tc - sched[len(out.freshness)])
    finally:
        stop_producer.set()
        reader.stop()
        prod.join(timeout=120)
        ctx.end_loop()
    committed = bounds[-1]
    out.apply_wall_s = ctx.loop_end - t_start
    ev_lsn = ev["lsn"].to_numpy()
    out.events = int(((ev_lsn > boot) & (ev_lsn < committed)).sum())
    out.log_bytes = sum(b for hi, b in landed["bytes"].items() if hi <= committed)
    out.check("batches", len(out.batch_results), 0)
    lags = out.lag_samples
    out.check("backlog_steady", 1, 0 if backlog_steady(lags) else 1,
              lag_first=lags[0], lag_last=lags[-1], lag_max=max(lags))
    out.freshness_p50_s = percentile(out.freshness, 50)
    out.freshness_p95_s = percentile(out.freshness, 95)
    late = landed["late"]
    out.detail.update(
        offered_events_per_s=rate, segments=n_meas, segment_events=seg_events, cycles=cycles,
        producer_late_max_s=max(late), producer_late_p50_s=median(late), lag_samples=lags,
    )

    reader.check(
        lambda b: index_state(datagen.expected_final_state_coalesce(ev_hot[ev_hot["lsn"] < b]), KEYS, look_cols),
        bounds, out,
    )
    want = datagen.expected_final_state_coalesce(ev[ev_lsn < committed])
    cmp = compare_state(table.read().toPandas(), want, KEYS, cols)
    out.check("oracle_expected_final_state_coalesce", cmp["compared"], state_failures(cmp), **cmp)
    files, size = dir_bytes(f"{d}/table/data")
    out.data_files_written, out.data_bytes_written = files - data0[0], size - data0[1]
    out.snapshot_bytes = snapshot_bytes(table)
    out.detail["delta_groups_end"] = delta_groups(table)
    _fence_probe_cdc(job, table, log, ck, bounds, huge, out)
    # how many deltas the loop left depends on where its last cycle fell
    # against the compaction threshold; fold them so the timed reads see
    # the same layout on every run
    t0 = time.perf_counter()
    table.compact()
    out.detail["final_compact_s"] = time.perf_counter() - t0
    out.live_rows = timed_final_reads(table, out)
    return out


# ======================================================================= dag


def _cog_schemas():
    from pyspark.sql import types as T

    s = T.StringType()
    return {
        "region": T.StructType([T.StructField("code", s), T.StructField("name", s)]),
        "department": T.StructType([T.StructField("code", s), T.StructField("region_code", s), T.StructField("name", s)]),
        "commune": T.StructType([
            T.StructField("code", s), T.StructField("department_code", s),
            T.StructField("name", s), T.StructField("population", T.LongType()),
        ]),
    }


def _mk_dag(spark, root: str, buckets: int, create: bool):
    from french_admin_etl_spark.streaming.apply import CDCApplyJob
    from french_admin_etl_spark.streaming.dag import DagApplyJob, FKEdge
    from french_admin_etl_spark.table.lake_table import LakeTable

    def table(name, schema):
        if create:
            return LakeTable.create(spark, f"{root}/{name}", schema, ["code"], num_buckets=buckets, write_mode="mor")
        return LakeTable(spark, f"{root}/{name}")

    jobs = {name: CDCApplyJob(spark, table(name, schema)) for name, schema in _cog_schemas().items()}
    edges = [FKEdge("department", "region_code", "region", "code"), FKEdge("commune", "department_code", "department", "code")]
    return jobs, DagApplyJob(jobs, edges, writer_id="bench", gate="pre")


def run_dag(ctx, cfg: dict) -> Outcome:
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from french_admin_etl_spark import datagen
    from french_admin_etl_spark.sources.envelope_log import MultiTableLog
    from french_admin_etl_spark.streaming.checkpoint import CheckpointStore

    spark, out = ctx.spark, Outcome()
    dims = cfg["n_regions"] + cfg["n_departments"]

    def setup(d: str):
        ev = datagen.gen_cog_events(
            n_regions=cfg["n_regions"], n_departments=cfg["n_departments"],
            n_communes=cfg["n_communes"], n_updates=cfg["n_updates"], seed=ctx.seed,
        )
        os.makedirs(f"{d}/log")
        n = len(ev)
        for i, (_lo, _hi, seg) in enumerate(cut_segments(ev, 1, n + 1, -(-n // 4))):
            land(f"{d}/log", f"part-{i:03d}", seg, ENVELOPE_ARROW)
        _mk_dag(spark, f"{d}/tables", cfg["buckets"], create=True)
        return ev

    ev = ctx.repeat_setup(setup, out)
    n = len(ev)
    d = f"{ctx.work}/setup0"
    log = MultiTableLog(spark, f"{d}/log")
    jobs, dag = _mk_dag(spark, f"{d}/tables", cfg["buckets"], create=False)
    ck = CheckpointStore(f"{d}/ck.json")

    # bootstrap: load the dimension tables (the stream opens with every
    # region, then every department insert) in one window — the
    # reference's dimension-before-fact order; this also pays the cold
    # start of the DAG path before the clock runs
    t0 = time.perf_counter()
    dag.run_incremental(log, ck, batch_lsns=dims + 1, max_batches=1)
    out.bootstrap_s = time.perf_counter() - t0
    bounds = [ck.load()["next_lsn"]]

    # the backlog: every commune insert and update and the department
    # renames among them, all landed, drained in ``windows`` windows
    lo = bounds[0]
    batch_lsns = -(-(n + 1 - lo) // cfg["windows"])
    hot = [(f"C{i:05d}",) for i in range(cfg["hot_keys"])]
    look_cols = ["department_code", "name", "population"]
    ctx.begin_loop()
    t0 = time.perf_counter()
    commits = []  # (seconds since the drain began, committed boundary)
    try:
        while bounds[-1] < n + 1:
            res = dag.run_incremental(log, ck, batch_lsns=batch_lsns, max_batches=1)
            tc = time.perf_counter() - t0
            for w in res:
                out.batch_results.extend(w.tables.values())
            bounds.append(ck.load()["next_lsn"])
            commits.append((tc, bounds[-1]))
            out.freshness.append(tc)
            out.lag_samples.append(n + 1 - bounds[-1])
            out.check("windows", len(res), sum(1 for w in res if w.violations))
    finally:
        ctx.end_loop()
    out.apply_wall_s = ctx.loop_end - t0
    out.events = int((ev["lsn"] >= lo).sum())
    # the whole backlog landed before the drain: freshness is when half
    # and 95% of it were visible, read off the window commits
    out.freshness_p50_s = drain_time(commits, lo, n + 1, 0.50)
    out.freshness_p95_s = drain_time(commits, lo, n + 1, 0.95)
    out.detail["window_commits"] = commits

    # point reads of the drained table: a closed-loop drain measures
    # apply throughput, which a reader beside it would only blur
    reader = Reader(
        spark, jobs["commune"].table.root, hot, cfg["keys_per_lookup"], ck,
        lambda r: ((r["code"],), tuple(r[c] for c in look_cols)),
    )
    for _ in range(cfg["lookups"]):
        reader.lookup_once()
    want = datagen.expected_cog_state(ev)
    # every lookup ran at the final commit: a lookup that saw any other
    # is a KeyError, not a quiet pass
    reader.check({bounds[-1]: index_state(want["commune"], ["code"], look_cols)}.__getitem__, bounds, out)
    # the three tables' final states in one job: (table, code, row as JSON)
    frames = [
        job.table.read().select(
            F.lit(name).alias("_t"), "code",
            F.to_json(F.struct(*[c for c in want[name].columns if c != "code"])).alias("_j"),
        )
        for name, job in jobs.items()
    ]
    got_all = reduce(DataFrame.unionByName, frames).toPandas()
    for name, job in jobs.items():
        w = want[name]
        cols = [c for c in w.columns if c != "code"]
        sub = got_all[got_all["_t"] == name]
        got = pd.DataFrame([json.loads(j) for j in sub["_j"]], columns=cols).assign(code=sub["code"].to_numpy())
        cmp = compare_state(got, w, ["code"], cols)
        out.check(f"oracle_expected_cog_state.{name}", cmp["compared"], state_failures(cmp), **cmp)
        files, size = dir_bytes(f"{job.table.root}/data")
        out.data_files_written += files
        out.data_bytes_written += size
    fk = dag.deep_fk_check()
    out.check("deep_fk_check", len(fk), sum(1 for v in fk.values() if v))
    out.log_bytes = dir_bytes(f"{d}/log")[1]  # bootstrap + backlog, like the data
    commune = jobs["commune"].table
    out.snapshot_bytes = snapshot_bytes(commune)
    out.detail["delta_groups_end"] = sum(delta_groups(j.table) for j in jobs.values())
    out.live_rows = timed_final_reads(commune, out)

    # exactly-once probe: rewind one window and replay it
    state = ck.load()
    v0 = {name: j.table.current_version() for name, j in jobs.items()}
    ck.save({"batch_id": state["batch_id"] - 1, "next_lsn": bounds[-2], "pending_hi": bounds[-1]})
    res = dag.run_incremental(log, ck, batch_lsns=batch_lsns, max_batches=1)
    merges = [br.merge for w_ in res for br in w_.tables.values()]
    ok = bool(merges) and all(m is not None and m.fenced for m in merges)
    ok = ok and v0 == {name: j.table.current_version() for name, j in jobs.items()}
    out.check("fence_probe", 1, 0 if ok else 1, replayed_merges=len(merges))
    return out


RUNNERS = {"tail": run_tail, "dag": run_dag}


def cleanup(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
