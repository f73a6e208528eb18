"""FK-ordered multi-table apply DAG (the reference's region -> department
-> commune load order, ``cmd/main.go:110-120``, generalized to a job-level
operator over one shared envelope log)."""

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from french_admin_etl_spark.datagen import expected_cog_state, gen_cog_events
from french_admin_etl_spark.sources.envelope_log import ENVELOPE_SCHEMA, MultiTableLog
from french_admin_etl_spark.streaming.apply import CDCApplyJob
from french_admin_etl_spark.streaming.checkpoint import CheckpointStore
from french_admin_etl_spark.streaming.dag import DagApplyJob, FKEdge, FKViolation
from french_admin_etl_spark.table.lake_table import LakeTable

REGION = T.StructType(
    [T.StructField("code", T.StringType()), T.StructField("name", T.StringType())]
)
DEPARTMENT = T.StructType(
    [
        T.StructField("code", T.StringType()),
        T.StructField("region_code", T.StringType()),
        T.StructField("name", T.StringType()),
    ]
)
COMMUNE = T.StructType(
    [
        T.StructField("code", T.StringType()),
        T.StructField("department_code", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("population", T.LongType()),
    ]
)
EDGES = [
    FKEdge("department", "region_code", "region", "code"),
    FKEdge("commune", "department_code", "department", "code"),
]


def _write_log(spark, tmp_root, ev: pd.DataFrame) -> MultiTableLog:
    log_dir = os.path.join(tmp_root, "mlog")
    spark.createDataFrame(ev, schema=ENVELOPE_SCHEMA).write.mode("overwrite").parquet(
        log_dir
    )
    return MultiTableLog(spark, log_dir)


def _mk_dag(spark, tmp_root, write_mode="mor", fk_check=True):
    jobs = {}
    for name, schema in (("region", REGION), ("department", DEPARTMENT), ("commune", COMMUNE)):
        t = LakeTable.create(
            spark, os.path.join(tmp_root, name), schema, ["code"],
            num_buckets=4, write_mode=write_mode,
        )
        jobs[name] = CDCApplyJob(spark, t)
    return jobs, DagApplyJob(jobs, EDGES, writer_id="dag", fk_check=fk_check)


def _table_pdf(job: CDCApplyJob, key="code") -> pd.DataFrame:
    return (
        job.table.read().toPandas().sort_values(key).reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def cog_events():
    return gen_cog_events(n_regions=4, n_departments=12, n_communes=120, n_updates=400, seed=7)


def test_dag_windowed_apply_matches_oracle(spark, tmp_root, cog_events):
    log = _write_log(spark, tmp_root, cog_events)
    jobs, dag = _mk_dag(spark, tmp_root)
    ckpt = CheckpointStore(os.path.join(tmp_root, "ckpt.json"))
    results = dag.run_incremental(log, ckpt, batch_lsns=150)
    assert len(results) >= 3  # genuinely windowed
    # update-phase windows carry no region events -> the O(tables-with-
    # events) skip engages and region gets no per-window jobs at all
    assert any("region" not in r.tables for r in results)
    assert all("commune" in r.tables for r in results)
    oracle = expected_cog_state(cog_events)
    for name in ("region", "department"):
        got = _table_pdf(jobs[name])
        pd.testing.assert_frame_equal(got, oracle[name][got.columns])
    got = _table_pdf(jobs["commune"])
    want = oracle["commune"].astype({"population": "int64"})[got.columns]
    pd.testing.assert_frame_equal(got, want)
    # the e2e audit the per-window gates already guaranteed
    counts = dag.deep_fk_check()
    assert set(counts.values()) == {0}


def test_dag_topo_order_parents_first(spark, tmp_root):
    jobs, dag = _mk_dag(spark, os.path.join(tmp_root, "topo"))
    o = dag.order
    assert o.index("region") < o.index("department") < o.index("commune")


def test_dag_cycle_raises(spark, tmp_root):
    jobs, _ = _mk_dag(spark, os.path.join(tmp_root, "cyc"), fk_check=False)
    bad = EDGES + [FKEdge("region", "code", "commune", "code")]
    with pytest.raises(ValueError, match="cycle"):
        DagApplyJob(jobs, bad)


def test_dag_unknown_table_raises(spark, tmp_root):
    jobs, _ = _mk_dag(spark, os.path.join(tmp_root, "unk"), fk_check=False)
    with pytest.raises(ValueError, match="unknown table"):
        DagApplyJob(jobs, EDGES + [FKEdge("commune", "x", "arrondissement", "code")])


def test_dag_crash_mid_window_reconverges(spark, tmp_root, cog_events):
    """Simulate a crash after the first table of the one-window run has
    committed: the replay fences region to a no-op and applies the rest."""
    log = _write_log(spark, tmp_root, cog_events)
    jobs, dag = _mk_dag(spark, tmp_root)
    window = log.lsn_range(0, log.max_lsn() + 1)
    typed = MultiTableLog.for_table(window, "region", dag._parse_schema("region", []))
    jobs["region"].apply_batch(typed, 0, fence_writer="dag.region")
    ckpt = CheckpointStore(os.path.join(tmp_root, "ckpt2.json"))
    results = dag.run_incremental(log, ckpt, batch_lsns=10**9)
    assert len(results) == 1
    assert results[0].tables["region"].merge.fenced  # replayed -> no-op
    assert not results[0].tables["commune"].merge.fenced
    oracle = expected_cog_state(cog_events)
    got_r = _table_pdf(jobs["region"])
    pd.testing.assert_frame_equal(got_r, oracle["region"][got_r.columns])
    got = _table_pdf(jobs["commune"])
    pd.testing.assert_frame_equal(
        got, oracle["commune"].astype({"population": "int64"})[got.columns]
    )


def _envelope(rows) -> pd.DataFrame:
    lsn = list(range(1, len(rows) + 1))
    return pd.DataFrame(
        {
            "lsn": lsn,
            "ts": pd.Timestamp("2024-01-01"),
            "op": [r[0] for r in rows],
            "table": [r[1] for r in rows],
            "payload": [None if r[2] is None else json.dumps(r[2]) for r in rows],
            "schema_version": [r[3] if len(r) > 3 else 1 for r in rows],
            "props": [r[4] if len(r) > 4 else None for r in rows],
        }
    )


def test_dag_fk_orphan_in_window_detected(spark, tmp_root):
    ev = _envelope(
        [
            ("I", "region", {"code": "REG00", "name": "R"}),
            ("I", "department", {"code": "D000", "region_code": "REG00", "name": "D"}),
            ("I", "commune", {"code": "C1", "department_code": "D999", "name": "X", "population": 10}),
        ]
    )
    log = _write_log(spark, tmp_root, ev)
    _, dag = _mk_dag(spark, tmp_root)
    with pytest.raises(FKViolation, match="D999"):
        dag.run_incremental(
            log, CheckpointStore(os.path.join(tmp_root, "c.json")), batch_lsns=100
        )


def test_dag_parent_delete_orphan_detected(spark, tmp_root):
    ev = _envelope(
        [
            ("I", "region", {"code": "REG00", "name": "R"}),
            ("I", "department", {"code": "D000", "region_code": "REG00", "name": "D"}),
            ("I", "commune", {"code": "C1", "department_code": "D000", "name": "X", "population": 10}),
            ("D", "department", {"code": "D000"}),
        ]
    )
    log = _write_log(spark, tmp_root, ev)
    _, dag = _mk_dag(spark, tmp_root)
    ckpt = CheckpointStore(os.path.join(tmp_root, "c.json"))
    # window 1 = consistent bootstrap (lsn 1-3); window 2 = the orphaning delete
    with pytest.raises(FKViolation, match="orphaned"):
        dag.run_incremental(log, ckpt, batch_lsns=4)


def test_dag_schema_evolution_mid_window(spark, tmp_root):
    """A SCHEMA add_column + rename land mid-window; payload keys written
    AFTER each evolution survive the parse and reach the evolved table."""
    ev = _envelope(
        [
            ("I", "region", {"code": "REG00", "name": "R"}),
            ("I", "department", {"code": "D000", "region_code": "REG00", "name": "D"}),
            ("I", "commune", {"code": "C1", "department_code": "D000", "name": "X", "population": 10}),
            (
                "SCHEMA", "commune", None, 2,
                json.dumps({"action": "add_column", "name": "area", "type": "double"}),
            ),
            ("U", "commune", {"code": "C1", "department_code": "D000", "name": "X", "population": 11, "area": 12.5}),
            (
                "SCHEMA", "commune", None, 3,
                json.dumps({"action": "rename_column", "from": "name", "to": "label"}),
            ),
            ("U", "commune", {"code": "C1", "department_code": "D000", "label": "Renamed", "population": 12, "area": 12.5}),
        ]
    )
    log = _write_log(spark, tmp_root, ev)
    jobs, dag = _mk_dag(spark, tmp_root)
    dag.run_incremental(
        log, CheckpointStore(os.path.join(tmp_root, "c.json")), batch_lsns=10**9
    )
    snap = jobs["commune"].table.snapshot()
    assert snap["schema_version"] == 3
    row = jobs["commune"].table.read().collect()[0].asDict()
    assert row == {
        "code": "C1",
        "department_code": "D000",
        "label": "Renamed",
        "population": 12,
        "area": 12.5,
    }


def test_dag_schema_widen_mid_window(spark, tmp_root):
    """The third evolution kind (type widening) also lands mid-window: a
    population value beyond int range written after the widen survives."""
    ev = _envelope(
        [
            ("I", "region", {"code": "REG00", "name": "R"}),
            ("I", "department", {"code": "D000", "region_code": "REG00", "name": "D"}),
            ("I", "commune", {"code": "C1", "department_code": "D000", "name": "X", "population": 10}),
            (
                "SCHEMA", "commune", None, 2,
                json.dumps({"action": "widen", "name": "population", "type": "bigint"}),
            ),
            ("U", "commune", {"code": "C1", "department_code": "D000", "name": "X", "population": 2**40}),
        ]
    )
    log = _write_log(spark, tmp_root, ev)
    jobs = {}
    commune_int = T.StructType(
        [
            T.StructField("code", T.StringType()),
            T.StructField("department_code", T.StringType()),
            T.StructField("name", T.StringType()),
            T.StructField("population", T.IntegerType()),  # pre-widen: int
        ]
    )
    for name, schema in (("region", REGION), ("department", DEPARTMENT), ("commune", commune_int)):
        t = LakeTable.create(
            spark, os.path.join(tmp_root, name), schema, ["code"],
            num_buckets=4, write_mode="mor",
        )
        jobs[name] = CDCApplyJob(spark, t)
    dag = DagApplyJob(jobs, EDGES, writer_id="dag")
    dag.run_incremental(
        log, CheckpointStore(os.path.join(tmp_root, "c.json")), batch_lsns=10**9
    )
    row = jobs["commune"].table.read().collect()[0].asDict()
    assert row["population"] == 2**40


def _write_segments(tmp_root, ev: pd.DataFrame, n_segments: int):
    """Land the envelope log as LSN-ordered segment files with increasing
    mtimes (the WAL contract run_stream documents: a segment is sealed
    before the next is written — the file source then admits oldest-first)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    log_dir = os.path.join(tmp_root, "slog")
    os.makedirs(log_dir, exist_ok=True)
    arrow_schema = pa.schema(
        [
            ("lsn", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("op", pa.string()),
            ("table", pa.string()),
            ("payload", pa.string()),
            ("schema_version", pa.int32()),
            ("props", pa.string()),
        ]
    )
    ev = ev.sort_values("lsn").reset_index(drop=True)
    # np.array_split's boundaries: the first len % n segments get one more row
    q, r = divmod(len(ev), n_segments)
    bounds = [i * q + min(i, r) for i in range(n_segments + 1)]
    for i, (a, b) in enumerate(zip(bounds, bounds[1:])):
        chunk = ev.iloc[a:b]
        p = os.path.join(log_dir, f"seg-{i:04d}.parquet")
        pq.write_table(pa.Table.from_pandas(chunk, schema=arrow_schema), p)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    return log_dir


def test_dag_run_stream_matches_oracle_and_replay_converges(spark, tmp_root, cog_events):
    """Structured Streaming DAG driver: one micro-batch per sealed segment
    (availableNow), FK order inside each batch. A rerun from a FRESH
    stream checkpoint gets a fresh fence uid — epoch ids restart at 0, so
    fencing them against the first run's fences would silently drop fresh
    events (reviewer finding); instead the whole log re-applies through
    the LSN-guarded merge and converges to the identical state. WITHIN a
    checkpoint, a retried epoch reuses its id and the uid-scoped fence
    makes it a no-op."""
    log_dir = _write_segments(tmp_root, cog_events, n_segments=5)
    log = MultiTableLog(spark, log_dir)
    jobs, dag = _mk_dag(spark, tmp_root)
    results = dag.run_stream(log, os.path.join(tmp_root, "sckpt"), max_files_per_trigger=1)
    assert len(results) == 5  # one micro-batch per segment
    los = [r.lo for r in results]
    assert los == sorted(los)  # segments admitted in LSN order
    oracle = expected_cog_state(cog_events)
    got = _table_pdf(jobs["commune"])
    pd.testing.assert_frame_equal(
        got, oracle["commune"].astype({"population": "int64"})[got.columns]
    )
    assert set(dag.deep_fk_check().values()) == {0}
    # rerun from a fresh checkpoint: re-applies (NOT fenced) and converges
    replay = dag.run_stream(log, os.path.join(tmp_root, "sckpt2"), max_files_per_trigger=1)
    assert len(replay) == 5
    assert not any(
        br.merge.fenced for r in replay for br in r.tables.values() if br.merge
    )
    pd.testing.assert_frame_equal(_table_pdf(jobs["commune"]), got)
    # within-checkpoint epoch retry: same uid + same epoch id -> fenced
    with open(os.path.join(tmp_root, "sckpt2", "engine_id")) as fh:
        uid = fh.read().strip()
    window = log.lsn_range(replay[0].lo, replay[0].hi)
    retried = dag.apply_window(
        window, replay[0].batch_id, replay[0].lo, replay[0].hi,
        fence_ns=f"dag.stream.{uid}",
    )
    assert all(br.merge.fenced for br in retried.tables.values() if br.merge)
    pd.testing.assert_frame_equal(_table_pdf(jobs["commune"]), got)


def test_dag_in_window_cascade_delete_not_flagged(spark, tmp_root):
    """The standard binlog cascade — update child, delete child, delete
    parent — inside ONE window is serializable and must pass the gate:
    the superseded U event's FK is checked only if it survives the
    window's own fold (reviewer finding: the raw-event gate raised a
    spurious FKViolation here)."""
    ev = _envelope(
        [
            ("I", "region", {"code": "REG00", "name": "R"}),
            ("I", "department", {"code": "D000", "region_code": "REG00", "name": "D"}),
            ("I", "commune", {"code": "C1", "department_code": "D000", "name": "X", "population": 10}),
            ("U", "commune", {"code": "C1", "department_code": "D000", "name": "X2", "population": 11}),
            ("D", "commune", {"code": "C1"}),
            ("D", "department", {"code": "D000"}),
        ]
    )
    log = _write_log(spark, tmp_root, ev)
    jobs, dag = _mk_dag(spark, tmp_root)
    dag.run_incremental(
        log, CheckpointStore(os.path.join(tmp_root, "c.json")), batch_lsns=10**9
    )
    assert jobs["commune"].table.read().count() == 0
    assert jobs["department"].table.read().count() == 0
    assert set(dag.deep_fk_check().values()) == {0}


def test_dag_foreign_table_schema_event_skipped(spark, tmp_root):
    """A shared binlog carries events — including SCHEMA markers — for
    tables this DAG doesn't own; both kinds are skipped cleanly
    (reviewer finding: a foreign SCHEMA marker raised KeyError)."""
    ev = _envelope(
        [
            ("I", "region", {"code": "REG00", "name": "R"}),
            ("I", "epci", {"code": "E1", "name": "Metropole"}),
            (
                "SCHEMA", "epci", None, 2,
                json.dumps({"action": "add_column", "name": "siren", "type": "string"}),
            ),
            ("I", "department", {"code": "D000", "region_code": "REG00", "name": "D"}),
        ]
    )
    log = _write_log(spark, tmp_root, ev)
    jobs, dag = _mk_dag(spark, tmp_root)
    dag.run_incremental(
        log, CheckpointStore(os.path.join(tmp_root, "c.json")), batch_lsns=10**9
    )
    assert jobs["region"].table.read().count() == 1
    assert jobs["department"].table.read().count() == 1


def test_dag_refuses_foreign_checkpoint_shape(spark, tmp_root):
    ev = _envelope([("I", "region", {"code": "REG00", "name": "R"})])
    log = _write_log(spark, tmp_root, ev)
    _, dag = _mk_dag(spark, tmp_root)
    ckpt = CheckpointStore(os.path.join(tmp_root, "balanced.json"))
    ckpt.save({"batch_id": 0, "bounds": [0, 10]})  # balanced-driver shape
    with pytest.raises(ValueError, match="not written by DagApplyJob"):
        dag.run_incremental(log, ckpt)


def test_dag_driver_switch_does_not_fence_out_fresh_events(spark, tmp_root, cog_events):
    """run_incremental then run_stream (independent epoch-id sequences):
    the stream driver fences under its own namespace, so fresh events
    appended after the switch land instead of being silently fenced out
    as replays (reviewer finding: shared namespace = permanent data
    loss)."""
    log_dir = _write_segments(tmp_root, cog_events, n_segments=3)
    log = MultiTableLog(spark, log_dir)
    jobs, dag = _mk_dag(spark, tmp_root)
    dag.run_incremental(
        log, CheckpointStore(os.path.join(tmp_root, "c.json")), batch_lsns=10**9
    )
    oracle = expected_cog_state(cog_events)
    got = _table_pdf(jobs["commune"])
    pd.testing.assert_frame_equal(
        got, oracle["commune"].astype({"population": "int64"})[got.columns]
    )
    # fresh events arrive as a new sealed segment; the user switches drivers
    code = oracle["commune"]["code"].iloc[0]
    dept = oracle["commune"]["department_code"].iloc[0]
    mx = int(log.max_lsn())
    extra = _envelope(
        [("U", "commune", {"code": code, "department_code": dept, "name": "SWITCHED", "population": 424242})]
    )
    extra["lsn"] = [mx + 1]
    import pyarrow as pa
    import pyarrow.parquet as pq

    arrow_schema = pa.schema(
        [
            ("lsn", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("op", pa.string()),
            ("table", pa.string()),
            ("payload", pa.string()),
            ("schema_version", pa.int32()),
            ("props", pa.string()),
        ]
    )
    p = os.path.join(log_dir, "seg-9999.parquet")
    pq.write_table(pa.Table.from_pandas(extra, schema=arrow_schema), p)
    os.utime(p, (1_700_000_100, 1_700_000_100))
    dag.run_stream(log, os.path.join(tmp_root, "sckpt_switch"), max_files_per_trigger=4)
    row = (
        jobs["commune"].table.read().filter(F.col("code") == code).collect()[0].asDict()
    )
    assert row["name"] == "SWITCHED" and row["population"] == 424242


def test_dag_stream_restart_fresh_checkpoint_applies_fresh_events(spark, tmp_root, cog_events):
    """The data-loss repro the fence uid exists for: stream run fences
    epochs 0..N; operator restarts with a FRESH checkpoint dir and a
    large trigger so ALL files (old + a new segment) land in epoch 0.
    With a checkpoint-scoped fence uid the restarted stream re-applies
    and the new events land; with a shared namespace epoch 0 would fence
    against the old run's high-water mark and silently drop them."""
    log_dir = _write_segments(tmp_root, cog_events, n_segments=3)
    log = MultiTableLog(spark, log_dir)
    jobs, dag = _mk_dag(spark, tmp_root)
    dag.run_stream(log, os.path.join(tmp_root, "sA"), max_files_per_trigger=1)
    oracle = expected_cog_state(cog_events)
    code = oracle["commune"]["code"].iloc[0]
    dept = oracle["commune"]["department_code"].iloc[0]
    extra = _envelope(
        [("U", "commune", {"code": code, "department_code": dept, "name": "FRESH", "population": 777})]
    )
    extra["lsn"] = [int(log.max_lsn()) + 1]
    import pyarrow as pa
    import pyarrow.parquet as pq

    arrow_schema = pa.schema(
        [
            ("lsn", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("op", pa.string()),
            ("table", pa.string()),
            ("payload", pa.string()),
            ("schema_version", pa.int32()),
            ("props", pa.string()),
        ]
    )
    p = os.path.join(log_dir, "seg-9999.parquet")
    pq.write_table(pa.Table.from_pandas(extra, schema=arrow_schema), p)
    os.utime(p, (1_700_000_100, 1_700_000_100))
    # fresh checkpoint, one big epoch covering every file
    dag.run_stream(log, os.path.join(tmp_root, "sB"), max_files_per_trigger=16)
    row = (
        jobs["commune"].table.read().filter(F.col("code") == code).collect()[0].asDict()
    )
    assert row["name"] == "FRESH" and row["population"] == 777


def test_dag_coalesce_partial_update_of_just_added_column(spark, tmp_root):
    """Coalesce-mode partial update that sets ONLY a column added by a
    SCHEMA event in the same window must apply, not be dead-lettered as
    all-null (reviewer finding: validation rules were built from the
    pre-evolution snapshot)."""
    ev = _envelope(
        [
            ("I", "region", {"code": "REG00", "name": "R"}),
            ("I", "department", {"code": "D000", "region_code": "REG00", "name": "D"}),
            ("I", "commune", {"code": "C1", "department_code": "D000", "name": "X", "population": 10}),
            (
                "SCHEMA", "commune", None, 2,
                json.dumps({"action": "add_column", "name": "area", "type": "double"}),
            ),
            ("U", "commune", {"code": "C1", "area": 12.5}),
        ]
    )
    log = _write_log(spark, tmp_root, ev)
    jobs = {}
    for name, schema in (("region", REGION), ("department", DEPARTMENT), ("commune", COMMUNE)):
        t = LakeTable.create(
            spark, os.path.join(tmp_root, name), schema, ["code"],
            num_buckets=4, write_mode="mor",
        )
        jobs[name] = CDCApplyJob(
            spark, t, merge_mode="coalesce" if name == "commune" else "overwrite"
        )
    dag = DagApplyJob(jobs, EDGES, writer_id="dag")
    res = dag.run_incremental(
        log, CheckpointStore(os.path.join(tmp_root, "c.json")), batch_lsns=10**9
    )
    assert all(r.tables["commune"].n_rejects == 0 for r in res if "commune" in r.tables)
    row = jobs["commune"].table.read().collect()[0].asDict()
    assert row == {
        "code": "C1",
        "department_code": "D000",
        "name": "X",
        "population": 10,
        "area": 12.5,
    }


def test_dag_coalesce_mode_table(spark, tmp_root):
    """A table in the DAG can run coalesce merge mode: partial commune
    updates (only population set) keep the other columns."""
    ev = _envelope(
        [
            ("I", "region", {"code": "REG00", "name": "R"}),
            ("I", "department", {"code": "D000", "region_code": "REG00", "name": "D"}),
            ("I", "commune", {"code": "C1", "department_code": "D000", "name": "X", "population": 10}),
            ("U", "commune", {"code": "C1", "population": 99}),
        ]
    )
    log = _write_log(spark, tmp_root, ev)
    jobs = {}
    for name, schema in (("region", REGION), ("department", DEPARTMENT), ("commune", COMMUNE)):
        t = LakeTable.create(
            spark, os.path.join(tmp_root, name), schema, ["code"],
            num_buckets=4, write_mode="mor",
        )
        jobs[name] = CDCApplyJob(
            spark, t, merge_mode="coalesce" if name == "commune" else "overwrite"
        )
    dag = DagApplyJob(jobs, EDGES, writer_id="dag")
    dag.run_incremental(
        log, CheckpointStore(os.path.join(tmp_root, "c.json")), batch_lsns=2
    )
    row = jobs["commune"].table.read().collect()[0].asDict()
    assert row == {"code": "C1", "department_code": "D000", "name": "X", "population": 99}


def test_dag_on_violation_record_advances_past_poison_window(spark, tmp_root):
    """The gate DETECTS (post-commit), it does not prevent: with
    on_violation='record' a poison window is logged into the
    WindowResult and the checkpoint advances, so the stream keeps
    flowing instead of wedging (ADVICE round-3 finding)."""
    ev = _envelope(
        [
            ("I", "region", {"code": "REG00", "name": "R"}),
            ("I", "department", {"code": "D000", "region_code": "REG00", "name": "D"}),
            # poison: references a region that never existed
            ("I", "department", {"code": "D001", "region_code": "NOPE", "name": "E"}),
            # a later healthy window must still apply
            ("I", "commune", {"code": "C1", "department_code": "D000", "name": "X", "population": 10}),
        ]
    )
    log = _write_log(spark, tmp_root, ev)
    jobs = {}
    for name, schema in (("region", REGION), ("department", DEPARTMENT), ("commune", COMMUNE)):
        t = LakeTable.create(
            spark, os.path.join(tmp_root, name), schema, ["code"],
            num_buckets=4, write_mode="mor",
        )
        jobs[name] = CDCApplyJob(spark, t)
    dag = DagApplyJob(jobs, EDGES, writer_id="dag", on_violation="record")
    ckpt = CheckpointStore(os.path.join(tmp_root, "c.json"))
    results = dag.run_incremental(log, ckpt, batch_lsns=3)
    assert any(r.violations for r in results)  # poison window recorded
    assert "NOPE" in ";".join(v for r in results for v in r.violations)
    # the stream advanced past it: the later commune window applied
    assert jobs["commune"].table.read().count() == 1
    # rerun is a fenced no-op, not a re-raise
    results2 = dag.run_incremental(log, ckpt, batch_lsns=3)
    assert results2 == []
    with pytest.raises(ValueError, match="halt"):
        DagApplyJob(jobs, EDGES, on_violation="bogus")


def test_dag_fast_and_sequential_paths_fence_each_other(spark, tmp_root, cog_events):
    """A window applied by the fast path and replayed through the
    sequential path must fence to a no-op — the composite fence ids are
    identical (batch_id*1024 + epoch). The path switch is the window's
    content: a SCHEMA event for a table the first DAG does not own leaves
    that DAG on the fast path, while a DAG that owns the table replays the
    same window sequentially."""
    canton = [
        (
            "SCHEMA", "canton", None, 2,
            json.dumps({"action": "add_column", "name": "area", "type": "double"}),
        ),
        ("I", "canton", {"code": "K1", "name": "K", "area": 1.5}),
    ]
    cog = cog_events.assign(lsn=cog_events["lsn"] + len(canton))
    log = _write_log(spark, tmp_root, pd.concat([_envelope(canton), cog], ignore_index=True))
    jobs, dag = _mk_dag(spark, tmp_root)

    def fast_windows(d):
        ids = []
        fast = d._apply_window_staged

        def spy(window, present, ops, batch_id, *args):
            ids.append(batch_id)
            return fast(window, present, ops, batch_id, *args)

        d._apply_window_staged = spy
        return ids

    n = log.max_lsn() + 1
    # window 0 via the FAST path: the canton SCHEMA event is not this DAG's
    fast_ids = fast_windows(dag)
    dag.run_incremental(
        log, CheckpointStore(os.path.join(tmp_root, "ck.json")),
        batch_lsns=n // 2 + 1, max_batches=1,
    )
    assert fast_ids == [0]
    # replay window 0 via the SEQUENTIAL path (fresh checkpoint, same ids):
    # this DAG owns canton, so the SCHEMA event routes the window to apply_batch
    t = LakeTable.create(
        spark, os.path.join(tmp_root, "canton"), REGION, ["code"], num_buckets=4
    )
    owner = DagApplyJob({**jobs, "canton": CDCApplyJob(spark, t)}, EDGES, writer_id="dag")
    fast_ids = fast_windows(owner)
    results = owner.run_incremental(
        log, CheckpointStore(os.path.join(tmp_root, "ck2.json")),
        batch_lsns=n // 2 + 1,
    )
    assert fast_ids == [1]  # window 0 sequential, window 1 fast
    w0 = results[0].tables
    assert all(w0[name].merge.fenced for name in jobs)  # replayed w0
    assert not w0["canton"].merge.fenced
    assert any(
        not br.merge.fenced for br in results[1].tables.values()
    )  # fresh w1 applies
    # final state matches the oracle regardless of the mixed paths
    oracle = expected_cog_state(cog_events)
    got = _table_pdf(jobs["commune"])
    pd.testing.assert_frame_equal(
        got, oracle["commune"].astype({"population": "int64"})[got.columns]
    )
    assert [r.asDict() for r in t.read().collect()] == [
        {"code": "K1", "name": "K", "area": 1.5}
    ]


def _mk_dag_pre(spark, tmp_root, on_violation="halt"):
    jobs = {}
    for name, schema in (("region", REGION), ("department", DEPARTMENT), ("commune", COMMUNE)):
        t = LakeTable.create(
            spark, os.path.join(tmp_root, name), schema, ["code"],
            num_buckets=4, write_mode="mor",
        )
        jobs[name] = CDCApplyJob(spark, t)
    return jobs, DagApplyJob(
        jobs, EDGES, writer_id="dag", gate="pre", on_violation=on_violation
    )


def test_dag_pre_gate_halt_never_publishes_poison_window(spark, tmp_root):
    """gate='pre': the gate runs against the staged-but-uncommitted state,
    so a violating window raises with MAIN UNTOUCHED — the consistent
    rows of the same window (region, D000) are all-or-nothing too."""
    ev = _envelope(
        [
            ("I", "region", {"code": "REG00", "name": "R"}),
            ("I", "department", {"code": "D000", "region_code": "REG00", "name": "D"}),
            ("I", "department", {"code": "D001", "region_code": "NOPE", "name": "E"}),
        ]
    )
    log = _write_log(spark, tmp_root, ev)
    jobs, dag = _mk_dag_pre(spark, tmp_root)
    ckpt = CheckpointStore(os.path.join(tmp_root, "c.json"))
    with pytest.raises(FKViolation, match="NOPE"):
        dag.run_incremental(log, ckpt, batch_lsns=100)
    for name in ("region", "department", "commune"):
        assert jobs[name].table.read().count() == 0  # nothing published
    # nothing fenced either: after fixing upstream, a rerun applies fresh
    with pytest.raises(FKViolation):  # poison still poisons, loudly
        dag.run_incremental(log, ckpt, batch_lsns=100)


def test_dag_coalesce_pre_gate_releases_staged_sources(spark, tmp_root):
    """Coalesce tables persist their deduped merge source while it is
    staged. A clean window releases it on commit, and a poison window
    that halts the pre-commit gate releases it too: no persisted frame
    outlives a window."""
    ev = _envelope(
        [
            ("I", "region", {"code": "REG00", "name": "R"}),
            ("I", "department", {"code": "D000", "region_code": "REG00", "name": "D"}),
            ("I", "commune", {"code": "C1", "department_code": "D000", "name": "X", "population": 1}),
            ("I", "commune", {"code": "C2", "department_code": "D999", "name": "Y", "population": 2}),
        ]
    )
    log = _write_log(spark, tmp_root, ev)
    jobs = {}
    for name, schema in (("region", REGION), ("department", DEPARTMENT), ("commune", COMMUNE)):
        t = LakeTable.create(
            spark, os.path.join(tmp_root, name), schema, ["code"], num_buckets=4
        )
        jobs[name] = CDCApplyJob(spark, t, merge_mode="coalesce")
    dag = DagApplyJob(jobs, EDGES, writer_id="dag", gate="pre", on_violation="halt")
    ckpt = CheckpointStore(os.path.join(tmp_root, "c.json"))

    def persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    n0 = persisted()
    dag.run_incremental(log, ckpt, batch_lsns=3, max_batches=1)  # clean window
    assert jobs["department"].table.read().count() == 1
    assert persisted() == n0
    with pytest.raises(FKViolation, match="D999"):
        dag.run_incremental(log, ckpt, batch_lsns=3)  # poison window halts
    assert jobs["commune"].table.read().count() == 0
    assert persisted() == n0


def test_dag_pre_gate_record_quarantines_window(spark, tmp_root):
    """gate='pre' + on_violation='record': the poison window is skipped
    WHOLESALE (good rows included), the violation lands on the result,
    and later consistent windows apply."""
    ev = _envelope(
        [
            # window [0,3): consistent bootstrap
            ("I", "region", {"code": "REG00", "name": "R"}),
            ("I", "department", {"code": "D000", "region_code": "REG00", "name": "D"}),
            # window [3,6): poison (commune -> missing dept) + a good row
            ("I", "commune", {"code": "C1", "department_code": "D999", "name": "X", "population": 1}),
            ("I", "commune", {"code": "C2", "department_code": "D000", "name": "Y", "population": 2}),
            # filler keeps C3 in its own window
            ("U", "region", {"code": "REG00", "name": "R"}),
            # window [6,9): consistent commune
            ("I", "commune", {"code": "C3", "department_code": "D000", "name": "Z", "population": 3}),
        ]
    )
    log = _write_log(spark, tmp_root, ev)
    jobs, dag = _mk_dag_pre(spark, tmp_root, on_violation="record")
    ckpt = CheckpointStore(os.path.join(tmp_root, "c.json"))
    results = dag.run_incremental(log, ckpt, batch_lsns=3)
    quarantined = [r for r in results if r.violations]
    assert len(quarantined) == 1 and "D999" in quarantined[0].violations[0]
    # quarantined table rows report merge=None (nothing committed/fenced)
    assert quarantined[0].tables["commune"].merge is None
    got = {r["code"] for r in jobs["commune"].table.read().collect()}
    assert got == {"C3"}  # window 2 skipped wholesale (C2 quarantined too)
    assert jobs["department"].table.read().count() == 1  # window 1 applied
    # rerun: nothing new, nothing re-raised
    assert dag.run_incremental(log, ckpt, batch_lsns=3) == []


def test_dag_pre_gate_clean_stream_matches_oracle(spark, tmp_root, cog_events):
    """A clean stream through gate='pre' produces the identical final
    state and fences as the default path (the gate placement must be
    invisible when nothing violates)."""
    log = _write_log(spark, tmp_root, cog_events)
    jobs, dag = _mk_dag_pre(spark, tmp_root)
    ckpt = CheckpointStore(os.path.join(tmp_root, "ck.json"))
    results = dag.run_incremental(log, ckpt, batch_lsns=150)
    assert all(not r.violations for r in results)
    oracle = expected_cog_state(cog_events)
    got = _table_pdf(jobs["commune"])
    pd.testing.assert_frame_equal(
        got, oracle["commune"].astype({"population": "int64"})[got.columns]
    )
    # replay fences (fence ids unchanged by the gate placement)
    results2 = dag.run_incremental(
        log, CheckpointStore(os.path.join(tmp_root, "ck2.json")), batch_lsns=150
    )
    assert all(br.merge.fenced for r in results2 for br in r.tables.values())


def test_dag_pre_gate_parent_delete_prevented(spark, tmp_root):
    """The parent-delete leg also gates pre-commit: a window whose parent
    delete would orphan children never publishes (the delete is not
    visible afterwards)."""
    ev = _envelope(
        [
            ("I", "region", {"code": "REG00", "name": "R"}),
            ("I", "department", {"code": "D000", "region_code": "REG00", "name": "D"}),
            ("I", "commune", {"code": "C1", "department_code": "D000", "name": "X", "population": 10}),
            ("D", "department", {"code": "D000"}),
        ]
    )
    log = _write_log(spark, tmp_root, ev)
    jobs, dag = _mk_dag_pre(spark, tmp_root)
    ckpt = CheckpointStore(os.path.join(tmp_root, "c.json"))
    dag.run_incremental(log, ckpt, batch_lsns=4, max_batches=1)  # consistent window 1
    with pytest.raises(FKViolation, match="orphaned"):
        dag.run_incremental(log, ckpt, batch_lsns=4)  # the delete window
    # the delete was PREVENTED: department row still live
    assert jobs["department"].table.read().count() == 1


def test_dag_gate_keyfiltered_parent_probe(spark, tmp_root, cog_events):
    """``gate_keyfilter_min_rows = 0`` forces the large-parent path: both
    gate legs read parents through a MATERIALIZED-then-broadcast key
    filter below the MOR resolution. Semantics must be unchanged — a
    clean stream converges to the oracle, an orphaning insert and an
    orphaning parent delete both still raise — and the probe keys must be
    a concrete frame, never the child subtree inlined in the parent's
    plan (the inlined form wedged Catalyst at bench window counts; see
    parent_probe's docstring)."""
    log = _write_log(spark, tmp_root, cog_events)
    jobs, dag = _mk_dag(spark, tmp_root)
    dag.gate_keyfilter_min_rows = 0
    dag.run_incremental(
        log, CheckpointStore(os.path.join(tmp_root, "c.json")), batch_lsns=40
    )
    oracle = expected_cog_state(cog_events)
    got = _table_pdf(jobs["commune"])
    pd.testing.assert_frame_equal(
        got, oracle["commune"].astype({"population": "int64"})[got.columns]
    )

    ev = _envelope(
        [
            ("I", "region", {"code": "REG00", "name": "R"}),
            ("I", "department", {"code": "D000", "region_code": "REG00", "name": "D"}),
            ("I", "commune", {"code": "C1", "department_code": "D999", "name": "X", "population": 10}),
        ]
    )
    log2 = _write_log(spark, os.path.join(tmp_root, "bad"), ev)
    os.makedirs(os.path.join(tmp_root, "badt"), exist_ok=True)
    _, dag2 = _mk_dag(spark, os.path.join(tmp_root, "badt"))
    dag2.gate_keyfilter_min_rows = 0
    with pytest.raises(FKViolation, match="D999"):
        dag2.run_incremental(
            log2, CheckpointStore(os.path.join(tmp_root, "c2.json")), batch_lsns=100
        )

    ev3 = _envelope(
        [
            ("I", "region", {"code": "REG00", "name": "R"}),
            ("I", "department", {"code": "D000", "region_code": "REG00", "name": "D"}),
            ("I", "commune", {"code": "C1", "department_code": "D000", "name": "X", "population": 10}),
            ("D", "department", {"code": "D000"}),
        ]
    )
    log3 = _write_log(spark, os.path.join(tmp_root, "del"), ev3)
    os.makedirs(os.path.join(tmp_root, "delt"), exist_ok=True)
    _, dag3 = _mk_dag(spark, os.path.join(tmp_root, "delt"))
    dag3.gate_keyfilter_min_rows = 0
    with pytest.raises(FKViolation, match="orphaned"):
        dag3.run_incremental(
            log3, CheckpointStore(os.path.join(tmp_root, "c3.json")), batch_lsns=4
        )


def _mk_dag_with_fk_index(spark, tmp_root, **dag_kwargs):
    """DAG whose commune.department_code edge is backed by a
    SecondaryIndex (the O(index + candidates) parent-delete gate path)."""
    from french_admin_etl_spark.operators.secondary_index import SecondaryIndex

    jobs = {}
    for name, schema in (("region", REGION), ("department", DEPARTMENT), ("commune", COMMUNE)):
        t = LakeTable.create(
            spark, os.path.join(tmp_root, name), schema, ["code"],
            num_buckets=4, write_mode="mor",
        )
        jobs[name] = CDCApplyJob(spark, t)
    idx = SecondaryIndex.create(
        spark, jobs["commune"].table, os.path.join(tmp_root, "fkidx"),
        ["department_code"], writer_id="gatefk",
    )
    ck = CheckpointStore(os.path.join(tmp_root, "fkidx_ck.json"))
    dag = DagApplyJob(
        jobs, EDGES, writer_id="dag",
        fk_indexes={("commune", "department_code"): (idx, ck)},
        **dag_kwargs,
    )
    return jobs, dag, idx


def test_dag_fk_index_delete_leg_detects_orphans(spark, tmp_root):
    """With a SecondaryIndex on the FK column, the parent-delete leg
    probes the narrow index instead of scanning the child table — and
    still detects: a referrer inserted WINDOWS AGO (visible only via the
    index) and a referrer inserted IN the delete window (visible only via
    ``typed``) must both raise."""
    ev = _envelope(
        [
            ("I", "region", {"code": "REG00", "name": "R"}),
            ("I", "department", {"code": "D000", "region_code": "REG00", "name": "D"}),
            ("I", "department", {"code": "D001", "region_code": "REG00", "name": "E"}),
            # old referrer: lands two windows before the delete
            ("I", "commune", {"code": "C1", "department_code": "D000", "name": "X", "population": 10}),
            ("U", "commune", {"code": "C1", "department_code": "D000", "name": "X2", "population": 11}),
            ("D", "department", {"code": "D000"}),
        ]
    )
    log = _write_log(spark, tmp_root, ev)
    jobs, dag, idx = _mk_dag_with_fk_index(spark, tmp_root)
    ckpt = CheckpointStore(os.path.join(tmp_root, "c.json"))
    with pytest.raises(FKViolation, match="orphaned"):
        dag.run_incremental(log, ckpt, batch_lsns=2)  # 3 windows: the delete is alone in window 3
    assert dag.last_gate_delete_paths[("commune", "department_code")] == "index"

    # same-window referrer: insert + orphaning delete in ONE window
    ev2 = _envelope(
        [
            ("I", "region", {"code": "REG00", "name": "R"}),
            ("I", "department", {"code": "D000", "region_code": "REG00", "name": "D"}),
            ("I", "commune", {"code": "C9", "department_code": "D000", "name": "Y", "population": 5}),
            ("D", "department", {"code": "D000"}),
        ]
    )
    root2 = os.path.join(tmp_root, "w2")
    os.makedirs(root2, exist_ok=True)
    log2 = _write_log(spark, root2, ev2)
    jobs2, dag2, _ = _mk_dag_with_fk_index(spark, root2)
    ckpt2 = CheckpointStore(os.path.join(root2, "c.json"))
    dag2.run_incremental(log2, ckpt2, batch_lsns=2, max_batches=1)  # bootstrap window
    with pytest.raises(FKViolation, match="orphaned"):
        dag2.run_incremental(log2, ckpt2, batch_lsns=2)
    assert dag2.last_gate_delete_paths[("commune", "department_code")] == "index"


def test_dag_fk_index_clean_stream_matches_oracle(spark, tmp_root, cog_events):
    """A clean stream through the index-backed gate converges to the
    same oracle state as the scan-backed gate, the index stays in sync
    with the commune table (cascade fenced per window), and non-orphaning
    parent deletes pass the index probe without raising."""
    log = _write_log(spark, tmp_root, cog_events)
    jobs, dag, idx = _mk_dag_with_fk_index(spark, tmp_root)
    dag.run_incremental(
        log, CheckpointStore(os.path.join(tmp_root, "c.json")), batch_lsns=40
    )
    oracle = expected_cog_state(cog_events)
    got = _table_pdf(jobs["commune"])
    pd.testing.assert_frame_equal(
        got, oracle["commune"].astype({"population": "int64"})[got.columns]
    )
    assert dag.deep_fk_check() == {
        "department.region_code->region.code": 0,
        "commune.department_code->department.code": 0,
    }
    # the gate-maintained index mirrors the live (code, department_code)
    live = {
        (r["code"], r["department_code"])
        for r in jobs["commune"].table.read().select("code", "department_code").collect()
    }
    indexed = {
        (r["code"], r["department_code"])
        for r in idx.table.read().collect()
    }
    assert indexed == live


def test_dag_fk_indexes_validation(spark, tmp_root):
    from french_admin_etl_spark.operators.secondary_index import SecondaryIndex

    jobs = {}
    for name, schema in (("region", REGION), ("department", DEPARTMENT), ("commune", COMMUNE)):
        t = LakeTable.create(
            spark, os.path.join(tmp_root, name), schema, ["code"],
            num_buckets=4, write_mode="mor",
        )
        jobs[name] = CDCApplyJob(spark, t)
    idx = SecondaryIndex.create(
        spark, jobs["commune"].table, os.path.join(tmp_root, "i1"), ["department_code"]
    )
    ck = CheckpointStore(os.path.join(tmp_root, "i1.json"))
    with pytest.raises(ValueError, match="matches no FK edge"):
        DagApplyJob(jobs, EDGES, fk_indexes={("commune", "name"): (idx, ck)})
    idx2 = SecondaryIndex.create(
        spark, jobs["commune"].table, os.path.join(tmp_root, "i2"), ["name"]
    )
    with pytest.raises(ValueError, match="does not cover"):
        DagApplyJob(
            jobs, EDGES,
            fk_indexes={("commune", "department_code"): (idx2, ck)},
        )
    other = LakeTable.create(
        spark, os.path.join(tmp_root, "communeB"), COMMUNE, ["code"],
        num_buckets=4, write_mode="mor",
    )
    idx3 = SecondaryIndex.create(
        spark, other, os.path.join(tmp_root, "i3"), ["department_code"]
    )
    with pytest.raises(ValueError, match="not built over"):
        DagApplyJob(
            jobs, EDGES,
            fk_indexes={("commune", "department_code"): (idx3, ck)},
        )


def test_dag_fk_index_pre_gate_delete_only_window(spark, tmp_root):
    """gate='pre' + fk_indexes, orphaning delete ALONE in its window: the
    gate's index sync runs unconditionally, so the index covers the
    previous window's committed referrers even though the delete window
    carries no child events — the violation must still be prevented
    (reviewer finding: a child-presence condition on the sync left the
    index one window behind forever and this exact stream passed)."""
    from french_admin_etl_spark.operators.secondary_index import SecondaryIndex

    ev = _envelope(
        [
            ("I", "region", {"code": "REG00", "name": "R"}),
            ("I", "department", {"code": "D000", "region_code": "REG00", "name": "D"}),
            ("I", "commune", {"code": "C1", "department_code": "D000", "name": "X", "population": 10}),
            ("D", "department", {"code": "D000"}),  # alone in window 2
        ]
    )
    log = _write_log(spark, tmp_root, ev)
    jobs = {}
    for name, schema in (("region", REGION), ("department", DEPARTMENT), ("commune", COMMUNE)):
        t = LakeTable.create(
            spark, os.path.join(tmp_root, name), schema, ["code"],
            num_buckets=4, write_mode="mor",
        )
        jobs[name] = CDCApplyJob(spark, t)
    idx = SecondaryIndex.create(
        spark, jobs["commune"].table, os.path.join(tmp_root, "fkidx"),
        ["department_code"],
    )
    dag = DagApplyJob(
        jobs, EDGES, writer_id="dag", gate="pre",
        fk_indexes={
            ("commune", "department_code"):
                (idx, CheckpointStore(os.path.join(tmp_root, "fkidx_ck.json")))
        },
    )
    ckpt = CheckpointStore(os.path.join(tmp_root, "c.json"))
    dag.run_incremental(log, ckpt, batch_lsns=3, max_batches=1)  # consistent window 1
    with pytest.raises(FKViolation, match="orphaned"):
        dag.run_incremental(log, ckpt, batch_lsns=3)
    assert dag.last_gate_delete_paths[("commune", "department_code")] == "index"
    # gate='pre' PREVENTED the delete: department row still live
    assert jobs["department"].table.read().count() == 1


def test_dag_window_result_records_gate_wall(spark, tmp_root, cog_events):
    """Every gated window reports its FK-gate wall time — the per-window
    observability an operator sizes windows with (the gate is the
    dominant fixed cost after the fast-path stage fusion)."""
    log = _write_log(spark, tmp_root, cog_events)
    jobs, dag = _mk_dag(spark, tmp_root)
    results = dag.run_incremental(
        log, CheckpointStore(os.path.join(tmp_root, "c.json")), batch_lsns=150
    )
    gated = [r for r in results if any(t in r.tables for t in ("department", "commune"))]
    assert gated and all(r.gate_ms > 0 for r in gated)


def test_deep_fk_check_via_index(spark, tmp_root, cog_events):
    """deep_fk_check(use_indexes=True) audits the narrow index projection
    instead of the full-width child: zeros on a clean stream, and a
    violation deliberately let through (fk_check=False) is still caught
    at index cost."""
    log = _write_log(spark, tmp_root, cog_events)
    jobs, dag, idx = _mk_dag_with_fk_index(spark, tmp_root)
    dag.run_incremental(
        log, CheckpointStore(os.path.join(tmp_root, "c.json")), batch_lsns=40
    )
    assert set(dag.deep_fk_check(use_indexes=True).values()) == {0}

    # let an orphaning delete through (gate off), then audit
    ev = _envelope([("D", "department",
                     {"code": jobs["commune"].table.read()
                      .select("department_code").first()[0]})])
    ev["lsn"] = [10**9]
    root2 = os.path.join(tmp_root, "ung")
    os.makedirs(root2, exist_ok=True)
    log2 = _write_log(spark, root2, ev)
    # fresh writer namespace: the first run's batch-0 fence must not
    # swallow this second driver's batch 0
    ungated = DagApplyJob(
        jobs, EDGES, writer_id="ungated", fk_check=False,
        fk_indexes=dag.fk_indexes,
    )
    ungated.run_incremental(
        log2, CheckpointStore(os.path.join(tmp_root, "c2.json")), batch_lsns=10**10
    )
    with pytest.raises(FKViolation, match="commune.department_code"):
        ungated.deep_fk_check(use_indexes=True)


# ----------------------------------------------------------- group commit


def test_dag_group_commit_coalesces_and_matches_oracle(spark, tmp_root, cog_events):
    """group_commit=4 over a backlog that would be ~16 windows coalesces
    into ~4 applies, final state oracle-exact, FK audit clean, and a
    replay of the SAME run fences every merge to a no-op."""
    log = _write_log(spark, tmp_root, cog_events)
    jobs, dag = _mk_dag(spark, tmp_root)
    ckpt = CheckpointStore(os.path.join(tmp_root, "gc.json"))
    n_lsns = int(cog_events["lsn"].max()) + 1
    per = max(1, n_lsns // 16)
    results = dag.run_incremental(log, ckpt, batch_lsns=per, group_commit=4)
    ungrouped = -(-n_lsns // per)
    assert len(results) <= -(-ungrouped // 4) + 1
    oracle = expected_cog_state(cog_events)
    for name in ("region", "department", "commune"):
        got = _table_pdf(jobs[name])
        oc = oracle[name]
        if name == "commune":
            oc = oc.astype({"population": "int64"})
        pd.testing.assert_frame_equal(got, oc[got.columns])
    assert set(dag.deep_fk_check().values()) == {0}
    # replay with a REWOUND checkpoint: same grouping, everything fences
    replay = dag.run_incremental(
        log, CheckpointStore(os.path.join(tmp_root, "gc2.json")),
        batch_lsns=per, group_commit=4,
    )
    assert all(
        br.merge is not None and br.merge.fenced
        for r in replay
        for br in r.tables.values()
    )
    for name in ("region", "department", "commune"):
        got = _table_pdf(jobs[name])
        oc = oracle[name]
        if name == "commune":
            oc = oc.astype({"population": "int64"})
        pd.testing.assert_frame_equal(got, oc[got.columns])


def test_dag_group_commit_pinned_window_survives_regrouping(spark, tmp_root, cog_events):
    """The planned group is pinned into the checkpoint BEFORE applying —
    a crash replay must reuse the identical window bounds even when
    invoked with a different group_commit (the fence-safety contract:
    reusing a fenced batch_id over a WIDER window would silently skip
    the never-applied tail)."""
    log = _write_log(spark, tmp_root, cog_events)
    jobs, dag = _mk_dag(spark, tmp_root)
    ckpt = CheckpointStore(os.path.join(tmp_root, "pin.json"))
    # simulate the crash state: group [0, 100) planned and pinned but not
    # applied (batch_id 0 never committed anything)
    ckpt.save({"batch_id": 0, "next_lsn": 0, "pending_hi": 100})
    results = dag.run_incremental(log, ckpt, batch_lsns=50, group_commit=16)
    assert (results[0].lo, results[0].hi) == (0, 100)  # pinned, not 16*50
    # after the pinned group, grouping resumes at the CALLER's width
    assert results[1].lo == 100
    oracle = expected_cog_state(cog_events)
    got = _table_pdf(jobs["commune"])
    pd.testing.assert_frame_equal(
        got, oracle["commune"].astype({"population": "int64"})[got.columns]
    )
    assert set(dag.deep_fk_check().values()) == {0}


def test_dag_group_commit_one_is_identity(spark, tmp_root, cog_events):
    """group_commit=1 must behave exactly like the ungrouped driver —
    same window count; the per-window pin is cleaned up by each
    post-apply checkpoint, so none is left behind."""
    log = _write_log(spark, tmp_root, cog_events)
    jobs, dag = _mk_dag(spark, tmp_root)
    ckpt = CheckpointStore(os.path.join(tmp_root, "id.json"))
    results = dag.run_incremental(log, ckpt, batch_lsns=150, group_commit=1)
    n_lsns = int(cog_events["lsn"].max()) + 1
    assert len(results) == -(-n_lsns // 150)
    assert "pending_hi" not in (ckpt.load() or {})


# ------------------------------------------------------- quarantine drain


def _mk_dag_q(spark, tmp_root):
    jobs = {}
    for name, schema in (("region", REGION), ("department", DEPARTMENT), ("commune", COMMUNE)):
        t = LakeTable.create(
            spark, os.path.join(tmp_root, name), schema, ["code"],
            num_buckets=4, write_mode="mor",
        )
        jobs[name] = CDCApplyJob(spark, t)
    return jobs, DagApplyJob(
        jobs, EDGES, writer_id="dag", gate="pre", on_violation="record",
        quarantine_dir=os.path.join(tmp_root, "quarantine"),
    )


def test_dag_requeue_after_upstream_repair(spark, tmp_root):
    """E2E drain, upstream-fixed shape: a window referencing a
    not-yet-arrived parent is quarantined (durable record); a LATER
    window delivers the parent; requeue_quarantined replays the
    quarantined window, the gate passes, the record drains, the FK audit
    is green, and NO event is lost (final state equals the full-log
    oracle)."""
    ev = _envelope(
        [
            # window [0,3): consistent bootstrap (lsn 1..2 + filler)
            ("I", "region", {"code": "REG00", "name": "R"}),
            ("I", "department", {"code": "D000", "region_code": "REG00", "name": "D"}),
            # window [3,6): poison (D999 not yet arrived) + a good row
            ("I", "commune", {"code": "C1", "department_code": "D999", "name": "X", "population": 1}),
            ("I", "commune", {"code": "C2", "department_code": "D000", "name": "Y", "population": 2}),
            ("U", "region", {"code": "REG00", "name": "R"}),
            # window [6,9): the upstream repair — D999 arrives, plus C3
            ("I", "department", {"code": "D999", "region_code": "REG00", "name": "L"}),
            ("I", "commune", {"code": "C3", "department_code": "D999", "name": "Z", "population": 3}),
        ]
    )
    log = _write_log(spark, tmp_root, ev)
    jobs, dag = _mk_dag_q(spark, tmp_root)
    ckpt = CheckpointStore(os.path.join(tmp_root, "c.json"))
    results = dag.run_incremental(log, ckpt, batch_lsns=3)
    assert sum(1 for r in results if r.violations) == 1
    recs = dag.quarantined()
    assert len(recs) == 1 and (recs[0]["lo"], recs[0]["hi"]) == (3, 6)
    assert "D999" in recs[0]["violations"][0]
    # later consistent window applied while the poison one sat quarantined
    assert {r["code"] for r in jobs["commune"].table.read().collect()} == {"C3"}

    drained = dag.requeue_quarantined(log)
    assert len(drained) == 1 and not drained[0].violations
    assert dag.quarantined() == []  # record removed
    # no event lost: every commune of the full log is live and correct
    got = {
        r["code"]: (r["department_code"], r["population"])
        for r in jobs["commune"].table.read().collect()
    }
    assert got == {"C1": ("D999", 1), "C2": ("D000", 2), "C3": ("D999", 3)}
    assert set(dag.deep_fk_check().values()) == {0}
    # drain again: nothing queued, nothing applied
    assert dag.requeue_quarantined(log) == []


def test_dag_requeue_with_repair_predicate(spark, tmp_root):
    """E2E drain, shed shape: the referenced parent never arrives, so the
    operator drains with a repair predicate that DROPS the poison events;
    the window's good rows land, the record drains, audit green. A drain
    attempt WITHOUT repair first re-quarantines (still poison)."""
    ev = _envelope(
        [
            ("I", "region", {"code": "REG00", "name": "R"}),
            ("I", "department", {"code": "D000", "region_code": "REG00", "name": "D"}),
            ("I", "commune", {"code": "C1", "department_code": "D999", "name": "X", "population": 1}),
            ("I", "commune", {"code": "C2", "department_code": "D000", "name": "Y", "population": 2}),
            ("U", "region", {"code": "REG00", "name": "R"}),
        ]
    )
    log = _write_log(spark, tmp_root, ev)
    jobs, dag = _mk_dag_q(spark, tmp_root)
    ckpt = CheckpointStore(os.path.join(tmp_root, "c.json"))
    dag.run_incremental(log, ckpt, batch_lsns=3)
    assert len(dag.quarantined()) == 1
    # unrepaired drain: still poison -> still quarantined, nothing lands
    attempt = dag.requeue_quarantined(log)
    assert attempt[0].violations and len(dag.quarantined()) == 1
    assert jobs["commune"].table.read().count() == 0
    drained = dag.requeue_quarantined(
        log,
        repair_where=(
            "not (table = 'commune' "
            "and get_json_object(payload, '$.department_code') = 'D999')"
        ),
    )
    assert not drained[0].violations
    assert dag.quarantined() == []
    got = {r["code"] for r in jobs["commune"].table.read().collect()}
    assert got == {"C2"}  # poison shed, good row recovered
    assert set(dag.deep_fk_check().values()) == {0}


def test_dag_requeue_out_of_order_drain_loses_nothing(spark, tmp_root):
    """Round-5 review regression: TWO quarantined windows whose repairs
    arrive out of batch order. Drain 1: the EARLIER window still violates
    (record kept) while the LATER one applies cleanly. Drain 2: the
    earlier window is repaired and must ACTUALLY LAND — under a shared
    monotonic ``.rq`` fence namespace the later window's drain had already
    advanced the fence past the earlier batch_id, so its replay fenced to
    no-ops, the empty-violations result deleted the record, and the
    window's events were silently lost. Per-window ``.rq<batch_id>``
    namespaces keep each drain on its own fence sequence."""
    ev = _envelope(
        [
            # window [0,3): consistent bootstrap (lsn 1..2)
            ("I", "region", {"code": "REG00", "name": "R"}),
            ("I", "department", {"code": "D000", "region_code": "REG00", "name": "D"}),
            # window [3,6) = batch 1: poison A (D998 never arrives) + good CA
            ("I", "commune", {"code": "C1", "department_code": "D998", "name": "X", "population": 1}),
            ("I", "commune", {"code": "CA", "department_code": "D000", "name": "A", "population": 7}),
            ("U", "region", {"code": "REG00", "name": "R"}),
            # window [6,9) = batch 2: poison B (D999 arrives later)
            ("I", "commune", {"code": "C2", "department_code": "D999", "name": "Y", "population": 2}),
            ("U", "region", {"code": "REG00", "name": "R"}),
            ("U", "region", {"code": "REG00", "name": "R"}),
            # window [9,12) = batch 3: D999 arrives -> repairs B, not A
            ("I", "department", {"code": "D999", "region_code": "REG00", "name": "L"}),
            ("U", "region", {"code": "REG00", "name": "R"}),
            ("U", "region", {"code": "REG00", "name": "R"}),
        ]
    )
    log = _write_log(spark, tmp_root, ev)
    jobs, dag = _mk_dag_q(spark, tmp_root)
    ckpt = CheckpointStore(os.path.join(tmp_root, "c.json"))
    results = dag.run_incremental(log, ckpt, batch_lsns=3)
    assert sum(1 for r in results if r.violations) == 2
    assert [(r["lo"], r["hi"]) for r in dag.quarantined()] == [(3, 6), (6, 9)]

    # drain 1: A (batch 1) still violates, B (batch 2) applies cleanly
    drained = dag.requeue_quarantined(log)
    assert [bool(r.violations) for r in drained] == [True, False]
    assert [(r["lo"], r["hi"]) for r in dag.quarantined()] == [(3, 6)]
    assert {r["code"] for r in jobs["commune"].table.read().collect()} == {"C2"}

    # drain 2: A repaired by shedding its poison row; its surviving good
    # row CA must land even though a LATER-batch window drained first
    drained = dag.requeue_quarantined(
        log,
        repair_where=(
            "not (table = 'commune' "
            "and get_json_object(payload, '$.department_code') = 'D998')"
        ),
    )
    assert len(drained) == 1 and not drained[0].violations
    assert dag.quarantined() == []
    got = {
        r["code"]: (r["department_code"], r["population"])
        for r in jobs["commune"].table.read().collect()
    }
    assert got == {"CA": ("D000", 7), "C2": ("D999", 2)}
    assert set(dag.deep_fk_check().values()) == {0}


def test_dag_rename_window_replays_after_crash(spark, tmp_root):
    """Crash AFTER a mid-window rename evolve applied but BEFORE the
    checkpoint advanced: the replayed window's _parse_schema sees only the
    NEW name in the snapshot — indexing fields[from] raised KeyError and
    wedged the stream on every rerun (review finding). The replay must
    parse (old name re-exposed for the fenced pre-rename epochs) and leave
    the state unchanged."""
    ev = _envelope(
        [
            ("I", "region", {"code": "REG00", "name": "R"}),
            ("I", "department", {"code": "D000", "region_code": "REG00", "name": "D"}),
            ("I", "commune", {"code": "C1", "department_code": "D000", "name": "X", "population": 10}),
            (
                "SCHEMA", "commune", None, 2,
                json.dumps({"action": "rename_column", "from": "name", "to": "label"}),
            ),
            ("U", "commune", {"code": "C1", "department_code": "D000", "label": "Renamed", "population": 12}),
        ]
    )
    log = _write_log(spark, tmp_root, ev)
    jobs, dag = _mk_dag(spark, tmp_root)
    ck = os.path.join(tmp_root, "c.json")
    dag.run_incremental(log, CheckpointStore(ck), batch_lsns=10**9)
    want = jobs["commune"].table.read().collect()[0].asDict()
    assert want["label"] == "Renamed"
    os.remove(ck)  # simulated crash before any checkpoint write
    dag.run_incremental(log, CheckpointStore(ck), batch_lsns=10**9)  # must not raise
    assert jobs["commune"].table.read().collect()[0].asDict() == want


def test_dag_fast_path_audit_idempotent_and_backfilled(spark, tmp_root):
    """Fast-path audit sinks across a crash replay: dead-letter partitions
    must not duplicate (per-batch overwrite), and a lineage partition lost
    between a table's commit and its after-commit write must be BACKFILLED
    by the fenced replay (review findings, both directions)."""
    import shutil

    ev = _envelope(
        [
            ("I", "region", {"code": "REG00", "name": "R"}),
            ("I", "department", {"code": "D000", "region_code": "REG00", "name": "D"}),
            ("I", "commune", {"code": "C1", "department_code": "D000", "name": "X", "population": 10}),
            ("I", "commune", {"code": None, "department_code": "D000", "name": "bad", "population": 1}),
        ]
    )
    log = _write_log(spark, tmp_root, ev)
    jobs = {}
    for name, schema in (("region", REGION), ("department", DEPARTMENT), ("commune", COMMUNE)):
        t = LakeTable.create(
            spark, os.path.join(tmp_root, name), schema, ["code"],
            num_buckets=4, write_mode="mor",
        )
        jobs[name] = CDCApplyJob(
            spark, t,
            dead_letter_dir=os.path.join(tmp_root, f"dl_{name}"),
            lineage_dir=os.path.join(tmp_root, f"lin_{name}"),
        )
    dag = DagApplyJob(jobs, EDGES, writer_id="dag")
    ck = os.path.join(tmp_root, "c.json")
    dag.run_incremental(log, CheckpointStore(ck), batch_lsns=10**9)

    dl_dir = jobs["commune"].dead_letter_dir
    lin_dir = jobs["commune"].lineage_dir
    assert spark.read.parquet(dl_dir).count() == 1
    lin_part = os.path.join(lin_dir, "batch_id=0")
    assert os.path.isdir(lin_part)
    lin_before = spark.read.parquet(lin_dir).count()

    # simulate a crash between the commune commit and its lineage write:
    # the partition is gone, the fence is advanced
    shutil.rmtree(lin_part)
    os.remove(ck)
    replay = dag.run_incremental(log, CheckpointStore(ck), batch_lsns=10**9)
    assert spark.read.parquet(dl_dir).count() == 1  # no duplicate rejects
    assert os.path.isdir(lin_part)  # lineage backfilled by the fenced replay
    assert spark.read.parquet(lin_dir).count() == lin_before
    # the fenced replay's result reports the REAL reject count from the
    # dead-letter partition, not a hardcoded 0 (review finding: crash
    # replays undercounted monitoring on exactly the runs that matter)
    assert replay[0].tables["commune"].n_rejects == 1
    assert replay[0].tables["commune"].merge.fenced


def test_deep_fk_check_large_parent_shuffle_joins(spark, tmp_root):
    """With the size threshold forced to 0 every parent counts as LARGE:
    deep_fk_check must shuffle-join instead of broadcasting the full
    parent key set (at a 10^8-key dimension the broadcast fails the
    driver — review finding), and the audit result is unchanged."""
    ev = _envelope(
        [
            ("I", "region", {"code": "REG00", "name": "R"}),
            ("I", "department", {"code": "D000", "region_code": "REG00", "name": "D"}),
            ("I", "commune", {"code": "C1", "department_code": "D000", "name": "X", "population": 10}),
        ]
    )
    log = _write_log(spark, tmp_root, ev)
    jobs, dag = _mk_dag(spark, tmp_root)
    dag.run_incremental(
        log, CheckpointStore(os.path.join(tmp_root, "c.json")), batch_lsns=10**9
    )
    dag.gate_keyfilter_min_rows = 0  # force the no-broadcast audit path
    counts = dag.deep_fk_check()
    assert all(v == 0 for v in counts.values())
    # sanity: the small-parent default still audits identically
    dag.gate_keyfilter_min_rows = 2_000_000
    assert dag.deep_fk_check() == counts
