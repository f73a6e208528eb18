"""Replay-equivalence golden tests (SURVEY §5 engine strategy):
streamed vs one-batch vs checkpoint-restart must converge to the identical
final state, verified by per-row content sha256 equality — the reference's
idempotent-upsert property T5 promoted to the acceptance criterion, plus
the BASELINE.json mandated scenarios."""

import os

import pytest
from pyspark.sql import functions as F

from french_admin_etl_spark.datagen import expected_final_state, gen_change_events
from french_admin_etl_spark.sources.event_log import EVENT_SCHEMA, EventLog
from french_admin_etl_spark.streaming.apply import KEYS, REPOS_SCHEMA, CDCApplyJob
from french_admin_etl_spark.streaming.checkpoint import CheckpointStore
from french_admin_etl_spark.table.lake_table import LakeTable


def _write_log(spark, tmp_root, ev):
    log_dir = os.path.join(tmp_root, "events")
    spark.createDataFrame(ev, schema=EVENT_SCHEMA).write.mode("overwrite").parquet(log_dir)
    return EventLog(spark, log_dir)


def _mk(spark, tmp_root, name="repos", **job_kw):
    table = LakeTable.create(
        spark, os.path.join(tmp_root, name), REPOS_SCHEMA, KEYS, num_buckets=8
    )
    return table, CDCApplyJob(spark, table, **job_kw)


def _sha_state(table):
    return {(r["repo"], r["path"]): r["content_sha"] for r in table.read().collect()}


def _oracle_state(ev):
    o = expected_final_state(ev)
    return {(r.repo, r.path): r.content_sha for r in o.itertuples()}


@pytest.fixture(scope="module")
def events():
    return gen_change_events(
        n_events=2000, n_keys=300, seed=11, duplicate_rate=0.04, delete_rate=0.08, shuffle_window=60
    )


def test_one_shot_batch_matches_oracle(spark, tmp_root, events):
    log = _write_log(spark, tmp_root, events)
    table, job = _mk(spark, tmp_root)
    res = job.apply_batch(log.read(), batch_id=0)
    assert res.merge is not None and not res.merge.fenced
    assert _sha_state(table) == _oracle_state(events)


def test_incremental_batches_match_oracle(spark, tmp_root, events):
    log = _write_log(spark, tmp_root, events)
    table, job = _mk(spark, tmp_root)
    ckpt = CheckpointStore(os.path.join(tmp_root, "ckpt.json"))
    results = job.run_incremental(log, ckpt, batch_lsns=500)
    assert len(results) == 5  # windows [0,500) .. [2000,2500): lsn 1..2000
    assert _sha_state(table) == _oracle_state(events)


def test_checkpoint_restart_reconverges(spark, tmp_root, events):
    """Kill after 2 batches, LOSE the last checkpoint write, restart."""
    log = _write_log(spark, tmp_root, events)
    table, job = _mk(spark, tmp_root)
    ckpt = CheckpointStore(os.path.join(tmp_root, "ckpt.json"))
    job.run_incremental(log, ckpt, batch_lsns=500, max_batches=2)
    state = ckpt.load()
    state["next_lsn"] -= 500
    state["batch_id"] -= 1
    ckpt.save(state)  # simulate crash between table commit and checkpoint
    results = job.run_incremental(log, ckpt, batch_lsns=500)
    assert any(r.merge is not None and r.merge.fenced for r in results[:1])
    assert _sha_state(table) == _oracle_state(events)


def test_full_replay_is_noop(spark, tmp_root, events):
    log = _write_log(spark, tmp_root, events)
    table, job = _mk(spark, tmp_root)
    job.run_incremental(log, CheckpointStore(os.path.join(tmp_root, "c1.json")), batch_lsns=500)
    v = table.current_version()
    job.run_incremental(log, CheckpointStore(os.path.join(tmp_root, "c2.json")), batch_lsns=500)
    assert _sha_state(table) == _oracle_state(events)
    # fenced merges create no new snapshots
    assert table.current_version() == v


def test_delete_then_reinsert_within_one_batch(spark, tmp_root):
    """SURVEY §7 hard-part 2: max-LSN dedup must keep the reinsert."""
    rows = [
        (1, "I", "a", "f", "x1"),
        (2, "D", "a", "f", None),
        (3, "I", "a", "f", "x3"),  # reinsert after delete, same batch
        (4, "I", "b", "g", "y1"),
        (5, "D", "b", "g", None),  # ends deleted
    ]
    ev = spark.createDataFrame(
        [(l, None, op, r, p, None, None, c, 1, None) for (l, op, r, p, c) in rows],
        schema=EVENT_SCHEMA,
    )
    table, job = _mk(spark, tmp_root)
    job.apply_batch(ev, batch_id=0)
    got = {(r["repo"], r["path"]): r["content"] for r in table.read().collect()}
    assert got == {("a", "f"): "x3"}


def test_out_of_order_across_batches(spark, tmp_root):
    """Event delivered one batch LATE must not clobber newer state."""
    table, job = _mk(spark, tmp_root)
    b0 = [(10, "I", "a", "f", "new10")]
    b1 = [(7, "U", "a", "f", "old7"), (12, "U", "b", "g", "first12")]
    for i, rows in enumerate([b0, b1]):
        ev = spark.createDataFrame(
            [(l, None, op, r, p, None, None, c, 1, None) for (l, op, r, p, c) in rows],
            schema=EVENT_SCHEMA,
        )
        job.apply_batch(ev, batch_id=i)
    got = {(r["repo"], r["path"]): r["content"] for r in table.read().collect()}
    assert got == {("a", "f"): "new10", ("b", "g"): "first12"}


def test_mid_stream_schema_change(spark, tmp_root):
    """SURVEY §7 hard-part 3: SCHEMA event interleaved with data events for
    both schema versions, inside ONE batch — epochs apply in LSN order."""
    table, job = _mk(spark, tmp_root)
    rows = [
        (1, "I", "a", "f", "v1", 1, None),
        (2, "SCHEMA", None, None, None, 2, '{"action": "add_column", "name": "stars", "type": "int"}'),
        (3, "U", "a", "f", "v3", 2, None),
        (4, "I", "b", "g", "w1", 2, None),
    ]
    ev = spark.createDataFrame(
        [(l, None, op, r, p, None, None, c, sv, props) for (l, op, r, p, c, sv, props) in rows],
        schema=EVENT_SCHEMA,
    )
    res = job.apply_batch(ev, batch_id=0)
    assert res.schema_evolutions == 1
    snap = table.snapshot()
    assert snap["schema_version"] == 2
    cols = [f["name"] for f in snap["schemas"]["2"]["fields"]]
    assert "stars" in cols
    got = {(r["repo"], r["path"]): r["content"] for r in table.read().collect()}
    assert got == {("a", "f"): "v3", ("b", "g"): "w1"}
    # replaying the same batch is fully fenced even though it contains an
    # evolution (idempotent schema apply + per-epoch fence)
    res2 = job.apply_batch(ev, batch_id=0)
    assert res2.schema_evolutions == 0 and (res2.merge is None or res2.merge.fenced)


def test_rejects_dead_lettered_batch_survives(spark, tmp_root):
    """P5/S9: bad rows quarantined with reasons; good rows applied."""
    dead = os.path.join(tmp_root, "dead")
    table, job = _mk(spark, tmp_root, dead_letter_dir=dead)
    rows = [
        (1, "I", "a", "f", "ok", 1, None),
        (2, "X", "a", "g", "badop", 1, None),
        (3, "I", None, "h", "nullkey", 1, None),
        (4, "I", "b", "i", None, 1, None),  # null content on insert
    ]
    ev = spark.createDataFrame(
        [(l, None, op, r, p, None, None, c, sv, props) for (l, op, r, p, c, sv, props) in rows],
        schema=EVENT_SCHEMA,
    )
    res = job.apply_batch(ev, batch_id=0)
    assert res.n_rejects == 3
    assert {(r["repo"], r["path"]) for r in table.read().collect()} == {("a", "f")}
    dl = spark.read.parquet(dead)
    reasons = {r["_reject_reason"] for r in dl.collect()}
    assert reasons == {"bad_op", "null_key", "null_content"}


def test_determinism_across_parallelism(spark, tmp_root, events):
    """Reference pattern csv_processor_test.go:49-71 (worker counts 1/2/4)
    re-expressed as shuffle-partition counts: identical final state."""
    states = []
    for i, parts in enumerate([1, 4]):
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            log = _write_log(spark, tmp_root, events)
            table, job = _mk(spark, tmp_root, name=f"repos_p{parts}")
            job.run_incremental(
                log, CheckpointStore(os.path.join(tmp_root, f"c{i}.json")), batch_lsns=700
            )
            states.append(_sha_state(table))
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
    assert states[0] == states[1] == _oracle_state(events)


def test_streaming_driver_matches_oracle(spark, tmp_root, events):
    """Structured Streaming foreachBatch driver (availableNow) over the log
    directory written as multiple files → same final state."""
    log_dir = os.path.join(tmp_root, "events_multi")
    (
        spark.createDataFrame(events, schema=EVENT_SCHEMA)
        .repartition(6)
        .write.mode("overwrite")
        .parquet(log_dir)
    )
    log = EventLog(spark, log_dir)
    table, job = _mk(spark, tmp_root)
    results = job.run_stream(log, os.path.join(tmp_root, "sckpt"), max_files_per_trigger=2)
    assert len(results) >= 3  # several micro-batches
    assert _sha_state(table) == _oracle_state(events)


def test_streaming_driver_coalesce_mode_partial_updates(spark, tmp_root):
    """Structured Streaming driver × MOR × merge_mode='coalesce': partial
    update events (only some columns set per event, split across
    micro-batch files) converge to the per-column last-non-null state —
    the S7 semantics riding the streaming exactly-once machinery."""
    import pandas as pd

    from french_admin_etl_spark.streaming.apply import CDCApplyJob
    from french_admin_etl_spark.table.lake_table import LakeTable

    rows = [
        # lsn, op, repo, path, commit, lang, content
        (1, "I", "r", "a", "c1", "py", "v1"),
        (2, "I", "r", "b", "c1", "go", "w1"),
        (3, "U", "r", "a", None, None, "v2"),    # partial: content only
        (4, "U", "r", "b", None, "rs", None),    # partial: lang only
        (5, "D", "r", "b", None, None, None),    # delete b
        (6, "U", "r", "a", "c6", None, None),    # partial: commit only
        (7, "I", "r", "b", None, None, "w7"),    # partial reinsert
    ]
    pdf = pd.DataFrame(
        {
            "lsn": [r[0] for r in rows],
            "ts": pd.Timestamp("2024-01-01"),
            "op": [r[1] for r in rows],
            "repo": [r[2] for r in rows],
            "path": [r[3] for r in rows],
            "commit": [r[4] for r in rows],
            "lang": [r[5] for r in rows],
            "content": [r[6] for r in rows],
            "schema_version": pd.array([None] * len(rows), dtype="Int32"),
            "props": [None] * len(rows),
        }
    )
    log_dir = os.path.join(tmp_root, "coal_log")
    (
        spark.createDataFrame(pdf, schema=EVENT_SCHEMA)
        .repartition(4)
        .write.mode("overwrite")
        .parquet(log_dir)
    )
    table = LakeTable.create(
        spark, os.path.join(tmp_root, "coal_t"), REPOS_SCHEMA, KEYS,
        num_buckets=4, write_mode="mor",
    )
    job = CDCApplyJob(spark, table, merge_mode="coalesce")
    results = job.run_stream(
        EventLog(spark, log_dir), os.path.join(tmp_root, "coal_ck"),
        max_files_per_trigger=1,
    )
    assert len(results) >= 2  # several micro-batches
    got = {
        r["path"]: (r["commit"], r["lang"], r["content"])
        for r in table.read().collect()
    }
    assert got == {
        "a": ("c6", "py", "v2"),   # per-column last-non-null across batches
        "b": (None, None, "w7"),   # no resurrection through the delete
    }


def test_coalesce_apply_volume_vs_pandas_oracle(spark, tmp_root):
    """Volume e2e for the S7 coalesce path: 30k events where HALF the
    updates are partial (random non-empty column subsets), plus deletes,
    redelivery duplicates, and bounded out-of-order delivery — applied
    through the full job (validate → dedup_coalesce → MOR barrier merge →
    per-column resolution) and compared column-by-column against the
    per-event pandas coalesce oracle."""
    from french_admin_etl_spark import datagen
    from french_admin_etl_spark.streaming.apply import CDCApplyJob
    from french_admin_etl_spark.table.lake_table import LakeTable

    ev = datagen.gen_change_events(
        n_events=30_000, n_keys=2_000, seed=77, delete_rate=0.06,
        duplicate_rate=0.03, shuffle_window=40, partial_update_rate=0.5,
    )
    log_dir = os.path.join(tmp_root, "coal_vol_log")
    spark.createDataFrame(ev, schema=EVENT_SCHEMA).repartition(8).write.mode(
        "overwrite"
    ).parquet(log_dir)
    table = LakeTable.create(
        spark, os.path.join(tmp_root, "coal_vol_t"), REPOS_SCHEMA, KEYS,
        num_buckets=8, write_mode="mor",
    )
    job = CDCApplyJob(spark, table, merge_mode="coalesce")
    job.run_incremental(
        EventLog(spark, log_dir),
        CheckpointStore(os.path.join(tmp_root, "coal_vol.ck")),
        batch_lsns=5_000,
    )
    exp = {
        (r.repo, r.path): (r.commit, r.lang, r.content, r.content_sha)
        for r in datagen.expected_final_state_coalesce(ev).itertuples(index=False)
    }
    got = {
        (r["repo"], r["path"]): (r["commit"], r["lang"], r["content"], r["content_sha"])
        for r in table.read().collect()
    }
    assert len(got) == len(exp)
    mism = {k: (got[k], exp[k]) for k in exp if got.get(k) != exp[k]}
    assert not mism, f"{len(mism)} mismatches, first: {list(mism.items())[:2]}"


def test_production_day_ingest_with_interleaved_maintenance(spark, tmp_root):
    """Capstone: a sustained ingest loop with the full maintenance trio
    interleaved — balanced micro-batches over a growing log, compaction,
    snapshot expiration, age-guarded vacuum, and a sorted-layout rewrite
    — must end byte-identical to the pandas oracle, with bounded metadata
    and no delta backlog. This is the shape of a real day of operation."""
    from french_admin_etl_spark import datagen
    from french_admin_etl_spark.streaming.apply import CDCApplyJob
    from french_admin_etl_spark.table.lake_table import LakeTable

    log_dir = os.path.join(tmp_root, "day_log")
    table = LakeTable.create(
        spark, os.path.join(tmp_root, "day_t"), REPOS_SCHEMA, KEYS,
        num_buckets=8, write_mode="mor",
        properties={"compact.max-delta-files": 4},
    )
    job = CDCApplyJob(spark, table)
    ckpt = CheckpointStore(os.path.join(tmp_root, "day.ck"))

    chunks = []
    base_lsn = 0
    for phase, seed in enumerate((101, 102, 103)):
        ev = datagen.gen_change_events(
            n_events=8_000, n_keys=600, seed=seed, delete_rate=0.06,
            duplicate_rate=0.02, shuffle_window=50,
        )
        ev["lsn"] = ev["lsn"] + base_lsn
        base_lsn = int(ev["lsn"].max())
        mode = "append" if chunks else "overwrite"
        spark.createDataFrame(ev, schema=EVENT_SCHEMA).write.mode(mode).parquet(log_dir)
        chunks.append(ev)

        job.run_incremental_balanced(
            EventLog(spark, log_dir), ckpt, batch_events=3_000
        )
        # scheduler tick: maintenance between ingest windows
        table.compact()
        table.expire_snapshots(keep_last=3)
        table.vacuum_orphans(min_age_sec=0)  # offline-window semantics
        if phase == 1:
            table.optimize_sort()

    import pandas as pd

    allev = pd.concat(chunks, ignore_index=True)
    exp = {
        (r.repo, r.path): r.content_sha
        for r in datagen.expected_final_state(allev).itertuples()
    }
    got = {
        (r["repo"], r["path"]): r["content_sha"]
        for r in table.read().select("repo", "path", "content_sha").collect()
    }
    assert got == exp
    # operational invariants: bounded metadata, no delta backlog
    snap = table.snapshot()
    assert len(table.history()) <= 4  # keep_last=3 + the post-expire commits
    assert not any(g.get("delta") for g in snap["file_groups"])
    # and the table is still fully serviceable
    table.merge(
        spark.createDataFrame(
            [("rZ", "pZ", "c", "py", "final", "sZ", base_lsn + 10, "I")],
            "repo string, path string, commit string, lang string,"
            " content string, content_sha string, lsn long, op string",
        ),
        batch_id=10_000,
    )
    assert table.lookup([("rZ", "pZ")]).count() == 1


def test_extreme_hot_key_skew_converges(spark, tmp_root):
    """Worst-case skew: ONE key receives half of a 60k-event stream (the
    'popular repo' pathology the north_star names). The apply path must
    stay correct — dedup_max_seq's map-side partial aggregation reduces
    the hot key to one row per map task before the shuffle, so no single
    task accumulates the flood — and the final state must match the
    oracle exactly, including the hot key's last write."""
    import numpy as np
    import pandas as pd

    from french_admin_etl_spark import datagen
    from french_admin_etl_spark.streaming.apply import CDCApplyJob
    from french_admin_etl_spark.table.lake_table import LakeTable

    ev = datagen.gen_change_events(n_events=60_000, n_keys=3_000, seed=88)
    # redirect half of all events onto a single hot key
    rng = np.random.default_rng(5)
    hot = rng.random(len(ev)) < 0.5
    ev.loc[hot, "repo"] = "hot_repo"
    ev.loc[hot, "path"] = "hot_path"
    # re-derive content so the oracle's sha matches what the engine hashes
    ev.loc[hot & (ev["op"] != "D"), "content"] = (
        "hot v" + ev.loc[hot & (ev["op"] != "D"), "lsn"].astype(str)
    )
    log_dir = os.path.join(tmp_root, "skew_log")
    spark.createDataFrame(ev, schema=EVENT_SCHEMA).repartition(16).write.mode(
        "overwrite"
    ).parquet(log_dir)
    table = LakeTable.create(
        spark, os.path.join(tmp_root, "skew_t"), REPOS_SCHEMA, KEYS,
        num_buckets=8, write_mode="mor",
    )
    job = CDCApplyJob(spark, table)
    job.run_incremental(
        EventLog(spark, log_dir),
        CheckpointStore(os.path.join(tmp_root, "skew.ck")),
        batch_lsns=15_000,
    )
    exp = {
        (r.repo, r.path): r.content_sha
        for r in datagen.expected_final_state(ev).itertuples()
    }
    got = {
        (r["repo"], r["path"]): r["content_sha"]
        for r in table.read().select("repo", "path", "content_sha").collect()
    }
    assert got == exp
    assert ("hot_repo", "hot_path") in got  # the flooded key landed correctly


def test_stray_column_only_update_still_dead_letters(spark, tmp_root):
    """Coalesce mode: an update whose ONLY set field is a column the table
    does not have and no SCHEMA event in the batch introduces must be
    dead-lettered as an all-null update — not silently normalized into an
    empty upsert (reviewer finding on the evolution-aware payload cols).
    A column a same-batch SCHEMA event IS adding still validates."""
    from pyspark.sql import types as T

    table, job = _mk(spark, tmp_root, merge_mode="coalesce")
    ev_schema = T.StructType(
        list(EVENT_SCHEMA.fields) + [T.StructField("stray", T.StringType())]
    )
    rows = [
        (1, None, "I", "a", "f", "c1", "py", "v1", 1, None, None),
        # only 'stray' set: table will never have it -> all-null update
        (2, None, "U", "a", "f", None, None, None, 1, None, "oops"),
    ]
    ev = spark.createDataFrame(rows, schema=ev_schema)
    res = job.apply_batch(ev, batch_id=0)
    assert res.n_rejects == 1
    got = {(r["repo"], r["path"]): r["content"] for r in table.read().collect()}
    assert got == {("a", "f"): "v1"}


def test_stream_after_incremental_applies_fresh_events(spark, tmp_root, events):
    """Driver switch: run_incremental advances the shared-sequence fence;
    a later run_stream (fresh checkpoint, epoch ids from 0) must APPLY
    fresh events, not fence them out against the batch driver's
    high-water mark (reviewer-found silent data loss) — the stream fence
    is namespaced per checkpoint-dir uid."""
    log_dir = os.path.join(tmp_root, "events_sw")
    spark.createDataFrame(events, schema=EVENT_SCHEMA).repartition(2).write.mode(
        "overwrite"
    ).parquet(log_dir)
    table, job = _mk(spark, tmp_root)
    job.run_incremental(
        EventLog(spark, log_dir),
        CheckpointStore(os.path.join(tmp_root, "ck_sw.json")),
        batch_lsns=1000,
    )
    assert _sha_state(table) == _oracle_state(events)
    # a fresh event lands as a new log file; operator switches drivers
    mx = int(events["lsn"].max())
    extra = [(mx + 1, None, "U", "r0", "p0", "c9", "py", "SWITCHED", 1, None)]
    spark.createDataFrame(extra, schema=EVENT_SCHEMA).write.mode("append").parquet(log_dir)
    job.run_stream(
        EventLog(spark, log_dir), os.path.join(tmp_root, "s_sw"), max_files_per_trigger=64
    )
    row = (
        table.read()
        .filter((F.col("repo") == "r0") & (F.col("path") == "p0"))
        .collect()
    )
    assert row and row[0]["content"] == "SWITCHED"


def test_crash_plus_grown_log_replays_pinned_window(spark, tmp_root):
    """The corner the pending-window pin + clamp exist for (round-5
    self-review): the final window is planned over a log that ends at
    lsn 800 with batch_lsns=1000, the table commit lands, the process
    dies BEFORE the checkpoint advances, and the log then grows past
    800. The rerun must replay the PINNED [0, 801) window (fenced
    no-op) and apply the new tail in its own window. The old
    unpinned/unclamped planner would re-window [0, 1000) — the fence
    no-ops it, folding the newly-arrived lsn 801..999 into the skip,
    and next_lsn=1000 then buries them forever."""
    import pandas as pd

    ev1 = gen_change_events(
        n_events=800, n_keys=200, seed=31, duplicate_rate=0.03,
        delete_rate=0.05, shuffle_window=40,
    )
    log_dir = os.path.join(tmp_root, "grow_events")
    spark.createDataFrame(ev1, schema=EVENT_SCHEMA).write.mode("overwrite").parquet(log_dir)
    log = EventLog(spark, log_dir)
    table, job = _mk(spark, tmp_root, name="grow_t")
    ckpt = CheckpointStore(os.path.join(tmp_root, "grow.ck"))
    job.run_incremental(log, ckpt, batch_lsns=1000)
    # the planner clamps to the log's end — next_lsn never overshoots
    assert ckpt.load()["next_lsn"] == 801
    # crash between table commit and checkpoint advance: the on-disk
    # state is exactly the pre-apply pin
    ckpt.save({"batch_id": 0, "next_lsn": 0, "pending_hi": 801})
    ev2 = gen_change_events(
        n_events=600, n_keys=200, seed=32, duplicate_rate=0.03,
        delete_rate=0.05, shuffle_window=40,
    )
    ev2["lsn"] = ev2["lsn"] + 800
    spark.createDataFrame(ev2, schema=EVENT_SCHEMA).write.mode("append").parquet(log_dir)
    results = job.run_incremental(log, ckpt, batch_lsns=1000)
    # pinned window replays as a fenced no-op, then the tail applies
    assert results[0].merge is not None and results[0].merge.fenced
    assert len(results) == 2
    allev = pd.concat([ev1, ev2], ignore_index=True)
    assert _sha_state(table) == _oracle_state(allev)


def test_audit_sinks_idempotent_across_replay(spark, tmp_root):
    """Replaying a fully-fenced batch must not duplicate its audit rows:
    dead-letter and lineage are per-batch OVERWRITE partitions, so the
    replay rewrites batch_id=<id>/ with the same content instead of
    appending a second copy (review finding — the table merge was
    exactly-once but the append-mode audit sinks were not)."""
    dead = os.path.join(tmp_root, "dead")
    lin = os.path.join(tmp_root, "lin")
    table, job = _mk(spark, tmp_root, dead_letter_dir=dead, lineage_dir=lin)
    rows = [
        (1, "I", "a", "f", "ok", 1, None),
        (2, "X", "a", "g", "badop", 1, None),
        (3, "I", "b", "h", "more", 1, None),
    ]
    ev = spark.createDataFrame(
        [(l, None, op, r, p, None, None, c, sv, props) for (l, op, r, p, c, sv, props) in rows],
        schema=EVENT_SCHEMA,
    )
    job.apply_batch(ev, batch_id=0)
    dl1 = sorted(r["_reject_reason"] for r in spark.read.parquet(dead).collect())
    lin1 = spark.read.parquet(lin).count()
    state1 = _sha_state(table)

    res2 = job.apply_batch(ev, batch_id=0)  # crash replay: fully fenced
    assert res2.merge is not None and res2.merge.fenced
    assert sorted(r["_reject_reason"] for r in spark.read.parquet(dead).collect()) == dl1
    assert spark.read.parquet(lin).count() == lin1
    assert _sha_state(table) == state1

    # a crash between the commit and the lineage write: the fenced replay
    # restores the lost partition without restaging, keeps the table
    # version and the dead-letter rows, and reads the reject count from
    # the dead-letter partition
    import shutil

    v1 = table.current_version()
    shutil.rmtree(os.path.join(lin, "batch_id=0"))
    res3 = job.apply_batch(ev, batch_id=0)
    assert res3.merge.fenced and res3.n_rejects == 1
    assert os.path.isdir(os.path.join(lin, "batch_id=0"))
    assert spark.read.parquet(lin).count() == lin1
    assert sorted(r["_reject_reason"] for r in spark.read.parquet(dead).collect()) == dl1
    assert table.current_version() == v1


def test_checkpoint_store_bare_filename(tmp_root, monkeypatch):
    """Review finding: a checkpoint path with no directory component
    crashed save() (os.makedirs('') raises)."""
    monkeypatch.chdir(tmp_root)
    ck = CheckpointStore("bare_ckpt.json")
    assert ck.load() is None
    ck.save({"batch_id": 3, "next_lsn": 100})
    assert ck.load() == {"batch_id": 3, "next_lsn": 100}
