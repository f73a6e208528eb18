"""Merge-on-read: delta appends + read-side resolution + compaction
must reproduce the oracle state.

The invariant mirrors the engine acceptance criterion (north_rule):
replaying an event log yields the datagen oracle's final state (per-row
content sha equality), through any interleaving of compactions.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from french_admin_etl_spark import datagen
from french_admin_etl_spark.sources.event_log import EVENT_SCHEMA, EventLog
from french_admin_etl_spark.streaming.apply import KEYS, REPOS_SCHEMA, CDCApplyJob
from french_admin_etl_spark.streaming.checkpoint import CheckpointStore
from french_admin_etl_spark.table.lake_table import LakeTable


def _state(table):
    return {
        (r["repo"], r["path"]): r["content_sha"]
        for r in table.read().select("repo", "path", "content_sha").collect()
    }


def _expected(ev):
    return {
        (r.repo, r.path): r.content_sha
        for r in datagen.expected_final_state(ev).itertuples()
    }


@pytest.fixture(scope="module")
def event_log(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("mor_log"))
    ev = datagen.gen_change_events(
        n_events=4000, n_keys=300, seed=11, duplicate_rate=0.04, delete_rate=0.08,
        shuffle_window=60,
    )
    log_dir = os.path.join(root, "events")
    spark.createDataFrame(ev, schema=EVENT_SCHEMA).write.mode("overwrite").parquet(log_dir)
    return ev, EventLog(spark, log_dir)


def _apply(spark, tmp, name, log, write_mode, batch_lsns=500, **table_kw):
    table = LakeTable.create(
        spark, os.path.join(tmp, name), schema=REPOS_SCHEMA, key_cols=KEYS,
        num_buckets=8, write_mode=write_mode, **table_kw
    )
    job = CDCApplyJob(spark, table)
    job.run_incremental(log, CheckpointStore(os.path.join(tmp, f"{name}.ck")), batch_lsns)
    return table


def test_mor_replay_matches_oracle_and_cow(spark, tmp_root, event_log):
    ev, log = event_log
    mor = _apply(spark, tmp_root, "mor", log, "mor")
    assert _state(mor) == _expected(ev)


def test_mor_writes_are_delta_and_compaction_folds(spark, tmp_root, event_log):
    ev, log = event_log
    # threshold high enough that auto-compaction never fires in 8 batches
    mor = _apply(
        spark, tmp_root, "morx", log, "mor",
        properties={"compact.max-delta-files": 99},
    )
    groups = mor.snapshot()["file_groups"]
    assert any(g.get("delta") for g in groups)
    exp = _expected(ev)
    assert _state(mor) == exp  # resolved read over base+delta
    v = mor.compact()
    groups2 = mor.snapshot()["file_groups"]
    assert not any(g.get("delta") for g in groups2)
    assert v == mor.current_version()
    assert _state(mor) == exp  # unchanged by compaction


def test_mor_auto_compaction_caps_delta_files(spark, tmp_root, event_log):
    ev, log = event_log
    mor = _apply(
        spark, tmp_root, "mora", log, "mor",
        properties={"compact.max-delta-files": 2},
    )
    from collections import Counter

    counts = Counter(
        g["bucket"] for g in mor.snapshot()["file_groups"] if g.get("delta")
    )
    assert all(c < 2 for c in counts.values()) or not counts
    assert _state(mor) == _expected(ev)


def test_mor_fencing_replay_noop(spark, tmp_root, event_log):
    ev, log = event_log
    mor = _apply(spark, tmp_root, "morf", log, "mor")
    before = _state(mor)
    job = CDCApplyJob(spark, mor)
    results = job.run_incremental(
        log, CheckpointStore(os.path.join(tmp_root, "morf2.ck")), batch_lsns=500
    )
    assert all(r.merge.fenced for r in results if r.merge is not None)
    assert _state(mor) == before


def test_mor_tombstone_shadows_late_event(spark, tmp_root):
    table = LakeTable.create(
        spark, os.path.join(tmp_root, "ts"), schema=REPOS_SCHEMA, key_cols=KEYS,
        num_buckets=4, write_mode="mor",
    )
    cols = (
        "repo string, path string, commit string, lang string, content string,"
        " content_sha string, lsn long, op string"
    )
    up = spark.createDataFrame(
        [("r", "p", "c1", "py", "v1", "s1", 10, "I")], cols
    )
    de = spark.createDataFrame([("r", "p", None, None, None, None, 20, "D")], cols)
    stale = spark.createDataFrame(
        [("r", "p", "c0", "py", "v0", "s0", 15, "U")], cols
    )
    table.merge(up, batch_id=1)
    table.merge(de, batch_id=2)
    table.merge(stale, batch_id=3)  # out-of-order pre-delete update
    assert table.read().count() == 0  # tombstone (lsn 20) still wins
    table.compact()
    assert table.read().count() == 0
    # vacuum past the watermark physically drops the tombstone
    table.vacuum_tombstones(watermark_lsn=100)
    raw = table.read_raw(resolve=False)
    assert raw.count() == 0


def test_mor_schema_evolution_mid_stream(spark, tmp_root):
    """Delta groups written under different schema versions stitch on read."""
    from french_admin_etl_spark.table.lake_table import SchemaOp

    table = LakeTable.create(
        spark, os.path.join(tmp_root, "se"), schema=REPOS_SCHEMA, key_cols=KEYS,
        num_buckets=4, write_mode="mor",
    )
    cols = (
        "repo string, path string, commit string, lang string, content string,"
        " content_sha string, lsn long, op string"
    )
    table.merge(spark.createDataFrame([("r", "a", "c", "py", "v1", "s1", 1, "I")], cols),
                batch_id=1)
    table.evolve([SchemaOp(action="add_column", name="stars", type="bigint")])
    cols2 = cols.replace(" lsn long", " stars bigint, lsn long")
    table.merge(
        spark.createDataFrame([("r", "b", "c", "py", "v2", "s2", 2, 7, "I")], cols2),
        batch_id=2,
    )
    rows = {r["path"]: r for r in table.read().collect()}
    assert rows["a"]["stars"] is None and rows["b"]["stars"] == 2
    table.compact()
    rows2 = {r["path"]: r for r in table.read().collect()}
    assert rows2["a"]["stars"] is None and rows2["b"]["stars"] == 2


def test_mor_commit_conflict_rebase_retry(spark, tmp_root):
    """A concurrent commit between a MOR merge's snapshot read and its
    commit must not lose either side: the merge rebases its staged deltas
    onto the newest snapshot and retries."""
    import json
    import shutil

    table = LakeTable.create(
        spark, os.path.join(tmp_root, "cc"), schema=REPOS_SCHEMA, key_cols=KEYS,
        num_buckets=4, write_mode="mor",
    )
    cols = (
        "repo string, path string, commit string, lang string, content string,"
        " content_sha string, lsn long, op string"
    )
    table.merge(spark.createDataFrame([("r", "a", "c", "py", "v1", "s1", 1, "I")], cols),
                batch_id=1)

    # simulate a racing writer: pre-create the NEXT version file so the
    # merge's first commit attempt collides
    v = table.current_version()
    racer = dict(table.snapshot())  # snapshot() results are shared/read-only
    racer.update(version=v + 1, parent=v,
                 properties={**racer["properties"], "racer": True})
    with open(table._version_path(v + 1), "w") as fh:
        json.dump(racer, fh)

    stats = table.merge(
        spark.createDataFrame([("r", "b", "c", "py", "v2", "s2", 2, "I")], cols),
        batch_id=2,
    )
    assert stats.snapshot_version == v + 2  # rebased past the racer
    snap = table.snapshot()
    assert snap["properties"].get("racer") is True  # racer's commit survived
    assert {r["path"] for r in table.read().collect()} == {"a", "b"}


def _mk_mor(spark, tmp_root, name, num_buckets=4, **kw):
    return LakeTable.create(
        spark, os.path.join(tmp_root, name), schema=REPOS_SCHEMA, key_cols=KEYS,
        num_buckets=num_buckets, write_mode="mor", **kw
    )


_COLS = (
    "repo string, path string, commit string, lang string, content string,"
    " content_sha string, lsn long, op string"
)


def test_mor_coalesce_partial_merge(spark, tmp_root):
    """S7 partial-column merge on the MOR scale path (round-2 verdict item
    2): per column, the last batch that SET it wins; a null in a coalesce
    delta means "not updated", never "clear"."""
    table = _mk_mor(spark, tmp_root, "coal")
    table.merge(
        spark.createDataFrame([("r", "a", "c1", "py", "v1", "s1", 1, "I")], _COLS),
        batch_id=0, mode="coalesce",
    )
    # partial update: only `content` set; commit/lang/content_sha stay
    table.merge(
        spark.createDataFrame([("r", "a", None, None, "v2", None, 2, "U")], _COLS),
        batch_id=1, mode="coalesce",
    )
    row = table.read().collect()[0].asDict()
    assert row == {
        "repo": "r", "path": "a", "commit": "c1", "lang": "py",
        "content": "v2", "content_sha": "s1",
    }
    # a different partial update: only `lang` set
    table.merge(
        spark.createDataFrame([("r", "a", None, "go", None, None, 3, "U")], _COLS),
        batch_id=2, mode="coalesce",
    )
    row = table.read().collect()[0].asDict()
    assert row["lang"] == "go" and row["content"] == "v2" and row["commit"] == "c1"


def test_mor_coalesce_delete_barrier_and_compaction(spark, tmp_root):
    """A tombstone discards pre-delete column values (no resurrection
    through a delete), and compaction preserves coalesce semantics —
    resolved state is identical before and after folding the deltas."""
    table = _mk_mor(spark, tmp_root, "coalbar")
    table.merge(
        spark.createDataFrame([("r", "a", "c1", "py", "v1", "s1", 1, "I")], _COLS),
        batch_id=0, mode="coalesce",
    )
    table.merge(
        spark.createDataFrame([("r", "a", None, None, None, None, 2, "D")], _COLS),
        batch_id=1, mode="coalesce",
    )
    assert table.read().count() == 0
    # post-delete partial reinsert: pre-delete columns must NOT resurrect
    table.merge(
        spark.createDataFrame([("r", "a", None, None, "v3", None, 3, "I")], _COLS),
        batch_id=2, mode="coalesce",
    )
    before = [r.asDict() for r in table.read().collect()]
    assert before == [
        {"repo": "r", "path": "a", "commit": None, "lang": None,
         "content": "v3", "content_sha": None}
    ]
    table.compact()
    after = [r.asDict() for r in table.read().collect()]
    assert after == before
    # post-compaction partial update still coalesces against the base
    table.merge(
        spark.createDataFrame([("r", "a", "c4", None, None, None, 4, "U")], _COLS),
        batch_id=3, mode="coalesce",
    )
    row = table.read().collect()[0].asDict()
    assert row["commit"] == "c4" and row["content"] == "v3"


def test_mor_coalesce_overwrite_rows_are_barriers(spark, tmp_root):
    """Mixing modes on one table: a later FULL-ROW (overwrite) merge must
    clobber with its nulls; a later coalesce merge must not."""
    table = _mk_mor(spark, tmp_root, "coalmix")
    table.merge(
        spark.createDataFrame([("r", "a", "c1", "py", "v1", "s1", 1, "I")], _COLS),
        batch_id=0, mode="coalesce",
    )
    table.merge(  # overwrite: null commit/lang CLEAR those columns
        spark.createDataFrame([("r", "a", None, None, "v2", "s2", 2, "U")], _COLS),
        batch_id=1, mode="overwrite",
    )
    row = table.read().collect()[0].asDict()
    assert row["commit"] is None and row["lang"] is None and row["content"] == "v2"
    table.merge(  # coalesce after the overwrite: null keeps overwrite's state
        spark.createDataFrame([("r", "a", "c3", None, None, None, 3, "U")], _COLS),
        batch_id=2, mode="coalesce",
    )
    row = table.read().collect()[0].asDict()
    assert row["commit"] == "c3" and row["lang"] is None and row["content"] == "v2"


def test_mor_coalesce_across_schema_evolution(spark, tmp_root):
    """Coalesce resolution through a mid-stream add_column: pre-evolution
    rows are read with the new column null-filled (never participating),
    so a post-evolution partial update owns the new column while the old
    columns still coalesce across the evolution boundary."""
    from french_admin_etl_spark.table.lake_table import SchemaOp

    table = _mk_mor(spark, tmp_root, "coalevo")
    table.merge(
        spark.createDataFrame([("r", "a", "c1", "py", "v1", "s1", 1, "I")], _COLS),
        batch_id=0, mode="coalesce",
    )
    table.evolve([SchemaOp(action="add_column", name="stars", type="int")])
    # partial update post-evolution: only the NEW column set
    table.merge(
        spark.createDataFrame(
            [("r", "a", None, None, None, None, 7, 2, "U")],
            "repo string, path string, commit string, lang string,"
            " content string, content_sha string, stars int, lsn long, op string",
        ),
        batch_id=1, mode="coalesce",
    )
    row = table.read().collect()[0].asDict()
    assert row["stars"] == 7  # new column from the new batch
    assert row["commit"] == "c1" and row["content"] == "v1"  # old ones kept
    table.compact()
    assert table.read().collect()[0].asDict() == row


def test_mor_coalesce_matches_cow_coalesce_replay(spark, tmp_root):
    """Coalesce mode batch-by-batch: a partial-update event stream with a
    delete, a partial reinsert and a mid-stream compaction resolves to
    the per-column last-non-null rows worked out by hand below."""
    batches = [
        [("r", "a", "c1", "py", "v1", "s1", 1, "I"),
         ("r", "b", "c1", "go", "w1", "t1", 2, "I")],
        [("r", "a", None, None, "v2", None, 3, "U"),      # partial: content
         ("r", "b", None, "rs", None, None, 4, "U")],     # partial: lang
        [("r", "b", None, None, None, None, 5, "D")],     # delete b
        [("r", "a", "c6", None, None, None, 6, "U"),      # partial: commit
         ("r", "b", None, None, "w7", None, 7, "I")],     # partial reinsert
    ]
    t = LakeTable.create(
        spark, os.path.join(tmp_root, "cpar_mor"), schema=REPOS_SCHEMA,
        key_cols=KEYS, num_buckets=4, write_mode="mor",
    )

    def rows():
        return sorted((r.asDict() for r in t.read().collect()), key=lambda d: d["path"])

    for i, batch in enumerate(batches):
        t.merge(spark.createDataFrame(batch, _COLS), batch_id=i, mode="coalesce")
        if i == 2:
            t.compact()
            # b's delete folded into a tombstone; a keeps v2 over c1/py/s1
            assert rows() == [
                {"repo": "r", "path": "a", "commit": "c1", "lang": "py",
                 "content": "v2", "content_sha": "s1"},
            ]
    # the reinsert after the delete carries only content: b's pre-delete
    # commit/lang/content_sha stay cleared
    assert rows() == [
        {"repo": "r", "path": "a", "commit": "c6", "lang": "py",
         "content": "v2", "content_sha": "s1"},
        {"repo": "r", "path": "b", "commit": None, "lang": None,
         "content": "w7", "content_sha": None},
    ]


def test_mor_per_writer_fences_independent(spark, tmp_root):
    """Two writers with independent batch-id sequences into ONE table:
    writer B's fresh batch with an id <= writer A's last id must APPLY,
    not be dropped as a replay (per-writer fence namespacing)."""
    table = _mk_mor(spark, tmp_root, "pw")
    a5 = spark.createDataFrame([("r", "a", "c", "py", "va", "sa", 50, "I")], _COLS)
    b1 = spark.createDataFrame([("r", "b", "c", "py", "vb", "sb", 51, "I")], _COLS)
    s1 = table.merge(a5, batch_id=5, writer_id="w_a")
    assert not s1.fenced
    s2 = table.merge(b1, batch_id=1, writer_id="w_b")  # id 1 <= 5, other writer
    assert not s2.fenced, "writer B's first batch was wrongly fenced by writer A"
    assert {r["path"] for r in table.read().collect()} == {"a", "b"}
    # each writer's OWN replay is still fenced
    assert table.merge(a5, batch_id=5, writer_id="w_a").fenced
    assert table.merge(b1, batch_id=1, writer_id="w_b").fenced
    snap = table.snapshot()
    assert snap["properties"]["last_batch_id.w_a"] == 5
    assert snap["properties"]["last_batch_id.w_b"] == 1


def test_mor_concurrent_writers_with_racing_compactor(spark, tmp_root):
    """TRUE concurrent multi-writer e2e (round-2 verdict item 4): two live
    CDCApplyJobs with distinct writer_ids apply disjoint log partitions
    into ONE MOR table from separate threads while a compactor races them.
    Exercises the commit rebase-retry loop under real contention; final
    state must equal the pandas oracle over the union of both logs, and
    both writers' fences must have advanced independently."""
    import threading

    import pandas as pd

    logs, evs = {}, {}
    for w, seed in (("w_a", 51), ("w_b", 52)):
        # disjoint key universes via key_ns → writers never touch the same
        # key (the multi-writer topology: one writer per log partition)
        ev = datagen.gen_change_events(
            n_events=1500, n_keys=150, seed=seed, key_ns=w, delete_rate=0.06
        )
        log_dir = os.path.join(tmp_root, f"log_{w}")
        spark.createDataFrame(ev, schema=EVENT_SCHEMA).write.mode("overwrite").parquet(
            log_dir
        )
        evs[w], logs[w] = ev, EventLog(spark, log_dir)

    root = os.path.join(tmp_root, "multi")
    LakeTable.create(
        spark, root, schema=REPOS_SCHEMA, key_cols=KEYS, num_buckets=4,
        write_mode="mor", properties={"compact.max-delta-files": 64},
    )
    errors = []
    done = threading.Event()

    def run_writer(w):
        try:
            table = LakeTable(spark, root)  # own instance (own snap cache)
            job = CDCApplyJob(spark, table, writer_id=w)
            job.run_incremental(
                logs[w], CheckpointStore(os.path.join(tmp_root, f"{w}.ck")),
                batch_lsns=400,
            )
        except Exception as e:  # noqa: BLE001
            errors.append((w, e))

    def run_compactor():
        table = LakeTable(spark, root)
        from french_admin_etl_spark.table.lake_table import CommitConflict

        while not done.is_set():
            try:
                table.compact()
            except CommitConflict:
                pass  # lost the version race to an ingest writer — retry
            done.wait(0.3)

    threads = [threading.Thread(target=run_writer, args=(w,)) for w in logs]
    compactor = threading.Thread(target=run_compactor)
    compactor.start()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    done.set()
    compactor.join()
    assert not errors, errors

    table = LakeTable(spark, root)
    exp = _expected(pd.concat([evs["w_a"], evs["w_b"]], ignore_index=True))
    assert _state(table) == exp
    props = table.snapshot()["properties"]
    assert "last_batch_id.w_a" in props and "last_batch_id.w_b" in props


def test_mor_equal_lsn_tie_later_commit_wins_deterministically(spark, tmp_root):
    """Equal-LSN rows from different commits (bootstrap base at _lsn=0 vs
    a delta at lsn=0) must resolve deterministically: later commit wins."""
    table = _mk_mor(spark, tmp_root, "tie")
    base = spark.createDataFrame(
        [("r", "a", "c", "py", "boot", "s0")],
        "repo string, path string, commit string, lang string, content string,"
        " content_sha string",
    )
    table.overwrite(base)  # base rows carry _lsn=0
    delta = spark.createDataFrame([("r", "a", "c2", "py", "delta", "s1", 0, "U")], _COLS)
    table.merge(delta, batch_id=0)
    for _ in range(5):  # deterministic across repeated reads
        rows = table.read().collect()
        assert len(rows) == 1 and rows[0]["content"] == "delta"


def test_mor_changes_incremental_read(spark, tmp_root):
    """CDF-style changes(): the rows committed in a snapshot window —
    deletes included as tombstones, per-key deduped to the window's
    latest, stamped with their commit version. A legacy copy-on-write
    table refuses; a window whose deltas were compacted away refuses
    loudly."""
    table = _mk_mor(spark, tmp_root, "cdf", properties={"compact.max-delta-files": 999})
    v0 = table.current_version()
    table.merge(
        spark.createDataFrame(
            [("r", "a", "c", "py", "v1", "s1", 1, "I"),
             ("r", "b", "c", "go", "w1", "t1", 2, "I")], _COLS
        ),
        batch_id=0,
    )
    v1 = table.current_version()
    table.merge(
        spark.createDataFrame(
            [("r", "a", "c", "py", "v2", "s2", 3, "U"),
             ("r", "b", None, None, None, None, 4, "D"),
             ("r", "c", "c", "rs", "x1", "u1", 5, "I")], _COLS
        ),
        batch_id=1,
    )
    v2 = table.current_version()

    # full window: batch-2 rows only, delete visible as tombstone
    ch = {r["path"]: r.asDict() for r in table.changes(v1, v2).collect()}
    assert set(ch) == {"a", "b", "c"}
    assert ch["a"]["content"] == "v2" and not ch["a"]["_deleted"]
    assert ch["b"]["_deleted"] and ch["b"]["_lsn"] == 4
    assert all(r["_commit_version"] == v2 for r in ch.values())

    # window covering both commits: per-key latest change wins
    ch0 = {r["path"]: r.asDict() for r in table.changes(v0).collect()}
    assert ch0["a"]["content"] == "v2" and ch0["a"]["_commit_version"] == v2
    assert ch0["b"]["_deleted"]

    # downstream cascade check: applying the changes stream to an empty
    # table reproduces the source table's live state
    target = _mk_mor(spark, tmp_root, "cdf_target")
    src = table.changes(v0).select(
        "repo", "path", "commit", "lang", "content", "content_sha",
        F.col("_lsn").alias("lsn"),
        F.when(F.col("_deleted"), "D").otherwise("U").alias("op"),
    )
    target.merge(src, batch_id=0)
    assert _state(target) == _state(table)

    with pytest.raises(ValueError, match="empty window"):
        table.changes(v2)
    # a table whose v1 snapshot an earlier build wrote as copy-on-write:
    # merging into it still works, its changes() refuses
    legacy_root = os.path.join(tmp_root, "cdf_cow")
    _mk_mor(spark, tmp_root, "cdf_cow")
    v1_path = os.path.join(legacy_root, "_meta", "v00000001.json")
    with open(v1_path) as fh:
        snap = json.load(fh)
    snap["write_mode"] = "cow"
    with open(v1_path, "w") as fh:
        json.dump(snap, fh)
    legacy = LakeTable(spark, legacy_root)
    legacy.merge(
        spark.createDataFrame([("r", "a", "c", "py", "v1", "s1", 1, "I")], _COLS),
        batch_id=0,
    )
    assert {r["path"]: r["content"] for r in legacy.read().collect()} == {"a": "v1"}
    with pytest.raises(ValueError, match="legacy copy-on-write"):
        legacy.changes(1)
    # compaction folds the window → explicit refusal, not silent wrong rows
    table.compact()
    with pytest.raises(ValueError, match="compacted away"):
        table.changes(v1, table.current_version())


def test_mor_auto_compact_commit_conflict_is_swallowed(spark, tmp_root, monkeypatch):
    """A losing auto-compaction commit must not fail the batch whose
    fenced commit already succeeded (best-effort maintenance)."""
    from french_admin_etl_spark.table import lake_table as lt

    table = _mk_mor(spark, tmp_root, "ac", properties={"compact.max-delta-files": 1})

    def boom(*a, **k):
        raise lt.CommitConflict("racing maintenance writer")

    monkeypatch.setattr(table, "compact", boom)
    src = spark.createDataFrame([("r", "a", "c", "py", "v1", "s1", 1, "I")], _COLS)
    stats = table.merge(src, batch_id=0)  # would trigger auto-compact
    assert not stats.fenced and stats.rows_upserted == 1
    assert {r["path"] for r in table.read().collect()} == {"a"}


def test_bad_compact_threshold_rejected_before_commit(spark, tmp_root):
    """A bad ``compact.max-delta-files`` fails the merge BEFORE its commit:
    version and fence stay put, so the caller never sees a committed
    batch reported as failed — whether the value was set on the table
    or rides the batch's own ``extra_properties``."""
    table = _mk_mor(spark, tmp_root, "badthr")
    table.merge(
        spark.createDataFrame([("r", "a", "c", "py", "v1", "s1", 1, "I")], _COLS),
        batch_id=0,
    )
    table.update_properties(lambda p: {**p, "compact.max-delta-files": "abc"})
    v = table.current_version()
    src = spark.createDataFrame([("r", "b", "c", "go", "w1", "t1", 2, "I")], _COLS)
    with pytest.raises(ValueError, match="compact.max-delta-files"):
        table.merge(src, batch_id=1)
    assert table.current_version() == v
    assert table.property("last_batch_id") == 0

    table.update_properties(lambda p: {**p, "compact.max-delta-files": "3"})
    v = table.current_version()
    for bad in ("0", "2.5", -1):
        with pytest.raises(ValueError, match="compact.max-delta-files"):
            table.merge(src, batch_id=1, extra_properties={"compact.max-delta-files": bad})
        assert table.current_version() == v
        assert table.property("last_batch_id") == 0
    # an integer string is still accepted, and the batch then applies
    assert not table.merge(src, batch_id=1).fenced
    assert table.property("last_batch_id") == 1
    assert {r["path"] for r in table.read().collect()} == {"a", "b"}


def test_coalesce_same_batch_delete_reinsert_no_resurrection(spark, tmp_root):
    """Review-repro regression: batch 0 inserts (commit, lang); batch 1
    carries the DELETE and a partial reinsert (content only) in the SAME
    batch. The fold emits one survivor row + the delete barrier — without
    the barrier, the pre-delete commit/lang from batch 0 resurrect.
    Asserted through dedup_coalesce, before and after compaction."""
    from french_admin_etl_spark.operators.dedup import dedup_coalesce

    t = LakeTable.create(
        spark, os.path.join(tmp_root, "resur_mor"), schema=REPOS_SCHEMA,
        key_cols=KEYS, num_buckets=4, write_mode="mor",
    )
    b0 = spark.createDataFrame(
        [("r", "b", "c1", "go", "w1", "t1", 1, "I")], _COLS
    )
    t.merge(dedup_coalesce(b0, KEYS, "lsn"), batch_id=0, mode="coalesce")
    b1 = spark.createDataFrame(
        [("r", "b", None, None, None, None, 5, "D"),
         ("r", "b", None, None, "w7", None, 7, "I")], _COLS
    )
    t.merge(dedup_coalesce(b1, KEYS, "lsn"), batch_id=1, mode="coalesce")
    row = t.read().collect()[0].asDict()
    assert row == {
        "repo": "r", "path": "b", "commit": None, "lang": None,
        "content": "w7", "content_sha": None,
    }, f"pre-delete values resurrected: {row}"
    t.compact()
    assert t.read().collect()[0].asDict() == row  # survives compaction


def test_mor_changes_refuses_coalesce_window(spark, tmp_root):
    """changes() must refuse windows containing partial-column deltas —
    their nulls mean 'not updated' and would clobber downstream."""
    table = _mk_mor(spark, tmp_root, "chcoal")
    v0 = table.current_version()
    table.merge(
        spark.createDataFrame([("r", "a", "c", "py", "v1", "s1", 1, "I")], _COLS),
        batch_id=0, mode="coalesce",
    )
    with pytest.raises(ValueError, match="coalesce"):
        table.changes(v0)


def test_mor_changes_across_schema_evolution(spark, tmp_root):
    """changes() windows spanning a schema evolution upgrade old-schema
    delta rows to the current schema (new column null-filled)."""
    from french_admin_etl_spark.table.lake_table import SchemaOp

    table = _mk_mor(spark, tmp_root, "chevo")
    v0 = table.current_version()
    table.merge(
        spark.createDataFrame([("r", "a", "c", "py", "v1", "s1", 1, "I")], _COLS),
        batch_id=0,
    )
    table.evolve([SchemaOp(action="add_column", name="stars", type="int")])
    cols2 = _COLS.replace(" lsn long", " stars int, lsn long")
    table.merge(
        spark.createDataFrame([("r", "b", "c", "go", "w1", "t1", 7, 2, "I")], cols2),
        batch_id=1,
    )
    ch = {r["path"]: r.asDict() for r in table.changes(v0).collect()}
    assert ch["a"]["stars"] is None  # old-schema row upgraded on read
    assert ch["b"]["stars"] == 7
    assert ch["a"]["content"] == "v1" and ch["b"]["content"] == "w1"


def test_mor_writers_race_rebucket_and_compaction(spark, tmp_root):
    """Chaos leg for partition evolution: two live writers apply disjoint
    logs while a maintenance thread cycles rebucket(8→2→4) + compaction +
    age-guarded vacuum against them. Every writer commit that loses the
    layout race must RESTAGE under the new bucket count (the
    _restage_on_layout_change guard under real concurrency, not a commit
    hook); final state must still equal the pandas oracle."""
    import itertools
    import threading

    import pandas as pd

    from french_admin_etl_spark.table.lake_table import CommitConflict

    logs, evs = {}, {}
    for w, seed in (("w_a", 61), ("w_b", 62)):
        ev = datagen.gen_change_events(
            n_events=1000, n_keys=120, seed=seed, key_ns=w, delete_rate=0.06
        )
        log_dir = os.path.join(tmp_root, f"rlog_{w}")
        spark.createDataFrame(ev, schema=EVENT_SCHEMA).write.mode("overwrite").parquet(
            log_dir
        )
        evs[w], logs[w] = ev, EventLog(spark, log_dir)

    root = os.path.join(tmp_root, "chaos")
    LakeTable.create(
        spark, root, schema=REPOS_SCHEMA, key_cols=KEYS, num_buckets=4,
        write_mode="mor", properties={"compact.max-delta-files": 64},
    )
    errors = []
    done = threading.Event()

    def run_writer(w):
        try:
            table = LakeTable(spark, root)
            job = CDCApplyJob(spark, table, writer_id=w)
            job.run_incremental(
                logs[w], CheckpointStore(os.path.join(tmp_root, f"{w}.rck")),
                batch_lsns=300,
            )
        except Exception as e:  # noqa: BLE001
            errors.append((w, e))

    def run_maintenance():
        table = LakeTable(spark, root)
        sizes = itertools.cycle([8, 2, 4])
        while not done.is_set():
            try:
                table.compact()
            except CommitConflict:
                pass
            try:
                table.rebucket(next(sizes))
            except CommitConflict:
                pass  # lost the race to a writer — next cycle
            table.vacuum_orphans()  # age-guarded: safe with live writers
            done.wait(0.2)

    threads = [threading.Thread(target=run_writer, args=(w,)) for w in logs]
    maint = threading.Thread(target=run_maintenance)
    maint.start()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    done.set()
    maint.join()
    assert not errors, errors

    table = LakeTable(spark, root)
    exp = _expected(pd.concat([evs["w_a"], evs["w_b"]], ignore_index=True))
    assert _state(table) == exp
    assert table.snapshot()["num_buckets"] in (2, 4, 8)
    # every key's rows live in ONE bucket of the final layout: a full
    # compaction must not change state (would fail if any restage was
    # skipped and a key forked across layouts)
    table.compact(include_clean=True)
    assert _state(table) == exp


def test_mor_commit_reuses_staged_layouts_under_rebucket_churn(
    spark, tmp_root, monkeypatch
):
    """A writer whose commit attempts keep losing to rebuckets that flip
    the bucket count (4→8→4→…) stages each layout once and commits from
    the staged copy. Restaging on every lost attempt costs a Spark job
    per race, so a maintenance loop faster than one restage starved the
    writer into ``CommitConflict`` after its retry budget."""
    import itertools

    table = _mk_mor(spark, tmp_root, "churn")
    maint = LakeTable(spark, os.path.join(tmp_root, "churn"))
    table.merge(spark.createDataFrame([("r", "a", "c", "py", "v1", "s1", 1, "I")], _COLS),
                batch_id=0)

    real_commit, real_stage = table._commit, table._stage_write
    sizes, races, stages = itertools.cycle([8, 4]), iter(range(6)), []

    def racing_commit(snap):
        if next(races, None) is not None:
            maint.rebucket(next(sizes))  # a maintenance commit lands first
        real_commit(snap)

    def counting_stage(*a, **k):
        stages.append(1)
        return real_stage(*a, **k)

    monkeypatch.setattr(table, "_commit", racing_commit)
    monkeypatch.setattr(table, "_stage_write", counting_stage)
    stats = table.merge(
        spark.createDataFrame([("r", "b", "c", "py", "v2", "s2", 2, "I")], _COLS),
        batch_id=1,
    )
    assert not stats.fenced
    assert next(races, None) is None  # all six races were lost first
    assert len(stages) == 2  # the first stage at 4 buckets + one restage at 8
    want = {("r", "a"): "s1", ("r", "b"): "s2"}
    assert _state(table) == want
    table.compact(include_clean=True)  # no key forked across layouts
    assert _state(table) == want
