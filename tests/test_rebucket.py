"""Partition evolution: LakeTable.rebucket (bucket-count rewrite).

The bucket count is the one layout decision a CDC table cannot outgrow
in place — these tests pin the atomic rewrite, per-snapshot routing
(time travel keeps the old layout), tombstone survival across the
re-hash, the concurrent-MOR-writer restage guard, and the folded
changes() window contract.
"""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from french_admin_etl_spark.table.lake_table import CommitConflict, LakeTable

ST = T.StructType(
    [
        T.StructField("k", T.StringType()),
        T.StructField("v", T.IntegerType()),
    ]
)


def _mk(spark, root, nb=4, props=None):
    return LakeTable.create(
        spark, root, schema=ST, key_cols=["k"], num_buckets=nb,
        write_mode="mor", properties=props,
    )


def _src(spark, rows):
    return spark.createDataFrame(rows, "k string, v int, lsn long, op string")


def _state(t, version=None):
    return {r["k"]: r["v"] for r in t.read(version=version).collect()}


def test_rebucket_preserves_state_and_reroutes_merges(spark, tmp_root):
    t = _mk(spark, os.path.join(tmp_root, "rb_mor"), nb=2)
    t.merge(_src(spark, [(f"k{i}", i, i + 1, "I") for i in range(40)]), batch_id=0)
    t.merge(_src(spark, [("k3", None, 100, "D"), ("k5", 500, 101, "U")]), batch_id=1)
    before = _state(t)
    v_pre = t.snapshot()["version"]

    v = t.rebucket(8)
    snap = t.snapshot()
    assert snap["version"] == v and snap["num_buckets"] == 8
    assert {g["bucket"] for g in snap["file_groups"]} <= set(range(8))
    assert len({g["bucket"] for g in snap["file_groups"]}) > 2  # really spread
    assert _state(t) == before
    # time travel: the pre-rebucket snapshot keeps its own layout + state
    assert t.snapshot(v_pre)["num_buckets"] == 2
    assert _state(t, version=v_pre) == before

    # post-rebucket merges route by the NEW hash: updates supersede the
    # rows rebucket moved, and the re-hashed tombstone still shadows a
    # late out-of-order event for the deleted key
    t.merge(
        _src(spark, [("k5", 555, 200, "U"), ("k3", 333, 50, "U")]), batch_id=2
    )
    after = dict(before)
    after["k5"] = 555  # no duplicate/fork of k5 across layouts
    assert _state(t) == after  # k3's late lsn=50 stayed shadowed
    # point lookups prune by the new layout and still resolve correctly
    assert {r["k"]: r["v"] for r in t.lookup([("k5",)]).collect()} == {"k5": 555}


def test_rebucket_shrink_and_sorted_layout(spark, tmp_root):
    t = _mk(spark, os.path.join(tmp_root, "rb_shrink"), nb=8)
    t.merge(_src(spark, [(f"k{i}", i, i + 1, "I") for i in range(30)]), batch_id=0)
    before = _state(t)
    t.rebucket(2, sort_cols=["v"])
    snap = t.snapshot()
    assert snap["num_buckets"] == 2
    assert {g["bucket"] for g in snap["file_groups"]} <= {0, 1}
    assert all(g.get("sorted_by") == ["v"] for g in snap["file_groups"])
    assert _state(t) == before


def test_rebucket_validation_and_noop(spark, tmp_root):
    t = _mk(spark, os.path.join(tmp_root, "rb_val"), nb=4)
    with pytest.raises(ValueError, match="positive"):
        t.rebucket(0)
    v = t.snapshot()["version"]
    assert t.rebucket(4) == v  # same count: no rewrite, no new snapshot
    assert t.snapshot()["version"] == v


def test_rebucket_concurrent_mor_writer_restages(spark, tmp_root):
    """A MOR writer stages its delta under the old bucket count; rebucket
    commits first; the writer's rebase loop must detect the layout change
    and RESTAGE (not append old-hash files into the new layout, which
    would route keys to buckets reads never visit)."""
    t = _mk(spark, os.path.join(tmp_root, "rb_race"), nb=2)
    t.merge(_src(spark, [(f"k{i}", i, i + 1, "I") for i in range(20)]), batch_id=0)

    real_commit = t._commit
    raced = {}

    def racing_commit(snap):
        # fire once, on the writer's first commit attempt: sneak a
        # rebucket in first so the writer's attempt conflicts
        if snap.get("num_buckets") == 2 and "done" not in raced:
            raced["done"] = True
            t2 = LakeTable(t.spark, t.root)
            raced["v"] = t2.rebucket(16)
        real_commit(snap)

    t._commit = racing_commit
    try:
        stats = t.merge(_src(spark, [("k1", 111, 100, "U"), ("new", 7, 101, "I")]), batch_id=1)
    finally:
        t._commit = real_commit
    assert raced.get("v")
    snap = t.snapshot()
    assert snap["num_buckets"] == 16
    assert stats.snapshot_version == snap["version"]
    got = _state(t)
    assert got["k1"] == 111 and got["new"] == 7 and len(got) == 21
    # and the delta groups that landed were staged under the NEW layout:
    # every key's rows (base + delta) share one bucket, so lookup resolves
    assert {r["k"]: r["v"] for r in t.lookup([("k1",), ("new",)]).collect()} == {
        "k1": 111,
        "new": 7,
    }


def test_rebucket_conflicts_against_concurrent_commit(spark, tmp_root):
    """rebucket itself never retries: racing it against another commit is
    a scheduler error and must surface, not silently drop that commit."""
    t = _mk(spark, os.path.join(tmp_root, "rb_conf"), nb=2)
    t.merge(_src(spark, [("a", 1, 1, "I")]), batch_id=0)
    real_commit = t._commit
    fired = {}

    def racing_commit(snap):
        if snap.get("num_buckets") == 4 and "done" not in fired:
            fired["done"] = True
            t2 = LakeTable(t.spark, t.root)
            t2.merge(_src(spark, [("b", 2, 2, "I")]), batch_id=1)
        real_commit(snap)

    t._commit = racing_commit
    try:
        with pytest.raises(CommitConflict):
            t.rebucket(4)
    finally:
        t._commit = real_commit
    # the concurrent merge survived; the table is intact on the old layout
    assert t.snapshot()["num_buckets"] == 2
    assert _state(t) == {"a": 1, "b": 2}


def test_rebucket_folds_changes_windows(spark, tmp_root):
    """Incremental consumers cannot read deltas across a rebucket (the
    rewrite folded them): changes() must refuse, which is what sends
    CascadeJob to its full-resync fallback."""
    t = _mk(spark, os.path.join(tmp_root, "rb_cdf"), nb=2)
    t.merge(_src(spark, [("a", 1, 1, "I"), ("b", 2, 2, "I")]), batch_id=0)
    v0 = t.snapshot()["version"]
    t.merge(_src(spark, [("c", 3, 3, "I")]), batch_id=1)
    t.rebucket(8)
    with pytest.raises(ValueError, match="compacted away"):
        t.changes(v0).collect()
    # post-rebucket deltas read fine from the new baseline
    v1 = t.snapshot()["version"]
    t.merge(_src(spark, [("d", 4, 4, "I")]), batch_id=2)
    assert {r["k"] for r in t.changes(v1).collect()} == {"d"}


def test_rebucket_folds_outstanding_coalesce_deltas(spark, tmp_root):
    """Rebucket over unresolved PARTIAL-column deltas: the rewrite rides
    read_raw's per-column resolution, so last-non-null semantics survive
    into the new layout as full rows."""
    t = _mk(spark, os.path.join(tmp_root, "rb_coal"), nb=2)
    t.merge(
        spark.createDataFrame(
            [("a", 1, 1, "I"), ("b", 2, 2, "I")], "k string, v int, lsn long, op string"
        ),
        batch_id=0,
    )
    # partial update: v=None means "not updated" in coalesce mode
    t.merge(
        spark.createDataFrame([("a", None, 10, "U")], "k string, v int, lsn long, op string"),
        batch_id=1, mode="coalesce",
    )
    assert any(g.get("coalesce") for g in t.snapshot()["file_groups"])
    t.rebucket(8)
    snap = t.snapshot()
    assert not any(g.get("coalesce") or g.get("delta") for g in snap["file_groups"])
    assert _state(t) == {"a": 1, "b": 2}  # the null never clobbered v
