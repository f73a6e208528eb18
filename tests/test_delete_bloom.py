"""Predicate deletes (delete_where), bloom-filter group pruning, and the
key-column widen guard."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from french_admin_etl_spark.table.lake_table import LakeTable, SchemaOp

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
    ]
)


def _src(spark, rows):
    return spark.createDataFrame(
        rows, "lsn long, op string, repo string, path string, lang string, content string"
    )


def _state(table):
    return {(r["repo"], r["path"]): (r["lang"], r["content"]) for r in table.read().collect()}


SEED = [
    (1, "I", "a", "f1", "go", "g1"),
    (2, "I", "a", "f2", "py", "p1"),
    (3, "I", "b", "f3", "go", "g2"),
    (4, "I", "b", "f4", "rs", "r1"),
]


# ------------------------------------------------------------- delete_where


def test_delete_where_removes_matches_both_modes(spark, tmp_root):
    t = LakeTable.create(
        spark, f"{tmp_root}/dw_mor", SCHEMA, ["repo", "path"],
        num_buckets=4, write_mode="mor",
    )
    t.merge(_src(spark, SEED), batch_id=0)
    stats = t.delete_where("lang = 'go'", lsn=10, batch_id=1)
    assert not stats.fenced
    assert _state(t) == {("a", "f2"): ("py", "p1"), ("b", "f4"): ("rs", "r1")}


def test_delete_where_fence_replay_noop(spark, tmp_root):
    t = LakeTable.create(
        spark, tmp_root + "/dw_fence", SCHEMA, ["repo", "path"],
        num_buckets=4, write_mode="mor",
    )
    t.merge(_src(spark, SEED), batch_id=0)
    t.delete_where("lang = 'go'", lsn=10, batch_id=1)
    v = t.current_version()
    replay = t.delete_where("lang = 'go'", lsn=10, batch_id=1)
    assert replay.fenced and t.current_version() == v


def test_delete_where_tombstone_shadows_late_event(spark, tmp_root):
    t = LakeTable.create(
        spark, tmp_root + "/dw_late", SCHEMA, ["repo", "path"],
        num_buckets=4, write_mode="mor",
    )
    t.merge(_src(spark, SEED), batch_id=0)
    t.delete_where("lang = 'go'", lsn=10, batch_id=1)
    # a late out-of-order update for a deleted key, below the delete LSN
    t.merge(_src(spark, [(7, "U", "a", "f1", "go", "late")]), batch_id=2)
    assert ("a", "f1") not in _state(t)


def test_delete_where_default_lsn_is_high_water(spark, tmp_root):
    """lsn=None stamps max(_lsn)+1 — the delete supersedes every live row
    it matched, whatever LSNs they carry."""
    t = LakeTable.create(
        spark, tmp_root + "/dw_hw", SCHEMA, ["repo", "path"],
        num_buckets=4, write_mode="mor",
    )
    t.merge(_src(spark, SEED), batch_id=0)
    t.delete_where(F.col("lang") == "go", batch_id=1)
    assert set(_state(t)) == {("a", "f2"), ("b", "f4")}
    raw = t.read_raw(resolve=False).filter(F.col("_deleted"))
    assert {int(r["_lsn"]) for r in raw.collect()} == {5}  # max seed lsn 4, +1


def test_delete_where_visible_in_changes(spark, tmp_root):
    t = LakeTable.create(
        spark, tmp_root + "/dw_cdf", SCHEMA, ["repo", "path"],
        num_buckets=4, write_mode="mor",
    )
    t.merge(_src(spark, SEED), batch_id=0)
    v0 = t.current_version()
    t.delete_where("lang = 'go'", lsn=10, batch_id=1)
    ch = t.changes(v0).collect()
    assert {(r["repo"], r["path"]) for r in ch if r["_deleted"]} == {("a", "f1"), ("b", "f3")}


def test_delete_where_no_match_is_noop(spark, tmp_root):
    t = LakeTable.create(
        spark, tmp_root + "/dw_none", SCHEMA, ["repo", "path"],
        num_buckets=4, write_mode="mor",
    )
    t.merge(_src(spark, SEED), batch_id=0)
    v = t.current_version()
    t.delete_where("lang = 'zig'", lsn=10)
    assert t.current_version() == v and len(_state(t)) == 4


# ------------------------------------------------------------ bloom pruning


@pytest.fixture()
def bloom_table(spark, tmp_root):
    """num_buckets=1 so bucket pruning can't help; interleaved key ranges so
    min/max stats can't help either — only the bloom distinguishes the two
    delta groups."""
    t = LakeTable.create(
        spark, tmp_root + "/bloom", SCHEMA, ["repo", "path"],
        num_buckets=1, write_mode="mor",
        properties={"bloom.bits": 1024, "bloom.hashes": 3},
    )
    even = [(i, "I", f"r{i:02d}", "f", "go", f"c{i}") for i in range(0, 10, 2)]
    odd = [(i, "I", f"r{i:02d}", "f", "py", f"c{i}") for i in range(1, 10, 2)]
    t.merge(_src(spark, even), batch_id=0)
    t.merge(_src(spark, odd), batch_id=1)
    return t


def test_bloom_groups_recorded(bloom_table):
    snap = bloom_table.snapshot()
    blooms = [g.get("bloom") for g in snap["file_groups"]]
    assert len(blooms) == 2 and all(b and b["bits"] == 1024 and b["k"] == 3 for b in blooms)


def test_bloom_lookup_prunes_other_batchs_group(spark, bloom_table):
    """A key written only in the even batch must not scan the odd batch's
    files (and vice versa) — asserted via the planned scan's inputFiles,
    the same pin the bucket-pruning test uses."""
    snap = bloom_table.snapshot()
    by_batch = {g["seq"]: set(g["files"]) for g in snap["file_groups"]}
    even_seq, odd_seq = sorted(by_batch)
    df = bloom_table.lookup([("r02", "f")])
    assert [(r["repo"], r["content"]) for r in df.collect()] == [("r02", "c2")]
    scanned = {f.split("/bloom/")[-1] for f in df.inputFiles()}
    assert scanned & by_batch[even_seq]
    assert not scanned & by_batch[odd_seq]
    df2 = bloom_table.lookup([("r03", "f")])
    assert [r["content"] for r in df2.collect()] == ["c3"]
    scanned2 = {f.split("/bloom/")[-1] for f in df2.inputFiles()}
    assert not scanned2 & by_batch[even_seq]


def test_bloom_multi_key_lookup_unions_groups(bloom_table):
    got = {r["repo"]: r["content"] for r in bloom_table.lookup(
        [("r02", "f"), ("r03", "f")]
    ).collect()}
    assert got == {"r02": "c2", "r03": "c3"}


def test_bloom_survives_compaction_and_deletes(spark, bloom_table):
    bloom_table.delete_where("repo = 'r02'", lsn=100, batch_id=2)
    bloom_table.compact()
    snap = bloom_table.snapshot()
    assert all(g.get("bloom") for g in snap["file_groups"])
    assert bloom_table.lookup([("r02", "f")]).collect() == []
    assert [r["content"] for r in bloom_table.lookup([("r04", "f")]).collect()] == ["c4"]


def test_bloom_config_mismatch_keeps_group(spark, bloom_table):
    """Groups whose bloom was written under a different (bits, k) config
    carry no usable evidence — they must survive pruning, never skip."""
    import json, os

    snap = bloom_table.snapshot()
    doctored = json.loads(json.dumps(snap))
    for g in doctored["file_groups"]:
        g["bloom"]["bits"] = 512  # pretend an older config wrote these
    doctored.update(version=snap["version"] + 1, parent=snap["version"])
    bloom_table._commit(doctored)
    df = bloom_table.lookup([("r02", "f")])
    assert [r["content"] for r in df.collect()] == ["c2"]
    assert len(df.inputFiles()) == 2  # both groups scanned — no false skip


def test_bloom_bad_config_rejected_at_create(spark, tmp_root):
    with pytest.raises(ValueError, match="bloom.bits"):
        LakeTable.create(
            spark, tmp_root + "/bloom_bad", SCHEMA, ["repo", "path"],
            num_buckets=1, properties={"bloom.bits": 100},  # not a multiple of 8
        )


def test_bloom_bad_config_via_properties_fails_before_staging(spark, tmp_root):
    """A bad bloom config smuggled in later (extra_properties rides a
    commit) must fail the NEXT write BEFORE staging I/O — no staging-dir
    litter per retry (review finding)."""
    import os

    t = LakeTable.create(
        spark, tmp_root + "/bloom_late_bad", SCHEMA, ["repo", "path"],
        num_buckets=1, write_mode="mor",
    )
    t.merge(_src(spark, SEED[:1]), batch_id=0, extra_properties={"bloom.bits": 100})
    v = t.current_version()
    with pytest.raises(ValueError, match="bloom.bits"):
        t.merge(_src(spark, SEED[1:2]), batch_id=1)
    assert t.current_version() == v
    staging = os.path.join(tmp_root, "bloom_late_bad", "_staging")
    assert not os.path.isdir(staging) or os.listdir(staging) == []


def test_bloom_empty_write_is_noop_not_crash(spark, bloom_table):
    """Empty slices are the COMMON case for per-table DAG windows; with
    blooms on they must still no-op (review repro: the bloom read-back
    crashed on a staging dir holding only _SUCCESS)."""
    v = bloom_table.current_version()
    stats = bloom_table.delete_where("lang = 'zig'", lsn=100)  # matches nothing
    assert stats.rows_deleted == 0 and bloom_table.current_version() == v
    empty = _src(spark, []).limit(0)
    st2 = bloom_table.merge(empty, batch_id=77)
    assert st2.rows_upserted == 0 and bloom_table.current_version() == v


# ---------------------------------------------------------- key widen guard


def test_widen_key_column_refused(spark, tmp_root):
    """xxhash64 is type-sensitive: int 5 and bigint 5 land in different
    buckets, so widening a key column would fork existing keys across
    buckets. evolve() must refuse (same contract as key renames)."""
    schema = T.StructType(
        [T.StructField("id", T.IntegerType()), T.StructField("v", T.IntegerType())]
    )
    t = LakeTable.create(spark, tmp_root + "/widen_key", schema, ["id"], num_buckets=4)
    with pytest.raises(ValueError, match="key column"):
        t.evolve([SchemaOp(action="widen", name="id", type="bigint")])
    # non-key widen still works
    t.evolve([SchemaOp(action="widen", name="v", type="bigint")])


def test_bucket_hash_is_type_sensitive(spark):
    """The fact the guard exists for: same value, int vs bigint, different
    xxhash64 — if Spark ever changed this, the guard could be relaxed."""
    row = (
        spark.range(1)
        .select(
            F.xxhash64(F.lit(5).cast("int")).alias("i"),
            F.xxhash64(F.lit(5).cast("long")).alias("l"),
        )
        .collect()[0]
    )
    assert row["i"] != row["l"]


# ------------------------------------------------------------- scan_range


def _naive_range(t, col, lo, hi):
    df = t.read()
    if lo is not None:
        df = df.filter(F.col(col) >= lo)
    if hi is not None:
        df = df.filter(F.col(col) <= hi)
    return {tuple(sorted(r.asDict().items())) for r in df.collect()}


@pytest.fixture()
def range_table(spark, tmp_root):
    t = LakeTable.create(
        spark, tmp_root + "/rng",
        T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("v", T.StringType()),
        ]),
        ["id"], num_buckets=2, write_mode="mor",
        # bounded file sizes: several files per bucket, so the sorted
        # layout yields narrow per-file ranges scan_range can skip
        properties={"write.max-records-per-file": 8},
    )
    rows = [(i, "I", i, i * 10, f"v{i}") for i in range(1, 41)]
    t.merge(
        spark.createDataFrame(rows, "lsn long, op string, id long, n long, v string"),
        batch_id=0,
    )
    return t


def test_scan_range_matches_naive_and_prunes_after_optimize(spark, range_table):
    t = range_table
    t.optimize_sort(["n"])
    got = {
        tuple(sorted(r.asDict().items())) for r in t.scan_range("n", 100, 150).collect()
    }
    assert got == _naive_range(t, "n", 100, 150) and len(got) == 6
    all_files = {f for g in t.snapshot()["file_groups"] for f in g["files"]}
    scanned = {f.split("/rng/")[-1] for f in t.scan_range("n", 100, 150).inputFiles()}
    assert scanned < all_files  # strictly fewer files than a full scan


def test_scan_range_with_deltas_is_correct_but_unpruned(spark, range_table):
    """The MOR-unsoundness guard: key 5's newest version moves OUT of the
    queried range while its stale version sits IN range in the sorted
    base — scan_range must not resurrect the stale row."""
    t = range_table
    t.optimize_sort(["n"])
    t.merge(
        spark.createDataFrame(
            [(100, "U", 5, 9999, "moved")], "lsn long, op string, id long, n long, v string"
        ),
        batch_id=1,
    )
    got = {r["id"] for r in t.scan_range("n", 0, 100).collect()}
    assert 5 not in got  # id 5's live n is 9999, out of range
    assert got == {r["id"] for r in t.read().filter(F.col("n") <= 100).collect()}
    # after compaction the fast path returns and stays correct
    t.compact(include_clean=True, sort_cols=["n"])
    got2 = {r["id"] for r in t.scan_range("n", 0, 100).collect()}
    assert got2 == got


def test_scan_range_open_bounds_and_bad_col(spark, range_table):
    t = range_table
    assert {r["id"] for r in t.scan_range("n", lo=380).collect()} == {38, 39, 40}
    assert {r["id"] for r in t.scan_range("n", hi=20).collect()} == {1, 2}
    with pytest.raises(ValueError, match="no column"):
        t.scan_range("nope", 0, 1)
