"""Write-audit-publish branches (table/branch.py)."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from french_admin_etl_spark.table.lake_table import LakeTable

ST = T.StructType(
    [T.StructField("k", T.StringType()), T.StructField("v", T.IntegerType())]
)


def _mk(spark, root, props=None):
    return LakeTable.create(
        spark, root, schema=ST, key_cols=["k"], num_buckets=2,
        write_mode="mor", properties=props,
    )


def _src(spark, rows):
    return spark.createDataFrame(rows, "k string, v int, lsn long, op string")


def _state(t):
    return {r["k"]: r["v"] for r in t.read().collect()}


@pytest.fixture()
def table(spark, tmp_root):
    t = _mk(spark, os.path.join(tmp_root, "t"))
    t.merge(_src(spark, [("a", 1, 1, "I"), ("b", 2, 2, "I"), ("c", 3, 3, "I")]), batch_id=0)
    return t


def test_staged_invisible_then_publish_atomic(spark, table):
    br = table.branch("audit")
    br.merge(_src(spark, [("a", 10, 10, "U"), ("d", 4, 11, "I")]), batch_id=0)
    br.merge(_src(spark, [("b", None, 12, "D")]), batch_id=1)
    # main readers see nothing
    assert _state(table) == {"a": 1, "b": 2, "c": 3}
    # the audit read sees exactly the would-be state
    assert {r["k"]: r["v"] for r in br.read().collect()} == {"a": 10, "c": 3, "d": 4}
    v0 = table.current_version()
    v1 = br.publish()
    assert v1 == v0 + 1  # ONE atomic commit for both staged batches
    assert _state(table) == {"a": 10, "c": 3, "d": 4}
    assert not br.exists()


def test_audit_gate_aborts_and_drop_reclaims(spark, table):
    br = table.branch("audit")
    br.merge(_src(spark, [("a", -999, 10, "U")]), batch_id=0)

    def audit(df):
        bad = df.filter(F.col("v") < 0).count()
        if bad:
            raise AssertionError(f"{bad} negative values")

    with pytest.raises(AssertionError, match="negative"):
        br.publish(audit=audit)
    # aborted: main untouched, branch intact for inspection
    assert _state(table) == {"a": 1, "b": 2, "c": 3}
    assert br.exists()
    # an open branch's staged files are NOT vacuum orphans...
    assert table.vacuum_orphans(min_age_sec=0) == 0
    # ...until the branch is dropped
    br.drop()
    assert table.vacuum_orphans(min_age_sec=0) > 0
    assert _state(table) == {"a": 1, "b": 2, "c": 3}  # main intact after reclaim


def test_publish_rebases_over_main_progress(spark, table):
    br = table.branch("audit")
    br.merge(_src(spark, [("d", 4, 10, "I")]), batch_id=0)
    # main advances while the branch is open
    table.merge(_src(spark, [("e", 5, 11, "I")]), batch_id=1)
    br.publish()
    assert _state(table) == {"a": 1, "b": 2, "c": 3, "d": 4, "e": 5}


def test_intra_branch_commit_order_breaks_equal_lsn_ties(spark, table):
    """Two staged commits write the SAME key at the SAME lsn: the later
    branch commit must win — before AND after publish (the sub
    tie-break), even though both land under one published seq."""
    br = table.branch("audit")
    br.merge(_src(spark, [("a", 100, 50, "U")]), batch_id=0)
    br.merge(_src(spark, [("a", 200, 50, "U")]), batch_id=1)
    assert {r["k"]: r["v"] for r in br.read().collect()}["a"] == 200
    v0 = table.current_version()
    br.publish()
    assert _state(table)["a"] == 200
    # the CDF read applies the same tie-break: downstream consumers see
    # the later staged commit's value, not a nondeterministic pick
    ch = {r["k"]: r["v"] for r in table.changes(v0).collect()}
    assert ch["a"] == 200


def test_branch_fences_and_fence_handoff(spark, table):
    br = table.branch("audit")
    s1 = br.merge(_src(spark, [("a", 10, 10, "U")]), batch_id=5, writer_id="w")
    assert not s1.fenced
    s2 = br.merge(_src(spark, [("a", 999, 99, "U")]), batch_id=5, writer_id="w")
    assert s2.fenced  # replay on the branch is a no-op
    br.publish()
    assert _state(table)["a"] == 10
    # the fence moved to main with the publish: the same batch replayed
    # against MAIN is also a no-op
    s3 = table.merge(_src(spark, [("a", 999, 99, "U")]), batch_id=5, writer_id="w")
    assert s3.fenced
    assert _state(table)["a"] == 10


def test_publish_idempotent_after_crash(spark, table):
    """Crash between the publish commit and the branch-file cleanup: the
    branch uid recorded in main's properties makes the replay a pure
    cleanup, not a double-apply."""
    import json

    br = table.branch("audit")
    br.merge(_src(spark, [("a", 10, 10, "U")]), batch_id=0)
    saved = json.dumps(br._load())
    v = br.publish()
    # simulate the crash: the branch file is resurrected post-commit
    with open(br._path, "w") as fh:
        fh.write(saved)
    assert br.publish() == v  # cleanup only, no new commit
    assert not br.exists()
    assert _state(table)["a"] == 10
    rows = table.read_raw(resolve=False).filter(F.col("k") == "a").count()
    assert rows == 2  # base row + ONE staged row, not two


def test_rebucket_under_open_branch_refused(spark, table):
    br = table.branch("audit")
    br.merge(_src(spark, [("d", 4, 10, "I")]), batch_id=0)
    table.rebucket(8)
    with pytest.raises(ValueError, match="rebucketed"):
        br.publish()
    br.drop()


def test_branch_validation(spark, tmp_root):
    t = _mk(spark, os.path.join(tmp_root, "t2"))
    with pytest.raises(ValueError, match="bad branch name"):
        t.branch("../evil")
    with pytest.raises(ValueError, match="no branch"):
        t.branch("ghost").publish()
    # empty branch publish: a no-op that just cleans up
    br = t.branch("empty")
    br.merge(_src(spark, []), batch_id=0)  # empty slice stages nothing
    assert not br.exists() or not br._load()["file_groups"]


def test_wap_flagship_driver_end_to_end(spark, tmp_root):
    """The driver-level WAP flow: the REAL CDCApplyJob runs against a
    Branch sink (duck-typed snapshot/merge), staging whole micro-batch
    windows invisibly; an audit gates the publish; replay after publish
    fences everywhere. This is how an operator gates a suspect upstream
    window out of a serving table without pausing the pipeline."""
    from french_admin_etl_spark import datagen
    from french_admin_etl_spark.sources.event_log import EVENT_SCHEMA, EventLog
    from french_admin_etl_spark.streaming.apply import KEYS, REPOS_SCHEMA, CDCApplyJob
    from french_admin_etl_spark.streaming.checkpoint import CheckpointStore

    ev = datagen.gen_change_events(
        n_events=3000, n_keys=250, seed=11, duplicate_rate=0.03,
        delete_rate=0.06, shuffle_window=60,
    )
    log_dir = os.path.join(tmp_root, "log")
    spark.createDataFrame(ev, schema=EVENT_SCHEMA).write.mode("overwrite").parquet(log_dir)
    t = LakeTable.create(
        spark, os.path.join(tmp_root, "repos"), REPOS_SCHEMA, KEYS,
        num_buckets=4, write_mode="mor",
    )
    log = EventLog(spark, log_dir)
    ckpt = CheckpointStore(os.path.join(tmp_root, "ckpt.json"))

    # window 1 lands on MAIN directly
    CDCApplyJob(spark, t).run_incremental(log, ckpt, batch_lsns=1000, max_batches=1)
    after_w1 = {(r["repo"], r["path"]): r["content_sha"] for r in t.read().collect()}

    # remaining windows stage on the audit branch through the SAME
    # checkpoint — main readers keep seeing window 1's state
    br = t.branch("audit")
    res = CDCApplyJob(spark, br).run_incremental(log, ckpt, batch_lsns=1000)
    assert len(res) >= 2
    assert {(r["repo"], r["path"]): r["content_sha"] for r in t.read().collect()} == after_w1

    def audit(df):
        assert df.filter(F.col("content_sha").isNull()).count() == 0

    br.publish(audit=audit)
    exp = {
        (r.repo, r.path): r.content_sha
        for r in datagen.expected_final_state(ev).itertuples(index=False)
    }
    got = {(r["repo"], r["path"]): r["content_sha"] for r in t.read().collect()}
    assert got == exp

    # replay the whole log with a fresh checkpoint: every batch fences
    # (window 1's fence from main, the rest handed over by the publish)
    res2 = CDCApplyJob(spark, t).run_incremental(
        log, CheckpointStore(os.path.join(tmp_root, "ckpt2.json")), batch_lsns=1000
    )
    assert all(r.merge.fenced for r in res2 if r.merge is not None)
    assert {(r["repo"], r["path"]): r["content_sha"] for r in t.read().collect()} == exp


def test_branch_refuses_schema_evolution(spark, table):
    from french_admin_etl_spark.table.lake_table import SchemaOp

    br = table.branch("audit")
    br.merge(_src(spark, [("d", 4, 10, "I")]), batch_id=0)
    with pytest.raises(ValueError, match="schema evolution"):
        br.evolve([SchemaOp("add_column", name="extra", type="string")])
    br.drop()


def test_branch_coalesce_mode(spark, table):
    """Partial-column staging: nulls mean 'not updated' through the
    branch read and after publish."""
    br = table.branch("audit")
    br.merge(
        spark.createDataFrame([("a", None, 10, "U")], "k string, v int, lsn long, op string"),
        batch_id=0, mode="coalesce",
    )
    assert {r["k"]: r["v"] for r in br.read().collect()}["a"] == 1  # kept
    br.publish()
    assert _state(table)["a"] == 1


def test_branch_merge_aligns_source_types_like_main(spark, tmp_root):
    """Review finding: a branch source carrying a WIDER key type must be
    cast to the table schema before bucketing (xxhash64 is
    type-sensitive) — otherwise staged rows land in buckets reads never
    visit. Same contract as LakeTable.merge."""
    t = LakeTable.create(
        spark, os.path.join(tmp_root, "al"),
        T.StructType([
            T.StructField("k", T.IntegerType()),
            T.StructField("v", T.IntegerType()),
        ]),
        ["k"], num_buckets=8, write_mode="mor",
    )
    t.merge(
        spark.createDataFrame([(i, i, i + 1, "I") for i in range(20)],
                              "k int, v int, lsn long, op string"),
        batch_id=0,
    )
    br = t.branch("audit")
    # bigint key + bigint value: both must align to the int table schema
    br.merge(
        spark.createDataFrame([(3, 333, 100, "U"), (77, 7, 101, "I")],
                              "k long, v long, lsn long, op string"),
        batch_id=0,
    )
    assert {r["k"]: r["v"] for r in br.read().collect()}[3] == 333
    br.publish()
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[3] == 333 and got[77] == 7  # no per-key fork across buckets
    assert {r["k"]: r["v"] for r in t.lookup([(3,)]).collect()} == {3: 333}
