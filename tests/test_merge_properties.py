"""Property-based MERGE semantics: for ANY op sequence and ANY batching,
replaying into a LakeTable converges to the max-LSN oracle state.

Hypothesis generates adversarial cases the fixture-based suites can't
enumerate: delete-then-reinsert chains, duplicate keys across batches,
stale updates landing after deletes, single-key floods — each checked
against an independent Python oracle. This is the engine's core invariant (north_rule:
"replay … reconverges to the identical final table state").
"""

from __future__ import annotations

import os
import uuid

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from french_admin_etl_spark.operators.dedup import dedup_max_seq
from french_admin_etl_spark.table.lake_table import LakeTable

from pyspark.sql import types as T

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("content", T.StringType()),
    ]
)

KEYS = ["k0", "k1", "k2"]

# one op: (key_idx, op, value); LSN = position in the list (total order)
ops_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=len(KEYS) - 1),
        st.sampled_from(["I", "U", "D"]),
        st.integers(min_value=0, max_value=9),
    ),
    min_size=1,
    max_size=16,
)
# batch split points as a set of positions
splits_strategy = st.sets(st.integers(min_value=1, max_value=15), max_size=3)


def _oracle(events):
    state = {}
    for lsn, key, op, val in events:
        state[key] = (lsn, op, val)  # events arrive in LSN order here
    return {
        k: f"v{val}" for k, (lsn, op, val) in state.items() if op != "D"
    }


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(ops=ops_strategy, splits=splits_strategy)
def test_any_ops_any_batching_converges_to_oracle_both_modes(
    spark, tmp_path_factory, ops, splits
):
    """Every generated (op sequence, batching) is replayed into a table,
    whose resolved state must equal the max-LSN oracle (round-2 advice)."""
    events = [
        (lsn, KEYS[ki], op, val) for lsn, (ki, op, val) in enumerate(ops)
    ]
    bounds = sorted(b for b in splits if b < len(events))
    batches, prev = [], 0
    for b in bounds + [len(events)]:
        if b > prev:
            batches.append(events[prev:b])
            prev = b
    root = os.path.join(str(tmp_path_factory.mktemp("prop")), uuid.uuid4().hex)
    table = LakeTable.create(
        spark, root, SCHEMA, ["repo", "path"], num_buckets=2, write_mode="mor"
    )
    for i, batch in enumerate(batches):
        src = spark.createDataFrame(
            [(lsn, op, "r", key, f"v{val}") for lsn, key, op, val in batch],
            "lsn long, op string, repo string, path string, content string",
        )
        table.merge(dedup_max_seq(src, ["repo", "path"], "lsn"), batch_id=i)
    state = {r["path"]: r["content"] for r in table.read().collect()}
    assert state == _oracle(events)


# --- coalesce-fold property: dedup_coalesce vs a per-event Python oracle ---

coalesce_ops_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),          # key index
        st.sampled_from(["U", "U", "U", "D"]),          # op (deletes rarer)
        st.one_of(st.none(), st.integers(0, 5)),        # column x assignment
        st.one_of(st.none(), st.integers(0, 5)),        # column y assignment
    ),
    min_size=1,
    max_size=20,
)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(ops=coalesce_ops_strategy)
def test_dedup_coalesce_matches_per_event_oracle(spark, ops):
    """dedup_coalesce (one groupBy over the whole batch) must equal the
    row-at-a-time reference semantics: apply events in LSN order, each
    non-null column assignment sticks, a delete resets the row — the
    ON CONFLICT ... COALESCE loop of commune_population_repository.go
    replayed per event in plain Python."""
    from french_admin_etl_spark.operators.dedup import dedup_coalesce

    keys = ["ka", "kb"]
    rows = []
    state: dict[str, dict | None] = {}
    last: dict[str, tuple[int, str]] = {}
    for lsn, (ki, op, x, y) in enumerate(ops):
        k = keys[ki]
        if op == "D":
            rows.append((k, lsn, "D", None, None))
            state[k] = None
        else:
            rows.append((k, lsn, "U", x, y))
            cur = state.get(k) or {"x": None, "y": None}
            if x is not None:
                cur["x"] = x
            if y is not None:
                cur["y"] = y
            state[k] = cur
        last[k] = (lsn, op)
    df = spark.createDataFrame(rows, "k string, lsn long, op string, x int, y int")
    got = {r["k"]: r.asDict() for r in dedup_coalesce(df, ["k"]).collect()}
    for k, (lsn, _) in last.items():
        assert got[k]["lsn"] == lsn
        if state[k] is None:
            assert got[k]["op"] == "D"
            assert got[k]["x"] is None and got[k]["y"] is None
        else:
            assert got[k]["op"] == "U"
            assert got[k]["x"] == state[k]["x"] and got[k]["y"] == state[k]["y"]


# --- full-path coalesce property: random partial ops through the TABLE ---

partial_ops_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),          # key index
        st.sampled_from(["U", "U", "U", "D"]),
        st.one_of(st.none(), st.integers(0, 4)),        # content assignment
    ),
    min_size=1,
    max_size=14,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(ops=partial_ops_strategy, splits=splits_strategy)
def test_coalesce_any_ops_any_batching_converges_both_modes(
    spark, tmp_path_factory, ops, splits
):
    """The COMPLETE coalesce path (dedup_coalesce fold → merge barrier
    handling → MOR per-column read resolution) must equal a per-event
    sequential replay for ANY op sequence (partial updates, deletes,
    delete-then-reinsert) under ANY batching. This is the property the review repro showed can silently break when
    delete barriers and batch boundaries interact."""
    from french_admin_etl_spark.operators.dedup import dedup_coalesce

    events = [(lsn, KEYS[ki], op, val) for lsn, (ki, op, val) in enumerate(ops)]
    # per-event oracle: non-null assignments stick, deletes reset
    state: dict[str, dict | None] = {}
    for _, key, op, val in events:
        if op == "D":
            state[key] = None
        else:
            cur = state.get(key) or {"content": None}
            if val is not None:
                cur["content"] = f"v{val}"
            state[key] = dict(cur)
    expected = {k: v["content"] for k, v in state.items() if v is not None}

    bounds = sorted(b for b in splits if b < len(events))
    batches, prev = [], 0
    for b in bounds + [len(events)]:
        if b > prev:
            batches.append(events[prev:b])
            prev = b
    root = os.path.join(str(tmp_path_factory.mktemp("cprop")), uuid.uuid4().hex)
    table = LakeTable.create(
        spark, root, SCHEMA, ["repo", "path"], num_buckets=2, write_mode="mor"
    )
    for i, batch in enumerate(batches):
        src = spark.createDataFrame(
            [
                (lsn, op, "r", key, None if val is None else f"v{val}")
                for lsn, key, op, val in batch
            ],
            "lsn long, op string, repo string, path string, content string",
        )
        table.merge(
            dedup_coalesce(src, ["repo", "path"], "lsn"),
            batch_id=i, mode="coalesce",
        )
    got = {r["path"]: r["content"] for r in table.read().collect()}
    assert got == expected
