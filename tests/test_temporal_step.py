"""Fast, Spark-free tests of the temporal-join micro-batch step
(`temporal_join._make_step`) that `temporal_join_streaming` wires into
applyInPandasWithState. These run without a SparkSession (pure
pandas/numpy)."""

import pandas as pd

from clickhouse_etl_spark.spec.model import JoinConfig, JoinOutputField, JoinSourceConfig
from clickhouse_etl_spark.streaming.temporal_join import _coercer, _make_step
from pyspark.sql import types as T


def _cfg(lw=2.0, rw=2.0):
    return JoinConfig(
        left=JoinSourceConfig("left", "id", lw, "left"),
        right=JoinSourceConfig("right", "id", rw, "right"),
        output_fields=(
            JoinOutputField("left", "id", "id"),
            JoinOutputField("left", "name", "name"),
            JoinOutputField("right", "email", "email"),
        ),
    )


def _step(cfg):
    # l_fields: (id string, name string); r_fields: (email string)
    return _make_step(
        cfg,
        ["id", "name"],
        ["email"],
        [_coercer(T.StringType())] * 2,
        [_coercer(T.StringType())],
        ["id", "name", "email"],
    )


def _batch(rows):
    """rows: (us, side, l0, l1, r0)"""
    return pd.DataFrame(
        [{"_us": u, "_side": s, "_l0": l0, "_l1": l1, "_r0": r0} for u, s, l0, l1, r0 in rows]
    )


def test_step_golden_scenario():
    """join.feature semantics in one batch: buffered left drains at the
    FIRST later right; lefts after a right join the latest right."""
    step = _step(_cfg())
    out, st = step(
        _batch([
            (0, 0, "u1", "Alice", None),        # left before any right -> buffered
            (200_000, 1, None, None, "old@x"),  # drains Alice
            (500_000, 1, None, None, "new@x"),  # latest-wins from here on
            (1_000_000, 0, "u1", "Bob", None),  # immediate join vs new@x
        ]),
        None,
    )
    got = {(r.id, r.name, r.email) for r in out.itertuples()}
    assert got == {("u1", "Alice", "old@x"), ("u1", "Bob", "new@x")}
    # state keeps the latest right, no pending lefts
    assert st[0] is True and st[1] == 500_000 and st[2] == "new@x"
    assert st[3] == []


def test_step_state_carries_across_batches():
    step = _step(_cfg())
    # batch 1: lone left -> buffered in state
    out1, st1 = step(_batch([(0, 0, "u2", "Carol", None)]), None)
    assert out1 is None
    assert st1[0] is False and st1[3] == [0] and st1[4] == ["u2"]
    # batch 2: right arrives -> drains the state-pending left
    out2, st2 = step(_batch([(100_000, 1, None, None, "c@x")]), st1)
    assert {(r.id, r.name, r.email) for r in out2.itertuples()} == {("u2", "Carol", "c@x")}
    assert st2[0] is True and st2[3] == []


def test_step_ttl_expiry():
    step = _step(_cfg(lw=1.0, rw=1.0))  # 1s windows
    # pending left expires before the right arrives (gap 1.5s > 1s)
    out, st = step(
        _batch([
            (0, 0, "u3", "Dan", None),
            (1_500_000, 1, None, None, "d@x"),
        ]),
        None,
    )
    assert out is None or len(out) == 0
    # right older than its TTL relative to max_us is evicted
    out2, st2 = step(
        _batch([
            (0, 1, None, None, "e@x"),
            (2_000_000, 0, "u4", "Eve", None),  # right expired -> buffered
        ]),
        None,
    )
    assert out2 is None or len(out2) == 0
    assert st2[0] is False and st2[3] == [2_000_000]


def test_step_empty_state_removed():
    step = _step(_cfg(lw=1.0, rw=1.0))
    # everything expires -> state tuple is None (caller removes state)
    out, st = step(
        _batch([
            (0, 0, "u5", "Fay", None),
            (10_000_000, 0, "u5", "Gil", None),
        ]),
        None,
    )
    assert out is None
    assert st is not None and st[3] == [10_000_000]  # only the fresh left survives

