"""Fast, Spark-free tests of the temporal-join micro-batch step
(`temporal_join._make_step`) that `temporal_join_streaming` wires into
applyInPandasWithState, one call per key bucket. These run without a
SparkSession (pure pandas/numpy/pyarrow).

The scenario tests drive the bucketed step with one key and read its
state back as the per-key tuple (has_right, right_us, *rights,
left_us, *lefts). The property tests drive it with many keys and check
it against the per-key reference form (``reference_forms``) replayed
key by key."""

import math

import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import types as T
from reference_forms import _coercer, temporal_step_per_key

from clickhouse_etl_spark.spec.model import JoinConfig, JoinOutputField, JoinSourceConfig
from clickhouse_etl_spark.streaming.temporal_join import _make_step, _state_table_schema


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


def _key_states(table, n_r):
    """Bucket state table -> {key: per-key state tuple}."""
    if table is None:
        return {}
    states = {}
    for r in table.to_pylist():
        rights = [r[f"_r{j}"] for j in range(n_r)]
        lefts = [r[c] for c in table.column_names if c.startswith("_l") and c != "_left_us"]
        states[r["_key"]] = (r["_right_us"] is not None, r["_right_us"], *rights,
                             r["_left_us"], *lefts)
    return states


def _step(cfg):
    """The bucketed step over one key 'k', its state read and written
    as that key's per-key tuple."""
    # l_fields: (id string, name string); r_fields: (email string)
    step = _make_step(
        cfg, ["id", "name"], ["email"], [T.StringType()] * 2, [T.StringType()],
        ["id", "name", "email"],
    )
    schema = _state_table_schema([T.StringType()] * 2, [T.StringType()])

    def run(rows, st):
        table = None
        if st is not None:
            has_right, right_us, r0, left_us, l0, l1 = st
            table = pa.Table.from_pylist(
                [{"_key": "k", "_touched_ms": 0, "_right_us": right_us if has_right else None,
                  "_r0": r0, "_left_us": left_us, "_l0": l0, "_l1": l1}],
                schema=schema,
            )
        out, new = step(rows.assign(_key="k"), table, 0)
        return out, _key_states(new, 1).get("k")

    return run


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


# ------------------------------------------- bucketed step == per-key replay

# left fields: name (string), amount (long, NULLs -> NaN as PySpark
# hands them); right fields: email (string), score (double)
_L_TYPES = [T.StringType(), T.LongType()]
_R_TYPES = [T.StringType(), T.DoubleType()]
_OUT = ["name", "amount", "email", "score"]

_rows = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c", "d", "e"]),
        st.integers(0, 12).map(lambda t: t * 250_000),  # ties on purpose
        st.integers(0, 1),
        st.one_of(st.none(), st.integers(-5, 5)),
    ),
    min_size=1,
    max_size=40,
)
_splits = st.lists(st.integers(0, 40), max_size=4)
_ttl = st.sampled_from([0.0, 0.25, 0.5, 1.0, 3.0])
_gc = st.sampled_from([None, 500, 1_000, 2_000])


def _frame(rows):
    return pd.DataFrame(
        {
            "_key": [k for k, *_ in rows],
            "_us": [u for _, u, _, _ in rows],
            "_side": [s for _, _, s, _ in rows],
            "_l0": [f"n{i}" if s == 0 else None for i, (_, _, s, _) in enumerate(rows)],
            "_l1": [v if s == 0 else None for _, _, s, v in rows],
            "_r0": [f"e{i}" if s == 1 else None for i, (_, _, s, _) in enumerate(rows)],
            "_r1": [v / 4 if s == 1 and v is not None else None for _, _, s, v in rows],
        }
    )


def _norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, float) and v.is_integer():
        return int(v)
    if isinstance(v, list):
        return [_norm(x) for x in v]
    return v


def _out_rows(out):
    if out is None:
        return []
    return sorted(tuple(_norm(v) for v in r) for r in out[_OUT].itertuples(index=False))


def _replay_matches_per_key(rows, cuts, lw, rw, gc_ms):
    cfg = _cfg(lw, rw)
    step = _make_step(cfg, ["name", "amount"], ["email", "score"], _L_TYPES, _R_TYPES, _OUT,
                      gc_ms)
    ref = temporal_step_per_key(
        cfg, ["name", "amount"], ["email", "score"],
        [_coercer(t) for t in _L_TYPES], [_coercer(t) for t in _R_TYPES], _OUT,
    )
    frame = _frame(rows)
    bounds = sorted({0, len(rows), *[c for c in cuts if c < len(rows)]})
    table, ref_state, touched = None, {}, {}
    for b, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        now_ms = b * 1_000
        batch = frame.iloc[lo:hi].reset_index(drop=True)
        out, table = step(batch, table, now_ms)
        want = []
        for key, part in batch.groupby("_key", sort=False):
            k_out, k_st = ref(part.reset_index(drop=True), ref_state.get(key))
            want += _out_rows(k_out)
            if k_st is None:
                ref_state.pop(key, None)
            else:
                ref_state[key] = k_st
            touched[key] = now_ms
        if gc_ms is not None:  # the bucket ran: its idle keys expire
            for key in [k for k in ref_state if now_ms - touched[k] > gc_ms]:
                del ref_state[key]
        assert _out_rows(out) == sorted(want)
        got = {k: tuple(_norm(v) for v in s) for k, s in _key_states(table, 2).items()}
        assert got == {k: tuple(_norm(v) for v in s) for k, s in ref_state.items()}


@settings(max_examples=300, deadline=None, derandomize=True)
@given(_rows, _splits, _ttl, _ttl, _gc)
def test_bucketed_step_equals_per_key_replay(rows, cuts, lw, rw, gc_ms):
    """Many keys in one bucket, random micro-batch splits, TTLs and GC
    timeouts: every batch's output and the state of every key equal the
    per-key reference form run key by key (one fixed seed)."""
    _replay_matches_per_key(rows, cuts, lw, rw, gc_ms)


@pytest.mark.heavy
@settings(max_examples=3_000, deadline=None)
@given(_rows, _splits, _ttl, _ttl, _gc)
def test_bucketed_step_equals_per_key_replay_many_seeds(rows, cuts, lw, rw, gc_ms):
    _replay_matches_per_key(rows, cuts, lw, rw, gc_ms)
