"""Faithful streaming temporal join: latest-wins right buffer + left
pending queue, per key, with TTL expiry.

This is the one operator whose semantics Spark's built-in stream-stream
join cannot express (it would emit *all* right matches in the window,
not latest-wins; reference algorithm at
glassflow-api/internal/join/temporal.go:119-291):

- right event arrives: overwrite the key's right buffer (latest wins),
  then drain ALL buffered lefts for that key -> emit joined rows;
- left event arrives: if a right value exists -> join + emit
  immediately (the left is consumed, never buffered); else buffer it;
- buffers expire after their side's time_window; expired rows vanish
  (inner-join behavior).

Implementation: both streams union into one tagged stream; groupBy(key)
.applyInPandasWithState keeps {latest right, pending lefts} per key.
Within a micro-batch, rows process in event-time order (batch stands in
for arrival order — same tie-break the batch oracle documents).
State is sharded by key across executors — unlike the reference, which
pins the join to a single replica (scaling/page.mdx:211), this scales
horizontally; ordering guarantees are per-key, which is exactly what
the KV-buffer algorithm provides anyway.

The per-key batch is processed WITHOUT a Python row loop: only the
output-projected fields travel through the union (typed columns — no
JSON encode/decode anywhere), pending lefts live column-oriented in
state, and the arrival-order rules reduce to two ``searchsorted``
lookups over the sorted right timestamps —

- a left's immediate-join partner is the latest right processed before
  it  (``searchsorted(right_us, left_us, 'left') - 1``; equal-ts rights
  sort after lefts, so they are not yet arrived);
- a buffered left's drain partner is the first right processed after
  it (``searchsorted(..., 'left')``), emitted only if the left is
  still alive at that moment — later rights never see it because every
  drain clears the buffer.

Expiry uses event time relative to the maximum timestamp seen per key
(processing-time TTL in the reference — the documented semantic shift,
SURVEY.md §7.5.2) plus a processing-time state timeout as a GC
backstop for keys that stop receiving events.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..spec.model import JoinConfig


def _side_fields(side_df: DataFrame, rules) -> list[tuple[str, str, T.DataType]]:
    """(source name, output name, type) for one side's output rules;
    missing columns project as NULL string."""
    out = []
    for r in rules:
        if r.name in side_df.columns:
            out.append((r.name, r.output_name, side_df.schema[r.name].dataType))
        else:
            out.append((r.name, r.output_name, T.StringType()))
    return out


def _tagged_union(
    left: DataFrame, right: DataFrame, cfg: JoinConfig, left_ts: str, right_ts: str,
    l_fields, r_fields,
) -> DataFrame:
    # keys go through the same dual literal-dotted/nested-path
    # resolution as the batch join/dedup (a key spelled 'a.b' may be a
    # literal top-level column) — raw F.col would resolve differently
    # in streaming than in batch
    from ..operators.dedup import _key_col

    def proj(df, name, dtype):
        return (F.col(name) if name in df.columns else F.lit(None)).cast(dtype)

    lhs = left.select(
        _key_col(left, cfg.left.key).cast("string").alias("_key"),
        F.unix_micros(F.col(left_ts).cast("timestamp")).alias("_us"),
        F.lit(0).alias("_side"),  # left
        *[proj(left, n, t).alias(f"_l{i}") for i, (n, _, t) in enumerate(l_fields)],
        *[F.lit(None).cast(t).alias(f"_r{i}") for i, (_, _, t) in enumerate(r_fields)],
    )
    rhs = right.select(
        _key_col(right, cfg.right.key).cast("string").alias("_key"),
        F.unix_micros(F.col(right_ts).cast("timestamp")).alias("_us"),
        F.lit(1).alias("_side"),  # right
        *[F.lit(None).cast(t).alias(f"_l{i}") for i, (_, _, t) in enumerate(l_fields)],
        *[proj(right, n, t).alias(f"_r{i}") for i, (n, _, t) in enumerate(r_fields)],
    )
    return lhs.unionByName(rhs)


def _state_schema(l_fields, r_fields) -> T.StructType:
    return T.StructType(
        [
            T.StructField("has_right", T.BooleanType()),
            T.StructField("right_us", T.LongType()),
            *[T.StructField(f"_r{i}", t) for i, (_, _, t) in enumerate(r_fields)],
            T.StructField("left_us", T.ArrayType(T.LongType())),
            *[T.StructField(f"_l{i}", T.ArrayType(t)) for i, (_, _, t) in enumerate(l_fields)],
        ]
    )


def _py(v):
    """numpy scalar -> python scalar for state serialization."""
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float) and pd.isna(v):
        return None
    return v


def _coercer(dtype: T.DataType):
    """State values must match the state schema's python types exactly —
    the union's null-padding upcasts int columns to float64 in pandas,
    so a long field would otherwise arrive as float and fail the state
    serializer."""
    if isinstance(dtype, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return lambda v: None if (v := _py(v)) is None else int(v)
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return lambda v: None if (v := _py(v)) is None else float(v)
    if isinstance(dtype, T.BooleanType):
        return lambda v: None if (v := _py(v)) is None else bool(v)
    return _py


def _make_step(
    cfg: JoinConfig,
    l_out: list[str],   # output names fed by the left side, in _l{i} order
    r_out: list[str],   # output names fed by the right side, in _r{i} order
    l_coerce: list,     # per-left-field state coercers
    r_coerce: list,     # per-right-field state coercers
    out_names: list[str],  # full output column order
):
    """The per-key micro-batch step: vectorized searchsorted join over
    one key's sorted rows + the columnar state tuple, kept free of the
    applyInPandasWithState wiring so it is testable without a session.

    Signature: step(rows_pdf, state_tuple_or_None) ->
    (out_pdf_or_None, new_state_tuple_or_None) where the state tuple is
    (has_right, right_us, *right_fields, left_us_list, *left_field_lists)
    — the exact _state_schema layout."""
    left_ttl_us = int(cfg.left.time_window_s * 1_000_000)
    right_ttl_us = int(cfg.right.time_window_s * 1_000_000)
    l_cols = [f"_l{i}" for i in range(len(l_out))]
    r_cols = [f"_r{i}" for i in range(len(r_out))]
    n_r = len(r_cols)

    def step(rows: pd.DataFrame, st: tuple | None):
        if st is not None:
            has_right = bool(st[0])
            right_us = st[1]
            st_r = list(st[2 : 2 + n_r])
            st_l_us = np.asarray(st[2 + n_r] or [], dtype="int64")
            st_l = [list(a or []) for a in st[3 + n_r :]]
        else:
            has_right, right_us = False, None
            st_r = [None] * n_r
            st_l_us = np.asarray([], dtype="int64")
            st_l = [[] for _ in l_cols]

        rows = rows.sort_values(["_us", "_side"], kind="mergesort")

        us = rows["_us"].to_numpy(dtype="int64", na_value=0)
        side = rows["_side"].to_numpy()
        l_pos = np.flatnonzero(side == 0)
        r_pos = np.flatnonzero(side == 1)
        l_us = us[l_pos]
        r_us = us[r_pos]
        max_us = int(us.max()) if us.size else 0
        l_vals = [rows[c].to_numpy()[l_pos] for c in l_cols]
        r_vals = [rows[c].to_numpy()[r_pos] for c in r_cols]

        emits: list[pd.DataFrame] = []

        def emit(n, left_arrays, right_arrays):
            if not n:
                return
            data = {}
            for name, arr in zip(l_out, left_arrays):
                data[name] = arr
            for name, arr in zip(r_out, right_arrays):
                data[name] = arr
            emits.append(pd.DataFrame(data, columns=out_names))

        # 1. state-pending lefts drain at the FIRST batch right (alive
        #    ones emit; the drain clears the buffer either way)
        if r_pos.size and st_l_us.size:
            alive = (
                np.ones(st_l_us.size, dtype=bool)
                if left_ttl_us == 0
                else (int(r_us[0]) - st_l_us <= left_ttl_us)
            )
            k = int(alive.sum())
            emit(
                k,
                [np.asarray(a, dtype=object)[alive] for a in st_l],
                [np.repeat(np.asarray([rv[0]], dtype=object), k) for rv in r_vals],
            )
        if r_pos.size:
            st_l_us = np.asarray([], dtype="int64")
            st_l = [[] for _ in l_cols]

        if l_pos.size:
            # latest batch right processed before each left
            p = np.searchsorted(r_us, l_us, side="left") - 1
            pr_us = r_us[np.clip(p, 0, None)] if r_us.size else np.zeros_like(l_us)
            batch_imm = (p >= 0) & (
                (right_ttl_us == 0) | (l_us - pr_us <= right_ttl_us)
            )
            state_imm = (
                (p == -1)
                & has_right
                & ((right_ttl_us == 0) | (l_us - int(right_us or 0) <= right_ttl_us))
            )

            # 2. immediate joins against the state right (pre-batch value)
            k = int(state_imm.sum())
            emit(
                k,
                [a[state_imm] for a in l_vals],
                [np.repeat(np.asarray([sv], dtype=object), k) for sv in st_r],
            )
            # 3. immediate joins against batch rights
            pi = p[batch_imm]
            emit(pi.size, [a[batch_imm] for a in l_vals], [rv[pi] for rv in r_vals])

            # 4. buffered lefts drain at the first right AFTER them,
            #    iff still alive then; expired ones are dropped by that
            #    same drain and never reach a later right
            q = np.searchsorted(r_us, l_us, side="left")
            buffered = ~(batch_imm | state_imm)
            has_drain = buffered & (q < r_us.size)
            if has_drain.any():
                qi = q[has_drain]
                d_alive = (
                    np.ones(qi.size, dtype=bool)
                    if left_ttl_us == 0
                    else (r_us[qi] - l_us[has_drain] <= left_ttl_us)
                )
                sel = np.flatnonzero(has_drain)[d_alive]
                emit(sel.size, [a[sel] for a in l_vals], [rv[qi[d_alive]] for rv in r_vals])

            pending = buffered & (q >= r_us.size)
        else:
            pending = np.zeros(0, dtype=bool)

        # ---- new state ----
        if r_pos.size:
            has_right, right_us = True, int(r_us[-1])
            st_r = [c(rv[-1]) for c, rv in zip(r_coerce, r_vals)]
        new_l_us = np.concatenate([st_l_us, l_us[pending]]) if l_pos.size else st_l_us
        new_l = [
            list(old) + [c(v) for v in a[pending]]
            for old, c, a in zip(st_l, l_coerce, l_vals)
        ] if l_pos.size else st_l
        if left_ttl_us and new_l_us.size:
            keep = max_us - new_l_us <= left_ttl_us
            new_l_us = new_l_us[keep]
            new_l = [[v for v, k in zip(a, keep) if k] for a in new_l]
        if right_ttl_us and has_right and max_us - int(right_us) > right_ttl_us:
            has_right, right_us = False, None
            st_r = [None] * n_r

        if not has_right and not new_l_us.size:
            new_state = None
        else:
            new_state = (
                has_right,
                right_us,
                *st_r,
                [int(v) for v in new_l_us],
                *new_l,
            )
        out = pd.concat(emits, ignore_index=True) if emits else None
        return out, new_state

    return step


def _make_processor(
    cfg: JoinConfig,
    l_out: list[str],
    r_out: list[str],
    l_coerce: list,
    r_coerce: list,
    out_names: list[str],
    state_gc_timeout_ms: int | None,
):
    step = _make_step(cfg, l_out, r_out, l_coerce, r_coerce, out_names)

    def empty_out() -> pd.DataFrame:
        return pd.DataFrame(columns=out_names)

    def process(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            yield empty_out()
            return

        chunks = list(pdfs)
        rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        out, new_state = step(rows, state.get if state.exists else None)

        if new_state is None:
            state.remove()
        else:
            state.update(new_state)
            # GC backstop for keys that go quiet — ONLY when configured:
            # a registered processing-time timer keeps an availableNow
            # query alive with empty epochs until it fires, so
            # bounded/batch-parity runs must leave it off (event-time
            # pruning above already caps state for active keys)
            if state_gc_timeout_ms is not None:
                state.setTimeoutDuration(state_gc_timeout_ms)

        yield out if out is not None else empty_out()

    return process


def temporal_join_streaming(
    left: DataFrame,
    right: DataFrame,
    cfg: JoinConfig,
    left_ts: str,
    right_ts: str,
    state_gc_timeout_ms: int | None = None,
) -> DataFrame:
    """Wire the tagged-union stateful processor. The output schema is
    cfg.output_fields in order, each typed by its side's column.

    ``state_gc_timeout_ms``: optional processing-time GC for keys that
    stop receiving events (long-running continuous deployments). Leave
    None for availableNow / bounded runs — registered timers force the
    engine to keep scheduling empty micro-batches until they fire.
    """
    if not cfg.output_fields:
        raise ValueError("streaming temporal join requires explicit output_fields")
    l_rules = [r for r in cfg.output_fields if r.source_id == cfg.left.source_id]
    r_rules = [r for r in cfg.output_fields if r.source_id != cfg.left.source_id]
    l_fields = _side_fields(left, l_rules)
    r_fields = _side_fields(right, r_rules)
    out_names = [r.output_name for r in cfg.output_fields]
    out_types = {o: t for _, o, t in l_fields + r_fields}
    output_schema = T.StructType(
        [T.StructField(o, out_types[o], True) for o in out_names]
    )

    union = _tagged_union(left, right, cfg, left_ts, right_ts, l_fields, r_fields)
    return union.groupBy("_key").applyInPandasWithState(
        _make_processor(
            cfg,
            [o for _, o, _ in l_fields],
            [o for _, o, _ in r_fields],
            [_coercer(t) for _, _, t in l_fields],
            [_coercer(t) for _, _, t in r_fields],
            out_names,
            state_gc_timeout_ms,
        ),
        outputStructType=output_schema,
        stateStructType=_state_schema(l_fields, r_fields),
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout
        if state_gc_timeout_ms is not None
        else GroupStateTimeout.NoTimeout,
    )
