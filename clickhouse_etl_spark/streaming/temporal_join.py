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

Implementation: both streams union into one tagged stream (rows with a
NULL key are dropped there: a NULL key never joins, as in batch);
``groupBy(_bucket).applyInPandasWithState`` runs one Python call per
key bucket per micro-batch. There are P buckets, P the shuffle
partition count the query runs under, and a key's bucket is
``pmod(xxhash64(key), P)``; Spark's hash partitioner then places the
buckets (two may share a partition while another holds none). A
restarted query keeps its checkpoint's P. Within a micro-batch, rows
process in event-time order (batch stands in for arrival order — same
tie-break the batch oracle documents); ordering guarantees are per
key, which is exactly what the KV-buffer algorithm provides anyway.

A bucket's state is one Arrow IPC blob holding a table with one row
per key: the latest right, the pending lefts as list columns
(flattened values plus per-key offsets) and the key's last-touched
processing time. The step reads into numpy and rebuilds only the rows
of the keys the micro-batch touches; the other rows are carried over
as Arrow data. The whole blob is still rewritten to the state store on
every micro-batch that touches the bucket, so checkpoint bytes per
micro-batch scale with the keys held, not the keys touched. The
micro-batch step has no Python row or key loop. It sorts the bucket's
rows once by (key, ts, side) and
reduces the arrival-order rules to running maxima/minima of right
positions, reset at each key segment:

- a left's immediate-join partner is the latest right processed before
  it (equal-ts rights sort after lefts, so they are not yet arrived);
  with no batch right before it, the key's state right;
- a buffered left's drain partner is the first right processed after
  it, emitted only if the left is still alive at that moment — later
  rights never see it because every drain clears the buffer; the
  state's pending lefts drain at the key's first batch right.

Expiry uses event time relative to the maximum timestamp seen per key
in the micro-batch (processing-time TTL in the reference — the
documented semantic shift, SURVEY.md §7.5.2); a key with no rows in
the micro-batch keeps its state unchanged. The optional
processing-time GC backstop is per key: a key idle past the timeout is
dropped the next time its bucket runs, and a bucket idle past it is
dropped whole by its state timeout.
"""

from __future__ import annotations

import json
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..spec.model import JoinConfig

# Spark's grouped-state value: the bucket count the blob was written
# under (a changed spark.sql.shuffle.partitions would move keys between
# buckets) and the bucket's Arrow IPC table
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_buckets", T.IntegerType()),
        T.StructField("keys", T.BinaryType()),
    ]
)


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
    # the batch equi-join never matches NULL = NULL
    return lhs.unionByName(rhs).where(F.col("_key").isNotNull())


def checkpoint_shuffle_partitions(spark, checkpoint: str) -> int | None:
    """The ``spark.sql.shuffle.partitions`` a streaming query's
    checkpoint runs under, or None when it has run no batch. Spark
    records the value in every offset-log entry and runs a restarted
    query with it, whatever the session now says."""
    jvm = spark._jvm
    log = jvm.org.apache.hadoop.fs.Path(f"{checkpoint}/offsets")
    fs = log.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(log):
        return None
    batches = [st.getPath().getName() for st in fs.listStatus(log)]
    batches = [int(b) for b in batches if b.isdigit()]
    if not batches:
        return None
    stream = fs.open(jvm.org.apache.hadoop.fs.Path(log, str(max(batches))))
    try:
        text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    # line 1 is the log version, line 2 the batch metadata with its conf
    conf = json.loads(text.split("\n")[1]).get("conf", {})
    n = conf.get("spark.sql.shuffle.partitions")
    return int(n) if n is not None else None


def _arrow_type(dtype: T.DataType) -> pa.DataType:
    """State column type: Spark's Arrow mapping, with timestamps kept
    zone-less so they round-trip to the naive values the rows carry."""
    t = to_arrow_type(dtype)
    return pa.timestamp("us") if pa.types.is_timestamp(t) else t


def _state_table_schema(l_types: list[T.DataType], r_types: list[T.DataType]) -> pa.Schema:
    """One row per key, in no set order; ``_right_us`` is NULL when
    the key holds no right; ``_left_us``/``_l{i}`` list the key's
    pending lefts in arrival order."""
    return pa.schema(
        [
            ("_key", pa.string()),
            ("_touched_ms", pa.int64()),
            ("_right_us", pa.int64()),
            *[(f"_r{j}", _arrow_type(t)) for j, t in enumerate(r_types)],
            ("_left_us", pa.list_(pa.int64())),
            *[(f"_l{i}", pa.list_(_arrow_type(t))) for i, t in enumerate(l_types)],
        ]
    )


def _dump(table: pa.Table) -> bytes:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue().to_pybytes()


def _load(blob: bytes) -> pa.Table:
    return pa.ipc.open_stream(blob).read_all()


def _values(col) -> np.ndarray:
    """Arrow column -> numpy in the same form PySpark hands the rows
    (NULL ints as NaN floats, dates as objects, naive timestamps)."""
    return col.to_pandas().to_numpy()


def _make_step(
    cfg: JoinConfig,
    l_out: list[str],   # output names fed by the left side, in _l{i} order
    r_out: list[str],   # output names fed by the right side, in _r{i} order
    l_types: list[T.DataType],
    r_types: list[T.DataType],
    out_names: list[str],  # full output column order
    state_gc_timeout_ms: int | None = None,
):
    """The per-bucket micro-batch step, kept free of the
    applyInPandasWithState wiring so it is testable without a session.

    Signature: step(rows_pdf, state_table_or_None, now_ms) ->
    (out_pdf_or_None, new_state_table_or_None). ``rows_pdf`` holds the
    bucket's rows (``_key`` not NULL, ``_us``, ``_side`` 0=left/1=right,
    ``_l{i}``, ``_r{j}``); the state table has the
    ``_state_table_schema`` layout."""
    left_ttl = int(cfg.left.time_window_s * 1_000_000)
    right_ttl = int(cfg.right.time_window_s * 1_000_000)
    l_cols = [f"_l{i}" for i in range(len(l_out))]
    r_cols = [f"_r{j}" for j in range(len(r_out))]
    schema = _state_table_schema(l_types, r_types)

    def step(rows: pd.DataFrame, state: pa.Table | None, now_ms: int):
        if state is None:
            state = schema.empty_table()
        n = len(rows)

        # ---- the batch's keys, sorted; a key the batch does not touch
        #      keeps its state row as it is (only the GC backstop may
        #      drop it), so only touched keys' rows are read and rebuilt ----
        kb, keys = pd.factorize(rows["_key"].to_numpy(dtype=object), sort=True)
        n_keys = len(keys)
        hit = pc.is_in(state.column("_key"), value_set=pa.array(keys, pa.string()))
        idle = state.filter(pc.invert(hit))
        if state_gc_timeout_ms is not None:
            idle = idle.filter(
                pc.greater_equal(idle.column("_touched_ms"), now_ms - state_gc_timeout_ms)
            )
        state = state.filter(hit)
        s_key = state.column("_key").to_numpy()
        ks = np.searchsorted(keys, s_key)  # state row -> key index

        # ---- batch rows, sorted once by (key, ts, side) ----
        us = rows["_us"].to_numpy(dtype="int64", na_value=0)
        side = rows["_side"].to_numpy(dtype="int64")
        order = np.lexsort((side, us, kb))
        kb, us, is_r = kb[order], us[order], side[order] == 1
        idx = np.arange(n)
        # one segment per key, in key order
        seg_lo = np.flatnonzero(np.r_[True, kb[1:] != kb[:-1]])
        seg_hi = np.r_[seg_lo[1:], n]
        seg_len = seg_hi - seg_lo
        # latest right at or before each row / first right at or after
        # it, both within the row's key segment (-1: none)
        prev = np.maximum.accumulate(np.where(is_r, idx, -1))
        prev[prev < np.repeat(seg_lo, seg_len)] = -1
        nxt = np.minimum.accumulate(np.where(is_r, idx, n)[::-1])[::-1]
        nxt[nxt >= np.repeat(seg_hi, seg_len)] = -1

        # ---- pools: batch rows (original order) then state values;
        #      emits and the new state are index takes into them ----
        l_pool = [
            np.concatenate([rows[c].to_numpy(), _values(pc.list_flatten(state.column(c)))])
            for c in l_cols
        ]
        r_pool = [
            np.concatenate([rows[c].to_numpy(), _values(state.column(c))]) for c in r_cols
        ]
        p_us = pc.list_flatten(state.column("_left_us")).to_numpy()
        p_key = ks[pc.list_parent_indices(state.column("_left_us")).to_numpy()]

        # per-key state right before the batch
        has_r = np.zeros(n_keys, dtype=bool)
        r_us = np.zeros(n_keys, dtype="int64")
        r_src = np.zeros(n_keys, dtype="int64")
        has_r[ks] = state.column("_right_us").is_valid().to_numpy()
        r_us[ks] = state.column("_right_us").fill_null(0).to_numpy()
        r_src[ks] = n + np.arange(len(s_key))

        # ---- lefts of the batch ----
        lrow = np.flatnonzero(~is_r)
        lk, lus, p, q = kb[lrow], us[lrow], prev[lrow], nxt[lrow]
        b_imm = (p >= 0) & ((right_ttl == 0) | (lus - us[p] <= right_ttl))
        s_imm = (p < 0) & has_r[lk] & ((right_ttl == 0) | (lus - r_us[lk] <= right_ttl))
        buffered = ~(b_imm | s_imm)
        drain = buffered & (q >= 0) & ((left_ttl == 0) | (us[q] - lus <= left_ttl))
        pending = buffered & (q < 0)

        # state-pending lefts drain at their key's first batch right
        # (alive ones emit; the drain clears the buffer either way)
        p_first = nxt[seg_lo][p_key]
        p_drained = p_first >= 0
        s_drain = p_drained & ((left_ttl == 0) | (us[p_first] - p_us <= left_ttl))

        li = np.concatenate(
            [n + np.flatnonzero(s_drain), order[lrow[s_imm]], order[lrow[b_imm]], order[lrow[drain]]]
        )
        ri = np.concatenate(
            [order[p_first[s_drain]], r_src[lk[s_imm]], order[p[b_imm]], order[q[drain]]]
        )
        out = None
        if li.size:
            data = {name: pool[li] for name, pool in zip(l_out, l_pool)}
            data.update({name: pool[ri] for name, pool in zip(r_out, r_pool)})
            out = pd.DataFrame(data, columns=out_names)

        # ---- touched keys' new state: the batch's last right and
        #      pending lefts, expired against the key's max ts ----
        max_us = us[seg_hi - 1]
        last_r = prev[seg_hi - 1]
        got = last_r >= 0
        has_r[got] = True
        r_us[got] = us[last_r[got]]
        r_src[got] = order[last_r[got]]
        if right_ttl:
            has_r &= max_us - r_us <= right_ttl

        keep_old = ~p_drained
        e_key = np.concatenate([p_key[keep_old], kb[lrow[pending]]])
        e_us = np.concatenate([p_us[keep_old], us[lrow[pending]]])
        e_src = np.concatenate([n + np.flatnonzero(keep_old), order[lrow[pending]]])
        if left_ttl:
            alive = max_us[e_key] - e_us <= left_ttl
            e_key, e_us, e_src = e_key[alive], e_us[alive], e_src[alive]
        n_pend = np.bincount(e_key, minlength=n_keys)
        kept = np.flatnonzero(has_r | (n_pend > 0))
        o = np.argsort(e_key, kind="stable")  # old pending first, then the batch's
        e_us, e_src = e_us[o], e_src[o]
        offsets = pa.array(np.r_[0, np.cumsum(n_pend[kept])], pa.int32())
        no_r = ~has_r[kept]
        fresh = pa.Table.from_arrays(
            [
                pa.array(keys[kept], pa.string()),
                pa.array(np.full(kept.size, now_ms, dtype="int64")),
                pa.array(r_us[kept], mask=no_r),
                *[
                    pa.array(pool[r_src[kept]], schema.field(c).type, mask=no_r, from_pandas=True)
                    for c, pool in zip(r_cols, r_pool)
                ],
                pa.ListArray.from_arrays(offsets, pa.array(e_us, pa.int64())),
                *[
                    pa.ListArray.from_arrays(
                        offsets,
                        pa.array(pool[e_src], schema.field(c).type.value_type, from_pandas=True),
                    )
                    for c, pool in zip(l_cols, l_pool)
                ],
            ],
            schema=schema,
        )
        new = pa.concat_tables([idle, fresh]).combine_chunks()
        return out, (new if new.num_rows else None)

    return step


def _make_processor(step, n_buckets: int, out_names: list[str], state_gc_timeout_ms: int | None):
    def process(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:  # the whole bucket sat idle past the GC timeout
            state.remove()
            yield pd.DataFrame(columns=out_names)
            return

        old = None
        if state.exists:
            written_under, blob = state.get
            if written_under != n_buckets:
                raise RuntimeError(
                    f"temporal join state was written with {written_under} key buckets, "
                    f"this query has {n_buckets}: restart the checkpoint with the "
                    "spark.sql.shuffle.partitions it was written under"
                )
            old = _load(blob)
        chunks = list(pdfs)
        rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        out, new = step(rows, old, state.getCurrentProcessingTimeMs())

        if new is None:
            state.remove()
        else:
            state.update((n_buckets, _dump(new)))
            # GC backstop for buckets that go quiet — ONLY when
            # configured: a registered processing-time timer keeps an
            # availableNow query alive with empty epochs until it
            # fires, so bounded/batch-parity runs must leave it off
            # (event-time pruning already caps state for active keys)
            if state_gc_timeout_ms is not None:
                state.setTimeoutDuration(state_gc_timeout_ms)

        yield out if out is not None else pd.DataFrame(columns=out_names)

    return process


def temporal_join_streaming(
    left: DataFrame,
    right: DataFrame,
    cfg: JoinConfig,
    left_ts: str,
    right_ts: str,
    state_gc_timeout_ms: int | None = None,
    n_buckets: int | None = None,
) -> DataFrame:
    """Wire the tagged-union stateful processor. The output schema is
    cfg.output_fields in order, each typed by its side's column.

    ``state_gc_timeout_ms``: optional processing-time GC for keys that
    stop receiving events (long-running continuous deployments). Leave
    None for availableNow / bounded runs — registered timers force the
    engine to keep scheduling empty micro-batches until they fire.

    ``n_buckets``: the key-bucket count; None takes the session's
    ``spark.sql.shuffle.partitions``. A query restarted from a
    checkpoint must use the count the checkpoint was written under
    (:func:`checkpoint_shuffle_partitions`; ``StreamingPipeline.start``
    passes it), or its keys change bucket.
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

    if n_buckets is None:
        n_buckets = int(left.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    union = _tagged_union(left, right, cfg, left_ts, right_ts, l_fields, r_fields)
    step = _make_step(
        cfg,
        [o for _, o, _ in l_fields],
        [o for _, o, _ in r_fields],
        [t for _, _, t in l_fields],
        [t for _, _, t in r_fields],
        out_names,
        state_gc_timeout_ms,
    )
    return union.withColumn(
        "_bucket", F.pmod(F.xxhash64("_key"), F.lit(n_buckets)).cast("int")
    ).groupBy("_bucket").applyInPandasWithState(
        _make_processor(step, n_buckets, out_names, state_gc_timeout_ms),
        outputStructType=output_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout
        if state_gc_timeout_ms is not None
        else GroupStateTimeout.NoTimeout,
    )
