"""Independent expected outputs and the failure accounting.

The ingest and join references are plain Python re-evaluations of the
generated inputs (they share no code with the engine); the engine's
outputs are read back with pyarrow, not Spark. One op is one input
event; it fails when its sink or DLQ row is missing, duplicated or
wrong, or when a row shows up that no event should have produced.
"""

from __future__ import annotations

import os
from collections import defaultdict
from urllib.parse import unquote_plus

import pyarrow.dataset as ds

#: the ingest spec's filter and transform, re-evaluated in Python
FILTER_EXPR = "amount > 10 and country != 'zz'"


def ingest_expected(events: list[dict]) -> tuple[dict, dict]:
    """(sink rows by event_id, DLQ error by event_id) for ingest events."""
    sink, dlq = {}, {}
    for ev in events:
        kind = ev["kind"]
        if kind == "malformed":
            dlq[ev["event_id"]] = "malformed JSON"
        elif kind == "missing_amount":
            dlq[ev["event_id"]] = "missing field 'amount'"
        elif kind == "bad_qty":
            dlq[ev["event_id"]] = "field 'qty' is not int"
        elif ev["amount"] > 10 and ev["country"] != "zz":
            src = ev["query"].split("&")[0].split("=", 1)[1]
            sink[ev["event_id"]] = (ev["country"].upper(), unquote_plus(src),
                                    ev["amount"] * ev["qty"])
    return sink, dlq


def read_rows(path: str, columns: list[str] | None = None) -> list[dict]:
    """All rows of a hive-partitioned parquet directory (empty if absent)."""
    if not os.path.isdir(path):
        return []
    files = []
    for d, dirs, fs in os.walk(path):
        # skip in-flight job output (_temporary/, hidden dirs); keep
        # hive partitions such as _batch_id=3/
        dirs[:] = [x for x in dirs if not x.startswith(".") and (not x.startswith("_") or "=" in x)]
        files += [os.path.join(d, f) for f in fs
                  if f.endswith(".parquet") and not f.startswith((".", "_"))]
    if not files:
        return []
    table = ds.dataset(files, format="parquet", partitioning="hive",
                       partition_base_dir=path).to_table(columns=columns)
    return table.to_pylist()


def check_ingest(sink_rows: list[dict], dlq_rows: list[dict],
                 expected: tuple[dict, dict], due_us: dict | None = None) -> set:
    """Ids of the failed ops of one ingest pass. ``due_us`` (paced runs)
    is each event's stamped due time, which the sink row must echo."""
    want_sink, want_dlq = expected
    failed: set[str] = set()
    seen: set[str] = set()
    for r in sink_rows:
        eid = r["event_id"]
        want = want_sink.get(eid)
        got = (r["country"], r["source"], r["total"])
        due_ok = due_us is None or r["due_us"] == due_us.get(eid)
        if eid in seen or want is None or got != want or not due_ok:
            failed.add(eid)
        seen.add(eid)
    dlq_seen: set[str] = set()
    for r in dlq_rows:
        eid = _payload_event_id(r["payload"])
        if eid in dlq_seen or want_dlq.get(eid) != r["error"] or r["component"] != "ingestor:events":
            failed.add(eid or r["payload"])
        dlq_seen.add(eid)
    return failed | (set(want_sink) - seen) | (set(want_dlq) - dlq_seen)


def _payload_event_id(payload: str) -> str:
    # payloads start with {"event_id":"<id>" (truncated ones included)
    head = payload.split(",", 1)[0]
    return head.split(":", 1)[1].strip('"') if ":" in head else ""


# ------------------------------------------------------------------ join

JOIN_MIN_AMOUNT = 5.0


def join_expected(events: list[dict], orders: list[dict], left_ttl_us: int,
                  right_ttl_us: int) -> dict:
    """Joined rows by event_id under the documented arrival rules of
    ``streaming/temporal_join.py``, replayed row by row in event-time
    order: a right overwrites its key's latest value and drains the
    key's pending lefts that are still alive; a left joins the key's
    latest unexpired right at once, or waits for the next right."""
    kept, first = [], set()
    for e in events:
        if e["amount"] > JOIN_MIN_AMOUNT and e["event_id"] not in first:
            first.add(e["event_id"])
            kept.append(e)

    def us(t):
        return int(t.timestamp()) * 1_000_000 + t.microsecond

    stream = sorted([(us(e["ts"]), 0, e) for e in kept] + [(us(o["ts"]), 1, o) for o in orders],
                    key=lambda x: (x[0], x[1]))
    latest: dict[str, tuple[int, dict]] = {}
    pending: dict[str, list[tuple[int, dict]]] = defaultdict(list)
    out = {}

    def emit(e, o):
        out[e["event_id"]] = (e["user_id"], e["amount"], o["status"], o["order_amt"])

    for t, side, row in stream:
        key = row["user_id"]
        if side == 1:
            for lt, e in pending.pop(key, []):
                if t - lt <= left_ttl_us:
                    emit(e, row)
            latest[key] = (t, row)
        else:
            r = latest.get(key)
            if r is not None and t - r[0] <= right_ttl_us:
                emit(row, r[1])
            else:
                pending[key].append((t, row))
    return out


def check_keyed(rows: list[dict], expected: dict, key: str, cols: tuple[str, ...],
                n_ops: int) -> int:
    """Failed ops for a keyed output: wrong, duplicate, unexpected or
    missing rows. ``n_ops`` caps the count at the input size."""
    failed, seen = set(), set()
    for r in rows:
        k = r[key]
        if k in seen or expected.get(k) != tuple(r[c] for c in cols):
            failed.add(k)
        seen.add(k)
    failed |= set(expected) - seen
    return min(len(failed), n_ops)


def check_rollup(rows: list[dict], expected: dict, cutoff_us: int, n_docs: int) -> int:
    """Failed ops for the curation rollup: every document counted in a
    missing or wrong (window, pred) row of the closed windows fails."""
    got = {}
    for r in rows:
        if r["window_start_us"] < cutoff_us:
            k = (r["window_start_us"], r["pred"])
            got[k] = None if k in got else (r["n_docs"], r["sum_tokens"], r["sum_score"])
    failed = 0
    for k in set(got) | set(expected):
        if got.get(k) != expected.get(k):
            failed += max((expected.get(k) or (0,))[0], (got.get(k) or (1,))[0])
    return min(failed, n_docs)
