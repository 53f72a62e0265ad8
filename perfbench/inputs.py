"""Seeded input generators for the benchmark workloads.

Everything here is plain Python (no Spark): the engine only ever sees
the files these functions write. The same seed gives the same files,
and every generator returns the ground truth the reference check needs.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq

COUNTRIES = ["us", "de", "fr", "jp", "br", "in", "gb", "zz"]
UTM_SOURCES = ["google", "news+letter", "partner%20site", "direct", "ads"]

#: one ingest payload per line; "due_us" is stamped when the line is written
INGEST_FIELDS = [
    ("event_id", "string"),
    ("user_id", "string"),
    ("amount", "float"),
    ("qty", "int"),
    ("country", "string"),
    ("query", "string"),
    ("due_us", "int"),
]


def ingest_events(seed: int, n: int, prefix: str = "e") -> list[dict]:
    """``n`` ingest events. About 2% are broken: a truncated payload, a
    missing ``amount`` or a non-integer ``qty``; each carries its
    ``kind`` so the reference knows where it must land."""
    rng = random.Random(seed)
    events = []
    for i in range(n):
        ev = {
            "event_id": f"{prefix}{seed}-{i}",
            "user_id": f"u{rng.randrange(5000)}",
            "amount": round(rng.uniform(0, 100), 2),
            "qty": rng.randrange(1, 10),
            "country": rng.choice(COUNTRIES),
            "query": f"utm_source={rng.choice(UTM_SOURCES)}&page={rng.randrange(50)}",
        }
        r = rng.random()
        kind = "ok"
        if r < 0.007:
            kind = "malformed"
        elif r < 0.014:
            kind = "missing_amount"
            del ev["amount"]
        elif r < 0.02:
            kind = "bad_qty"
            ev["qty"] = "x" + str(ev["qty"])
        ev["kind"] = kind
        events.append(ev)
    return events


def ingest_line(ev: dict, due_us: int) -> str:
    """The exact payload string for one event (what the DLQ must echo)."""
    body = {k: v for k, v in ev.items() if k != "kind"}
    body["due_us"] = due_us
    s = json.dumps(body, separators=(",", ":"))
    if ev["kind"] == "malformed":
        return s[: len(s) // 2]
    return s


def write_lines(path: str, lines: list[str]) -> None:
    """Write one text file atomically: a file source must never list a
    half-written file, so it is written aside and renamed into place."""
    d, name = os.path.split(path)
    tmp = os.path.join(os.path.dirname(d), f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, path)


def order_files(*dirs: str) -> None:
    """Give each file of a source dir its own modification time, in name
    order. A file source takes files oldest first, and files written in
    the same millisecond would be taken in listing order, which can put
    part-00001 in the first micro-batch."""
    t0 = int(time.time()) - 1000
    for d in dirs:
        for k, name in enumerate(sorted(os.listdir(d))):
            os.utime(os.path.join(d, name), (t0 + k, t0 + k))


def write_ingest_backlog(events: list[dict], out_dir: str, n_files: int) -> None:
    """Split the events over ``n_files`` text files (``due_us`` is 0: a
    backlog is due at drain start)."""
    os.makedirs(out_dir, exist_ok=True)
    lines = [ingest_line(ev, 0) for ev in events]
    per = -(-len(lines) // n_files)
    for k in range(n_files):
        write_lines(os.path.join(out_dir, f"part-{k:05d}.json"), lines[k * per:(k + 1) * per])
    order_files(out_dir)


class PacedWriter(threading.Thread):
    """Open-loop generator: every ``tick_s`` it renames one file of
    ``rate * tick_s`` events into ``out_dir``, on a fixed schedule that
    does not slow when the pipeline does. Each event's ``due_us`` is its
    file's scheduled time; how late each file landed is kept in
    ``lateness_ms``."""

    def __init__(self, events: list[dict], out_dir: str, rate: int, tick_s: float = 0.1):
        super().__init__(daemon=True)
        self.events = events
        self.out_dir = out_dir
        self.per_tick = max(1, int(rate * tick_s))
        self.tick_s = tick_s
        self.due_us: dict[str, int] = {}
        self.lateness_ms: list[float] = []
        self.files = 0
        self.t0 = 0.0
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            self.t0 = time.time()
            for k in range(0, len(self.events), self.per_tick):
                due = self.t0 + (k // self.per_tick) * self.tick_s
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                due_us = int(due * 1e6)
                chunk = self.events[k:k + self.per_tick]
                write_lines(
                    os.path.join(self.out_dir, f"tick-{k // self.per_tick:06d}.json"),
                    [ingest_line(ev, due_us) for ev in chunk],
                )
                self.lateness_ms.append((time.time() - due) * 1e3)
                for ev in chunk:
                    self.due_us[ev["event_id"]] = due_us
                self.files += 1
        except BaseException as err:  # surfaced by the workload after join()
            self.error = err


# ------------------------------------------------------------------ join

JOIN_BASE = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def join_inputs(seed: int, n_events: int, n_keys: int, n_files: int,
                events_dir: str, orders_dir: str) -> tuple[list[dict], list[dict]]:
    """Events (left) and orders (right) over ``n_keys`` users, as
    ``n_files`` parquet files per side. File k of both sides covers the
    same event-time slice and every timestamp is unique, so any
    micro-batch split that keeps file order gives one answer. About 10%
    of events are redelivered byte-identically (same file or the next).
    Returns (event rows incl. redeliveries, order rows)."""
    rng = random.Random(seed)
    n_orders = max(n_keys, n_events // 4)
    total = n_events + n_orders
    sides = [0] * n_events + [1] * n_orders
    rng.shuffle(sides)
    per_file = -(-total // n_files)
    ev_files: list[list[dict]] = [[] for _ in range(n_files)]
    or_files: list[list[dict]] = [[] for _ in range(n_files)]
    t_us = 0
    ne = no = 0
    for i, side in enumerate(sides):
        t_us += rng.randrange(1_000, 40_000)
        ts = JOIN_BASE + dt.timedelta(microseconds=t_us)
        f = i // per_file
        user = f"u{rng.randrange(n_keys)}"
        if side == 0:
            row = {"event_id": f"j{seed}-{ne}", "user_id": user,
                   "amount": round(rng.uniform(0, 100), 2), "ts": ts}
            ne += 1
            ev_files[f].append(row)
            if rng.random() < 0.10:
                ev_files[min(f + rng.randrange(2), n_files - 1)].append(dict(row))
        else:
            row = {"user_id": user, "status": rng.choice(["new", "paid", "shipped"]),
                   "order_amt": round(rng.uniform(1, 500), 2), "ts": ts}
            no += 1
            or_files[f].append(row)
    ev_schema = pa.schema([("event_id", pa.string()), ("user_id", pa.string()),
                           ("amount", pa.float64()), ("ts", pa.timestamp("us", tz="UTC"))])
    or_schema = pa.schema([("user_id", pa.string()), ("status", pa.string()),
                           ("order_amt", pa.float64()), ("ts", pa.timestamp("us", tz="UTC"))])
    for d, files, schema in ((events_dir, ev_files, ev_schema), (orders_dir, or_files, or_schema)):
        os.makedirs(d, exist_ok=True)
        for k, rows in enumerate(files):
            pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                           os.path.join(d, f"part-{k:05d}.parquet"))
    order_files(events_dir, orders_dir)
    return [r for fs in ev_files for r in fs], [r for fs in or_files for r in fs]


# -------------------------------------------------------------- curation

_STOP = ["the", "and", "is", "of", "to", "in", "a", "that", "it", "for"]
DOC_BASE_S = 1_700_000_000


def _vocab(rng: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    return ["".join(rng.choice(letters) for _ in range(rng.randrange(3, 9))) for _ in range(n)]


def curation_inputs(seed: int, n_docs: int, n_files: int, docs_dir: str,
                    prev_dir: str) -> int:
    """A documents stream plus the previous wave it is deduplicated
    against. About 20% of stream documents are exact copies of
    previous-wave documents. Stream files are in event-time order (one
    doc every 50 ms); the last file ends with one far-future sentinel doc
    whose watermark closes every real window (the no-data micro-batch
    after it emits them). Returns the sentinel's window cut-off in epoch
    microseconds: windows starting before it are complete."""
    rng = random.Random(seed)
    vocab = _vocab(rng, 3000)

    def text() -> str:
        words = []
        for _ in range(rng.randrange(8, 60)):
            words.append(rng.choice(_STOP) if rng.random() < rng.choice((0.1, 0.4)) else rng.choice(vocab))
        if rng.random() < 0.3:
            words[0] = words[0].capitalize() + ","
        return " ".join(words)

    prev = [text() for _ in range(max(100, n_docs // 6))]
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("ts", pa.timestamp("us", tz="UTC"))])
    os.makedirs(prev_dir, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(
        [{"doc_id": 10_000_000 + i, "text": t,
          "ts": dt.datetime.fromtimestamp(DOC_BASE_S, dt.timezone.utc)} for i, t in enumerate(prev)],
        schema=schema), os.path.join(prev_dir, "part-00000.parquet"))
    docs = []
    for i in range(n_docs):
        t = rng.choice(prev) if rng.random() < 0.2 else text()
        docs.append({"doc_id": i, "text": t,
                     "ts": dt.datetime.fromtimestamp(DOC_BASE_S + i * 0.05, dt.timezone.utc)})
    sentinel_s = DOC_BASE_S + n_docs * 0.05 + 86_400
    docs.append({"doc_id": 10**9, "text": " ".join(_STOP + vocab[:20]),
                 "ts": dt.datetime.fromtimestamp(sentinel_s, dt.timezone.utc)})
    os.makedirs(docs_dir, exist_ok=True)
    per = -(-n_docs // n_files)
    for k in range(n_files):
        chunk = docs[k * per:(k + 1) * per] + (docs[n_docs:] if k == n_files - 1 else [])
        pq.write_table(pa.Table.from_pylist(chunk, schema=schema),
                       os.path.join(docs_dir, f"part-{k:05d}.parquet"))
    order_files(docs_dir)
    return int((sentinel_s - 600) * 1e6)
