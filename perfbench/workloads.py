"""The workloads, each driven through the engine's public entry points
the way a deployment runs them:

- ``ingest``: ``spec.parse_pipeline_json`` → ``StreamingPipeline.start``
  over a ``read_file_stream`` text source of JSON payloads → validate
  (DLQ branch) → filter → stateless transform → sink mapping →
  ``ClickHouseSink`` (parquet fallback) + ``DLQWriter``; first drained
  as a backlog, then fed open-loop at a fixed rate (the paced phase);
- ``state_backlog``: two stateful pipelines drained one after the
  other in every pass: two typed parquet sources → filter → watermark
  dedup → ``temporal_join`` (latest-wins) → sink (the join part), then
  ``curation_rollup_stream`` over a documents stream → sink (the
  curation part). They share one run so that one JVM start and one
  warm-up serve both.

Set-up: the artifacts are built once; then, repeated, the spec is
parsed and the pipeline started (and stopped) over empty sources; one
warm-up drain of the backlog follows. The timed part repeats full
``availableNow`` drains (a *pass*, each with fresh checkpoint and sink
directories) until the run's seconds are spent. Every pass is checked
against the reference.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from . import inputs, reference
from .probes import Meter, Spans

INGEST_SPEC = {
    "version": "v3",
    "pipeline_id": "bench-ingest",
    "name": "bench-ingest",
    "sources": [{
        "type": "kafka", "source_id": "events", "topic": "events",
        "schema_fields": [{"name": n, "type": t} for n, t in inputs.INGEST_FIELDS],
    }],
    "transforms": [
        {"type": "filter", "source_id": "events",
         "config": {"expression": reference.FILTER_EXPR}},
        {"type": "stateless", "source_id": "events", "config": {"transforms": [
            {"expression": "event_id", "output_name": "event_id", "output_type": "string"},
            {"expression": "upper(country)", "output_name": "country", "output_type": "string"},
            {"expression": "getQueryParam(query, 'utm_source')", "output_name": "source",
             "output_type": "string"},
            {"expression": "amount * qty", "output_name": "total", "output_type": "float64"},
            {"expression": "due_us", "output_name": "due_us", "output_type": "int64"},
        ]}},
    ],
    "sink": {
        "type": "clickhouse", "table": "events_out", "max_batch_size": 20000,
        "max_delay_time": "1s",
        "mapping": [
            {"name": "event_id", "column_name": "event_id", "column_type": "String"},
            {"name": "country", "column_name": "country", "column_type": "LowCardinality(String)"},
            {"name": "source", "column_name": "source", "column_type": "String"},
            {"name": "total", "column_name": "total", "column_type": "Float64"},
            {"name": "due_us", "column_name": "due_us", "column_type": "Int64"},
        ],
    },
}

JOIN_LEFT_TTL_S, JOIN_RIGHT_TTL_S = 30, 120
JOIN_SPEC = {
    "version": "v3",
    "pipeline_id": "bench-join",
    "name": "bench-join",
    "sources": [
        {"type": "kafka", "source_id": "events", "topic": "events", "schema_fields": [
            {"name": "event_id", "type": "string"}, {"name": "user_id", "type": "string"},
            {"name": "amount", "type": "float"}]},
        {"type": "kafka", "source_id": "orders", "topic": "orders", "schema_fields": [
            {"name": "user_id", "type": "string"}, {"name": "status", "type": "string"},
            {"name": "order_amt", "type": "float"}]},
    ],
    "transforms": [
        {"type": "filter", "source_id": "events",
         "config": {"expression": f"amount > {reference.JOIN_MIN_AMOUNT}"}},
        {"type": "dedup", "source_id": "events",
         "config": {"key": "event_id", "time_window": "1h"}},
    ],
    "join": {
        "enabled": True, "type": "temporal",
        "left_source": {"source_id": "events", "key": "user_id",
                        "time_window": f"{JOIN_LEFT_TTL_S}s"},
        "right_source": {"source_id": "orders", "key": "user_id",
                         "time_window": f"{JOIN_RIGHT_TTL_S}s"},
        "output_fields": [
            {"source_id": "events", "name": "event_id"},
            {"source_id": "events", "name": "user_id"},
            {"source_id": "events", "name": "amount"},
            {"source_id": "orders", "name": "status"},
            {"source_id": "orders", "name": "order_amt"},
        ],
    },
    "sink": {
        "type": "clickhouse", "table": "events_enriched", "max_batch_size": 20000,
        "max_delay_time": "1s",
        "mapping": [
            {"name": "event_id", "column_name": "event_id", "column_type": "String"},
            {"name": "user_id", "column_name": "user_id", "column_type": "String"},
            {"name": "amount", "column_name": "amount", "column_type": "Float64"},
            {"name": "status", "column_name": "status", "column_type": "String"},
            {"name": "order_amt", "column_name": "order_amt", "column_type": "Float64"},
        ],
    },
}

#: paced rate: about 30% of the drain rate of a 40k-row ingest backlog on a 4-core host
PACED_RATE = 3_000
#: a paced row committed later than this after its due time fails
LATENCY_LIMIT_MS = 5_000.0
SETUP_REPEATS = 3


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    scale: float  # input size factor
    trace: bool
    meter: Meter
    spans: Spans
    reports: list  # progress reports (dicts), filled while tracing
    terminated: set  # query ids whose termination the listener saw
    listener: object = None


@dataclass
class Pass:
    """One timed drain, or one paced phase."""
    traced: bool
    wall_s: float
    rows_in: int
    failed: int
    freshness_ms: list
    query_ids: dict  # role -> query id
    sink_reports: list
    files: int
    dlq_rows: int = 0
    lateness_ms: list = field(default_factory=list)
    paced: bool = False
    sink_rows: dict = field(default_factory=dict)  # pipeline name -> rows written


@dataclass
class Running:
    """A started pipeline: its queries (main first), sink and commits."""
    queries: list
    sink: object
    commits: dict  # batch_id -> (commit wall time, rows)
    d: str
    t0: float


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class _TimedDLQ:
    """DLQWriter stand-in that spans each write the runner makes."""

    def __init__(self, writer, spans: Spans):
        self.writer = writer
        self.spans = spans

    def write(self, df) -> None:
        with self.spans.span("sinks.dlq.write"):
            self.writer.write(df)


def _sink_fn(sink, spans: Spans, commits: dict):
    """foreachBatch body: the sink's write_batch, then the commit time
    freshness is measured to."""
    def fn(df, batch_id):
        with spans.span("sinks.clickhouse.write_batch"):
            report = sink.write_batch(df, batch_id)
        commits[batch_id] = (time.time(), report.rows)
    return fn


def _per_batch(rows: list[dict], weight: str | None = None) -> dict:
    """Input rows delivered per sink batch (``_batch_id`` partition)."""
    out: dict = {}
    for r in rows:
        b = int(r["_batch_id"])
        out[b] = out.get(b, 0) + (r[weight] if weight else 1)
    return out


def _raise_failed(queries, tag: str) -> None:
    for q in queries:
        if q.exception() is not None:
            raise RuntimeError(f"{tag}: streaming query failed: {q.exception()}")


class Backlog:
    """Shared protocol: ``start`` launches the pipeline over a dict of
    source dirs; ``check`` counts failed ops of one drained pass."""

    name = ""
    sources: dict  # source id -> backlog dir
    n_in = 0

    def artifacts(self, ctx: Ctx) -> None:
        """Build the artifacts the pipeline reads (none by default)."""

    def parse(self) -> dict:
        from clickhouse_etl_spark.spec import parse_pipeline_json

        t0 = time.perf_counter()
        self.spec = parse_pipeline_json(self.doc)
        return {"spec.parse_ms": (time.perf_counter() - t0) * 1e3}

    def setup_once(self, ctx: Ctx, i: int) -> dict:
        layers = self.parse()
        empty = {k: _fresh(os.path.join(ctx.work, f"empty{i}-{self.name}", k)) for k in self.sources}
        d = _fresh(os.path.join(ctx.work, f"setup{i}-{self.name}"))
        t0 = time.perf_counter()
        run = self.start(ctx, empty, d, Spans(False), {"availableNow": True})
        layers["plans.start_ms"] = (time.perf_counter() - t0) * 1e3
        for q in run.queries:
            q.stop()
        _raise_failed(run.queries, f"setup{i}")
        return layers

    def drain(self, ctx: Ctx, srcs: dict, tag: str, spans: Spans) -> Running:
        d = _fresh(os.path.join(ctx.work, tag))
        run = self.start(ctx, srcs, d, spans, {"availableNow": True})
        for q in run.queries:
            q.awaitTermination()
        _raise_failed(run.queries, tag)
        return run

    def warm_up(self, ctx: Ctx) -> None:
        shutil.rmtree(self.drain(ctx, self.sources, f"warm-{self.name}", Spans(False)).d,
                      ignore_errors=True)

    def one_pass(self, ctx: Ctx, tag: str, traced: bool) -> Pass:
        with ctx.meter.interval():
            run = self.drain(ctx, self.sources, tag, ctx.spans if traced else Spans(False))
            wall = time.time() - run.t0
        failed, dlq_rows, delivered = self.check(run)
        # a backlog is due at drain start; each input row delivered to
        # the sink is fresh when the write_batch that carried it returned
        fresh = [(run.commits[b][0] - run.t0) * 1e3
                 for b, n in delivered.items() for _ in range(n)]
        shutil.rmtree(run.d, ignore_errors=True)
        return Pass(traced, wall, self.n_in, failed, fresh,
                    {("main" if k == 0 else "dlq"): q.id for k, q in enumerate(run.queries)},
                    list(run.sink.reports), sum(len(os.listdir(d)) for d in self.sources.values()),
                    dlq_rows, sink_rows={self.name: sum(max(r.rows, 0) for r in run.sink.reports)})


# ---------------------------------------------------------------- ingest

class Ingest(Backlog):
    name = "ingest"
    doc = INGEST_SPEC
    n_events = 16_000
    n_files = 4
    files_per_trigger = 2

    def prepare(self, ctx: Ctx) -> None:
        from pyspark.sql import types as T

        self.events = inputs.ingest_events(ctx.seed, int(self.n_events * ctx.scale))
        self.n_in = len(self.events)
        self.sources = {"events": os.path.join(ctx.work, "backlog")}
        inputs.write_ingest_backlog(self.events, self.sources["events"], self.n_files)
        self.expected = reference.ingest_expected(self.events)
        self.schema = T.StructType([T.StructField("value", T.StringType())])
        self.live_events = inputs.ingest_events(ctx.seed, int(PACED_RATE * ctx.seconds), prefix="p")

    def start(self, ctx: Ctx, srcs: dict, d: str, spans: Spans, trigger,
              max_files: int | None = None) -> Running:
        from clickhouse_etl_spark.sinks import ClickHouseSink, DLQWriter
        from clickhouse_etl_spark.sources.filestream import read_file_stream
        from clickhouse_etl_spark.streaming.runner import StreamingPipeline

        sink = ClickHouseSink(table="events_out", parquet_fallback_path=f"{d}/sink")
        commits: dict = {}
        pipe = StreamingPipeline(spec=self.spec, checkpoint_dir=f"{d}/ckpt")
        source = read_file_stream(ctx.spark, srcs["events"], self.schema, fmt="text",
                                  max_files_per_trigger=max_files or self.files_per_trigger)
        t0 = time.time()
        with spans.span("plans.start"):
            q = pipe.start(ctx.spark, {"events": source}, {"events": "event_id"},
                           _sink_fn(sink, spans, commits), trigger=trigger,
                           dlq_writer=_TimedDLQ(DLQWriter(f"{d}/dlq"), spans))
        return Running([q, *pipe.dlq_queries], sink, commits, d, t0)

    def check(self, run: Running) -> tuple[int, int, dict]:
        """(failed ops, DLQ rows, input rows delivered per sink batch)."""
        sink_rows = reference.read_rows(f"{run.d}/sink")
        dlq_rows = reference.read_rows(f"{run.d}/dlq")
        failed = reference.check_ingest(sink_rows, dlq_rows, self.expected)
        return len(failed), len(dlq_rows), _per_batch(sink_rows)

    def layer_frames(self, ctx: Ctx):
        """Cumulative prefixes of the fused validate → filter → transform
        → mapper chain as batch frames over the backlog, for self times."""
        from clickhouse_etl_spark.operators.filter import apply_filter
        from clickhouse_etl_spark.operators.mapper import apply_sink_mapping
        from clickhouse_etl_spark.operators.transform import apply_transform
        from clickhouse_etl_spark.operators.validate import validate_json

        src = self.spec.source("events")
        raw = ctx.spark.read.schema(self.schema).text(self.sources["events"])
        ok, _ = validate_json(raw, src.schema_fields, component="ingestor:events")
        t0 = time.perf_counter()
        filtered = apply_filter(ok, src.filter)
        transformed = apply_transform(filtered, src.transform)
        compile_ms = (time.perf_counter() - t0) * 1e3
        mapped = apply_sink_mapping(transformed, self.spec.sink.mapping)
        pass_ratio = filtered.count() / max(ok.count(), 1)
        frames = [("source", raw), ("operators.validate.self_ms", ok),
                  ("operators.filter.self_ms", filtered),
                  ("operators.transform.self_ms", transformed),
                  ("operators.mapper.self_ms", mapped)]
        return [frames], {"expr.compile_ms": compile_ms, "operators.filter.pass_ratio": pass_ratio}


    def paced_pass(self, ctx: Ctx, tag: str, traced: bool) -> Pass:
        """The paced phase: the generator renames a file into the source
        dir every 100 ms for the run's seconds; the pipeline runs under
        the spec's processingTime trigger until every row is committed."""
        events = self.live_events
        want_sink, want_dlq = reference.ingest_expected(events)
        d = _fresh(os.path.join(ctx.work, tag))
        live = _fresh(os.path.join(d, "live"))
        # no trigger: the spec's max_delay_time becomes processingTime;
        # each trigger takes every file that has landed
        run = self.start(ctx, {"events": live}, d, ctx.spans if traced else Spans(False), None,
                         max_files=10**6)
        gen = inputs.PacedWriter(events, live, PACED_RATE)
        with ctx.meter.interval():
            gen.start()
            gen.join()
            if gen.error is not None:
                raise gen.error
            # drain: every expected sink and DLQ row committed, or give up
            deadline = time.time() + 3 * LATENCY_LIMIT_MS / 1e3
            while time.time() < deadline:
                done = sum(n for _, n in run.commits.values()) >= len(want_sink)
                if done and len(reference.read_rows(f"{d}/dlq", ["error"])) >= len(want_dlq):
                    break
                time.sleep(0.1)
            wall = max([c for c, _ in run.commits.values()] or [time.time()]) - gen.t0
        for q in run.queries:
            q.stop()
        _raise_failed(run.queries, tag)
        sink_rows = reference.read_rows(f"{d}/sink")
        dlq_rows = reference.read_rows(f"{d}/dlq")
        failed = reference.check_ingest(sink_rows, dlq_rows, (want_sink, want_dlq), gen.due_us)
        fresh = []
        for r in sink_rows:
            commit = run.commits.get(int(r["_batch_id"]))
            f_ms = (commit[0] * 1e6 - gen.due_us[r["event_id"]]) / 1e3 if commit else float("inf")
            fresh.append(f_ms)
            if f_ms > LATENCY_LIMIT_MS:
                failed.add(r["event_id"])
        shutil.rmtree(d, ignore_errors=True)
        return Pass(traced, wall, len(events), len(failed), fresh,
                    {"main": run.queries[0].id, "dlq": run.queries[1].id},
                    list(run.sink.reports), gen.files, len(dlq_rows), gen.lateness_ms, paced=True)


# ------------------------------------------------------------------ join

class Join(Backlog):
    name = "join"
    doc = JOIN_SPEC
    n_events = 4_000
    n_keys = 100
    n_files = 2

    def prepare(self, ctx: Ctx) -> None:
        from pyspark.sql import types as T

        self.sources = {k: os.path.join(ctx.work, k) for k in ("events", "orders")}
        events, orders = inputs.join_inputs(ctx.seed, int(self.n_events * ctx.scale), self.n_keys,
                                            self.n_files,
                                            self.sources["events"], self.sources["orders"])
        self.n_in = len(events) + len(orders)
        self.expected = reference.join_expected(events, orders, JOIN_LEFT_TTL_S * 10**6,
                                                JOIN_RIGHT_TTL_S * 10**6)
        ts = T.TimestampType()
        self.schemas = {
            "events": T.StructType().add("event_id", "string").add("user_id", "string")
                                    .add("amount", "double").add("ts", ts),
            "orders": T.StructType().add("user_id", "string").add("status", "string")
                                    .add("order_amt", "double").add("ts", ts),
        }

    def start(self, ctx: Ctx, srcs: dict, d: str, spans: Spans, trigger) -> Running:
        from clickhouse_etl_spark.sinks import ClickHouseSink
        from clickhouse_etl_spark.sources.filestream import read_file_stream
        from clickhouse_etl_spark.streaming.runner import StreamingPipeline

        sink = ClickHouseSink(table="events_enriched", parquet_fallback_path=f"{d}/sink")
        commits: dict = {}
        pipe = StreamingPipeline(spec=self.spec, checkpoint_dir=f"{d}/ckpt")
        # one file per trigger on both sides keeps the event-time slices aligned
        streams = {k: read_file_stream(ctx.spark, srcs[k], self.schemas[k], max_files_per_trigger=1)
                   for k in srcs}
        t0 = time.time()
        with spans.span("plans.start"):
            q = pipe.start(ctx.spark, streams, {"events": "ts", "orders": "ts"},
                           _sink_fn(sink, spans, commits), trigger=trigger)
        return Running([q], sink, commits, d, t0)

    def check(self, run: Running) -> tuple[int, int, dict]:
        rows = reference.read_rows(f"{run.d}/sink")
        return reference.check_keyed(rows, self.expected, "event_id",
                                     ("user_id", "amount", "status", "order_amt"), self.n_in), \
            0, _per_batch(rows)

    def layer_frames(self, ctx: Ctx):
        from clickhouse_etl_spark.operators.filter import apply_filter

        events = ctx.spark.read.schema(self.schemas["events"]).parquet(self.sources["events"])
        filtered = apply_filter(events, self.spec.source("events").filter)
        ratio = filtered.count() / max(events.count(), 1)
        return [[("source", events), ("operators.filter.self_ms", filtered)]], \
            {"operators.filter.pass_ratio": ratio}


# -------------------------------------------------------------- curation

class Curation(Backlog):
    name = "curation"
    n_docs = 3_000
    n_files = 1

    def prepare(self, ctx: Ctx) -> None:
        from pyspark.sql import types as T

        self.sources = {"docs": os.path.join(ctx.work, "docs")}
        self.prev_dir = os.path.join(ctx.work, "prev_wave")
        self.n_in = int(self.n_docs * ctx.scale)
        self.cutoff_us = inputs.curation_inputs(ctx.seed, self.n_in, self.n_files,
                                                self.sources["docs"], self.prev_dir)
        self.schema = T.StructType().add("doc_id", "long").add("text", "string") \
                                    .add("ts", T.TimestampType())

    def artifacts(self, ctx: Ctx) -> None:
        """A bloom seen-set and a classifier, both from the previous
        wave's canonical text."""
        from clickhouse_etl_spark.dataops.dedup import write_bloom_table
        from clickhouse_etl_spark.dataops.text import normalize_text, write_classifier_table

        self.bloom = os.path.join(ctx.work, "bloom")
        self.weights = os.path.join(ctx.work, "weights")
        prev = ctx.spark.read.schema(self.schema).parquet(self.prev_dir)
        write_bloom_table(normalize_text(prev), self.bloom, capacity=max(1000, self.n_in),
                          text_col="text_norm")
        write_classifier_table(normalize_text(prev), self.weights, text_col="text_norm")

    def parse(self) -> dict:
        return {}  # the curation stream is assembled in code, not from a spec

    def reference(self, ctx: Ctx) -> None:
        """Batch evaluation of the same frame (untimed, after set-up)."""
        from clickhouse_etl_spark.streaming.curation import curation_rollup_stream

        docs = ctx.spark.read.schema(self.schema).parquet(self.sources["docs"])
        self.expected = {
            (r["window_start_us"], r["pred"]): (r["n_docs"], r["sum_tokens"], r["sum_score"])
            for r in curation_rollup_stream(docs, self.bloom, self.weights).collect()
            if r["window_start_us"] < self.cutoff_us
        }

    def start(self, ctx: Ctx, srcs: dict, d: str, spans: Spans, trigger) -> Running:
        from clickhouse_etl_spark.sinks import ClickHouseSink
        from clickhouse_etl_spark.sources.filestream import read_file_stream
        from clickhouse_etl_spark.streaming.curation import curation_rollup_stream

        sink = ClickHouseSink(table="curation_rollup", parquet_fallback_path=f"{d}/sink")
        commits: dict = {}
        stream = read_file_stream(ctx.spark, srcs["docs"], self.schema, max_files_per_trigger=1)
        t0 = time.time()
        with spans.span("plans.start"):
            q = (
                curation_rollup_stream(stream, self.bloom, self.weights)
                .writeStream.foreachBatch(_sink_fn(sink, spans, commits))
                .option("checkpointLocation", f"{d}/ckpt")
                .outputMode("append")
                .trigger(**trigger)
                .start()
            )
        return Running([q], sink, commits, d, t0)

    def check(self, run: Running) -> tuple[int, int, dict]:
        rows = reference.read_rows(f"{run.d}/sink")
        # a document is delivered with the rollup row that counts it
        return reference.check_rollup(rows, self.expected, self.cutoff_us, self.n_in), \
            0, _per_batch(rows, weight="n_docs")

    def layer_frames(self, ctx: Ctx):
        from clickhouse_etl_spark.streaming.curation import curation_scored_stream

        docs = ctx.spark.read.schema(self.schema).parquet(self.sources["docs"])
        scored = curation_scored_stream(docs, self.bloom, self.weights)
        kept = scored.count() / max(docs.count(), 1)
        return [[("source", docs), ("streaming.curation.scored_self_ms", scored)]], \
            {"streaming.curation.kept_ratio": kept}


# ------------------------------------------------------------- composite

class StateBacklog:
    """The join and curation pipelines in one run: each step of the
    protocol runs on both parts in turn, and a pass is the join drain
    followed by the curation drain."""

    name = "state_backlog"

    def __init__(self):
        self.parts = [Join(), Curation()]

    @property
    def n_in(self) -> int:
        return sum(w.n_in for w in self.parts)

    def prepare(self, ctx: Ctx) -> None:
        for w in self.parts:
            w.prepare(ctx)

    def artifacts(self, ctx: Ctx) -> None:
        for w in self.parts:
            w.artifacts(ctx)

    def setup_once(self, ctx: Ctx, i: int) -> dict:
        layers = [w.setup_once(ctx, i) for w in self.parts]
        return {"spec.parse_ms": sum(x.get("spec.parse_ms", 0.0) for x in layers),
                "plans.start_ms": sum(x["plans.start_ms"] for x in layers)}

    def warm_up(self, ctx: Ctx) -> None:
        for w in self.parts:
            w.warm_up(ctx)

    def reference(self, ctx: Ctx) -> None:
        for w in self.parts:
            if hasattr(w, "reference"):
                w.reference(ctx)

    def one_pass(self, ctx: Ctx, tag: str, traced: bool) -> Pass:
        ps = [w.one_pass(ctx, f"{tag}-{w.name}", traced) for w in self.parts]
        return Pass(traced, sum(p.wall_s for p in ps), sum(p.rows_in for p in ps),
                    sum(p.failed for p in ps), [f for p in ps for f in p.freshness_ms],
                    {f"{w.name}.{role}": q for w, p in zip(self.parts, ps)
                     for role, q in p.query_ids.items()},
                    [r for p in ps for r in p.sink_reports], sum(p.files for p in ps),
                    sum(p.dlq_rows for p in ps),
                    sink_rows={k: v for p in ps for k, v in p.sink_rows.items()})

    def layer_frames(self, ctx: Ctx):
        chains, extra = [], {}
        for w in self.parts:
            c, e = w.layer_frames(ctx)
            chains += c
            extra.update(e)
        return chains, extra


WORKLOADS = {w.name: w for w in (Ingest, StateBacklog)}
