"""Streaming runner: the same operator chain under Structured Streaming.

One main ``StreamingQuery`` per pipeline (the reference's per-stage
pods + NATS hops collapse into a single Spark DAG — SURVEY.md §3.2),
plus one DLQ query per JSON source when a DLQ writer is wired. Delivery
semantics: checkpointing + the sink's idempotency column give
at-least-once with harmless replays, replacing the reference's
ack/commit choreography (kafka/consumer.go:253-362).

Dedup is ``dropDuplicatesWithinWatermark`` — the faithful "first seen
within window wins" with state eviction by watermark (the reference's
Badger TTL, deduplication/badger/deduplication.go:30-103, shifted from
processing to event time as documented).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.filter import apply_filter
from ..operators.transform import apply_transform
from ..operators.validate import validate_json
from ..spec.model import PipelineSpec, SourceConfig, SpecError


def kafka_source_stream(
    spark: SparkSession, src: SourceConfig, max_batch_size: int | None = None
) -> DataFrame:
    """readStream.format('kafka') with the spec's connection options
    (PLAIN/SCRAM auth mapped in spec/model.py:_kafka_options), Confluent
    SR envelope stripped, JSON payload as string.

    Offset discipline: startingOffsets from the spec; commit-after-sink
    ≡ checkpoint-after-foreachBatch (S1, kafka/consumer.go:69-376).
    Intake is bounded by maxOffsetsPerTrigger ≈ the sink's
    max_batch_size (the reference's backpressure knob collapses into
    the micro-batch pull model, SURVEY.md §2.7 C4).
    """
    reader = (
        spark.readStream.format("kafka")
        .option("subscribe", src.topic)
        .option("startingOffsets", src.initial_offset)
        .option("failOnDataLoss", "false")
    )
    if max_batch_size:
        reader = reader.option("maxOffsetsPerTrigger", str(max_batch_size))
    for k, v in src.kafka_options.items():
        if k.startswith("jvm."):
            # JVM system property (e.g. java.security.krb5.conf for
            # GSSAPI) — not a Kafka client option. Driver-side here; a
            # multi-node cluster ships it via executor extraJavaOptions.
            spark._jvm.java.lang.System.setProperty(k[4:], v)  # noqa: SLF001
        else:
            reader = reader.option(k, v)
    raw = reader.load()

    from ..spec.schema_registry import strip_sr_envelope

    payload, schema_id = strip_sr_envelope(F.col("value"))
    return raw.select(
        payload.cast("string").alias("value"),
        schema_id.alias("_schema_id"),
        F.col("timestamp").alias("_kafka_ts"),
    )


def streaming_source_chain(
    src: SourceConfig,
    ts_col: str,
    dlq_sink: Optional[Callable[[DataFrame], None]] = None,
) -> Callable[[DataFrame], DataFrame]:
    """Per-source streaming chain: validate -> filter -> dedup-within-
    watermark -> transform -> dataops. Same fixed order as batch
    (cmd/glassflow/dedup_component.go:210-225); spec-declared dataops
    apply the STREAM_SAFE_DATAOPS subset only — batch-only ops
    (exact_dedup's corpus window, simhash's per-doc aggregation) raise
    SpecError at assembly time instead of silently skipping. So does a
    dedup stage without ``time_window``: batch dedups the whole input,
    which a stream does not have.

    Validation runs when the source carries a raw ``value`` column and
    declares schema fields; ``dlq_sink`` receives its failure frame. A
    frame-level ``ts_col`` (e.g. the Kafka ``_kafka_ts``) that is not a
    payload field rides through validation, so the dedup watermark can
    still resolve it."""

    def chain(df: DataFrame) -> DataFrame:
        if src.schema_fields and "value" in df.columns:
            declared = {f.name for f in src.schema_fields}
            keep = [ts_col] if ts_col in df.columns and ts_col not in declared else None
            ok, dlq = validate_json(
                df, src.schema_fields, component=f"ingestor:{src.source_id}", keep_cols=keep
            )
            if dlq_sink is not None:
                dlq_sink(dlq)
            df = ok
        if src.filter is not None:
            df = apply_filter(df, src.filter)
        if src.dedup is not None:
            window_s = src.dedup.time_window_s
            if not window_s:
                raise SpecError(
                    f"source {src.source_id!r}: a streaming dedup stage needs "
                    "config.time_window (the watermark that bounds its state)"
                )
            df = df.withWatermark(ts_col, f"{int(window_s)} seconds")
            # dropDuplicatesWithinWatermark takes column NAMES — route a
            # dot-path key through the same dual resolution as batch
            # dedup by materializing it as a helper column first
            from ..operators.dedup import _key_col

            df = (
                df.withColumn("_dedup_key", _key_col(df, src.dedup.key))
                .dropDuplicatesWithinWatermark(["_dedup_key"])
                .drop("_dedup_key")
            )
        if src.transform is not None:
            df = apply_transform(df, src.transform)
        if src.dataops:
            from ..plans.compiler import STREAM_SAFE_DATAOPS, resolve_dataop

            for d in src.dataops:
                if d.op == "ann_serve":
                    raise SpecError(
                        "dataop 'ann_serve' streams SINK-SIDE only: declare "
                        "it as the LAST transform of a joinless single-source "
                        "pipeline and StreamingPipeline wires it into "
                        "foreachBatch (it collects each micro-batch's bounded "
                        "query set to prune the codes scan, which a mid-chain "
                        "streaming frame cannot do)."
                    )
                if d.op not in STREAM_SAFE_DATAOPS:
                    raise SpecError(
                        f"dataop {d.op!r} is batch-only (needs a bounded corpus); "
                        f"stream-safe ops: {sorted(STREAM_SAFE_DATAOPS)}. For "
                        "streaming dedup use the dedup stage "
                        "(dropDuplicatesWithinWatermark)."
                    )
                df = resolve_dataop(d.op)(df, **d.params)
        return df

    return chain


@dataclass
class StreamingPipeline:
    spec: PipelineSpec
    checkpoint_dir: str
    dlq_queries: list = None  # populated by start() when a DLQ sink is wired

    def start(
        self,
        spark: SparkSession,
        sources: dict[str, DataFrame],
        ts_cols: dict[str, str],
        sink_fn: Callable[[DataFrame, int], None],
        trigger: Optional[dict] = None,
        dlq_writer=None,
    ):
        """Assemble and start the StreamingQuery.

        ``sources`` are streaming DataFrames (kafka_source_stream or any
        test source); ``sink_fn`` is the foreachBatch body (typically
        ClickHouseSink.foreach_batch()). max_delay_time becomes the
        processing-time trigger — the reference's flush cadence
        (sink/clickhouse.go:161-197).
        """
        trigger = trigger or {"processingTime": f"{int(self.spec.sink.max_delay_time_s)} seconds"}
        self.dlq_queries = []

        # sink-side ANN serving (VERDICT r8 #4): a TERMINAL ann_serve
        # dataop on a joinless single-source pipeline is popped from the
        # chain and wired into foreachBatch — each micro-batch of query
        # vectors runs the exact pq_index_query path (session-cached
        # artifacts, partition-pruned codes scan) and the ANSWER frame
        # reaches the sink. Any other position raises at assembly time
        # (streaming_source_chain).
        import dataclasses as _dc

        serve_cfg = None
        pipe_sources = self.spec.sources
        if (
            self.spec.join is None
            and len(pipe_sources) == 1
            and pipe_sources[0].dataops
            and pipe_sources[0].dataops[-1].op == "ann_serve"
        ):
            src0 = pipe_sources[0]
            serve_cfg = src0.dataops[-1]
            pipe_sources = (
                _dc.replace(src0, dataops=src0.dataops[:-1]),
            )

        staged: dict[str, DataFrame] = {}
        for src in pipe_sources:
            source_df = sources[src.source_id]
            # schema validation with a DLQ branch: the chain's failure
            # frame runs as its OWN StreamingQuery over the same source
            # (each query keeps independent offsets — the reference's
            # per-operator DLQ middleware, processor/dlq_processor.go:13-60)
            dlq_sink = None
            if dlq_writer is not None:

                def dlq_sink(dlq_frame: DataFrame) -> None:
                    dq = (
                        dlq_frame.writeStream.foreachBatch(
                            lambda df, _bid: dlq_writer.write(df) if not df.isEmpty() else None
                        )
                        .option("checkpointLocation", f"{self.checkpoint_dir}/dlq_{src.source_id}")
                        .outputMode("append")
                        .trigger(**trigger)
                        .start()
                    )
                    self.dlq_queries.append(dq)

            chain = streaming_source_chain(src, ts_cols[src.source_id], dlq_sink=dlq_sink)
            staged[src.source_id] = chain(source_df)

        if self.spec.join is not None:
            from .temporal_join import temporal_join_streaming

            left = staged[self.spec.join.left.source_id]
            right = staged[self.spec.join.right.source_id]
            # GC timers only for continuous deployments — a registered
            # timer keeps availableNow runs alive with empty epochs
            continuous = "availableNow" not in trigger
            gc_ms = None
            if continuous:
                w = max(self.spec.join.left.time_window_s, self.spec.join.right.time_window_s)
                gc_ms = int(w * 1000 * 2) or 3600_000
            df = temporal_join_streaming(
                left,
                right,
                self.spec.join,
                left_ts=ts_cols[self.spec.join.left.source_id],
                right_ts=ts_cols[self.spec.join.right.source_id],
                state_gc_timeout_ms=gc_ms,
            )
        else:
            df = next(iter(staged.values()))

        batch_fn = sink_fn
        if serve_cfg is not None:
            # the sink mapping (if any) applies to the ANSWER frame, so
            # it moves inside the serving foreachBatch; the streaming
            # frame itself stays the raw query stream
            from ..dataops.similarity import pq_index_serve_foreach_batch

            params = dict(serve_cfg.params)
            index_path = params.pop("index_path")
            mapping = self.spec.sink.mapping

            def answer_sink(ans: DataFrame, batch_id: int) -> None:
                if mapping:
                    from ..operators.mapper import apply_sink_mapping

                    ans = apply_sink_mapping(ans, mapping)
                sink_fn(ans, batch_id)

            batch_fn = pq_index_serve_foreach_batch(spark, index_path, answer_sink, **params)
        elif self.spec.sink.mapping:
            from ..operators.mapper import apply_sink_mapping

            df = apply_sink_mapping(df, self.spec.sink.mapping)

        writer = (
            df.writeStream.foreachBatch(batch_fn)
            .option("checkpointLocation", f"{self.checkpoint_dir}/main")
            .outputMode("append")
        )
        writer = writer.trigger(**trigger)
        return writer.start()
