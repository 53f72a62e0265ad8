"""Streaming runner: the batch assembler's plan under Structured Streaming.

One main ``StreamingQuery`` per pipeline (the reference's per-stage
pods + NATS hops collapse into a single Spark DAG — SURVEY.md §3.2),
plus one DLQ query per JSON source when a DLQ writer is wired. The
runner owns only what a stream needs: raw-payload validation with its
DLQ split (the reference's ingestor step), sink-side ``ann_serve``
wiring and ``writeStream``. Stage order, dedup, join and sink mapping
come from ``plans.compiler.build_pipeline``, the same assembler batch
callers use; no query starts until it has returned. Delivery
semantics: checkpointing + the one epoch-keyed write of the sink and
the DLQ (``sinks.dlq.write_epoch``) give at-least-once with harmless
replays (a replayed epoch replaces its rows), replacing the reference's
ack/commit choreography (kafka/consumer.go:253-362).

Streaming dedup (``dropDuplicatesWithinWatermark``, the reference's
Badger TTL shifted from processing to event time) is chosen in
``plans.compiler.source_chain``, not here.
"""

from __future__ import annotations

import dataclasses
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.validate import validate_json
from ..plans.compiler import build_pipeline
from ..sinks.dlq import stamp_epoch
from ..spec.model import PipelineSpec, SourceConfig
from .temporal_join import checkpoint_shuffle_partitions


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
        """Assemble the whole plan, then start the StreamingQuery.

        ``sources`` are streaming DataFrames (kafka_source_stream or any
        test source); ``sink_fn`` is the foreachBatch body (typically
        ClickHouseSink.foreach_batch()). max_delay_time becomes the
        processing-time trigger — the reference's flush cadence
        (sink/clickhouse.go:161-197). A source carrying a raw ``value``
        payload with declared schema fields is validated first; a
        frame-level ``ts_col`` (e.g. the Kafka ``_kafka_ts``) that is
        not a payload field rides through validation, so the dedup
        watermark can still resolve it. The DLQ queries (one per
        validated source, when ``dlq_writer`` is given) and the main
        query start only after ``build_pipeline`` returns, so an
        assembly-time SpecError leaves nothing running.
        """
        trigger = trigger or {"processingTime": f"{round(self.spec.sink.max_delay_time_s * 1e3)} milliseconds"}
        self.dlq_queries = []

        # sink-side ANN serving (VERDICT r8 #4): a TERMINAL ann_serve
        # dataop on a joinless pipeline is popped from the chain and
        # wired into foreachBatch — each micro-batch of query vectors
        # runs the exact pq_index_query path (session-cached artifacts,
        # partition-pruned codes scan) and the ANSWER frame reaches the
        # sink, so the sink mapping moves into the serving batch too.
        # Any other position raises at assembly time (source_chain).
        spec = self.spec
        src0 = spec.sources[0]
        serve_cfg = None
        if spec.join is None and src0.dataops and src0.dataops[-1].op == "ann_serve":
            serve_cfg = src0.dataops[-1]
            spec = dataclasses.replace(
                spec,
                sources=(dataclasses.replace(src0, dataops=src0.dataops[:-1]), *spec.sources[1:]),
                sink=dataclasses.replace(spec.sink, mapping=()),
            )

        typed: dict[str, DataFrame] = {}
        failures: dict[str, DataFrame] = {}
        for src in spec.sources:
            df = sources[src.source_id]
            ts_col = ts_cols[src.source_id]
            if src.schema_fields and "value" in df.columns:
                declared = {f.name for f in src.schema_fields}
                keep = [ts_col] if ts_col in df.columns and ts_col not in declared else None
                df, failures[src.source_id] = validate_json(
                    df, src.schema_fields, component=f"ingestor:{src.source_id}", keep_cols=keep
                )
            typed[src.source_id] = df

        # GC timers only for continuous deployments — a registered
        # timer keeps availableNow runs alive with empty epochs
        gc_ms = None
        if spec.join is not None and "availableNow" not in trigger:
            w = max(spec.join.left.time_window_s, spec.join.right.time_window_s)
            gc_ms = int(w * 1000 * 2) or 3600_000
        # a restart runs under the shuffle-partition count its checkpoint
        # recorded; the join's key buckets must follow it
        buckets = None
        if spec.join is not None:
            buckets = checkpoint_shuffle_partitions(spark, f"{self.checkpoint_dir}/main")
        df = build_pipeline(spec, typed, ts_cols, state_gc_timeout_ms=gc_ms, join_buckets=buckets)

        # each failure frame runs as its OWN StreamingQuery over the same
        # source (independent offsets — the reference's per-operator DLQ
        # middleware, processor/dlq_processor.go:13-60)
        if dlq_writer is not None:
            for sid, dlq in failures.items():
                self.dlq_queries.append(
                    dlq.writeStream.foreachBatch(
                        lambda b, bid: dlq_writer.write(stamp_epoch(b, bid))
                    )
                    .option("checkpointLocation", f"{self.checkpoint_dir}/dlq_{sid}")
                    .outputMode("append")
                    .trigger(**trigger)
                    .start()
                )

        batch_fn = sink_fn
        if serve_cfg is not None:
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

        return (
            df.writeStream.foreachBatch(batch_fn)
            .option("checkpointLocation", f"{self.checkpoint_dir}/main")
            .outputMode("append")
            .trigger(**trigger)
            .start()
        )
