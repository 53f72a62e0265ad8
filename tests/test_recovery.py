"""Failure-recovery e2e: the at-least-once + idempotent-write story.

Ports the semantics of the reference's retryable-error scenario
(tests/features/sink/retryable.feature): a transient sink failure NACKs
the batch; redelivery eventually lands the data exactly once. In Spark
terms: foreachBatch raises on a retryable error -> the query fails ->
a restart from the same checkpoint replays the epoch -> the per-epoch
write replaces that epoch's rows.
"""

import datetime as dt

import pytest
from pyspark.sql import types as T

from clickhouse_etl_spark.sinks import ClickHouseSink

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("v", T.StringType()),
    ]
)


class FlakyOnceSink(ClickHouseSink):
    """Fails the first write attempt with a retryable CH error, then
    behaves normally — the 'transient server pressure' scenario."""

    _fail_marker: dict = {}

    def _write_once(self, df):
        if not self._fail_marker.get(self.table):
            self._fail_marker[self.table] = True
            raise RuntimeError("Code: 159. DB::Exception: Timeout exceeded (simulated)")
        super()._write_once(df)


def test_retryable_failure_then_restart_exactly_once(spark, tmp_path):
    inp = str(tmp_path / "in")
    spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA).write.parquet(inp)

    FlakyOnceSink._fail_marker = {}
    sink = FlakyOnceSink(table="r1", parquet_fallback_path=str(tmp_path / "out"))

    def start():
        return (
            spark.readStream.schema(SCHEMA).parquet(inp)
            .writeStream.foreachBatch(sink.foreach_batch())
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    # first run: the epoch fails with the retryable error -> query dies
    q = start()
    with pytest.raises(Exception, match="159"):
        q.awaitTermination(120)
        q.processAllAvailable()
    assert any(r.outcome == "retry" for r in sink.reports)

    # restart from the SAME checkpoint: epoch replays, write succeeds
    q2 = start()
    q2.awaitTermination(120)

    out = spark.read.parquet(str(tmp_path / "out"))
    assert {(r["id"], r["v"]) for r in out.select("id", "v").collect()} == {(1, "a"), (2, "b")}
    # the replayed epoch replaced its partition: one physical copy
    assert out.count() == 2


def test_two_pipelines_isolated(spark, tmp_path):
    """Two concurrent pipelines keep independent checkpoints/sinks
    (the reference's per-pipeline NATS isolation, structurally)."""
    import json as _json

    from clickhouse_etl_spark.spec.model import parse_pipeline_json
    from clickhouse_etl_spark.streaming.lifecycle import PipelineManager

    def doc(pid):
        return {
            "version": "v3", "pipeline_id": pid, "name": pid,
            "sources": [
                {"type": "kafka", "source_id": "s", "topic": "s",
                 "schema_fields": [{"name": "id", "type": "int"}, {"name": "v", "type": "string"}]},
            ],
            "sink": {"type": "clickhouse", "table": pid, "max_batch_size": 10,
                     "max_delay_time": "1s",
                     "mapping": [
                         {"name": "id", "column_name": "id", "column_type": "Int64"},
                         {"name": "v", "column_name": "v", "column_type": "String"},
                     ]},
        }

    in_a, in_b = str(tmp_path / "a"), str(tmp_path / "b")
    spark.createDataFrame([(1, "a1")], SCHEMA).write.parquet(in_a)
    spark.createDataFrame([(2, "b1"), (3, "b2")], SCHEMA).write.parquet(in_b)

    mgr = PipelineManager()
    sinks = {}
    for pid, inp in (("pa", in_a), ("pb", in_b)):
        sinks[pid] = ClickHouseSink(table=pid, parquet_fallback_path=str(tmp_path / f"out_{pid}"))
        mgr.create(
            spark, parse_pipeline_json(_json.dumps(doc(pid))), str(tmp_path / f"ckpt_{pid}"),
            {"s": spark.readStream.schema(SCHEMA).parquet(inp)}, {"s": "id"},
            sinks[pid].foreach_batch(), trigger={"availableNow": True},
        )
    for rp in mgr.pipelines.values():
        rp.query.awaitTermination(120)

    a = spark.read.parquet(str(tmp_path / "out_pa"))
    b = spark.read.parquet(str(tmp_path / "out_pb"))
    assert a.count() == 1 and b.count() == 2
    assert mgr.status() == {"pa": "stopped", "pb": "stopped"}
