"""Pipeline lifecycle: stop persists state in the checkpoint; resume
continues from it (offsets not re-read); terminate cleans up.
"""

import pytest
import datetime as dt
import json
import os

from pyspark.sql import types as T

from clickhouse_etl_spark.sinks import ClickHouseSink
from clickhouse_etl_spark.spec.model import parse_pipeline_json
from clickhouse_etl_spark.streaming.lifecycle import PipelineManager, RunningPipeline

SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

DOC = {
    "version": "v3",
    "pipeline_id": "lc1",
    "name": "lifecycle",
    "sources": [
        {"type": "kafka", "source_id": "s", "topic": "s",
         "schema_fields": [{"name": "id", "type": "string"}, {"name": "name", "type": "string"}]},
    ],
    "sink": {
        "type": "clickhouse", "table": "out", "max_batch_size": 100,
        "max_delay_time": "1s",
        "mapping": [
            {"name": "id", "column_name": "id", "column_type": "String"},
            {"name": "name", "column_name": "name", "column_type": "String"},
        ],
    },
}


def test_stop_resume_continues_from_checkpoint(spark, tmp_path):
    spec = parse_pipeline_json(json.dumps(DOC))
    inp = str(tmp_path / "in")
    base = dt.datetime(2024, 1, 1)
    spark.createDataFrame([("a", "A", base)], SCHEMA).write.mode("append").parquet(inp)

    sink = ClickHouseSink(table="out", parquet_fallback_path=str(tmp_path / "out"))
    mgr = PipelineManager()

    def sources():
        return {"s": spark.readStream.schema(SCHEMA).parquet(inp)}

    rp = mgr.create(
        spark, spec, str(tmp_path / "ckpt"), sources(), {"s": "ts"},
        sink.foreach_batch(), trigger={"availableNow": True},
    )
    rp.query.awaitTermination(120)
    assert mgr.status() == {"lc1": "stopped"} or not rp.query.isActive
    n1 = spark.read.parquet(str(tmp_path / "out")).count()
    assert n1 == 1

    # add a second row; resume must process ONLY the new file (offsets
    # resumed from checkpoint), so the sink gains exactly one row
    spark.createDataFrame([("b", "B", base)], SCHEMA).write.mode("append").parquet(inp)
    mgr.stop("lc1")
    rp = mgr.resume(spark, "lc1")
    rp.query.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 2
    assert {r["id"] for r in out.collect()} == {"a", "b"}

    mgr.terminate("lc1")
    assert "lc1" not in mgr.pipelines
    assert not os.path.isdir(str(tmp_path / "ckpt"))

    # a file:// checkpoint URI is deleted through its FileSystem too
    uri_ckpt = tmp_path / "ckpt_uri"
    (uri_ckpt / "offsets").mkdir(parents=True)
    (uri_ckpt / "offsets" / "0").write_text("v1\n")
    mgr.pipelines["lc2"] = RunningPipeline(spec, uri_ckpt.as_uri(), rp.query, {})
    mgr.terminate("lc2")
    assert not uri_ckpt.exists()


class _Stopped:
    isActive = False


def test_terminate_after_a_rotating_edit_leaves_no_checkpoint(spark, tmp_path, monkeypatch):
    """An edit whose restart fails rotates to a fresh '<dir>-editN';
    afterwards terminate leaves neither that nor the original checkpoint
    behind, or a later create() on '<dir>' would resume its old offsets
    and state. The rotation probes through the path's FileSystem, so a
    taken '<dir>-edit1' behind a file:// URI is skipped."""
    spec = parse_pipeline_json(json.dumps(DOC))
    ckpt, taken = tmp_path / "ckpt", tmp_path / "ckpt-edit1"
    for d in (ckpt, taken):
        (d / "offsets").mkdir(parents=True)
    mgr = PipelineManager()
    mgr.pipelines["lc1"] = RunningPipeline(spec, ckpt.as_uri(), _Stopped(), {})
    restarts = []

    def resume(spark, pipeline_id):
        rp = mgr.pipelines[pipeline_id]
        restarts.append(rp.checkpoint_dir)
        if len(restarts) == 1:  # the old checkpoint refuses the new plan
            raise RuntimeError("state schema not compatible")
        (tmp_path / rp.checkpoint_dir.rsplit("/", 1)[-1] / "offsets").mkdir(parents=True, exist_ok=True)
        return rp

    monkeypatch.setattr(mgr, "resume", resume)
    mgr.edit(spark, "lc1", spec)
    fresh = tmp_path / "ckpt-edit2"
    assert restarts == [ckpt.as_uri(), fresh.as_uri()]
    mgr.terminate("lc1")
    assert not ckpt.exists() and not fresh.exists()
    assert taken.exists()  # another pipeline's checkpoint


def test_managed_pipeline_routes_failures_to_dlq(spark, tmp_path):
    """A managed pipeline over raw payloads writes its validation
    failures to the DLQ, and stop() stops the DLQ query with the main
    one (it used to start no DLQ query and drop the failures)."""
    from clickhouse_etl_spark.sinks import DLQWriter

    spec = parse_pipeline_json(json.dumps(DOC))
    raw = T.StructType([T.StructField("value", T.StringType())])
    inp = str(tmp_path / "in")
    spark.createDataFrame([('{"id":"a","name":"A"}',), ('{broken',)], raw).write.parquet(inp)

    sink = ClickHouseSink(table="out", parquet_fallback_path=str(tmp_path / "out"))
    dlq = DLQWriter(str(tmp_path / "dlq"))
    mgr = PipelineManager()
    rp = mgr.create(
        spark, spec, str(tmp_path / "ckpt"), {"s": spark.readStream.schema(raw).parquet(inp)},
        {"s": "id"}, sink.foreach_batch(), dlq_writer=dlq,
    )
    queries = [rp.query, *rp.dlq_queries]
    try:
        assert len(queries) == 2
        for q in queries:
            q.processAllAvailable()
        assert [r["id"] for r in spark.read.parquet(str(tmp_path / "out")).collect()] == ["a"]
        failures = dlq.read(spark).collect()
        assert len(failures) == 1 and failures[0]["payload"] == "{broken"
        mgr.stop("lc1")
        assert not any(q.isActive for q in queries)
    finally:
        for q in queries:
            q.stop()


@pytest.mark.heavy
def test_edit_incompatible_spec_rotates_checkpoint(spark, tmp_path):
    """A state-shape-changing edit (adding windowed dedup) cannot resume
    the old checkpoint — edit() must detect the failed restart and
    rotate to a fresh checkpoint directory instead of reporting success
    and dying in the background."""
    spec = parse_pipeline_json(json.dumps(DOC))
    inp = str(tmp_path / "in")
    base = dt.datetime(2024, 1, 1)
    spark.createDataFrame([("a", "A", base)], SCHEMA).write.mode("append").parquet(inp)

    sink = ClickHouseSink(table="out", parquet_fallback_path=str(tmp_path / "out"))
    mgr = PipelineManager()
    rp = mgr.create(
        spark, spec, str(tmp_path / "ckpt"),
        {"s": spark.readStream.schema(SCHEMA).parquet(inp)}, {"s": "ts"},
        sink.foreach_batch(), trigger={"availableNow": True},
    )
    rp.query.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "out")).count() == 1

    # edited spec adds a dedup stage -> dropDuplicatesWithinWatermark
    # state the old checkpoint doesn't have
    doc2 = dict(DOC)
    doc2["transforms"] = [
        {"type": "dedup", "source_id": "s", "config": {"key": "id", "time_window": "1h"}},
    ]
    spec2 = parse_pipeline_json(json.dumps(doc2))
    # replays everything from the fresh checkpoint: 'a' again (replay =
    # at-least-once, same as the reference's Kafka-offset replay)
    spark.createDataFrame([("b", "B", base)], SCHEMA).write.mode("append").parquet(inp)
    mgr.pipelines["lc1"].start_args["sources"] = {
        "s": spark.readStream.schema(SCHEMA).parquet(inp)
    }
    rp = mgr.edit(spark, "lc1", spec2)
    rp.query.awaitTermination(120)
    assert rp.checkpoint_dir != str(tmp_path / "ckpt")
    out = spark.read.parquet(str(tmp_path / "out"))
    assert {r["id"] for r in out.collect()} == {"a", "b"}


def test_dead_dlq_query_stops_pipeline_and_resume_restarts_it(spark, tmp_path):
    """A pipeline runs only while all its queries run: a dead DLQ query
    shows as stopped, and resume() restarts every query."""
    from clickhouse_etl_spark.sinks import DLQWriter

    spec = parse_pipeline_json(json.dumps(DOC))
    raw = T.StructType([T.StructField("value", T.StringType())])
    inp = str(tmp_path / "in")
    spark.createDataFrame([('{"id":"a","name":"A"}',), ('{broken',)], raw).write.parquet(inp)

    sink = ClickHouseSink(table="out", parquet_fallback_path=str(tmp_path / "out"))
    mgr = PipelineManager()
    rp = mgr.create(
        spark, spec, str(tmp_path / "ckpt"), {"s": spark.readStream.schema(raw).parquet(inp)},
        {"s": "id"}, sink.foreach_batch(), dlq_writer=DLQWriter(str(tmp_path / "dlq")),
    )
    started = [rp.query, *rp.dlq_queries]
    try:
        for q in started:
            q.processAllAvailable()  # a stop inside batch 0 can strand its offset log
        assert mgr.status() == {"lc1": "running"}
        (dq,) = rp.dlq_queries
        dq.stop()
        assert mgr.status() == {"lc1": "stopped"}
        rp = mgr.resume(spark, "lc1")
        started += [rp.query, *rp.dlq_queries]
        assert len(rp.dlq_queries) == 1 and rp.dlq_queries[0] is not dq
        assert all(q.isActive for q in started[2:])
        assert mgr.status() == {"lc1": "running"}
    finally:
        for q in started:
            q.stop()


def test_resume_raises_when_a_restarted_query_dies(spark, tmp_path):
    """resume() waits on every query it restarts: a DLQ query that dies
    in its first micro-batch (here a corrupt offset log) raises instead
    of reporting the pipeline as started, and no query is left running."""
    from clickhouse_etl_spark.sinks import DLQWriter

    spec = parse_pipeline_json(json.dumps(DOC))
    raw = T.StructType([T.StructField("value", T.StringType())])
    inp = str(tmp_path / "in")
    spark.createDataFrame([('{"id":"a","name":"A"}',), ('{broken',)], raw).write.parquet(inp)

    sink = ClickHouseSink(table="out", parquet_fallback_path=str(tmp_path / "out"))
    mgr = PipelineManager()
    ckpt = tmp_path / "ckpt"
    rp = mgr.create(
        spark, spec, str(ckpt), {"s": spark.readStream.schema(raw).parquet(inp)},
        {"s": "id"}, sink.foreach_batch(), dlq_writer=DLQWriter(str(tmp_path / "dlq")),
    )
    started = [rp.query, *rp.dlq_queries]
    try:
        for q in started:
            q.processAllAvailable()
        mgr.stop("lc1")
        offsets = ckpt / "dlq_s" / "offsets"
        last = max((p for p in offsets.iterdir() if p.name.isdigit()), key=lambda p: int(p.name))
        last.write_text("v999\n")  # an offset log no Spark version reads
        with pytest.raises(Exception):
            mgr.resume(spark, "lc1")
        rp = mgr.pipelines["lc1"]
        started += [rp.query, *rp.dlq_queries]
        assert not any(q.isActive for q in started)
        assert mgr.status() == {"lc1": "stopped"}
    finally:
        for q in started:
            q.stop()
