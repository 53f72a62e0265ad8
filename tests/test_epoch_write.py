"""The one epoch write (``sinks.dlq.write_epoch``): a replayed epoch
replaces its rows, concurrent writers to one DLQ path each land every
row, a DLQ directory in a second layout fails loudly, and the spec's
``max_delay_time`` reaches the trigger at millisecond resolution."""

import json
import os
import threading

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickhouse_etl_spark.sinks import ClickHouseSink, DLQWriter
from clickhouse_etl_spark.sinks.dlq import stamp_epoch
from clickhouse_etl_spark.spec.model import parse_pipeline_json
from clickhouse_etl_spark.streaming import StreamingPipeline

RAW = T.StructType([T.StructField("value", T.StringType())])


def _doc(max_delay_time="1s"):
    return {
        "version": "v3", "pipeline_id": "ep", "name": "epoch-write",
        "sources": [
            {"type": "kafka", "source_id": "s", "topic": "s",
             "schema_fields": [{"name": "id", "type": "string"}, {"name": "n", "type": "int"}]},
        ],
        "sink": {"type": "clickhouse", "table": "out", "max_batch_size": 100,
                 "max_delay_time": max_delay_time},
    }


def _dlq_rows(spark, n, component, text="bad"):
    rows = [(component, "malformed JSON", f"{text}-{i}") for i in range(n)]
    return spark.createDataFrame(rows, "component string, error string, payload string").withColumn(
        "dlq_ts", F.current_timestamp()
    )


class CrashOnceDLQ(DLQWriter):
    """Raises right after its first write, before the epoch commits."""

    crashed = False

    def write(self, dlq_df):
        super().write(dlq_df)
        if not CrashOnceDLQ.crashed:
            CrashOnceDLQ.crashed = True
            raise RuntimeError("crash after the DLQ write (simulated)")


def test_dlq_replay_after_crash_lands_each_row_once(spark, tmp_path):
    inp = str(tmp_path / "in")
    spark.createDataFrame(
        [('{"id":"a","n":1}',), ('{broken',), ('{"id":"c"}',)], RAW
    ).write.parquet(inp)
    sink = ClickHouseSink(table="out", parquet_fallback_path=str(tmp_path / "out"))
    CrashOnceDLQ.crashed = False
    dlq = CrashOnceDLQ(str(tmp_path / "dlq"))
    spec = parse_pipeline_json(json.dumps(_doc()))

    def run():
        pipe = StreamingPipeline(spec=spec, checkpoint_dir=str(tmp_path / "ckpt"))
        q = pipe.start(spark, {"s": spark.readStream.schema(RAW).parquet(inp)}, {"s": "id"},
                       sink.foreach_batch(), trigger={"availableNow": True}, dlq_writer=dlq)
        q.awaitTermination(120)
        return pipe.dlq_queries

    (dq,) = run()
    with pytest.raises(Exception, match="crash after the DLQ write"):
        dq.awaitTermination(120)
    (dq,) = run()  # restart from the same checkpoint: the DLQ epoch replays
    dq.awaitTermination(120)

    rows = dlq.read(spark).collect()
    assert sorted(r["payload"] for r in rows) == ['{"id":"c"}', "{broken"]
    assert {r["_batch_id"] for r in rows} == {0}


def test_concurrent_dlq_writers_land_every_row(spark, tmp_path):
    """Two writers on one DLQ path (a join spec's two raw-JSON sources)
    each write 12 epochs; no write fails and every row lands once."""
    path = str(tmp_path / "dlq")
    errors = []

    def writer(component):
        dlq = DLQWriter(path)
        try:
            for epoch in range(12):
                dlq.write(stamp_epoch(_dlq_rows(spark, 5, component, f"e{epoch}"), epoch))
        except Exception as err:  # noqa: BLE001 — reported below
            errors.append(err)

    threads = [threading.Thread(target=writer, args=(c,)) for c in ("ingestor:a", "ingestor:b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    rows = DLQWriter(path).read(spark).select("component", "_batch_id", "payload").collect()
    assert len(rows) == 2 * 12 * 5 == len(set(rows))
    assert {r["payload"] for r in rows if r["_batch_id"] == 7} == {f"e7-{i}" for i in range(5)}


def test_dlq_write_needs_epoch_and_empty_epoch_writes_nothing(spark, tmp_path):
    dlq = DLQWriter(str(tmp_path / "dlq"))
    with pytest.raises(AnalysisException, match="_batch_id"):
        dlq.write(_dlq_rows(spark, 1, "sink"))
    dlq.write(stamp_epoch(_dlq_rows(spark, 1, "sink").limit(0), 4))
    files = [f for _, _, fs in os.walk(tmp_path / "dlq") for f in fs if f.endswith(".parquet")]
    assert files == []


def test_dlq_purge_deletes_a_uri_path(spark, tmp_path, monkeypatch):
    """purge() deletes through the path's FileSystem: a file:// DLQ is
    emptied, and no stray relative 'file:' directory appears."""
    monkeypatch.chdir(tmp_path)
    root = tmp_path / "dlq"
    dlq = DLQWriter(root.as_uri())
    dlq.write(stamp_epoch(_dlq_rows(spark, 2, "validate"), 0))
    assert dlq.read(spark).count() == 2
    dlq.purge()
    assert dlq.read(spark).count() == 0
    assert not root.exists()
    assert not (tmp_path / "file:").exists()


def test_dlq_read_raises_on_a_second_layout(spark, tmp_path):
    """Only a missing path reads as an empty DLQ. A directory holding
    two layouts (the old ``component=`` root next to ``_batch_id=``)
    must raise, not read as zero failures."""
    path = str(tmp_path / "dlq")
    _dlq_rows(spark, 1, "sink").write.partitionBy("component").parquet(path)
    stamp_epoch(_dlq_rows(spark, 1, "sink"), 0).write.mode("append").partitionBy(
        "_batch_id", "component"
    ).parquet(path)
    with pytest.raises(Exception, match="CONFLICTING_PARTITION_COLUMN_NAMES"):
        DLQWriter(path).read(spark).collect()

    missing = DLQWriter(str(tmp_path / "never_written")).read(spark)
    assert missing.count() == 0 and "_batch_id" in missing.columns


@pytest.mark.parametrize("delay, interval_ms", [("500ms", 500), ("1.5s", 1500), ("1s", 1000)])
def test_max_delay_time_sets_trigger_interval(spark, tmp_path, delay, interval_ms):
    inp = str(tmp_path / "in")
    spark.createDataFrame([('{"id":"a","n":1}',)], RAW).write.parquet(inp)
    sink = ClickHouseSink(table="out", parquet_fallback_path=str(tmp_path / "out"))
    pipe = StreamingPipeline(spec=parse_pipeline_json(json.dumps(_doc(delay))),
                             checkpoint_dir=str(tmp_path / "ckpt"))
    q = pipe.start(spark, {"s": spark.readStream.schema(RAW).parquet(inp)}, {"s": "id"},
                   sink.foreach_batch())
    try:
        assert q._jsq.streamingQuery().trigger().intervalMs() == interval_ms
    finally:
        q.stop()
