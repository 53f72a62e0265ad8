"""Live smoke tests for the two endpoints this environment cannot fake:
a real Kafka broker (S1) and a real ClickHouse server over JDBC (K1).

Ports the reference's godog golden scenario
(glassflow-api/tests/features/pipeline/pipeline.feature:4-41 — "Kafka to
ClickHouse pipeline with deduplication only": four events, one duplicate
id, first-wins dedup in a 1h window, mapped sink).

These tests SKIP unless the endpoints are provided via env vars, so the
suite stays green in broker-less environments:

    KAFKA_BOOTSTRAP=host:9092 \
    CLICKHOUSE_JDBC_URL=jdbc:clickhouse://host:8123/default \
    python -m pytest tests/test_live.py -m live -v

Requirements when running live:
  - the Spark Kafka connector on the classpath
    (--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-ver>),
  - the ClickHouse JDBC driver jar on spark.jars for the JDBC test,
  - topics auto-created or pre-created with 1 partition.

The Kafka test only needs KAFKA_BOOTSTRAP (it sinks to a parquet
fallback); the ClickHouse test only needs CLICKHOUSE_JDBC_URL; the full
end-to-end variant needs both.
"""

import json
import os
import time
import uuid

import pytest

KAFKA = os.environ.get("KAFKA_BOOTSTRAP")
CH_URL = os.environ.get("CLICKHOUSE_JDBC_URL")

pytestmark = pytest.mark.live

GOLDEN_EVENTS = [
    ("1", {"id": "123", "name": "John Doe"}),
    ("2", {"id": "456", "name": "Jane Smith"}),
    ("3", {"id": "789", "name": "Bob Johnson"}),
    ("4", {"id": "789", "name": "Ulm Petterson"}),  # dup id -> dropped
]


def _golden_spec(topic: str) -> dict:
    return {
        "version": "v3",
        "pipeline_id": "live-smoke",
        "name": "kafka-to-clickhouse-live",
        "sources": [{
            "type": "kafka",
            "source_id": topic,
            "topic": topic,
            "initial_offset": "earliest",
            "schema_fields": [
                {"name": "id", "type": "string"},
                {"name": "name", "type": "string"},
            ],
        }],
        "transforms": [
            {"type": "dedup", "source_id": topic,
             "config": {"key": "id", "time_window": "1h"}},
        ],
        "sink": {
            "type": "clickhouse",
            "table": "events_test",
            "max_batch_size": 1000,
            "max_delay_time": "1s",
            "mapping": [
                {"name": "id", "column_name": "id", "column_type": "String"},
                {"name": "name", "column_name": "name", "column_type": "String"},
            ],
        },
    }


@pytest.mark.skipif(not KAFKA, reason="KAFKA_BOOTSTRAP not set")
def test_kafka_pipeline_dedup_golden(spark, tmp_path):
    """pipeline.feature:4-41 with the sink's parquet fallback standing in
    for ClickHouse: produce the four golden events, run the compiled
    streaming pipeline availableNow from earliest, expect the three
    first-wins rows."""
    from pyspark.sql import functions as F

    from clickhouse_etl_spark.sinks import ClickHouseSink
    from clickhouse_etl_spark.spec import parse_pipeline_json
    from clickhouse_etl_spark.streaming.runner import StreamingPipeline, kafka_source_stream

    topic = f"live_smoke_{uuid.uuid4().hex[:8]}"
    # produce via Spark's batch Kafka writer (same connector the source
    # uses — no extra client dependency)
    spark.createDataFrame(
        [(k, json.dumps(v)) for k, v in GOLDEN_EVENTS], ["key", "value"]
    ).write.format("kafka").option("kafka.bootstrap.servers", KAFKA).option(
        "topic", topic
    ).save()

    spec = parse_pipeline_json(_golden_spec(topic))
    src = spec.source(topic)
    stream = kafka_source_stream(spark, src).withColumn(
        "ts", F.col("_kafka_ts")
    )
    # payload JSON -> typed columns for the chain
    stream = stream.select(
        F.get_json_object("value", "$.id").alias("id"),
        F.get_json_object("value", "$.name").alias("name"),
        "ts", "value",
    )
    sink = ClickHouseSink(
        table="events_test", parquet_fallback_path=str(tmp_path / "out")
    )
    pipe = StreamingPipeline(spec=spec, checkpoint_dir=str(tmp_path / "ckpt"))
    q = pipe.start(
        spark,
        sources={topic: stream},
        ts_cols={topic: "ts"},
        sink_fn=sink.foreach_batch(),
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)

    out = spark.read.parquet(str(tmp_path / "out" / "_batch_id=*"))
    rows = {(r["id"], r["name"]) for r in out.collect()}
    assert rows == {("123", "John Doe"), ("456", "Jane Smith"), ("789", "Bob Johnson")}


@pytest.mark.skipif(not CH_URL, reason="CLICKHOUSE_JDBC_URL not set")
def test_clickhouse_jdbc_roundtrip(spark):
    """K1 live path: ClickHouseSink writes over JDBC and the rows read
    back (sink/clickhouse.go:161-197's insert path). Table is created
    via the JDBC session beforehand; MergeTree so replays are visible."""
    from clickhouse_etl_spark.sinks import ClickHouseSink

    table = f"live_smoke_{uuid.uuid4().hex[:8]}"
    # connectivity check; raises with a clear driver error if absent
    spark.read.format("jdbc").option("url", CH_URL).option(
        "query", "SELECT 1 FROM system.one"
    ).load()

    http = os.environ.get("CLICKHOUSE_HTTP", "")
    if http:
        import urllib.request

        req = urllib.request.Request(
            http,
            data=(
                f"CREATE TABLE {table} (id String, name String, _batch_id Int64) "
                "ENGINE = MergeTree ORDER BY id"
            ).encode(),
        )
        urllib.request.urlopen(req, timeout=10).read()
    else:
        pytest.skip("CLICKHOUSE_HTTP not set (needed for DDL)")

    df = spark.createDataFrame(
        [("123", "John Doe"), ("456", "Jane Smith")], ["id", "name"]
    )
    sink = ClickHouseSink(table=table, jdbc_url=CH_URL)
    report = sink.write_batch(df, batch_id=0)
    assert report.rows == 2

    back = (
        spark.read.format("jdbc")
        .option("url", CH_URL)
        .option("dbtable", table)
        .load()
    )
    assert {(r["id"], r["name"]) for r in back.collect()} == {
        ("123", "John Doe"), ("456", "Jane Smith")
    }


@pytest.mark.skipif(not (KAFKA and CH_URL), reason="needs both endpoints")
def test_kafka_to_clickhouse_end_to_end(spark, tmp_path):
    """The full golden scenario against both live endpoints: Kafka
    source -> dedup -> mapped sink -> ClickHouse over JDBC, then assert
    the reference's expected table contents (pipeline.feature:93-99)."""
    from pyspark.sql import functions as F

    from clickhouse_etl_spark.sinks import ClickHouseSink
    from clickhouse_etl_spark.spec import parse_pipeline_json
    from clickhouse_etl_spark.streaming.runner import StreamingPipeline, kafka_source_stream

    topic = f"live_e2e_{uuid.uuid4().hex[:8]}"
    table = f"events_live_{uuid.uuid4().hex[:8]}"
    http = os.environ.get("CLICKHOUSE_HTTP")
    if not http:
        pytest.skip("CLICKHOUSE_HTTP not set (needed for DDL)")
    import urllib.request

    urllib.request.urlopen(
        urllib.request.Request(
            http,
            data=(
                f"CREATE TABLE {table} (id String, name String, _batch_id Int64) "
                "ENGINE = MergeTree ORDER BY id"
            ).encode(),
        ),
        timeout=10,
    ).read()

    spark.createDataFrame(
        [(k, json.dumps(v)) for k, v in GOLDEN_EVENTS], ["key", "value"]
    ).write.format("kafka").option("kafka.bootstrap.servers", KAFKA).option(
        "topic", topic
    ).save()

    doc = _golden_spec(topic)
    doc["sink"]["table"] = table
    spec = parse_pipeline_json(doc)
    stream = kafka_source_stream(spark, spec.source(topic)).withColumn("ts", F.col("_kafka_ts"))
    stream = stream.select(
        F.get_json_object("value", "$.id").alias("id"),
        F.get_json_object("value", "$.name").alias("name"),
        "ts", "value",
    )
    sink = ClickHouseSink(table=table, jdbc_url=CH_URL)
    pipe = StreamingPipeline(spec=spec, checkpoint_dir=str(tmp_path / "ckpt"))
    q = pipe.start(
        spark, sources={topic: stream}, ts_cols={topic: "ts"},
        sink_fn=sink.foreach_batch(), trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    time.sleep(1)  # MergeTree parts visibility

    back = (
        spark.read.format("jdbc").option("url", CH_URL).option("dbtable", table).load()
    )
    rows = {(r["id"], r["name"]) for r in back.collect()}
    assert rows == {("123", "John Doe"), ("456", "Jane Smith"), ("789", "Bob Johnson")}
    assert ("789", "Ulm Petterson") not in rows
