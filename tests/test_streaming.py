"""Streaming-path tests: watermark dedup, faithful temporal join state
machine, sink error classification + DLQ, end-to-end streaming pipeline
over file sources (no Kafka broker in this environment — the Kafka
reader builder is covered by option-mapping unit tests).

Ports the semantics of the reference's Gherkin scenarios
(tests/features/pipeline/pipeline.feature, join/join.feature).
"""

import datetime as dt
import json
import os

import pytest
from pyspark.sql import types as T

from clickhouse_etl_spark.sinks import (
    Classification,
    ClickHouseSink,
    DLQWriter,
    classify_clickhouse_error,
)
from clickhouse_etl_spark.spec.model import (
    JoinConfig,
    JoinOutputField,
    JoinSourceConfig,
    parse_pipeline_json,
)
from clickhouse_etl_spark.streaming import StreamingPipeline, temporal_join_streaming


def ts(s):
    return dt.datetime.fromisoformat(s)


LEFT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("lts", T.TimestampType()),
    ]
)
RIGHT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("email", T.StringType()),
        T.StructField("rts", T.TimestampType()),
    ]
)


def _write_stream_input(spark, tmpdir, name, rows, schema):
    path = os.path.join(tmpdir, name)
    spark.createDataFrame(rows, schema=schema).write.mode("overwrite").parquet(path)
    return path


def _join_cfg(lw="2s", rw="2s"):
    return JoinConfig(
        left=JoinSourceConfig("left", "id", 2.0, "left"),
        right=JoinSourceConfig("right", "id", 2.0, "right"),
        output_fields=(
            JoinOutputField("left", "id", "id"),
            JoinOutputField("left", "name", "name"),
            JoinOutputField("right", "email", "email"),
        ),
    )


def test_temporal_join_streaming_semantics(spark, tmp_path):
    """join.feature:33-138 semantics: right latest-wins, left buffered
    then drained on right arrival, output projection with rename."""
    base = ts("2024-01-01T10:00:00")

    left_rows = [
        ("u1", "Alice", base),                                  # before right -> buffered, drained at +0.5s
        ("u2", "Bob", base + dt.timedelta(seconds=1)),          # after right u2 -> immediate join
        ("u3", "Carol", base),                                  # no right ever -> dropped
    ]
    right_rows = [
        ("u1", "old@x.com", base + dt.timedelta(milliseconds=200)),
        ("u1", "new@x.com", base + dt.timedelta(milliseconds=500)),  # latest wins for later lefts
        ("u2", "bob@x.com", base + dt.timedelta(milliseconds=300)),
    ]

    lpath = _write_stream_input(spark, str(tmp_path), "left", left_rows, LEFT_SCHEMA)
    rpath = _write_stream_input(spark, str(tmp_path), "right", right_rows, RIGHT_SCHEMA)

    left = spark.readStream.schema(LEFT_SCHEMA).parquet(lpath)
    right = spark.readStream.schema(RIGHT_SCHEMA).parquet(rpath)

    joined = temporal_join_streaming(
        left, right, _join_cfg(), left_ts="lts", right_ts="rts"
    )
    assert [(f.name, f.dataType) for f in joined.schema.fields] == [
        ("id", T.StringType()),
        ("name", T.StringType()),
        ("email", T.StringType()),
    ]
    q = (
        joined.writeStream.format("memory")
        .queryName("tj_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {(r["id"], r["name"], r["email"]) for r in spark.sql("SELECT * FROM tj_out").collect()}
    # u1: buffered left drained by FIRST right arrival (old@) — reference
    # drains pending lefts on every right arrival
    assert ("u1", "Alice", "old@x.com") in rows
    # u2: left arrived after right -> immediate join
    assert ("u2", "Bob", "bob@x.com") in rows
    # u3: no right -> dropped (inner semantics)
    assert not any(r[0] == "u3" for r in rows)
    assert len(rows) == 2


def _run_join(joined, ckpt):
    got = []
    q = (
        joined.writeStream.foreachBatch(lambda df, _bid: got.extend(df.collect()))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if q.exception() is not None:
        raise q.exception()
    return sorted((tuple(r) for r in got), key=repr)


def _batch_join(spark, lpath, rpath, cfg):
    from clickhouse_etl_spark.operators.join import temporal_join_batch

    out = temporal_join_batch(spark.read.parquet(lpath), spark.read.parquet(rpath), cfg,
                              right_ts_col="rts", left_ts_col="lts")
    return sorted((tuple(r) for r in out.collect()), key=repr)


def test_temporal_join_streaming_null_keys_never_join(spark, tmp_path):
    """The stream joins what the batch join joins: a NULL-key left and
    a NULL-key right never match."""
    base = ts("2024-01-01T10:00:00")
    lpath = _write_stream_input(spark, str(tmp_path), "left",
                                [("u1", "Alice", base), (None, "Nobody", base)], LEFT_SCHEMA)
    rpath = _write_stream_input(spark, str(tmp_path), "right", [
        ("u1", "a@x", base + dt.timedelta(milliseconds=100)),
        (None, "null@x", base + dt.timedelta(milliseconds=100)),
    ], RIGHT_SCHEMA)
    want = _batch_join(spark, lpath, rpath, _join_cfg())
    assert want == [("u1", "Alice", "a@x")]
    joined = temporal_join_streaming(
        spark.readStream.schema(LEFT_SCHEMA).parquet(lpath),
        spark.readStream.schema(RIGHT_SCHEMA).parquet(rpath),
        _join_cfg(), left_ts="lts", right_ts="rts",
    )
    assert _run_join(joined, tmp_path / "ckpt") == want


def test_temporal_join_streaming_typed_fields_wait_in_state(spark, tmp_path):
    """A left with long and timestamp output fields waits in the bucket
    state for one micro-batch (the right lands in the second) and joins
    with its values intact, as in batch."""
    base = ts("2024-01-01T10:00:00")
    lschema = T.StructType([*LEFT_SCHEMA.fields, T.StructField("amount", T.LongType())])
    lpath = _write_stream_input(spark, str(tmp_path), "left", [("u1", "Alice", base, 7)], lschema)
    rpath = str(tmp_path / "right")
    for rows in ([("u2", "b@x", base)], [("u1", "a@x", base + dt.timedelta(milliseconds=200))]):
        spark.createDataFrame(rows, RIGHT_SCHEMA).coalesce(1).write.mode("append").parquet(rpath)
    cfg = JoinConfig(
        left=JoinSourceConfig("left", "id", 2.0, "left"),
        right=JoinSourceConfig("right", "id", 2.0, "right"),
        output_fields=(
            JoinOutputField("left", "id", "id"),
            JoinOutputField("left", "amount", "amount"),
            JoinOutputField("left", "lts", "lts"),
            JoinOutputField("right", "email", "email"),
        ),
    )
    want = _batch_join(spark, lpath, rpath, cfg)
    assert want == [("u1", 7, base, "a@x")]
    joined = temporal_join_streaming(
        spark.readStream.schema(lschema).parquet(lpath),
        spark.readStream.schema(RIGHT_SCHEMA).option("maxFilesPerTrigger", 1).parquet(rpath),
        cfg, left_ts="lts", right_ts="rts",
    )
    assert _run_join(joined, tmp_path / "ckpt") == want


def test_temporal_join_per_key_checkpoint_fails_loudly(spark, tmp_path):
    """A checkpoint written by the per-key join (one state row per key)
    cannot resume under the bucketed join: Spark's state-schema check
    stops the query instead of reading the old state as new."""
    from pyspark.errors import StreamingQueryException
    from reference_forms import temporal_join_streaming_per_key

    base = ts("2024-01-01T10:00:00")
    lpath = _write_stream_input(spark, str(tmp_path), "left", [("u1", "Alice", base)], LEFT_SCHEMA)
    rpath = _write_stream_input(
        spark, str(tmp_path), "right", [("u1", "a@x", base + dt.timedelta(seconds=1))], RIGHT_SCHEMA
    )

    def sides():
        return (spark.readStream.schema(LEFT_SCHEMA).parquet(lpath),
                spark.readStream.schema(RIGHT_SCHEMA).parquet(rpath))

    old = temporal_join_streaming_per_key(*sides(), _join_cfg(), "lts", "rts")
    assert _run_join(old, tmp_path / "ckpt") == [("u1", "Alice", "a@x")]
    # one more input file, so the restarted query has a batch to run
    spark.createDataFrame([("u1", "Bob", base + dt.timedelta(seconds=2))], LEFT_SCHEMA) \
        .write.mode("append").parquet(lpath)
    new = temporal_join_streaming(*sides(), _join_cfg(), left_ts="lts", right_ts="rts")
    with pytest.raises(StreamingQueryException, match="STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE"):
        _run_join(new, tmp_path / "ckpt")


def test_temporal_join_restart_under_other_bucket_count_fails_loudly(spark, tmp_path):
    """Keys change bucket when spark.sql.shuffle.partitions changes
    between restarts; a bucket that finds state written under another
    bucket count stops the query instead of losing its keys' state."""
    from pyspark.errors import StreamingQueryException

    base = ts("2024-01-01T10:00:00")
    keys = [f"u{i}" for i in range(20)]
    rpath = _write_stream_input(spark, str(tmp_path), "right",
                                [(k, f"{k}@x", base) for k in keys], RIGHT_SCHEMA)
    lpath = _write_stream_input(spark, str(tmp_path), "left",
                                [("u0", "Ann", base + dt.timedelta(seconds=1))], LEFT_SCHEMA)

    def joined():
        return temporal_join_streaming(
            spark.readStream.schema(LEFT_SCHEMA).parquet(lpath),
            spark.readStream.schema(RIGHT_SCHEMA).parquet(rpath),
            _join_cfg(), left_ts="lts", right_ts="rts",
        )

    assert _run_join(joined(), tmp_path / "ckpt") == [("u0", "Ann", "u0@x")]
    spark.createDataFrame([(k, "Bob", base + dt.timedelta(seconds=1)) for k in keys],
                          LEFT_SCHEMA).write.mode("append").parquet(lpath)
    n = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        restarted = joined()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", n)
    with pytest.raises(StreamingQueryException, match="key buckets"):
        _run_join(restarted, tmp_path / "ckpt")


def test_pipeline_restart_keeps_checkpoint_bucket_count(spark, tmp_path):
    """A pipeline restarted under another spark.sql.shuffle.partitions
    keeps the key buckets its checkpoint was written under: the
    restarted key would land in a bucket with no old state under the
    new count, and must still find its buffered right."""
    from pyspark.sql import functions as F

    base = ts("2024-01-01T10:00:00")
    lpath = _write_stream_input(spark, str(tmp_path), "l", [("zz", "Nobody", base)], LEFT_SCHEMA)
    rpath = _write_stream_input(spark, str(tmp_path), "r", [("u0", "a@x", base)], RIGHT_SCHEMA)
    sink = ClickHouseSink(table="out", parquet_fallback_path=str(tmp_path / "sinkout"))

    def run():
        q = StreamingPipeline(spec=_join_pipeline_spec(), checkpoint_dir=str(tmp_path / "ckpt")).start(
            spark,
            sources={"left": spark.readStream.schema(LEFT_SCHEMA).parquet(lpath),
                     "right": spark.readStream.schema(RIGHT_SCHEMA).parquet(rpath)},
            ts_cols={"left": "lts", "right": "rts"},
            sink_fn=sink.foreach_batch(),
            trigger={"availableNow": True},
        )
        q.awaitTermination(120)
        assert q.exception() is None

    def bucket(key, n):
        return spark.range(1).select(F.pmod(F.xxhash64(F.lit(key)), F.lit(n))).first()[0]

    n = spark.conf.get("spark.sql.shuffle.partitions")
    run()
    # the only state is u0's right, in bucket(u0, n); pick a count that
    # moves u0 to a bucket that never held state
    other = next(p for p in range(2, 64) if bucket("u0", p) != bucket("u0", int(n)))
    spark.createDataFrame([("u0", "Ann", base + dt.timedelta(seconds=1))], LEFT_SCHEMA) \
        .write.mode("append").parquet(lpath)
    spark.conf.set("spark.sql.shuffle.partitions", str(other))
    try:
        run()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", n)
    got = {tuple(r) for r in spark.read.parquet(str(tmp_path / "sinkout")).select("id", "name", "email").collect()}
    assert got == {("u0", "Ann", "a@x")}


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """pipeline.feature:1-75: 4 events, duplicate key -> 3 survive."""
    schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("name", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    base = ts("2024-01-01T00:00:00")
    rows = [
        ("123", "John Doe", base),
        ("456", "Jane Smith", base + dt.timedelta(seconds=1)),
        ("789", "Bob Johnson", base + dt.timedelta(seconds=2)),
        ("789", "Ulm Petterson", base + dt.timedelta(seconds=3)),  # dup within window
    ]
    path = _write_stream_input(spark, str(tmp_path), "events", rows, schema)
    stream = spark.readStream.schema(schema).parquet(path)
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["id"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("dd_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dd"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT id FROM dd_out").collect()
    assert sorted(r["id"] for r in got) == ["123", "456", "789"]


def test_sink_error_classification():
    # retryable: timeout code 159 / network error
    assert classify_clickhouse_error("Code: 159. DB::Exception: Timeout exceeded") is Classification.RETRYABLE
    assert classify_clickhouse_error("connection refused") is Classification.RETRYABLE
    # permanent: parse error 6, unknown table 60, auth 516
    assert classify_clickhouse_error("Code: 6. Cannot parse") is Classification.PERMANENT
    assert classify_clickhouse_error("Code: 60. Table x does not exist") is Classification.PERMANENT
    assert classify_clickhouse_error("Code: 516. Authentication failed") is Classification.PERMANENT
    # unknown code / unknown text
    assert classify_clickhouse_error("Code: 48. Not implemented") is Classification.UNKNOWN
    assert classify_clickhouse_error("something odd") is Classification.UNKNOWN


def test_sink_write_and_idempotency_column(spark, tmp_path):
    sink = ClickHouseSink(table="t", parquet_fallback_path=str(tmp_path / "out"))
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    report = sink.write_batch(df, batch_id=7)
    assert report.outcome == "written" and report.rows == 2
    back = spark.read.parquet(str(tmp_path / "out"))
    assert set(back.columns) == {"k", "v", "_batch_id"}
    assert {r["_batch_id"] for r in back.collect()} == {7}


def test_sink_permanent_error_routes_to_dlq(spark, tmp_path):
    class FailingSink(ClickHouseSink):
        def _write_once(self, df):
            raise RuntimeError("Code: 6. DB::Exception: Cannot parse text")

    dlq = DLQWriter(str(tmp_path / "dlq"))
    sink = FailingSink(table="t", parquet_fallback_path=str(tmp_path / "out"), dlq=dlq)
    df = spark.createDataFrame([(1, "a")], ["k", "v"])
    report = sink.write_batch(df, batch_id=1)
    assert report.outcome == "dlq" and report.rows == 1
    state = dlq.state(spark).collect()
    assert state[0]["component"] == "sink" and state[0]["n_failed"] == 1
    (row,) = dlq.read(spark).collect()
    assert json.loads(row["payload"]) == {"k": 1, "v": "a"} and row["_batch_id"] == 1


def test_sink_permanent_error_without_dlq_reraises(spark, tmp_path):
    """With no DLQ wired, a permanent error must fail the epoch: a
    returned report would let the epoch commit with its rows written
    nowhere."""
    class FailingSink(ClickHouseSink):
        def _write_once(self, df):
            raise RuntimeError("Code: 6. DB::Exception: Cannot parse text")

    sink = FailingSink(table="t", parquet_fallback_path=str(tmp_path / "out"))
    df = spark.createDataFrame([(1, "a")], ["k", "v"])
    with pytest.raises(RuntimeError, match="Cannot parse text"):
        sink.write_batch(df, batch_id=1)
    assert sink.reports == []


def test_sink_retryable_error_reraises(spark, tmp_path):
    class FlakySink(ClickHouseSink):
        def _write_once(self, df):
            raise RuntimeError("Code: 159. Timeout exceeded")

    sink = FlakySink(table="t", parquet_fallback_path=str(tmp_path / "out"))
    df = spark.createDataFrame([(1, "a")], ["k", "v"])
    with pytest.raises(RuntimeError):
        sink.write_batch(df, batch_id=1)
    assert sink.reports[-1].outcome == "retry"


def _join_pipeline_spec():
    """left(id, name) joined to right(id, email) on id, 1 h windows."""
    doc = {
        "version": "v3",
        "pipeline_id": "sp",
        "name": "stream-pipe",
        "sources": [
            {"type": "kafka", "source_id": "left", "topic": "left",
             "schema_fields": [{"name": "id", "type": "string"}, {"name": "name", "type": "string"}]},
            {"type": "kafka", "source_id": "right", "topic": "right",
             "schema_fields": [{"name": "id", "type": "string"}, {"name": "email", "type": "string"}]},
        ],
        "join": {
            "enabled": True, "type": "temporal",
            "left_source": {"source_id": "left", "key": "id", "time_window": "1h"},
            "right_source": {"source_id": "right", "key": "id", "time_window": "1h"},
            "output_fields": [
                {"source_id": "left", "name": "id"},
                {"source_id": "left", "name": "name"},
                {"source_id": "right", "name": "email"},
            ],
        },
        "sink": {
            "type": "clickhouse", "table": "out", "max_batch_size": 1000,
            "max_delay_time": "1s",
            "mapping": [
                {"name": "id", "column_name": "id", "column_type": "String"},
                {"name": "name", "column_name": "name", "column_type": "String"},
                {"name": "email", "column_name": "email", "column_type": "String"},
            ],
        },
    }
    return parse_pipeline_json(json.dumps(doc))


def test_streaming_pipeline_end_to_end(spark, tmp_path):
    """Full spec -> StreamingPipeline over file sources -> sink parquet."""
    spec = _join_pipeline_spec()

    base = ts("2024-01-01T10:00:00")
    lpath = _write_stream_input(
        spark, str(tmp_path), "l",
        [("u1", "Alice", base + dt.timedelta(seconds=1))], LEFT_SCHEMA,
    )
    rpath = _write_stream_input(
        spark, str(tmp_path), "r",
        [("u1", "a@x.com", base)], RIGHT_SCHEMA,
    )
    sink = ClickHouseSink(table="out", parquet_fallback_path=str(tmp_path / "sinkout"))
    pipe = StreamingPipeline(spec=spec, checkpoint_dir=str(tmp_path / "ckpt_e2e"))
    q = pipe.start(
        spark,
        sources={
            "left": spark.readStream.schema(LEFT_SCHEMA).parquet(lpath),
            "right": spark.readStream.schema(RIGHT_SCHEMA).parquet(rpath),
        },
        ts_cols={"left": "lts", "right": "rts"},
        sink_fn=sink.foreach_batch(),
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "sinkout"))
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["id"] == "u1" and rows[0]["name"] == "Alice" and rows[0]["email"] == "a@x.com"


def test_streaming_dlq_branch(spark, tmp_path):
    """Per-operator DLQ middleware in streaming: malformed payloads land
    in the DLQ table while valid rows flow to the sink
    (pipeline/dlq.feature semantics)."""
    from clickhouse_etl_spark.sinks.dlq import DLQWriter

    doc = {
        "version": "v3",
        "pipeline_id": "dlqp",
        "name": "dlq-pipe",
        "sources": [
            {"type": "kafka", "source_id": "s", "topic": "s",
             "schema_fields": [{"name": "id", "type": "string"}, {"name": "n", "type": "int"}]},
        ],
        "sink": {
            "type": "clickhouse", "table": "out", "max_batch_size": 100,
            "max_delay_time": "1s",
            "mapping": [
                {"name": "id", "column_name": "id", "column_type": "String"},
                {"name": "n", "column_name": "n", "column_type": "Int64"},
            ],
        },
    }
    spec = parse_pipeline_json(json.dumps(doc))

    payloads = [
        ('{"id":"a","n":1}',),
        ('{"id":"b","n":2}',),
        ('{"id":"c"}',),        # missing n -> DLQ
        ('{broken',),           # malformed -> DLQ
    ]
    inp = str(tmp_path / "in")
    spark.createDataFrame(payloads, ["value"]).write.mode("overwrite").parquet(inp)

    sink = ClickHouseSink(table="out", parquet_fallback_path=str(tmp_path / "sinkout"))
    dlq = DLQWriter(str(tmp_path / "dlq"))
    pipe = StreamingPipeline(spec=spec, checkpoint_dir=str(tmp_path / "ckpt"))

    raw_schema = T.StructType([T.StructField("value", T.StringType())])
    q = pipe.start(
        spark,
        sources={"s": spark.readStream.schema(raw_schema).parquet(inp)},
        ts_cols={"s": "id"},  # no event-time ops in this pipeline
        sink_fn=sink.foreach_batch(),
        trigger={"availableNow": True},
        dlq_writer=dlq,
    )
    q.awaitTermination(120)
    for dq in pipe.dlq_queries:
        dq.awaitTermination(120)

    out = spark.read.parquet(str(tmp_path / "sinkout"))
    assert {(r["id"], r["n"]) for r in out.collect()} == {("a", 1), ("b", 2)}

    failures = dlq.read(spark).collect()
    assert len(failures) == 2
    errs = sorted(r["error"] for r in failures)
    assert any("malformed" in e for e in errs)
    assert any("missing" in e for e in errs)
    assert all(r["component"] == "ingestor:s" for r in failures)


def test_streaming_json_source_with_dedup(spark, tmp_path):
    """A JSON source whose event time is a frame column (the Kafka
    ``_kafka_ts``), not a payload field, keeps that column through
    validation, so the dedup watermark resolves it: duplicates collapse
    in the sink and the malformed payload lands in the DLQ."""
    doc = {
        "version": "v3",
        "pipeline_id": "jdd",
        "name": "json-dedup",
        "sources": [
            {"type": "kafka", "source_id": "s", "topic": "s",
             "schema_fields": [{"name": "id", "type": "string"}, {"name": "n", "type": "int"}]},
        ],
        "transforms": [
            {"type": "dedup", "source_id": "s",
             "config": {"key": "id", "time_window": "1h"}},
        ],
        "sink": {
            "type": "clickhouse", "table": "out", "max_batch_size": 100,
            "max_delay_time": "1s",
            "mapping": [
                {"name": "id", "column_name": "id", "column_type": "String"},
                {"name": "n", "column_name": "n", "column_type": "Int64"},
            ],
        },
    }
    spec = parse_pipeline_json(json.dumps(doc))

    base = ts("2024-01-01T10:00:00")
    raw_schema = T.StructType([
        T.StructField("value", T.StringType()),
        T.StructField("_kafka_ts", T.TimestampType()),
    ])
    inp = _write_stream_input(spark, str(tmp_path), "in", [
        ('{"id":"a","n":1}', base),
        ('{"id":"a","n":1}', base + dt.timedelta(seconds=1)),  # duplicate key
        ('{"id":"b","n":2}', base + dt.timedelta(seconds=2)),
        ('{broken', base + dt.timedelta(seconds=3)),            # malformed -> DLQ
    ], raw_schema)

    sink = ClickHouseSink(table="out", parquet_fallback_path=str(tmp_path / "sinkout"))
    dlq = DLQWriter(str(tmp_path / "dlq"))
    pipe = StreamingPipeline(spec=spec, checkpoint_dir=str(tmp_path / "ckpt"))
    q = pipe.start(
        spark,
        sources={"s": spark.readStream.schema(raw_schema).parquet(inp)},
        ts_cols={"s": "_kafka_ts"},
        sink_fn=sink.foreach_batch(),
        trigger={"availableNow": True},
        dlq_writer=dlq,
    )
    q.awaitTermination(120)
    assert len(pipe.dlq_queries) == 1
    for dq in pipe.dlq_queries:
        dq.awaitTermination(120)

    out = spark.read.parquet(str(tmp_path / "sinkout"))
    assert sorted((r["id"], r["n"]) for r in out.collect()) == [("a", 1), ("b", 2)]
    failures = dlq.read(spark).collect()
    assert len(failures) == 1 and "malformed" in failures[0]["error"]


def test_streaming_dedup_without_window_raises(spark, tmp_path):
    """A dedup stage without ``time_window`` dedups the WHOLE input in
    batch (first wins); a stream has no whole input, so assembly fails
    loudly, naming the source, instead of substituting a window whose
    answer differs from batch."""
    from clickhouse_etl_spark.spec.model import SpecError

    doc = {
        "version": "v3",
        "pipeline_id": "nowin",
        "name": "dedup-no-window",
        "sources": [{"type": "kafka", "source_id": "clicks", "topic": "clicks"}],
        "transforms": [{"type": "dedup", "source_id": "clicks", "config": {"key": "id"}}],
        "sink": {"type": "clickhouse", "table": "out", "max_batch_size": 100,
                 "max_delay_time": "1s"},
    }
    spec = parse_pipeline_json(json.dumps(doc))
    schema = T.StructType([
        T.StructField("id", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    inp = _write_stream_input(
        spark, str(tmp_path), "in", [("a", ts("2024-01-01T10:00:00"))], schema
    )
    sink = ClickHouseSink(table="out", parquet_fallback_path=str(tmp_path / "sinkout"))
    pipe = StreamingPipeline(spec=spec, checkpoint_dir=str(tmp_path / "ckpt"))
    with pytest.raises(SpecError, match="'clicks'.*time_window"):
        pipe.start(
            spark,
            sources={"clicks": spark.readStream.schema(schema).parquet(inp)},
            ts_cols={"clicks": "ts"},
            sink_fn=sink.foreach_batch(),
            trigger={"availableNow": True},
        )


def test_failed_start_leaves_no_query_running(spark, tmp_path):
    """An assembly-time SpecError (here a batch-only dataop on a stream)
    leaves nothing running: no DLQ query may start before the whole
    plan is built, or it keeps running with its checkpoint held."""
    from clickhouse_etl_spark.spec.model import SpecError

    doc = {
        "version": "v3",
        "pipeline_id": "orphan",
        "name": "orphan-dlq",
        "sources": [
            {"type": "kafka", "source_id": "s", "topic": "s",
             "schema_fields": [{"name": "id", "type": "string"}, {"name": "text", "type": "string"}]},
        ],
        "transforms": [{"type": "dataop", "source_id": "s", "config": {"op": "exact_dedup"}}],
        "sink": {"type": "clickhouse", "table": "out", "max_batch_size": 100,
                 "max_delay_time": "1s"},
    }
    spec = parse_pipeline_json(json.dumps(doc))
    raw_schema = T.StructType([T.StructField("value", T.StringType())])
    inp = _write_stream_input(
        spark, str(tmp_path), "in", [('{"id":"a","text":"x"}',), ('{broken',)], raw_schema
    )
    sink = ClickHouseSink(table="out", parquet_fallback_path=str(tmp_path / "sinkout"))
    pipe = StreamingPipeline(spec=spec, checkpoint_dir=str(tmp_path / "ckpt"))
    before = {q.id for q in spark.streams.active}
    try:
        with pytest.raises(SpecError, match="'exact_dedup' is batch-only"):
            pipe.start(
                spark,
                sources={"s": spark.readStream.schema(raw_schema).parquet(inp)},
                ts_cols={"s": "id"},
                sink_fn=sink.foreach_batch(),
                dlq_writer=DLQWriter(str(tmp_path / "dlq")),
            )
        assert {q.id for q in spark.streams.active} == before
    finally:
        for q in spark.streams.active:
            if q.id not in before:
                q.stop()


def test_sink_replay_idempotency(spark, tmp_path):
    """At-least-once + idempotent write: replaying the same epoch (same
    batch_id, same rows) leaves exactly one physical copy — the
    fallback-side equivalent of ReplacingMergeTree (SURVEY.md §7.5.4)."""
    sink = ClickHouseSink(table="t", parquet_fallback_path=str(tmp_path / "out"))
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    sink.write_batch(df, batch_id=3)
    sink.write_batch(df, batch_id=3)  # replayed epoch
    raw = spark.read.parquet(str(tmp_path / "out"))
    assert raw.count() == 2
    assert {(r["k"], r["v"], r["_batch_id"]) for r in raw.collect()} == {(1, "a", 3), (2, "b", 3)}


def test_metrics_listener_captures_progress(spark, tmp_path):
    from clickhouse_etl_spark.streaming.metrics import PipelineMetricsListener

    listener = PipelineMetricsListener()
    spark.streams.addListener(listener)
    try:
        schema = T.StructType([T.StructField("id", T.LongType())])
        inp = str(tmp_path / "in")
        spark.range(1000).write.mode("overwrite").parquet(inp)
        q = (
            spark.readStream.schema(schema).parquet(inp)
            .writeStream.format("noop")
            .queryName("metrics_probe")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        import time
        for _ in range(20):  # listener delivery is async
            snap = listener.snapshot("metrics_probe")
            if snap.get("metrics_probe", {}).get("total_input_rows", 0) >= 1000:
                break
            time.sleep(0.5)
        snap = listener.snapshot("metrics_probe")["metrics_probe"]
        assert snap["total_input_rows"] == 1000
        assert snap["batches"] >= 1
    finally:
        spark.streams.removeListener(listener)


def _otlp_rollup_stream_matches_batch(
    spark, tmp_path, modulus, window_duration, watermark, sentinel_after
):
    """Roll up the synthesized OTLP payloads of every ``event_id %
    modulus == 0`` event (all five datapoint families) as ONE streaming
    query and assert its closed windows equal the batch form of the
    same aggregation on the same payloads. Three files, one
    micro-batch each: the real payloads, a far-future sentinel whose
    event time pushes the watermark past every real window so append
    mode emits them all, then a late point inside an already-closed
    window, which the watermark must drop. Returns the batch truth
    keyed by (host, window_start_us, metric_type, bucket_idx)."""
    import time as _time

    from pyspark.sql import functions as F

    from clickhouse_etl_spark.queries import _otlp_metrics_payload
    from clickhouse_etl_spark.sources import load_table
    from clickhouse_etl_spark.sources.otlp import flatten_metrics
    from clickhouse_etl_spark.streaming.rollup import otlp_rollup_stream

    from tests.conftest import SF_DIR

    def keyed(rows):
        return {
            (r["host"], r["window_start_us"], r["metric_type"], r["bucket_idx"]):
            r.asDict()
            for r in rows
        }

    ev = load_table(spark, SF_DIR, "events").filter(F.col("event_id") % modulus == 0)
    payloads = ev.select(_otlp_metrics_payload().alias("value"))
    # batch truth: identical aggregation, batch execution (watermark no-ops)
    truth = keyed(
        otlp_rollup_stream(flatten_metrics(payloads), window_duration, watermark).collect()
    )
    assert {k[2] for k in truth} == {"gauge", "sum", "histogram", "exp_histogram", "summary"}

    src = str(tmp_path / f"otlp_stream_{modulus}")
    payloads.coalesce(1).write.mode("overwrite").parquet(src)
    min_ts, max_ts = ev.agg(F.min("ts"), F.max("ts")).first()
    late_host = min(truth)[0]
    for when, host in ((max_ts + sentinel_after, "__sentinel__"), (min_ts, late_host)):
        _time.sleep(1.1)  # file-mtime order drives parquet-source batching
        spark.createDataFrame(
            [(when, host, 1.0, 1)],
            "ts timestamp, event_type string, value double, user_id long",
        ).select(_otlp_metrics_payload().alias("value")).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = (
        spark.readStream.schema("value string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    name = f"otlp_rollup_out_{modulus}"
    q = (
        otlp_rollup_stream(flatten_metrics(stream), window_duration, watermark)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / f"ckpt_rollup_{modulus}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    # one stateful operator rolls up every family
    assert len(q.lastProgress["stateOperators"]) == 1
    assert sum(
        p["stateOperators"][0]["numRowsDroppedByWatermark"] for p in q.recentProgress
    ) > 0, "the late point was not dropped by the watermark"
    rows = [
        r for r in spark.sql(f"SELECT * FROM {name}").collect()
        if r["host"] != "__sentinel__"
    ]
    got = keyed(rows)
    # every row emitted once: the late point re-opened no closed window
    assert len(got) == len(rows)
    assert got == truth
    return truth


def test_streaming_otlp_metric_rollup(spark, tmp_path):
    """VERDICT r6 #7: the flatten -> 5-minute tumbling rollup of all
    five OTLP datapoint families runs as ONE stream (watermark + window
    agg under the state store) and its closed windows agree exactly
    with the batch form — the gauge rows included."""
    import datetime as _dt

    truth = _otlp_rollup_stream_matches_batch(
        spark, tmp_path, 37, "5 minutes", "10 minutes", _dt.timedelta(days=1)
    )
    gauge = [v for k, v in truth.items() if k[2] == "gauge"]
    assert gauge, "no gauge rollup rows in the batch truth"
    assert all(v["sum_cents"] is not None for v in gauge)


def test_streaming_otlp_sum_and_histogram_rollup(spark, tmp_path):
    """VERDICT r7 #6: the rollup extends past gauges — sum datapoints
    and the histogram family (count/sum/bucket_counts are associative)
    roll up in the same single stream, here at a 1-hour window, and
    every closed window equals the batch form: scalars at bucket_idx
    -1, per-bucket counts at bucket_idx >= 0."""
    import datetime as _dt

    truth = _otlp_rollup_stream_matches_batch(
        spark, tmp_path, 37, "1 hour", "2 hours", _dt.timedelta(days=1)
    )
    sums = [v for k, v in truth.items() if k[2] == "sum"]
    assert sums, "no sum rollup rows in the batch truth"
    assert all(v["sum_cents"] is not None for v in sums)
    hist = {k: v for k, v in truth.items() if k[2] == "histogram"}
    assert any(k[3] >= 0 for k in hist), "no bucket-grain rows"
    assert any(k[3] == -1 for k in hist), "no scalar-grain rows"
    # element-wise bucket addition: per window, the bucket counts add up
    # to the scalar row's total count (each synthetic point's do)
    for (host, w, _, idx), v in hist.items():
        if idx == -1:
            buckets = [
                b["bucket_n"] for kb, b in hist.items()
                if kb[:2] == (host, w) and kb[3] >= 0
            ]
            assert sum(buckets) == v["total_count"]


def test_streaming_otlp_exp_hist_and_summary_rollup(spark, tmp_path):
    """VERDICT r8 #3: at a 1-day window the same single stream equals
    the batch form for every family, including exponential-histogram
    scalars (the flattened record carries no bucket runs) and summary
    snapshots (cumulative temporality: the window merge is
    latest-snapshot via lexicographic struct max, not addition)."""
    import datetime as _dt

    truth = _otlp_rollup_stream_matches_batch(
        spark, tmp_path, 7, "1 day", "2 days", _dt.timedelta(days=30)
    )
    summary = [v for k, v in truth.items() if k[2] == "summary"]
    # the synthetic summary snapshot count is the constant 9 — the
    # latest-snapshot merge must surface it, not a sum of snapshots
    assert all(v["last_count"] == 9 for v in summary)
    # windows with >1 snapshot prove the merge is NOT addition
    assert any(v["n_points"] > 1 for v in summary)


def test_streaming_curation_chain_parity_with_batch(spark, tmp_path):
    """VERDICT r7 #2: the full production curation chain — normalize →
    bloom dedup_against → classify_against scoring → windowed rollup —
    runs as ONE StreamingQuery, and its closed windows equal the batch
    chain on the same corpus exactly (the plan is identical; the
    watermark no-ops in batch)."""
    import datetime as _dt
    import time as _time

    from pyspark.sql import functions as F

    from clickhouse_etl_spark.dataops.dedup import (
        write_bloom_table,
    )
    from clickhouse_etl_spark.dataops.util import release_artifact_cache
    from clickhouse_etl_spark.dataops.text import (
        normalize_text,
        write_classifier_table,
    )
    from clickhouse_etl_spark.sources import load_table
    from clickhouse_etl_spark.streaming.curation import curation_rollup_stream

    from tests.conftest import SF_DIR

    docs = (
        load_table(spark, SF_DIR, "documents")
        .select(
            "doc_id", "text",
            F.timestamp_seconds(1_700_000_000 + F.col("doc_id") * 13).alias("ts"),
        )
    )
    # cross-wave seen-set: the even half, keyed by CANONICAL text
    bloom = str(tmp_path / "curation_bloom")
    write_bloom_table(
        normalize_text(docs.filter("doc_id % 2 = 0")),
        bloom, capacity=1000, text_col="text_norm",
    )
    # persisted classifier trained on the canonical corpus
    weights = str(tmp_path / "curation_weights")
    write_classifier_table(normalize_text(docs), weights, text_col="text_norm")

    truth = {
        (r["window_start_us"], r["pred"]): (
            r["n_docs"], r["sum_tokens"], r["sum_score"],
        )
        for r in curation_rollup_stream(docs, bloom, weights).collect()
    }
    assert truth, "batch curation rollup is empty"
    assert len({k[0] for k in truth}) > 3, "need several windows"
    release_artifact_cache(bloom)

    # stream the same corpus + a far-future sentinel doc that survives
    # every row-local stage (fresh text, trained stopword buckets) so
    # the watermark closes all real windows
    src = str(tmp_path / "curation_src")
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    _time.sleep(1.1)
    max_ts = docs.agg(F.max("ts")).collect()[0][0]
    sentinel_ts = max_ts + _dt.timedelta(days=1)
    spark.createDataFrame(
        [(10**9, "the and is of to in completely fresh sentinel text", sentinel_ts)],
        "doc_id long, text string, ts timestamp",
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        curation_rollup_stream(stream, bloom, weights)
        .writeStream.format("memory")
        .queryName("curation_rollup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_curation"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    sentinel_us = int(sentinel_ts.timestamp()) * 1_000_000
    got = {
        (r["window_start_us"], r["pred"]): (
            r["n_docs"], r["sum_tokens"], r["sum_score"],
        )
        for r in spark.sql("SELECT * FROM curation_rollup_out").collect()
        if r["window_start_us"] < sentinel_us - 600_000_000
    }
    assert got == truth
    release_artifact_cache(bloom)


def test_sum_rollup_int_cents_exact_past_2e53(spark):
    """Review r8: sum datapoints carrying asInt must produce exact
    integer cents (value_int*100 in integer arithmetic — a double
    round-trip corrupts cents past 2^53), and the gauge family keeps
    the oracle-backed batch entry's contract (value_double ONLY; an
    int-valued gauge contributes a null-cents point, never a coerced
    value)."""
    from clickhouse_etl_spark.streaming.rollup import otlp_rollup_stream

    big = 9007199254740993  # 2^53 + 1
    point = ({"host": "h"}, "2024-01-01 00:00:00", None, big, None, None, None, None, None)
    flat = spark.createDataFrame(
        [("sum", *point), ("gauge", *point)],
        "metric_type string, resource_attributes map<string,string>, "
        "timestamp string, value_double double, value_int long, count long, "
        "sum double, min double, max double, bucket_counts array<bigint>",
    )
    rows = otlp_rollup_stream(flat).collect()
    s = [r for r in rows if r["metric_type"] == "sum"]
    assert len(s) == 1
    assert s[0]["sum_cents"] == big * 100  # exact, past the double range
    g = [r for r in rows if r["metric_type"] == "gauge"]
    assert len(g) == 1
    assert g[0]["n_points"] == 1 and g[0]["sum_cents"] is None


def test_curation_stream_to_idempotent_sink_with_replay(spark, tmp_path):
    """The flagship deployment end to end THROUGH the sink contract:
    curation rollup -> ClickHouseSink.foreach_batch with _batch_id
    idempotency stamping. A checkpoint-resumed replay of the same
    source must not duplicate sink rows per (batch, key) — the
    reference's commit-after-write guarantee (sink/clickhouse.go
    batch dedup) on the curation stream."""
    from pyspark.sql import functions as F

    from clickhouse_etl_spark.dataops.dedup import (
        write_bloom_table,
    )
    from clickhouse_etl_spark.dataops.util import release_artifact_cache
    from clickhouse_etl_spark.dataops.text import (
        normalize_text,
        write_classifier_table,
    )
    from clickhouse_etl_spark.sinks import ClickHouseSink
    from clickhouse_etl_spark.sources import load_table
    from clickhouse_etl_spark.streaming.curation import curation_rollup_stream

    from tests.conftest import SF_DIR

    docs = (
        load_table(spark, SF_DIR, "documents")
        .select(
            "doc_id", "text",
            F.timestamp_seconds(1_700_000_000 + F.col("doc_id") * 13).alias("ts"),
        )
    )
    bloom = str(tmp_path / "sink_bloom")
    write_bloom_table(
        normalize_text(docs.filter("doc_id % 2 = 0")),
        bloom, capacity=1000, text_col="text_norm",
    )
    weights = str(tmp_path / "sink_weights")
    write_classifier_table(normalize_text(docs), weights, text_col="text_norm")

    src = str(tmp_path / "sink_src")
    docs.coalesce(2).write.parquet(src)
    out_dir = str(tmp_path / "sink_out")
    ckpt = str(tmp_path / "sink_ckpt")

    def run_once():
        stream = (
            spark.readStream.schema("doc_id long, text string, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        sink = ClickHouseSink(table="curation_rollup", parquet_fallback_path=out_dir)
        q = (
            curation_rollup_stream(stream, bloom, weights)
            .writeStream.foreachBatch(sink.foreach_batch())
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_once()
    first = spark.read.parquet(out_dir)
    n_first = first.count()
    # the corpus spans ~108 minutes of event time across two files, so
    # the second micro-batch's watermark closes most windows — rows
    # MUST land (idempotency on an empty sink would be vacuous); the
    # trailing windows legitimately stay open on a bounded run
    assert n_first > 0
    batches_first = {
        r["_batch_id"]
        for r in spark.read.option("basePath", out_dir).parquet(out_dir)
        .select(F.col("_batch_id")).distinct().collect()
    } if n_first else set()

    # replay from the SAME checkpoint: no new input -> no new batches,
    # no duplicated rows
    run_once()
    again = spark.read.parquet(out_dir)
    assert again.count() == n_first
    if n_first:
        batches_again = {
            r["_batch_id"]
            for r in spark.read.option("basePath", out_dir).parquet(out_dir)
            .select(F.col("_batch_id")).distinct().collect()
        }
        assert batches_again == batches_first
    release_artifact_cache(bloom)


def test_pq_index_online_serving_parity(spark, tmp_path):
    """Online ANN serving (pq_index_serve_foreach_batch): a STREAM of
    query vectors answered per micro-batch against the persisted index
    must reproduce the batch pq_index_query answers exactly, and the
    loaded-index cache must serve every batch from one artifact load
    (invalidating only when the artifact is rebuilt)."""
    from pyspark.sql import functions as F

    from clickhouse_etl_spark.dataops import similarity as sim
    from clickhouse_etl_spark.dataops.util import (
        _ARTIFACT_CACHE,
        release_artifact_cache,
    )
    from clickhouse_etl_spark.sources import load_table

    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "serve_index")
    sim.pq_index_build(emb, path)

    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    truth = sorted(
        tuple(r) for r in sim.pq_index_query(spark, path, queries).collect()
    )
    assert truth
    entry0 = _ARTIFACT_CACHE[("index", path)]

    src = str(tmp_path / "serve_queries")
    # two files -> two micro-batches
    queries.filter("query_id < 4").coalesce(1).write.mode("overwrite").parquet(src)
    queries.filter("query_id >= 4").coalesce(1).write.mode("append").parquet(src)

    got = []
    q = (
        spark.readStream.schema(queries.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(
            sim.pq_index_serve_foreach_batch(
                spark, path,
                lambda ans, bid: got.extend(tuple(r) for r in ans.collect()),
            )
        )
        .option("checkpointLocation", str(tmp_path / "serve_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert sorted(got) == truth
    # every batch served from the ONE cached artifact load
    assert _ARTIFACT_CACHE[("index", path)] is entry0
    # rebuild rotates the cache (new artifact listing)
    sim.pq_index_build(emb.filter("vec_id % 2 = 0"), path)
    sim.pq_index_query(spark, path, queries.limit(1))
    assert _ARTIFACT_CACHE[("index", path)] is not entry0
    assert release_artifact_cache(path) == 1
    assert release_artifact_cache(path) == 0


def test_line_dedup_against_stream_parity_and_wave_lifecycle(spark, tmp_path):
    """VERDICT r9 #3: streaming line-grain dedup. Wave 1's corpus ->
    write_line_digest_table; wave 2 streams through the spec chain with
    the line_dedup_against dataop mid-chain (two parquet files -> two
    micro-batches, append mode) and lands EXACTLY the batch probe's
    rows — seen lines dropped, text reassembled, fully-seen docs gone.
    Then the multi-wave step: append wave 2's digests and probe a
    wave-3 doc against the accumulated set."""
    from clickhouse_etl_spark.dataops.dedup import (
        line_dedup_against_path,
        write_line_digest_table,
    )
    from clickhouse_etl_spark.dataops.util import release_artifact_cache
    from clickhouse_etl_spark.plans import source_chain
    from clickhouse_etl_spark.spec.model import DataopConfig, SourceConfig

    wave1 = spark.createDataFrame(
        [
            (0, "cookie banner line.\nalpha unique one."),
            (1, "nav bar line.\ncookie banner line."),
        ],
        "doc_id long, text string",
    )
    seen = str(tmp_path / "seen_lines")
    write_line_digest_table(wave1, seen, mode="overwrite")

    wave2 = spark.createDataFrame(
        [
            (10, "cookie banner line.\nwave two fresh line.", ),
            (11, "nav bar line."),
            (12, "brand new only.\ncookie banner line.\nsecond new."),
        ],
        "doc_id long, text string",
    )
    truth = {
        (r["doc_id"], r["text"], r["n_lines_kept"])
        for r in line_dedup_against_path(wave2, seen).collect()
    }
    assert truth, "batch probe is empty"

    import pyspark.sql.types as T

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    import datetime as dt

    ts = dt.datetime(2024, 1, 1, 10)
    src = str(tmp_path / "wave2_src")
    w2rows = wave2.collect()
    spark.createDataFrame(
        [(r["doc_id"], r["text"], ts) for r in w2rows[:2]], schema
    ).coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(
        [(r["doc_id"], r["text"], ts) for r in w2rows[2:]], schema
    ).coalesce(1).write.mode("append").parquet(src)

    cfg = SourceConfig(
        source_id="documents",
        dataops=(
            DataopConfig(op="line_dedup_against", params={"seen_path": seen}),
        ),
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        source_chain(cfg, "ts")(stream)
        .writeStream.format("memory")
        .queryName("line_dedup_stream_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ld_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["doc_id"], r["text"], r["n_lines_kept"])
        for r in spark.sql("SELECT * FROM line_dedup_stream_out").collect()
    }
    assert got == truth

    # wave N survivors feed wave N+1: append wave-2 digests, then a
    # wave-3 doc made entirely of wave-1 + wave-2 lines vanishes while
    # its genuinely new line survives
    write_line_digest_table(wave2, seen, mode="append")
    wave3 = spark.createDataFrame(
        [
            (20, "wave two fresh line.\ncookie banner line."),
            (21, "wave two fresh line.\nthird wave only line."),
        ],
        "doc_id long, text string",
    )
    out3 = {
        r["doc_id"]: r["text"]
        for r in line_dedup_against_path(wave3, seen).collect()
    }
    assert out3 == {21: "third wave only line."}
    release_artifact_cache()

def test_decontaminate_against_stream_parity(spark, tmp_path):
    """Streaming decontamination: a training stream probes the
    persisted eval-set n-gram artifact mid-chain (two parquet files ->
    two micro-batches, append mode, drop action) and lands EXACTLY the
    batch probe's surviving rows — the dedup_against deployment shape
    at n-gram grain."""
    from clickhouse_etl_spark.dataops.dedup import (
        decontaminate_against_path,
        write_ngram_digest_table,
    )
    from clickhouse_etl_spark.dataops.util import release_artifact_cache
    from clickhouse_etl_spark.plans import source_chain
    from clickhouse_etl_spark.spec.model import DataopConfig, SourceConfig

    bench = spark.createDataFrame(
        [
            (0, "held out benchmark question one"),
            (1, "held out benchmark question two"),
        ],
        "bench_id long, text string",
    )
    seen = str(tmp_path / "eval_ngrams")
    write_ngram_digest_table(bench, seen, n=4, mode="overwrite")

    train = spark.createDataFrame(
        [
            (10, "copied the held out benchmark question one verbatim"),
            (11, "a fresh training document about nothing"),
            (12, "another clean one entirely"),
            (13, "Held OUT: benchmark; question two!"),  # case/punct fold
        ],
        "doc_id long, text string",
    )
    truth = {
        (r["doc_id"], r["text"])
        for r in decontaminate_against_path(train, seen, n=4).collect()
    }
    assert truth == {
        (11, "a fresh training document about nothing"),
        (12, "another clean one entirely"),
    }

    import datetime as dt

    import pyspark.sql.types as T

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    ts = dt.datetime(2024, 1, 1, 10)
    src = str(tmp_path / "train_src")
    rows = train.collect()
    spark.createDataFrame(
        [(r["doc_id"], r["text"], ts) for r in rows[:2]], schema
    ).coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(
        [(r["doc_id"], r["text"], ts) for r in rows[2:]], schema
    ).coalesce(1).write.mode("append").parquet(src)

    cfg = SourceConfig(
        source_id="documents",
        dataops=(DataopConfig(
            op="decontaminate_against", params={"seen_path": seen, "n": 4}
        ),),
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        source_chain(cfg, "ts")(stream)
        .writeStream.format("memory")
        .queryName("decontam_stream_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dc_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["doc_id"], r["text"])
        for r in spark.sql("SELECT * FROM decontam_stream_out").collect()
    }
    assert got == truth
    release_artifact_cache()


def test_neardup_against_stream_parity(spark, tmp_path):
    """Streaming near-dup removal: a training stream probes the
    persisted band artifact mid-chain (two parquet files -> two
    micro-batches, append mode, drop action) and lands EXACTLY the
    batch probe's surviving rows — the dedup_against deployment shape
    at near-dup grain."""
    from clickhouse_etl_spark.dataops.dedup import (
        neardup_against_path,
        write_band_digest_table,
    )
    from clickhouse_etl_spark.dataops.util import release_artifact_cache
    from clickhouse_etl_spark.plans import source_chain
    from clickhouse_etl_spark.spec.model import DataopConfig, SourceConfig

    wave1 = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "pack my box with five dozen liquor jugs today"),
        ],
        "wave_id long, text string",
    )
    seen = str(tmp_path / "band_seen")
    write_band_digest_table(wave1, seen, mode="overwrite")

    train = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog"),
            (11, "a fresh training document about nothing at all"),
            (12, "prefix pack my box with five dozen liquor jugs today"),
            (13, "another clean one entirely unrelated to anything"),
        ],
        "doc_id long, text string",
    )
    truth = {
        (r["doc_id"], r["text"])
        for r in neardup_against_path(train, seen).collect()
    }
    assert (11, "a fresh training document about nothing at all") in truth
    assert not any(d == 10 for d, _ in truth)  # exact copy always drops

    import datetime as dt

    import pyspark.sql.types as T

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    ts = dt.datetime(2024, 1, 1, 10)
    src = str(tmp_path / "train_src")
    rows = train.collect()
    spark.createDataFrame(
        [(r["doc_id"], r["text"], ts) for r in rows[:2]], schema
    ).coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(
        [(r["doc_id"], r["text"], ts) for r in rows[2:]], schema
    ).coalesce(1).write.mode("append").parquet(src)

    cfg = SourceConfig(
        source_id="documents",
        dataops=(DataopConfig(
            op="neardup_against", params={"seen_path": seen}
        ),),
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        source_chain(cfg, "ts")(stream)
        .writeStream.format("memory")
        .queryName("neardup_stream_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "nd_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["doc_id"], r["text"])
        for r in spark.sql("SELECT * FROM neardup_stream_out").collect()
    }
    assert got == truth
    release_artifact_cache()
