"""End-to-end pipeline compile + batch run from a v3 JSON document.

Models the reference's documented canonical pipeline (FIXTURES.md F3 /
docs/app/configuration/pipeline-config-reference/page.mdx:204-292):
orders deduped on order_id, joined with users on user_id, mapped sink
with a rename + DateTime cast.
"""

import datetime as dt
import json

import pytest

from clickhouse_etl_spark.plans import build_pipeline
from clickhouse_etl_spark.spec import parse_pipeline_json

V3_DOC = {
    "version": "v3",
    "pipeline_id": "p1",
    "name": "orders-users",
    "sources": [
        {
            "type": "kafka",
            "source_id": "orders",
            "topic": "orders",
            "schema_fields": [
                {"name": "order_id", "type": "string"},
                {"name": "user_id", "type": "string"},
                {"name": "amount", "type": "float"},
                {"name": "timestamp", "type": "string"},
            ],
        },
        {
            "type": "kafka",
            "source_id": "users",
            "topic": "users",
            "schema_fields": [
                {"name": "user_id", "type": "string"},
                {"name": "email", "type": "string"},
            ],
        },
    ],
    "transforms": [
        {"type": "filter", "source_id": "orders", "config": {"expression": "amount > 10"}},
        {"type": "dedup", "source_id": "orders", "config": {"key": "order_id", "time_window": "1h"}},
    ],
    "join": {
        "enabled": True,
        "type": "temporal",
        "left_source": {"source_id": "orders", "key": "user_id", "time_window": "1h"},
        "right_source": {"source_id": "users", "key": "user_id", "time_window": "1h"},
        "output_fields": [
            {"source_id": "orders", "name": "order_id"},
            {"source_id": "orders", "name": "amount"},
            {"source_id": "orders", "name": "timestamp", "output_name": "created_at"},
            {"source_id": "users", "name": "email"},
        ],
    },
    "sink": {
        "type": "clickhouse",
        "table": "orders_enriched",
        "max_batch_size": 1000,
        "max_delay_time": "60s",
        "mapping": [
            {"name": "order_id", "column_name": "order_id", "column_type": "String"},
            {"name": "amount", "column_name": "amount", "column_type": "Float64"},
            {"name": "created_at", "column_name": "created_at", "column_type": "DateTime"},
            {"name": "email", "column_name": "email", "column_type": "String"},
        ],
    },
}


def test_parse_and_run(spark):
    spec = parse_pipeline_json(json.dumps(V3_DOC))
    assert spec.source("orders").filter.expression == "amount > 10"
    assert spec.source("orders").dedup.time_window_s == 3600.0
    assert spec.join.left.key == "user_id"
    assert spec.sink.max_batch_size == 1000

    orders = spark.createDataFrame(
        [
            ("o1", "u1", 50.0, "2024-01-01T10:00:00Z", 1),
            ("o1", "u1", 50.0, "2024-01-01T10:00:01Z", 2),   # dup order_id
            ("o2", "u2", 5.0, "2024-01-01T10:02:00Z", 3),    # filtered out
            ("o3", "u9", 70.0, "2024-01-01T10:03:00Z", 4),   # no matching user
        ],
        ["order_id", "user_id", "amount", "timestamp", "seq"],
    )
    users = spark.createDataFrame(
        [("u1", "a@x.com", dt.datetime(2024, 1, 1, 9)),
         ("u1", "b@x.com", dt.datetime(2024, 1, 1, 9, 30)),  # latest wins
         ("u2", "c@x.com", dt.datetime(2024, 1, 1, 9))],
        ["user_id", "email", "uts"],
    )

    out = build_pipeline(
        spec,
        {"orders": orders, "users": users},
        ts_cols={"users": "uts"},
        order_cols={"orders": ["seq"]},
    )
    rows = out.collect()
    assert out.columns == ["order_id", "amount", "created_at", "email"]
    assert len(rows) == 1
    r = rows[0]
    assert r["order_id"] == "o1"
    assert r["email"] == "b@x.com"
    assert r["created_at"] == dt.datetime(2024, 1, 1, 10)


def test_two_sources_without_join_rejected_at_parse_time():
    """Without a join, a second source has no path to the sink: a stream
    used to drop its rows silently. One source per sink path."""
    from clickhouse_etl_spark.spec.model import SpecError

    for join in ({"enabled": False}, None):
        doc = dict(V3_DOC, join=join)
        with pytest.raises(SpecError, match="without a join takes exactly 1 source, got 2"):
            parse_pipeline_json(json.dumps(doc))


def test_build_pipeline_batch_stream_parity(spark, tmp_path):
    """One assembler, two drivers: the same spec (filter, windowed
    dedup, stateless transform, sink mapping) through build_pipeline on
    a batch frame and on the same rows as an availableNow stream gives
    the same rows. Each key's duplicates sit inside one 1h window and
    the keys spread over distinct windows, so the batch bucket dedup
    and the watermark dedup both keep the earliest row per key."""
    from pyspark.sql import types as T

    doc = {
        "version": "v3", "pipeline_id": "parity", "name": "parity",
        "sources": [{"type": "kafka", "source_id": "ev", "topic": "ev"}],
        "transforms": [
            {"type": "filter", "source_id": "ev", "config": {"expression": "amount > 1"}},
            {"type": "dedup", "source_id": "ev", "config": {"key": "id", "time_window": "1h"}},
            {"type": "stateless", "source_id": "ev", "config": {"transforms": [
                {"expression": "id", "output_name": "id", "output_type": "string"},
                {"expression": "upper(name)", "output_name": "name", "output_type": "string"},
                {"expression": "amount * 2", "output_name": "amt2", "output_type": "float64"},
            ]}},
        ],
        "sink": {
            "type": "clickhouse", "table": "out", "max_batch_size": 100, "max_delay_time": "1s",
            "mapping": [
                {"name": "id", "column_name": "id", "column_type": "String"},
                {"name": "name", "column_name": "name", "column_type": "String"},
                {"name": "amt2", "column_name": "total", "column_type": "Float64"},
            ],
        },
    }
    spec = parse_pipeline_json(json.dumps(doc))
    schema = T.StructType([
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("ts", T.TimestampType()),
    ])
    base = dt.datetime(2024, 1, 1, 10)
    rows = [
        ("a", "x", 5.0, base),
        ("b", "z", 0.5, base + dt.timedelta(minutes=1)),             # filtered
        ("b", "w", 3.0, base + dt.timedelta(minutes=2)),
        ("a", "y", 7.0, base + dt.timedelta(minutes=10)),            # duplicate
        ("c", "v", 4.0, base + dt.timedelta(hours=1, minutes=5)),
        ("c", "u", 9.0, base + dt.timedelta(hours=1, minutes=20)),   # duplicate
    ]
    inp = str(tmp_path / "in")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(inp)

    got = []
    q = (
        build_pipeline(spec, {"ev": spark.readStream.schema(schema).parquet(inp)}, {"ev": "ts"})
        .writeStream.foreachBatch(lambda df, _bid: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    batch = build_pipeline(spec, {"ev": spark.createDataFrame(rows, schema)}, {"ev": "ts"})
    expected = [("a", "X", 10.0), ("b", "W", 6.0), ("c", "V", 8.0)]
    assert batch.columns == ["id", "name", "total"]
    assert sorted(map(tuple, batch.collect())) == expected
    assert sorted(map(tuple, got)) == expected


def test_stream_dedup_watermark_keeps_sub_second_windows(spark, tmp_path):
    """A "500ms" dedup window is a 500 ms watermark, not int(0.5) = 0 s.
    Micro-batch 1 ends at 10.0 s, so the watermark is 9.5 s. Micro-batch
    3 filters late rows against it: the 9.7 s row is on time (a 0 s
    watermark drops it as late), the 9.4 s row is late either way."""
    from pyspark.sql import types as T

    doc = {
        "version": "v3", "pipeline_id": "wm", "name": "wm",
        "sources": [{"type": "kafka", "source_id": "ev", "topic": "ev"}],
        "transforms": [
            {"type": "dedup", "source_id": "ev", "config": {"key": "id", "time_window": "500ms"}},
        ],
        "sink": {"type": "clickhouse", "table": "out", "max_batch_size": 100,
                 "max_delay_time": "1s"},
    }
    schema = T.StructType([T.StructField("id", T.StringType()),
                           T.StructField("ts", T.TimestampType())])
    base = dt.datetime(2024, 1, 1, 10)
    inp = str(tmp_path / "in")
    sec = lambda s: base + dt.timedelta(seconds=s)  # noqa: E731
    for rows in ([("a", sec(0)), ("x", sec(10))],
                 [("y", sec(10))],
                 [("b", sec(9.7)), ("c", sec(9.4))]):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(inp)
    got = []
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(inp)
    q = (
        build_pipeline(parse_pipeline_json(json.dumps(doc)), {"ev": stream}, {"ev": "ts"})
        .writeStream.foreachBatch(lambda df, _bid: got.extend(r.id for r in df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(got) == ["a", "b", "x", "y"]


def test_dedup_batch_and_stream_diverge_on_bucket_edges_and_backlogs(spark, tmp_path):
    """Pins the two known dedup divergences (README "Semantics notes"):
    batch dedups per tumbling 1h bucket, so row 2, two minutes after
    row 1 but across the 01:00 edge, is kept; the stream dedups on the
    key alone inside a micro-batch, so row 6, 2.5 h after its key's
    first row, is dropped when it arrives in the same backlog."""
    from pyspark.sql import types as T

    doc = {
        "version": "v3", "pipeline_id": "dd", "name": "dd",
        "sources": [{"type": "kafka", "source_id": "ev", "topic": "ev"}],
        "transforms": [
            {"type": "dedup", "source_id": "ev", "config": {"key": "id", "time_window": "1h"}},
        ],
        "sink": {"type": "clickhouse", "table": "out", "max_batch_size": 100,
                 "max_delay_time": "1s"},
    }
    spec = parse_pipeline_json(json.dumps(doc))
    schema = T.StructType([T.StructField("n", T.IntegerType()),
                           T.StructField("id", T.StringType()),
                           T.StructField("ts", T.TimestampType())])
    at = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    rows = [(1, "a", at(0, 59)), (2, "a", at(1, 1)),
            (3, "b", at(1, 0)), (4, "b", at(1, 59)),
            (5, "c", at(0, 0)), (6, "c", at(2, 30))]
    inp = str(tmp_path / "in")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(inp)

    batch = build_pipeline(spec, {"ev": spark.createDataFrame(rows, schema)}, {"ev": "ts"})
    assert sorted(r.n for r in batch.collect()) == [1, 2, 3, 5, 6]

    got = []
    q = (
        build_pipeline(spec, {"ev": spark.readStream.schema(schema).parquet(inp)}, {"ev": "ts"})
        .writeStream.foreachBatch(lambda df, _bid: got.extend(r.n for r in df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(got) == [1, 3, 5]


def test_dataop_transforms_in_spec(spark):
    """Beyond-reference spec extension: training-data ops declared as
    v3 `dataop` transforms run on the assembled chain after the fixed
    filter→dedup→transform order, in declared order."""
    from clickhouse_etl_spark.plans import build_pipeline
    from clickhouse_etl_spark.sources import load_table
    from clickhouse_etl_spark.spec import parse_pipeline_json

    doc = {
        "version": "v3",
        "pipeline_id": "curation",
        "name": "doc-curation",
        "sources": [{
            "type": "kafka", "source_id": "documents", "topic": "documents",
            "schema_fields": [
                {"name": "doc_id", "type": "int64"},
                {"name": "text", "type": "string"},
                {"name": "source", "type": "string"},
            ],
        }],
        "transforms": [
            {"type": "filter", "source_id": "documents",
             "config": {"expression": "text != ''"}},
            {"type": "dataop", "source_id": "documents",
             "config": {"op": "exact_dedup"}},
            {"type": "dataop", "source_id": "documents",
             "config": {"op": "quality_score"}},
            {"type": "dataop", "source_id": "documents",
             "config": {"op": "token_stats"}},
        ],
        "sink": {"type": "clickhouse", "table": "curated", "table_mapping": [
            {"source_id": "documents", "field_name": "doc_id",
             "column_name": "doc_id", "column_type": "Int64"},
            {"source_id": "documents", "field_name": "quality_score",
             "column_name": "quality", "column_type": "Float64"},
            {"source_id": "documents", "field_name": "n_tokens",
             "column_name": "n_tokens", "column_type": "Int64"},
        ]},
    }
    spec = parse_pipeline_json(doc)
    assert [d.op for d in spec.source("documents").dataops] == [
        "exact_dedup", "quality_score", "token_stats"
    ]
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = build_pipeline(spec, {"documents": docs})
    assert out.columns == ["doc_id", "quality", "n_tokens"]
    n = out.count()
    assert 0 < n <= docs.count()
    assert out.filter("n_tokens > 0").count() == n

    # unknown op fails at PARSE time with a named error (not first run)
    bad = dict(doc)
    bad["transforms"] = [{"type": "dataop", "source_id": "documents",
                          "config": {"op": "nope"}}]
    import pytest as _pytest

    from clickhouse_etl_spark.spec.model import SpecError
    with _pytest.raises(SpecError, match="unknown dataop"):
        parse_pipeline_json(bad)


def test_streaming_chain_applies_stream_safe_dataops(spark, tmp_path):
    """ADVICE r3: spec-declared dataops must not silently vanish in a
    streaming deployment — the stream-safe subset applies in
    source_chain; batch-only ops raise SpecError at assembly
    time (plan construction, no query started)."""
    import pytest as _pytest

    from pyspark.sql import types as T

    from clickhouse_etl_spark.spec.model import (
        DataopConfig,
        SourceConfig,
        SpecError,
    )
    from clickhouse_etl_spark.plans import source_chain

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    src_dir = str(tmp_path / "docs_in")
    spark.createDataFrame(
        [(1, "hello world example", dt.datetime(2024, 1, 1, 10))], schema
    ).write.parquet(src_dir)
    stream = spark.readStream.schema(schema).parquet(src_dir)

    safe = SourceConfig(
        source_id="documents",
        dataops=(DataopConfig(op="token_stats"), DataopConfig(op="quality_score")),
    )
    out = source_chain(safe, "ts")(stream)
    assert out.isStreaming
    assert "n_tokens" in out.columns and "quality" in out.columns

    # upsample_mixture is a row-local hash-gated explode — stream-safe
    ups = SourceConfig(
        source_id="documents", dataops=(DataopConfig(op="upsample_mixture",
                                                     params={"source_col": "text"}),)
    )
    out2 = source_chain(ups, "ts")(stream)
    assert out2.isStreaming and "copy_idx" in out2.columns

    unsafe = SourceConfig(
        source_id="documents", dataops=(DataopConfig(op="exact_dedup"),)
    )
    with _pytest.raises(SpecError, match="batch-only"):
        source_chain(unsafe, "ts")(stream)


def test_r4_dataops_on_spec_surface(spark, tmp_path):
    """The r4 corpus-global ops are declarable as v3 dataop transforms
    (batch chain) and correctly rejected by the streaming chain."""
    from pyspark.sql import types as T

    from clickhouse_etl_spark.plans.compiler import (
        DATAOPS,
        STREAM_SAFE_DATAOPS,
        resolve_dataop,
    )
    from clickhouse_etl_spark.plans import source_chain
    from clickhouse_etl_spark.spec.model import DataopConfig, SourceConfig, SpecError

    new_ops = {"span_dedup", "rare_token_ratio", "balanced_sample"}
    assert new_ops <= DATAOPS and not (new_ops & STREAM_SAFE_DATAOPS)

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma")], ["doc_id", "text"]
    )
    assert resolve_dataop("span_dedup")(docs, span_tokens=2).count() == 2
    assert resolve_dataop("rare_token_ratio")(docs, k_rare=1).count() == 2

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    src = tmp_path / "never_started"
    src.mkdir()
    stream = spark.readStream.schema(schema).parquet(str(src))
    for op in sorted(new_ops):
        cfg = SourceConfig(source_id="documents", dataops=(DataopConfig(op=op),))
        with pytest.raises(SpecError, match="batch-only"):
            source_chain(cfg, "ts")(stream)


def test_dedup_against_streaming_parity_with_batch(spark, tmp_path):
    """VERDICT r4 #7: dedup_against on the streaming chain — a stream-
    static LEFT ANTI join against the persisted digest set — keeps
    exactly the rows the batch op keeps (wave has no within-wave dups,
    so the batch op's within-batch half is a no-op and the comparison
    is exact)."""
    from pyspark.sql import types as T

    from clickhouse_etl_spark.dataops.dedup import dedup_against_path
    from clickhouse_etl_spark.plans import source_chain
    from clickhouse_etl_spark.plans.compiler import STREAM_SAFE_DATAOPS
    from clickhouse_etl_spark.spec.model import DataopConfig, SourceConfig

    assert "dedup_against" in STREAM_SAFE_DATAOPS

    seen_dir = str(tmp_path / "seen")
    wave_dir = str(tmp_path / "wave")
    spark.createDataFrame(
        [(100, "already ingested one"), (101, "already ingested two")],
        ["doc_id", "text"],
    ).write.parquet(seen_dir)
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    wave_rows = [
        (1, "already ingested one", dt.datetime(2024, 1, 1, 10)),   # cross-wave dup
        (2, "fresh document alpha", dt.datetime(2024, 1, 1, 10, 1)),
        (3, "already ingested two", dt.datetime(2024, 1, 1, 10, 2)),  # cross-wave dup
        (4, "fresh document beta", dt.datetime(2024, 1, 1, 10, 3)),
    ]
    spark.createDataFrame(wave_rows, schema).write.parquet(wave_dir)

    batch_ids = sorted(
        r["doc_id"]
        for r in dedup_against_path(spark.read.parquet(wave_dir), seen_dir).collect()
    )
    assert batch_ids == [2, 4]

    stream = spark.readStream.schema(schema).parquet(wave_dir)
    src = SourceConfig(
        source_id="documents",
        dataops=(DataopConfig(op="dedup_against", params={"seen_path": seen_dir}),),
    )
    out = source_chain(src, "ts")(stream)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_against_parity")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_ids = sorted(
        r["doc_id"] for r in spark.sql("SELECT * FROM dedup_against_parity").collect()
    )
    assert stream_ids == batch_ids


def test_dedup_against_requires_seen_path_at_parse_time(spark):
    """A spec declaring dedup_against without seen_path fails at PARSE
    time with a named SpecError, not on the first chain run."""
    import pytest as _pytest

    from clickhouse_etl_spark.spec import parse_pipeline_json
    from clickhouse_etl_spark.spec.model import SpecError

    doc = {
        "version": "v3", "pipeline_id": "p", "name": "p",
        "sources": [{
            "type": "kafka", "source_id": "documents", "topic": "documents",
            "schema_fields": [{"name": "doc_id", "type": "int64"},
                               {"name": "text", "type": "string"}],
        }],
        "transforms": [{"type": "dataop", "source_id": "documents",
                        "config": {"op": "dedup_against"}}],
    }
    with _pytest.raises(SpecError, match="seen_path"):
        parse_pipeline_json(doc)


def test_write_digest_table_feeds_dedup_against(spark, tmp_path):
    """Waves ship digests, not text: a digest table written by wave 1
    (and appended by wave 2) drives dedup_against_path for wave 3."""
    from clickhouse_etl_spark.dataops.dedup import (
        dedup_against_path,
        write_digest_table,
    )

    digests = str(tmp_path / "digests")
    w1 = spark.createDataFrame([(1, "aa"), (2, "bb")], ["doc_id", "text"])
    w2 = spark.createDataFrame([(3, "cc"), (4, "bb")], ["doc_id", "text"])
    write_digest_table(w1, digests)
    write_digest_table(w2, digests)  # append; 'bb' overlap is harmless
    w3 = spark.createDataFrame(
        [(5, "aa"), (6, "cc"), (7, "new one")], ["doc_id", "text"]
    )
    kept = sorted(r["doc_id"] for r in dedup_against_path(w3, digests).collect())
    assert kept == [7]


def test_r6_dataops_on_spec_surface(spark, tmp_path):
    """r6 ops on the v3 dataop surface: normalize_text is row-local and
    stream-safe; hash_embedding is corpus-global and batch-only."""
    import datetime as dt

    import pytest as _pytest

    from pyspark.sql import types as T

    from clickhouse_etl_spark.plans.compiler import (
        DATAOPS,
        STREAM_SAFE_DATAOPS,
        resolve_dataop,
    )
    from clickhouse_etl_spark.plans import source_chain
    from clickhouse_etl_spark.spec.model import DataopConfig, SourceConfig, SpecError

    assert {"normalize_text", "hash_embedding"} <= DATAOPS
    assert "normalize_text" in STREAM_SAFE_DATAOPS
    assert "hash_embedding" not in STREAM_SAFE_DATAOPS

    docs = spark.createDataFrame(
        [(1, "Hello, WORLD!"), (2, "plain text here")], ["doc_id", "text"]
    )
    normed = resolve_dataop("normalize_text")(docs)
    assert {r["doc_id"]: r["text_norm"] for r in normed.collect()}[1] == "hello world"
    embedded = resolve_dataop("hash_embedding")(docs)
    assert len(embedded.collect()[0]["embedding"]) == 64

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    src_dir = str(tmp_path / "docs_norm_in")
    spark.createDataFrame(
        [(1, "Hello, WORLD!", dt.datetime(2024, 1, 1, 10))], schema
    ).write.parquet(src_dir)
    stream = spark.readStream.schema(schema).parquet(src_dir)
    safe = SourceConfig(
        source_id="documents", dataops=(DataopConfig(op="normalize_text"),)
    )
    out = source_chain(safe, "ts")(stream)
    assert out.isStreaming and "text_norm" in out.columns
    unsafe = SourceConfig(
        source_id="documents", dataops=(DataopConfig(op="hash_embedding"),)
    )
    with _pytest.raises(SpecError, match="batch-only"):
        source_chain(unsafe, "ts")(stream)


def test_r7_dataops_on_spec_surface(spark, tmp_path):
    """Late-r7 ops as declarable dataops: trained_classifier and
    cluster_sample work on the raw documents stream with no params
    (self-supervised label/split derivation; hash-embed-then-cluster),
    and both are batch-only (corpus-global weights / centroid
    assignment) — the streaming chain rejects them at assembly time."""
    import datetime as dt

    import pytest as _pytest
    from pyspark.sql import types as T

    from clickhouse_etl_spark.plans.compiler import (
        DATAOPS,
        STREAM_SAFE_DATAOPS,
        resolve_dataop,
    )
    from clickhouse_etl_spark.plans import source_chain
    from clickhouse_etl_spark.spec.model import DataopConfig, SourceConfig, SpecError

    assert {"trained_classifier", "cluster_sample"} <= DATAOPS
    assert not ({"trained_classifier", "cluster_sample"} & STREAM_SAFE_DATAOPS)

    docs = spark.createDataFrame(
        [(i, "the a quick brown fox " * (1 + i % 3)) for i in range(20)],
        ["doc_id", "text"],
    )
    clf = resolve_dataop("trained_classifier")(docs)
    rows = clf.collect()
    assert len(rows) == 20
    assert set(clf.columns) == {"doc_id", "is_train", "label", "score", "pred"}
    sampled = resolve_dataop("cluster_sample")(docs, cap=5, n_centroids=4)
    srows = sampled.collect()
    assert 0 < len(srows) <= 20
    assert {"cell", "n_total", "sample_rank", "text"} <= set(sampled.columns)
    per_cell = {}
    for r in srows:
        per_cell.setdefault(r["cell"], 0)
        per_cell[r["cell"]] += 1
    assert all(v <= 5 for v in per_cell.values())

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    src_dir = str(tmp_path / "docs_clf_in")
    spark.createDataFrame(
        [(1, "some text", dt.datetime(2024, 1, 1, 10))], schema
    ).write.parquet(src_dir)
    stream = spark.readStream.schema(schema).parquet(src_dir)
    for op in ("trained_classifier", "cluster_sample"):
        cfg = SourceConfig(source_id="documents", dataops=(DataopConfig(op=op),))
        with _pytest.raises(SpecError, match="batch-only"):
            source_chain(cfg, "ts")(stream)


def test_classify_against_streaming_parity_with_batch(spark, tmp_path):
    """Train-offline/score-online: write_classifier_table persists the
    weight table + threshold; classify_against scores a STREAM against
    it per micro-batch (one row-local Arrow pass, no state) and must
    reproduce the batch classifier's scores and predictions exactly on
    the apply split — including dropping token-less docs and docs whose
    every bucket is unseen in training (the batch inner-join rule)."""
    from pyspark.sql import types as T

    from clickhouse_etl_spark.dataops.text import (
        classify_against_path,
        trained_quality_classifier,
        write_classifier_table,
    )
    from clickhouse_etl_spark.plans import source_chain
    from clickhouse_etl_spark.plans.compiler import STREAM_SAFE_DATAOPS
    from clickhouse_etl_spark.spec.model import DataopConfig, SourceConfig

    assert "classify_against" in STREAM_SAFE_DATAOPS

    corpus = spark.createDataFrame(
        [(i, "the a quick brown fox jumps " * (1 + i % 4)) for i in range(60)]
        + [(60, "he said the a the a"), (61, "brown fox brown fox brown")],
        ["doc_id", "text"],
    )
    weights_dir = str(tmp_path / "clf_model")
    write_classifier_table(corpus, weights_dir)

    # batch reference on a fresh wave (labels derive identically)
    wave = [
        (200, "the a quick brown fox", dt.datetime(2024, 1, 1, 10)),
        (201, "fox jumps he said", dt.datetime(2024, 1, 1, 10, 1)),
        (202, "", dt.datetime(2024, 1, 1, 10, 2)),           # token-less: drops
        (203, "the the the a a", dt.datetime(2024, 1, 1, 10, 3)),
    ]
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    wave_dir = str(tmp_path / "clf_wave")
    spark.createDataFrame(wave, schema).write.parquet(wave_dir)

    batch_scored = {
        r["doc_id"]: (r["score"], r["pred"])
        for r in classify_against_path(
            spark.read.parquet(wave_dir), weights_dir
        ).collect()
    }
    assert set(batch_scored) == {200, 201, 203}

    stream = spark.readStream.schema(schema).parquet(wave_dir)
    src = SourceConfig(
        source_id="documents",
        dataops=(
            DataopConfig(op="classify_against", params={"weights_path": weights_dir}),
        ),
    )
    out = source_chain(src, "ts")(stream)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("classify_against_parity")
        .option("checkpointLocation", str(tmp_path / "clf_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_scored = {
        r["doc_id"]: (r["score"], r["pred"])
        for r in spark.sql("SELECT * FROM classify_against_parity").collect()
    }
    assert stream_scored == batch_scored

    # and the stream scoring replays the full batch classifier's scores
    # for apply-split docs of the training corpus itself
    full = {
        r["doc_id"]: (r["score"], r["pred"])
        for r in trained_quality_classifier(corpus).collect()
        if r["is_train"] == 0
    }
    rescored = {
        r["doc_id"]: (r["score"], r["pred"])
        for r in classify_against_path(corpus, weights_dir).collect()
        if r["doc_id"] in full
    }
    assert rescored == full


def test_classify_against_requires_weights_path_at_parse_time(spark):
    import pytest as _pytest

    from clickhouse_etl_spark.spec import parse_pipeline_json
    from clickhouse_etl_spark.spec.model import SpecError

    doc = {
        "version": "v3", "pipeline_id": "p", "name": "p",
        "sources": [{
            "type": "kafka", "source_id": "documents", "topic": "documents",
            "schema_fields": [{"name": "doc_id", "type": "int64"},
                               {"name": "text", "type": "string"}],
        }],
        "transforms": [{"type": "dataop", "source_id": "documents",
                        "config": {"op": "classify_against"}}],
    }
    with _pytest.raises(SpecError, match="weights_path"):
        parse_pipeline_json(doc)


def test_dedup_against_bloom_on_streaming_chain(spark, tmp_path):
    """A bloom artifact behind the declarable dedup_against dataop
    (the tier is read from the artifact's columns): the probe is one
    row-local Arrow pass against the closure-shipped bitmap —
    stream-safe — and drops exactly the seen documents on this corpus
    (false positives are possible in general, not
    observed at this size; no false negatives by construction)."""
    from pyspark.sql import types as T

    from clickhouse_etl_spark.dataops.dedup import write_bloom_table
    from clickhouse_etl_spark.plans import source_chain
    from clickhouse_etl_spark.spec.model import DataopConfig, SourceConfig

    seen = spark.createDataFrame(
        [(100, "already ingested one"), (101, "already ingested two")],
        ["doc_id", "text"],
    )
    bloom_dir = str(tmp_path / "bloom_seen")
    write_bloom_table(seen, bloom_dir, capacity=100)

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    wave_dir = str(tmp_path / "bloom_wave")
    spark.createDataFrame(
        [
            (1, "already ingested one", dt.datetime(2024, 1, 1, 10)),
            (2, "fresh document alpha", dt.datetime(2024, 1, 1, 10, 1)),
            (3, "already ingested two", dt.datetime(2024, 1, 1, 10, 2)),
            (4, "fresh document beta", dt.datetime(2024, 1, 1, 10, 3)),
        ],
        schema,
    ).write.parquet(wave_dir)

    stream = spark.readStream.schema(schema).parquet(wave_dir)
    src = SourceConfig(
        source_id="documents",
        dataops=(
            DataopConfig(
                op="dedup_against",
                params={"seen_path": bloom_dir},
            ),
        ),
    )
    out = source_chain(src, "ts")(stream)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("bloom_dedup_parity")
        .option("checkpointLocation", str(tmp_path / "bloom_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    ids = sorted(
        r["doc_id"] for r in spark.sql("SELECT * FROM bloom_dedup_parity").collect()
    )
    assert ids == [2, 4]


def test_repetition_signals_streaming_chain_runs(spark, tmp_path):
    """repetition_signals has always been DECLARED stream-safe, but its
    old expression form carried a (doc, gram) aggregation that append
    mode would reject at runtime — the row-local Arrow engine makes
    the declaration true. Pin that the declared chain actually RUNS on
    a stream and emits the per-row signals."""
    from pyspark.sql import types as T

    from clickhouse_etl_spark.plans import source_chain
    from clickhouse_etl_spark.spec.model import DataopConfig, SourceConfig

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    src_dir = str(tmp_path / "rep_stream")
    spark.createDataFrame(
        [
            (1, "a b a b a b", dt.datetime(2024, 1, 1, 10)),
            (2, "all distinct words here", dt.datetime(2024, 1, 1, 10, 1)),
        ],
        schema,
    ).write.parquet(src_dir)
    stream = spark.readStream.schema(schema).parquet(src_dir)
    src = SourceConfig(
        source_id="documents",
        dataops=(DataopConfig(op="repetition_signals"),),
    )
    out = source_chain(src, "ts")(stream)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("rep_signals_stream")
        .option("checkpointLocation", str(tmp_path / "rep_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["doc_id"]: r for r in spark.sql("SELECT * FROM rep_signals_stream").collect()}
    assert rows[1]["top_bigram"] in ("a b", "b a") and rows[1]["dup_token_ratio"] > 0.5
    assert rows[2]["dup_token_ratio"] == 0.0


def test_streaming_curation_dataops_spec_chain(spark, tmp_path):
    """The full curation deployment declared through the SPEC surface
    (VERDICT r7 #2, public-API form): normalize_text →
    dedup_against(bloom artifact) → classify_against as v3 dataop
    transforms on a STREAMING source — the reference's fixed
    filter→dedup→transform order extended with the LLM ops. The stream
    output must equal the fused single-pass curation body on the same
    wave."""
    from pyspark.sql import types as T

    from clickhouse_etl_spark.dataops.dedup import (
        write_bloom_table,
    )
    from clickhouse_etl_spark.dataops.util import release_artifact_cache
    from clickhouse_etl_spark.dataops.text import (
        normalize_text,
        write_classifier_table,
    )
    from clickhouse_etl_spark.plans import source_chain
    from clickhouse_etl_spark.spec.model import DataopConfig, SourceConfig
    from clickhouse_etl_spark.streaming.curation import curation_scored_stream

    corpus = spark.createDataFrame(
        [(i, "the a quick brown fox jumps over " * (1 + i % 5)) for i in range(80)],
        ["doc_id", "text"],
    )
    bloom = str(tmp_path / "spec_bloom")
    write_bloom_table(
        normalize_text(corpus.filter("doc_id % 2 = 0")),
        bloom, capacity=500, text_col="text_norm",
    )
    weights = str(tmp_path / "spec_weights")
    write_classifier_table(normalize_text(corpus), weights, text_col="text_norm")

    wave = [
        (200, "The a quick BROWN fox!!", dt.datetime(2024, 1, 1, 10)),
        (201, "fox jumps over the a quick", dt.datetime(2024, 1, 1, 10, 1)),
        (202, None, dt.datetime(2024, 1, 1, 10, 2)),   # NULL: drops at classify
        (203, "the a quick brown fox jumps over ", dt.datetime(2024, 1, 1, 10, 3)),
    ]
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    wave_dir = str(tmp_path / "spec_wave")
    spark.createDataFrame(wave, schema).write.parquet(wave_dir)

    truth = sorted(
        tuple(r)
        for r in curation_scored_stream(
            spark.read.parquet(wave_dir), bloom, weights
        ).collect()
    )
    assert truth, "wave must have survivors"
    # doc 203 normalizes to a seen canonical text (doc 0's content with
    # punctuation/case noise) -> the bloom probe must drop it
    assert 203 not in {t[0] for t in truth}

    stream = spark.readStream.schema(schema).parquet(wave_dir)
    src = SourceConfig(
        source_id="documents",
        dataops=(
            DataopConfig(op="normalize_text"),
            DataopConfig(op="dedup_against", params={
                "seen_path": bloom, "text_col": "text_norm",
            }),
            DataopConfig(op="classify_against", params={
                "weights_path": weights, "text_col": "text_norm",
            }),
        ),
    )
    out = source_chain(src, "ts")(stream)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("curation_spec_chain")
        .option("checkpointLocation", str(tmp_path / "spec_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        tuple(r)
        for r in spark.sql("SELECT * FROM curation_spec_chain").collect()
    )
    assert got == truth
    release_artifact_cache(bloom)


@pytest.mark.heavy
def test_six_stage_curation_chain_from_one_pipeline_json(spark, tmp_path):
    """VERDICT r10 #6: the FULL six-stage curation deployment declared
    in ONE v3 pipeline JSON (the reference's config-in/plan-out
    thesis) — decontaminate → normalize → bloom dedup → near-dup probe
    → classifier → DSIR importance, each stage bound to its persisted
    artifact path — assembles into the one StreamingQuery and
    equality-pins against the staged composition of the stage dataops
    (reference_forms.curation_scored_staged) on the same wave."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from clickhouse_etl_spark.dataops.dedup import (
        write_band_digest_table,
        write_bloom_table,
        write_ngram_digest_table,
    )
    from clickhouse_etl_spark.dataops.util import release_artifact_cache
    from clickhouse_etl_spark.dataops.text import (
        normalize_text,
        write_classifier_table,
        write_importance_table,
    )
    from clickhouse_etl_spark.plans import source_chain
    from clickhouse_etl_spark.sources import load_table
    from reference_forms import curation_scored_staged

    corpus = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "text", "source")
    )
    bloom = str(tmp_path / "c6_bloom")
    write_bloom_table(
        normalize_text(corpus.filter("doc_id % 3 = 0")),
        bloom, capacity=1000, text_col="text_norm",
    )
    weights = str(tmp_path / "c6_weights")
    write_classifier_table(normalize_text(corpus), weights, text_col="text_norm")
    iw_path = str(tmp_path / "c6_iw")
    write_importance_table(
        normalize_text(corpus), iw_path, ["src0", "src1"],
        text_col="text_norm",
    )
    dc_path = str(tmp_path / "c6_eval_ngrams")
    write_ngram_digest_table(
        corpus.filter("doc_id % 5 = 1"), dc_path, n=5, mode="overwrite"
    )
    nd_path = str(tmp_path / "c6_band_seen")
    write_band_digest_table(
        normalize_text(corpus.filter("doc_id % 4 = 2")), nd_path,
        text_col="text_norm", mode="overwrite",
    )

    # the wave: odd-id documents plus a timestamp (the stream's event
    # time) — a real mix of decontam collisions, bloom dups, band
    # near-dups, and fresh survivors
    wave = corpus.filter("doc_id % 2 = 1").withColumn(
        "ts", F.lit("2024-01-01 10:00:00").cast("timestamp")
    )
    wave_dir = str(tmp_path / "c6_wave")
    wave.write.parquet(wave_dir)

    stage_kw = dict(
        decontam_path=dc_path, decontam_n=5,
        neardup_path=nd_path, importance_path=iw_path,
    )
    truth = sorted(
        tuple(r)
        for r in curation_scored_staged(
            spark.read.parquet(wave_dir), bloom, weights, **stage_kw,
        ).collect()
    )
    assert truth, "the six-stage wave must have survivors"

    doc = {
        "version": "v3",
        "pipeline_id": "curation-six-stage",
        "name": "curation-six-stage",
        "sources": [{
            "type": "kafka", "source_id": "documents", "topic": "documents",
            "schema_fields": [
                {"name": "doc_id", "type": "int64"},
                {"name": "text", "type": "string"},
                {"name": "source", "type": "string"},
                {"name": "ts", "type": "string"},
            ],
        }],
        "transforms": [
            {"type": "dataop", "source_id": "documents",
             "config": {"op": "decontaminate_against",
                        "seen_path": dc_path, "n": 5}},
            {"type": "dataop", "source_id": "documents",
             "config": {"op": "normalize_text"}},
            {"type": "dataop", "source_id": "documents",
             "config": {"op": "dedup_against", "seen_path": bloom,
                        "text_col": "text_norm"}},
            {"type": "dataop", "source_id": "documents",
             "config": {"op": "neardup_against", "seen_path": nd_path,
                        "text_col": "text_norm"}},
            {"type": "dataop", "source_id": "documents",
             "config": {"op": "classify_against", "weights_path": weights,
                        "text_col": "text_norm"}},
            {"type": "dataop", "source_id": "documents",
             "config": {"op": "importance_against", "weights_path": iw_path,
                        "text_col": "text_norm", "tokens_col": "iw_tokens",
                        "score_col": "iw_score"}},
        ],
        "sink": {"type": "clickhouse", "table": "curated_stream",
                 "table_mapping": [
                     {"source_id": "documents", "field_name": "doc_id",
                      "column_name": "doc_id", "column_type": "Int64"},
                     {"source_id": "documents", "field_name": "score",
                      "column_name": "score", "column_type": "Int64"},
                 ]},
    }
    spec = parse_pipeline_json(doc)
    assert [d.op for d in spec.source("documents").dataops] == [
        "decontaminate_against", "normalize_text", "dedup_against",
        "neardup_against", "classify_against", "importance_against",
    ]

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    stream = spark.readStream.schema(schema).parquet(wave_dir)
    out = source_chain(
        spec.source("documents"), "ts"
    )(stream)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("curation_six_stage")
        .option("checkpointLocation", str(tmp_path / "c6_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        tuple(r)
        for r in spark.sql("SELECT * FROM curation_six_stage").collect()
    )
    assert got == truth
    release_artifact_cache()


@pytest.mark.heavy
def test_multi_wave_curation_lifecycle(spark, tmp_path):
    """Continuous corpus construction across THREE ingest waves: each
    wave streams through the fused curation pass against the
    accumulated bloom seen-set, then contributes its survivors'
    canonical digests back via write_bloom_table + merge_bloom_tables.
    Cross-wave dups must drop (no false negatives), fresh content must
    survive, and the merged filter must behave exactly like one built
    on the union corpus (the OR-merge == rebuild guarantee, exercised
    through the public lifecycle)."""
    from pyspark.sql import functions as F

    from clickhouse_etl_spark.dataops.dedup import (
        merge_bloom_tables,
        write_bloom_table,
    )
    from clickhouse_etl_spark.dataops.util import release_artifact_cache
    from clickhouse_etl_spark.dataops.text import (
        normalize_text,
        write_classifier_table,
    )
    from clickhouse_etl_spark.streaming.curation import curation_scored_stream

    def wave_df(lo, hi, repeat_from=None):
        rows = [
            (i, f"wave document number {i} with the some shared words here")
            for i in range(lo, hi)
        ]
        if repeat_from is not None:
            # case/punct variants of earlier docs: canonical dups
            rows += [
                (10_000 + i,
                 f"WAVE Document NUMBER {i} with the some shared words here!!")
                for i in repeat_from
            ]
        return spark.createDataFrame(rows, ["doc_id", "text"])

    weights = str(tmp_path / "mw_weights")
    write_classifier_table(
        normalize_text(wave_df(0, 200)), weights, text_col="text_norm"
    )

    seen = str(tmp_path / "mw_seen_0")
    # bootstrap: an empty filter is invalid by contract — seed with
    # wave 0 itself
    w0 = wave_df(0, 100)
    write_bloom_table(normalize_text(w0), seen, capacity=10_000,
                      text_col="text_norm")

    # wave 1: 50 fresh + 30 canonical dups of wave 0 -> dups drop
    w1 = wave_df(100, 150, repeat_from=range(0, 30))
    out1 = curation_scored_stream(w1, seen, weights)
    ids1 = {r["doc_id"] for r in out1.select("doc_id").collect()}
    assert ids1 == set(range(100, 150)), ids1

    # survivors feed the seen-set via OR-merge
    surv1 = w1.filter(F.col("doc_id").isin([int(i) for i in ids1]))
    add1 = str(tmp_path / "mw_add_1")
    write_bloom_table(normalize_text(surv1), add1, capacity=10_000,
                      text_col="text_norm")
    seen2 = str(tmp_path / "mw_seen_1")
    merge_bloom_tables(spark, [seen, add1], seen2)

    # wave 2: dups of BOTH earlier waves drop, fresh survives
    w2 = wave_df(150, 180, repeat_from=list(range(40, 45)) + list(range(110, 115)))
    out2 = curation_scored_stream(w2, seen2, weights)
    ids2 = {r["doc_id"] for r in out2.select("doc_id").collect()}
    assert ids2 == set(range(150, 180)), ids2

    # merged filter == filter rebuilt on the union corpus, bit for bit
    # (same DECLARED per-table capacity -> same m; the merge SUMS the
    # capacity metadata, so compare the bitmaps, not the constants)
    rebuilt = str(tmp_path / "mw_rebuilt")
    write_bloom_table(
        normalize_text(w0.unionByName(surv1)), rebuilt, capacity=10_000,
        text_col="text_norm",
    )
    a = sorted(
        (r["shard"], r["word_idx"], r["word"])
        for r in spark.read.parquet(seen2).collect()
    )
    b = sorted(
        (r["shard"], r["word_idx"], r["word"])
        for r in spark.read.parquet(rebuilt).collect()
    )
    assert a == b
    release_artifact_cache()


@pytest.mark.heavy
def test_ann_serve_on_spec_surface(spark, sf_dir, tmp_path):
    """VERDICT r8 #4: online ANN serving is config-in/plan-out like
    every other dataop. Parse-time: index_path is required. Batch: the
    ann_serve dataop maps the chain's query frame to the standard
    answer frame, equal to a direct pq_index_query call. Streaming: a
    TERMINAL ann_serve on a joinless single-source pipeline is wired
    sink-side by StreamingPipeline (per-micro-batch answers == the
    batch op); any other placement raises at assembly time."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from clickhouse_etl_spark.dataops.similarity import (
        pq_index_build,
        pq_index_query,
    )
    from clickhouse_etl_spark.dataops.util import release_artifact_cache
    from clickhouse_etl_spark.plans.compiler import (
        DATAOPS,
        STREAM_SAFE_DATAOPS,
        resolve_dataop,
    )
    from clickhouse_etl_spark.sinks import ClickHouseSink
    from clickhouse_etl_spark.sources import load_table
    from clickhouse_etl_spark.spec.model import (
        DataopConfig,
        SourceConfig,
        SpecError,
    )
    from clickhouse_etl_spark.plans import source_chain
    from clickhouse_etl_spark.streaming import StreamingPipeline

    assert "ann_serve" in DATAOPS
    assert "ann_serve" not in STREAM_SAFE_DATAOPS  # mid-chain: rejected

    # parse-time: index_path required (no usable default)
    doc = {
        "version": "v3", "pipeline_id": "p", "name": "p",
        "sources": [{
            "type": "kafka", "source_id": "queries", "topic": "queries",
            "schema_fields": [{"name": "query_id", "type": "int64"}],
        }],
        "transforms": [{"type": "dataop", "source_id": "queries",
                        "config": {"op": "ann_serve"}}],
    }
    with _pytest.raises(SpecError, match="index_path"):
        parse_pipeline_json(doc)

    emb = load_table(spark, sf_dir, "embeddings")
    index_path = str(tmp_path / "serve_idx")
    release_artifact_cache()
    pq_index_build(emb.filter("vec_id < 400"), index_path)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    truth = sorted(
        map(tuple, pq_index_query(spark, index_path, queries, k=5).collect())
    )
    assert truth, "direct pq_index_query returned no answers"

    # batch chain: the dataop's answers == the direct call
    batch_ans = sorted(
        map(
            tuple,
            resolve_dataop("ann_serve")(queries, index_path=index_path, k=5)
            .collect(),
        )
    )
    assert batch_ans == truth

    # streaming, terminal position: spec-built query answers == batch
    qdir = str(tmp_path / "query_stream")
    queries.write.parquet(qdir)
    qschema = spark.read.parquet(qdir).schema
    sdoc = {
        "version": "v3", "pipeline_id": "serve", "name": "ann-serve",
        "sources": [{
            "type": "kafka", "source_id": "queries", "topic": "queries",
        }],
        "transforms": [{"type": "dataop", "source_id": "queries",
                        "config": {"op": "ann_serve",
                                   "index_path": index_path, "k": 5}}],
        "sink": {
            "type": "clickhouse", "table": "answers",
            "max_delay_time": "1s",
            "mapping": [
                {"name": "query_id", "column_name": "query_id", "column_type": "Int64"},
                {"name": "neighbor_id", "column_name": "neighbor_id", "column_type": "Int64"},
                {"name": "rank", "column_name": "rank", "column_type": "Int32"},
                {"name": "sim", "column_name": "sim", "column_type": "Float64"},
            ],
        },
    }
    spec = parse_pipeline_json(json.dumps(sdoc))
    sink = ClickHouseSink(
        table="answers", parquet_fallback_path=str(tmp_path / "answers_out")
    )
    pipe = StreamingPipeline(spec=spec, checkpoint_dir=str(tmp_path / "serve_ckpt"))
    q = pipe.start(
        spark,
        sources={"queries": spark.readStream.schema(qschema).parquet(qdir)},
        ts_cols={"queries": "query_id"},
        sink_fn=sink.foreach_batch(),
        trigger={"availableNow": True},
    )
    q.awaitTermination(180)
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"], r["sim"])
        for r in spark.read.parquet(str(tmp_path / "answers_out"))
        .drop("_batch_id")
        .collect()
    )
    assert got == truth

    # any non-terminal placement raises at assembly, with the sink-side
    # contract named
    stream = spark.readStream.schema(qschema).parquet(qdir)
    cfg = SourceConfig(
        source_id="queries",
        dataops=(
            DataopConfig(op="ann_serve", params={"index_path": index_path}),
            DataopConfig(op="normalize_text", params={}),
        ),
    )
    with _pytest.raises(SpecError, match="SINK-SIDE"):
        source_chain(cfg, "query_id")(stream)
    release_artifact_cache()


def test_r9_dataops_on_spec_surface(spark, tmp_path):
    """r9 ops as declarable dataops: gopher_rules is row-local (per-row
    token/line folds) and stream-safe; temperature_mixture derives its
    rates from a corpus-global aggregate — batch-only, rejected at
    streaming assembly time."""
    import datetime as dt

    import pytest as _pytest
    from pyspark.sql import types as T

    from clickhouse_etl_spark.plans.compiler import (
        DATAOPS,
        STREAM_SAFE_DATAOPS,
        resolve_dataop,
    )
    from clickhouse_etl_spark.plans import source_chain
    from clickhouse_etl_spark.spec.model import DataopConfig, SourceConfig, SpecError

    assert {"gopher_rules", "temperature_mixture"} <= DATAOPS
    assert "gopher_rules" in STREAM_SAFE_DATAOPS
    assert "temperature_mixture" not in STREAM_SAFE_DATAOPS

    docs = spark.createDataFrame(
        [(1, "the cat and the dog that have been with us", "web"),
         (2, "short", "web")],
        ["doc_id", "text", "source"],
    )
    flagged = resolve_dataop("gopher_rules")(docs)
    got = {r["doc_id"]: r["r_word_count"] for r in flagged.collect()}
    assert got == {1: 0, 2: 0}  # both under 50 words — flags computed
    mixed = resolve_dataop("temperature_mixture")(docs)
    assert {"rate_bp", "keep"} <= set(mixed.columns)
    assert mixed.count() == 2

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    src_dir = str(tmp_path / "docs_gopher_in")
    spark.createDataFrame(
        [(1, "the cat and that dog", "web", dt.datetime(2024, 1, 1, 10))],
        schema,
    ).write.parquet(src_dir)
    stream = spark.readStream.schema(schema).parquet(src_dir)
    safe = SourceConfig(
        source_id="documents", dataops=(DataopConfig(op="gopher_rules"),)
    )
    out = source_chain(safe, "ts")(stream)
    assert out.isStreaming and "pass_gopher" in out.columns
    unsafe = SourceConfig(
        source_id="documents", dataops=(DataopConfig(op="temperature_mixture"),)
    )
    with _pytest.raises(SpecError, match="batch-only"):
        source_chain(unsafe, "ts")(stream)


def test_c4_and_line_dedup_on_spec_surface(spark, tmp_path):
    """r9 wave-2 ops as declarable dataops: c4_filters is row-local
    (per-row line/token folds) and stream-safe next to gopher_rules;
    line_dedup needs the corpus-global first-occurrence order —
    batch-only, rejected at streaming assembly time."""
    import datetime as dt

    import pytest as _pytest
    from pyspark.sql import types as T

    from clickhouse_etl_spark.plans.compiler import (
        DATAOPS,
        STREAM_SAFE_DATAOPS,
        resolve_dataop,
    )
    from clickhouse_etl_spark.plans import source_chain
    from clickhouse_etl_spark.spec.model import DataopConfig, SourceConfig, SpecError

    assert {"c4_filters", "line_dedup"} <= DATAOPS
    assert "c4_filters" in STREAM_SAFE_DATAOPS
    assert "line_dedup" not in STREAM_SAFE_DATAOPS

    docs = spark.createDataFrame(
        [(1, "a fine long sentence here.\nthe shared line stays once."),
         (2, "the shared line stays once.")],
        ["doc_id", "text"],
    )
    flagged = resolve_dataop("c4_filters")(docs)
    got = {r["doc_id"]: r["n_kept_lines"] for r in flagged.collect()}
    assert got == {1: 2, 2: 1}
    kept = resolve_dataop("line_dedup")(docs)
    assert {r["doc_id"] for r in kept.collect()} == {1}

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    src_dir = str(tmp_path / "docs_c4_in")
    spark.createDataFrame(
        [(1, "one good line right here.", dt.datetime(2024, 1, 1, 10))],
        schema,
    ).write.parquet(src_dir)
    stream = spark.readStream.schema(schema).parquet(src_dir)
    safe = SourceConfig(
        source_id="documents", dataops=(DataopConfig(op="c4_filters"),)
    )
    out = source_chain(safe, "ts")(stream)
    assert out.isStreaming and "pass_c4" in out.columns
    unsafe = SourceConfig(
        source_id="documents", dataops=(DataopConfig(op="line_dedup"),)
    )
    with _pytest.raises(SpecError, match="batch-only"):
        source_chain(unsafe, "ts")(stream)


def test_line_dedup_against_on_spec_surface(spark, tmp_path):
    """line_dedup_against (persisted line-digest probe) is declarable,
    requires seen_path at PARSE time, and is one row-local Arrow pass
    -> stream-safe (the dedup_against lifecycle at line grain,
    VERDICT r9 #3)."""
    import datetime as dt
    import json as _json

    import pytest as _pytest
    from pyspark.sql import types as T

    from clickhouse_etl_spark.dataops.dedup import write_line_digest_table
    from clickhouse_etl_spark.plans.compiler import (
        DATAOPS,
        REQUIRED_DATAOP_PARAMS,
        STREAM_SAFE_DATAOPS,
        resolve_dataop,
    )
    from clickhouse_etl_spark.plans import source_chain
    from clickhouse_etl_spark.spec import parse_pipeline_json
    from clickhouse_etl_spark.spec.model import DataopConfig, SourceConfig, SpecError

    assert "line_dedup_against" in DATAOPS
    assert "line_dedup_against" in STREAM_SAFE_DATAOPS
    assert REQUIRED_DATAOP_PARAMS["line_dedup_against"] == ("seen_path",)

    def _doc(cfg):
        return _json.dumps({
            "version": "v3", "pipeline_id": "p", "name": "n",
            "sources": [{"type": "kafka", "source_id": "documents",
                         "topic": "documents",
                         "schema_fields": [
                             {"name": "doc_id", "type": "int64"},
                             {"name": "text", "type": "string"}]}],
            "transforms": [{"type": "dataop", "source_id": "documents",
                            "config": cfg}],
            "sink": {"type": "clickhouse", "database": "d", "table": "t",
                     "table_mapping": [
                         {"source_id": "documents", "column_name": "doc_id",
                          "field_name": "doc_id", "column_type": "Int64"}]},
        })

    with _pytest.raises(SpecError, match="seen_path"):
        parse_pipeline_json(_doc({"op": "line_dedup_against"}))

    seen = str(tmp_path / "seen_lines")
    write_line_digest_table(
        spark.createDataFrame(
            [(0, "the boilerplate line.")], "doc_id long, text string"
        ),
        seen,
        mode="overwrite",
    )
    spec = parse_pipeline_json(
        _doc({"op": "line_dedup_against", "seen_path": seen})
    )
    cfg = spec.sources[0].dataops[0]
    docs = spark.createDataFrame(
        [(1, "the boilerplate line.\nfresh line."), (2, "the boilerplate line.")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["text"] for r in
           resolve_dataop(cfg.op)(docs, **cfg.params).collect()}
    assert out == {1: "fresh line."}

    # assembles into the one streaming chain (mid-chain position)
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    src_dir = str(tmp_path / "ld_stream_in")
    spark.createDataFrame(
        [(1, "fresh line.", dt.datetime(2024, 1, 1, 10))], schema
    ).write.parquet(src_dir)
    stream = spark.readStream.schema(schema).parquet(src_dir)
    safe = SourceConfig(
        source_id="documents",
        dataops=(DataopConfig(op="line_dedup_against", params={"seen_path": seen}),),
    )
    out_stream = source_chain(safe, "ts")(stream)
    assert out_stream.isStreaming and "n_lines_kept" in out_stream.columns

    # the span-grain sibling shares the surface contract: stream-safe,
    # parse-time seen_path, same chain position
    from clickhouse_etl_spark.dataops.dedup import write_span_digest_table

    assert "span_dedup_against" in STREAM_SAFE_DATAOPS
    assert REQUIRED_DATAOP_PARAMS["span_dedup_against"] == ("seen_path",)
    with _pytest.raises(SpecError, match="seen_path"):
        parse_pipeline_json(_doc({"op": "span_dedup_against"}))
    span_seen = str(tmp_path / "seen_spans")
    write_span_digest_table(
        spark.createDataFrame(
            [(0, "a one. b two. c three.")], "doc_id long, text string"
        ),
        span_seen,
        mode="overwrite",
    )
    safe_span = SourceConfig(
        source_id="documents",
        dataops=(
            DataopConfig(op="span_dedup_against", params={"seen_path": span_seen}),
        ),
    )
    stream2 = spark.readStream.schema(schema).parquet(src_dir)
    out2 = source_chain(safe_span, "ts")(stream2)
    assert out2.isStreaming and "n_sentences_kept" in out2.columns


def test_importance_weights_on_spec_surface(spark):
    """importance_weights is declarable, requires target_sources at
    PARSE time, and is corpus-global -> batch-only."""
    import pytest as _pytest

    from clickhouse_etl_spark.plans.compiler import (
        DATAOPS,
        REQUIRED_DATAOP_PARAMS,
        STREAM_SAFE_DATAOPS,
        resolve_dataop,
    )
    from clickhouse_etl_spark.spec.model import DataopConfig, SpecError

    assert "importance_weights" in DATAOPS
    assert "importance_weights" not in STREAM_SAFE_DATAOPS
    assert REQUIRED_DATAOP_PARAMS["importance_weights"] == ("target_sources",)
    import json as _json

    from clickhouse_etl_spark.spec import parse_pipeline_json

    def _doc(cfg):
        return _json.dumps({
            "version": "v3", "pipeline_id": "p", "name": "n",
            "sources": [{"type": "kafka", "source_id": "documents",
                         "topic": "documents",
                         "schema_fields": [
                             {"name": "doc_id", "type": "int64"},
                             {"name": "text", "type": "string"},
                             {"name": "source", "type": "string"}]}],
            "transforms": [{"type": "dataop", "source_id": "documents",
                            "config": cfg}],
            "sink": {"type": "clickhouse", "database": "d", "table": "t",
                     "table_mapping": [
                         {"source_id": "documents", "column_name": "doc_id",
                          "field_name": "doc_id", "column_type": "Int64"}]},
        })

    with _pytest.raises(SpecError, match="target_sources"):
        parse_pipeline_json(_doc({"op": "importance_weights"}))
    spec = parse_pipeline_json(
        _doc({"op": "importance_weights", "target_sources": ["web"]})
    )
    cfg = spec.sources[0].dataops[0]
    assert cfg.params == {"target_sources": ["web"]}
    docs = spark.createDataFrame(
        [(1, "aaa aaa", "web"), (2, "bbb bbb", "cc")],
        ["doc_id", "text", "source"],
    )
    out = resolve_dataop(cfg.op)(docs, **cfg.params)
    assert {r["doc_id"] for r in out.collect()} == {1, 2}


def test_importance_against_on_spec_surface(spark, tmp_path):
    """importance_against (persisted-table scoring) is declarable,
    requires weights_path at PARSE time, and is row-local ->
    stream-safe (the classify_against pattern)."""
    import datetime as dt
    import json as _json

    import pytest as _pytest
    from pyspark.sql import types as T

    from clickhouse_etl_spark.dataops.text import write_importance_table
    from clickhouse_etl_spark.plans.compiler import (
        DATAOPS,
        STREAM_SAFE_DATAOPS,
        resolve_dataop,
    )
    from clickhouse_etl_spark.plans import source_chain
    from clickhouse_etl_spark.spec import parse_pipeline_json
    from clickhouse_etl_spark.spec.model import DataopConfig, SourceConfig, SpecError

    assert "importance_against" in DATAOPS
    assert "importance_against" in STREAM_SAFE_DATAOPS

    doc = {
        "version": "v3", "pipeline_id": "p", "name": "n",
        "sources": [{"type": "kafka", "source_id": "documents",
                     "topic": "documents",
                     "schema_fields": [
                         {"name": "doc_id", "type": "int64"},
                         {"name": "text", "type": "string"}]}],
        "transforms": [{"type": "dataop", "source_id": "documents",
                        "config": {"op": "importance_against"}}],
        "sink": {"type": "clickhouse", "database": "d", "table": "t",
                 "table_mapping": [
                     {"source_id": "documents", "column_name": "doc_id",
                      "field_name": "doc_id", "column_type": "Int64"}]},
    }
    with _pytest.raises(SpecError, match="weights_path"):
        parse_pipeline_json(_json.dumps(doc))

    corpus = spark.createDataFrame(
        [(1, "aaa bbb", "tgt"), (2, "bbb ccc", "web")],
        ["doc_id", "text", "source"],
    )
    path = str(tmp_path / "iw_spec_table")
    write_importance_table(corpus, path, target_sources=["tgt"], dim=32)
    out = resolve_dataop("importance_against")(
        corpus.select("doc_id", "text"), weights_path=path
    )
    assert {r["doc_id"] for r in out.collect()} == {1, 2}

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    src_dir = str(tmp_path / "iw_stream_in")
    spark.createDataFrame(
        [(1, "aaa bbb", dt.datetime(2024, 1, 1, 10))], schema
    ).write.parquet(src_dir)
    stream = spark.readStream.schema(schema).parquet(src_dir)
    safe = SourceConfig(
        source_id="documents",
        dataops=(DataopConfig(op="importance_against",
                              params={"weights_path": path}),),
    )
    s_out = source_chain(safe, "ts")(stream)
    assert s_out.isStreaming and "score" in s_out.columns


def test_decontaminate_against_on_spec_surface(spark, tmp_path):
    """decontaminate_against (persisted eval-set n-gram probe) is
    declarable, requires seen_path at PARSE time, and is one row-local
    Arrow pass -> stream-safe (the dedup_against lifecycle at n-gram
    grain — the published benchmark-decontamination deployment)."""
    import datetime as dt
    import json as _json

    import pytest as _pytest
    from pyspark.sql import types as T

    from clickhouse_etl_spark.dataops.dedup import write_ngram_digest_table
    from clickhouse_etl_spark.plans.compiler import (
        DATAOPS,
        REQUIRED_DATAOP_PARAMS,
        STREAM_SAFE_DATAOPS,
        resolve_dataop,
    )
    from clickhouse_etl_spark.plans import source_chain
    from clickhouse_etl_spark.spec import parse_pipeline_json
    from clickhouse_etl_spark.spec.model import DataopConfig, SourceConfig, SpecError

    assert "decontaminate_against" in DATAOPS
    assert "decontaminate_against" in STREAM_SAFE_DATAOPS
    assert REQUIRED_DATAOP_PARAMS["decontaminate_against"] == ("seen_path",)

    def _doc(cfg):
        return _json.dumps({
            "version": "v3", "pipeline_id": "p", "name": "n",
            "sources": [{"type": "kafka", "source_id": "documents",
                         "topic": "documents",
                         "schema_fields": [
                             {"name": "doc_id", "type": "int64"},
                             {"name": "text", "type": "string"}]}],
            "transforms": [{"type": "dataop", "source_id": "documents",
                            "config": cfg}],
            "sink": {"type": "clickhouse", "database": "d", "table": "t",
                     "table_mapping": [
                         {"source_id": "documents", "column_name": "doc_id",
                          "field_name": "doc_id", "column_type": "Int64"}]},
        })

    with _pytest.raises(SpecError, match="seen_path"):
        parse_pipeline_json(_doc({"op": "decontaminate_against"}))

    seen = str(tmp_path / "eval_ngrams")
    write_ngram_digest_table(
        spark.createDataFrame(
            [(0, "benchmark answer alpha beta gamma")],
            "bench_id long, text string",
        ),
        seen,
        n=3,
        mode="overwrite",
    )
    spec = parse_pipeline_json(
        _doc({"op": "decontaminate_against", "seen_path": seen, "n": 3})
    )
    cfg = spec.sources[0].dataops[0]
    docs = spark.createDataFrame(
        [(1, "stole the benchmark answer alpha verbatim"),
         (2, "genuinely fresh training text")],
        ["doc_id", "text"],
    )
    survivors = {r["doc_id"] for r in
                 resolve_dataop(cfg.op)(docs, **cfg.params).collect()}
    assert survivors == {2}  # drop is the default published action

    # assembles into the one streaming chain (mid-chain position);
    # drop mode leaves the schema unchanged
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    src_dir = str(tmp_path / "decon_stream_in")
    spark.createDataFrame(
        [(2, "genuinely fresh training text", dt.datetime(2024, 1, 1, 10))],
        schema,
    ).write.parquet(src_dir)
    stream = spark.readStream.schema(schema).parquet(src_dir)
    safe = SourceConfig(
        source_id="documents",
        dataops=(DataopConfig(
            op="decontaminate_against", params={"seen_path": seen, "n": 3}
        ),),
    )
    out_stream = source_chain(safe, "ts")(stream)
    assert out_stream.isStreaming
    assert set(out_stream.columns) == {"doc_id", "text", "ts"}


def test_neardup_against_on_spec_surface(spark, tmp_path):
    """neardup_against (persisted MinHash-LSH band probe) is
    declarable, requires seen_path at PARSE time, derives its geometry
    FROM the artifact, and is one row-local Arrow pass -> stream-safe
    (the dedup_against lifecycle at NEAR-dup grain — the published LSH
    bucket-removal deployment)."""
    import datetime as dt
    import json as _json

    import pytest as _pytest
    from pyspark.sql import types as T

    from clickhouse_etl_spark.dataops.dedup import write_band_digest_table
    from clickhouse_etl_spark.plans.compiler import (
        DATAOPS,
        REQUIRED_DATAOP_PARAMS,
        STREAM_SAFE_DATAOPS,
        resolve_dataop,
    )
    from clickhouse_etl_spark.plans import source_chain
    from clickhouse_etl_spark.spec import parse_pipeline_json
    from clickhouse_etl_spark.spec.model import DataopConfig, SourceConfig, SpecError

    assert "neardup_against" in DATAOPS
    assert "neardup_against" in STREAM_SAFE_DATAOPS
    assert REQUIRED_DATAOP_PARAMS["neardup_against"] == ("seen_path",)

    def _doc(cfg):
        return _json.dumps({
            "version": "v3", "pipeline_id": "p", "name": "n",
            "sources": [{"type": "kafka", "source_id": "documents",
                         "topic": "documents",
                         "schema_fields": [
                             {"name": "doc_id", "type": "int64"},
                             {"name": "text", "type": "string"}]}],
            "transforms": [{"type": "dataop", "source_id": "documents",
                            "config": cfg}],
            "sink": {"type": "clickhouse", "database": "d", "table": "t",
                     "table_mapping": [
                         {"source_id": "documents", "column_name": "doc_id",
                          "field_name": "doc_id", "column_type": "Int64"}]},
        })

    with _pytest.raises(SpecError, match="seen_path"):
        parse_pipeline_json(_doc({"op": "neardup_against"}))

    seen = str(tmp_path / "band_seen")
    write_band_digest_table(
        spark.createDataFrame(
            [(0, "the canonical wave one document text here")],
            "wave_id long, text string",
        ),
        seen,
        mode="overwrite",
    )
    spec = parse_pipeline_json(
        _doc({"op": "neardup_against", "seen_path": seen})
    )
    cfg = spec.sources[0].dataops[0]
    docs = spark.createDataFrame(
        [(1, "the canonical wave one document text here"),
         (2, "genuinely fresh training text with new words")],
        ["doc_id", "text"],
    )
    survivors = {r["doc_id"] for r in
                 resolve_dataop(cfg.op)(docs, **cfg.params).collect()}
    assert survivors == {2}  # drop is the default published action

    # assembles into the one streaming chain (mid-chain position);
    # drop mode leaves the schema unchanged
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    src_dir = str(tmp_path / "neardup_stream_in")
    spark.createDataFrame(
        [(2, "genuinely fresh training text with new words",
          dt.datetime(2024, 1, 1, 10))],
        schema,
    ).write.parquet(src_dir)
    stream = spark.readStream.schema(schema).parquet(src_dir)
    safe = SourceConfig(
        source_id="documents",
        dataops=(DataopConfig(
            op="neardup_against", params={"seen_path": seen}
        ),),
    )
    out_stream = source_chain(safe, "ts")(stream)
    assert out_stream.isStreaming
    assert set(out_stream.columns) == {"doc_id", "text", "ts"}
