"""Streaming OTLP metric rollup (VERDICT r6 #7).

The reference's OTLP path is a STREAM — payloads land on the ingest
topic continuously and every observability deployment aggregates the
flattened datapoints into fixed-window rollups in ClickHouse
(glassflow-api internal/flattener/metrics.go feeds the sink table the
rollup views read). This module runs flatten → window aggregation as
ONE Structured Streaming aggregation over all five datapoint families:
``flatten_metrics`` is stateless (from_json + explodes), so it composes
with an event-time watermark and a tumbling-window group-by under the
RocksDB state store — one stateful operator per deployment. The batch
registry entry ``otlp_rollup_all_families`` calls the same function on
a batch frame (the watermark no-ops), so the DuckDB oracle pins the
code the stream runs.

Late data: points older than the watermark relative to the max seen
event time are dropped by the state store (the standard completeness /
latency trade — size the watermark to the ingest path's p99 lag).
Output mode "append" emits each (host, window, family, bucket) row
exactly once, when the watermark passes the window end — the right
shape for an append-only ClickHouse sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def otlp_rollup_stream(
    flat: DataFrame,
    window_duration: str = "5 minutes",
    watermark: str = "10 minutes",
    host_attr: str = "host",
) -> DataFrame:
    """Event-time tumbling rollup of every OTLP datapoint family in a
    flattened metrics frame (``sources.otlp.flatten_metrics`` output;
    flattener/metrics.go:13-213) — one projection, one watermark, one
    ``groupBy(host, window, metric_type, bucket_idx)``.

    Output is the wide row (host, window_start_us, metric_type,
    bucket_idx, n_points, total_count, sum_cents, min_cents, max_cents,
    bucket_n, last_count, last_sum_cents); members a family never sets
    are null. All cents are exact integers:

    - gauge / sum (``bucket_idx = -1``): point count and sum/min/max of
      the value in cents. Gauge reads ``value_double`` only (the
      ``otlp_rollup_all_families`` contract); sum coalesces it with
      ``value_int * 100`` in INTEGER arithmetic (a double round-trip
      loses cent exactness past 2^53).
    - histogram / exp_histogram (``bucket_idx = -1``): point count,
      Σcount, Σsum, min(min), max(max). The flattened exp-histogram
      record carries no bucket runs (flattener/metrics.go:144-178).
    - histogram buckets (``bucket_idx >= 0``): Σ of that bucket's
      counts — element-wise addition is the histogram merge rule. The
      bucket grain is an explode BEFORE the aggregation, so state stays
      one row per (host, open window, bucket), never an array buffer.
    - summary (``bucket_idx = -1``): summaries are CUMULATIVE snapshots
      (flattener/metrics.go:179-203), so a window's value is its LATEST
      snapshot, merged as ``max(struct(timestamp, count, sum_cents))``
      — lexicographic struct max is associative and commutative (safe
      for partial aggregation and state-store merges) and deterministic
      at equal timestamps.

    State is one row per (host, open window, family, bucket), evicted
    at watermark passage — bounded by host cardinality, not traffic.
    """
    mt = F.col("metric_type")
    number = mt.isin("gauge", "sum")
    summary = mt == "summary"
    scalar = F.col("bucket_idx") == -1

    def cents(c):
        return F.round(F.col(c) * 100).cast("bigint")

    value_cents = F.when(mt == "gauge", cents("value_double")).otherwise(
        F.coalesce(cents("value_double"), F.col("value_int") * F.lit(100).cast("bigint"))
    )
    # one row per point at bucket_idx -1, plus one per histogram bucket
    grains = F.concat(
        F.array(F.struct(F.lit(-1).alias("bucket_idx"), F.lit(None).cast("bigint").alias("_bn"))),
        F.when(
            mt == "histogram",
            F.transform(
                "bucket_counts", lambda n, i: F.struct(i.alias("bucket_idx"), n.alias("_bn"))
            ),
        ).otherwise(F.array()),
    )
    agg = (
        flat.select(
            F.element_at(F.col("resource_attributes"), F.lit(host_attr)).alias("host"),
            # flatten_metrics renders timestamps as the reference's
            # string format; event-time processing needs TimestampType
            F.to_timestamp("timestamp").alias("timestamp"),
            mt,
            F.when(number, value_cents).otherwise(cents("sum")).alias("_s"),
            F.when(number, value_cents).otherwise(cents("min")).alias("_lo"),
            F.when(number, value_cents).otherwise(cents("max")).alias("_hi"),
            F.col("count").cast("bigint").alias("_cnt"),
            F.inline(grains),
        )
        .withWatermark("timestamp", watermark)
        .groupBy(
            "host", F.window("timestamp", window_duration).alias("w"),
            "metric_type", "bucket_idx",
        )
        .agg(
            F.count("*").alias("n"),
            F.sum("_cnt").alias("cnt"),
            F.sum("_s").alias("s"),
            F.min("_lo").alias("lo"),
            F.max("_hi").alias("hi"),
            F.sum("_bn").alias("bn"),
            F.max(F.struct("timestamp", "_cnt", "_s")).alias("last"),
        )
    )

    def keep(cond, c, name):
        return F.when(cond, F.col(c)).cast("bigint").alias(name)

    # the wide row: null every member the row's family never sets
    return agg.select(
        "host",
        F.unix_micros(F.col("w.start")).alias("window_start_us"),
        "metric_type",
        "bucket_idx",
        keep(scalar, "n", "n_points"),
        keep(scalar & mt.isin("histogram", "exp_histogram"), "cnt", "total_count"),
        keep(scalar & ~summary, "s", "sum_cents"),
        keep(scalar & ~summary, "lo", "min_cents"),
        keep(scalar & ~summary, "hi", "max_cents"),
        keep(~scalar, "bn", "bucket_n"),
        keep(summary, "last._cnt", "last_count"),
        keep(summary, "last._s", "last_sum_cents"),
    )
