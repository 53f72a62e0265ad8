"""OTLP sources: flatten logs / traces / metrics into wide rows.

Reference behavior (glassflow-api/otlp-receiver/server/processor/
flattener/{logs,traces,metrics}.go, row models at
glassflow-api/internal/models/otlp.go:77-267): each OTLP export request
flattens to one row per log record / span / metric datapoint, with
resource/scope/record attributes as Map(String,String) and enums
rendered as strings.

Spark-first formulation: input is the standard OTLP/JSON encoding
(opentelemetry-proto JSON mapping — public spec); parsing is
``from_json`` against the nested schema and flattening is a chain of
``explode`` + projection — scan-speed, no UDFs. The gRPC/HTTP receiver
itself is out of scope (SURVEY.md §2.1 S3): in production the request
stream lands on Kafka and this module is the parse stage.

Scale notes: explode chains are narrow; attribute maps stay maps (no
per-key columns), so schema width is fixed regardless of cardinality.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---- OTLP/JSON input schemas (subset actually consumed) -------------

_ATTR = T.ArrayType(
    T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField(
                "value",
                T.StructType(
                    [
                        T.StructField("stringValue", T.StringType()),
                        T.StructField("intValue", T.StringType()),
                        T.StructField("doubleValue", T.DoubleType()),
                        T.StructField("boolValue", T.BooleanType()),
                    ]
                ),
            ),
        ]
    )
)

_SCOPE = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("version", T.StringType()),
        T.StructField("attributes", _ATTR),
    ]
)

_RESOURCE = T.StructType([T.StructField("attributes", _ATTR)])


def _log_record() -> T.StructType:
    return T.StructType(
        [
            T.StructField("timeUnixNano", T.StringType()),
            T.StructField("observedTimeUnixNano", T.StringType()),
            T.StructField("severityNumber", T.LongType()),
            T.StructField("severityText", T.StringType()),
            T.StructField("body", T.StructType([T.StructField("stringValue", T.StringType())])),
            T.StructField("traceId", T.StringType()),
            T.StructField("spanId", T.StringType()),
            T.StructField("flags", T.LongType()),
            T.StructField("droppedAttributesCount", T.LongType()),
            T.StructField("attributes", _ATTR),
        ]
    )


LOGS_REQUEST_SCHEMA = T.StructType(
    [
        T.StructField(
            "resourceLogs",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("resource", _RESOURCE),
                        T.StructField(
                            "scopeLogs",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField("scope", _SCOPE),
                                        T.StructField("logRecords", T.ArrayType(_log_record())),
                                    ]
                                )
                            ),
                        ),
                    ]
                )
            ),
        )
    ]
)

_SPAN_EVENT = T.StructType(
    [
        T.StructField("timeUnixNano", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("attributes", _ATTR),
    ]
)
_SPAN_LINK = T.StructType(
    [
        T.StructField("traceId", T.StringType()),
        T.StructField("spanId", T.StringType()),
        T.StructField("attributes", _ATTR),
    ]
)


def _span() -> T.StructType:
    return T.StructType(
        [
            T.StructField("traceId", T.StringType()),
            T.StructField("spanId", T.StringType()),
            T.StructField("parentSpanId", T.StringType()),
            T.StructField("traceState", T.StringType()),
            T.StructField("flags", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("kind", T.LongType()),
            T.StructField("startTimeUnixNano", T.StringType()),
            T.StructField("endTimeUnixNano", T.StringType()),
            T.StructField("attributes", _ATTR),
            T.StructField("droppedAttributesCount", T.LongType()),
            T.StructField("events", T.ArrayType(_SPAN_EVENT)),
            T.StructField("droppedEventsCount", T.LongType()),
            T.StructField("links", T.ArrayType(_SPAN_LINK)),
            T.StructField("droppedLinksCount", T.LongType()),
            T.StructField(
                "status",
                T.StructType(
                    [T.StructField("code", T.LongType()), T.StructField("message", T.StringType())]
                ),
            ),
        ]
    )


TRACES_REQUEST_SCHEMA = T.StructType(
    [
        T.StructField(
            "resourceSpans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("resource", _RESOURCE),
                        T.StructField(
                            "scopeSpans",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField("scope", _SCOPE),
                                        T.StructField("spans", T.ArrayType(_span())),
                                    ]
                                )
                            ),
                        ),
                    ]
                )
            ),
        )
    ]
)

_NUMBER_DP = T.StructType(
    [
        T.StructField("timeUnixNano", T.StringType()),
        T.StructField("startTimeUnixNano", T.StringType()),
        T.StructField("asDouble", T.DoubleType()),
        T.StructField("asInt", T.StringType()),
        T.StructField("flags", T.LongType()),
        T.StructField("attributes", _ATTR),
    ]
)
_HIST_DP = T.StructType(
    [
        T.StructField("timeUnixNano", T.StringType()),
        T.StructField("startTimeUnixNano", T.StringType()),
        T.StructField("count", T.StringType()),
        T.StructField("sum", T.DoubleType()),
        T.StructField("min", T.DoubleType()),
        T.StructField("max", T.DoubleType()),
        T.StructField("bucketCounts", T.ArrayType(T.StringType())),
        T.StructField("explicitBounds", T.ArrayType(T.DoubleType())),
        T.StructField("flags", T.LongType()),
        T.StructField("attributes", _ATTR),
    ]
)
# Exponential-histogram datapoint: the reference record keeps only
# count/sum/min/max (+ timestamps/flags/attrs) — scale, zeroCount and the
# positive/negative bucket runs are NOT carried into the flattened row
# (models/otlp.go:134-157 has no fields for them; flattener/metrics.go:144-178
# never reads them), so the parse schema omits them too (from_json drops
# unknown members).
_EXPHIST_DP = T.StructType(
    [
        T.StructField("timeUnixNano", T.StringType()),
        T.StructField("startTimeUnixNano", T.StringType()),
        T.StructField("count", T.StringType()),
        T.StructField("sum", T.DoubleType()),
        T.StructField("min", T.DoubleType()),
        T.StructField("max", T.DoubleType()),
        T.StructField("flags", T.LongType()),
        T.StructField("attributes", _ATTR),
    ]
)
# Summary datapoint: reference keeps only count/sum (+ timestamps/flags/attrs);
# quantileValues are dropped (flattener/metrics.go:179-203).
_SUMMARY_DP = T.StructType(
    [
        T.StructField("timeUnixNano", T.StringType()),
        T.StructField("startTimeUnixNano", T.StringType()),
        T.StructField("count", T.StringType()),
        T.StructField("sum", T.DoubleType()),
        T.StructField("flags", T.LongType()),
        T.StructField("attributes", _ATTR),
    ]
)


def _metric() -> T.StructType:
    return T.StructType(
        [
            T.StructField("name", T.StringType()),
            T.StructField("description", T.StringType()),
            T.StructField("unit", T.StringType()),
            T.StructField(
                "gauge",
                T.StructType([T.StructField("dataPoints", T.ArrayType(_NUMBER_DP))]),
            ),
            T.StructField(
                "sum",
                T.StructType(
                    [
                        T.StructField("dataPoints", T.ArrayType(_NUMBER_DP)),
                        T.StructField("aggregationTemporality", T.LongType()),
                        T.StructField("isMonotonic", T.BooleanType()),
                    ]
                ),
            ),
            T.StructField(
                "histogram",
                T.StructType(
                    [
                        T.StructField("dataPoints", T.ArrayType(_HIST_DP)),
                        T.StructField("aggregationTemporality", T.LongType()),
                    ]
                ),
            ),
            T.StructField(
                "exponentialHistogram",
                T.StructType(
                    [
                        T.StructField("dataPoints", T.ArrayType(_EXPHIST_DP)),
                        T.StructField("aggregationTemporality", T.LongType()),
                    ]
                ),
            ),
            T.StructField(
                "summary",
                T.StructType([T.StructField("dataPoints", T.ArrayType(_SUMMARY_DP))]),
            ),
        ]
    )


METRICS_REQUEST_SCHEMA = T.StructType(
    [
        T.StructField(
            "resourceMetrics",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("resource", _RESOURCE),
                        T.StructField(
                            "scopeMetrics",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField("scope", _SCOPE),
                                        T.StructField("metrics", T.ArrayType(_metric())),
                                    ]
                                )
                            ),
                        ),
                    ]
                )
            ),
        )
    ]
)

# ---- helpers --------------------------------------------------------


def _attrs_to_map(attrs: Column) -> Column:
    """KeyValue list -> Map(String,String), values stringified like the
    reference (ints %d, doubles %g-ish, bools true/false; models/otlp.go
    attrs handling). Null/absent -> {} (CH maps can't be NULL)."""
    pairs = F.transform(
        attrs,
        lambda kv: F.struct(
            kv.getField("key").alias("k"),
            F.coalesce(
                kv.getField("value").getField("stringValue"),
                kv.getField("value").getField("intValue"),
                F.when(
                    kv.getField("value").getField("doubleValue").isNotNull(),
                    F.when(
                        kv.getField("value").getField("doubleValue")
                        == F.floor(kv.getField("value").getField("doubleValue")),
                        kv.getField("value").getField("doubleValue").cast("bigint").cast("string"),
                    ).otherwise(kv.getField("value").getField("doubleValue").cast("string")),
                ),
                F.when(kv.getField("value").getField("boolValue"), F.lit("true")).otherwise(
                    F.when(kv.getField("value").getField("boolValue").isNotNull(), F.lit("false"))
                ),
            ).alias("v"),
        ),
    )
    m = F.map_from_arrays(
        F.transform(pairs, lambda p: p.getField("k")),
        F.transform(pairs, lambda p: p.getField("v")),
    )
    return F.coalesce(m, F.expr("map()"))


def _nano_ts(c: Column) -> Column:
    """Unix-nano string -> ISO-ish timestamp string (reference keeps
    timestamps as strings in the row model, models/otlp.go:77-92).

    ns -> µs via exact decimal division (double division loses integer
    precision past 2^53; nano epochs are ~2^60)."""
    us = (c.cast("decimal(38,0)") / F.lit(1000)).cast("bigint")
    return F.date_format(F.timestamp_micros(us), "yyyy-MM-dd HH:mm:ss.SSSSSS")


_SPAN_KINDS = {0: "SPAN_KIND_UNSPECIFIED", 1: "SPAN_KIND_INTERNAL", 2: "SPAN_KIND_SERVER",
               3: "SPAN_KIND_CLIENT", 4: "SPAN_KIND_PRODUCER", 5: "SPAN_KIND_CONSUMER"}
_STATUS_CODES = {0: "UNSET", 1: "OK", 2: "ERROR"}


def _enum_str(c: Column, table: dict[int, str], default: str) -> Column:
    expr: Column = F.lit(default)
    for k, v in reversed(list(table.items())):
        expr = F.when(c == k, F.lit(v)).otherwise(expr)
    return expr


# ---- flatteners -----------------------------------------------------


def flatten_logs(df: DataFrame, payload_col: str = "value") -> DataFrame:
    """One row per log record — the reference's fixed 14-field schema
    (models/otlp.go:174-192; flattener/logs.go:16-97)."""
    req = F.from_json(F.col(payload_col).cast("string"), LOGS_REQUEST_SCHEMA)
    rl = df.select(F.explode(req.getField("resourceLogs")).alias("rl"))
    sl = rl.select(
        F.col("rl.resource").alias("resource"), F.explode("rl.scopeLogs").alias("sl")
    )
    rec = sl.select(
        "resource",
        F.col("sl.scope").alias("scope"),
        F.explode("sl.logRecords").alias("r"),
    )
    return rec.select(
        _nano_ts(F.col("r.timeUnixNano")).alias("timestamp"),
        _nano_ts(F.col("r.observedTimeUnixNano")).alias("observed_timestamp"),
        F.coalesce(F.col("r.severityNumber"), F.lit(0)).alias("severity_number"),
        F.coalesce(F.col("r.severityText"), F.lit("")).alias("severity_text"),
        F.coalesce(F.col("r.body.stringValue"), F.lit("")).alias("body"),
        F.coalesce(F.col("r.traceId"), F.lit("")).alias("trace_id"),
        F.coalesce(F.col("r.spanId"), F.lit("")).alias("span_id"),
        F.coalesce(F.col("r.flags"), F.lit(0)).alias("flags"),
        F.coalesce(F.col("r.droppedAttributesCount"), F.lit(0)).alias("dropped_attributes_count"),
        _attrs_to_map(F.col("resource.attributes")).alias("resource_attributes"),
        F.coalesce(F.col("scope.name"), F.lit("")).alias("scope_name"),
        F.coalesce(F.col("scope.version"), F.lit("")).alias("scope_version"),
        _attrs_to_map(F.col("scope.attributes")).alias("scope_attributes"),
        _attrs_to_map(F.col("r.attributes")).alias("attributes"),
    )


def flatten_traces(df: DataFrame, payload_col: str = "value") -> DataFrame:
    """One row per span incl. events[]/links[], enum kinds/status as
    strings, duration_ns = end - start (flattener/traces.go:13-110)."""
    req = F.from_json(F.col(payload_col).cast("string"), TRACES_REQUEST_SCHEMA)
    rs = df.select(F.explode(req.getField("resourceSpans")).alias("rs"))
    ss = rs.select(F.col("rs.resource").alias("resource"), F.explode("rs.scopeSpans").alias("ss"))
    sp = ss.select(
        "resource", F.col("ss.scope").alias("scope"), F.explode("ss.spans").alias("s")
    )
    start = F.col("s.startTimeUnixNano").cast("bigint")
    end = F.col("s.endTimeUnixNano").cast("bigint")
    return sp.select(
        F.coalesce(F.col("s.traceId"), F.lit("")).alias("trace_id"),
        F.coalesce(F.col("s.spanId"), F.lit("")).alias("span_id"),
        F.coalesce(F.col("s.parentSpanId"), F.lit("")).alias("parent_span_id"),
        F.coalesce(F.col("s.traceState"), F.lit("")).alias("trace_state"),
        F.coalesce(F.col("s.flags"), F.lit(0)).alias("flags"),
        F.coalesce(F.col("s.name"), F.lit("")).alias("name"),
        _enum_str(F.coalesce(F.col("s.kind"), F.lit(0)), _SPAN_KINDS, "SPAN_KIND_UNSPECIFIED").alias("kind"),
        _nano_ts(F.col("s.startTimeUnixNano")).alias("start_timestamp"),
        _nano_ts(F.col("s.endTimeUnixNano")).alias("end_timestamp"),
        F.coalesce(end - start, F.lit(0)).alias("duration_ns"),
        _enum_str(
            F.coalesce(F.col("s.status.code"), F.lit(0)), _STATUS_CODES, "UNSET"
        ).alias("status_code"),
        F.coalesce(F.col("s.status.message"), F.lit("")).alias("status_message"),
        F.coalesce(F.col("s.droppedAttributesCount"), F.lit(0)).alias("dropped_attributes_count"),
        F.coalesce(F.col("s.droppedEventsCount"), F.lit(0)).alias("dropped_events_count"),
        F.coalesce(F.col("s.droppedLinksCount"), F.lit(0)).alias("dropped_links_count"),
        F.transform(
            F.coalesce(F.col("s.events"), F.expr("array()").cast(T.ArrayType(_SPAN_EVENT))),
            lambda e: F.struct(
                _nano_ts(e.getField("timeUnixNano")).alias("timestamp"),
                F.coalesce(e.getField("name"), F.lit("")).alias("name"),
                _attrs_to_map(e.getField("attributes")).alias("attributes"),
            ),
        ).alias("events"),
        F.transform(
            F.coalesce(F.col("s.links"), F.expr("array()").cast(T.ArrayType(_SPAN_LINK))),
            lambda l: F.struct(
                F.coalesce(l.getField("traceId"), F.lit("")).alias("trace_id"),
                F.coalesce(l.getField("spanId"), F.lit("")).alias("span_id"),
                _attrs_to_map(l.getField("attributes")).alias("attributes"),
            ),
        ).alias("links"),
        _attrs_to_map(F.col("resource.attributes")).alias("resource_attributes"),
        F.coalesce(F.col("scope.name"), F.lit("")).alias("scope_name"),
        F.coalesce(F.col("scope.version"), F.lit("")).alias("scope_version"),
        _attrs_to_map(F.col("scope.attributes")).alias("scope_attributes"),
        _attrs_to_map(F.col("s.attributes")).alias("attributes"),
    )


def flatten_metrics(df: DataFrame, payload_col: str = "value") -> DataFrame:
    """One wide nullable row per datapoint for all five metric kinds —
    gauge / sum / histogram / exponential-histogram / summary
    (flattener/metrics.go:13-203).  Parity notes: the reference's record
    (models/otlp.go:134-157) carries count/sum unconditionally (proto
    zero-defaults), min/max only when present, and for exp-histogram
    drops scale/zeroCount/bucket runs entirely; summary drops
    quantileValues and has no temporality.  The wide row carries nulls
    for members a branch never sets.

    ONE ``from_json`` per payload: each family's datapoint array is
    normalized into a shared struct inside a ``transform``, the five
    arrays concatenated and exploded once.  (The previous five-branch
    union re-derived the parse subtree per family — five full JSON
    parses of every payload, the dominant cost of this source at
    scale.)  Families concatenate in proto field order.
    """
    req = F.from_json(F.col(payload_col).cast("string"), METRICS_REQUEST_SCHEMA)
    rm = df.select(F.explode(req.getField("resourceMetrics")).alias("rm"))
    sm = rm.select(F.col("rm.resource").alias("resource"), F.explode("rm.scopeMetrics").alias("sm"))
    mt = sm.select(
        "resource", F.col("sm.scope").alias("scope"), F.explode("sm.metrics").alias("m")
    )

    _null_bc = F.lit(None).cast(T.ArrayType(T.LongType()))
    _null_eb = F.lit(None).cast(T.ArrayType(T.DoubleType()))
    _empty_bc = F.array().cast(T.ArrayType(T.LongType()))
    _empty_eb = F.array().cast(T.ArrayType(T.DoubleType()))

    def _norm(kind, temporality, monotonic, *, number, buckets, minmax):
        """Normalized-datapoint array for one family: the final wide-row
        values are computed inside the transform so the exploded stream
        needs no per-family branching downstream.  Closure factory per
        the HOF lambda-arity rule."""
        def body(dp):
            return F.struct(
                F.lit(kind).alias("kind"),
                temporality.alias("tempo"),
                monotonic.alias("mono"),
                dp.getField("timeUnixNano").alias("t_ns"),
                dp.getField("startTimeUnixNano").alias("st_ns"),
                F.coalesce(dp.getField("flags"), F.lit(0)).alias("flags"),
                (
                    dp.getField("asDouble")
                    if number
                    else F.lit(None).cast("double")
                ).alias("vd"),
                (
                    dp.getField("asInt").cast("bigint")
                    if number
                    else F.lit(None).cast("bigint")
                ).alias("vi"),
                (
                    F.lit(None).cast("bigint")
                    if number
                    else F.coalesce(dp.getField("count").cast("bigint"), F.lit(0))
                ).alias("cnt"),
                (
                    F.lit(None).cast("double")
                    if number
                    else F.coalesce(dp.getField("sum"), F.lit(0.0))
                ).alias("sm"),
                (dp.getField("min") if minmax else F.lit(None).cast("double")).alias("mn"),
                (dp.getField("max") if minmax else F.lit(None).cast("double")).alias("mx"),
                (
                    F.coalesce(
                        F.transform(dp.getField("bucketCounts"), lambda x: x.cast("bigint")),
                        _empty_bc,
                    )
                    if buckets
                    else _null_bc
                ).alias("bc"),
                (
                    F.coalesce(dp.getField("explicitBounds"), _empty_eb)
                    if buckets
                    else _null_eb
                ).alias("eb"),
                dp.getField("attributes").alias("attrs"),
            )

        return body

    m = F.col("m")
    family = {
        "gauge": (
            m.getField("gauge").getField("dataPoints"),
            _norm("gauge", F.lit(None).cast("long"), F.lit(None).cast("boolean"),
                  number=True, buckets=False, minmax=False),
        ),
        "sum": (
            m.getField("sum").getField("dataPoints"),
            _norm("sum", m.getField("sum").getField("aggregationTemporality"),
                  m.getField("sum").getField("isMonotonic"),
                  number=True, buckets=False, minmax=False),
        ),
        "histogram": (
            m.getField("histogram").getField("dataPoints"),
            _norm("histogram",
                  m.getField("histogram").getField("aggregationTemporality"),
                  F.lit(None).cast("boolean"),
                  number=False, buckets=True, minmax=True),
        ),
        "exp_histogram": (
            m.getField("exponentialHistogram").getField("dataPoints"),
            _norm("exp_histogram",
                  m.getField("exponentialHistogram").getField("aggregationTemporality"),
                  F.lit(None).cast("boolean"),
                  number=False, buckets=False, minmax=True),
        ),
        "summary": (
            m.getField("summary").getField("dataPoints"),
            _norm("summary", F.lit(None).cast("long"), F.lit(None).cast("boolean"),
                  number=False, buckets=False, minmax=False),
        ),
    }
    norm_dp = T.ArrayType(T.StructType([
        T.StructField("kind", T.StringType()),
        T.StructField("tempo", T.LongType()),
        T.StructField("mono", T.BooleanType()),
        T.StructField("t_ns", T.StringType()),
        T.StructField("st_ns", T.StringType()),
        T.StructField("flags", T.LongType()),
        T.StructField("vd", T.DoubleType()),
        T.StructField("vi", T.LongType()),
        T.StructField("cnt", T.LongType()),
        T.StructField("sm", T.DoubleType()),
        T.StructField("mn", T.DoubleType()),
        T.StructField("mx", T.DoubleType()),
        T.StructField("bc", T.ArrayType(T.LongType())),
        T.StructField("eb", T.ArrayType(T.DoubleType())),
        T.StructField("attrs", _ATTR),
    ]))
    dp_all = F.concat(*(
        F.coalesce(F.transform(dps, body), F.array().cast(norm_dp))
        for dps, body in family.values()
    ))
    rows = mt.select("resource", "scope", "m", F.explode(dp_all).alias("dp"))
    return rows.select(
        _nano_ts(F.col("dp.t_ns")).alias("timestamp"),
        _nano_ts(F.col("dp.st_ns")).alias("start_timestamp"),
        F.coalesce(F.col("m.name"), F.lit("")).alias("metric_name"),
        F.coalesce(F.col("m.description"), F.lit("")).alias("metric_description"),
        F.coalesce(F.col("m.unit"), F.lit("")).alias("metric_unit"),
        # kind/flags are always set inside the struct; the coalesce only
        # restores the non-nullable schema of the old union form
        F.coalesce(F.col("dp.kind"), F.lit("")).alias("metric_type"),
        F.col("dp.tempo").cast("string").alias("aggregation_temporality"),
        F.col("dp.mono").alias("is_monotonic"),
        F.coalesce(F.col("dp.flags"), F.lit(0)).alias("flags"),
        F.col("dp.vd").alias("value_double"),
        F.col("dp.vi").alias("value_int"),
        F.col("dp.cnt").alias("count"),
        F.col("dp.sm").alias("sum"),
        F.col("dp.mn").alias("min"),
        F.col("dp.mx").alias("max"),
        F.col("dp.bc").alias("bucket_counts"),
        F.col("dp.eb").alias("explicit_bounds"),
        _attrs_to_map(F.col("resource.attributes")).alias("resource_attributes"),
        _attrs_to_map(F.col("scope.attributes")).alias("scope_attributes"),
        _attrs_to_map(F.col("dp.attrs")).alias("attributes"),
        F.coalesce(F.col("scope.name"), F.lit("")).alias("scope_name"),
        F.coalesce(F.col("scope.version"), F.lit("")).alias("scope_version"),
    )
