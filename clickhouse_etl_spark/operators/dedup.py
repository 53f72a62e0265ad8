"""Keyed windowed deduplication — first-wins within a time window.

Reference semantics (glassflow-api/internal/deduplication/badger/
deduplication.go:30-103 + processor/dedup_processor.go:32-82): the
first message carrying a given key value wins; later messages with the
same key are dropped until the key's TTL (= ``time_window``,
processing time) expires. The composite guarantee across the
reference's three layers is "no duplicate key within the window reaches
the sink" (SURVEY.md §2.4).

Spark mapping:
- batch: event-time window buckets — a row survives iff it is the
  first (by ``order_cols``) occurrence of its key within its tumbling
  ``window_s`` bucket. This is the deterministic, shuffle-once,
  SQL-expressible form of the TTL rule; the processing-time ->
  event-time shift is the documented divergence (SURVEY.md §7.5.2).
- streaming: ``dropDuplicatesWithinWatermark``, chosen by
  ``plans.compiler.source_chain`` for a streaming frame, gives the faithful "seen within the last window" behavior with state
  eviction by watermark.

Scale notes: both forms are a single hash shuffle on the key (plus
bucket), no skew beyond key skew itself; AQE skew handling applies.
``row_number`` keeps one row per group without materializing groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..expr.translate import ExprTranslator


def _key_col(df: DataFrame, key: str):
    """Dot-path capable key resolution (literal dotted key tried first)."""
    col, _ = ExprTranslator(df.schema)._resolve_field(key)
    return col


def dedup_first_wins(df: DataFrame, key: str, order_cols: list[str]) -> DataFrame:
    """Keep the first row per key over the whole input (window = ∞).

    ``order_cols`` define "first" deterministically (the reference uses
    arrival order; batch mode needs an explicit order).
    """
    w = Window.partitionBy(_key_col(df, key)).orderBy(*[F.col(c) for c in order_cols])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def dedup_windowed(
    df: DataFrame,
    key: str,
    ts_col: str,
    window_s: float,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Keep the first row per (key, tumbling time-window bucket).

    Bucket = floor(epoch_micros(ts) / window_µs); "first" within the
    bucket is by (ts, *order_cols) ascending. Computing the bucket in
    microseconds keeps sub-second windows exact (the duration parser
    accepts '500ms'; int-truncating that to 0 seconds used to NULL the
    bucket under ANSI-off division and silently collapse the dedup to
    whole-history). For integer-second windows the µs bucket equals the
    old seconds bucket (nested-floor identity), so existing oracles are
    unchanged.
    """
    window_us = int(round(window_s * 1_000_000))
    if window_us <= 0:
        raise ValueError(f"dedup time_window must be positive, got {window_s}s")
    bucket = F.floor(F.unix_micros(F.col(ts_col).cast("timestamp")) / F.lit(window_us))
    order = [F.col(ts_col)] + [F.col(c) for c in (order_cols or [])]
    w = Window.partitionBy(_key_col(df, key), bucket).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
