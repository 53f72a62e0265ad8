"""Batched, idempotent ClickHouse sink for foreachBatch.

Reference semantics (glassflow-api/internal/sink/clickhouse.go:94-752):
buffer to max_batch_size / flush every max_delay_time, one INSERT per
batch, ack on success, classify errors -> NACK-retry (retryable) or
DLQ (permanent), backtick-quote identifiers. Spark mapping:

- buffering/flush cadence -> micro-batch trigger(processingTime=
  max_delay_time) + maxOffsetsPerTrigger ≈ max_batch_size;
- worker-pool parallel mapping -> partition-parallel JDBC writes
  (numPartitions = sink parallelism);
- at-least-once + idempotency -> checkpointing + a deterministic
  ``_batch_id`` column: replays write the same (batch_id, row) keys, so
  a ReplacingMergeTree ORDER BY (batch_id, row_hash) (or any dedup-on
  key) makes redelivery harmless — the design the reference reaches
  with its 3 idempotency layers (SURVEY.md §2.4);
- error classification -> errors.classify_clickhouse_error around the
  write: RETRYABLE re-raises (Spark retries the epoch from the
  checkpoint), PERMANENT/UNKNOWN divert the batch to the DLQ.

The JDBC driver jar is not bundled; writes fall back to a parquet
"table directory" with one ``_batch_id=N/`` partition per epoch
(``dlq.write_epoch``; the path belongs to one pipeline), so the full
control flow is testable offline. Point ``jdbc_url`` at ClickHouse to go live.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..operators.validate import dlq_frame
from .dlq import DLQWriter, stamp_epoch, write_epoch
from .errors import Classification, classify_clickhouse_error


def quote_ident(name: str) -> str:
    """Backtick-quote a ClickHouse identifier (sink/quote.go:1-18)."""
    return "`" + name.replace("`", "\\`") + "`"


@dataclass
class SinkWriteReport:
    batch_id: int
    rows: int
    outcome: str  # 'written' | 'dlq' | 'retry'
    error: Optional[str] = None


@dataclass
class ClickHouseSink:
    table: str
    jdbc_url: Optional[str] = None          # jdbc:clickhouse://host:port/db
    jdbc_options: dict = field(default_factory=dict)
    parquet_fallback_path: Optional[str] = None
    dlq: Optional[DLQWriter] = None
    write_parallelism: int = 4              # ≈ reference worker pool (GOMAXPROCS-2)
    reports: list = field(default_factory=list)

    def _write_once(self, df: DataFrame) -> None:
        if self.jdbc_url:
            (
                df.repartition(self.write_parallelism)
                .write.mode("append")
                .format("jdbc")
                .option("url", self.jdbc_url)
                .option("dbtable", quote_ident(self.table))
                .options(**self.jdbc_options)
                .save()
            )
        elif self.parquet_fallback_path:
            write_epoch(df, self.parquet_fallback_path)
        else:
            raise ValueError("ClickHouseSink needs jdbc_url or parquet_fallback_path")

    def write_batch(self, df: DataFrame, batch_id: int) -> SinkWriteReport:
        """foreachBatch body: stamp the idempotency key, write, classify
        failures. Retryable errors re-raise so the streaming engine
        replays the epoch (commit-after-write ordering, exactly the
        reference's NACK path). Permanent/unknown errors divert the
        batch to the DLQ; with no DLQ wired they re-raise too, since
        returning would commit an epoch whose rows went nowhere.

        The micro-batch is evaluated exactly once: the report's row count
        is an observed metric on the write job (no post-write recount),
        observed below the stamp so the constant ``_batch_id`` partition
        column still folds and the write plans no per-row sort."""
        obs = Observation()
        try:
            self._write_once(stamp_epoch(df.observe(obs, F.count(F.lit(1)).alias("rows")), batch_id))
            report = SinkWriteReport(batch_id, obs.get["rows"], "written")
        except Exception as err:  # noqa: BLE001 — classification boundary
            cls = classify_clickhouse_error(err)
            if cls is Classification.RETRYABLE:
                report = SinkWriteReport(batch_id, -1, "retry", str(err)[:500])
                self.reports.append(report)
                raise  # streaming engine retries the epoch from checkpoint
            if self.dlq is None:
                raise  # nowhere to divert the rows: fail the epoch
            # permanent/unknown -> DLQ the whole batch payload-wise
            obs = Observation()
            failed = dlq_frame(
                df.observe(obs, F.count(F.lit(1)).alias("rows")),
                "sink",
                F.lit(f"{cls.value}: {str(err)[:200]}"),
                F.to_json(F.struct(*[F.col(c) for c in df.columns])),
            )
            self.dlq.write(stamp_epoch(failed, batch_id))
            report = SinkWriteReport(batch_id, obs.get["rows"], "dlq", str(err)[:500])
        self.reports.append(report)
        return report

    def foreach_batch(self) -> Callable[[DataFrame, int], None]:
        def fn(df: DataFrame, batch_id: int) -> None:
            self.write_batch(df, batch_id)

        return fn
