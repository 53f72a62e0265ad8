"""Dead-letter queue as a first-class table, and the one epoch write.

The reference keeps a per-pipeline NATS stream of
``{component, error, original_payload}`` with consume/state/purge APIs
(glassflow-api/internal/dlq/dlq.go:39-165). Here the DLQ is a parquet
table ``_batch_id=N/component=X/`` with the same row shape
(operators/validate.py dlq_schema) — consume/state/purge become
ordinary queries, strictly more capable than a destructive read. Every
parquet epoch (sink fallback, sink DLQ diversion, runner DLQ queries)
lands through ``write_epoch``, so a replay replaces its rows; a sink or
DLQ path belongs to one pipeline, or pipelines overwrite each other.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.validate import dlq_schema


def stamp_epoch(df: DataFrame, batch_id: int) -> DataFrame:
    """The frame with its epoch id as the ``_batch_id`` column."""
    return df.withColumn("_batch_id", F.lit(batch_id).cast("bigint"))


def write_epoch(df: DataFrame, path: str, *partition_cols: str) -> None:
    """Write one ``stamp_epoch``-stamped epoch (unstamped raises) so a
    replay replaces it: dynamic overwrite replaces only the partitions in
    ``df``, and each job stages in its own ``.spark-staging-<job>`` dir,
    so concurrent writers to one path never share ``_temporary``."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id", *partition_cols)
        .parquet(path)
    )


class DLQWriter:
    def __init__(self, path: str):
        self.path = path

    def write(self, dlq_df: DataFrame) -> None:
        """Write one stamped epoch of failure rows; the component
        partition prunes per-operator triage and keeps writers of
        different components from replacing each other's rows."""
        write_epoch(dlq_df, self.path, "component")

    def read(self, spark: SparkSession) -> DataFrame:
        """Every DLQ row with its ``_batch_id``; empty only when the path
        does not exist — any other error (e.g. a second layout) raises."""
        schema = dlq_schema().add("_batch_id", "long")
        try:
            return spark.read.schema(schema).parquet(self.path)
        except AnalysisException as err:
            if err.getCondition() != "PATH_NOT_FOUND":
                raise
            return spark.createDataFrame([], schema=schema)

    def state(self, spark: SparkSession) -> DataFrame:
        """Counts + last event per component (dlq.go 'state' API)."""
        return (
            self.read(spark)
            .groupBy("component")
            .agg(
                F.count("*").alias("n_failed"),
                F.max("dlq_ts").alias("last_failure_ts"),
            )
        )

    def consume(self, spark: SparkSession, limit: int = 1000) -> DataFrame:
        """Non-destructive batch read (the reference's consume is a
        destructive pop; batch tables make destruction unnecessary)."""
        return self.read(spark).orderBy(F.col("dlq_ts")).limit(limit)

    def purge(self) -> None:
        """Delete every DLQ row: the path goes through its Hadoop
        FileSystem (local paths and URIs alike), and ``read`` of the
        purged path is empty. A failed delete raises."""
        # imported here: the streaming modules import this one, and the
        # dataops package would then load in every Python worker
        from ..dataops.util import delete_path

        delete_path(SparkSession.active(), self.path)
