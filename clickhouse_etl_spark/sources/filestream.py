"""Incremental corpus ingestion: Structured Streaming over a growing
file directory.

A 100 TB training corpus doesn't arrive in one batch — it accumulates
as parquet drops. The production pattern is a checkpointed file-source
stream: each run picks up exactly the files not yet processed (the
checkpoint holds the seen-file index), applies the cleaning chain, and
appends to the output through Spark's transactional file sink
(`_spark_metadata` commit log → exactly-once, readers never see
partial output). `maxFilesPerTrigger` bounds per-micro-batch input —
the file-source equivalent of the Kafka backpressure mapping in
streaming/runner.py (reference: backpressure via NATS pull batching,
glassflow-api/internal/ingestor/processor.go; the reference has no
file source — this is a beyond-reference capability for training-data
pipelines).

Cross-run exact dedup rides `dropDuplicates` on a content digest with
state in the same checkpoint: a document re-dropped in a later wave is
skipped forever. State grows with one (digest) row per unique doc —
bounded by corpus cardinality, the same contract as the reference's
dedup KV store (SURVEY.md §2.4); for watermark-bounded state use the
event-time dedup of ``plans.compiler.source_chain`` instead.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_file_stream(
    spark: SparkSession,
    path: str,
    schema,
    fmt: str = "parquet",
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """Streaming scan of a directory of data files (schema required —
    streaming sources never infer)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


@dataclass
class IncrementalCorpusJob:
    """Checkpointed incremental ingest: input parquet dir → cleaning
    transform → exact content dedup → partitioned parquet output.

    Each ``run_once`` processes only files added since the previous
    run (``Trigger.AvailableNow`` drains the backlog, then stops), so
    calling it from cron/orchestration gives incremental corpus
    processing with exactly-once output and no bookkeeping tables.
    """

    input_dir: str
    output_dir: str
    checkpoint_dir: str
    text_col: str = "text"
    max_files_per_trigger: Optional[int] = None
    dedup_on_content: bool = True
    partition_by: tuple = ("lang",)
    #: extra per-row transform applied before dedup (quality columns,
    #: filtering, chunking, ...); must be streaming-compatible
    transform: Optional[Callable[[DataFrame], DataFrame]] = None
    _schema: object = field(default=None, repr=False)

    def _input_schema(self, spark: SparkSession):
        if self._schema is None:
            self._schema = spark.read.parquet(self.input_dir).schema
        return self._schema

    def run_once(self, spark: SparkSession, timeout_s: float = 300.0) -> dict:
        """Drain all unprocessed input files; return run metrics."""
        df = read_file_stream(
            spark,
            self.input_dir,
            self._input_schema(spark),
            max_files_per_trigger=self.max_files_per_trigger,
        )
        if self.transform is not None:
            df = self.transform(df)
        if self.dedup_on_content:
            df = df.withColumn(
                "content_md5", F.md5(F.col(self.text_col))
            ).dropDuplicates(["content_md5"])
        writer = (
            df.writeStream.format("parquet")
            .option("path", self.output_dir)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .outputMode("append")
        )
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        query = writer.start()
        query.awaitTermination(timeout_s)
        rows_in = sum(
            int(p["numInputRows"]) for p in (query.recentProgress or [])
        )
        batches = len([p for p in (query.recentProgress or []) if int(p["numInputRows"]) > 0])
        return {"rows_in": rows_in, "batches": batches}

    def output(self, spark: SparkSession) -> DataFrame:
        """The corpus as of the last completed run (reads through the
        file-sink commit log, so never sees in-flight files)."""
        return spark.read.parquet(self.output_dir)
