"""File-directory source: Structured Streaming over a growing directory
of data files.

A checkpointed file-source stream picks up exactly the files not yet
processed (the checkpoint holds the seen-file index).
``maxFilesPerTrigger`` bounds per-micro-batch input — the file-source
equivalent of the Kafka backpressure mapping in streaming/runner.py
(reference: backpressure via NATS pull batching,
glassflow-api/internal/ingestor/processor.go; the reference has no
file source).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession


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
