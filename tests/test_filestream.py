"""File-directory stream source (sources/filestream.read_file_stream)."""

from pyspark.sql import types as T

from clickhouse_etl_spark.sources.filestream import read_file_stream


def test_read_file_stream_one_file_per_micro_batch(spark, tmp_path):
    """``max_files_per_trigger=1`` under availableNow drains a two-file
    backlog in two micro-batches that together hold every row."""
    inp = tmp_path / "in"
    inp.mkdir()
    (inp / "a.txt").write_text("a1\na2\n")
    (inp / "b.txt").write_text("b1\n")
    schema = T.StructType([T.StructField("value", T.StringType())])

    batches = []
    q = (
        read_file_stream(spark, str(inp), schema, fmt="text", max_files_per_trigger=1)
        .writeStream.foreachBatch(
            lambda df, _bid: batches.append(sorted(r.value for r in df.collect()))
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(batches) == [["a1", "a2"], ["b1"]]
