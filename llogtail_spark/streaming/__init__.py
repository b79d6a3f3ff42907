"""Structured Streaming surface: the file-source stream analog of the
reference's inotify tail loop."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def start_file_stream(
    spark: SparkSession,
    schema: T.StructType,
    input_path: str,
    checkpoint_dir: str,
    process: Callable[[DataFrame, int], None],
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Stream the parquet files landing under `input_path` into
    `process(batch_df, batch_id)`, one call per micro-batch, with the
    stream's progress in `checkpoint_dir`. available_now=True drains
    the files visible now and stops; False runs continuously. Returns
    the StreamingQuery."""
    stream = spark.readStream.schema(schema)
    if max_files_per_trigger:
        stream = stream.option("maxFilesPerTrigger", str(max_files_per_trigger))
    writer = stream.parquet(input_path).writeStream.foreachBatch(process) \
        .option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
