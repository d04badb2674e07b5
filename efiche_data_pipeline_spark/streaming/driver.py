"""The one micro-batch driver every fold-shaped stream runs through.

The reference's staging layer consumes ``WHERE processed = FALSE …
LIMIT 5000`` and then marks those rows processed (reference:
etl_pipeline.py:125-173). The Spark form of that loop is a file source
bounded by ``maxFilesPerTrigger`` (the LIMIT), drained by an
``availableNow`` query whose checkpoint is the processed flag, with
``foreachBatch`` running the fold on each micro-batch.

Every stream twin owns only its fold body and the commit order inside
it (docs/INCREMENTAL.md); starting, draining and counting the query
live here.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery


def parquet_stream(
    spark: SparkSession, source_dir: str, schema: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over the parquet files under ``source_dir``;
    ``maxFilesPerTrigger`` bounds each micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


@dataclass(frozen=True)
class FoldStreamRun:
    """What a drained query leaves for its caller. Per-run only: a run
    resumed from a checkpoint sees just its own micro-batches."""

    outputs: list[Any]  # the fold's return value per micro-batch, in order
    query: StreamingQuery  # terminated; its id keys progress events

    @property
    def n_batches(self) -> int:
        return len(self.outputs)


def run_fold_stream(
    stream: DataFrame,
    checkpoint_dir: str,
    fold: Callable[[DataFrame, int], Any],
    output_mode: str = "append",
) -> FoldStreamRun:
    """Run ``fold(batch, batch_id)`` on every micro-batch currently
    available in ``stream`` and return once the query has drained. A
    fold that raises stops the query; the error surfaces as a
    ``StreamingQueryException`` and the checkpoint keeps the batch
    for the next run."""
    outputs: list[Any] = []

    def run_batch(batch: DataFrame, batch_id: int) -> None:
        outputs.append(fold(batch, batch_id))

    query = (
        stream.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .foreachBatch(run_batch)
        .start()
    )
    query.awaitTermination()
    return FoldStreamRun(outputs, query)
