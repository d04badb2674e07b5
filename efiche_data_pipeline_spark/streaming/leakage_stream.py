"""Streaming split-leakage monitor: run the q132 intake-time check
(operators/dedup.py:incremental_split_leakage) over a document file
stream — every micro-batch's LSH pairs are tested against the
train/val/test hash-split boundary the moment the offending document
lands, so a leaking heldout set is caught DURING corpus assembly, not
by a post-hoc audit.

Crash safety is the operator's own (sink-first / watermark-last):
the pair-keyed leakage append is idempotent and the signature-index
commit is the batch watermark, so foreachBatch replays converge. The
stream ≡ one global pass by q132's pair-union argument.

Reference analogue: none — beyond-reference production tier, same
family as streaming/chunk_stream.py.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..operators.dedup import incremental_split_leakage
from ..pipeline.store import Store
from .driver import parquet_stream, run_fold_stream


@dataclass(frozen=True)
class LeakageStreamReport:
    n_batches: int
    # full maintained (doc_a, doc_b, split_a, split_b) report; None
    # when the stream has never consumed a document
    report: DataFrame | None


def run_leakage_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    store: Store,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    portable: bool = False,
    train_pct: int = 80,
    val_pct: int = 10,
    leakage_table: str = "split_leakage",
    max_files_per_trigger: int = 1,
) -> LeakageStreamReport:
    """availableNow consumption of parquet document files under
    ``source_dir``: each micro-batch runs the intake-time leakage
    check against the persisted signature index; the returned report
    reflects every file seen across all runs of this checkpoint."""

    def fold(batch: DataFrame, batch_id: int) -> None:
        incremental_split_leakage(
            batch, store,
            leakage_table=leakage_table, id_col=id_col, text_col=text_col,
            threshold=threshold, portable=portable,
            train_pct=train_pct, val_pct=val_pct,
        )

    run = run_fold_stream(
        parquet_stream(spark, source_dir, schema, max_files_per_trigger),
        checkpoint_dir,
        fold,
    )
    report = (
        store.read(leakage_table).select(
            "doc_a", "doc_b", "split_a", "split_b"
        )
        if store.exists(leakage_table)
        else None
    )
    return LeakageStreamReport(n_batches=run.n_batches, report=report)
