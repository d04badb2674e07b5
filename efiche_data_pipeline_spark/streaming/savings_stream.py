"""Streaming dedup-savings dashboard: the live q166 — the per-source
exact-dedup cost-benefit sheet stays current file-by-file as the
corpus arrives, without ever rescanning history text.

Per micro-batch, two commits via operators/sketch.py:
incremental_dedup_savings — the append-only fp-keyed keeper index
FIRST (idempotent under replay), the per-source before-sums delta
carrying the replay watermark LAST — so every crash window between
them replays to convergence. The derived report equals the one-shot
global q165 over everything seen (first-arrival ≡ global-min keeper
under monotone ids + sum associativity).

Reference analogue: none — beyond-reference production tier, same
family as streaming/vocab_stream.py / mixture_stream.py.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..operators.sketch import dedup_savings_result, incremental_dedup_savings
from ..operators.watermark import check_monotone_ids
from ..pipeline.store import Store
from .driver import parquet_stream, run_fold_stream


@dataclass(frozen=True)
class SavingsStreamReport:
    n_batches: int
    n_docs_folded: int
    # q165-shaped per-source report over everything seen (None pre-data)
    report: DataFrame | None


def run_savings_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    store: Store,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
    max_files_per_trigger: int = 1,
) -> SavingsStreamReport:
    """availableNow consumption of parquet document files under
    ``source_dir``; the returned report reflects every file seen
    across all runs of this checkpoint."""

    def fold(batch: DataFrame, batch_id: int) -> int:
        ids = batch.select(id_col).distinct().localCheckpoint(eager=True)
        # the ids sink commits BEFORE the operator, so a crash-replay
        # (ids present) never trips the guard
        check_monotone_ids(store, ids, id_col, "savings_sums", "savings_ids")
        store.append_new(ids, "savings_ids", id_col)
        # no outer checkpoint: the operator pins its own watermark-
        # filtered batch, and this frame has exactly one consumer
        return incremental_dedup_savings(
            batch,
            store,
            id_col=id_col,
            source_col=source_col,
            text_col=text_col,
        )

    run = run_fold_stream(
        parquet_stream(spark, source_dir, schema, max_files_per_trigger),
        checkpoint_dir,
        fold,
    )
    # the sums table is LAYERED (append_version), so presence is a
    # committed version, not a plain _SUCCESS marker
    if store.current_version("savings_sums") is None:
        return SavingsStreamReport(run.n_batches, sum(run.outputs), None)
    return SavingsStreamReport(
        n_batches=run.n_batches,
        n_docs_folded=sum(run.outputs),
        report=dedup_savings_result(store),
    )
