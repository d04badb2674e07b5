"""Streaming chunk-index intake: fold every micro-batch of documents
into the persisted content-defined chunk decomposition
(operators/dedup.py:incremental_chunk_index) — the live form of the
q128 boilerplate pipeline, for a corpus drop whose repeated-passage
statistics must stay current file-by-file.

Replay safety comes free from the fold itself: the decomposition is a
pure per-document function and the commit is one id-keyed anti-join
append (idempotent — a replayed batch's ids are already present), so
there is NO multi-commit crash window at all. The stream ≡ one global
decomposition by the same purity argument, which is why the derived
boilerplate report equals the one-shot q127 over everything the
stream has seen.

Reference analogue: none — beyond-reference production tier, same
family as streaming/quantile_stream.py.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..operators.dedup import boilerplate_report, incremental_chunk_index
from ..pipeline.store import Store
from .driver import parquet_stream, run_fold_stream


@dataclass(frozen=True)
class ChunkStreamReport:
    n_batches: int
    n_docs_folded: int
    # q127-shaped boilerplate report over all docs seen; None when the
    # stream has never consumed a document (fresh store, empty source)
    report: DataFrame | None


def run_chunk_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    store: Store,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    mod: int = 16,
    min_docs: int = 2,
    table: str = "chunk_index",
    max_files_per_trigger: int = 1,
) -> ChunkStreamReport:
    """availableNow consumption of parquet document files under
    ``source_dir`` (``schema`` describes them): each micro-batch's
    documents are chunked ONCE and folded id-keyed into the persisted
    index; the returned report reflects every file seen across all
    runs of this checkpoint."""

    def fold(batch: DataFrame, batch_id: int) -> int:
        return incremental_chunk_index(
            batch, store, table=table, id_col=id_col, text_col=text_col,
            mod=mod,
        )

    run = run_fold_stream(
        parquet_stream(spark, source_dir, schema, max_files_per_trigger),
        checkpoint_dir,
        fold,
    )
    return ChunkStreamReport(
        n_batches=run.n_batches,
        n_docs_folded=sum(run.outputs),
        report=(
            boilerplate_report(store.read(table), id_col, min_docs)
            if store.exists(table)
            else None
        ),
    )
