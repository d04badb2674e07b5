"""Streaming inverted-index intake: the live q195 — the BM25 postings
estate folds file-by-file as the corpus arrives, so ranked retrieval
over everything-seen-so-far is always one pruned read away and
history text is never re-tokenized for it.

Per micro-batch: ONE call to
:func:`~..operators.retrieval.incremental_term_postings` — the fold
carries its OWN replay watermark (the seen-docs table, committed
LAST), so the stream needs no commit of its own and no monotone-id
guard: a crash-replayed or checkpoint-redelivered batch anti-joins
against seen and folds nothing (contrast streaming/ngram_stream.py,
whose estate keeps no docs sink and must derive its guard from layer
watermarks). The fold's crash matrix (postings → doclens → seen,
read-side orphan refusal) is proven in tests/test_retrieval.py; the
stream inherits it verbatim.

Scale: per batch, one text pass over the batch only; the postings
append is hive-partitioned by term-hash prefix so later point reads
prune. Reference analogue: none — beyond-reference production tier,
same family as streaming/ngram_stream.py.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession

from ..operators.retrieval import incremental_term_postings
from ..pipeline.store import Store
from .driver import parquet_stream, run_fold_stream


@dataclass(frozen=True)
class PostingsStreamReport:
    n_batches: int  # this run only
    n_docs_folded: int  # this run only
    n_docs_indexed: int  # all-time: docs in the seen watermark


def run_postings_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    store: Store,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    postings_table: str = "term_postings",
    doclen_table: str = "doc_lengths",
    seen_table: str = "postings_seen_docs",
    max_files_per_trigger: int = 1,
) -> PostingsStreamReport:
    """availableNow consumption of parquet document files under
    ``source_dir``; folds each batch into the postings estate and
    returns the all-time indexed-doc count."""

    def fold(batch, batch_id: int) -> int:
        return incremental_term_postings(
            batch,
            store,
            id_col=id_col,
            text_col=text_col,
            postings_table=postings_table,
            doclen_table=doclen_table,
            seen_table=seen_table,
        )

    run = run_fold_stream(
        parquet_stream(spark, source_dir, schema, max_files_per_trigger),
        checkpoint_dir,
        fold,
    )
    n_indexed = (
        store.read(seen_table).select("_id").distinct().count()
        if store.exists(seen_table)
        else 0
    )
    return PostingsStreamReport(
        n_batches=run.n_batches,
        n_docs_folded=sum(run.outputs),
        n_docs_indexed=n_indexed,
    )


def run_positional_postings_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    store: Store,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    postings_table: str = "positional_postings",
    seen_table: str = "positional_seen_docs",
    max_files_per_trigger: int = 1,
) -> PostingsStreamReport:
    """The positional twin: availableNow consumption of parquet
    document files folding into the POSITIONAL index estate (the live
    q201), so proximity queries over everything-seen-so-far are always
    one pruned read away. Same watermark discipline as the BM25 stream
    above — the fold commits its own seen table LAST, so redelivered
    batches fold nothing and the stream needs no commit of its own;
    the crash matrix is the fold's (tests/test_retrieval.py)."""
    from ..operators.retrieval import incremental_positional_postings

    def fold(batch, batch_id: int) -> int:
        return incremental_positional_postings(
            batch,
            store,
            id_col=id_col,
            text_col=text_col,
            postings_table=postings_table,
            seen_table=seen_table,
        )

    run = run_fold_stream(
        parquet_stream(spark, source_dir, schema, max_files_per_trigger),
        checkpoint_dir,
        fold,
    )
    n_indexed = (
        store.read(seen_table).select("_id").distinct().count()
        if store.exists(seen_table)
        else 0
    )
    return PostingsStreamReport(
        n_batches=run.n_batches,
        n_docs_folded=sum(run.outputs),
        n_docs_indexed=n_indexed,
    )
