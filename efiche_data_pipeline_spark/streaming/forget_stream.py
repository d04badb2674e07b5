"""Streaming right-to-be-forgotten: takedown/GDPR requests applied
where production applies them — as they ARRIVE, per micro-batch,
across every estate the corpus store maintains about a document.

Each request file carries doc ids; each micro-batch composes the
family forgets for whichever estates exist in the store:

- **dedup estate** (`forget_documents`): kept sink, MinHash signature
  index, SimHash fingerprint index, intake PII flags, novelty scores
  + introducer credits, component labels, chunk index —
  affected-layer surgery + vacuum (the q121 walk).
- **span estate** (`forget_span_documents`): positional gram index,
  span reports WITH the retroactive shrink, seen watermark, passage
  flags (the q177 walk).
- **gate estate** (`forget_gate_documents`): negative model delta,
  ref/verdict sinks, sample redraw, re-calibration (the q178 walk).
- **tokenizer estate** (`forget_vocab_documents`): negative vocab
  delta + docs-sink purge.
- **retrieval estate** (`forget_term_documents`, r10): postings
  index, doc-length table, seen watermark — pure deletes; reads
  recompute BM25 statistics from survivors by construction.
- **positional estate** (`forget_positional_documents`, r11):
  positional postings + seen watermark — pure deletes; proximity
  scores are per-doc facts, nothing derived to shrink.

Replay protocol: every family forget is blind-retry convergent BY
CONSTRUCTION (their own crash matrices prove it — marker ledgers for
the count subtractions, pinned-recompute-then-idempotent-commits for
the retroactive shrinks, keyed deletes everywhere), so the stream
needs only ONE commit of its own: the processed-requests ledger
(``append_new`` keyed on the id), committed LAST. A crash anywhere
inside a batch replays every family against already-forgotten ids —
each re-runs to deletes-only/no-op — and then completes the ledger.

Failure contract: `forget_gate_documents` REFUSES to empty the gate's
reference slice; the stream runs that check for the whole batch
BEFORE touching any estate, so a poisoned request file raises with
zero state mutated (the family's zero-commit guard discipline) rather
than leaving the estates half-forgotten behind a forever-failing
batch.

Scale note: a takedown batch is a REQUEST LIST — bounded (human- or
legal-process-sized), which is why the gate/vocab forgets may collect
it driver-side; the per-estate costs are the adjudicated GDPR-walk
costs (docs/PLAN_AUDIT.md), not functions of the request stream.

Reference analogue: none — beyond-reference production tier; the
batch forms are q121/q177/q178.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.bpe import forget_vocab_documents
from ..operators.dedup import forget_documents, forget_span_documents
from ..operators.lm import forget_gate_documents
from ..operators.retrieval import (
    forget_positional_documents,
    forget_term_documents,
)
from ..pipeline.store import Store
from .driver import parquet_stream, run_fold_stream


@dataclass(frozen=True)
class ForgetStreamReport:
    n_batches: int  # this run only
    n_requests: int  # all-time: ids in the processed ledger
    # families applied at least once across all runs (from the store)
    families: tuple[str, ...]


def run_forget_stream(
    spark: SparkSession,
    source_dir: str,
    store: Store,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    ledger_table: str = "forget_requests",
    max_files_per_trigger: int = 1,
    vocab_text_col: str = "text",
    span_k: int = 6,
    span_min_docs: int = 2,
) -> ForgetStreamReport:
    """availableNow consumption of parquet request files (one
    ``id_col`` column) under ``source_dir``; applies every estate's
    forget per batch and returns the all-time request count.

    ``span_k``/``span_min_docs`` MUST match the parameters the span
    estate was folded with — the retroactive report recompute derives
    span extents from ``k`` (a mismatched k silently rewrites every
    holder's span lengths at the wrong granularity)."""

    def fold(batch: DataFrame, batch_id: int) -> None:
        ids = batch.select(id_col).distinct()
        if store.exists(ledger_table):
            ids = ids.join(store.read(ledger_table), id_col, "left_anti")
        ids = ids.localCheckpoint(eager=True)
        if ids.count() == 0:
            return
        # zero-commit pre-check: a request set that would empty the
        # gate's reference slice must raise BEFORE any estate mutates
        gate_live = store.current_version("gate_lm") is not None and store.exists(
            "gate_ref_docs"
        )
        id_list = sorted(int(r[id_col]) for r in ids.collect())
        if gate_live:
            survivors = store.read("gate_ref_docs").filter(
                ~F.col(id_col).isin(id_list)
            )
            if survivors.limit(1).count() == 0:
                raise ValueError(
                    f"forget batch {batch_id} would empty the gate's "
                    "reference slice — decommission the gate instead"
                )
        # dedup estate (forget_documents skips missing tables itself)
        forget_documents(store, ids, id_col=id_col)
        # span estate (skips missing tables itself)
        forget_span_documents(
            store, ids, id_col=id_col, k=span_k, min_docs=span_min_docs
        )
        # gate estate
        if gate_live:
            forget_gate_documents(store, id_list, id_col=id_col)
        # tokenizer estate
        if store.current_version("bpe_vocab") is not None and store.exists(
            "bpe_docs"
        ):
            forget_vocab_documents(
                store, id_list, id_col=id_col, text_col=vocab_text_col
            )
        # retrieval estate (pure deletes; skips missing tables itself)
        if store.exists("term_postings"):
            forget_term_documents(store, ids, id_col=id_col)
        # positional estate (pure deletes, r11)
        if store.exists("positional_postings"):
            forget_positional_documents(store, ids, id_col=id_col)
        # the stream's ONE own commit — the processed ledger, LAST:
        # every family forget above converges under blind retry, so a
        # crash before this line replays them all to no-ops
        store.append_new(ids, ledger_table, key=id_col)

    run = run_fold_stream(
        parquet_stream(spark, source_dir, f"{id_col} long", max_files_per_trigger),
        checkpoint_dir,
        fold,
    )
    fams = []
    if store.exists("dedup_kept_docs") or store.current_version(
        "minhash_sig_index"
    ) is not None:
        fams.append("dedup")
    if store.exists("span_positions"):
        fams.append("span")
    if store.current_version("gate_lm") is not None:
        fams.append("gate")
    if store.current_version("bpe_vocab") is not None:
        fams.append("vocab")
    if store.exists("term_postings"):
        fams.append("retrieval")
    if store.exists("positional_postings"):
        fams.append("positional")
    n_req = store.count(ledger_table) if store.exists(ledger_table) else 0
    return ForgetStreamReport(
        n_batches=run.n_batches,
        n_requests=n_req,
        families=tuple(fams),
    )
