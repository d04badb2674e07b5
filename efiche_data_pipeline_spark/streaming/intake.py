"""The full curation intake as ONE stream: every micro-batch of
documents is (optionally canonicalized,) DECONTAMINATED against the
persisted benchmark index, DEDUPED against the ever-growing MinHash
index, and folded into the incremental release CARD — the q117
daily-drop composition running continuously, each stage consulting
history only through its compact state.

Crash-safe exactly-once by WRITE ORDER, one watermark per stage, each
stage idempotent ahead of its own watermark:

1. decontamination flags commit first (keyed ``append_new`` — the
   flags sink IS that stage's watermark; single commit, no window);
   the batch's clean set is then derived FROM THE SINK (not the
   operator's return value), so a replayed batch filters identically;
2. dedup survivors land in the kept sink (keyed) BEFORE the index
   delta commits (the dedup_stream discipline — the index is the
   dedup watermark);
3. the card folds the batch's kept docs read back through the KEPT
   SINK semi-join — so a crash after the index commit (which makes
   the dedup replay a no-op returning zero kept docs) still feeds the
   card exactly the rows it missed; the card's own monotone-id
   watermark (committed last inside the operator, WITH its sums) cuts
   anything already folded.

Every window between any two commits therefore replays to the same
final state as a crash-free run — pinned by the injected-crash tests
in tests/test_intake_stream.py, alongside stream ≡ one-shot-global
and checkpoint-restart equivalence.

Reference anchor: the reference's staging→production consumption loop
(reference: etl_pipeline.py:125-173) — re-expressed as a Structured
Streaming foreachBatch over layered parquet state, with the three
curation stages a 100 TB training-data intake actually runs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import incremental_minhash_dedup
from ..operators.sketch import incremental_dataset_card
from ..pipeline.store import Store
from .curation import stream_documents
from .driver import run_fold_stream


@dataclass(frozen=True)
class IntakeStreamReport:
    n_batches: int
    n_contaminated_total: int  # store-derived
    n_kept_total: int  # store-derived
    card: DataFrame  # the maintained release card after the run


def run_intake_stream(
    spark: SparkSession,
    source_dir: str,
    store: Store,
    checkpoint_dir: str,
    bench_index_table: str = "decontam_bench",
    flags_table: str = "decontam_flags",
    kept_table: str = "dedup_kept_docs",
    index_table: str = "minhash_sig_index",
    max_files_per_trigger: int = 1,
    threshold: float = 0.5,
    canonicalize: bool = False,
    compact_every: int | None = None,
) -> IntakeStreamReport:
    """availableNow consumption of parquet document files: the
    canonicalize → decontaminate → dedup → card chain per micro-batch.
    ``seed_benchmark_index`` must have committed the benchmark before
    the first run (the held-out set is fixed per release)."""
    from ..operators.dedup import incremental_decontamination

    def intake_batch(batch: DataFrame, batch_id: int) -> None:
        docs = batch
        if canonicalize:
            from ..functions.text import canonical_text
            from ..operators.dedup import nfc_normalize_docs

            docs = (
                nfc_normalize_docs(docs)
                .withColumn("text", canonical_text(F.col("text")))
                .localCheckpoint(eager=True)
            )
        # stage 1: decontamination (flags sink = stage watermark)
        incremental_decontamination(
            docs,
            store,
            index_table=bench_index_table,
            flags_table=flags_table,
        )
        # the clean set comes from the SINK, so a replayed batch —
        # whose operator call returns nothing — filters identically
        clean = docs
        if store.exists(flags_table):
            contaminated = (
                store.read(flags_table)
                .filter("contaminated")
                .select("doc_id")
            )
            clean = docs.join(contaminated, "doc_id", "left_anti")
        # stage 2: dedup (kept sink before index delta — the index is
        # the stage watermark)
        res = incremental_minhash_dedup(
            clean,
            store,
            index_table=index_table,
            threshold=threshold,
            commit=False,
        )
        if res.n_new > 0:
            store.append_new(
                res.kept.select("doc_id"), kept_table, key="doc_id"
            )
            store.append_version(res.index_delta, index_table)
            if compact_every and store.layer_count(index_table) >= compact_every:
                store.compact_layers(index_table)
        # stage 3: card fold over the batch's kept docs, read back
        # through the kept sink so a crash after the index commit
        # still feeds the card; the card's own watermark cuts rows
        # already folded. Runs even on res.n_new == 0 (the replay
        # path where the kept sink holds rows the card hasn't seen).
        kept_docs = docs.join(
            store.read(kept_table).select("doc_id"), "doc_id", "left_semi"
        )
        if kept_docs.limit(1).count() > 0:
            incremental_dataset_card(kept_docs, store)

    run = run_fold_stream(
        stream_documents(spark, source_dir, max_files_per_trigger),
        checkpoint_dir,
        intake_batch,
    )
    from ..operators.sketch import _card_row

    return IntakeStreamReport(
        n_batches=run.n_batches,
        n_contaminated_total=(
            store.read(flags_table).filter("contaminated").count()
            if store.exists(flags_table)
            else 0
        ),
        n_kept_total=store.count(kept_table),
        card=_card_row(store, "card_scalars", "card_kinds_sketch", 64),
    )
