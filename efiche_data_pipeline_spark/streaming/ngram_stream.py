"""Streaming n-gram count intake: the live q186 — the heavy-hitter
watchlist's (gram, cnt) state folds file-by-file as the corpus
arrives, so "which phrases dominate the corpus so far" is always one
O(state) read away and history text is never re-tokenized for it.

Per micro-batch: ONE pre-commit validation, then ONE commit — the
:func:`~..operators.sketch.incremental_ngram_counts` atomic delta
layer (watermark inside the layer, the q140/q150 protocol, NO crash
window). This estate keeps no docs sink, so the replay/monotone guard
is derived from state the fold already persists: every committed
layer carries its ``batch_max_id``, and under the availableNow
checkpoint contract a replayed batch is bit-identical to the run that
committed it —

- batch max id > watermark, batch min id > watermark → genuinely new
  file: fold it.
- batch max id ≤ watermark AND equal to a COMMITTED layer watermark,
  with the batch's MIN id above the PREVIOUS layer's watermark → a
  crash-replay of that very batch: skip (the fold's own filter would
  keep nothing anyway; a bit-identical replay necessarily lies in
  (prev layer's watermark, matched watermark], because that is the
  range the committed run itself passed).
- batch max id equal to a committed layer watermark but MIN id at or
  below the previous layer's watermark → NOT a replay: an
  overlapping partial file from a misbehaving writer sharing a
  committed max — raise rather than silently under-count (ADVICE
  r09). Residual blind spot, documented: an overlapping file that
  shares the FIRST layer's watermark has no previous-layer bound to
  check against, and is indistinguishable from that layer's replay
  with the state this estate persists (no docs sink; only
  ``batch_max_id`` travels in the layer) — it is skipped.
- batch max id ≤ watermark but NOT a committed layer watermark → an
  out-of-order file (a later writer produced lower ids): raise with
  ZERO state committed — silently dropping it would under-count
  forever, the failure mode the guard exists to prevent.
- batch straddling the watermark (min ≤ wm < max) → the id-monotone
  writer contract is violated: raise before any commit.

Scale: per batch, one gram pass over the batch only; state is
O(distinct grams) — the exact-counts estate (q186's audited choice;
the bounded-state trade lives in q185's candidate pass).

Reference analogue: none — beyond-reference production tier, same
family as streaming/vocab_stream.py.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.bpe import FORGOTTEN_MARKER
from ..operators.sketch import incremental_ngram_counts, ngram_heavy_hitters
from ..pipeline.store import Store
from .driver import parquet_stream, run_fold_stream


@dataclass(frozen=True)
class NgramStreamReport:
    n_batches: int  # this run only
    n_docs_folded: int  # this run only
    n_grams_state: int  # all-time: distinct grams with a live count
    heavy_hitters: DataFrame | None  # the q186 read over everything seen


def run_ngram_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    store: Store,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    den: int = 1000,
    counts_table: str = "ngram_counts",
    max_files_per_trigger: int = 1,
) -> NgramStreamReport:
    """availableNow consumption of parquet document files under
    ``source_dir``; folds each batch's gram counts and returns the
    heavy-hitter read over everything ever seen."""

    def fold(batch: DataFrame, batch_id: int) -> int:
        stats = batch.agg(
            F.min(id_col).alias("mn"), F.max(id_col).alias("mx")
        ).first()
        if stats["mx"] is None:
            return 0
        mn, mx = int(stats["mn"]), int(stats["mx"])
        committed: set[int] = set()
        wm = None
        if store.current_version(counts_table) is not None:
            layers = store.read_union(counts_table).filter(
                F.col("gram") != FORGOTTEN_MARKER
            )
            committed = {
                int(r["batch_max_id"])
                for r in layers.select("batch_max_id").distinct().collect()
            }
            wm = max(committed) if committed else None
        if wm is not None and mx <= wm:
            if mx in committed:
                # a bit-identical replay of the matched layer lies
                # strictly above the PREVIOUS layer's watermark (the
                # committed run passed that very check); a lower min
                # is an overlapping partial file wearing a committed
                # max. No bound exists below the first layer — that
                # case is skipped as a replay (module docstring).
                prev = max((c for c in committed if c < mx), default=None)
                if prev is not None and mn <= prev:
                    raise ValueError(
                        f"ngram stream batch {batch_id} (ids {mn}..{mx}) "
                        f"shares committed layer watermark {mx} but dips "
                        f"to {mn}, at or below the previous layer's "
                        f"watermark {prev}: an overlapping partial file, "
                        "not a replay — folding it would double-count "
                        "the overlap and skipping it would under-count "
                        "the rest"
                    )
                return 0  # crash-replay of an already-committed batch
            raise ValueError(
                f"ngram stream batch {batch_id} (ids {mn}..{mx}) is "
                f"below the fold watermark {wm} and matches no "
                "committed layer: an out-of-order file — folding order "
                "violates the id-monotone writer contract, and "
                "silently dropping it would under-count forever"
            )
        if wm is not None and mn <= wm:
            raise ValueError(
                f"ngram stream batch {batch_id} straddles the fold "
                f"watermark {wm} (ids {mn}..{mx}): the id-monotone "
                "writer contract is violated; refusing before any "
                "commit (the fold would silently drop the low ids)"
            )
        return incremental_ngram_counts(
            batch, store, id_col, text_col, n, counts_table
        )

    run = run_fold_stream(
        parquet_stream(spark, source_dir, schema, max_files_per_trigger),
        checkpoint_dir,
        fold,
    )
    hh = None
    n_state = 0
    if store.current_version(counts_table) is not None:
        hh = ngram_heavy_hitters(store, den, counts_table).localCheckpoint(
            eager=True
        )
        n_state = (
            store.read_union(counts_table)
            .filter(F.col("gram") != FORGOTTEN_MARKER)
            .groupBy("gram")
            .agg(F.sum("cnt").alias("c"))
            .filter(F.col("c") > 0)
            .count()
        )
    return NgramStreamReport(
        n_batches=run.n_batches,
        n_docs_folded=sum(run.outputs),
        n_grams_state=n_state,
        heavy_hitters=hh,
    )
