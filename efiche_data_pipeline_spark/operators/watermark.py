"""The monotone-id guard shared by the folds that keep an id sink next
to a layered, self-watermarked table (``batch_max_id`` on every layer).

Those folds cut their input at the table's watermark, so they are only
exact when ids arrive in increasing order. File discovery order is not
id order, so the contract is checked where a batch enters, before any
commit: an id at or below the watermark that the sink has never seen
means an earlier file carried higher ids, and folding on would drop
that id's contribution for good. A crash-replayed batch is never
mistaken for one, because each fold commits its sink before its
watermark, so replayed ids are already in the sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def check_monotone_ids(
    store, ids: DataFrame, id_col: str, fold_table: str, sink_table: str
) -> None:
    """Raise ``ValueError`` when ``ids`` holds an id at or below the
    watermark of ``fold_table`` that ``sink_table`` does not hold.
    Reads only; a fresh store (either table missing) always passes."""
    if store.current_version(fold_table) is None or not store.exists(sink_table):
        return
    wm = store.read_union(fold_table).agg(F.max("batch_max_id")).first()[0]
    unseen_low = ids.select(id_col).filter(F.col(id_col) <= wm).join(
        store.read(sink_table).select(id_col), id_col, "left_anti"
    )
    if not unseen_low.isEmpty():
        raise ValueError(
            f"monotone-{id_col} contract violated: the batch carries "
            f"never-seen ids at or below the {fold_table} watermark {wm} "
            "— an earlier file carried higher ids. Feed files in id order."
        )
