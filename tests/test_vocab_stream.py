"""Streaming BPE-vocabulary intake (streaming/vocab_stream.py):

- merges retrained on the maintained vocab equal the one-shot global
  training over everything seen, and the per-doc token counts equal
  the one-shot q149-style counts;
- a checkpoint restart consumes only new files but reports globally;
- re-running with no new files is a pure no-op (vocab version and
  counts unchanged).
"""

from __future__ import annotations

from efiche_data_pipeline_spark.operators.bpe import (
    bpe_learn,
    bpe_token_counts,
    word_vocab,
)
from efiche_data_pipeline_spark.pipeline.store import Store
from efiche_data_pipeline_spark.streaming.vocab_stream import run_vocab_stream

_SCHEMA = "doc_id long, text string"
_MERGES = 4

_WORDS = ["low", "lower", "newest", "widest", "lowest", "newer"]


def _doc(i):
    return " ".join(_WORDS[(i * 7 + j * 5) % len(_WORDS)] for j in range(15))


def _rows(lo, hi):
    return [(i, _doc(i)) for i in range(lo, hi)]


def _write(spark, src, rows):
    spark.createDataFrame(rows, _SCHEMA).coalesce(1).write.mode("append").parquet(src)


def _merge_rows(df):
    return [
        (r["it"], r["lhs"], r["rhs"], r["pair_count"])
        for r in df.orderBy("it").collect()
    ]


def _count_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _global(spark, rows):
    docs = spark.createDataFrame(rows, _SCHEMA)
    res = bpe_learn(word_vocab(docs), _MERGES)
    return _merge_rows(res.merges), _count_rows(bpe_token_counts(docs, res.vocab))


def test_stream_equals_one_shot(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    _write(spark, src, _rows(0, 6))
    _write(spark, src, _rows(6, 12))
    store = Store(spark, str(tmp_path / "store"))
    rep = run_vocab_stream(spark, src, _SCHEMA, store, ckpt, n_merges=_MERGES)
    assert rep.n_batches >= 2 and rep.n_docs_seen == 12 and rep.n_docs_folded == 12
    want_merges, want_counts = _global(spark, _rows(0, 12))
    assert _merge_rows(rep.bpe.merges) == want_merges
    assert _count_rows(rep.token_counts) == want_counts


def test_restart_consumes_only_new_files_reports_globally(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    store = Store(spark, str(tmp_path / "store"))
    _write(spark, src, _rows(0, 6))
    rep1 = run_vocab_stream(spark, src, _SCHEMA, store, ckpt, n_merges=_MERGES)
    assert rep1.n_docs_seen == 6
    v1 = store.current_version("bpe_vocab")
    _write(spark, src, _rows(6, 10))
    rep2 = run_vocab_stream(spark, src, _SCHEMA, store, ckpt, n_merges=_MERGES)
    # only the new file folded (the checkpoint skips consumed ones)
    assert rep2.n_docs_folded == 4 and rep2.n_docs_seen == 10
    assert store.current_version("bpe_vocab") == v1 + 1
    want_merges, want_counts = _global(spark, _rows(0, 10))
    assert _merge_rows(rep2.bpe.merges) == want_merges
    assert _count_rows(rep2.token_counts) == want_counts
    # no new files: vocab untouched, report stable
    rep3 = run_vocab_stream(spark, src, _SCHEMA, store, ckpt, n_merges=_MERGES)
    assert rep3.n_docs_folded == 0
    assert store.current_version("bpe_vocab") == v1 + 1
    assert _count_rows(rep3.token_counts) == want_counts


def test_forget_vocab_documents_equals_survivor_training(spark, tmp_path):
    """GDPR for the maintained tokenizer input: after the negative
    delta, retraining from the store equals training on the surviving
    corpus alone, and the forgotten docs purge from the sink."""
    from efiche_data_pipeline_spark.operators.bpe import (
        forget_vocab_documents,
        vocab_from_store,
    )

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    _write(spark, src, _rows(0, 10))
    store = Store(spark, str(tmp_path / "store"))
    run_vocab_stream(spark, src, _SCHEMA, store, ckpt, n_merges=_MERGES)

    n = forget_vocab_documents(store, [2, 5, 7])
    assert n == 3
    survivors = [(i, _doc(i)) for i in range(10) if i not in (2, 5, 7)]
    docs = spark.createDataFrame(survivors, _SCHEMA)
    want_vocab = {r["word"]: r["freq"] for r in word_vocab(docs).collect()}
    got_vocab = {r["word"]: r["freq"] for r in vocab_from_store(store).collect()}
    assert got_vocab == want_vocab
    # the retrain sees only survivor statistics
    inc = _merge_rows(bpe_learn(vocab_from_store(store), _MERGES).merges)
    one = _merge_rows(bpe_learn(word_vocab(docs), _MERGES).merges)
    assert inc == one
    # the docs sink no longer holds the forgotten ids
    left = {r["doc_id"] for r in store.read("bpe_docs").select("doc_id").collect()}
    assert left == {i for i, _ in survivors}
    # forgetting ids that are already gone is a no-op
    assert forget_vocab_documents(store, [2]) == 0


def test_forget_crash_then_blind_retry_subtracts_once(spark, tmp_path, monkeypatch):
    """Crash between the negative-delta commit and the docs-sink
    delete, followed by a BLIND re-run of the same forget call: the
    marker ledger inside the negative layer must stop the retry from
    appending a second negative layer (the double-subtraction bug),
    leaving the vocab equal to survivor-only training."""
    import pytest

    from efiche_data_pipeline_spark.operators.bpe import (
        forget_vocab_documents,
        vocab_from_store,
    )
    from efiche_data_pipeline_spark.pipeline.store import Store as S

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    _write(spark, src, _rows(0, 10))
    store = Store(spark, str(tmp_path / "store"))
    run_vocab_stream(spark, src, _SCHEMA, store, ckpt, n_merges=_MERGES)

    real = S.delete_keys

    def boom(self, table, keys, key_col):
        raise RuntimeError("injected crash before the sink delete")

    monkeypatch.setattr(S, "delete_keys", boom)
    with pytest.raises(RuntimeError, match="injected"):
        forget_vocab_documents(store, [2, 5, 7])
    monkeypatch.setattr(S, "delete_keys", real)
    # half-done: negative layer committed, sink rows still present
    assert store.read("bpe_docs").count() == 10
    v_half = store.current_version("bpe_vocab")

    # blind retry: 0 newly subtracted, NO second negative layer, sink purged
    assert forget_vocab_documents(store, [2, 5, 7]) == 0
    assert store.current_version("bpe_vocab") == v_half
    survivors = [(i, _doc(i)) for i in range(10) if i not in (2, 5, 7)]
    docs = spark.createDataFrame(survivors, _SCHEMA)
    want = {r["word"]: r["freq"] for r in word_vocab(docs).collect()}
    got = {r["word"]: r["freq"] for r in vocab_from_store(store).collect()}
    assert got == want
    left = {r["doc_id"] for r in store.read("bpe_docs").select("doc_id").collect()}
    assert left == {i for i, _ in survivors}
    # and a third run is a pure no-op
    assert forget_vocab_documents(store, [2, 5, 7]) == 0
    assert store.current_version("bpe_vocab") == v_half


def test_crash_between_sink_and_vocab_replays_clean(spark, tmp_path, monkeypatch):
    """Crash window between the docs-sink append (first commit) and
    the vocab delta (second): the restart must replay the batch into
    the vocab WITHOUT the monotone guard false-alarming on the ids
    already present in the sink — the pinned savings_stream order."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    import efiche_data_pipeline_spark.streaming.vocab_stream as vs

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    store = Store(spark, str(tmp_path / "store"))
    _write(spark, src, _rows(0, 6))
    run_vocab_stream(spark, src, _SCHEMA, store, ckpt, n_merges=_MERGES)
    v1 = store.current_version("bpe_vocab")

    _write(spark, src, _rows(6, 10))
    real = vs.incremental_vocab

    def boom(*a, **k):
        raise RuntimeError("injected crash after the sink append")

    monkeypatch.setattr(vs, "incremental_vocab", boom)
    with pytest.raises(StreamingQueryException, match="injected"):
        run_vocab_stream(spark, src, _SCHEMA, store, ckpt, n_merges=_MERGES)
    monkeypatch.setattr(vs, "incremental_vocab", real)
    # half-done state: ids landed in the sink, vocab untouched
    assert store.read("bpe_docs").count() == 10
    assert store.current_version("bpe_vocab") == v1

    # restart: guard quiet (ids present in the sink, still above the
    # vocab watermark), batch folds exactly once, report converges
    rep = run_vocab_stream(spark, src, _SCHEMA, store, ckpt, n_merges=_MERGES)
    assert rep.n_docs_folded == 4 and rep.n_docs_seen == 10
    assert store.current_version("bpe_vocab") == v1 + 1
    want_merges, want_counts = _global(spark, _rows(0, 10))
    assert _merge_rows(rep.bpe.merges) == want_merges
    assert _count_rows(rep.token_counts) == want_counts


def test_mixed_out_of_order_batch_commits_nothing(spark, tmp_path):
    """A batch with ids straddling the watermark (some above, some
    never-seen below) must raise BEFORE any commit: no partial vocab
    layer for the above-watermark subset, no sink rows."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    store = Store(spark, str(tmp_path / "store"))
    _write(spark, src, _rows(6, 12))  # watermark lands at 11
    run_vocab_stream(spark, src, _SCHEMA, store, ckpt, n_merges=_MERGES)
    v1 = store.current_version("bpe_vocab")
    # one file mixing never-seen low ids with fresh high ids
    _write(spark, src, _rows(0, 3) + _rows(12, 15))
    with pytest.raises(StreamingQueryException, match="monotone"):
        run_vocab_stream(spark, src, _SCHEMA, store, ckpt, n_merges=_MERGES)
    # ZERO state committed: the old ordering would have folded the
    # high-id subset into the vocab before raising
    assert store.current_version("bpe_vocab") == v1
    assert store.read("bpe_docs").count() == 6


def test_out_of_order_files_fail_loudly(spark, tmp_path):
    """A file carrying ids BELOW an earlier file's max violates the
    vocab fold's monotone contract; the stream must raise rather than
    silently record docs whose words never entered the vocab."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    store = Store(spark, str(tmp_path / "store"))
    _write(spark, src, _rows(6, 12))  # high ids first
    run_vocab_stream(spark, src, _SCHEMA, store, ckpt, n_merges=_MERGES)
    _write(spark, src, _rows(0, 6))  # lower ids arrive late
    # the ValueError surfaces through awaitTermination's wrapper
    with pytest.raises(StreamingQueryException, match="monotone"):
        run_vocab_stream(spark, src, _SCHEMA, store, ckpt, n_merges=_MERGES)
    # and nothing diverged: the violating batch committed neither side
    assert store.read("bpe_docs").count() == 6
