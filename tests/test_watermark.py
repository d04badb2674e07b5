"""The shared monotone-id guard (operators/watermark.py), called on
small frames with no stream: a fresh store, a fold above the
watermark, a crash replay below it, and a genuine violation."""

from __future__ import annotations

import pytest

from efiche_data_pipeline_spark.operators.watermark import check_monotone_ids
from efiche_data_pipeline_spark.pipeline.store import Store


def _ids(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id long")


def _committed(spark, tmp_path):
    """One file with ids 3-5 folded: the sink holds them and the fold
    table's only layer carries watermark 5."""
    store = Store(spark, str(tmp_path / "store"))
    store.append_new(_ids(spark, [3, 4, 5]), "sink", "doc_id")
    store.append_version(
        spark.createDataFrame(
            [("w", 6, 5)], "word string, freq long, batch_max_id long"
        ),
        "fold",
    )
    return store


def test_empty_store_passes(spark, tmp_path):
    store = Store(spark, str(tmp_path / "store"))
    check_monotone_ids(store, _ids(spark, [0, 1]), "doc_id", "fold", "sink")
    assert not store.exists("sink") and store.current_version("fold") is None


def test_ids_above_watermark_pass(spark, tmp_path):
    store = _committed(spark, tmp_path)
    check_monotone_ids(store, _ids(spark, [6, 7, 8]), "doc_id", "fold", "sink")


def test_crash_replay_below_watermark_passes(spark, tmp_path):
    store = _committed(spark, tmp_path)
    check_monotone_ids(store, _ids(spark, [3, 4, 5]), "doc_id", "fold", "sink")


def test_unseen_id_below_watermark_raises_and_commits_nothing(spark, tmp_path):
    store = _committed(spark, tmp_path)
    with pytest.raises(ValueError, match="monotone"):
        check_monotone_ids(store, _ids(spark, [1, 7]), "doc_id", "fold", "sink")
    assert store.current_version("fold") == 1
    assert sorted(r["doc_id"] for r in store.read("sink").collect()) == [3, 4, 5]
