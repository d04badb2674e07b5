"""Store hardening — the crash-window and concurrency contracts:

- ``compact``'s swap holds a readable table at every intermediate
  state (the old rmtree-then-rename left NO table if the process died
  between the two calls);
- versioned commits CLAIM their slot with an O_CREAT|O_EXCL marker, so
  the single-writer contract is enforced (the losing concurrent writer
  raises ConcurrentWriteError before touching anything) instead of
  hoped for — a crashed writer's stale claim is cleared by vacuum;
- the layered (append_version/read_union) and snapshot
  (write_version/read_version) APIs refuse to mix on one table with a
  clear error instead of silently reading a delta as a full snapshot.

Reference analogue: the reference leans on PostgreSQL transactions for
all of this (etl_pipeline.py:106-107 commits batches; the DB serializes
writers); a parquet store must build the same guarantees from rename
atomicity, which these tests pin state by state.
"""

from __future__ import annotations

import os
import shutil
import threading

import pytest
from pyspark.sql import functions as F

from efiche_data_pipeline_spark.pipeline.store import (
    ConcurrentWriteError,
    Store,
)


def _df(spark, n, tag="x"):
    return spark.range(n).select("id", F.lit(tag).alias("tag"))


# ---------------------------------------------------------------------------
# compact: atomic swap, crash-state walk
# ---------------------------------------------------------------------------
def _setup(spark, tmp_path, name):
    store = Store(spark, str(tmp_path / name))
    _df(spark, 5).repartition(4).write.parquet(store.path("t"))
    return store


def test_compact_crash_after_tmp_write(spark, tmp_path):
    """Crash after the compacted copy is written but before any rename:
    the live table is untouched; the next compact just rewrites tmp."""
    store = _setup(spark, tmp_path, "a")
    store.read("t").coalesce(1).write.mode("overwrite").parquet(
        store.path("_compact_t")
    )
    assert store.read("t").count() == 5
    assert store.compact("t", target_files=1) == 1
    assert store.read("t").count() == 5


def test_compact_crash_between_renames_recovers(spark, tmp_path):
    """THE window the old implementation got wrong: after
    final→_precompact but before tmp→final there is no table at the
    path — read() and compact() must recover the old copy."""
    store = _setup(spark, tmp_path, "b")
    os.rename(store.path("t"), store.path("_precompact_t"))
    assert not os.path.exists(store.path("t"))
    assert store.read("t").count() == 5  # recovery renames it back
    assert os.path.exists(store.path("t"))
    assert not os.path.exists(store.path("_precompact_t"))


def test_compact_crash_after_swap_cleans_leftover(spark, tmp_path):
    """Crash after tmp→final: the NEW table is live; the leftover old
    copy must be dropped, not restored over the new data."""
    store = _setup(spark, tmp_path, "c")
    # simulate: old copy parked, new (1-file) table live
    os.rename(store.path("t"), store.path("_precompact_t"))
    _df(spark, 5).coalesce(1).write.parquet(store.path("t"))
    assert store.read("t").count() == 5
    assert not os.path.exists(store.path("_precompact_t"))
    n_files = sum(
        1 for f in os.listdir(store.path("t")) if f.endswith(".parquet")
    )
    assert n_files == 1  # the new copy survived, not the 4-file old one


# ---------------------------------------------------------------------------
# single-writer CAS on versioned commits
# ---------------------------------------------------------------------------
def test_inflight_claim_makes_second_writer_raise(spark, tmp_path):
    """Deterministic form of the race: writer A holds the _claim for
    the next slot (mid-commit); writer B must raise BEFORE writing any
    layer, manifest, or pointer."""
    store = Store(spark, str(tmp_path / "cas"))
    store.append_version(_df(spark, 2, "a"), "t")
    claimed = store._claim_next_version("t")  # writer A, mid-flight
    with pytest.raises(ConcurrentWriteError, match="claimed"):
        store.append_version(_df(spark, 3, "b"), "t")
    with pytest.raises(ConcurrentWriteError):
        store.compact_layers("t")
    # A finishes: nothing B did corrupted the table
    store._release_claim("t", claimed)
    v = store.append_version(_df(spark, 3, "b"), "t")
    assert {r["tag"] for r in store.read_union("t").collect()} == {"a", "b"}
    assert v == claimed  # the freed slot is reused, no gap


def test_stale_claim_cleared_by_vacuum(spark, tmp_path):
    """A writer that crashed between claim and commit blocks the slot;
    vacuum_versions clears the stale claim and commits flow again."""
    store = Store(spark, str(tmp_path / "stale"))
    store.append_version(_df(spark, 2, "a"), "t")
    store._claim_next_version("t")  # crashed writer: claim never released
    with pytest.raises(ConcurrentWriteError):
        store.append_version(_df(spark, 2, "b"), "t")
    store.vacuum_versions("t", keep_last=5)
    v = store.append_version(_df(spark, 2, "b"), "t")
    assert v == 2
    assert store.read_union("t").count() == 4


def test_concurrent_writers_never_lose_a_commit(spark, tmp_path):
    """Two threads race append_version on one table. The enforced
    contract: either one raises ConcurrentWriteError (the other's
    commit intact), or the OS scheduler serialized them (both commit,
    both layers in the final manifest). What must NEVER happen — and
    did before the claim existed — is both 'succeeding' with one
    writer's layer missing from the current manifest."""
    store = Store(spark, str(tmp_path / "race"))
    store.append_version(_df(spark, 1, "base"), "t")
    barrier = threading.Barrier(2)
    errors: list[Exception] = []
    committed: list[str] = []

    def writer(tag: str) -> None:
        df = _df(spark, 1, tag)
        barrier.wait()
        try:
            store.append_version(df, "t")
            committed.append(tag)
        except ConcurrentWriteError as e:
            errors.append(e)

    ts = [threading.Thread(target=writer, args=(t,)) for t in ("w1", "w2")]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert len(errors) + len(committed) == 2
    tags = {r["tag"] for r in store.read_union("t").collect()}
    # every writer that reported success is actually in the union
    assert tags == {"base", *committed}


def test_failed_write_releases_claim(spark, tmp_path):
    """An exception during the snapshot write (executor failure) must
    not leave the slot claimed forever."""
    store = Store(spark, str(tmp_path / "fail"))
    poison = spark.range(1).select(
        F.assert_true(F.lit(False)).alias("boom")
    )
    with pytest.raises(Exception, match="(?i)not true"):
        store.write_version(poison, "t")
    # the failed slot was never committed (no _SUCCESS) and its claim
    # was released, so the retry REUSES it — no gap, no block
    assert store.write_version(_df(spark, 3, "ok"), "t") == 1
    assert store.read_version("t").count() == 3


# ---------------------------------------------------------------------------
# layered/snapshot API mixing guard
# ---------------------------------------------------------------------------
def test_snapshot_then_layered_raises(spark, tmp_path):
    store = Store(spark, str(tmp_path / "mix1"))
    store.write_version(_df(spark, 2), "t")
    with pytest.raises(ValueError, match="write_version"):
        store.append_version(_df(spark, 2), "t")
    with pytest.raises(ValueError, match="read_version"):
        store.read_union("t")


def test_layered_then_snapshot_raises(spark, tmp_path):
    store = Store(spark, str(tmp_path / "mix2"))
    store.append_version(_df(spark, 2, "a"), "t")
    store.append_version(_df(spark, 2, "b"), "t")
    with pytest.raises(ValueError, match="append_version"):
        store.write_version(_df(spark, 2), "t")
    with pytest.raises(ValueError, match="read_union"):
        store.read_version("t")
    # a compacted (single-layer) version reads fine through either API
    store.compact_layers("t")
    assert store.read_version("t").count() == 4
    assert store.read_union("t").count() == 4


def test_layer_count_accessor(spark, tmp_path):
    store = Store(spark, str(tmp_path / "lc"))
    assert store.layer_count("t") == 0
    store.append_version(_df(spark, 1), "t")
    assert store.layer_count("t") == 1
    store.append_version(_df(spark, 1), "t")
    assert store.layer_count("t") == 2
    store.compact_layers("t")
    assert store.layer_count("t") == 1
    # snapshot tables report 0 layers (they aren't layered at all)
    store.write_version(_df(spark, 1), "snap")
    assert store.layer_count("snap") == 0


# ---------------------------------------------------------------------------
# delete_keys — the right-to-be-forgotten primitive.
# ---------------------------------------------------------------------------
def _keys(spark, *ids):
    return spark.createDataFrame([(i,) for i in ids], "id long")


def test_delete_keys_layered_rewrites_only_affected_layers(spark, tmp_path):
    """Keys confined to layer 2: layers 1 and 3 must stay byte-
    identical on disk (file lists unchanged), the union loses exactly
    the deleted rows, and the pre-delete version still time-travels
    until vacuumed."""
    import os

    store = Store(spark, str(tmp_path / "gdpr"))
    mk = lambda lo, hi, tag: spark.createDataFrame(
        [(i, tag) for i in range(lo, hi)], "id long, tag string"
    )
    store.append_version(mk(0, 10, "a"), "t")
    store.append_version(mk(10, 20, "b"), "t")
    v3 = store.append_version(mk(20, 30, "c"), "t")

    def files_of(layer):
        d = store._vdir("t", layer)
        return sorted(
            (f, os.path.getsize(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    before_1, before_3 = files_of(1), files_of(3)
    v4 = store.delete_keys("t", _keys(spark, 12, 17), "id")
    assert v4 is not None and v4 > v3
    got = {r["id"] for r in store.read_union("t").collect()}
    assert got == set(range(30)) - {12, 17}
    assert files_of(1) == before_1 and files_of(3) == before_3
    # time travel to the pre-delete version still sees the rows
    assert {r["id"] for r in store.read_union("t", v3).collect()} == set(
        range(30)
    )
    # idempotent replay: nothing affected, version unchanged
    assert store.delete_keys("t", _keys(spark, 12, 17), "id") == v4


def test_delete_keys_purge_completes_at_vacuum(spark, tmp_path):
    """After vacuum drops the pre-delete manifests/layers, NO surviving
    parquet file anywhere under the table contains a deleted key — the
    physical-purge guarantee GDPR actually requires."""
    import os

    import duckdb

    store = Store(spark, str(tmp_path / "purge"))
    mk = lambda lo, hi: spark.createDataFrame(
        [(i, f"row{i}") for i in range(lo, hi)], "id long, payload string"
    )
    store.append_version(mk(0, 10), "t")
    store.append_version(mk(10, 20), "t")
    store.delete_keys("t", _keys(spark, 3, 15), "id")
    store.vacuum_versions("t", keep_last=1)
    survivors = []
    for root, _, names in os.walk(store.path("t")):
        survivors += [
            os.path.join(root, n) for n in names if n.endswith(".parquet")
        ]
    assert survivors
    con = duckdb.connect()
    ids = {
        r[0]
        for f in survivors
        for r in con.execute(f"SELECT id FROM read_parquet('{f}')").fetchall()
    }
    assert ids == set(range(20)) - {3, 15}
    # and the table still reads fine post-vacuum
    assert store.read_union("t").count() == 18


def test_delete_keys_snapshot_and_plain_tables(spark, tmp_path):
    store = Store(spark, str(tmp_path / "modes"))
    df = spark.createDataFrame([(i, i * 2) for i in range(10)], "id long, x long")
    store.write_version(df, "snap")
    v = store.delete_keys("snap", _keys(spark, 1, 2), "id")
    assert v == 2
    assert {r["id"] for r in store.read_version("snap").collect()} == set(
        range(10)
    ) - {1, 2}
    assert store.read_version("snap", 1).count() == 10  # time travel intact

    store.overwrite(df, "plain")
    assert store.delete_keys("plain", _keys(spark, 0, 9), "id") is None
    assert {r["id"] for r in store.read("plain").collect()} == set(range(1, 9))


def test_delete_where_retention_and_null_safety(spark, tmp_path):
    """Predicate deletes (the retention primitive): rows where the
    predicate is TRUE go; rows where it is NULL are KEPT (a NULL
    match must never silently delete). Affected-layer surgery and
    idempotency as in delete_keys."""
    store = Store(spark, str(tmp_path / "ret"))
    mk = lambda rows: spark.createDataFrame(rows, "id long, age int")
    store.append_version(mk([(0, 5), (1, 50)]), "t")
    store.append_version(mk([(2, 7), (3, None)]), "t")
    store.append_version(mk([(4, 9)]), "t")
    import os

    files_l3 = sorted(os.listdir(store._vdir("t", 3)))
    v = store.delete_where("t", F.col("age") > 30)
    got = {r["id"] for r in store.read_union("t").collect()}
    assert got == {0, 2, 3, 4}  # id 1 deleted; NULL-age id 3 kept
    assert sorted(os.listdir(store._vdir("t", 3))) == files_l3  # untouched
    assert store.delete_where("t", F.col("age") > 30) == v  # idempotent
    # snapshot mode
    store.write_version(mk([(0, 1), (1, 99)]), "snap")
    store.delete_where("snap", F.col("age") > 30)
    assert {r["id"] for r in store.read_version("snap").collect()} == {0}


def test_delete_keys_plain_preserves_partition_layout(spark, tmp_path):
    """Deleting from a hive-partitioned PLAIN table (the
    cell-partitioned IVF/SemDeDup index under append_new — and
    "forget this user's embeddings" is THE delete use-case for a
    vector store) must keep the cell_id=N directory layout and the
    readers' partition pruning, not flatten it into one directory."""
    import os

    store = Store(spark, str(tmp_path / "pp"))
    df = spark.createDataFrame(
        [(i, i % 4, f"p{i}") for i in range(40)],
        "id long, cell_id int, payload string",
    )
    store.append_new(df, "cells", key="id", partition_by=["cell_id"])
    root = store.path("cells")
    before = sorted(d for d in os.listdir(root) if d.startswith("cell_id="))
    assert len(before) == 4
    store.delete_keys("cells", _keys(spark, 5, 6, 7), "id")
    after = sorted(d for d in os.listdir(root) if d.startswith("cell_id="))
    assert after == before, (before, after)
    got = store.read("cells")
    assert {r["id"] for r in got.collect()} == set(range(40)) - {5, 6, 7}
    pruned = got.filter(F.col("cell_id") == 2)
    pruned.collect()
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "cell_id" in plan.split(
        "PartitionFilters: ["
    )[1].split("]")[0], plan


def test_delete_keys_layered_with_version_like_root_segment(spark, tmp_path):
    """A store whose ROOT path contains a v<digits> segment (e.g.
    /data/v2/store) must still tag rows with their LAYER directory,
    not the root segment: the first-match regexp tagged every row
    with the root's '2', picked the wrong affected layer, and left
    deleted keys on disk — a silent right-to-be-forgotten failure."""
    store = Store(spark, str(tmp_path / "v2" / "store"))
    mk = lambda lo, hi: spark.createDataFrame(
        [(i,) for i in range(lo, hi)], "id long"
    )
    store.append_version(mk(0, 10), "t")    # layer 1 holds the key
    store.append_version(mk(10, 20), "t")   # layer 2 untouched
    import os

    files_l2 = sorted(os.listdir(store._vdir("t", 2)))
    store.delete_keys("t", _keys(spark, 3), "id")
    assert {r["id"] for r in store.read_union("t").collect()} == set(
        range(20)
    ) - {3}
    # layer 2 (no affected keys) stayed byte-identical: the surgery
    # targeted the real containing layer, not the root-tagged one
    assert sorted(os.listdir(store._vdir("t", 2))) == files_l2


class _AppendDuringDeleteStore(Store):
    """Fires ``inject`` once, right before the delete's commit-slot
    (barrier) claim — simulating an append_version landing in the
    window between the last layer rewrite and the pointer swap."""

    def __init__(self, spark, root):
        super().__init__(spark, root)
        self.claims = 0
        self.inject = None

    def _claim_next_version(self, table):
        self.claims += 1
        if self.claims == 2 and self.inject is not None:
            inj, self.inject = self.inject, None
            inj()
        return super()._claim_next_version(table)


def test_delete_commit_preserves_concurrently_appended_layer(spark, tmp_path):
    """The layered delete's manifest + pointer commit runs under a held
    CAS claim and rebuilds the manifest from the LATEST committed
    version — so a layer appended between the rewrite and the commit
    survives in the final view instead of being silently dropped."""
    root = str(tmp_path / "race")
    store = _AppendDuringDeleteStore(spark, root)
    other = Store(spark, root)
    mk = lambda lo, hi: spark.createDataFrame(
        [(i,) for i in range(lo, hi)], "id long"
    )
    store.append_version(mk(0, 10), "t")
    store.claims = 0
    store.inject = lambda: other.append_version(mk(100, 110), "t")
    store.delete_keys("t", _keys(spark, 3), "id")
    got = {r["id"] for r in store.read_union("t").collect()}
    assert got == (set(range(10)) - {3}) | set(range(100, 110)), got
    # and the table keeps working: a further append extends the view
    store.inject = None
    store.append_version(mk(200, 205), "t")
    assert store.read_union("t").count() == 9 + 10 + 5


def test_store_doubles_accept_base_parameters():
    """Every Store subclass under tests/ (module-level or nested in a
    test) accepts each parameter of the Store method it overrides, so
    a Store API change cannot leave a crash-injection double behind."""
    import ast
    import inspect
    import pathlib

    n_doubles, drift = 0, []
    for path in sorted(pathlib.Path(__file__).parent.glob("test_*.py")):
        for cls in ast.walk(ast.parse(path.read_text())):
            if not isinstance(cls, ast.ClassDef) or not any(
                isinstance(b, ast.Name) and b.id == "Store" for b in cls.bases
            ):
                continue
            n_doubles += 1
            for fn in cls.body:
                if not isinstance(fn, ast.FunctionDef) or fn.name == "__init__":
                    continue
                if not hasattr(Store, fn.name) or fn.args.kwarg:
                    continue
                a = fn.args
                have = {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}
                want = set(inspect.signature(getattr(Store, fn.name)).parameters)
                if want - have:
                    drift.append((path.name, cls.name, fn.name, sorted(want - have)))
    assert n_doubles >= 10, n_doubles
    assert not drift, drift
