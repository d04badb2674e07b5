"""The benchmark's two closed-loop workloads.

One client — the benchmark thread — issues one operation at a time into
the session. Each workload has a ``prepare`` step (part of set-up, run
once after the session starts), a ``run_pass`` step (one timed pass) and
``min_passes``, the fewest passes a run measures.
Every operation's result is checked; the check runs outside the
operation's timer. An operation that raises or fails its check is
counted as failed, its time stays in the pass, and its error text is
kept for the report.
"""

from __future__ import annotations

import glob
import hashlib
import math
import os
import random
import time
import traceback
from dataclasses import dataclass

import duckdb
import pandas as pd

import gen

# Sizes. Each run measures whole passes; a run must fit the benchmark's
# run budget on a 4-core host, so the inputs are small and the passes
# are bound by Spark's per-job fixed cost (see README.md).
INPUT_SF = 0.01
ETL_PATIENTS = 500
ETL_SAMPLE = 1000
ETL_BATCH = 500  # -> 2 ingest micro-batches
STREAM_FILES = 2

RELATIONAL = ("q01", "q03", "q07", "q09", "q11", "q15")
FAMILY_READS = ("q29", "q34", "q41", "q101")


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool
    error: str | None = None
    check_s: float = 0.0


def value_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive, type-sensitive hash of a result frame — the
    normalisation of tools/driver_sim.py (sorted columns, sorted rows,
    CSV text)."""
    pdf = pdf[sorted(pdf.columns)]
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), ignore_index=True)
    return hashlib.sha256(pdf.to_csv(index=False).encode()).hexdigest()[:16]


def registered(prefixes) -> list[str]:
    from efiche_data_pipeline_spark.plans.registry import QUERIES

    by_prefix = {name.split("_", 1)[0]: name for name in QUERIES}
    return [by_prefix[p] for p in prefixes]


class Context:
    """What a workload needs from the run: the session, the run's temp
    root, the generated inputs, the seed and (traced runs) the tracer."""

    def __init__(self, spark, tmp: str, inputs: str, seed: int, tracer, plant_wrong: bool):
        self.spark = spark
        self.tmp = tmp
        self.inputs = inputs
        self.seed = seed
        self.tracer = tracer
        self.plant_wrong = plant_wrong
        self.stores = os.path.join(tmp, "stores")
        os.makedirs(self.stores, exist_ok=True)
        self._n = 0

    def fresh_dir(self, prefix: str) -> str:
        self._n += 1
        return os.path.join(self.stores, f"{prefix}-{self._n}")

    def span(self, name: str, fn, *args):
        if self.tracer is None:
            return fn(*args)
        return self.tracer.call(name, fn, *args)

    def duck(self) -> duckdb.DuckDBPyConnection:
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.inputs}/{t}.parquet'")
        return con


def timed(name: str, fn, check) -> Op:
    """Run ``fn``; then ``check(result)`` (untimed) returns an error
    string or None."""
    t0 = time.perf_counter()
    try:
        result = fn()
    except Exception as exc:  # noqa: BLE001 - a failed op is a result
        return Op(name, time.perf_counter() - t0, False, _err(exc))
    t1 = time.perf_counter()
    try:
        problem = check(result)
    except Exception as exc:  # noqa: BLE001
        problem = "check raised: " + _err(exc)
    return Op(name, t1 - t0, problem is None, problem, time.perf_counter() - t1)


def _err(exc: BaseException) -> str:
    lines = traceback.format_exception_only(type(exc), exc)
    return "".join(lines).strip().splitlines()[-1][:400]


def oracle_hashes(ctx: Context, names: list[str]) -> dict[str, str]:
    from efiche_data_pipeline_spark.plans.registry import ORACLES

    con = ctx.duck()
    try:
        return {n: value_hash(con.execute(ORACLES[n]).fetchdf()) for n in names}
    finally:
        con.close()


def query_check(expected: str):
    def check(pdf) -> str | None:
        got = value_hash(pdf)
        return None if got == expected else f"result hash {got} != oracle {expected}"
    return check


def _parquet_count(path: str, distinct: str | None = None) -> int:
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    if not files:
        return 0
    expr = f"COUNT(DISTINCT {distinct})" if distinct else "COUNT(*)"
    return duckdb.execute(f"SELECT {expr} FROM read_parquet(?, union_by_name=true)", [files]).fetchone()[0]


def _check_run_all(root: str, stats: dict, plant_wrong: bool = False) -> str | None:
    """The run's counters against an independent recount (DuckDB over
    the parquet the run committed) and the ingest arithmetic."""
    ing, wh = stats["ingest"], stats["warehouse"]
    expect = {
        "loaded": _parquet_count(os.path.join(root, "staging"), "image_id"),
        "duplicates": ETL_SAMPLE - ing["loaded"],
        "batches": math.ceil(ing["loaded"] / ETL_BATCH),
        "unprocessed_staging": 0,
        "total_patients": ETL_PATIENTS + plant_wrong,
    }
    bad = {k: (ing[k], v) for k, v in expect.items() if ing[k] != v}
    n_enc = _parquet_count(os.path.join(root, "encounters"), "encounter_id")
    if wh.get("fact_encounters") != n_enc:
        bad["fact_encounters"] = (wh.get("fact_encounters"), n_enc)
    monthly = duckdb.execute(
        "SELECT SUM(total_encounters) FROM read_parquet(?)",
        [glob.glob(os.path.join(root, "mv_monthly_encounters", "**", "*.parquet"), recursive=True)],
    ).fetchone()[0]
    if monthly != n_enc:
        bad["mv_monthly_encounters.total"] = (monthly, n_enc)
    if "QUERY 8" not in stats["report"]:
        bad["report"] = "missing sections"
    return f"run_all counters (got, expected): {bad}" if bad else None


# ---------------------------------------------------------------------------
class AnalyticsRead:
    """Read-only queries over the generated tables, in a seeded random
    order per pass; no store writes."""

    name = "analytics_read"
    # a pass is ~5.5 s; pass_s is the median of at least two warm passes
    min_passes = 2

    def prepare(self, ctx: Context) -> None:
        from efiche_data_pipeline_spark.plans.registry import QUERIES

        self.queries = registered(RELATIONAL + FAMILY_READS)
        self.fns = {n: QUERIES[n] for n in self.queries}
        self.expected = oracle_hashes(ctx, self.queries)
        if ctx.plant_wrong:
            self.expected[self.queries[0]] = "0" * 16
        # warm-up: one untimed pass, for the JVM's JIT and the Python
        # workers; a failing query is counted in the timed passes
        for name in self.queries:
            try:
                self.fns[name](ctx.spark, ctx.inputs).toPandas()
            except Exception:  # noqa: BLE001
                pass

    def run_pass(self, ctx: Context, idx: int) -> list[Op]:
        from layers import query_span

        order = list(self.queries)
        random.Random(ctx.seed * 1009 + idx).shuffle(order)
        ops = []
        for name in order:
            fn = self.fns[name]
            ops.append(timed(
                name,
                lambda: ctx.span(query_span(fn), lambda: fn(ctx.spark, ctx.inputs).toPandas()),
                query_check(self.expected[name]),
            ))
        return ops


# ---------------------------------------------------------------------------
class WritePath:
    """The two store-writing paths, one after the other: the batch
    pipeline ``pipeline.run.run_all`` on a fresh store root, then the
    curation intake stream ``streaming.intake.run_intake_stream``
    (decontaminate -> MinHash dedup -> KMV card per micro-batch) over
    the documents split into files by monotone ``doc_id`` range, on a
    fresh store whose benchmark index is seeded before the pass."""

    name = "write_path"
    min_passes = 1

    def prepare(self, ctx: Context) -> None:
        import pyarrow.parquet as pq

        from efiche_data_pipeline_spark.operators.dedup import (
            incremental_decontamination,
            incremental_minhash_dedup,
        )
        from pyspark.sql import functions as F

        self.plant_wrong = ctx.plant_wrong
        docs = pq.read_table(os.path.join(ctx.inputs, "documents.parquet"))
        n = docs.num_rows
        cuts = sorted(random.Random(ctx.seed).sample(range(1, n), STREAM_FILES - 1))
        self.source = os.path.join(ctx.tmp, "stream-src")
        os.makedirs(self.source)
        for i, (lo, hi) in enumerate(zip([0] + cuts, cuts + [n])):
            pq.write_table(docs.slice(lo, hi - lo), os.path.join(self.source, f"part-{i:04d}.parquet"))
        self.bench = ctx.spark.createDataFrame([(p,) for p in gen.bench_passages(ctx.seed)], "text string")

        # the untimed one-shot global computation of the stream's chain
        # on its own store (it also takes the JVM's JIT warm-up)
        g = self._fresh_store(ctx)
        all_docs = ctx.spark.read.parquet(os.path.join(ctx.inputs, "documents.parquet"))
        flags = incremental_decontamination(all_docs, g)
        contaminated = [r["doc_id"] for r in flags.filter("contaminated").collect()]
        clean = all_docs.filter(~F.col("doc_id").isin(contaminated))
        kept = incremental_minhash_dedup(clean, g, threshold=0.5).kept.count()
        self.expect = (len(contaminated) + ctx.plant_wrong, kept)
        self.store = self._fresh_store(ctx)

    def _fresh_store(self, ctx: Context):
        from efiche_data_pipeline_spark.operators.dedup import seed_benchmark_index
        from efiche_data_pipeline_spark.pipeline.store import Store

        store = Store(ctx.spark, ctx.fresh_dir("intake"))
        seed_benchmark_index(store, self.bench)
        return store

    def run_pass(self, ctx: Context, idx: int) -> list[Op]:
        from efiche_data_pipeline_spark.pipeline import run as run_mod
        from efiche_data_pipeline_spark.streaming import intake

        root = ctx.fresh_dir("etl")
        store, ckpt = self.store, ctx.fresh_dir("ckpt")

        def check_stream(report) -> str | None:
            if report.n_batches != STREAM_FILES:
                return f"stream ran {report.n_batches} batches, expected {STREAM_FILES}"
            got = (report.n_contaminated_total, report.n_kept_total)
            return None if got == self.expect else f"(contaminated, kept) {got} != one-shot {self.expect}"

        return [
            timed("run_all",
                  lambda: run_mod.run_all(ctx.spark, root, n_patients=ETL_PATIENTS,
                                          sample_size=ETL_SAMPLE, batch_limit=ETL_BATCH,
                                          seed=ctx.seed),
                  lambda stats: _check_run_all(root, stats, self.plant_wrong)),
            timed("intake_stream",
                  lambda: intake.run_intake_stream(ctx.spark, self.source, store, ckpt),
                  check_stream),
        ]

    def after_pass(self, ctx: Context) -> None:
        self.store = self._fresh_store(ctx)


WORKLOADS = {w.name: w for w in (WritePath, AnalyticsRead)}
