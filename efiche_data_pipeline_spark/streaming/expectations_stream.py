"""Streaming expectations gate: the q208 rule sheet applied where a
production pipeline applies it — at INTAKE, per micro-batch, routing
rows instead of only reporting. Each batch is audited
(:func:`~..operators.expectations.check_expectations`), rows that
break a HARD rule are diverted to a quarantine sink tagged with the
rule ids they broke, clean rows land in the accepted sink, and the
per-batch audit rows accumulate into a ledgered audit table — the
Deequ-on-a-stream shape.

The per-batch work is :func:`expectations_gate_fold` — the fold IS
the operator (the repo's stream architecture); the stream wraps it
with availableNow file consumption. The registered q209 wrapper calls
the fold directly, batch by batch, exactly as the stream does.

Routing scope: row-level routing covers the ROW-DECIDABLE kinds —
the row-local predicates (not_null / range / regex / in_set) and
``ref`` (row-decidable against the fixed dimension key set). Dataset-
level kinds (``unique``) are AUDIT-ONLY per batch and are refused as
hard rules: a batch-local uniqueness verdict would differ from the
global one, and silently quarantining on it would lie.

Replay protocol (the ngram-stream monotone guard, repo precedent):
intake ids must be monotone across batches. The fold maintains a
watermark table of committed batch max-ids (bounded: one row per
batch ever); a redelivered batch (its max id IS a committed
watermark) is SKIPPED whole, an out-of-order or straddling batch
raises before any commit. Within a batch the commit order is
accepted → quarantine → audit → watermark LAST; the row sinks are
``append_new`` keyed on the id (idempotent under replay), the audit
append is a tolerated multiset whose reader collapses byte-identical
replay rows by DISTINCT (:func:`read_expectations_audit`).

Scale shape: per batch, one conditional-aggregation pass for the
audit plus one projection pass for routing; the ``ref`` key set
broadcasts. Nothing driver-side but the bounded audit rows and the
committed-watermark list.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.expectations import (
    _ROW_LOCAL,
    Rule,
    _violation_expr,
    check_expectations,
)
from ..pipeline.store import Store
from .driver import parquet_stream, run_fold_stream


@dataclass(frozen=True)
class ExpectationsStreamReport:
    n_batches: int  # this run only (committed, non-skipped)
    n_accepted: int  # all-time, from the accepted sink
    n_quarantined: int  # all-time, from the quarantine sink
    audit: DataFrame  # deduped all-time audit table


def read_expectations_audit(
    store: Store, audit_table: str = "expectations_audit"
) -> DataFrame:
    """The audit read: crash-window replay duplicates are
    byte-identical (same batch content → same counts), so DISTINCT
    collapses them exactly."""
    return store.read(audit_table).distinct()


def _validate_hard(rules: list[Rule], hard_rule_ids: tuple[str, ...]) -> list[Rule]:
    by_id = {r.rule_id: r for r in rules}
    missing = [h for h in hard_rule_ids if h not in by_id]
    if missing:
        raise ValueError(f"hard_rule_ids not in the sheet: {missing}")
    hard = [by_id[h] for h in hard_rule_ids]
    not_routable = [
        r.rule_id for r in hard if r.kind not in (*_ROW_LOCAL, "ref")
    ]
    if not_routable:
        raise ValueError(
            "only row-decidable kinds can be hard (a batch-local "
            "uniqueness or metric verdict is not the global one, and "
            f"metrics are not per-row at all): {not_routable}"
        )
    return hard


def _broken_rules_col(batch: DataFrame, hard: list[Rule]) -> DataFrame:
    """The input with a ``_broken`` column: the comma-joined ids of
    every hard rule the row breaks, in FIXED rule_id order so the tag
    is deterministic regardless of sheet order (ref rules mark via a
    broadcast left join against the dimension key set)."""
    out = batch
    markers = []
    for r in sorted(hard, key=lambda x: x.rule_id):
        m = f"_viol_{r.rule_id}"
        if r.kind in _ROW_LOCAL:
            out = out.withColumn(m, _violation_expr(r))
        else:  # ref — validated by _validate_hard
            keys = (
                r.ref.select(F.col(r.ref_col).alias(r.column))
                .distinct()
                .withColumn(m + "_ok", F.lit(True))
            )
            out = (
                out.join(F.broadcast(keys), r.column, "left")
                .withColumn(
                    m,
                    F.col(r.column).isNotNull()
                    & F.col(m + "_ok").isNull(),
                )
                .drop(m + "_ok")
            )
        markers.append((m, r.rule_id))
    tag = F.concat_ws(
        ",", *[F.when(F.col(m), F.lit(rid)) for m, rid in markers]
    )
    return out.withColumn("_broken", tag).drop(*[m for m, _ in markers])


def expectations_gate_fold(
    batch: DataFrame,
    store: Store,
    rules: list[Rule],
    hard_rule_ids: tuple[str, ...],
    id_col: str,
    accepted_table: str = "expectations_accepted",
    quarantine_table: str = "expectations_quarantine",
    audit_table: str = "expectations_audit",
    watermark_table: str = "expectations_watermark",
) -> int:
    """Audit + route ONE intake batch (see module docstring). Returns
    the number of rows processed (0 for an empty or replayed batch)."""
    hard = _validate_hard(rules, hard_rule_ids)
    spark = batch.sparkSession
    # The replay protocol is monotone-INTEGER id spans (the watermark
    # stores batch_max_id long); a string/date id would fail mid-fold
    # with a bare TypeError after the checkpoint — refuse it up front
    # with the contract stated (ADVICE r11).
    id_type = batch.schema[id_col].dataType.simpleString()
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"expectations gate: {id_col} must be an integer column "
            f"(monotone-id replay contract), got {id_type}"
        )
    batch = batch.localCheckpoint(eager=True)
    span = batch.agg(
        F.min(id_col).alias("lo"),
        F.max(id_col).alias("hi"),
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(F.col(id_col)).alias("nd"),
        F.sum(F.col(id_col).isNull().cast("long")).alias("nnull"),
    ).first()
    if span["hi"] is None and int(span["n"]) == 0:
        return 0  # empty batch
    # the row sinks are keyed on the id (append_new requires
    # key-unique input) and the replay guard reads id spans — a batch
    # with NULL or duplicate ids is ambiguous intake, refused whole
    # (the incremental_term_postings precedent)
    if int(span["nnull"] or 0) > 0:
        raise ValueError(
            f"expectations gate: batch contains NULL {id_col} rows — "
            "the intake id keys the sinks and the replay watermark"
        )
    if int(span["nd"]) != int(span["n"]):
        raise ValueError(
            f"expectations gate: batch contains duplicate {id_col} "
            "rows; dedupe the batch before folding"
        )
    lo, hi = int(span["lo"]), int(span["hi"])
    committed: set[int] = set()
    if store.exists(watermark_table):
        committed = {
            int(r["batch_max_id"])
            for r in store.read(watermark_table).collect()
        }  # bounded: one row per committed batch ever
    if hi in committed:
        return 0  # replayed batch: committed in full, skip
    if committed:
        wm = max(committed)
        if hi < wm:
            raise ValueError(
                f"expectations gate: batch [{lo}, {hi}] arrives OUT OF "
                f"ORDER behind the committed watermark {wm} and is not "
                "a committed replay — intake ids must be monotone "
                "across batches"
            )
        if lo <= wm:
            raise ValueError(
                f"expectations gate: batch [{lo}, {hi}] straddles the "
                f"committed watermark {wm} — intake ids must be "
                "monotone across batches"
            )
    audit = check_expectations(batch, rules).withColumn(
        "batch_max_id", F.lit(hi).cast("long")
    )
    routed = _broken_rules_col(batch, hard).localCheckpoint(eager=True)
    accepted = routed.filter(F.col("_broken") == "").drop("_broken")
    quarantined = routed.filter(F.col("_broken") != "").withColumnRenamed(
        "_broken", "broken_rules"
    )
    # commit order: row sinks (idempotent append_new) → audit
    # (multiset, reader DISTINCTs) → watermark LAST
    store.append_new(accepted, accepted_table, key=id_col)
    store.append_new(quarantined, quarantine_table, key=id_col)
    store.append(audit, audit_table)
    store.append_new(
        spark.createDataFrame([(hi,)], "batch_max_id long"),
        watermark_table,
        key="batch_max_id",
    )
    return int(span["n"])


def forget_expectation_rows(
    store: Store,
    ids: DataFrame,
    id_col: str,
    accepted_table: str = "expectations_accepted",
    quarantine_table: str = "expectations_quarantine",
) -> dict[str, int]:
    """Right-to-be-forgotten for the gate's ROW sinks: purge the ids
    from the accepted and quarantine tables — pure keyed deletes,
    blind-retry convergent, the q196/q202 degenerate case. Scope is
    deliberate: the audit ledger holds only per-rule aggregate counts
    (no row data — erasure does not reach it, and shrinking historical
    batch counts would falsify the q212 rollup), and the watermark
    table holds only batch id spans, which also guarantees a
    forgotten id cannot silently re-enter: its id range is already
    behind the committed watermark, so a re-intake is a skip or an
    ordering error, never a fold."""
    ids = ids.select(id_col).distinct().localCheckpoint(eager=True)
    out: dict[str, int] = {}
    for table in (accepted_table, quarantine_table):
        if store.exists(table):
            # record what delete_keys reports (new version for
            # versioned tables; plain tables report None → 0) instead
            # of a constant 0 placeholder (ADVICE r11)
            out[table] = store.delete_keys(table, ids, id_col) or 0
    return out


def run_expectations_gate_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    store: Store,
    checkpoint_dir: str,
    rules: list[Rule],
    hard_rule_ids: tuple[str, ...],
    id_col: str,
    accepted_table: str = "expectations_accepted",
    quarantine_table: str = "expectations_quarantine",
    audit_table: str = "expectations_audit",
    watermark_table: str = "expectations_watermark",
    max_files_per_trigger: int = 1,
) -> ExpectationsStreamReport:
    """availableNow consumption of parquet row files under
    ``source_dir``; audits each batch against ``rules``, routes rows
    breaking any hard rule to quarantine (tagged), accepts the rest.
    See the module docstring for the replay protocol and scope."""
    _validate_hard(rules, hard_rule_ids)  # fail before starting a query
    def gate(batch: DataFrame, batch_id: int) -> int:
        return expectations_gate_fold(
            batch,
            store,
            rules,
            hard_rule_ids,
            id_col,
            accepted_table=accepted_table,
            quarantine_table=quarantine_table,
            audit_table=audit_table,
            watermark_table=watermark_table,
        )

    run = run_fold_stream(
        parquet_stream(spark, source_dir, schema, max_files_per_trigger),
        checkpoint_dir,
        gate,
    )
    n_acc = store.count(accepted_table) if store.exists(accepted_table) else 0
    n_q = (
        store.count(quarantine_table)
        if store.exists(quarantine_table)
        else 0
    )
    # Schema-stable EMPTY audit frame when the source yielded no
    # batches (audit table never created): callers can always
    # .collect()/.filter() the field without a None check (ADVICE r11).
    audit = (
        read_expectations_audit(store, audit_table)
        if store.exists(audit_table)
        else spark.createDataFrame(
            [],
            "rule_id string, kind string, column string, n_rows long, "
            "n_violations long, ok boolean, batch_max_id long",
        )
    )
    return ExpectationsStreamReport(
        n_batches=sum(1 for n in run.outputs if n > 0),
        n_accepted=n_acc,
        n_quarantined=n_q,
        audit=audit,
    )
