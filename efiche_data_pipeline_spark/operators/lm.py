"""N-gram language-model quality scoring — the CCNet discipline.

CCNet (Wenzek et al., LREC 2020) filters a crawled corpus by the
perplexity of a language model trained on a trusted reference slice:
documents whose cross-entropy under the reference model is high are
gibberish/boilerplate candidates; low means close to the reference
register. This module is that operator with the model Spark-native —
the model IS a DataFrame of count rows, trained with one aggregate
pass and scored with broadcast joins (a production deployment with a
real KenLM binary would swap the scorer for a mapInPandas over the
shipped model file; the join form here is the model-free equivalent
the container supports, and it is what keeps the operator
oracle-checkable).

Model: interpolated bigram LM with add-one unigram smoothing,

    P(w2 | w1) = lam * c(w1,w2)/c(w1)  +  (1-lam) * (c(w2)+1)/(N+V+1)

where c() are counts over the training slice, N its token total, V
its vocabulary size (the +1 in the denominator is the implicit OOV
bucket, so every token has P > 0). A document's score is the mean
-ln P over its bigram positions (cross-entropy, nats/token).

Engine-exactness discipline (shared with q88/q107/q113): every
per-position ln-term is rounded to a 1e-9 FIXED-POINT INTEGER before
the per-document sum, making the aggregate associative — bit-identical
across engines and across Spark's own partition orders.

Incremental maintenance (`incremental_lm`): counts are ASSOCIATIVE
sums, so the model folds batch-by-batch as layered +delta rows
committed in ONE atomic `append_version` per fold. There is NO crash
window at all: the replay watermark (the batch's max id) travels
INSIDE the same delta layer it gates, so a crash before the commit
leaves nothing and a replay of a committed batch cuts to empty and
no-ops. The model at read time is a groupBy-sum over the compact
delta layers (`Store.compact` bounds layer count); maintained counts
== one-shot global counts by commutativity of +.

Scale shape: training is one token explode, one per-document window
(the lag that forms bigrams; exchange on the id), and one
grouping-sets aggregate that produces unigram AND bigram counts in a
single exchange. The model is vocab-bounded (unigrams <= V, bigrams
<= observed adjacency, both tiny next to the corpus) — callers pin it
with an eager localCheckpoint and the scorer BROADCASTS it, so
scoring the full corpus adds one id-exchange and zero shuffle joins.
If a reference model ever outgrew broadcast, the bigram join swaps to
a shuffle join keyed on (w1, w2) with no other change.

Reference anchor: none (beyond-reference LLM-pipeline tier; the
rule-based quality family is q32/q67/q88 — this is the model-based
one they lead to).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.text import tokens
from .watermark import check_monotone_ids

LM_LAMBDA = 0.8  # bigram interpolation weight (oracle SQL mirrors it)


def _lag_frame(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(_id, pos, w2, w1) — one row per token position, ``w1`` the
    previous token (NULL at position 0).

    ZERO exchanges: the (pos, w2, w1) triples are assembled in-row
    from the token array (``transform`` over the index range; ``get``
    returns NULL below index 0, which is exactly the position-0 w1).
    The previous posexplode + window-``lag`` form paid a full shuffle
    + sort by ``_id`` — and robbed every downstream aggregate of
    map-side partial aggregation, because the token stream crossed
    the exchange row-by-row BEFORE any grouping could collapse it."""
    base = docs.select(
        F.col(id_col).alias("_id"), tokens(text_col).alias("_toks")
    )
    # NULL-text guard (config-independent): under the default
    # sizeOfNull semantics a NULL _toks already yields no rows, but
    # with spark.sql.legacy.sizeOfNull=true size(NULL) is -1 and
    # sequence(0, -2) would emit a DESCENDING [0, -1, -2] junk triple
    # per NULL-text doc — the explicit when() pins the posexplode
    # semantics (zero rows) either way, matching _gram_positions'
    # guarded shape (operators/dedup.py).
    n = F.size("_toks")
    grams = F.when(
        n >= 1,
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda p: F.struct(
                p.cast("int").alias("pos"),
                F.get("_toks", p).alias("w2"),
                F.get("_toks", p - 1).alias("w1"),
            ),
        ),
    )
    return base.select("_id", F.explode(grams).alias("g")).select(
        "_id", "g.pos", "g.w2", "g.w1"
    )


def lm_count_delta(
    train_docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Train-slice counts as (kind, w1, w2, cnt): ``kind='uni'`` rows
    (w1 NULL) are unigram counts of w2; ``kind='big'`` rows are
    bigram counts. ONE grouping-sets aggregate produces both from the
    same lag frame — `F.grouping` distinguishes the unigram grouping
    set from a genuine first-token NULL w1 (those rows are excluded
    from the bigram set, as they must be)."""
    lagf = _lag_frame(train_docs, id_col, text_col)
    counts = lagf.groupingSets([["w2"], ["w1", "w2"]], "w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.grouping("w1").alias("_g1"),
    )
    uni = counts.filter(F.col("_g1") == 1).select(
        F.lit("uni").alias("kind"),
        F.lit(None).cast("string").alias("w1"),
        "w2",
        "cnt",
    )
    big = counts.filter((F.col("_g1") == 0) & F.col("w1").isNotNull()).select(
        F.lit("big").alias("kind"), "w1", "w2", "cnt"
    )
    return uni.unionByName(big)


def ngram_lm_score(
    docs: DataFrame,
    model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = LM_LAMBDA,
) -> DataFrame:
    """Score every document with >= 2 tokens against ``model`` (a
    (kind, w1, w2, cnt) frame — pass it PINNED via localCheckpoint;
    it is consumed by three broadcast sides). Returns

        (doc_id, n_tokens, n_oov, n_hit_bigrams, xent)

    where n_oov counts tokens outside the training vocabulary,
    n_hit_bigrams the positions whose exact bigram was seen in
    training, and xent the mean -ln P(w_i | w_{i-1}) in nats/token
    (1e-9 fixed-point per-term rounding, then ROUND(.., 4))."""
    uni = model.filter(F.col("kind") == "uni").select(
        F.col("w2").alias("u_w"), F.col("cnt").alias("c1")
    )
    big = model.filter(F.col("kind") == "big").select(
        F.col("w1").alias("b_w1"),
        F.col("w2").alias("b_w2"),
        F.col("cnt").alias("c12"),
    )
    # coalesce: an EMPTY model (cold-start stream scoring before any
    # training batch) must degrade to the pure OOV-bucket probability,
    # not NULL-poison every term
    tot = uni.agg(
        F.coalesce(F.sum("c1"), F.lit(0)).cast("long").alias("n_train"),
        F.count(F.lit(1)).cast("long").alias("v_train"),
    )
    pairs = _lag_frame(docs, id_col, text_col).filter(F.col("w1").isNotNull())
    sc = (
        pairs.join(
            F.broadcast(uni.select(F.col("u_w").alias("p_w"), F.col("c1").alias("c1_prev"))),
            F.col("w1") == F.col("p_w"),
            "left",
        )
        .join(
            F.broadcast(uni.select(F.col("u_w").alias("c_w"), F.col("c1").alias("c1_cur"))),
            F.col("w2") == F.col("c_w"),
            "left",
        )
        .join(
            F.broadcast(big),
            (F.col("w1") == F.col("b_w1")) & (F.col("w2") == F.col("b_w2")),
            "left",
        )
        .crossJoin(F.broadcast(tot))
    )
    # Term AST mirrored token-for-token by the oracle SQL: the float
    # ops (two divisions, two multiplies, one add, one ln) are
    # IEEE-exact in both engines; only then the 1e-9 fixed point.
    big_part = F.when(
        F.col("c1_prev").isNotNull(),
        F.coalesce(F.col("c12"), F.lit(0)).cast("double") / F.col("c1_prev"),
    ).otherwise(F.lit(0.0))
    uni_part = (F.coalesce(F.col("c1_cur"), F.lit(0)).cast("double") + F.lit(1)) / (
        F.col("n_train") + F.col("v_train") + F.lit(1)
    )
    term_fp = (
        F.round(F.log(F.lit(lam) * big_part + F.lit(1.0 - lam) * uni_part) * F.lit(1e9))
        .cast("long")
        .alias("t")
    )
    oov = (
        F.when(F.col("c1_cur").isNull(), F.lit(1)).otherwise(F.lit(0))
        + F.when(
            (F.col("pos") == 1) & F.col("c1_prev").isNull(), F.lit(1)
        ).otherwise(F.lit(0))
    ).alias("oov")
    hit = F.when(F.col("c12").isNotNull(), F.lit(1)).otherwise(F.lit(0)).alias("hit")
    terms = sc.select(F.col("_id"), term_fp, oov, hit)
    return terms.groupBy("_id").agg(
        (F.count(F.lit(1)) + F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("oov").cast("long").alias("n_oov"),
        F.sum("hit").cast("long").alias("n_hit_bigrams"),
        F.round(
            (-(F.sum("t") / F.lit(1e9))) / F.count(F.lit(1)), 4
        ).alias("xent"),
    ).withColumnRenamed("_id", id_col)


def dsir_select(
    docs: DataFrame,
    target_model: DataFrame,
    source_model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_select: int = 100,
    lam: float = LM_LAMBDA,
    buckets: int = 64,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al.
    2023), deterministic variant: rank every document by the
    log-ratio of its probability under a TARGET model (trained on the
    trusted reference slice) vs a SOURCE model (trained on the whole
    raw pool), and keep the ``n_select`` most target-like. This is
    the importance-weighting step of domain-targeted training-data
    selection; the published method resamples with Gumbel noise,
    the deterministic top-N here is the oracle-checkable form (swap
    the final rank for hash-perturbed weights to get the sampled
    one — the q84/q99 machinery).

    Because both models' per-position ln-terms are 1e-9 fixed-point
    integers, the log-weight is an EXACT integer difference — the
    ranking is total and engine-exact, no float-order wobble.

    Returns (doc_id, n_tokens, log_weight, rank) for the selected
    docs, rank 1 = most target-like (ties to smaller id).

    Scale shape: ONE pass over the corpus text scores both models —
    six broadcast joins + two single-row cross joins on the same
    bigram frame (models are vocab-bounded; pass them PINNED); the
    per-doc aggregate reuses the bigram window's id-exchange, and the
    global rank is the bucketed two-level `global_row_number` (no
    single-task sort)."""
    from .ranking import global_row_number

    def sides(model: DataFrame, p: str):
        uni = model.filter(F.col("kind") == "uni").select(
            F.col("w2").alias(f"{p}uw"), F.col("cnt").alias(f"{p}c1")
        )
        big = model.filter(F.col("kind") == "big").select(
            F.col("w1").alias(f"{p}bw1"),
            F.col("w2").alias(f"{p}bw2"),
            F.col("cnt").alias(f"{p}c12"),
        )
        tot = uni.agg(
            F.coalesce(F.sum(f"{p}c1"), F.lit(0)).cast("long").alias(f"{p}n"),
            F.count(F.lit(1)).cast("long").alias(f"{p}v"),
        )
        return uni, big, tot

    def term_fp(p: str):
        big_part = F.when(
            F.col(f"{p}c1p").isNotNull(),
            F.coalesce(F.col(f"{p}c12"), F.lit(0)).cast("double")
            / F.col(f"{p}c1p"),
        ).otherwise(F.lit(0.0))
        uni_part = (
            F.coalesce(F.col(f"{p}c1c"), F.lit(0)).cast("double") + F.lit(1)
        ) / (F.col(f"{p}n") + F.col(f"{p}v") + F.lit(1))
        return (
            F.round(
                F.log(F.lit(lam) * big_part + F.lit(1.0 - lam) * uni_part)
                * F.lit(1e9)
            )
            .cast("long")
        )

    sc = _lag_frame(docs, id_col, text_col).filter(F.col("w1").isNotNull())
    for p, model in (("t", target_model), ("s", source_model)):
        uni, big, tot = sides(model, p)
        sc = (
            sc.join(
                F.broadcast(
                    uni.select(
                        F.col(f"{p}uw").alias(f"{p}pw"),
                        F.col(f"{p}c1").alias(f"{p}c1p"),
                    )
                ),
                F.col("w1") == F.col(f"{p}pw"),
                "left",
            )
            .join(
                F.broadcast(
                    uni.select(
                        F.col(f"{p}uw").alias(f"{p}cw"),
                        F.col(f"{p}c1").alias(f"{p}c1c"),
                    )
                ),
                F.col("w2") == F.col(f"{p}cw"),
                "left",
            )
            .join(
                F.broadcast(big),
                (F.col("w1") == F.col(f"{p}bw1"))
                & (F.col("w2") == F.col(f"{p}bw2")),
                "left",
            )
            .crossJoin(F.broadcast(tot))
        )
    per_doc = (
        sc.select(
            F.col("_id"), term_fp("t").alias("tt"), term_fp("s").alias("ts")
        )
        .groupBy("_id")
        .agg(
            (F.count(F.lit(1)) + F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("tt").alias("stt"),
            F.sum("ts").alias("sts"),
        )
        .withColumn("_lw", (F.col("stt") - F.col("sts")).cast("long"))
        .withColumn("_neg", -F.col("_lw"))
    )
    ranked = global_row_number(per_doc, ["_neg", "_id"], "rank", buckets)
    return (
        ranked.filter(F.col("rank") <= n_select)
        .select(
            F.col("_id").alias(id_col),
            "n_tokens",
            F.round(F.col("_lw").cast("double") / F.lit(1e9), 4).alias(
                "log_weight"
            ),
            F.col("rank").cast("long").alias("rank"),
        )
    )


@dataclass(frozen=True)
class IncrementalLmResult:
    n_new: int
    version: int | None


def incremental_lm(
    new_docs: DataFrame,
    store,
    id_col: str = "doc_id",
    text_col: str = "text",
    model_table: str = "lm_model",
) -> IncrementalLmResult:
    """Fold a batch of training documents into the layered count
    model. ONE atomic commit per fold — the delta layer carries
    ``batch_max_id`` (the replay watermark) alongside the counts it
    gates, so there is no crash window: nothing-or-everything per
    fold, and a replayed committed batch cuts to empty and no-ops.

    Batch contract (the family's): ``id_col`` monotone across
    batches. Cost: one token pass over the BATCH only (history text
    is never re-read); the watermark probe reads one pruned column of
    the compact model layers."""
    wm = None
    if store.current_version(model_table) is not None:
        wm = store.read_union(model_table).agg(F.max("batch_max_id")).first()[0]
    fresh = new_docs.filter(F.col(id_col) > wm) if wm is not None else new_docs
    batch = fresh.agg(F.count(F.lit(1)).alias("n"), F.max(id_col).alias("mx")).first()
    if batch["n"] == 0:
        return IncrementalLmResult(0, store.current_version(model_table))
    delta = lm_count_delta(fresh, id_col, text_col).withColumn(
        "batch_max_id", F.lit(int(batch["mx"])).cast("long")
    )
    version = store.append_version(delta, model_table)
    return IncrementalLmResult(int(batch["n"]), version)


def lm_model_from_store(store, model_table: str = "lm_model") -> DataFrame:
    """The current model: sum the layered ±deltas. Equal to the
    one-shot `lm_count_delta` over every folded batch MINUS every
    forgotten one, by associativity (negative layers come from
    :func:`forget_gate_documents`); callers pin the (vocab-bounded)
    result before scoring with it. Counts cancelled to zero are
    DROPPED — a 0-count unigram row would inflate the smoothing
    vocabulary size versus a survivor-trained model, breaking the
    forgotten ≡ survivor-trained equivalence (it also filters the
    freq-0 retry-ledger marker rows, which never reach any sum)."""
    return (
        store.read_union(model_table)
        .groupBy("kind", "w1", "w2")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
        .filter(F.col("cnt") > 0)
    )


@dataclass(frozen=True)
class GateCalibration:
    model_version: int
    n_ref: int
    k: int
    threshold: float


def read_calibration(
    store, calib_table: str = "gate_calibration"
) -> GateCalibration:
    """The CURRENT committed calibration snapshot, read-only — no
    re-derivation, no version bump, no state mutated. This is the
    report/monitoring path (ADVICE r08: a pure read must not commit);
    :func:`calibrate_quality_gate` is the write path and every
    ref-bearing fold commits a fresh snapshot, so the stored row is
    always the calibration currently in force. Raises if none was
    ever committed."""
    if store.current_version(calib_table) is None:
        raise ValueError(
            f"read_calibration: no calibration committed in {calib_table}"
        )
    row = store.read_version(calib_table).first()
    return GateCalibration(
        int(row["model_version"]),
        int(row["n_ref"]),
        int(row["k"]),
        float(row["threshold"]),
    )


def _ref_sample_fold(
    store,
    batch: DataFrame | None,
    id_col: str,
    text_col: str,
    k: int,
    ref_table: str,
    sample_table: str,
) -> DataFrame:
    """Maintain the bounded reference sample the gate re-scores under
    :func:`calibrate_quality_gate`'s ``max_ref_sample`` mode: the k
    reference docs with the SMALLEST portable id-hashes, text carried
    alongside. The hash plays the role of a uniform random draw while
    staying a pure function of the id, and bottom-k is closed under
    union (the KMV/q118 closure: the union's k smallest hashes lie in
    each side's k smallest) — so folding each batch's bottom-k into
    the stored sample yields EXACTLY the sample a global pass over the
    full reference sink would draw, and replaying a committed batch is
    a distinct-union no-op. First call on a store whose ref sink
    predates sampling seeds the sample from the full sink (O(ref)
    once). Both rank cuts use the bucketed two-level
    ``global_row_number`` — no single-task sort at any size."""
    from ..functions.hashing import portable_hash60
    from .ranking import global_row_number

    h = portable_hash60(F.col(id_col).cast("string"))
    seed_needed = store.current_version(sample_table) is None
    if batch is None and not seed_needed:
        # pure recompute (no new refs): the stored sample IS the state
        return store.read_version(sample_table)
    src = None
    if batch is not None:
        src = batch.select(id_col, text_col)
    if seed_needed and store.exists(ref_table):
        # the ref sink commits BEFORE this fold, so it already holds
        # the batch — distinct the union rather than double-draw it
        sink = store.read(ref_table).select(id_col, text_col)
        src = (sink if src is None else sink.unionByName(src)).distinct()
    if src is None:
        raise ValueError(
            "calibrate_quality_gate: sampling enabled but no reference "
            "documents exist to sample from"
        )
    cut = (
        global_row_number(
            src.withColumn("_h", h), ["_h", id_col], out_col="_rn"
        )
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
    if not seed_needed:
        cut = store.read_version(sample_table).unionByName(cut)
        cut = (
            global_row_number(cut.distinct(), ["_h", id_col], out_col="_rn")
            .filter(F.col("_rn") <= k)
            .drop("_rn")
        )
    merged = cut.localCheckpoint(eager=True)
    # stamp the configured k in the table's layout sidecar: a forget's
    # redraw must use the TRUE k, not the current row count (a slice
    # smaller than k would otherwise shrink the cap permanently and
    # break the maintained ≡ global-draw closure for later folds)
    store.write_layout_meta(sample_table, {"sample_k": int(k)})
    store.write_version(merged, sample_table)
    return merged


def calibrate_quality_gate(
    store,
    new_ref_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    model_table: str = "gate_lm",
    ref_table: str = "gate_ref_docs",
    calib_table: str = "gate_calibration",
    pct_num: int = 9,
    pct_den: int = 10,
    max_ref_sample: int | None = None,
    sample_table: str = "gate_ref_sample",
) -> GateCalibration:
    """Fold new TRUSTED-reference documents into the gate's layered LM
    and re-derive the percentile calibration — the maintained half of
    q159 (CCNet threshold setting). The reference slice is the small
    retained trusted set (a Wikipedia-scale corpus next to a 100 TB
    pool), so re-scoring IT per calibration is the honest O(ref)
    cost; the pool — the part that is actually 100 TB — is never
    touched here and never re-read anywhere.

    Commit order (the savings_stream/vocab_stream pinned protocol):
    a pre-commit monotone guard (never-seen ids at or below the model
    watermark raise with ZERO state committed), then the ref-docs
    sink FIRST (idempotent ``append_new``), the model delta SECOND
    (ONE atomic layer, watermark inside — ``incremental_lm``), and
    the calibration snapshot LAST (``write_version`` of one row that
    is a pure function of (model, ref sink), so any replay recomputes
    it bit-identically). Every crash window replays to convergence.

    Threshold semantics are q159's verbatim: the exact k-th smallest
    reference xent with k = ceil(pct · n_ref) as an integer order
    statistic via the bucketed two-level global_row_number — no float
    percentile interpolation, no single-task sort.

    ``max_ref_sample`` bounds the re-score (VERDICT r08 Next #7, the
    gate-stream honesty note): when set, each calibration re-scores
    only the MAINTAINED bottom-k id-hash sample of the reference
    slice (:func:`_ref_sample_fold` — the q118 closure, so the
    maintained sample equals the global draw and each fold costs
    O(batch + k), not O(ref slice)), and the threshold becomes the
    percentile of the sample's xents: a uniform-sample estimate of
    the slice percentile (~1/sqrt(k) rank error), with ``n_ref``/``k``
    reported against the sample basis. A sample at least as large as
    the slice reproduces the exact path bit-for-bit (the equivalence
    test pins it). Default None keeps the exact full-slice re-score —
    the honest O(ref) cost while the trusted slice stays small."""
    from .ranking import global_row_number

    if new_ref_docs is not None:
        batch = new_ref_docs.select(id_col, text_col).localCheckpoint(eager=True)
        check_monotone_ids(store, batch, id_col, model_table, ref_table)
        store.append_new(batch, ref_table, key=id_col)
        incremental_lm(
            batch, store, id_col=id_col, text_col=text_col, model_table=model_table
        )
    version = store.current_version(model_table)
    if version is None:
        raise ValueError(
            "calibrate_quality_gate: no reference documents have ever "
            "been folded — seed with a non-empty trusted slice"
        )
    model = lm_model_from_store(store, model_table).localCheckpoint(eager=True)
    if max_ref_sample is not None:
        ref_src = _ref_sample_fold(
            store,
            batch if new_ref_docs is not None else None,
            id_col,
            text_col,
            max_ref_sample,
            ref_table,
            sample_table,
        ).select(id_col, text_col)
    else:
        ref_src = store.read(ref_table)
    ref_scores = ngram_lm_score(
        ref_src, model, id_col, text_col
    ).localCheckpoint(eager=True)
    # ONE job derives (n_ref, threshold): the ranked pass carries the
    # total through the offsets broadcast (global_row_number
    # total_col), and k = ceil(pct · n) is evaluated in-row with
    # integer div — the separate count job the old shape paid per
    # calibration fold is gone. Exact k-th order statistic either way.
    ranked = global_row_number(
        ref_scores.select(id_col, "xent"),
        ["xent", id_col],
        out_col="rn",
        total_col="_n_ref",
    )
    row = ranked.filter(
        F.col("rn")
        == F.expr(f"(_n_ref * {int(pct_num)} + {int(pct_den) - 1}) div {int(pct_den)}")
    ).select("xent", "_n_ref").first()
    if row is None:
        raise ValueError(
            "calibrate_quality_gate: the reference slice has no "
            "scoreable (>= 2 token) documents — no percentile exists"
        )
    n_ref = int(row["_n_ref"])
    k = (n_ref * pct_num + pct_den - 1) // pct_den
    threshold = float(row["xent"])
    calib = store.spark.createDataFrame(
        [(int(version), int(n_ref), int(k), threshold)],
        "model_version int, n_ref long, k long, threshold double",
    )
    store.write_version(calib, calib_table)
    return GateCalibration(int(version), int(n_ref), int(k), threshold)


def gate_pool_batch(
    pool_docs: DataFrame,
    store,
    id_col: str = "doc_id",
    text_col: str = "text",
    model_table: str = "gate_lm",
    calib_table: str = "gate_calibration",
    scores_table: str = "gate_scores",
) -> int:
    """Score a POOL batch under the CURRENT calibration and append the
    kept (at-or-below-threshold) rows to the id-keyed scores sink —
    q159's gate moved to intake time. Each row records the
    ``model_version`` and ``threshold`` it was judged under
    (version-tagged online scores), so a later re-calibration changes
    only FUTURE batches — the CCNet deployment semantics, where a
    gate verdict is made once, at ingest, under the calibration then
    in force.

    Maintained ≡ global holds EXACTLY whenever the full reference
    slice folds before the first pool batch (the registered q170
    shape: calibration is a pure function of the complete trusted
    set, gating a pure per-doc function of (doc, frozen model) — so
    batch-by-batch equals the one-shot q159 verbatim). Under
    mid-stream re-calibration the sink is the version-tagged union
    the production semantics call for, and the q143 drift gate
    decides when re-calibration happens.

    Replay-safe: already-scored ids cut up front (the sink is its own
    watermark); the model is read AT the calibration's pinned version,
    so a concurrent model fold never skews an in-flight batch.
    Returns the number of newly gated-in documents."""
    if store.current_version(calib_table) is None:
        raise ValueError(
            "gate_pool_batch: no calibration committed — run "
            "calibrate_quality_gate first"
        )
    calib = store.read_version(calib_table).first()
    fresh = pool_docs.select(id_col, text_col)
    if store.exists(scores_table):
        fresh = fresh.join(
            store.read(scores_table).select(id_col), id_col, "left_anti"
        )
    model = (
        store.read_union(model_table, version=int(calib["model_version"]))
        .groupBy("kind", "w1", "w2")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
        .filter(F.col("cnt") > 0)  # drop forget-cancelled counts/markers
        .localCheckpoint(eager=True)
    )
    from pyspark.sql import Observation

    # One evaluation instead of three jobs: the row count rides the
    # append's own job as an observed metric (no checkpoint pin, no
    # separate count). Appending an empty frame is a semantic no-op
    # (append_new is keyed), so the n == 0 case needs no gate.
    obs = Observation()
    kept = (
        ngram_lm_score(fresh, model, id_col, text_col)
        .filter(F.col("xent") <= F.lit(float(calib["threshold"])))
        .withColumn("threshold", F.lit(float(calib["threshold"])))
        .withColumn(
            "model_version", F.lit(int(calib["model_version"])).cast("int")
        )
        .observe(obs, F.count(F.lit(1)).alias("n"))
    )
    store.append_new(kept, scores_table, key=id_col)
    return int(obs.get["n"])


def forget_gate_documents(
    store,
    ids: list[int],
    id_col: str = "doc_id",
    text_col: str = "text",
    model_table: str = "gate_lm",
    ref_table: str = "gate_ref_docs",
    calib_table: str = "gate_calibration",
    scores_table: str = "gate_scores",
    docs_table: str = "gate_docs",
    sample_table: str = "gate_ref_sample",
    pct_num: int = 9,
    pct_den: int = 10,
) -> GateCalibration:
    """Right-to-be-forgotten for the CALIBRATED-GATE family — the
    count-table twin of forget_vocab_documents composed across every
    table the gate maintains: the layered n-gram model (forgotten
    REFERENCE docs' counts subtracted as one atomic negative delta —
    counts are associative sums, so the model then equals training on
    the survivors alone), the reference sink, the intake docs sink,
    the online verdict sink, the bounded re-score sample (re-seeded
    from the survivor sink — a hole-punched sample would no longer be
    the global bottom-k draw), and finally a RE-CALIBRATION commit so
    the stored threshold is a pure function of surviving state only.
    Already-shipped verdicts for OTHER documents stand (version-tagged
    at-intake semantics); the forgotten ids' own verdict rows purge.

    Blind-retry safe, the forget_vocab_documents protocol: each
    forgotten REF id is recorded as a cnt=0 ``(forgotten)`` marker row
    committed INSIDE the same atomic negative layer (kind never
    matches 'uni'/'big', and `lm_model_from_store`'s cnt>0 filter
    drops markers and cancelled counts alike), so a crash anywhere
    re-runs to deletes-only; every delete is keyed and idempotent,
    and the sample re-seed + re-calibration are pure recomputes of
    surviving state. Raises BEFORE any mutation if the forget would
    eliminate the entire reference slice — a gate with no trusted
    references cannot stay calibrated; decommission it instead.

    Returns the post-forget calibration."""
    from ..operators.bpe import FORGOTTEN_MARKER

    wanted = sorted({int(i) for i in ids})
    if store.current_version(model_table) is None or not store.exists(ref_table):
        raise ValueError("forget_gate_documents: no calibrated gate exists")
    survivors = store.read(ref_table).filter(~F.col(id_col).isin(wanted))
    if survivors.limit(1).count() == 0:
        raise ValueError(
            "forget_gate_documents: the forget set covers the entire "
            "reference slice — the gate cannot stay calibrated; "
            "decommission it instead of forgetting it empty"
        )
    # retry ledger: ids whose negative delta already committed
    already = {
        int(r["batch_max_id"])
        for r in store.read_union(model_table)
        .filter(
            (F.col("kind") == FORGOTTEN_MARKER)
            & F.col("batch_max_id").isin(wanted)
        )
        .select("batch_max_id")
        .distinct()
        .collect()
    }
    pending = [i for i in wanted if i not in already]
    gone = (
        store.read(ref_table)
        .filter(F.col(id_col).isin(pending))
        .localCheckpoint(eager=True)
    )
    gone_ids = sorted(
        int(r[id_col]) for r in gone.select(id_col).distinct().collect()
    )
    if gone_ids:
        wm = store.read_union(model_table).agg(F.max("batch_max_id")).first()[0]
        neg = lm_count_delta(gone, id_col, text_col).select(
            "kind",
            "w1",
            "w2",
            (-F.col("cnt")).alias("cnt"),
        ).withColumn("batch_max_id", F.lit(int(wm)).cast("long"))
        markers = gone.sparkSession.createDataFrame(
            [(FORGOTTEN_MARKER, None, None, 0, i) for i in gone_ids],
            "kind string, w1 string, w2 string, cnt long, batch_max_id long",
        )
        store.append_version(neg.unionByName(markers), model_table)
    # keyed deletes — each idempotent under blind retry
    key_frame = store.spark.createDataFrame(
        [(i,) for i in wanted], f"{id_col} long"
    )
    # key_frame is a tiny key-unique local relation: recompute is free,
    # so the defensive distinct+pin job per table is pure overhead
    store.delete_keys(ref_table, key_frame, id_col, pinned=True)
    for t in (docs_table, scores_table):
        if store.exists(t):
            store.delete_keys(t, key_frame, id_col, pinned=True)
    # re-seed the bounded sample from the survivor sink (pure
    # recompute; write_version is idempotent); then re-calibrate so
    # the stored snapshot derives from surviving state only
    sample_k = None
    if store.current_version(sample_table) is not None:
        meta = store.read_layout_meta(sample_table) or {}
        sample_k = int(
            meta.get("sample_k") or store.read_version(sample_table).count()
        )
        # preserve the sample CAP the deployment chose (the sidecar
        # value, not the current row count — a slice smaller than k
        # must not shrink the cap permanently); the content redraws
        # from the survivor sink directly (the stored sample may
        # contain forgotten ids, so _ref_sample_fold's no-batch fast
        # path — which trusts the stored sample — cannot be used)
        from ..functions.hashing import portable_hash60
        from .ranking import global_row_number

        redraw = (
            global_row_number(
                store.read(ref_table)
                .select(id_col, text_col)
                .withColumn(
                    "_h", portable_hash60(F.col(id_col).cast("string"))
                ),
                ["_h", id_col],
                out_col="_rn",
            )
            .filter(F.col("_rn") <= sample_k)
            .drop("_rn")
            .localCheckpoint(eager=True)
        )
        store.write_version(redraw, sample_table)
    return calibrate_quality_gate(
        store,
        None,
        id_col=id_col,
        text_col=text_col,
        model_table=model_table,
        ref_table=ref_table,
        calib_table=calib_table,
        pct_num=pct_num,
        pct_den=pct_den,
        max_ref_sample=sample_k,
        sample_table=sample_table,
    )
