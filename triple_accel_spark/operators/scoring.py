"""Pair scoring: Catalyst-native k-cutoff prune, then the vectorized
edit-distance UDF, then normalized similarity + match decision.

Plan shape (checked in tests via .explain): the length prefilter is a
plain Column predicate evaluated BEFORE the Python exchange, so pruned
pairs never cross the JVM->Arrow boundary; the UDF itself is a scalar
pandas UDF (ArrowEvalPython node) over exactly two string columns —
column pruning keeps the exchange narrow.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from triple_accel_spark.functions import (
    edit_distance,
    jaro_winkler,
    jw_length_bound,
    length_prefilter,
    pair_budget,
)
from triple_accel_spark.kernels.costs import EditCosts, LEVENSHTEIN_COSTS


def score_pairs(
    pairs: DataFrame,
    text_a: str = "doc_a",
    text_b: str = "doc_b",
    k: int | Column | None = None,
    costs: EditCosts = LEVENSHTEIN_COSTS,
    sim_threshold: float | None = None,
    dist_col: str = "dist",
    sim_col: str = "sim",
    scorer: str = "edit",
    prune_threshold: float | None = None,
) -> DataFrame:
    """Add ``dist`` (NULL-pruned at ``k``) and ``sim`` columns; filter
    to ``sim >= sim_threshold`` if given.

    ``k`` may be a Column for per-pair cutoffs (e.g.
    ``relative_k_col(tau, text_a, text_b)``) — both the Catalyst-native
    length prefilter and the kernel band tighten per pair, so fewer
    rows cross the Arrow exchange and bands stay narrow regardless of
    corpus length outliers.

    ``scorer="jaro_winkler"`` swaps the similarity for the name-field
    comparator: ``sim`` = Jaro-Winkler, ``dist`` = NULL (JW has no
    distance form; downstream tie-breaks fall through to ids), ``k``/
    ``costs`` unused, and the Catalyst-native prune becomes the JW
    length-ratio bound (``jw_length_bound``) at ``sim_threshold`` — or
    at ``prune_threshold`` when the caller defers the final sim filter
    (the prune is sound, so pruned-then-kept is impossible)."""
    if scorer == "jaro_winkler":
        df = pairs
        thr = sim_threshold if sim_threshold is not None else prune_threshold
        if thr is not None:
            df = df.where(jw_length_bound(text_a, text_b, thr))
        df = df.withColumn(
            sim_col, jaro_winkler(F.col(text_a), F.col(text_b))
        ).where(F.col(sim_col).isNotNull())
        df = df.withColumn(dist_col, F.lit(None).cast("long"))
        if sim_threshold is not None:
            df = df.where(F.col(sim_col) >= sim_threshold)
        return df
    if scorer != "edit":
        raise ValueError(f"unknown scorer: {scorer!r}")
    df = pairs
    if k is not None:
        df = df.where(length_prefilter(text_a, text_b, k, costs))
    df = df.withColumn(dist_col, edit_distance(F.col(text_a), F.col(text_b), k, costs))
    df = df.where(F.col(dist_col).isNotNull())
    denom = F.greatest(F.length(text_a), F.length(text_b), F.lit(1))
    df = df.withColumn(
        sim_col, F.lit(1.0) - F.col(dist_col).cast("double") / denom.cast("double")
    )
    if sim_threshold is not None:
        df = df.where(F.col(sim_col) >= sim_threshold)
    return df


def relative_k_col(threshold: float, text_a, text_b) -> Column:
    """Per-PAIR distance budget as a Column:
    ``ceil((1-t) * greatest(len_a, len_b))``.

    ``sim >= t  <=>  dist <= (1-t)*maxlen``, so any cutoff >= that
    boundary loses no match; ``ceil`` (rather than ``floor``) keeps the
    bound safe against double rounding of ``(1-t)*maxlen`` at integer
    boundaries. A long corpus outlier never widens the band of
    unrelated short pairs."""
    return pair_budget(threshold, F.length(text_a), F.length(text_b))


def pairwise_f1(
    predicted: DataFrame,
    truth_positive: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> dict:
    """Pairwise precision/recall/F1 of predicted match pairs against the
    positive ground-truth pairs (both tables canonicalized
    ``id_a < id_b``). Standard ER pairwise metric: TP = predicted AND
    true, FP = predicted only, FN = true only."""
    pred = predicted.select(id_a, id_b).distinct().cache()
    truth = truth_positive.select(id_a, id_b).distinct().cache()
    try:
        tp = pred.join(truth, [id_a, id_b]).count()
        fp = pred.count() - tp
        fn = truth.count() - tp
    finally:
        # the caches exist only to keep the three counts consistent and
        # single-evaluation; release them before returning so repeated
        # F1 evaluation in a long-lived driver stays storage-flat
        pred.unpersist()
        truth.unpersist()
    prec = tp / (tp + fp) if tp + fp else 0.0
    rec = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return {"tp": tp, "fp": fp, "fn": fn, "precision": prec, "recall": rec, "f1": f1}


def bcubed_rows(
    predicted: DataFrame,
    truth: DataFrame,
    id_col: str = "id",
    pred_col: str = "cluster_id",
    true_col: str = "true_id",
) -> DataFrame:
    """B-cubed (B³) evaluation in its exact per-overlap form: one row
    per (predicted cluster, true cluster) overlap with the integer
    counts ``n_ct`` (records in both), ``n_c`` (predicted cluster
    size), ``n_t`` (true cluster size) and the per-record contribution
    ratios ``p_contrib = n_ct/n_c``, ``r_contrib = n_ct/n_t``. B³
    precision is ``Σ n_ct·p_contrib / N`` and B³ recall ``Σ
    n_ct·r_contrib / N`` (Bagga & Baldwin 1998) — ``bcubed`` folds
    these; this row form keeps every ratio a single int/int division
    (deterministic bit-for-bit across engines, unlike a float sum).

    Shape at scale: one equi-join on the record id and three
    map-side-combinable aggregations; the output is bounded by the
    number of overlapping cluster pairs, not records."""
    from pyspark.sql import Window

    joined = (
        predicted.select(F.col(id_col).alias("_id"), F.col(pred_col).alias("_c"))
        .join(
            truth.select(F.col(id_col).alias("_id"), F.col(true_col).alias("_t")),
            "_id",
        )
    )
    # every record contributes to exactly one (c, t) overlap, so the
    # side totals are row sums OVER the overlap frame — windows keep
    # the (possibly expensive) upstream lineage single-evaluation,
    # where three independent aggregations of `joined` would run the
    # predicted-clustering plan three times
    ct = joined.groupBy("_c", "_t").agg(F.count(F.lit(1)).alias("n_ct"))
    ct = ct.withColumn(
        "n_c", F.sum("n_ct").over(Window.partitionBy("_c"))
    ).withColumn("n_t", F.sum("n_ct").over(Window.partitionBy("_t")))
    return (
        ct.select(
            F.col("_c").alias(pred_col),
            F.col("_t").alias(true_col),
            F.col("n_ct").cast("long").alias("n_ct"),
            F.col("n_c").cast("long").alias("n_c"),
            F.col("n_t").cast("long").alias("n_t"),
            (F.col("n_ct").cast("double") / F.col("n_c").cast("double")).alias(
                "p_contrib"
            ),
            (F.col("n_ct").cast("double") / F.col("n_t").cast("double")).alias(
                "r_contrib"
            ),
        )
    )


def bcubed(
    predicted: DataFrame,
    truth: DataFrame,
    id_col: str = "id",
    pred_col: str = "cluster_id",
    true_col: str = "true_id",
) -> dict:
    """Global B³ precision / recall / F1 over a predicted clustering vs
    a reference partition (records present in both sides only). The
    cluster-level complement to ``pairwise_f1``: pairwise counts weigh
    big clusters quadratically, B³ weighs every RECORD equally."""
    rows = bcubed_rows(predicted, truth, id_col, pred_col, true_col)
    agg = rows.agg(
        F.sum("n_ct").alias("n"),
        F.sum(F.col("n_ct") * F.col("p_contrib")).alias("sp"),
        F.sum(F.col("n_ct") * F.col("r_contrib")).alias("sr"),
    ).collect()[0]
    n = agg["n"] or 0
    prec = (agg["sp"] or 0.0) / n if n else 0.0
    rec = (agg["sr"] or 0.0) / n if n else 0.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return {
        "n_records": n,
        "bcubed_precision": prec,
        "bcubed_recall": rec,
        "bcubed_f1": f1,
    }
