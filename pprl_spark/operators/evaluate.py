"""Pairwise clustering-evaluation metrics without pair enumeration.

The standard entity-resolution quality report (pairwise precision /
recall / F1 against a ground-truth partition — the metric the reference
computes per-run in its evaluation notebooks, cf. reference
``scripts/results.py`` truth-join accounting) is usually written as a
join over *pairs*, which is quadratic in cluster size and dead at
10^12 docs.  This operator computes the identical numbers from three
COUNTED aggregates over the (predicted, truth) contingency table:

    tp_pairs    = sum_ij C(n_ij, 2)      n_ij = |pred i  ∩  truth j|
    pred_pairs  = sum_i  C(n_i., 2)
    truth_pairs = sum_j  C(n_.j, 2)

so no pair is ever materialized: one exchange keyed on
(pred, truth) builds the contingency table, and the two marginal
aggregates reduce *it*, never the corpus.  The contingency table is
bounded by the number of distinct (pred, truth) cluster overlaps — for
sane clusterings O(#clusters), microscopic relative to the input.

Exactness contract: C(n,2) and the three sums stay in BIGINT; each of
precision = tp/pred, recall = tp/truth and F1 = 2·tp/(pred+truth) is
ONE correctly-rounded int→double division, so the doubles are
bit-identical across engines (same trick as the TF-IDF operator's
log-free IDF).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _c2(n: Column) -> Column:
    # C(n,2) in exact BIGINT arithmetic: n*(n-1) is always even and
    # non-negative, so a right-shift is the exact halving — no double
    # intermediate (n ~ 10^9 would overflow 2^53 as n*(n-1)).
    return F.shiftright((n * (n - F.lit(1))).cast("long"), 1)


def pairwise_cluster_eval(assign: DataFrame) -> DataFrame:
    """One-row pairwise P/R/F1 report for a predicted vs truth partition.

    ``assign`` carries one row per item with its predicted cluster label
    ``entity_id`` and its ground-truth label ``truth_id`` (any orderable
    types).  Items missing from either partition should be pre-assigned
    singleton labels by the caller (e.g. ``coalesce(entity_id, doc_id)``)
    so both sides partition the same universe.

    The contingency table is ``localCheckpoint``-ed so the three
    aggregates over it don't re-scan the corpus-sized input; unlike a
    ``persist()``, the checkpoint registers nothing in Spark's cache
    manager, so no cached table outlives the call.

    Output columns: n_items, n_pred_clusters, n_truth_clusters,
    tp_pairs, pred_pairs, truth_pairs, precision, recall, f1.
    """
    joint = assign.groupBy(
        F.col("entity_id").alias("_p"), F.col("truth_id").alias("_t")
    ).agg(F.count("*").cast("long").alias("_n")).localCheckpoint()

    tp = joint.agg(
        F.sum("_n").cast("long").alias("n_items"),
        F.sum(_c2(F.col("_n"))).cast("long").alias("tp_pairs"),
    )
    pred = (
        joint.groupBy("_p")
        .agg(F.sum("_n").cast("long").alias("_np"))
        .agg(
            F.count("*").cast("long").alias("n_pred_clusters"),
            F.sum(_c2(F.col("_np"))).cast("long").alias("pred_pairs"),
        )
    )
    truth = (
        joint.groupBy("_t")
        .agg(F.sum("_n").cast("long").alias("_nt"))
        .agg(
            F.count("*").cast("long").alias("n_truth_clusters"),
            F.sum(_c2(F.col("_nt"))).cast("long").alias("truth_pairs"),
        )
    )

    def _ratio(num: Column, den: Column) -> Column:
        # single int->double division: correctly rounded, engine-exact
        return F.when(den > 0, num.cast("double") / den.cast("double")).otherwise(
            F.lit(0.0)
        )

    out = tp.crossJoin(pred).crossJoin(truth)
    return out.select(
        "n_items",
        "n_pred_clusters",
        "n_truth_clusters",
        "tp_pairs",
        "pred_pairs",
        "truth_pairs",
        _ratio(F.col("tp_pairs"), F.col("pred_pairs")).alias("precision"),
        _ratio(F.col("tp_pairs"), F.col("truth_pairs")).alias("recall"),
        _ratio(
            F.lit(2) * F.col("tp_pairs"), F.col("pred_pairs") + F.col("truth_pairs")
        ).alias("f1"),
    )


def _truth_joined(pairs: DataFrame, truth: DataFrame) -> tuple[DataFrame, Column]:
    """``pairs`` joined to both ends' (fp1, fp2) truth keys, and the
    flag that the two ends' keys agree (a true pair)."""
    t1 = truth.select(
        F.col("doc_id").alias("id1"), F.col("fp1").alias("_a_fp1"), F.col("fp2").alias("_a_fp2")
    )
    t2 = truth.select(
        F.col("doc_id").alias("id2"), F.col("fp1").alias("_b_fp1"), F.col("fp2").alias("_b_fp2")
    )
    is_true = (F.col("_a_fp1") == F.col("_b_fp1")) & (F.col("_a_fp2") == F.col("_b_fp2"))
    return pairs.join(t1, "id1").join(t2, "id2"), is_true


def threshold_sweep(pairs: DataFrame, truth: DataFrame, n_bins: int = 20) -> DataFrame:
    """Threshold calibration table -> (bin, thr, n_pairs, n_true,
    cum_pairs, cum_true, precision, recall), one row per occupied bin.

    The operational question behind every linkage threshold (reference:
    the abs_cutoff the toolkit asks users to pick by hand): sweep the
    cutoff over score bins and report, for "accept everything scoring in
    this bin or higher", how many pairs are accepted (``cum_pairs``),
    how many are true (``cum_true``), and the resulting precision /
    recall. ``pairs`` carries (id1, id2, sim); ``truth`` is a (doc_id,
    fp1, fp2) table, and two docs are a true pair iff their (fp1, fp2)
    keys agree (the exact-duplicate partition of
    ``functions.text.text_key``).

    Scale shape: candidate pairs join two slim truth dims (hashes, not
    text), then collapse to ``n_bins + 1`` counted rows — the cumulative
    window and the divisions run on that tiny frame, so the single
    unpartitioned window is O(n_bins), not O(pairs). Recall's
    denominator is Σ C(n,2) over truth groups — counted, never
    enumerated, so a 10^9-member truth cluster costs one BIGINT. Bin
    index is ``floor(sim * n_bins)`` clamped to ``n_bins``; every
    arithmetic step (count, int->double division, one multiply+floor)
    is exactly rounded, so the table is bit-stable across engines.
    """
    if n_bins <= 0:
        raise ValueError(f"n_bins must be positive, got {n_bins}")
    joined, is_true = _truth_joined(pairs, truth)
    binned = (
        joined.select(
            F.least(
                F.floor(F.col("sim") * n_bins).cast("long"), F.lit(n_bins)
            ).alias("bin"),
            is_true.cast("long").alias("_t"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum("_t").cast("long").alias("n_true"),
        )
    )
    total_true = truth.groupBy("fp1", "fp2").agg(
        F.count("*").cast("long").alias("_n")
    ).agg(F.sum(_c2(F.col("_n"))).cast("long").alias("_tot"))
    w = Window.orderBy(F.desc("bin")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        binned.withColumn("cum_pairs", F.sum("n_pairs").over(w).cast("long"))
        .withColumn("cum_true", F.sum("n_true").over(w).cast("long"))
        .join(F.broadcast(total_true))
        .select(
            "bin",
            (F.col("bin").cast("double") / n_bins).alias("thr"),
            "n_pairs",
            "n_true",
            "cum_pairs",
            "cum_true",
            (F.col("cum_true").cast("double") / F.col("cum_pairs").cast("double")).alias(
                "precision"
            ),
            F.when(
                F.col("_tot") > 0,
                F.col("cum_true").cast("double") / F.col("_tot").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("recall"),
        )
    )


def blocking_eval(pairs: DataFrame, truth: DataFrame) -> DataFrame:
    """Blocking-scheme evaluation -> ONE row: (n_docs, n_possible_pairs,
    n_cand_pairs, n_true_cand, n_true_total, reduction_ratio,
    pairs_completeness, pairs_quality).

    The three standard record-linkage blocking metrics (Christen 2012):
    reduction ratio (how much of the N² space the blocks pruned), pairs
    completeness (what fraction of TRUE pairs survived into the
    candidate set — blocking recall; every pair lost here is
    unrecoverable downstream), pairs quality (precision of the candidate
    set). Together they answer the only question a blocking key choice
    has: how much work was saved and how many matches were lost.

    Scale shape: three counted aggregates — candidate count + truth-join
    flag sum over the (already-blocked) pair table, C(n,2) sums over the
    truth partition — joined as broadcast 1-row frames. No pair space is
    ever enumerated beyond the candidates the blocking already produced;
    every ratio is one exactly-rounded int->double division.
    """
    joined, is_true = _truth_joined(pairs, truth)
    cand = joined.agg(
        F.count("*").cast("long").alias("n_cand_pairs"),
        F.sum(is_true.cast("long")).cast("long").alias("n_true_cand"),
    )
    docs = truth.agg(F.count("*").cast("long").alias("n_docs"))
    tot = truth.groupBy("fp1", "fp2").agg(F.count("*").cast("long").alias("_n")).agg(
        F.sum(_c2(F.col("_n"))).cast("long").alias("n_true_total")
    )
    n_possible = _c2(F.col("n_docs")).alias("n_possible_pairs")
    return (
        cand.join(F.broadcast(docs))
        .join(F.broadcast(tot))
        .select(
            "n_docs",
            n_possible,
            "n_cand_pairs",
            F.coalesce("n_true_cand", F.lit(0)).cast("long").alias("n_true_cand"),
            "n_true_total",
            (
                F.lit(1.0)
                - F.col("n_cand_pairs").cast("double")
                / _c2(F.col("n_docs")).cast("double")
            ).alias("reduction_ratio"),
            F.when(
                F.col("n_true_total") > 0,
                F.coalesce("n_true_cand", F.lit(0)).cast("double")
                / F.col("n_true_total").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("pairs_completeness"),
            F.when(
                F.col("n_cand_pairs") > 0,
                F.coalesce("n_true_cand", F.lit(0)).cast("double")
                / F.col("n_cand_pairs").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("pairs_quality"),
        )
    )
