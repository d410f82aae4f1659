"""pairwise_cluster_eval: hand-computed goldens + degenerate cases."""

from pprl_spark.operators.evaluate import pairwise_cluster_eval


def _eval(spark, rows):
    df = spark.createDataFrame(rows, "entity_id long, truth_id long")
    [r] = pairwise_cluster_eval(df).collect()
    return r


def test_hand_computed_contingency(spark):
    # items 1..6; pred {1,2,3},{4,5},{6}; truth {1,2},{3,4},{5},{6}
    rows = [(1, 1), (1, 1), (1, 3), (4, 3), (4, 5), (6, 6)]
    r = _eval(spark, rows)
    assert (r.n_items, r.n_pred_clusters, r.n_truth_clusters) == (6, 3, 4)
    # tp = C(2,2)=1; pred_pairs = C(3,2)+C(2,2) = 4; truth_pairs = 1+1 = 2
    assert (r.tp_pairs, r.pred_pairs, r.truth_pairs) == (1, 4, 2)
    assert r.precision == 1 / 4 and r.recall == 1 / 2
    assert r.f1 == 2 * 1 / (4 + 2)  # single division — exact


def test_perfect_clustering_is_f1_one(spark):
    rows = [(1, 1), (1, 1), (2, 2), (3, 3), (3, 3), (3, 3)]
    r = _eval(spark, rows)
    assert r.tp_pairs == r.pred_pairs == r.truth_pairs == 1 + 3
    assert r.precision == r.recall == r.f1 == 1.0


def test_all_singletons_zero_denominators(spark):
    # no pairs anywhere: the CASE guards make every metric 0.0, not NaN
    rows = [(i, i) for i in range(5)]
    r = _eval(spark, rows)
    assert (r.tp_pairs, r.pred_pairs, r.truth_pairs) == (0, 0, 0)
    assert (r.precision, r.recall, r.f1) == (0.0, 0.0, 0.0)


def test_big_cluster_no_double_overflow(spark):
    # C(n,2) stays in BIGINT via shiftright: a 4M-item cluster's
    # n*(n-1) = 1.6e13 is exact; the double path would also hold here,
    # but assert the exact integer shows through untruncated
    n = 4_000_000
    df = spark.range(n).selectExpr("1L AS entity_id", "1L AS truth_id")
    [r] = pairwise_cluster_eval(df).collect()
    assert r.tp_pairs == n * (n - 1) // 2
    assert r.f1 == 1.0


def test_pairwise_cluster_eval_leaves_no_cached_table(spark):
    # the contingency table is reused by three aggregates; that boundary
    # must not stay registered in the session's CacheManager
    spark.catalog.clearCache()
    df = spark.createDataFrame([(1, 1), (1, 1), (2, 2)], "entity_id long, truth_id long")
    pairwise_cluster_eval(df).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_threshold_sweep_golden(spark):
    from pprl_spark.operators.evaluate import threshold_sweep

    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (1, 3, 0.4), (2, 3, 0.42), (4, 5, 0.95), (6, 7, 1.0)],
        "id1 long, id2 long, sim double",
    )
    # truth groups: {1,2}, {3}, {4,5}, {6,7} -> 3 true pairs total
    truth = spark.createDataFrame(
        [(1, 100, 0), (2, 100, 0), (3, 200, 0), (4, 300, 0), (5, 300, 0),
         (6, 400, 0), (7, 400, 0)],
        "doc_id long, fp1 long, fp2 long",
    )
    got = {r.bin: r for r in threshold_sweep(pairs, truth, n_bins=10).collect()}
    assert set(got) == {10, 9, 4}  # sim=1.0 clamps to bin n_bins
    assert (got[10].n_pairs, got[10].n_true) == (1, 1)
    assert (got[10].cum_pairs, got[10].cum_true) == (1, 1)
    assert got[10].precision == 1.0 and got[10].recall == 1.0 / 3.0
    assert (got[9].cum_pairs, got[9].cum_true) == (3, 3)
    assert got[9].recall == 1.0
    assert (got[4].n_pairs, got[4].n_true) == (2, 0)
    assert (got[4].cum_pairs, got[4].cum_true) == (5, 3)
    assert got[4].precision == 3.0 / 5.0
    assert got[9].thr == 0.9 and got[4].thr == 0.4


def test_threshold_sweep_no_truth_pairs(spark):
    from pprl_spark.operators.evaluate import threshold_sweep

    pairs = spark.createDataFrame([(1, 2, 0.5)], "id1 long, id2 long, sim double")
    truth = spark.createDataFrame(
        [(1, 10, 0), (2, 20, 0)], "doc_id long, fp1 long, fp2 long"
    )
    rows = threshold_sweep(pairs, truth).collect()
    assert len(rows) == 1
    assert rows[0].recall == 0.0 and rows[0].precision == 0.0


def test_blocking_eval_golden(spark):
    from pprl_spark.operators.evaluate import blocking_eval

    # 6 docs, truth groups {1,2,3}, {4,5}, {6} -> 4 true pairs; the
    # "blocking" produced 4 candidates covering 3 of them
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (1, 3, 0.8), (4, 5, 0.7), (1, 6, 0.2)],
        "id1 long, id2 long, sim double",
    )
    truth = spark.createDataFrame(
        [(1, 10, 0), (2, 10, 0), (3, 10, 0), (4, 20, 0), (5, 20, 0), (6, 30, 0)],
        "doc_id long, fp1 long, fp2 long",
    )
    r = blocking_eval(pairs, truth).collect()[0]
    assert (r.n_docs, r.n_possible_pairs) == (6, 15)
    assert (r.n_cand_pairs, r.n_true_cand, r.n_true_total) == (4, 3, 4)
    assert r.reduction_ratio == 1.0 - 4.0 / 15.0
    assert r.pairs_completeness == 3.0 / 4.0
    assert r.pairs_quality == 3.0 / 4.0
