"""Connected components over known graphs."""

from pprl_spark.operators.cluster import connected_components


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "id1 string, id2 string")
    rows = connected_components(df).collect()
    out: dict[str, set[str]] = {}
    for r in rows:
        out.setdefault(r["entity_id"], set()).add(r["doc_id"])
    return {frozenset(v) for v in out.values()}


def test_chain_and_island(spark):
    comps = _cc(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")])
    assert comps == {frozenset({"a", "b", "c", "d"}), frozenset({"x", "y"})}


def test_star_and_triangle(spark):
    comps = _cc(
        spark,
        [("h", "s1"), ("h", "s2"), ("h", "s3"), ("p", "q"), ("q", "r"), ("p", "r")],
    )
    assert comps == {frozenset({"h", "s1", "s2", "s3"}), frozenset({"p", "q", "r"})}


def test_entity_id_is_min(spark):
    df = spark.createDataFrame([("b", "a"), ("c", "b")], "id1 string, id2 string")
    rows = {r["doc_id"]: r["entity_id"] for r in connected_components(df).collect()}
    assert rows == {"a": "a", "b": "a", "c": "a"}


def test_connected_components_long_chain_log_convergence(spark):
    """Path halving converges a 200-node path graph in O(log d) rounds.

    Pure neighbor-min propagation moves a label one hop per iteration —
    a 200-node chain would exceed the 50-iteration budget and raise; the
    pointer-jumping step makes the same chain converge in ~log2(200)+k
    rounds, so max_iterations=16 suffices.
    """
    from pprl_spark.operators.cluster import connected_components

    n = 200
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id1 long, id2 long"
    )
    # small_graph_edges=0 forces the DISTRIBUTED loop (the default would
    # take the driver union-find fast path for 199 edges)
    labels = connected_components(edges, max_iterations=16, small_graph_edges=0)
    rows = labels.collect()
    assert len(rows) == n
    assert {r["entity_id"] for r in rows} == {0}


def test_driver_fast_path_equals_distributed(spark):
    """The counted small-graph union-find must produce the identical
    (doc_id, entity_id) labeling the distributed loop computes — same
    min-label semantics, chains/stars/islands and string ids included."""
    edges = [
        ("b", "a"), ("c", "b"), ("c", "d"),      # chain with min in middle
        ("hub", "s1"), ("hub", "s2"), ("s2", "s3"),
        ("x", "y"),
    ]
    df = spark.createDataFrame(edges, "id1 string, id2 string")
    fast = {(r["doc_id"], r["entity_id"])
            for r in connected_components(df).collect()}
    dist = {(r["doc_id"], r["entity_id"])
            for r in connected_components(df, small_graph_edges=0).collect()}
    assert fast == dist and fast
    # long-typed ids keep their type through the fast path
    dfl = spark.createDataFrame([(2, 1), (3, 2)], "id1 long, id2 long")
    out = connected_components(dfl)
    assert dict(out.dtypes) == {"doc_id": "bigint", "entity_id": "bigint"}
    assert {r["doc_id"]: r["entity_id"] for r in out.collect()} == {1: 1, 2: 1, 3: 1}


def test_distributed_contraction_dense_plus_chain(spark):
    """The two-phase distributed path: a near-clique (dedup shape —
    collapses in the contraction pre-pass) glued to a long chain (needs
    the propagation phase) resolves to ONE component labeled by the
    global min, equal to the driver fast path."""
    clique = [(i, j) for i in range(20) for j in range(i + 1, 20)]  # 190 edges
    chain = [(19 + k, 19 + k + 1) for k in range(40)]               # joins at 19
    df = spark.createDataFrame(clique + chain, "id1 long, id2 long")
    dist = connected_components(df, max_iterations=16, small_graph_edges=0)
    rows = dist.collect()
    assert len(rows) == 60
    assert {r["entity_id"] for r in rows} == {0}
    fast = connected_components(df)
    assert {(r["doc_id"], r["entity_id"]) for r in fast.collect()} == {
        (r["doc_id"], r["entity_id"]) for r in rows
    }


def _assign(df):
    return {(r["doc_id"], r["entity_id"]) for r in df.collect()}


def test_incremental_cc_equals_full_recompute(spark):
    from pprl_spark.operators.cluster import incremental_cc
    import random

    rng = random.Random(11)
    edges = [
        (min(a, b), max(a, b))
        for a, b in (
            (rng.randrange(60), rng.randrange(60)) for _ in range(120)
        )
        if a != b
    ]
    full = spark.createDataFrame(edges, "id1 long, id2 long")
    # arrival batch: any edge touching a doc divisible by 5
    base = full.where((full.id1 % 5 != 0) & (full.id2 % 5 != 0))
    delta = full.where((full.id1 % 5 == 0) | (full.id2 % 5 == 0))
    assignment = connected_components(base)
    got = _assign(incremental_cc(assignment, delta))
    want = _assign(connected_components(full))
    assert got == want


def test_incremental_cc_new_docs_and_merges(spark):
    from pprl_spark.operators.cluster import incremental_cc

    base = spark.createDataFrame([(1, 2), (3, 4)], "id1 long, id2 long")
    assignment = connected_components(base)
    # 5-6: brand-new pair; 2-3: merges the two existing clusters
    delta = spark.createDataFrame([(5, 6), (2, 3)], "id1 long, id2 long")
    got = _assign(incremental_cc(assignment, delta))
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (5, 5), (6, 5)}


def test_incremental_cc_intra_cluster_edge_noop(spark):
    from pprl_spark.operators.cluster import incremental_cc

    base = spark.createDataFrame([(1, 2), (2, 3)], "id1 long, id2 long")
    assignment = connected_components(base)
    delta = spark.createDataFrame([(1, 3)], "id1 long, id2 long")  # already same cluster
    got = _assign(incremental_cc(assignment, delta))
    assert got == {(1, 1), (2, 1), (3, 1)}


def _brute_triangles(edges):
    import itertools

    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    counts = {}
    for a, b, c in itertools.combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for n in (a, b, c):
                counts[n] = counts.get(n, 0) + 1
    return counts


def test_triangle_counts_known_graphs(spark):
    from pprl_spark.operators.cluster import triangle_counts

    # K4: every node sits in C(3,2)=3 triangles; C5 cycle: none
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    c5 = [(10 + i, 10 + (i + 1) % 5) for i in range(5)]
    df = spark.createDataFrame(k4 + c5, "id1 long, id2 long")
    got = {r.doc_id: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_counts_match_brute_force(spark):
    import random

    from pprl_spark.operators.cluster import triangle_counts

    rng = random.Random(31)
    edges = list({tuple(sorted(rng.sample(range(30), 2))) for _ in range(120)})
    df = spark.createDataFrame(edges, "id1 long, id2 long")
    got = {r.doc_id: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == _brute_triangles(edges)


def test_triangle_counts_star_has_none(spark):
    from pprl_spark.operators.cluster import triangle_counts

    # hub with 50 spokes: zero wedges survive the degree orientation
    star = [(0, i) for i in range(1, 51)]
    df = spark.createDataFrame(star, "id1 long, id2 long")
    assert triangle_counts(df).count() == 0


def test_pagerank_fixed_point_golden(spark):
    from pprl_spark.operators.cluster import pagerank

    # path 1-2-3 (middle node dominates) + star 10-(11,12,13) (hub
    # dominates); integer fixed-point values are exact by construction
    rows = [(1, 2), (2, 3), (10, 11), (10, 12), (10, 13)]
    df = spark.createDataFrame(rows, "id1 long, id2 long")
    got = {r.doc_id: r for r in pagerank(df, iterations=5).collect()}
    assert got[2].pr_u > got[1].pr_u == got[3].pr_u
    assert got[10].pr_u > got[11].pr_u == got[12].pr_u == got[13].pr_u
    # exact integer goldens (any drift = a semantics change, not noise)
    assert got[2].pr_u == 237617723208
    assert got[10].pr_u == 332378303564
    assert got[10].deg == 3
    # truncation loses < N*iters units of 1e-12 mass
    mass = sum(r.pr_u for r in got.values())
    assert 10**12 - 7 * 5 * 100 <= mass <= 10**12


def test_pagerank_partitioning_independent(spark):
    import random

    from pprl_spark.operators.cluster import pagerank

    rng = random.Random(3)
    rows = list({(rng.randrange(40), rng.randrange(40)) for _ in range(120)})
    df = spark.createDataFrame(rows, "id1 long, id2 long")
    one = sorted(
        (r.doc_id, r.deg, r.pr_u)
        for r in pagerank(df.repartition(1), iterations=4).collect()
    )
    many = sorted(
        (r.doc_id, r.deg, r.pr_u)
        for r in pagerank(df.repartition(13), iterations=4).collect()
    )
    assert one == many


def test_pagerank_driver_equals_distributed(spark):
    import random

    from pprl_spark.operators.cluster import pagerank

    # small_graph_edges=0 forces the distributed power iteration (the
    # per-iteration localCheckpoint loop) on graphs the driver fast path
    # would otherwise take; integer fixed point makes them bit-identical
    rng = random.Random(3)
    graphs = [
        [(1, 2), (2, 3), (10, 11), (10, 12), (10, 13)],
        list({(rng.randrange(40), rng.randrange(40)) for _ in range(120)}),
    ]
    for rows in graphs:
        df = spark.createDataFrame(rows, "id1 long, id2 long")
        for iterations in (4, 5):
            fast, dist = (
                sorted(
                    (r.doc_id, r.deg, r.pr_u, r.pr)
                    for r in pagerank(df, iterations=iterations, **kw).collect()
                )
                for kw in ({}, {"small_graph_edges": 0})
            )
            assert fast == dist


def test_pagerank_validation(spark):
    import pytest

    from pprl_spark.operators.cluster import pagerank

    df = spark.createDataFrame([(1, 2)], "id1 long, id2 long")
    with pytest.raises(ValueError):
        pagerank(df, iterations=0)
    with pytest.raises(ValueError):
        pagerank(df, damping_pct=100)


def test_pagerank_canonical_composition(spark):
    # per-entity argmax pagerank: the star hub wins its component, the
    # path's middle node wins the other
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pprl_spark.operators.cluster import connected_components, pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (10, 12), (10, 13)], "id1 long, id2 long"
    )
    cc = connected_components(edges)
    pr = pagerank(edges, iterations=5)
    w = Window.partitionBy("entity_id").orderBy(F.desc("pr_u"), F.asc("doc_id"))
    top = (
        cc.join(pr.select("doc_id", "pr_u"), "doc_id")
        .withColumn("r", F.row_number().over(w))
        .where("r = 1")
        .collect()
    )
    canon = {r.entity_id: r.doc_id for r in top}
    assert canon == {1: 2, 10: 10}


def test_cc_driver_dense_and_scatter_branches_identical(spark, monkeypatch):
    """The driver fast path's dense-adjacency branch (node count below
    DENSE_CC_NODES) and the per-edge scatter branch must compute the
    identical labeling: the min-label fixed point is unique, so the
    branch choice is a pure performance decision."""
    import random

    import pprl_spark.operators.cluster as C

    rng = random.Random(97)
    # mixed shape: two cliques, a chain, islands, plus random noise edges
    edges = []
    clique1 = list(range(0, 40))
    clique2 = list(range(100, 130))
    edges += [(a, b) for i, a in enumerate(clique1) for b in clique1[i + 1:]]
    edges += [(a, b) for i, a in enumerate(clique2) for b in clique2[i + 1:]]
    edges += [(i, i + 1) for i in range(200, 260)]
    edges += [(rng.randrange(300, 400), rng.randrange(300, 400)) for _ in range(80)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "id1 long, id2 long")

    dense = {(r["doc_id"], r["entity_id"])
             for r in connected_components(df).collect()}
    monkeypatch.setattr(C, "DENSE_CC_NODES", 0)  # force the scatter branch
    scatter = {(r["doc_id"], r["entity_id"])
               for r in connected_components(df).collect()}
    assert dense == scatter and dense

    # sparse 64-bit id space: the direct offset-lookup relabeling must
    # fall back to the unique+searchsorted sort and still agree
    big = 1 << 40
    sparse = spark.createDataFrame(
        [(a * big + 7, b * big + 7) for a, b in edges], "id1 long, id2 long"
    )
    monkeypatch.setattr(C, "DENSE_CC_NODES", 8192)
    got = {(r["doc_id"], r["entity_id"])
           for r in connected_components(sparse).collect()}
    want = {(a * big + 7, e * big + 7) for a, e in dense}
    assert got == want
