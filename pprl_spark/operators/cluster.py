"""Transitive closure: connected components over the accepted-pair graph.

Absent from the reference (its Hungarian output is one-to-one,
`/root/reference/src/pprl/embedder/embedder.py:280-284`); required by the
north rule to emit entity clusters. Two paths behind one API:

- **counted small-graph fast path** (<= ``SMALL_GRAPH_EDGES`` = 8M edges
  for numeric ids, ``SMALL_GRAPH_EDGES_STR`` = 1M for string ids): numpy
  min-label relaxation with pointer jumping on the driver, over a dense
  boolean adjacency when the graph has <= ``DENSE_CC_NODES`` (8,192)
  nodes — match graphs are usually tiny relative to the corpus, and
  per-job scheduling dominates distributed iteration at that size;
- **distributed contraction** (min-star) above it: every round maps each
  node to min(self, neighbors), rewrites edges through the mapping,
  drops self-loops/duplicates and recurses on the CONTRACTED graph.
  The working set shrinks every round — near-clique duplicate groups
  (the shape dedup emits: a k-doc group is ~k²/2 edges) collapse after
  one round, and a path halves per round, so rounds are O(log n).
  One action per round; ``localCheckpoint`` truncates lineage so the
  plan stays flat (SURVEY.md §2.4).

Both produce entity_id = min doc_id of the component (the minimum maps
to itself in every contraction, so it is the surviving representative).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

log = logging.getLogger(__name__)


SMALL_GRAPH_EDGES = 8_000_000
# string ids sort/searchsorted as object arrays (~4-8x a packed int64
# column in both time and bytes), so the counted threshold shrinks
# accordingly — see the memory budget in _cc_driver
SMALL_GRAPH_EDGES_STR = 1_000_000
# below this node count the driver fast path uses a dense boolean
# adjacency (n^2 <= 64MB) instead of per-edge np.minimum.at scatters —
# see _cc_driver
DENSE_CC_NODES = 8_192
# PageRank fixed-point unit: every rank is a BIGINT count of 1/PR_SCALE
PR_SCALE = 10**12


def _cc_driver(edges: DataFrame) -> DataFrame:
    """Counted small-graph fast path: vectorized min-label CC on the driver.

    Entity-resolution match graphs are usually tiny relative to the
    corpus (matches << docs); below the counted threshold the iterative
    distributed loop's per-job scheduling (~5 jobs x N iterations) costs
    10-100x the actual work. r6 replaced the per-edge Python dict
    union-find (~1µs/edge — it became the bottleneck the moment the
    threshold admitted multi-million-edge graphs) with numpy pointer
    jumping: nodes are mapped to indices in SORTED id order (so min
    index == min id), then alternate (a) per-edge min-label relaxation
    via ``np.minimum.at`` in both directions and (b) full path
    compression ``par = par[par]`` until a fixed point — O(edges) work
    per round, a handful of rounds on match graphs (near-cliques
    converge in one). Exactly the distributed loop's min-label
    semantics: entity_id = min doc_id of the component.

    Memory budget: ~16B/edge for the index arrays plus the id array —
    ~130MB at the 8M-edge threshold — transferred via Arrow. String ids
    cost more to sort/searchsorted (object arrays), hence the lower
    ``SMALL_GRAPH_EDGES_STR``.
    """
    import numpy as np
    import pandas as pd

    spark = edges.sparkSession
    dtype = edges.schema[0].dataType.simpleString()
    # Arrow transfer: ~10x faster than Row collect() near the threshold
    pdf_edges = edges.toPandas()
    u = pdf_edges.iloc[:, 0].to_numpy()
    v = pdf_edges.iloc[:, 1].to_numpy()
    if len(u) == 0:
        return spark.createDataFrame([], f"doc_id {dtype}, entity_id {dtype}")
    # node relabeling: ids must be SORTED unique (index order == id order
    # so min index == min id). For integer ids over a bounded range —
    # doc_ids are dense non-negative longs in every match graph here —
    # a direct offset lookup table replaces the O(E log E)
    # unique+searchsorted sort (measured ~0.8s of the 6.1M-edge sf0.1
    # collect); the sort path remains for string ids and sparse 64-bit
    # hash id spaces.
    direct = False
    if np.issubdtype(u.dtype, np.integer):
        lo = int(min(u.min(), v.min()))
        hi = int(max(u.max(), v.max()))
        span = hi - lo + 1
        if span <= 4 * len(u) + 1024:  # ~9B/unit: bounded by edge count
            present = np.zeros(span, dtype=bool)
            present[u - lo] = True
            present[v - lo] = True
            ids = np.flatnonzero(present).astype(u.dtype) + lo
            lookup = np.empty(span, dtype=np.int64)
            lookup[ids - lo] = np.arange(len(ids))
            src = lookup[u - lo]
            dst = lookup[v - lo]
            direct = True
    if not direct:
        ids = np.unique(np.concatenate([u, v]))  # sorted
        src = np.searchsorted(ids, u)
        dst = np.searchsorted(ids, v)
    n = len(ids)
    if n <= DENSE_CC_NODES:
        # Dense-adjacency relaxation: entity-resolution match graphs are
        # edge-dense over FEW nodes (sf0.1: 6.1M edges over 4,872 docs),
        # and ``np.minimum.at`` is an unbuffered per-element scatter that
        # re-walks every edge every round (measured 1.5s). One boolean
        # n x n adjacency (<= 64MB at the 8,192-node bound) turns each
        # relaxation round into chunked row-min scans — measured ~4x
        # faster on the same graph, and the edge arrays are touched only
        # once to build the matrix. Same min-label fixed point (the
        # fixed point is unique: label = min id of the component), so
        # the branch cannot change results — pinned by
        # tests/test_cluster.py equality tests.
        M = np.zeros((n, n), dtype=bool)
        M[src, dst] = True
        M[dst, src] = True
        par = np.arange(n)
        big = np.iinfo(np.int64).max
        chunk = 2048
        while True:
            before = par.copy()
            for lo in range(0, n, chunk):
                hi = min(lo + chunk, n)
                blk = np.where(M[lo:hi], par[None, :], big).min(axis=1)
                np.minimum(par[lo:hi], blk, out=par[lo:hi])
            while True:
                nxt = par[par]
                if np.array_equal(nxt, par):
                    break
                par = nxt
            if np.array_equal(par, before):
                break
    else:
        par = np.arange(n)
        while True:
            before = par.copy()
            l1, l2 = par[src], par[dst]
            np.minimum.at(par, src, l2)
            np.minimum.at(par, dst, l1)
            while True:
                nxt = par[par]
                if np.array_equal(nxt, par):
                    break
                par = nxt
            if np.array_equal(par, before):
                break
    pdf = pd.DataFrame({"doc_id": ids, "entity_id": ids[par]})
    return spark.createDataFrame(pdf, f"doc_id {dtype}, entity_id {dtype}")


def connected_components(
    edges: DataFrame,
    max_iterations: int = 50,
    small_graph_edges: int | None = None,
) -> DataFrame:
    """Edges ``(id1, id2)`` -> ``(doc_id, entity_id)`` with entity_id =
    min doc_id of the component (lexicographic min for string ids —
    deterministic).

    ``small_graph_edges``: at or below this counted edge total the
    labels come from the driver's numpy min-label pointer jumping (see
    :func:`_cc_driver`); ``0`` disables the fast path. ``None`` (default)
    picks by id dtype — ``SMALL_GRAPH_EDGES`` (8M) for numeric ids, the
    lower ``SMALL_GRAPH_EDGES_STR`` (1M) for strings, which sort and
    searchsorted as object arrays at several times a long's cost
    (budget in :func:`_cc_driver`). The count action is cheap —
    match/pair tables arrive materialized from the upstream stage.
    """
    from pyspark.sql.types import StringType

    e = edges.select(F.col("id1").alias("u"), F.col("id2").alias("v"))
    if small_graph_edges is None:
        small_graph_edges = (
            SMALL_GRAPH_EDGES_STR
            if isinstance(e.schema[0].dataType, StringType)
            else SMALL_GRAPH_EDGES
        )
    if small_graph_edges and e.count() <= small_graph_edges:
        return _cc_driver(e)
    # ---- distributed path: contraction pre-passes + label propagation ---
    #
    # Phase 1 — CONTRACTION (min-star): map every node to min(self,
    # neighbors), rewrite the edge set through that mapping, drop
    # self-loops/duplicates, recurse on the contracted graph while it
    # keeps shrinking by >=2x per round. This collapses the near-clique
    # components entity resolution produces (a k-doc duplicate group is
    # ~k²/2 edges that vanish after ONE round; measured at sf0.1: 6.1M
    # edges -> ~0, where the full-edge-join loop cost 15-21s). The
    # component minimum maps to itself in every contraction, so it
    # survives as a representative. Contraction alone is O(n) rounds on
    # a path (the rep mapping is rebuilt fresh each round, so no pointer
    # doubling accumulates) — hence the adaptive exit to phase 2.
    #
    # Phase 2 — label propagation with path halving over the CONTRACTED
    # remainder: label(u) <- min(label(u), min neighbor label), then
    # label(u) <- label(label(u)). The label table composes across
    # rounds (the jump looks up the CURRENT table), which doubles the
    # propagation distance per round -> O(log diameter) on chains. The
    # final labels are composed back through the phase-1 mapping.
    #
    # One action per round in both phases: a full count on a lazily
    # checkpointed frame (the count materializes every partition, so the
    # truncated lineage is safe to reuse; a limit(1) probe could leave
    # the lazy checkpoint partially materialized).
    def rep_of(edges):
        symE = edges.unionAll(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        return symE.groupBy("u").agg(
            F.least(F.col("u"), F.min("v")).alias("rep")
        )

    def contract(edges, reps):
        ru = reps.select(F.col("u"), F.col("rep").alias("_ru"))
        rv = reps.select(F.col("u").alias("v"), F.col("rep").alias("_rv"))
        return (
            edges.join(ru, "u")
            .join(rv, "v")
            .where(F.col("_ru") != F.col("_rv"))
            .select(
                F.least("_ru", "_rv").alias("u"),
                F.greatest("_ru", "_rv").alias("v"),
            )
            .distinct()
        )

    e = e.localCheckpoint()
    reps = rep_of(e)
    labels = reps.select(F.col("u").alias("doc_id"), F.col("rep").alias("entity_id"))
    E = contract(e, reps).localCheckpoint(eager=False)
    prev_edges = e.count()
    n_edges = E.count()
    # Phases 1 and 2 SHARE max_iterations, but contraction cannot starve
    # propagation: phase 1 only keeps a round of budget if it HALVED the
    # edge set (the <= prev//2 guard below — first non-halving round
    # exits to phase 2), so k phase-1 rounds imply the phase-2 remainder
    # has <= |E|/2^k edges. Spending budget in phase 1 shrinks phase 2's
    # problem exponentially; total rounds stay O(log |E| + log diameter).
    budget = max_iterations
    while 0 < n_edges <= prev_edges // 2 and budget > 0:
        reps = rep_of(E)
        labels = (
            labels.join(
                reps.select(F.col("u").alias("entity_id"), "rep"),
                "entity_id",
                "left",
            )
            .select("doc_id", F.coalesce("rep", F.col("entity_id")).alias("entity_id"))
            .localCheckpoint(eager=False)
        )
        E = contract(E, reps).localCheckpoint(eager=False)
        prev_edges, n_edges = n_edges, E.count()
        budget -= 1
    if n_edges == 0:
        return labels

    # phase 2 over the contracted remainder (nodes are representatives)
    sym = E.unionAll(
        E.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()
    prop = (
        sym.select(F.col("u").alias("doc_id"))
        .distinct()
        .withColumn("entity_id", F.col("doc_id"))
    )
    changed = 1
    for _ in range(budget):
        neighbor_min = (
            sym.join(prop.withColumnRenamed("doc_id", "v"), "v")
            .groupBy(F.col("u").alias("doc_id"))
            .agg(F.min("entity_id").alias("_nmin"))
        )
        updated = prop.join(neighbor_min, "doc_id", "left").withColumn(
            "_new",
            F.coalesce(
                F.least(F.col("entity_id"), F.col("_nmin")), F.col("entity_id")
            ),
        )
        jump = updated.select(F.col("doc_id").alias("_e"), F.col("_new").alias("_j"))
        updated = (
            updated.join(jump, updated["_new"] == jump["_e"], "left")
            .withColumn("_final", F.coalesce(F.col("_j"), F.col("_new")))
            .select("doc_id", "entity_id", "_final")
            .localCheckpoint(eager=False)
        )
        changed = updated.where(F.col("_final") != F.col("entity_id")).count()
        prop = updated.select("doc_id", F.col("_final").alias("entity_id"))
        if changed == 0:
            break
    if changed != 0:
        # a component whose diameter exceeds the budget would otherwise get
        # silently split into several entity_ids
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations (component diameter exceeds budget); raise "
            "max_iterations"
        )
    # compose: doc -> phase-1 representative -> phase-2 min label
    return (
        labels.join(
            prop.select(
                F.col("doc_id").alias("entity_id"), F.col("entity_id").alias("_m")
            ),
            "entity_id",
            "left",
        )
        .select("doc_id", F.coalesce("_m", F.col("entity_id")).alias("entity_id"))
    )


def clusters_from_matches(matches: DataFrame) -> DataFrame:
    """Accepted pairs -> (doc_id, entity_id) cluster assignment."""
    return connected_components(matches.select("id1", "id2"))


def incremental_cc(assignment: DataFrame, delta_edges: DataFrame) -> DataFrame:
    """Update an existing cluster ``assignment`` with ``delta_edges``
    WITHOUT re-running connected components over the full pair graph.

    ``assignment`` is prior CC output — (doc_id, entity_id) with
    entity_id = min member id.  New edges are CONTRACTED through it
    (each endpoint replaced by its entity label, unassigned endpoints by
    themselves), CC runs on that contracted graph — whose size is
    bounded by the DELTA, one node per touched cluster or new doc, never
    the corpus — and the relabeling is composed back onto the
    assignment.  Exactly the arrival-batch shape of a 10^12-doc pipeline:
    the standing assignment is a checkpointed stage table, each delta
    batch costs two slim hash joins keyed by 8-byte ids plus a CC over
    the contracted (tiny) graph, and the result is provably IDENTICAL to
    re-clustering the union graph from scratch (contracting connected
    subgraphs preserves reachability; labels stay global min ids because
    every contracted node id is itself the min of what it absorbed —
    the ``delta_clusters`` driver oracle pins that equality).

    Self-loops from intra-cluster delta edges are dropped before CC.
    """
    a1 = assignment.select(F.col("doc_id").alias("id1"), F.col("entity_id").alias("_e1"))
    a2 = assignment.select(F.col("doc_id").alias("id2"), F.col("entity_id").alias("_e2"))
    contracted = (
        delta_edges.select("id1", "id2")
        .join(a1, "id1", "left")
        .join(a2, "id2", "left")
        .select(
            F.coalesce("_e1", F.col("id1")).alias("id1"),
            F.coalesce("_e2", F.col("id2")).alias("id2"),
        )
        .where(F.col("id1") != F.col("id2"))
    )
    relabel = connected_components(contracted).select(
        F.col("doc_id").alias("entity_id"), F.col("entity_id").alias("_new")
    )
    updated = assignment.join(relabel, "entity_id", "left").select(
        "doc_id", F.coalesce("_new", F.col("entity_id")).alias("entity_id")
    )
    # contracted-graph nodes that are fresh docs (never assigned) get
    # their own rows; nodes that are old entity labels are already
    # covered by ``updated`` (an entity label is a member doc id)
    fresh = (
        relabel.select(F.col("entity_id").alias("doc_id"), F.col("_new").alias("entity_id"))
        .join(assignment.select("doc_id"), "doc_id", "left_anti")
    )
    return updated.unionByName(fresh)


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected ``(id1, id2)`` graph ->
    (doc_id, n_triangles); nodes in no triangle are absent.

    Triangle density separates tight duplicate cliques from chains of
    borderline matches — the structural signal behind cluster-quality
    review (a 50-doc entity with no triangles is a blocking artifact,
    not a duplicate group). Classic degree-ordered algorithm: orient
    every edge from its lower-(degree, id) endpoint to the higher, so
    each triangle {a<b<c} closes exactly once (wedge b<-a->c joined
    against oriented edge b->c), and wedge fan-out is bounded by the
    LOW-degree endpoint — the hub node of a star contributes no wedges
    because every edge points INTO it. The (deg, id) total order rides
    a struct comparison; two self-joins on slim (src, dst, deg)
    triples; the oriented edge table is ``localCheckpoint``-ed once,
    so all three of its readers scan the same rows.
    """
    e = (
        edges.select(F.col("id1").alias("u"), F.col("id2").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    und = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = und.groupBy("u").agg(F.count("*").cast("long").alias("d"))
    ed = (
        e.join(deg.select(F.col("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("u").alias("v"), F.col("d").alias("dv")), "v")
    )
    lo_first = F.struct(F.col("du"), F.col("u")) < F.struct(F.col("dv"), F.col("v"))
    o = ed.select(
        F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(lo_first, F.col("du")).otherwise(F.col("dv")).alias("ds"),
        F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        F.when(lo_first, F.col("dv")).otherwise(F.col("du")).alias("dt"),
    ).localCheckpoint()
    w1 = o.select(F.col("s"), F.col("t").alias("b"), F.col("dt").alias("db"))
    w2 = o.select(F.col("s"), F.col("t").alias("c"), F.col("dt").alias("dc"))
    wedges = w1.join(w2, "s").where(
        F.struct(F.col("db"), F.col("b")) < F.struct(F.col("dc"), F.col("c"))
    )
    closed = wedges.join(
        o.select(F.col("s").alias("b"), F.col("t").alias("c")), ["b", "c"]
    )
    members = closed.select(F.explode(F.array("s", "b", "c")).alias("doc_id"))
    return members.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_triangles")
    )


def _pagerank_driver(e: DataFrame, iterations: int, damping_pct: int) -> DataFrame:
    """Counted small-graph fast path: the identical integer fixed-point
    power iteration, vectorized on the driver.

    Near-dup graphs at bench scale are a few hundred nodes; the
    distributed loop pays ~3 jobs x ``iterations`` of scheduling for
    microseconds of arithmetic (same rationale as :func:`_cc_driver`).
    Every operation below is int64 floor division / multiply / add on
    non-negative values — bit-identical to the distributed plan's
    ``DIV``-based expressions, so the counted threshold changes cost,
    never values (pinned by a fast-path-vs-distributed equality test).
    """
    import numpy as np
    import pandas as pd

    spark = e.sparkSession
    pdf = e.toPandas()
    u = pdf.iloc[:, 0].to_numpy()
    v = pdf.iloc[:, 1].to_numpy()
    und_src = np.concatenate([u, v])
    und_dst = np.concatenate([v, u])
    codes, uniq = pd.factorize(np.concatenate([und_src, und_dst]))
    m = len(und_src)
    src_c, dst_c = codes[:m], codes[m:]
    dtype = e.schema[0].dataType.simpleString()
    n = len(uniq)
    if n == 0:
        return spark.createDataFrame(
            [], f"doc_id {dtype}, deg long, pr_u long, pr double"
        )
    deg = np.bincount(src_c, minlength=n).astype(np.int64)
    base = (PR_SCALE * (100 - damping_pct)) // (100 * n)
    pr = np.full(n, PR_SCALE // n, dtype=np.int64)
    for _ in range(iterations):
        contrib = (pr[src_c] * damping_pct) // (100 * deg[src_c])
        s = np.zeros(n, dtype=np.int64)
        np.add.at(s, dst_c, contrib)
        pr = base + s
    out = pd.DataFrame(
        {
            "doc_id": uniq,
            "deg": deg,
            "pr_u": pr,
            "pr": pr / float(PR_SCALE),
        }
    )
    return spark.createDataFrame(
        out, f"doc_id {dtype}, deg long, pr_u long, pr double"
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping_pct: int = 85,
    small_graph_edges: int | None = None,
) -> DataFrame:
    """Fixed-point PageRank over an undirected graph ->
    (doc_id, deg, pr_u, pr).

    Authority scoring for the near-dup graph: inside a duplicate entity
    the highest-PageRank member is the natural canonical survivor (the
    doc most corroborated by independent near-matches), and across the
    corpus high-PR hubs are the boilerplate/template attractors blocking
    diagnostics want surfaced first.

    Every quantity is a BIGINT in fixed-point units of ``1/PR_SCALE``:
    the power iteration ``v' = base + Σ_{u->v} (v_u * damping_pct) DIV
    (100 * deg(u))`` (with ``base = (PR_SCALE * (100 - damping_pct)) DIV
    (100 * N)``) uses only integer multiply / integer divide / integer
    sum, so the result is bit-identical on every engine and independent
    of partitioning and summation order — double-precision PageRank is
    neither (float sums commute but do not associate; groupBy order is
    nondeterministic). Truncation loses at most ``N * iterations`` units
    of total mass (~1e-9 relative at the defaults), far below any
    ranking-relevant difference. ``pr`` is the single exactly-rounded
    division ``pr_u / PR_SCALE`` for human consumption.

    Scale shape: ``iterations`` is a small constant (PageRank on
    near-dup graphs converges in a handful of rounds; node count inside
    one entity is tiny), each iteration is one slim (node, contrib)
    shuffle — map-side-combined integer sums, text never moves — and
    the undirected edge table and each iteration's rank frame are
    ``localCheckpoint``-ed, keeping lineage constant-depth. Undirected
    degree >= 1 by construction (every node arrives on an edge), so
    there are no dangling nodes.
    Overflow headroom: ``v <= PR_SCALE`` (mass is conserved minus
    truncation), so ``v * damping_pct <= 8.5e13`` ≪ 2^63.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be positive, got {iterations}")
    if not (0 < damping_pct < 100):
        raise ValueError(f"damping_pct must be in (0,100), got {damping_pct}")
    e = (
        edges.select(F.col("id1").alias("u"), F.col("id2").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    # counted small-graph fast path (same thresholds as CC: the driver
    # arrays cost ~32B/edge; values are bit-identical by construction)
    from pyspark.sql.types import StringType

    if small_graph_edges is None:
        small_graph_edges = (
            SMALL_GRAPH_EDGES_STR
            if isinstance(e.schema[0].dataType, StringType)
            else SMALL_GRAPH_EDGES
        )
    if small_graph_edges and e.count() <= small_graph_edges:
        return _pagerank_driver(e, iterations, damping_pct)
    und = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()
    deg = und.groupBy("u").agg(F.count("*").cast("long").alias("d"))
    nodes = und.select("u").distinct()
    nn = nodes.agg(F.count("*").cast("long").alias("_n"))
    base_num = PR_SCALE * (100 - damping_pct)
    pr = nodes.join(F.broadcast(nn)).select(
        "u", F.expr(f"CAST({PR_SCALE} DIV _n AS BIGINT)").alias("v")
    )
    for _ in range(iterations):
        # und's columns are (u, v) = (source, dest) and pr's value
        # column is also named v — rename pr's columns defensively
        contrib = (
            und.join(
                pr.select(F.col("u").alias("_pu"), F.col("v").alias("_pv")),
                F.col("u") == F.col("_pu"),
            )
            .join(deg.select(F.col("u"), F.col("d")), "u")
            .select(
                F.col("v").alias("node"),
                F.expr(f"CAST((_pv * {damping_pct}) DIV (100 * d) AS BIGINT)").alias(
                    "_c"
                ),
            )
        )
        summed = contrib.groupBy("node").agg(
            F.sum("_c").cast("long").alias("_s")
        )
        pr = (
            nodes.join(summed, nodes["u"] == summed["node"], "left")
            .join(F.broadcast(nn))
            .select(
                "u",
                (
                    F.expr(f"CAST({base_num} DIV (100 * _n) AS BIGINT)")
                    + F.coalesce(F.col("_s"), F.lit(0))
                ).cast("long").alias("v"),
            )
            .localCheckpoint()
        )
    return (
        pr.join(deg, "u")
        .select(
            F.col("u").alias("doc_id"),
            F.col("d").alias("deg"),
            F.col("v").alias("pr_u"),
            (F.col("v").cast("double") / F.lit(float(PR_SCALE))).alias("pr"),
        )
    )
