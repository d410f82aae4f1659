"""Thresholds + matching: the reference's mask/Hungarian re-expressed.

Thresholds (J2): the reference self-compares each dataset N² and takes the
row max (`/root/reference/src/pprl/embedder/embedder.py:115-135`). Here the
max runs over *blocked* self-candidates — exact whenever the most-similar
row shares a block (SURVEY.md §2.4 J2 documents the deviation; the F1 gate
validates it on labeled data). A plain groupBy-max: partial aggregation
map-side, tiny shuffle.

Matching (J3): the reference runs scipy's Hungarian algorithm over the
masked dense matrix (`embedder.py:280-284`). Two re-expressions:

- :func:`mutual_best_match` — rank-1-both-directions windowed greedy.
  Pure built-in window functions, fully scalable, and equivalent to the
  assignment optimum whenever best matches are mutually consistent (the
  overwhelming case for PPRL data; the F1 gate checks it).
- :func:`assignment_match_in_blocks` — exact optimal assignment per
  block via ``applyInPandas`` running a pure-Python Hungarian kernel
  (scipy is unavailable here; ``linear_sum_assignment`` semantics,
  maximize=True). Blocks are small after blocking, so exact assignment
  is affordable where the greedy tie-breaks matter.

Masking (P4): ``sim >= threshold_row + rel`` both sides plus the absolute
cutoff — the predicate form of `embedder.py:269-278`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pprl_spark.config import EmbedderConfig


def row_thresholds(self_candidates: DataFrame) -> DataFrame:
    """Per-doc threshold = max similarity to any *other* row of the same
    source (`embedder.py:115-135`: fill_diagonal(-inf) then row-max).

    Input: scored self-candidate pairs (id1 < id2). Both orientations of
    each pair contribute: id1's threshold sees id2 and vice versa.
    """
    both = self_candidates.select(F.col("id1").alias("doc_id"), "sim").unionAll(
        self_candidates.select(F.col("id2").alias("doc_id"), "sim")
    )
    return both.groupBy("doc_id").agg(F.max("sim").alias("thresholds"))


def apply_thresholds(
    candidates: DataFrame,
    thresholds1: DataFrame | None,
    thresholds2: DataFrame | None,
    config: EmbedderConfig,
    mode: str = "filter",
) -> DataFrame:
    """Mask candidate pairs below per-row thresholds / abs cutoff (P4).

    Semantics of `embedder.py:269-278`: a pair survives only if its sim
    is >= BOTH rows' thresholds (+rel_cutoff) and >= abs_cutoff. Missing
    thresholds (docs with no self-candidates) default to -inf, i.e. no
    constraint — matching the reference where every row has N-1 others.
    Threshold tables are small relative to the pair table; Spark's AQE
    broadcasts them when they fit.

    ``mode="filter"`` drops masked pairs (the scalable default).
    ``mode="flag"`` keeps them with a boolean ``masked`` column — needed
    for exact reference parity of the Hungarian path: the reference
    optimizes the assignment over the UNMASKED similarity matrix and only
    then discards masked assignments (`embedder.py:280-284`, scipy sees
    the raw data under the mask).
    """
    out = candidates
    keep = F.col("sim") >= F.lit(config.abs_cutoff)
    if thresholds1 is not None:
        t1 = thresholds1.select(F.col("doc_id").alias("id1"), F.col("thresholds").alias("_t1"))
        out = out.join(t1, "id1", "left")
        keep = keep & (
            F.col("_t1").isNull() | (F.col("sim") >= F.col("_t1") + F.lit(config.rel_cutoff))
        )
    if thresholds2 is not None:
        t2 = thresholds2.select(F.col("doc_id").alias("id2"), F.col("thresholds").alias("_t2"))
        out = out.join(t2, "id2", "left")
        keep = keep & (
            F.col("_t2").isNull() | (F.col("sim") >= F.col("_t2") + F.lit(config.rel_cutoff))
        )
    if mode == "flag":
        out = out.withColumn("masked", ~keep)
    else:
        out = out.where(keep)
    return out.drop("_t1", "_t2")


def jaro_winkler_scores(df: DataFrame, s1: str, s2: str) -> DataFrame:
    """``df`` with its string columns ``s1`` and ``s2`` replaced by their
    Jaro-Winkler similarity ``jw_sim`` (null when either side is null).

    The pure-Python Winkler kernel (``functions.similarity.jaro_winkler``,
    bit-parity with DuckDB's ``jaro_winkler_similarity``) runs via
    ``mapInPandas`` — one Arrow batch per task, a per-batch memo for
    repeated (s1, s2) pairs, no per-row Python in the driver.
    """
    from pyspark.sql import types as T

    from pprl_spark.functions.similarity import jaro_winkler

    schema = T.StructType(
        [f for f in df.schema.fields if f.name not in (s1, s2)]
        + [T.StructField("jw_sim", T.DoubleType())]
    )
    keep_cols = [f.name for f in schema.fields[:-1]]

    def kernel(batches):
        for pdf in batches:
            memo: dict = {}
            out = []
            for a, b in zip(pdf[s1], pdf[s2]):
                if a is None or b is None:
                    out.append(None)
                    continue
                key = (a, b)
                v = memo.get(key)
                if v is None:
                    v = jaro_winkler(a, b)
                    memo[key] = v
                out.append(v)
            yield pdf[keep_cols].assign(jw_sim=out)

    return df.mapInPandas(kernel, schema)


def jaro_winkler_rescore(
    pairs: DataFrame,
    docs1: DataFrame,
    docs2: DataFrame | None,
    field: str,
    weight: float | None = None,
) -> DataFrame:
    """Batched Jaro-Winkler scoring over candidate pairs (north star:
    "batched Dice/Jaro-Winkler similarity scoring over candidate pairs
    within salted-key partitions").

    Joins each side's ``field`` string (by ``doc_id``) onto the
    ``(id1, id2)`` pair table (two
    hash-joins on 8-byte-ish ids; the strings never appear in the blocked
    join itself) and scores with :func:`jaro_winkler_scores`.
    ``docs2=None`` means self-linkage (both sides drawn from ``docs1``).

    ``weight`` blends the JW score into ``sim`` in place:
    ``sim = (1-weight)*sim + weight*jw`` — the Bloom-set similarity
    carries the evidence from ALL fields while JW sharpens the named
    field (typically a name), which is how the reference's Dice+name
    pipelines combine signals. With ``weight=None`` the raw ``jw_sim``
    is appended and the caller combines.
    """
    s1 = docs1.select(F.col("doc_id").alias("id1"), F.col(field).alias("_jw_s1"))
    s2 = (docs2 if docs2 is not None else docs1).select(
        F.col("doc_id").alias("id2"), F.col(field).alias("_jw_s2")
    )
    scored = jaro_winkler_scores(pairs.join(s1, "id1").join(s2, "id2"), "_jw_s1", "_jw_s2")
    if weight is None:
        return scored
    blended = F.coalesce(
        (1.0 - weight) * F.col("sim") + weight * F.col("jw_sim"), F.col("sim")
    )
    return scored.withColumn("sim", blended).drop("jw_sim")


def mutual_best_match(
    candidates: DataFrame,
    rounds: int = 1,
    self_linkage: bool = False,
    order_cols: tuple[str, ...] = ("sim",),
) -> DataFrame:
    """Keep pairs that are each other's best candidate (rank 1 both ways).

    Deterministic tie-break on the partner id keeps re-runs byte-stable.
    The input must carry ONE row per (id1, id2) pair (every upstream
    generator dedupes — ``generate_candidates`` groupBy, the scored-pair
    memo).

    ``self_linkage=False`` (two-dataset linkage): id1 and id2 are disjoint
    namespaces (one per party) and the per-side rank-1 selections
    guarantee one-to-one within each namespace. ``self_linkage=True``
    (dedup pairs with ``id1 < id2`` inside ONE table): the namespaces are
    the same, so per-side selections would let a document be kept as id1
    in one pair and id2 in another; instead the pair table is symmetrized,
    each document's single best partner is computed over BOTH
    orientations, and a pair survives only if the two partners pick each
    other — globally one-to-one over the single namespace. Residual
    rounds remove matched documents from both columns.

    Rank 1 per side comes from two ranking windows over one scan: two
    exchanges + sorts of the pair table, and they are the ONLY passes.
    Aggregate narrowing that never exchanges the pair table measured
    slower at every configuration tried (sf0.1, 7.9M pairs: 3.0s vs
    1.3s; OPTIMIZATION_r06.md).

    ``rounds > 1`` re-runs the ranking on the residual pairs after
    removing matched documents — the distributed analog of greedy
    assignment by descending similarity, converging toward the Hungarian
    solution on chain conflicts (a's best taken by someone better).
    """

    def one_round(cand: DataFrame) -> DataFrame:
        ob = [F.desc(c) for c in order_cols]
        w1 = Window.partitionBy("id1").orderBy(*ob, F.asc("id2"))
        w2 = Window.partitionBy("id2").orderBy(*ob, F.asc("id1"))
        return (
            cand.withColumn("_r1", F.row_number().over(w1))
            .withColumn("_r2", F.row_number().over(w2))
            .where((F.col("_r1") == 1) & (F.col("_r2") == 1))
            .drop("_r1", "_r2")
        )

    def one_round_self(cand: DataFrame) -> DataFrame:
        # symmetrize, rank each doc's best partner over BOTH orientations,
        # then keep original-orientation pairs whose partners are mutual
        sym = cand.select("id1", "id2", *order_cols).unionByName(
            cand.select(
                F.col("id2").alias("id1"), F.col("id1").alias("id2"), *order_cols
            )
        )
        w = Window.partitionBy("id1").orderBy(
            *[F.desc(c) for c in order_cols], F.asc("id2")
        )
        best = (
            sym.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") == 1)
            .select(F.col("id1").alias("_doc"), F.col("id2").alias("_partner"))
        )
        b1 = best.select(F.col("_doc").alias("id1"), F.col("_partner").alias("id2"))
        b2 = best.select(F.col("_partner").alias("id1"), F.col("_doc").alias("id2"))
        return cand.join(b1, ["id1", "id2"], "left_semi").join(
            b2, ["id1", "id2"], "left_semi"
        )

    def residual(cand: DataFrame, matched: DataFrame) -> DataFrame:
        if self_linkage:
            # one namespace: a doc matched on EITHER side is out of play
            done = matched.select(F.col("id1").alias("_id")).unionByName(
                matched.select(F.col("id2").alias("_id"))
            ).distinct()
            return cand.join(
                done.select(F.col("_id").alias("id1")), "id1", "left_anti"
            ).join(done.select(F.col("_id").alias("id2")), "id2", "left_anti")
        return cand.join(
            matched.select("id1").distinct(), "id1", "left_anti"
        ).join(matched.select("id2").distinct(), "id2", "left_anti")

    select_round = one_round_self if self_linkage else one_round
    # multi-reference shapes (self-linkage symmetrize, residual rounds)
    # re-scan the pair table several times; without a localCheckpoint
    # Catalyst re-runs the upstream blocked-join lineage once per
    # reference and the logical plan grows multiplicatively per round.
    # The single-round two-party window path references the table
    # exactly once, so it skips the checkpoint.
    if self_linkage or rounds > 1:
        candidates = candidates.localCheckpoint()
    matched = select_round(candidates)
    remaining = candidates
    for _ in range(rounds - 1):
        matched = matched.localCheckpoint()
        remaining = residual(remaining, matched).localCheckpoint()
        nxt = select_round(remaining)
        matched = matched.unionByName(nxt)
    return matched


# ---------------------------------------------------------------------------
# Exact per-block assignment (Hungarian) — pure-Python kernel + applyInPandas
# ---------------------------------------------------------------------------


def _hungarian_max(sim: "list[list[float]]") -> list[tuple[int, int]]:
    """Maximum-weight one-to-one assignment (Jonker-style O(n³) shortest
    augmenting path algorithm on the rectangular cost matrix).

    Same contract as ``scipy.optimize.linear_sum_assignment(S,
    maximize=True)`` used by the reference (`embedder.py:282`): every row
    of the smaller side is assigned. Caller filters masked entries after.
    """
    import math

    n, m = len(sim), len(sim[0]) if sim else 0
    transposed = n > m
    if transposed:
        sim = [[sim[i][j] for i in range(n)] for j in range(m)]
        n, m = m, n
    # convert to min-cost with non-negative entries
    big = max((max(r) for r in sim), default=0.0)
    cost = [[big - v for v in row] for row in sim]

    INF = math.inf
    u = [0.0] * (n + 1)
    v = [0.0] * (m + 1)
    p = [0] * (m + 1)  # p[j] = row assigned to column j (1-based)
    way = [0] * (m + 1)
    for i in range(1, n + 1):
        p[0] = i
        j0 = 0
        minv = [INF] * (m + 1)
        used = [False] * (m + 1)
        while True:
            used[j0] = True
            i0, delta, j1 = p[j0], INF, 0
            for j in range(1, m + 1):
                if not used[j]:
                    cur = cost[i0 - 1][j - 1] - u[i0] - v[j]
                    if cur < minv[j]:
                        minv[j] = cur
                        way[j] = j0
                    if minv[j] < delta:
                        delta = minv[j]
                        j1 = j
            for j in range(m + 1):
                if used[j]:
                    u[p[j]] += delta
                    v[j] -= delta
                else:
                    minv[j] -= delta
            j0 = j1
            if p[j0] == 0:
                break
        while j0:
            j1 = way[j0]
            p[j0] = p[j1]
            j0 = j1
    pairs = [(p[j] - 1, j - 1) for j in range(1, m + 1) if p[j] != 0]
    if transposed:
        pairs = [(j, i) for i, j in pairs]
    return pairs


def assignment_match_in_blocks(candidates: DataFrame, self_linkage: bool = False) -> DataFrame:
    """Exact optimal assignment within each block via applyInPandas.

    Groups the scored pair table by ``block_key``; inside each (small)
    block, densifies the local similarity matrix and runs the Hungarian
    kernel, exactly as the reference does globally (`embedder.py:280-284`)
    — blocking makes "globally" affordable. Pairs absent from the
    candidate table score −inf for the optimizer and are never returned.

    A document's candidate pairs can span several blocks, so per-block
    solves may assign the same document twice — violating the reference's
    global one-to-one contract (`embedder.py:282`). So the per-block
    assignments are collapsed (max-sim per pair) and passed through
    three rounds of greedy mutual-best selection: each round's output is
    one-to-one by construction and later rounds only see documents
    unmatched so far, so the final output is GUARANTEED globally
    one-to-one — safe to chain into ``add_private_index``. Within a block
    the solution stays Hungarian-optimal; across blocks it is greedy.

    ``self_linkage`` matters for the guarantee: with pairs drawn from ONE
    table (``id1 < id2``), pass True so the conflict resolution treats the
    two id columns as a single namespace (see ``mutual_best_match``) —
    with the default two-party semantics a document could otherwise
    survive once as id1 and once as id2.

    If a boolean ``masked`` column is present (``apply_thresholds`` with
    ``mode="flag"``), the optimizer sees the raw sims and masked
    assignments are dropped AFTER optimization — byte-parity with the
    reference, where scipy optimizes the underlying data of the masked
    array and the mask filters the result (`embedder.py:282-284`).
    """
    import pandas as pd

    if "block_key" not in candidates.columns and "block_key_hash" in candidates.columns:
        # generate_candidates emits hashed-key provenance; the per-block
        # grouping semantics are identical under the hash
        candidates = candidates.withColumn(
            "block_key", F.col("block_key_hash").cast("string")
        ).drop("block_key_hash")
    has_mask = "masked" in candidates.columns

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        ids1 = {x: i for i, x in enumerate(sorted(pdf["id1"].unique()))}
        ids2 = {x: i for i, x in enumerate(sorted(pdf["id2"].unique()))}
        NEG = -1e18
        mat = [[NEG] * len(ids2) for _ in range(len(ids1))]
        masked = set()
        for r in pdf.itertuples(index=False):
            mat[ids1[r.id1]][ids2[r.id2]] = r.sim
            if has_mask and r.masked:
                masked.add((ids1[r.id1], ids2[r.id2]))
        picked = _hungarian_max(mat)
        rev1 = {v: k for k, v in ids1.items()}
        rev2 = {v: k for k, v in ids2.items()}
        rows = [
            (rev1[i], rev2[j], mat[i][j], pdf["block_key"].iloc[0])
            for i, j in picked
            if mat[i][j] > NEG / 2 and (i, j) not in masked
        ]
        return pd.DataFrame(rows, columns=["id1", "id2", "sim", "block_key"])

    solved = candidates.groupBy("block_key").applyInPandas(
        solve, schema="id1 string, id2 string, sim double, block_key string"
    )
    deduped = solved.groupBy("id1", "id2").agg(
        F.max("sim").alias("sim"), F.min("block_key").alias("block_key")
    )
    return mutual_best_match(deduped, rounds=3, self_linkage=self_linkage)
