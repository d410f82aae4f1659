"""Soft Cosine Measure training + trained-matrix scoring.

Training (A3/A4): the reference scatter-adds the per-row cross-product of
Bloom indices from two aligned matched datasets into a (B×B) float32
joint-frequency matrix, repeats on a shuffled alignment for the negative
class, and sets ``scm = PSD(log(Fm+eps) - log(Fu+eps))``
(`/root/reference/src/pprl/embedder/embedder.py:530-645`,
``nearest_pos_semi_definite`` `embedder.py:712-739`).

Spark mapping (SURVEY.md §2.5 A3): the per-row index cross-product is an
``explode × explode`` + ``groupBy(i, j).count()`` — fully distributed;
only the aggregated sparse counts (≤ B² = ~1M cells, a few MB) come to
the driver, where the small-matrix algebra runs in numpy exactly as the
reference does. Negatives come from a seeded derangement-by-sort instead
of ``pd.Series.sample`` (`embedder.py:623`).

Scoring with a trained matrix (:func:`soft_cosine_pairs_native`):
``x1ᵀ A x2 / (n1·n2)`` per pair from sparse indices — the trained-path
analog of the native ``array_intersect`` cosine. Python (a mapInPandas
kernel) runs once per DOCUMENT to project its indices through ``A``;
the per-pair gather and sum are JVM expressions.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pprl_spark.config import EmbedderConfig

# Counted fast-path bound for driver-side joint-frequency scatter-adds:
# ~3KB of index lists per training row (~60MB at the limit) plus two
# B x B int64 accumulators (16MB at B=1024). Above it the distributed
# explode x explode aggregation runs unchanged.
SCM_DRIVER_ROWS = 20_000
# Reference training constants (embedder.py:631-639).
SCM_LEARNING_RATE = 1.0
SCM_EPS = 0.01


def nearest_pos_semi_definite(X: np.ndarray, eps: float = 0.0) -> np.ndarray:
    """Eigenvalue clipping — semantics of embedder.py:712-739."""
    C = (X + X.T) / 2
    # eigh, not eig: C is symmetric by construction — real-valued and ~10x
    # faster than the general eigensolver at B=1024
    eigval, eigvec = np.linalg.eigh(C)
    eigval[eigval < 0] = eps
    return eigvec.dot(np.diag(eigval)).dot(eigvec.T)


def joint_freq_counts(pairs: DataFrame) -> DataFrame:
    """(i, j, n): distributed analog of _joint_freq_matrix scatter-add
    (embedder.py:550-559) over aligned (bf_indices_1, bf_indices_2) rows.
    """
    return (
        pairs.select(
            F.explode("bf_indices_1").alias("i"), F.col("bf_indices_2")
        )
        .select("i", F.explode("bf_indices_2").alias("j"))
        .groupBy("i", "j")
        .count()
        .withColumnRenamed("count", "n")
    )


def _counts_to_matrix(counts: DataFrame, size: int) -> np.ndarray:
    S = np.zeros((size, size), dtype=np.float32)
    # Arrow batch + vectorized scatter-add: <= size^2 cells (typically
    # ~1e5-1e6) arrive as three numpy columns, not per-row Row objects
    pdf = counts.toPandas()
    np.add.at(S, (pdf["i"].to_numpy(), pdf["j"].to_numpy()), pdf["n"].to_numpy())
    return (S + S.T) / 2  # symmetrize (embedder.py:562)


def train_scm(
    aligned: DataFrame,
    config: EmbedderConfig,
    seed: int = 42,
    prior_matched: np.ndarray | None = None,
    prior_unmatched: np.ndarray | None = None,
    driver_rows: int | None = None,
) -> dict[str, np.ndarray]:
    """Train the SCM from aligned matched pairs.

    ``aligned``: (bf_indices_1, bf_indices_2) — one row per known match.
    Returns dict with scm/freq_matr_matched/freq_matr_unmatched, mirroring
    the Embedder attributes (embedder.py:318-326). Cumulative training =
    pass the previous freq matrices as priors (embedder.py:631-636).
    """
    from pprl_spark.operators.private_index import _numbered

    size = config.bf_size + config.offset
    # Seeded alignment WITHOUT a global window: the training set is the
    # mutual-best match set, which grows linearly with the corpus — a
    # single-task Window.orderBy sort here would bottleneck at 100x. The
    # range-partitioned zipWithIndex (_numbered, range_by=True) computes
    # the identical global rank by the same xxhash64 key distributively,
    # so the seeded-shuffle semantics (embedder.py:623) and the trained
    # matrix are unchanged.
    aligned = aligned.select("bf_indices_1", "bf_indices_2").localCheckpoint()
    n_train = aligned.count()
    if driver_rows is None:
        driver_rows = SCM_DRIVER_ROWS

    if n_train <= driver_rows:
        # Counted small-training fast path: collect the aligned index
        # arrays (bounded: <= SCM_DRIVER_ROWS rows x ~2*num_indices ints)
        # and scatter-add the two joint-frequency matrices on the driver —
        # the reference's own _joint_freq_matrix shape — instead of two
        # explode x explode shuffles whose ~|pairs|*|ix|^2 rows dwarf the
        # training set (measured 2.6s -> ~0.2s at sf0.1's 865 rows).
        # Values are identical: per-cell totals are exact integers either
        # way (int64 accumulate -> float32 == float32(count)), and the
        # seeded derangement is reproduced from the same xxhash64 keys
        # (rank order; ties only arise from identical index arrays, where
        # either order pairs the same values).
        pdf = aligned.select(
            "bf_indices_1",
            "bf_indices_2",
            F.xxhash64("bf_indices_1", F.lit(seed)).alias("_h1"),
            F.xxhash64("bf_indices_2", F.lit(seed + 1)).alias("_h2"),
        ).toPandas()
        Sm = np.zeros((size, size), dtype=np.int64)
        Su = np.zeros((size, size), dtype=np.int64)
        ix1 = [np.asarray(a) for a in pdf["bf_indices_1"]]
        ix2 = [np.asarray(a) for a in pdf["bf_indices_2"]]
        for a, b in zip(ix1, ix2):
            if len(a) and len(b):
                Sm[np.ix_(a, b)] += 1
        order1 = np.argsort(pdf["_h1"].to_numpy(), kind="stable")
        order2 = np.argsort(pdf["_h2"].to_numpy(), kind="stable")
        for r1, r2 in zip(order1, order2):
            a, b = ix1[r1], ix2[r2]
            if len(a) and len(b):
                Su[np.ix_(a, b)] += 1
        Fm = Sm.astype(np.float32)
        Fm = (Fm + Fm.T) / 2
        Fu = Su.astype(np.float32)
        Fu = (Fu + Fu.T) / 2
    else:
        numbered, _ = _numbered(
            aligned.select(
                "bf_indices_1",
                "bf_indices_2",
                F.xxhash64("bf_indices_1", F.lit(seed)).alias("_h1"),
            ),
            "_h1",
            offset=0,
            range_by=True,
        )
        numbered = numbered.select(
            "bf_indices_1", "bf_indices_2", F.col("slot").alias("rn")
        )
        # seeded shuffle of side 2 against side 1 (negative class,
        # embedder.py:623)
        shuffled2, _ = _numbered(
            aligned.select(
                "bf_indices_2",
                F.xxhash64("bf_indices_2", F.lit(seed + 1)).alias("_h2"),
            ),
            "_h2",
            offset=0,
            range_by=True,
        )
        shuffled2 = shuffled2.select("bf_indices_2", F.col("slot").alias("rn"))
        jumbled = numbered.drop("bf_indices_2").join(shuffled2, "rn")
        Fm = _counts_to_matrix(joint_freq_counts(numbered), size)
        Fu = _counts_to_matrix(joint_freq_counts(jumbled), size)

    eye = np.eye(size, dtype=np.float32)
    fm = (prior_matched if prior_matched is not None else eye) + SCM_LEARNING_RATE * Fm
    fu = (prior_unmatched if prior_unmatched is not None else eye) + SCM_LEARNING_RATE * Fu

    scm = np.log(fm + SCM_EPS) - np.log(fu + SCM_EPS)  # embedder.py:639
    scm = nearest_pos_semi_definite(scm, eps=1e-6)  # embedder.py:643
    return {"scm": scm, "freq_matr_matched": fm, "freq_matr_unmatched": fu}


def scm_to_sparse(scm: np.ndarray) -> "pd.DataFrame":
    """Dense SCM -> (i, j, val) float64 triples of the non-zero cells.

    The on-disk interchange format: small enough to commit as a fixture
    (B² ≈ 1M rows at B=1024) and directly queryable by any SQL engine for
    oracle-side reproduction of the quadratic form x1ᵀ A x2.
    """
    ii, jj = np.nonzero(scm)
    return pd.DataFrame(
        {"i": ii.astype(np.int32), "j": jj.astype(np.int32), "val": scm[ii, jj].astype(np.float64)}
    )


def save_scm(scm: np.ndarray, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(scm_to_sparse(scm)), path)


def load_scm(path: str, size: int) -> np.ndarray:
    """Sparse parquet triples -> dense float64 matrix (float64 on purpose:
    the scorer's per-pair sums must agree with a SQL oracle summing doubles
    to 6 decimal places; float32 accumulation drifts past that)."""
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    A = np.zeros((size, size), dtype=np.float64)
    A[t["i"].to_numpy(), t["j"].to_numpy()] = t["val"].to_numpy()
    return A


def scm_projections(docs: DataFrame, scm: np.ndarray) -> DataFrame:
    """(doc_id, scm_proj array<double>, scm_norm double): per-DOC trained-SCM
    precomputation.

    ``scm_proj[j] = sum_{i in ix} A[i, j]`` — the projected row of the
    quadratic form — and ``scm_norm = sqrt(proj[ix].sum())``. Python cost
    is |docs| rows (one B-vector each), NOT |pairs|: pair scoring becomes
    a pure-JVM gather (:func:`soft_cosine_score_col`), which is the shape
    that survives 10^12 candidate pairs.
    """
    A = np.asarray(scm, dtype=np.float64)
    id_field = docs.schema["doc_id"]
    schema = T.StructType(
        [id_field, T.StructField("scm_proj", T.ArrayType(T.DoubleType())),
         T.StructField("scm_norm", T.DoubleType())]
    )

    def kernel(batches):
        for pdf in batches:
            projs, norms = [], []
            for ix in pdf["bf_indices"]:
                ia = np.asarray(ix)
                p = A[ia].sum(axis=0)
                projs.append(p)
                norms.append(float(np.sqrt(p[ia].sum())))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "scm_proj": projs, "scm_norm": norms})

    return docs.select("doc_id", "bf_indices").mapInPandas(kernel, schema)


def soft_cosine_score_col(proj1: Column, indices2: Column, norm1: Column, norm2: Column) -> Column:
    """JVM-side soft cosine from a precomputed projection:
    ``sum_j proj1[ix2_j] / (norm1 * norm2)`` — codegen'd gather+sum, no
    Python in the per-pair hot path."""
    # one fused fold (gather inside the aggregate lambda) instead of
    # transform-then-aggregate: same cells in the same left-fold order —
    # identical float64 sums — minus the intermediate gathered array and
    # one interpreted HOF layer per pair
    num = F.aggregate(
        indices2,
        F.lit(0.0),
        lambda acc, j: acc + F.element_at(proj1, j + 1),
    )
    denom = norm1 * norm2
    return F.when(denom > 0, num / denom)


def soft_cosine_pairs_native(
    pairs: DataFrame,
    emb1: DataFrame,
    emb2: DataFrame,
    scm: np.ndarray,
    out_col: str = "sim",
) -> DataFrame:
    """Score (id1, id2) pairs with a trained SCM, Python-per-doc only.

    ``emb1``/``emb2``: frames with (doc_id, bf_indices). The projection
    tables are doc-sized (broadcastable: B doubles per doc); the pair
    table never moves through Python. Sums are float64 throughout, so
    oracle parity holds to 6 decimals.
    """
    # Broadcast of p1 is GATED, never unconditional: it carries a B-length
    # double array (~8KB at B=1024) PER DOCUMENT of emb1 — corpus-sized
    # (~800MB at 100k docs), exactly the driver-OOM shape candidates.py
    # guards against. One count action on the (materialized) emb1 bounds
    # the relation; inside the shared broadcast budget
    # (``candidates.broadcast_fits``) the broadcast join wins (measured 5x
    # on the sf0.1 driver suite), above it the join falls to AQE's shuffle
    # strategy and the projections flow executor-to-executor.
    from pprl_spark.operators.candidates import broadcast_fits

    est_bytes = emb1.count() * (8 * scm.shape[0] + 64)
    fits = broadcast_fits(pairs.sparkSession, est_bytes)
    p1 = scm_projections(emb1, scm).select(
        F.col("doc_id").alias("id1"),
        F.col("scm_proj").alias("_p1"),
        F.col("scm_norm").alias("_n1"),
    )
    n2 = scm_projections(emb2, scm).select(
        F.col("doc_id").alias("id2"), F.col("scm_norm").alias("_n2")
    )
    if fits:
        p1, n2 = F.broadcast(p1), F.broadcast(n2)
    ix2 = emb2.select(F.col("doc_id").alias("id2"), F.col("bf_indices").alias("_ix2"))
    out = (
        pairs.join(ix2, "id2")
        .join(p1, "id1")
        .join(n2, "id2")
        .withColumn(out_col, soft_cosine_score_col(F.col("_p1"), F.col("_ix2"), F.col("_n1"), F.col("_n2")))
    )
    return out.drop("_p1", "_n1", "_n2", "_ix2")

